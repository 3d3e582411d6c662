package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.Exact
import graft.sources.Tables

/** Text analysis + JSON extraction over the `documents` / `events` tables —
  * the training-data-pipeline surface (token counting, quality scoring,
  * language ID, fingerprinting, term frequency).
  *
  * All per-document computation is narrow (no shuffle) and codegen'd; the
  * only shuffles are final aggregations (term frequency), which do map-side
  * partial aggregation first. At 100 TB each of these runs as a single scan
  * stage.
  */
object TextQueries {

  /** Oracle fragment: sum over the (xN x yN) grid of one image's channel
    * formula `(doc_id*cId + sx*cX + sy*cY) % 256`, as nested DuckDB list
    * lambdas. `sx`/`sy` are expressions in the lambda vars (identity for
    * decode; the integer source-index map for resize). */
  private def pixelSumSql(sx: String, sy: String, cId: Int, cX: Int, cY: Int,
                          xVar: String = "x", yVar: String = "y",
                          xN: String = "w", yN: String = "h"): String =
    s"""CAST(list_sum(list_transform(range($yN), $yVar ->
       |    list_sum(list_transform(range($xN), $xVar ->
       |      (doc_id*$cId + $sx*$cX + $sy*$cY) % 256)))) AS BIGINT)""".stripMargin

  /** Shared tail of the data-mixing queries: apply a per-key rate
    * relation through the deterministic portable-hash sampler and report
    * (key, n_total, n_kept, rate). Both mixing strategies and both
    * DuckDB oracles mirror this one sampler — the 1e6 fixed-point rate
    * resolution and the floor/cast live here exactly once. The rate
    * relation has one row per key and carries no broadcast hint: Catalyst
    * broadcasts it when its size estimate is small, and otherwise AQE
    * converts the join once the #keys-row stage has run
    * (HintIsolationSpec pins the hint-free plan). */
  private def hashMixKept(docs: DataFrame, key: String, rates: DataFrame): DataFrame = {
    val h = pmod(graft.functions.PortableHash.hash60(
      col("doc_id").cast("string")), lit(1000000L))
    docs.join(rates, key)
      .groupBy(key)
      .agg(max(col("n_total")).as("n_total"),
           sum(when(h < floor(col("rate") * 1000000.0).cast("long"), 1L)
             .otherwise(0L)).as("n_kept"),
           max(col("rate")).as("rate"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting per document (narrow, zero shuffle).
    "q_text_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          nTokens(col("text")).cast("long").as("n_tokens"),
          nDistinctTokens(col("text")).cast("long").as("n_distinct"),
          col("n_chars"))),

    // Quality scoring: mean token length + stopword ratio, exact ratios.
    "q_text_quality" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          meanTokenLen(col("text")).as("mean_token_len"),
          stopwordRatio(col("text")).as("stop_ratio"),
          (col("n_chars").cast("double") / nTokens(col("text"))).as("chars_per_token"))),

    // Language ID heuristic (stopword-hit argmax), compared against the
    // labeled lang column. The per-language scores are PROJECTED FIRST and
    // the argmax computed over those attribute references: the one-shot
    // `langId` expression re-evaluates each interpreted stopword-count HOF
    // up to ~7x per row (once in `best`, again per CASE branch —
    // interpreted HOFs get no subexpression elimination). CollapseProject
    // keeps the stage split because the scores are referenced repeatedly.
    "q_text_langid" -> ((s, dir) => {
      val langs = graft.functions.TextFunctions.Stopwords.toSeq.sortBy(_._1)
      val scored = Tables.documents(s, dir)
        .select(col("doc_id") +: col("lang") +:
          langs.map { case (l, ws) => stopwordCount(col("text"), ws).as(s"s_$l") }: _*)
      val best = langs.map(l => col(s"s_${l._1}")).reduce(greatest(_, _))
      val pred = when(best === 0, lit("und")).otherwise(
        langs.foldRight(lit("und"): org.apache.spark.sql.Column) {
          case ((l, _), acc) => when(col(s"s_$l") === best, lit(l)).otherwise(acc)
        })
      scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"))
    }),

    // Rolling-hash fingerprint per doc (the dedup-ready signature).
    "q_text_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))),

    // BPE-style pre-tokenization count: the regex token count (letter runs /
    // digit runs / punctuation runs, optional leading space) that LLM data
    // pipelines budget sequence lengths with — vs the whitespace count.
    // Narrow, codegen'd, runs at the scan.
    "q_text_tokens_bpe" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), lit(0)))
            .cast("long").as("n_bpe_tokens"),
          nTokens(col("text")).cast("long").as("n_ws_tokens"))),

    // TOKENIZER FERTILITY per language (round 11): BPE tokens per
    // whitespace word — THE tokenizer-efficiency metric a multilingual
    // training mix is budgeted with (a language whose fertility is 2x
    // pays 2x the context window per word; mixes and pack budgets key
    // off this number). Both counts ride the real merge-table BPE codegen
    // expression in ONE narrow aggregate scan; the ratio is a single
    // IEEE division of two exact longs, bit-portable.
    "q_text_bpe_fertility" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          sum(graft.functions.expressions.BpeCountExpression
            .bpe_count(col("text")).cast("long")).as("n_bpe"),
          sum(nTokens(col("text")).cast("long")).as("n_ws"))
        .select(col("lang"), col("n_bpe"), col("n_ws"),
          (col("n_bpe").cast("double") / col("n_ws").cast("double"))
            .as("fertility"))),

    // REAL BPE tokenization: the full merge-table algorithm (rank-priority
    // pair merging per pre-token, graft.functions.Bpe) as one codegen
    // expression at the scan — the actual token-budget currency, vs the
    // pre-tokenizer approximation above. The oracle replays the merge
    // table as a rank-ordered replace() chain: an independent formulation
    // with the same fixpoint (equivalence argument in Bpe.scala).
    "q_text_tokens_bpe_real" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          graft.functions.expressions.BpeCountExpression.bpe_count(col("text"))
            .as("n_tokens_bpe"),
          size(regexp_extract_all(col("text"),
              lit(graft.functions.Bpe.PreTokenRegex), lit(0)))
            .cast("long").as("n_pretokens"))),

    // REAL BPE ENCODE: the token SEQUENCE itself (every token's surface
    // followed by Bpe.Sep, pre-tokens in order) — what a tokenization
    // pass actually ships downstream, vs the count above. One codegen
    // static call per document at the scan, zero shuffle; the oracle
    // replays the identical merge chain then inserts the separator after
    // every surviving symbol before expanding symbols back to surfaces.
    // A Sep-joined STRING rather than an array because the driver's
    // compare sorts rows by every column (arrays don't sort); stripping
    // the separators reproduces the input text on this corpus, a
    // BpeSpec-pinned invariant.
    "q_bpe_encode" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          graft.functions.expressions.BpeEncodeExpression.bpe_encode(col("text"))
            .as("tokens_str"),
          graft.functions.expressions.BpeCountExpression.bpe_count(col("text"))
            .as("n_tokens_bpe"))),

    // BPE merge-table TRAINING on the corpus itself (Sennrich et al.
    // 2016) — the other half of the tokenization story beside applying a
    // table (operators.BpeTrain): one corpus-sized pre-token frequency
    // aggregate, then 24 rounds over the vocabulary-sized dictionary,
    // each one pair-count aggregate + a one-row argmax to the driver.
    // Training is eager by nature, so this query's cost includes it
    // (the q_sim_ivf_kmeans rule); the oracle unrolls the rounds as CTEs
    // over the identical wrapped-string merge state.
    "q_bpe_train" -> ((s, dir) =>
      graft.operators.BpeTrain.train(Tables.documents(s, dir), "text")),

    // The SCALABLE twin of q_bpe_train (the q_pack_bins_scalable device:
    // same DuckDB oracle): the merge loop is inherently sequential, but
    // it only reads the vocabulary-sized pre-token dictionary — so ONE
    // corpus-sized aggregate + a bounded top-frequency collect (the
    // centroid/codebook rule), then the loop runs driver-local with
    // incremental pair counts: 1 Spark job instead of one per merge,
    // which is what makes a real 30k-merge vocabulary trainable.
    // Bit-identical to the distributed rounds below the dictionary cap
    // (BpeTrainSpec pins it on the fixture; batched top-m per round was
    // rejected on MEASURED grounds — it diverges from the sequential
    // oracle at merge rank 2, see BpeTrain doc + SCALE.md).
    "q_bpe_train_scalable" -> ((s, dir) =>
      graft.operators.BpeTrain.trainScalable(Tables.documents(s, dir), "text")),

    // The END-TO-END tokenizer artifact chain, serving side (round-10
    // verdict item 3): encode the corpus under the TRAINED vocabulary
    // read from the persisted merge table (BpeVocab — trained once per
    // tokenizer release by the scalable trainer, |merges| rows of model
    // state), applied per pre-token by replaying the stored rules in
    // rank order (graft.functions.BpeDyn, carried into whole-stage
    // codegen as a constant object — the PQ-codebook pattern). The
    // oracle independently re-trains in CTEs and serves each document's
    // pre-tokens from the trained dictionary's FINAL state — train and
    // apply verified together, end to end, in one hash compare.
    "q_bpe_encode_indexed" -> ((s, dir) => {
      val rules = graft.operators.BpeVocab.mergesFor(s, dir)
      import graft.functions.expressions.BpeDynExpressions._
      Tables.documents(s, dir).select(
        col("doc_id"),
        bpe_encode_dyn(col("text"), rules).as("tokens_str"),
        bpe_count_dyn(col("text"), rules).as("n_tokens_bpe"))
    }),

    // Packing in the TRAINED-vocabulary token currency — the pack twin
    // of the artifact chain: the budget counts tokens under the stored
    // merge table (what "2048 tokens" means once a tokenizer is
    // released), on the regime-dispatched assignment plan. Training is
    // amortized out of the packing pass entirely: the counter costs one
    // 24-row table read at construction.
    "q_pack_bins_bpe_indexed" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      val rules = graft.operators.BpeVocab.mergesFor(s, dir)
      Tables.documents(s, dir).packedBinsAuto("lang", binTokens = 2048,
        tokenCount = c =>
          graft.functions.expressions.BpeDynExpressions.bpe_count_dyn(c, rules))
    }),

    // Corpus term frequency: explode tokens -> count per term. Map-side
    // partial agg bounds the shuffle at vocabulary size, not corpus size.
    "q_text_termfreq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("cnt"))),

    // The declared 100 TB path beside q_text_termfreq: SpaceSaving top-k
    // heavy hitters with CONSTANT state (64 counters) per group, where
    // the exact formulation shuffles the whole vocabulary. Third member
    // of the bounded-state sketch trio (approx_percentile, HLL++
    // distinct, and this — the one Spark has no built-in for, so it is a
    // custom TypedImperativeAggregate with map-side partial sketches and
    // mergeable-summaries combine). No DuckDB oracle — the counter state
    // is arrival-order-dependent — so the driver records a rows-only
    // check and SketchSpec asserts the sketch's order-independent
    // guarantees (overestimate + error bounds vs exact counts, heavy-
    // hitter coverage) instead.
    "q_approx_top_terms" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("term"))
        .agg(graft.functions.expressions.SpaceSavingAggregate
          .space_saving_topk(col("term"), capacity = 64, k = 20).as("tops"))
        .select(posexplode(col("tops")).as(Seq("pos", "e")))
        .select((col("pos") + 1).cast("long").as("rank"),
                col("e.term").as("term"), col("e.cnt").as("cnt"),
                col("e.err").as("err"))),

    // Training-data curation filter: the keep/drop decision every corpus
    // pipeline ends with, composed from the quality metrics (narrow,
    // codegen'd, runs at the scan at any scale).
    "q_quality_filter" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_tokens", nTokens(col("text")))
        .withColumn("distinct_ratio",
          nDistinctTokens(col("text")).cast("double") / col("n_tokens"))
        .withColumn("chars_per_token", col("n_chars").cast("double") / col("n_tokens"))
        .filter(col("n_tokens").between(20, 90) &&
                col("distinct_ratio") >= 0.2 &&
                col("chars_per_token") >= 3.0)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
                col("distinct_ratio"))),

    // The end-to-end curation pipeline every training corpus runs: quality
    // gate -> exact dedup (deterministic min-id survivor) -> per-language
    // token budget. One narrow scan + two shuffles (text groupBy, lang
    // agg); at 100 TB the quality gate runs at the scan and the text
    // groupBy keys by content hash.
    "q_curation_pipeline" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      val kept = Tables.documents(s, dir)
        .qualityFiltered()
        .withColumn("n_tokens", nTokens(col("text")))
      kept.groupBy("text")
        .agg(min(struct(col("doc_id"), col("lang"), col("n_tokens"))).as("c"))
        .select(col("c.lang").as("lang"), col("c.n_tokens").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens").cast("long")).as("total_tokens"))
    }),

    // Multimodal plumbing: byte-level stats over the opaque-binary media
    // table. The image path decodes for real (ImageIO PNG decode +
    // nearest-neighbor resample — operators.Multimodal; q_multimodal_
    // decode/resize hash-check it); only the synthetic fixture's
    // audio/video payloads are text-as-bytes stand-ins.
    "q_multimodal_bytes" -> ((s, dir) =>
      graft.operators.Multimodal.byteStats(s, dir)),

    // Deterministic STRATIFIED sample: per-language rates via the portable
    // hash (en 20%, de 50%, rest 10%) — the eval-slice construction for a
    // multilingual corpus, reproducible across engines and runs.
    "q_sample_stratified" -> ((s, dir) => {
      val h = pmod(graft.functions.PortableHash.hash60(
        col("doc_id").cast("string")), lit(100L))
      Tables.documents(s, dir)
        .filter((col("lang") === "en" && h < 20) ||
                (col("lang") === "de" && h < 50) ||
                (col("lang") =!= "en" && col("lang") =!= "de" && h < 10))
        .select("doc_id", "lang")
    }),

    // Data MIXING toward a target distribution — the source-rebalancing
    // step of corpus assembly (every multi-source training set downsamples
    // its dominant crawls): per-source keep rate = min(1, uniform share /
    // actual share), applied as a deterministic portable-hash sample so
    // the mixture is reproducible across engines and runs. Two passes:
    // one #sources-row aggregate, then one scan with the rate join (see
    // hashMixKept). Output: per-source totals, kept counts, and the rate
    // applied.
    "q_mix_sources" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
      val scalars = counts.agg(sum(col("n_total")).as("grand"),
                               count(lit(1)).as("n_sources"))
      val rates = counts.crossJoin(scalars)
        .withColumn("rate", least(lit(1.0),
          (col("grand").cast("double") / col("n_sources")) / col("n_total")))
      hashMixKept(docs, "source", rates)
    }),

    // TEMPERATURE mixing (alpha = 0.5) — the other standard mixing knob
    // (multilingual training sets sample language l with probability
    // proportional to n_l^alpha, softening the head instead of
    // flattening to uniform — the reason low-resource languages survive
    // corpus assembly at all): per-doc keep rate
    // r_l = sqrt(n_min)/sqrt(n_l), normalized so the SMALLEST language
    // keeps everything and one 100x larger keeps 10% — between
    // q_mix_sources' full rebalance (alpha=0) and no mixing (alpha=1).
    // Keyed by lang, not source, because the fixture's languages are
    // skewed (en ~3.4x fr) while its sources are uniform — the oracle
    // must observe real downsampling (the redact lesson). Engine-exact:
    // two IEEE sqrts in a fixed order, rate applied through the same
    // portable-hash sampler; same rate relation and plan shape as
    // q_mix_sources.
    "q_mix_temperature" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      val minN = counts.agg(min(col("n_total")).as("n_min"))
      val rates = counts.crossJoin(minN)
        .withColumn("rate",
          sqrt(col("n_min").cast("double")) / sqrt(col("n_total").cast("double")))
      hashMixKept(docs, "lang", rates)
    }),

    // Document chunking: fixed 32-token windows with stride 24 (8-token
    // overlap) — how long documents become training sequences. One narrow
    // pass: the chunk starts are generated per row, the token array is
    // sliced in place, nothing shuffles.
    "q_text_chunks" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      Tables.documents(s, dir).chunked(chunkTokens = 32, stride = 24)
    }),

    // Greedy sequence packing: per language, documents (in doc_id order)
    // are packed into fixed 2048-token training bins by running token
    // count — bin id = floor(tokens-before-this-doc / 2048). One window
    // cumsum per language partition; deterministic, so downstream shards
    // are reproducible.
    "q_pack_bins" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      Tables.documents(s, dir).packedBins("lang", binTokens = 2048)
    }),

    // The SCALABLE twin of q_pack_bins: identical assignment (same DuckDB
    // oracle!), but the per-language window cumsum — which routes every
    // row of a language through ONE task, a 40 TB single-task
    // serialization at 100 TB — is replaced by a distributed prefix sum:
    // range-partition by (lang, doc_id), per-partition totals (tiny),
    // windowed offsets over the tiny relation, broadcast back, local
    // cumsum per slice. See CorpusOps.packedBinsScalable.
    "q_pack_bins_scalable" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      Tables.documents(s, dir).packedBinsScalable("lang", binTokens = 2048)
    }),

    // REGIME-DISPATCHED packing (round-10 verdict item 2): one
    // max-group-rows aggregate at construction picks the window form
    // below the measured ~10M-row-group crossover (constants win) and
    // the distributed prefix sum above it (no single-task serialization)
    // — both branches compute the identical assignment, so all three
    // pack queries share ONE oracle. This is the form the composed
    // artifacts (sequences/provenance/bpe packing) now build on.
    "q_pack_bins_auto" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      Tables.documents(s, dir).packedBinsAuto("lang", binTokens = 2048)
    }),

    // The PACKED SEQUENCES themselves — what the training loader reads:
    // per (lang, bin), the bin's documents joined in id order with an EOS
    // marker between them, plus the bin's total token count. Built from
    // the REGIME-DISPATCHED packing assignment (window form at this
    // scale, distributed prefix sum beyond the measured boundary — the
    // loader-facing artifact must never carry a per-language single-task
    // window cumsum at 100 TB; same assignment either way, pinned
    // auto == scalable == plain in CorpusOpsSpec), then one aggregate: collect
    // (doc_id, text) structs, sort_array for a DETERMINISTIC in-bin order
    // (collect_list order is partition-dependent), join surfaces. Bin
    // contents are budget-bounded (2048 whitespace tokens, oversize
    // singletons excepted), so a packed row is bounded regardless of
    // corpus size — the aggregate state never exceeds a bin. Oracle:
    // string_agg with ORDER BY inside the aggregate, an independent
    // formulation of the same order contract.
    "q_pack_sequences" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      val assigned = Tables.documents(s, dir)
        .packedBinsAuto("lang", binTokens = 2048)
      assigned
        .join(Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
        .groupBy("lang", "bin_id")
        .agg(
          array_join(
            transform(
              sort_array(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text")),
            "<eos>").as("packed_text"),
          sum(col("n_tokens")).as("bin_tokens"),
          count(lit(1)).cast("long").as("n_docs"))
    }),

    // PACK PROVENANCE — the sample-to-source attribution the loader-side
    // artifact needs for compliance/debugging: for every document, which
    // packed bin holds it and at what token offset WITHIN the bin's
    // concatenation (in-bin running sum of earlier docs' tokens, the
    // exact order q_pack_sequences concatenates; document-token
    // currency, EOS markers excluded — matching bin_tokens bookkeeping).
    // The offset window partitions by (lang, bin_id) — high-cardinality,
    // tiny groups — on top of the scalable assignment, so the whole
    // inverse mapping is scale-clean.
    "q_pack_provenance" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      val assigned = Tables.documents(s, dir)
        .packedBinsAuto("lang", binTokens = 2048)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "bin_id").orderBy(col("doc_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      assigned.withColumn("offset_tokens",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)).cast("long"))
        .select("doc_id", "lang", "bin_id", "n_tokens", "offset_tokens")
    }),

    // Packing in the REAL token currency: the regime-dispatched plan,
    // with the budget counting actual BPE tokens (whitespace counts
    // misstate real sequence lengths, so "2048-token bins" built from
    // them overflow or underfill real training sequences). The token
    // counter is orthogonal to the assignment machinery — CorpusOpsSpec
    // pins auto == scalable == plain under the BPE counter too.
    "q_pack_bins_bpe" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      Tables.documents(s, dir).packedBinsAuto("lang", binTokens = 2048,
        tokenCount = graft.functions.expressions.BpeCountExpression.bpe_count)
    }),

    // SHARD EXPORT MANIFEST — the last link of the training-data chain
    // (curate → dedup → pack → shard): packed bins grouped into fixed-size
    // shards, the unit of training-reader I/O parallelism. The assignment
    // is a pure projection of the regime-dispatched packing (shard =
    // bin/binsPerShard per language), so dataset builds are REPRODUCIBLE —
    // re-running the export over the same corpus yields byte-identical
    // shard boundaries, which is what makes resumable multi-epoch training
    // and audit-time sample attribution possible. The manifest row per
    // shard (bin/doc/token counts + the doc-id range a seeking reader
    // needs) is bounded by shard count, orders of magnitude below doc
    // count; 8 bins/shard keeps shards observable at fixture scale — a
    // production export sets ~10^3 bins/shard for multi-GB shard files,
    // the constant is load-bearing only for file sizing, never for
    // correctness.
    "q_export_shards" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      val binsPerShard = 8
      Tables.documents(s, dir).packedBinsAuto("lang", binTokens = 2048)
        .withColumn("shard_id",
          floor(col("bin_id") / binsPerShard).cast("long"))
        .groupBy("lang", "shard_id")
        .agg(
          countDistinct(col("bin_id")).as("n_bins"),
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("shard_tokens"),
          min(col("doc_id")).as("first_doc_id"),
          max(col("doc_id")).as("last_doc_id"))
    }),

    // Eval-set decontamination: drop every document sharing ANY word-3-gram
    // with the held-out set (here: the 10 lowest doc_ids, standing in for a
    // benchmark suite) — the n-gram-overlap contamination rule every
    // training corpus applies before training. Only the EVAL gram set is
    // broadcast (eval suites are small by construction); the contaminated-id
    // set is corpus-derived — a contamination pass can flag an unbounded
    // fraction of billions of docs — so the anti join shuffles on the
    // 8-byte doc_id instead of collecting the set to the driver.
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          explode(graft.operators.Dedup.shinglesFromTokens(col("toks"), 3)).as("gram"))
      val evalGrams = broadcast(
        grams(docs.filter(col("doc_id") < 10)).select("gram").distinct())
      val contaminated =
        grams(docs.filter(col("doc_id") >= 10)).join(evalGrams, "gram")
          .select("doc_id").distinct()
      docs.select("doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") >= 10)
        .select("doc_id")
    }),

    // WINNOWED document fingerprints (Schleimer et al. 2003, the MOSS
    // scheme): per sliding window of k=4 consecutive span hashes keep the
    // minimum; the distinct minima are the fingerprint set. The selection
    // guarantee — any shared run of >= w+k-1 tokens forces a shared
    // fingerprint — is what makes the subsample SOUND for substring
    // dedup, while per-doc mass drops to ~2/(k+1) of span mass: the knob
    // that prices span-granular dedup at 100 TB (q_dedup_winnow runs the
    // dedup on exactly this set). One codegen call per document
    // (WinnowHashesExpression: span hashes + monotonic-deque sliding min,
    // O(tokens) not O(tokens*k)). Docs shorter than w+k-1 have no window
    // and are absent. Reduction = exact int/int IEEE division.
    "q_text_winnow" -> ((s, dir) => {
      import graft.functions.expressions.SpanHash
      val w = graft.operators.Dedup.DefaultSpanWidth
      val k = graft.operators.Dedup.WinnowWindow
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= w + k - 1)
        .select(col("doc_id"),
          (size(col("toks")) - (w - 1)).cast("long").as("n_spans"),
          size(array_distinct(SpanHash.winnow_hashes(col("toks"), w, k)))
            .cast("long").as("n_fingerprints"))
        .withColumn("reduction",
          col("n_fingerprints").cast("double") / col("n_spans"))
    }),

    // Bloom-pruned decontamination — the same rule as q_decontaminate with
    // the 100 TB cost model fixed. The exact form explodes EVERY training
    // document into gram rows before its (cheap) broadcast probe; at corpus
    // scale that explode + distinct IS the pass's cost. Here a Bloom filter
    // of the eval suite's 60-BIT SPAN HASHES (fixed-size long[], shipped as
    // a plan constant — no broadcast relation, no join) tests each
    // document IN PLACE at the scan: the codegen span kernel emits the
    // doc's gram hashes and one containsAny call probes them, so the whole
    // flag stage is generated code with no string or interpreted-lambda
    // work. Only flagged documents — true contamination plus ~1% of clean
    // docs (per-key fpp 1e-4, sized so the PER-DOCUMENT compound FP rate
    // stays percent-level; see GramBloom's long-variant note) — pay the
    // gram-string explode and the exact verify join, which removes every
    // false positive. No false negatives are possible (every true eval
    // gram's hash was inserted), so the composition is bit-identical to
    // the exact rule — same oracle. The eval-hash collect for the build is
    // bounded by construction (eval suites are tiny) and cap-checked
    // loudly in GramBloom.buildLong.
    "q_decontaminate_bloom" -> ((s, dir) => {
      import graft.functions.expressions.{GramBloom, SpanHash}
      val docs = Tables.documents(s, dir)
      val evalHashes = docs.filter(col("doc_id") < 10)
        .select(split(col("text"), " ").as("toks"))
        .select(explode(array_distinct(
          SpanHash.span_hashes(col("toks"), 3))).as("h")).distinct()
      val (bits, m, k) = GramBloom.buildLong(evalHashes, "h", fpp = 1e-4)
      val flagged = docs.filter(col("doc_id") >= 10)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(GramBloom.bloom_contains_any(bits, m, k)(
          SpanHash.span_hashes(col("toks"), 3)))
      // exact verify in STRING currency — the oracle's join key — over
      // the flagged sliver only
      val evalGrams = docs.filter(col("doc_id") < 10)
        .select(split(col("text"), " ").as("toks"))
        .select(explode(graft.operators.Dedup
          .shinglesFromTokens(col("toks"), 3)).as("gram")).distinct()
      val contaminated = flagged
        .select(col("doc_id"), explode(graft.operators.Dedup
          .shinglesFromTokens(col("toks"), 3)).as("gram"))
        .join(broadcast(evalGrams), "gram")
        .select("doc_id").distinct()
      docs.select("doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") >= 10)
        .select("doc_id")
    }),

    // Unigram fluency proxy: mean CORPUS FREQUENCY of a document's tokens
    // (the transcendental-free stand-in for mean unigram log-prob — same
    // ordering signal: common prose scores high, rare-word soup low, and
    // integer sums keep it bit-portable where log2/ln differ by ulps
    // between engines). Term frequency: map-side-combined aggregate +
    // plain SHUFFLED join on term — NO broadcast (the term vocabulary is
    // corpus-sized at 100 TB: the round-2 broadcast hint was a driver
    // OOM) and NO window count (stop words are percent-level fractions of
    // ALL token rows; a window partition per term puts each one on a
    // single unsplittable task, while probe-side join skew is exactly
    // what AQE splits — AqeSkewJoinSpec). The exploded subtree computes
    // twice (aggregate + probe branch, no exchange reuse across the
    // partial agg): a linear recompute, accepted — persisting a
    // corpus-sized exploded frame is not a 100 TB option.
    "q_text_fluency" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val freq = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      toks.join(freq, "term")
        .groupBy("doc_id")
        .agg((sum(col("tf")).cast("double") / count(lit(1))).as("mean_token_tf"))
    }),

    // Repetition ratio: fraction of word-3-grams that are repeats of an
    // earlier 3-gram in the same document — the Gopher-style repetition
    // quality signal (high = boilerplate/keyword-stuffing). Exact int/int
    // division; narrow, runs at the scan.
    "q_text_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          graft.operators.Dedup.shinglesFromTokens(col("toks"), 3).as("distinct_grams"),
          (size(col("toks")) - 2).as("n_grams"))
        .filter(col("n_grams") > 0)
        .select(col("doc_id"),
          (lit(1.0) - size(col("distinct_grams")).cast("double") / col("n_grams"))
            .as("repetition_ratio"))),

    // PII-style scrubbing: replace pattern matches with a redaction token
    // and report per-document stats — the regex-cleanup pass every
    // training corpus runs before tokenization (emails/phones/ids in
    // production). The declared pattern is multi-vowel runs because that
    // is what actually FIRES on the all-letter fixture (495/500 docs): a
    // digits/email pattern would match nothing and verify nothing — the
    // oracle must observe real replacements or the 'g'-flag divergence
    // (DuckDB replaces first-match-only by default, Spark replaces all)
    // is untested. Narrow, codegen'd, runs at the scan; the
    // class+quantifier pattern is Java-regex/RE2-identical.
    "q_text_redact" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[aeiou]{2,}"), lit(0)))
          .cast("long").as("n_redactions"),
        length(regexp_replace(col("text"), "[aeiou]{2,}", "<V>"))
          .cast("long").as("redacted_len"))),

    // TF-IDF document scoring — the classic relevance/rarity weight, made
    // engine-exact: per occurrence w = floor(N * 2^20 / df) (two IEEE ops
    // in a fixed order, then integer truncation), summed as exact longs,
    // scaled back once. No logarithm: ln/log2 differ by ulps across
    // engines and would break the hash compare; N/df preserves the same
    // ordering signal. Scale shape: occurrence-level join keyed by term
    // (NO broadcast — the df relation is vocabulary-sized; probe-side
    // skew on stop words is AQE-splittable), one 1-row N cross join.
    // The exploded `occ` subtree computes twice (df aggregate + probe
    // branch) DELIBERATELY, same call as q_text_fluency: split+explode is
    // cheap codegen, and persisting a corpus-sized exploded frame is not
    // a 100 TB option (unlike the interpreted shingle stages the dedup
    // operators cache, which dominate their queries).
    "q_text_tfidf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val occ = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val dfq = occ.select(col("doc_id"), col("term")).distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      occ.join(dfq, "term")
        .crossJoin(n)
        .select(col("doc_id"),
          floor((col("n").cast("double") * 1048576.0) / col("df"))
            .cast("long").as("w"))
        .groupBy("doc_id")
        .agg((sum(col("w").cast("decimal(38,0)")).cast("double") / 1048576.0)
               .as("tfidf_sum"),
             count(lit(1)).as("n_terms"))
    }),

    // Bigram language-model fluency — the CCNet-style LM quality filter
    // in count form: score each document by the mean Laplace-smoothed
    // conditional probability of its bigrams under the corpus's own
    // bigram LM, P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). Fixed-point
    // (2^20) floor keeps it engine-exact — no logarithm (ln differs by
    // ulps across engines; the mean smoothed probability carries the
    // same ordering signal: common-prose bigrams high, rare-word soup
    // low). Scale shape: bigram rows are built NARROWLY at the scan
    // (sequence + element_at — codegen, no interpreted HOF and no
    // per-doc window sort); the bigram/unigram count relations are
    // corpus-vocabulary-sized so they join SHUFFLED on their keys (never
    // broadcast — same rule as q_text_fluency/q_text_tfidf); V is a
    // 1-row cross join; stop-bigram probe skew is AQE-splittable.
    // PMI-RANKED COLLOCATIONS (round 11): top bigrams by pointwise
    // mutual information — the phrase-discovery pass a tokenizer/corpus
    // report runs ("which word pairs co-occur far above chance"). PMI's
    // log is rank-irrelevant (monotone), so the score is the RAW ratio
    // p(xy)/(p(x)p(y)) = n_pair·N_bigrams/(c(w1)·c(w2)) in x2^20 fixed
    // point — integer-valued doubles only, bit-portable (the BM25
    // discipline). A min-support floor of 5 kills the rare-pair PMI
    // pathology deterministically. Count relations are vocab-sized and
    // flow through shuffled joins (never broadcast-hinted — the
    // q_text_lm_bigram rule); the global top-20 is TakeOrderedAndProject.
    "q_text_collocations" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
      val bg = toks
        .select(col("t"), explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(element_at(col("t"), col("i")).as("w1"),
          element_at(col("t"), col("i") + 1).as("w2"))
      val occ = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
      val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 5)
      val cug = occ.groupBy("w").agg(count(lit(1)).as("cw"))
      val nb = bg.agg(count(lit(1)).as("nb"))
      val scored = cbg
        .join(cug.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(cug.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(nb)
        .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
          col("n_pair"),
          floor(((col("n_pair").cast("double") * col("nb")) /
            (col("c1").cast("double") * col("c2"))) * 1048576.0)
            .cast("long").as("pmi_q"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("pmi_q").desc, col("bigram").asc)
      scored.orderBy(col("pmi_q").desc, col("bigram").asc).limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
    }),

    "q_text_lm_bigram" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
      val bg = toks
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(col("doc_id"),
          element_at(col("t"), col("i")).as("w1"),
          concat_ws(" ", element_at(col("t"), col("i")),
            element_at(col("t"), col("i") + 1)).as("b"))
      val occ = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
      val cbg = bg.groupBy("b").agg(count(lit(1)).as("cb"))
      val cug = occ.groupBy("w").agg(count(lit(1)).as("cw"))
      val vv = occ.agg(count_distinct(col("w")).as("v"))
      bg.join(cbg, "b")
        .join(cug, col("w1") === col("w"))
        .crossJoin(vv)
        .select(col("doc_id"),
          floor((col("cb") + 1).cast("double") * 1048576.0 /
            (col("cw") + col("v")).cast("double")).cast("long").as("p"))
        .groupBy("doc_id")
        .agg((sum(col("p").cast("decimal(38,0)")).cast("double") / 1048576.0)
               .as("lm_sum"),
             count(lit(1)).as("n_bigrams"))
    }),

    // Bottom-k-by-hash per group: a deterministic uniform k-sample WITHOUT
    // replacement per language (the fixed-size eval-set construction).
    // Window-rank here is fine for k=5 per tiny group; the HEAP variant
    // below is the same semantics in the 100 TB plan shape.
    "q_sample_bottomk" -> ((s, dir) => {
      val h = graft.functions.PortableHash.hash60(col("doc_id").cast("string"))
      Tables.documents(s, dir)
        .withColumn("h", h)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)))
        .filter(col("rn") <= 5)
        .select("doc_id", "lang")
    }),

    // The SAME bottom-k sample through the bounded-heap TopKByScore
    // aggregate — the 100 TB plan shape: map-side partial heaps mean k
    // entries per group cross the exchange instead of every row reaching
    // a window sort. Hash reduced mod 2^50 so its negation is EXACT in
    // the aggregate's double score (2^60 would round past the 53-bit
    // mantissa and tie-breaks could diverge from the oracle's integer
    // ordering); top-k by (-h desc, id asc) == bottom-k by (h asc, id asc).
    // QUALITY-WEIGHTED sampling (round 11): deterministic Bernoulli —
    // keep a document with probability equal to its quality score (the
    // keep-best distinct-token-ratio currency), decided by the portable
    // hash: accept iff h mod 2^50 < floor(quality · 2^50). Soft
    // filtering for a training mix: low-quality docs survive at reduced
    // rate instead of a hard cutoff, reproducibly across engines/runs
    // (same doc set every time — no RNG state). The comparison is
    // integer-vs-integer; quality's double division is IEEE-identical on
    // both engines, so the floor threshold is bit-portable. Pure
    // map-side: one narrow scan, a filter, no shuffle at any scale.
    "q_sample_quality_weighted" -> ((s, dir) => {
      import graft.functions.TextFunctions.{nDistinctTokens, nTokens}
      val q = nDistinctTokens(col("text")).cast("double") /
        nTokens(col("text"))
      val h = pmod(graft.functions.PortableHash.hash60(
        col("doc_id").cast("string")), lit(1125899906842624L)) // 2^50
      Tables.documents(s, dir)
        .filter(h < floor(q * lit(1125899906842624.0)).cast("long"))
        .select(col("doc_id"), col("lang"), q.as("quality"))
    }),

    "q_sample_bottomk_heap" -> ((s, dir) => {
      val h = pmod(graft.functions.PortableHash.hash60(
        col("doc_id").cast("string")), lit(1125899906842624L)) // 2^50
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), h.as("h"))
        .groupBy("lang")
        .agg(graft.functions.expressions.TopKAggregate
          .top_k(-col("h").cast("double"), col("doc_id"), 5).as("tk"))
        .select(col("lang"), explode(col("tk")).as("e"))
        .select(col("e.id").as("doc_id"), col("lang"))
    }),

    // Frame sampling over video-like payloads (every 4th 16-byte frame,
    // operators.Multimodal.sampleFrames). The oracle recomputes the same
    // stats from n_bytes arithmetic, so an off-by-one in the byte slicing
    // fails the hash compare.
    "q_multimodal_frames" -> ((s, dir) =>
      graft.operators.Multimodal.frameStats(s, dir, stride = 4)),

    // REAL image decode: one genuine PNG per document (JDK ImageIO encode,
    // deterministic formula pixels), decoded back through ImageIO to pixel
    // channel sums. PNG is lossless, so the oracle's formula replay is
    // exact — any codec/decode bug changes the sums and fails the hash.
    "q_multimodal_decode" -> ((s, dir) =>
      graft.operators.Multimodal.decodeStats(s, dir)),

    // REAL image resize: nearest-neighbor 2x downsample of each decoded
    // PNG (operators.Multimodal.resizeImages); stats over the RESAMPLED
    // pixels. The oracle replays the integer source-index map with `//`,
    // so an off-by-one in the resample grid fails the hash compare.
    "q_multimodal_resize" -> ((s, dir) =>
      graft.operators.Multimodal.resizeStats(s, dir, factor = 2)),

    // REAL audio decode: one genuine WAV per document (javax.sound.sampled
    // encode, deterministic formula PCM), parsed back through AudioSystem
    // — format discovered from the RIFF header — to integer sample stats.
    // PCM is lossless, so the oracle's formula replay is exact.
    "q_multimodal_audio" -> ((s, dir) =>
      graft.operators.Multimodal.audioStats(s, dir)),

    // REAL video path: one GVID container (length-prefixed genuine PNG
    // frames) per document, demuxed from the stream — magic + counts READ,
    // not assumed — with every 2nd frame ImageIO-decoded and the rest
    // skipped at length-prefix cost (the 1-fps-of-30-fps economics);
    // channel sums over the sampled frames. Lossless frames, so the
    // oracle's formula replay is exact.
    "q_multimodal_video" -> ((s, dir) =>
      graft.operators.Multimodal.videoStats(s, dir, stride = 2)),

    // JSON extraction from the events props column (row-level).
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // Typed JSON parsing: from_json with an explicit schema (vs
    // q_json_extract's path extraction) — the schema-on-read form that
    // fails closed: malformed documents yield null fields instead of
    // silently wrong strings.
    "q_json_typed" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("src",
                org.apache.spark.sql.types.StringType)))).as("p"))
        .select(col("event_id"), col("p.k").as("k"), col("p.src").as("src"))),

    // JSON-derived aggregation: bucket k, count + exact sum of value.
    "q_json_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          (get_json_object(col("props"), "$.k").cast("long") % 10).as("k_bucket"),
          col("value"))
        .groupBy("k_bucket")
        .agg(count(lit(1)).as("cnt"), Exact.sum2(col("value")).as("sum_value"))))

  private val langCase: String = {
    val langs = graft.functions.TextFunctions.Stopwords.toSeq.sortBy(_._1)
    def score(words: Seq[String]) =
      s"len(list_filter(string_split(text,' '), t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val scores = langs.map { case (l, ws) => s"${score(ws)} AS s_$l" }.mkString(", ")
    val best = s"greatest(${langs.map(l => s"s_${l._1}").mkString(",")})"
    val cases = langs.map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }.mkString(" ")
    val scoreCols = langs.map(l => s"s_${l._1}").mkString(", ")
    s"""SELECT doc_id, lang, CASE WHEN m = 0 THEN 'und' $cases ELSE 'und' END AS pred_lang
       |FROM (SELECT doc_id, lang, $best AS m, $scoreCols
       |      FROM (SELECT doc_id, lang, $scores FROM documents))""".stripMargin
  }

  /** The training-replay CTE body (pre-token dictionary, wrapped-string
    * state, one pair-count/argmax/replace trio per round) shared by the
    * train oracle and the trained-apply oracles. `carryPt` threads the
    * original pre-token through the state CTEs so the FINAL state
    * (s<NumMerges>) can serve as a pre-token → tokenization dictionary
    * for the apply replay (the trained-vocab serving twins). */
  private def bpeTrainCtes(carryPt: Boolean): String = {
    val keep = if (carryPt) "pt, freq" else "freq"
    val n = graft.operators.BpeTrain.NumMerges
    val rounds = (0 until n).map { r =>
      s"""p$r AS (
         |  SELECT p.l AS l, p.r AS r, sum(freq) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)), i ->
         |      {'l': syms[i], 'r': syms[i+1]})) AS p
         |    FROM (SELECT freq,
         |            string_split(substr(st, 2, length(st)-2), '||') AS syms
         |          FROM s$r)
         |    WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |s${r + 1} AS MATERIALIZED (
         |  SELECT $keep,
         |    COALESCE(replace(st, '|'||b.l||'||'||b.r||'|', '|'||b.l||b.r||'|'), st) AS st
         |  FROM s$r LEFT JOIN b$r b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""pt AS (
       |  SELECT pt, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(text,
       |      '${graft.functions.Bpe.PreTokenRegex}')) AS pt FROM documents)
       |  WHERE pt NOT LIKE '%|%'
       |  GROUP BY pt),
       |s0 AS MATERIALIZED (
       |  SELECT $keep,
       |    '|' || array_to_string(string_split(pt, ''), '||') || '|' AS st
       |  FROM pt),
       |$rounds""".stripMargin
  }

  /** Unrolled replay of [[graft.operators.BpeTrain.train]]: the same
    * pre-token dictionary, wrapped-string state, pair counting, argmax
    * tie-break, and leftmost non-overlapping replace, one CTE trio per
    * round. */
  private val bpeTrainSql: String = {
    val n = graft.operators.BpeTrain.NumMerges
    val out = (0 until n).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS cnt FROM b$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeTrainCtes(carryPt = false)}
       |$out""".stripMargin
  }

  /** The trained-vocabulary APPLY replay: rebuild the trained dictionary
    * state (the same CTEs as the train oracle, pre-token carried), read
    * the FINAL state as a pre-token → symbol-sequence map, and serve
    * each document's pre-tokens from it in order — an independent
    * formulation of what the Spark side computes by replaying the STORED
    * rules per pre-token (graft.functions.BpeDyn): replaying all rounds
    * on one pre-token's state is exactly the per-round replace chain
    * that produced the dictionary's final state. Pre-tokens containing
    * '|' are excluded from training on both engines, so they miss the
    * join and fall back to base code points. */
  private def bpeTrainedEncodeSql: String = {
    val n = graft.operators.BpeTrain.NumMerges
    val sep = s"chr(${graft.functions.Bpe.Sep.toInt})"
    s"""WITH ${bpeTrainCtes(carryPt = true)},
       |enc AS MATERIALIZED (
       |  SELECT pt,
       |    array_to_string(list_transform(
       |      string_split(substr(st, 2, length(st)-2), '||'),
       |      t -> t || $sep), '') AS enc_str,
       |    CAST(len(string_split(substr(st, 2, length(st)-2), '||')) AS BIGINT) AS n_tok
       |  FROM s$n),
       |docpt AS (
       |  SELECT doc_id, unnest(pts) AS pt, unnest(range(len(pts))) AS ord
       |  FROM (SELECT doc_id, regexp_extract_all(text,
       |          '${graft.functions.Bpe.PreTokenRegex}') AS pts
       |        FROM documents)),
       |agg AS (
       |  SELECT d.doc_id,
       |    string_agg(COALESCE(e.enc_str,
       |      array_to_string(list_transform(string_split(d.pt, ''), c -> c || $sep), '')),
       |      '' ORDER BY d.ord) AS tokens_str,
       |    CAST(sum(COALESCE(e.n_tok, len(string_split(d.pt, '')))) AS BIGINT) AS n_tokens_bpe
       |  FROM docpt d LEFT JOIN enc e ON d.pt = e.pt
       |  GROUP BY d.doc_id)
       |SELECT d.doc_id, COALESCE(a.tokens_str, '') AS tokens_str,
       |  CAST(COALESCE(a.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
  }

  /** Packing under the trained-vocabulary token counter: the per-doc
    * counts served from the trained dictionary state, then the standard
    * pack cumsum. */
  private def bpeTrainedPackSql: String = {
    val n = graft.operators.BpeTrain.NumMerges
    s"""WITH ${bpeTrainCtes(carryPt = true)},
       |cnts AS MATERIALIZED (
       |  SELECT pt,
       |    CAST(len(string_split(substr(st, 2, length(st)-2), '||')) AS BIGINT) AS n_tok
       |  FROM s$n),
       |docpt AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text,
       |    '${graft.functions.Bpe.PreTokenRegex}')) AS pt
       |  FROM documents),
       |dtok AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(COALESCE(sum(COALESCE(c.n_tok, len(string_split(p.pt, '')))), 0) AS BIGINT)
       |      AS n_tokens
       |  FROM documents d
       |  LEFT JOIN docpt p ON d.doc_id = p.doc_id
       |  LEFT JOIN cnts c ON p.pt = c.pt
       |  GROUP BY d.doc_id, d.lang)
       |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id
       |FROM (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM dtok)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_bpe_train" -> bpeTrainSql,
    // the scalable twin is graded against the SAME sequential replay —
    // the dictionary-local loop must reproduce it exactly (BpeTrainSpec)
    "q_bpe_train_scalable" -> bpeTrainSql,
    // the artifact-chain serving twins: the oracle re-trains in CTEs and
    // applies the trained dictionary state — one hash compare covers
    // train, persistence, and apply
    "q_bpe_encode_indexed" -> bpeTrainedEncodeSql,
    "q_pack_bins_bpe_indexed" -> bpeTrainedPackSql,

    "q_mix_sources" ->
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n_total FROM documents GROUP BY source),
         |sc AS (
         |  SELECT CAST(sum(n_total) AS DOUBLE) AS grand, count(*) AS n_sources
         |  FROM counts),
         |rates AS (
         |  SELECT source, n_total,
         |    least(1.0, (grand / n_sources) / n_total) AS rate
         |  FROM counts, sc)
         |SELECT d.source, max(r.n_total) AS n_total,
         |  CAST(sum(CASE WHEN
         |    ${graft.functions.PortableHash.hash60Sql("CAST(d.doc_id AS VARCHAR)")} % 1000000
         |      < CAST(floor(r.rate * 1000000.0) AS BIGINT)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  max(r.rate) AS rate
         |FROM documents d JOIN rates r USING (source)
         |GROUP BY d.source""".stripMargin,

    "q_mix_temperature" ->
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
         |mn AS (SELECT min(n_total) AS n_min FROM counts),
         |rates AS (
         |  SELECT lang, n_total,
         |    sqrt(CAST(n_min AS DOUBLE)) / sqrt(CAST(n_total AS DOUBLE)) AS rate
         |  FROM counts, mn)
         |SELECT d.lang, max(r.n_total) AS n_total,
         |  CAST(sum(CASE WHEN
         |    ${graft.functions.PortableHash.hash60Sql("CAST(d.doc_id AS VARCHAR)")} % 1000000
         |      < CAST(floor(r.rate * 1000000.0) AS BIGINT)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  max(r.rate) AS rate
         |FROM documents d JOIN rates r USING (lang)
         |GROUP BY d.lang""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
        |  n_chars
        |FROM documents""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(string_split(text,' '), t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS mean_token_len,
        |  CAST(len(list_filter(string_split(text,' '),
        |       t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS stop_ratio,
        |  CAST(n_chars AS DOUBLE) / len(string_split(text,' ')) AS chars_per_token
        |FROM documents""".stripMargin,

    "q_text_bpe_fertility" ->
      s"""SELECT lang,
         |  CAST(sum(${graft.functions.Bpe.countSql("text")}) AS BIGINT) AS n_bpe,
         |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_ws,
         |  CAST(CAST(sum(${graft.functions.Bpe.countSql("text")}) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(len(string_split(text,' '))) AS BIGINT) AS DOUBLE) AS fertility
         |FROM documents GROUP BY lang""".stripMargin,

    "q_text_langid" -> langCase,

    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text,''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents""".stripMargin,

    "q_text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_ws_tokens
        |FROM documents""".stripMargin,

    "q_text_termfreq" ->
      """SELECT term, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text,' ')) AS term FROM documents)
        |GROUP BY term""".stripMargin,

    "q_quality_filter" ->
      """SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS distinct_ratio
        |FROM documents
        |WHERE len(string_split(text,' ')) BETWEEN 20 AND 90
        |  AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |      / len(string_split(text,' ')) >= 0.2
        |  AND CAST(n_chars AS DOUBLE) / len(string_split(text,' ')) >= 3.0""".stripMargin,

    "q_curation_pipeline" ->
      """WITH kept AS (
        |  SELECT doc_id, lang, text, len(string_split(text,' ')) AS n_tokens
        |  FROM documents
        |  WHERE len(string_split(text,' ')) BETWEEN 20 AND 90
        |    AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |        / len(string_split(text,' ')) >= 0.2),
        |canon AS (
        |  SELECT arg_min(lang, doc_id) AS lang, arg_min(n_tokens, doc_id) AS n_tokens
        |  FROM kept GROUP BY text)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM canon GROUP BY lang""".stripMargin,

    "q_multimodal_bytes" ->
      """SELECT CASE WHEN lang = 'zh' THEN 'audio' ELSE 'image' END AS kind,
        |  count(*) AS n_items,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  max(CAST(octet_length(encode(text)) AS BIGINT)) AS max_bytes
        |FROM documents GROUP BY 1""".stripMargin,

    "q_text_chunks" ->
      """SELECT doc_id,
        |  CAST(s // 24 AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(t, s + 1, s + 32)) AS BIGINT) AS n_chunk_tokens
        |FROM (
        |  SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 24)) AS s
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents))
        |WHERE s < len(t)""".stripMargin,

    "q_pack_sequences" ->
      """WITH assigned AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id
        |  FROM (
        |    SELECT doc_id, lang, n_tokens,
        |      CAST(coalesce(sum(n_tokens) OVER (
        |        PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |        AS cum_before
        |    FROM (
        |      SELECT doc_id, lang, len(string_split(text,' ')) AS n_tokens
        |      FROM documents)))
        |SELECT a.lang, a.bin_id,
        |  string_agg(d.text, '<eos>' ORDER BY a.doc_id) AS packed_text,
        |  CAST(sum(a.n_tokens) AS BIGINT) AS bin_tokens,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM assigned a JOIN documents d ON a.doc_id = d.doc_id
        |GROUP BY a.lang, a.bin_id""".stripMargin,

    "q_pack_bins" ->
      """SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM (
        |    SELECT doc_id, lang, len(string_split(text,' ')) AS n_tokens
        |    FROM documents))""".stripMargin,

    // same assignment rolled up to the shard manifest
    "q_export_shards" ->
      """WITH assigned AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id
        |  FROM (
        |    SELECT doc_id, lang, n_tokens,
        |      CAST(coalesce(sum(n_tokens) OVER (
        |        PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |    FROM (
        |      SELECT doc_id, lang, len(string_split(text,' ')) AS n_tokens
        |      FROM documents)))
        |SELECT lang, CAST(floor(bin_id / 8) AS BIGINT) AS shard_id,
        |  CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        |  min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id
        |FROM assigned GROUP BY 1, 2""".stripMargin,

    // same assignment + the in-bin offset window — the inverse mapping
    "q_pack_provenance" ->
      """SELECT doc_id, lang, bin_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (
        |    PARTITION BY lang, bin_id ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS offset_tokens
        |FROM (
        |  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id
        |  FROM (
        |    SELECT doc_id, lang, n_tokens,
        |      CAST(coalesce(sum(n_tokens) OVER (
        |        PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |    FROM (
        |      SELECT doc_id, lang, len(string_split(text,' ')) AS n_tokens
        |      FROM documents)))""".stripMargin,

    // the dispatched form picks one of the two identical-assignment
    // branches — same oracle as both
    "q_pack_bins_auto" ->
      """SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM (
        |    SELECT doc_id, lang, len(string_split(text,' ')) AS n_tokens
        |    FROM documents))""".stripMargin,

    // the scalable twin computes the IDENTICAL assignment — one oracle,
    // two physical strategies (the q_keyed_count_salted device)
    "q_pack_bins_scalable" ->
      """SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM (
        |    SELECT doc_id, lang, len(string_split(text,' ')) AS n_tokens
        |    FROM documents))""".stripMargin,

    "q_text_tokens_bpe_real" ->
      s"""SELECT doc_id,
         |  CAST(${graft.functions.Bpe.countSql("text")} AS BIGINT) AS n_tokens_bpe,
         |  CAST(len(regexp_extract_all(text, '${graft.functions.Bpe.PreTokenRegex}')) AS BIGINT)
         |    AS n_pretokens
         |FROM documents""".stripMargin,

    "q_bpe_encode" ->
      s"""SELECT doc_id,
         |  ${graft.functions.Bpe.encodeSql("text")} AS tokens_str,
         |  CAST(${graft.functions.Bpe.countSql("text")} AS BIGINT) AS n_tokens_bpe
         |FROM documents""".stripMargin,

    "q_pack_bins_bpe" ->
      s"""SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(floor(cum_before / 2048) AS BIGINT) AS bin_id
         |FROM (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (
         |      PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM (
         |    SELECT doc_id, lang, ${graft.functions.Bpe.countSql("text")} AS n_tokens
         |    FROM documents))""".stripMargin,

    "q_decontaminate" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS gram
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 10),
        |contaminated AS (
        |  SELECT DISTINCT g.doc_id FROM grams g
        |  JOIN eval_grams e ON g.gram = e.gram WHERE g.doc_id >= 10)
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 10 AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,

    // winnowing replay: span-hash list per doc, sliding-window list_min,
    // distinct minima — the same selection the deque kernel computes.
    // Knob constants derive from the shared (DefaultSpanWidth,
    // WinnowWindow) pair; the winnow expression is computed ONCE in its
    // own CTE and reused by both output columns.
    "q_text_winnow" -> {
      val w = graft.operators.Dedup.DefaultSpanWidth
      val k = graft.operators.Dedup.WinnowWindow
      val span = (0 until w).map(j => s"t[i+$j]").mkString("||' '||")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sp AS (
         |  SELECT doc_id, len(t) - ${w - 1} AS n_spans,
         |    list_transform(range(1, len(t)-${w - 2}),
         |      i -> ${graft.functions.PortableHash.hash60Sql(s"($span)")}) AS sp
         |  FROM toks WHERE len(t) >= ${w + k - 1}),
         |fp AS (
         |  SELECT doc_id, n_spans,
         |    len(list_distinct(list_transform(range(1, len(sp)-${k - 2}),
         |      j -> list_min(sp[j:j+${k - 1}])))) AS n_fp
         |  FROM sp)
         |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
         |  CAST(n_fp AS BIGINT) AS n_fingerprints,
         |  CAST(n_fp AS DOUBLE) / n_spans AS reduction
         |FROM fp""".stripMargin
    },

    // identical rule by construction — the Bloom prefilter admits no false
    // negatives and the exact verify join removes its false positives
    "q_decontaminate_bloom" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS gram
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 10),
        |contaminated AS (
        |  SELECT DISTINCT g.doc_id FROM grams g
        |  JOIN eval_grams e ON g.gram = e.gram WHERE g.doc_id >= 10)
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 10 AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,

    "q_text_fluency" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |freq AS (SELECT term, count(*) AS tf FROM toks GROUP BY term)
        |SELECT doc_id,
        |  CAST(sum(tf) AS DOUBLE) / count(*) AS mean_token_tf
        |FROM toks JOIN freq USING (term)
        |GROUP BY doc_id""".stripMargin,

    "q_text_repetition" ->
      """SELECT doc_id,
        |  1.0 - CAST(len(list_distinct(
        |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS DOUBLE)
        |    / (len(t) - 2) AS repetition_ratio
        |FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        |WHERE len(t) - 2 > 0""".stripMargin,

    "q_sample_bottomk" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY ${graft.functions.PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 5""".stripMargin,

    // the hash threshold mirrors the Spark floor(q * 2^50) exactly: the
    // division and multiply are the only float ops, in identical order
    "q_sample_quality_weighted" ->
      s"""SELECT doc_id, lang,
         |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |    / len(string_split(text,' ')) AS quality
         |FROM documents
         |WHERE ${graft.functions.PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} % 1125899906842624
         |  < CAST(floor((CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |      / len(string_split(text,' '))) * 1125899906842624.0) AS BIGINT)""".stripMargin,

    "q_sample_bottomk_heap" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY ${graft.functions.PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} % 1125899906842624, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 5""".stripMargin,

    "q_text_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[aeiou]{2,}')) AS BIGINT) AS n_redactions,
        |  CAST(length(regexp_replace(text, '[aeiou]{2,}', '<V>', 'g')) AS BIGINT) AS redacted_len
        |FROM documents""".stripMargin,

    "q_text_tfidf" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |dfq AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM occ) GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id,
        |  CAST(sum(CAST(floor((CAST(n.n AS DOUBLE) * 1048576.0) / df) AS BIGINT)) AS DOUBLE)
        |    / 1048576.0 AS tfidf_sum,
        |  count(*) AS n_terms
        |FROM occ JOIN dfq USING (term) CROSS JOIN n
        |GROUP BY doc_id""".stripMargin,

    // the ratio is formed in the IDENTICAL association as the Spark tree:
    // ((n_pair·nb)/(c1·c2))·2^20, then floor — bit-portable
    "q_text_collocations" ->
      """WITH toks AS (
        |  SELECT string_split(text,' ') AS t FROM documents),
        |bg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |occ AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
        |cbg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        |        FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
        |cug AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM occ GROUP BY 1),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg),
        |scored AS (
        |  SELECT w1||' '||w2 AS bigram, n_pair,
        |    CAST(floor(((CAST(n_pair AS DOUBLE) * nb)
        |      / (CAST(c1.cw AS DOUBLE) * c2.cw)) * 1048576.0) AS BIGINT) AS pmi_q
        |  FROM cbg JOIN cug c1 ON c1.w = cbg.w1
        |           JOIN cug c2 ON c2.w = cbg.w2 CROSS JOIN nb)
        |SELECT bigram, n_pair, pmi_q,
        |  CAST(row_number() OVER (ORDER BY pmi_q DESC, bigram ASC) AS BIGINT) AS rank
        |FROM scored QUALIFY rank <= 20""".stripMargin,

    "q_text_lm_bigram" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i]||' '||t[i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |occ AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
        |cbg AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
        |cug AS (SELECT w, count(*) AS cw FROM occ GROUP BY w),
        |vv AS (SELECT count(DISTINCT w) AS v FROM occ)
        |SELECT doc_id,
        |  CAST(sum(CAST(floor(CAST(cb + 1 AS DOUBLE) * 1048576.0
        |    / CAST(cw + v AS DOUBLE)) AS BIGINT)) AS DOUBLE) / 1048576.0 AS lm_sum,
        |  count(*) AS n_bigrams
        |FROM bg JOIN cbg USING (b) JOIN cug ON cug.w = bg.w1 CROSS JOIN vv
        |GROUP BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |    ${graft.functions.PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS h
         |  FROM documents)
         |WHERE (lang = 'en' AND h < 20)
         |   OR (lang = 'de' AND h < 50)
         |   OR (lang <> 'en' AND lang <> 'de' AND h < 10)""".stripMargin,

    "q_multimodal_frames" ->
      """SELECT media_id,
        |  CAST(n_sampled AS BIGINT) AS n_sampled,
        |  CAST(CASE WHEN last_idx = n_frames - 1
        |       THEN (n_sampled - 1) * 16 + (n_bytes - (n_frames - 1) * 16)
        |       ELSE n_sampled * 16 END AS BIGINT) AS sampled_bytes,
        |  CAST(last_idx AS BIGINT) AS last_frame_idx
        |FROM (
        |  SELECT media_id, n_bytes, n_frames,
        |    (n_frames - 1) // 4 + 1 AS n_sampled,
        |    ((n_frames - 1) // 4) * 4 AS last_idx
        |  FROM (
        |    SELECT doc_id AS media_id,
        |      octet_length(encode(text)) AS n_bytes,
        |      (octet_length(encode(text)) + 15) // 16 AS n_frames
        |    FROM documents
        |    WHERE octet_length(encode(text)) > 0))""".stripMargin,

    // Formula replay of the REAL ImageIO decode (Multimodal.decodeStats):
    // pixel (x,y) of image id is pure arithmetic in (id,x,y) and PNG is
    // lossless, so these sums must equal what Spark reads back out of the
    // actual codec. Channel constants match Multimodal.pixelR/G/B.
    "q_multimodal_decode" ->
      s"""WITH dims AS (
         |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id*7) % 9 AS h
         |  FROM documents)
         |SELECT doc_id AS media_id,
         |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  ${pixelSumSql("x", "y", 31, 7, 13)} AS sum_r,
         |  ${pixelSumSql("x", "y", 17, 5, 11)} AS sum_g,
         |  ${pixelSumSql("x", "y", 13, 3, 19)} AS sum_b
         |FROM dims""".stripMargin,

    // Formula replay of the REAL nearest-neighbor resample: source index
    // sx = (ox*w)//ow replayed with DuckDB integer division.
    "q_multimodal_resize" ->
      s"""WITH dims AS (
         |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id*7) % 9 AS h
         |  FROM documents),
         |rdims AS (SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh FROM dims)
         |SELECT doc_id AS media_id,
         |  CAST(ow AS INT) AS width, CAST(oh AS INT) AS height,
         |  ${pixelSumSql("((ox*w)//ow)", "((oy*h)//oh)", 31, 7, 13, "ox", "oy", "ow", "oh")} AS sum_r,
         |  ${pixelSumSql("((ox*w)//ow)", "((oy*h)//oh)", 17, 5, 11, "ox", "oy", "ow", "oh")} AS sum_g,
         |  ${pixelSumSql("((ox*w)//ow)", "((oy*h)//oh)", 13, 3, 19, "ox", "oy", "ow", "oh")} AS sum_b
         |FROM rdims""".stripMargin,

    // Formula replay of the REAL javax.sound.sampled decode: sample i of
    // clip id is ((id*31 + i*7) % 65536) - 32768 (signed 16-bit), WAV PCM
    // is lossless, so these integer stats must equal what Spark parses
    // back out of the actual RIFF container.
    "q_multimodal_audio" ->
      """WITH samp AS (
        |  SELECT doc_id AS media_id,
        |    unnest(range(0, 400 + doc_id % 201)) AS i
        |  FROM documents)
        |SELECT media_id,
        |  count(*) AS n_samples,
        |  CAST(sum((media_id*31 + i*7) % 65536 - 32768) AS BIGINT) AS sum_pcm,
        |  CAST(sum(abs((media_id*31 + i*7) % 65536 - 32768)) AS BIGINT) AS sum_abs,
        |  CAST(max(abs((media_id*31 + i*7) % 65536 - 32768)) AS BIGINT) AS peak
        |FROM samp GROUP BY media_id""".stripMargin,

    // Formula replay of the GVID demux + per-frame decode: sampled frame
    // indices are f = 2*s for s in [0, (n+1)//2); each sampled frame's
    // channel sum nests the (y, x) grid inside the frame loop.
    "q_multimodal_video" -> {
      def videoSum(cId: Int, cF: Int, cX: Int, cY: Int): String =
        s"""CAST(list_sum(list_transform(range((4 + doc_id % 5 + 1) // 2), s ->
           |    list_sum(list_transform(range(h), y ->
           |      list_sum(list_transform(range(w), x ->
           |        (doc_id*$cId + (2*s)*$cF + x*$cX + y*$cY) % 256)))))) AS BIGINT)""".stripMargin
      s"""WITH dims AS (
         |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id*7) % 9 AS h
         |  FROM documents)
         |SELECT doc_id AS media_id,
         |  CAST(4 + doc_id % 5 AS BIGINT) AS n_frames,
         |  CAST((4 + doc_id % 5 + 1) // 2 AS BIGINT) AS n_sampled,
         |  ${videoSum(31, 23, 7, 13)} AS sum_r,
         |  ${videoSum(17, 29, 5, 11)} AS sum_g,
         |  ${videoSum(13, 37, 3, 19)} AS sum_b
         |FROM dims""".stripMargin
    },

    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props,'$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    // src is absent from every document: the all-null column IS the test
    // (typed parsing of a missing field yields null, not an error)
    "q_json_typed" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props,'$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props,'$.src') AS VARCHAR) AS src
        |FROM events""".stripMargin,

    "q_json_agg" ->
      """SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) % 10 AS k_bucket,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin)
}
