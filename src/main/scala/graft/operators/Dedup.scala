package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora.
  *
  * Scale design: every variant avoids the O(n²) all-pairs trap —
  *  - exact: hash-groupBy on content (one shuffle keyed by the content
  *    hash; at 100 TB, group by a 64-bit content hash instead of the full
  *    text so shuffle rows are ~16 bytes);
  *  - n-gram Jaccard: inverted-index self-join on shingles (candidate pairs
  *    only materialize for documents sharing at least one shingle —
  *    the standard explode/join candidate generation);
  *  - MinHash-LSH (see [[MinHashLSH]]): constant-size signatures + banding
  *    so candidate generation is a join on (band, bandHash) buckets.
  */
object Dedup {

  /** THE text canonicalization rule for case/punctuation-insensitive
    * dedup: lowercase, strip every char outside [a-z0-9 ], collapse
    * space runs, trim. Three codegen string ops at the scan; the oracle
    * mirrors them with DuckDB's 'g'-flagged regexp_replace (Spark
    * replaces all occurrences by default). Deliberately ASCII-scoped:
    * the fixture corpus is ASCII, and a Unicode-normalizing variant
    * would hide engine-specific NFC/casefold differences behind the
    * oracle — scope honestly declared here. */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Exact duplicate groups: one row per distinct value of `keyCols`,
    * carrying the canonical (minimum) id and the multiplicity. */
  def exactGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")

  /** The composed production dedup pipeline (SCALE.md run order): exact
    * dedup first (collapses identical texts — removing the hot-bucket skew
    * LSH would otherwise hit), MinHash-LSH candidate generation on the
    * canonical set, then exact n-gram-Jaccard verification of candidates
    * only. Output: verified near-dup pairs (id_a, id_b, jaccard >= t). */
  /** Canonical row per distinct text — min-id survivor plus that row's
    * block (struct min = lexicographic = arg-min by id) — as a
    * (doc_id, lang, text) frame. ONE definition of the canonical rule:
    * [[dedupPipeline]] and CorpusOps.dedupedVerified both derive from it,
    * so the survivor a pipeline keeps and the node set it clusters can
    * never drift apart. */
  def canonicalByText(df: DataFrame, idCol: String, textCol: String,
                      blockCol: String): DataFrame =
    df.groupBy(col(textCol).as("text"))
      .agg(min(struct(col(idCol), col(blockCol))).as("c"))
      .select(col("c")(idCol).as("doc_id"), col("c")(blockCol).as("lang"), col("text"))

  def dedupPipeline(df: DataFrame, idCol: String, textCol: String,
                    blockCol: String, n: Int = 3, threshold: Double = 0.4,
                    numBands: Int = 6, rowsPerBand: Int = 2): DataFrame =
    dedupPipelineFrom(canonicalByText(df, idCol, textCol, blockCol), n, threshold,
      numBands, rowsPerBand)

  /** [[dedupPipeline]] from an already-canonical (doc_id, lang, text)
    * frame — callers that also need the canonical set for survivor
    * filtering (CorpusOps.dedupedVerified) pass it in instead of paying
    * the text-keyed canonical shuffle twice. The band split is a
    * pass-through knob: dense corpora run 3x4 (J^4 per-band collisions),
    * the default stays the reference 6x2. */
  def dedupPipelineFrom(canonical: DataFrame, n: Int = 3,
                        threshold: Double = 0.4,
                        numBands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    val cand = MinHashLSH.candidatePairs(canonical, "doc_id", "text", "lang", n,
      numBands, rowsPerBand)
    // persisted: gsets joins into cand TWICE (id_a and id_b sides, different
    // join keys → no ReusedExchange), and the interpreted-HOF shingle stage
    // is the dominant cost — without the cache it runs twice per execution
    // (same measured trap as ngramJaccardPairs' base / ConnectedComponents'
    // pairs input). Registered with CacheScope: the caller releases it
    // after its action (Verify/Bench do; see CacheScope.withOperatorCaches).
    val gsets = CacheScope.track(canonical
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), n).as("gs"))
      .persist())
    cand
      .join(gsets.select(col("doc_id").as("id_a"), col("gs").as("gs_a")), "id_a")
      .join(gsets.select(col("doc_id").as("id_b"), col("gs").as("gs_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("gs_a"), col("gs_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("gs_a")) + size(col("gs_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding near-duplicate pairs (cosine >= threshold) within blocks,
    * with a block-size guardrail: blocks small enough for exact all-pairs
    * comparison get it (quadratic per block, exact); blocks beyond
    * `maxBlockSize` route through random-hyperplane LSH bucketing at a
    * block-size-ADAPTIVE depth ([[SimilarityLSH.tableBucketsAdaptive]]):
    * p = ceil(log2(b / maxBlockSize)) planes keep bucket occupancy at
    * ~maxBlockSize however hot the block, so per-block work is
    * O(b * maxBlockSize) per table — LINEAR in block size, where a fixed
    * depth merely divides the quadratic by a constant (measured on the
    * 100x probe corpus: fixed p=4 still left 1e8 comparisons per 20k-row
    * block). Recall per table decays as (1-theta/pi)^p — the standard LSH
    * trade; NumTables buys it back at known cost.
    *
    * At 100 TB a single hot block (one dominant label / language / source)
    * would otherwise generate ~10^10+ comparisons on one join task; the
    * guardrail caps exact work at maxBlockSize² per block while keeping
    * small-block results bit-exact — which is also why the declared query's
    * oracle stays valid on data whose blocks are all under the threshold.
    */
  /** Single source of truth for the exact-vs-LSH routing threshold — the
    * declared query's oracle-validity guard derives from the same constant
    * (an oracle that assumed the exact path while a block silently crossed
    * into LSH would drift, not fail).
    *
    * 4096 caps exact work at ~8.4M comparisons (~0.5 GFLOP at Dim=64) per
    * block. The original 100000 was MEASURED to be a scale bug, not a
    * safety margin: ScaleProbe's 100x corpus (200k vectors, 10 labels)
    * put every 20k-row block under the old threshold, and the "guarded"
    * exact path ran 10 x 20k^2 = 4e9 comparisons — 128 s, the slowest
    * query in the probe by 4x (SCALE.md round-4 exponents). */
  val DefaultMaxBlockSize: Long = 4096L

  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, threshold: Double,
                        maxBlockSize: Long = DefaultMaxBlockSize): DataFrame = {
    // norm precomputed ONCE per vector: a per-pair cosine recomputes both
    // norms (3 dot products per comparison — measured 3x the pair-scoring
    // cost on the 100x probe); dividing by the prenormed product instead
    // is dot/(sqrt(aa)*sqrt(bb)), which the oracle replays EXACTLY (same
    // IEEE operation order — NOT the same last-ulp value as
    // sqrt(aa*bb), so Spark and SQL must use the same form)
    // NO Spread here (A/B'd both ways): an id exchange would destroy the
    // CELL-BUCKETED layout the indexed twin reads (its blocked self-join
    // is shuffle-free by construction — q_dedup_semantic_indexed went
    // 0.63 s -> 1.68 s with a spread here) and bought nothing for the
    // label-blocked live path (q_dedup_embedding 0.75 -> 1.68). Callers
    // whose BLOCK is an expensive computed expression spread their raw
    // scan before computing it instead (q_dedup_semantic).
    val base = df.select(col(idCol).as("vec_id"), col(blockCol).as("block"),
                         col(vecCol).as("vec"))
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
    // Block occupancy is one aggregate of #blocks rows. The broadcast hint
    // carries a CONTRACT: blockCol must be low-cardinality (a label /
    // language / source bucket — the only keys blocking makes sense for);
    // #blocks ~ #docs would make this an unbounded broadcast AND make
    // every block size 1 (nothing to dedup). Pinned by HintIsolationSpec
    // alongside the eval-gram set.
    val sizes = base.groupBy("block").agg(count(lit(1)).as("_bs"))
    val sized = base.join(broadcast(sizes), "block")
    val small = sized.filter(col("_bs") <= maxBlockSize)
    val big = sized.filter(col("_bs") > maxBlockSize)

    val pairCos =
      Similarity.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm"))
    val smallPairs = small.as("a").join(small.as("b"),
        col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
              pairCos.as("cos"))
      .filter(col("cos") >= threshold)

    // Adaptive depth: p = ceil(log2(blockSize / maxBlockSize)) extra bits
    // beyond nothing, clamped [NumPlanes, MaxAdaptivePlanes] — bucket
    // occupancy stays ~<= 2*maxBlockSize no matter how hot the block, so
    // per-table join work is O(blockSize * maxBlockSize): LINEAR in block
    // size where a fixed depth stays quadratic (measured: the 100x probe's
    // 20k-row blocks at fixed p=4 cost b^2/16 per table — still 1e8 per
    // block). Depth is a per-block constant (derived from _bs), so every
    // row in a block agrees on the key layout; recall per table decays as
    // (1-theta/pi)^p — raise NumTables to buy it back at known cost.
    val planes = least(
      greatest(lit(SimilarityLSH.NumPlanes),
        ceil(log(2.0, col("_bs").cast("double") / maxBlockSize)).cast("int")),
      lit(SimilarityLSH.MaxAdaptivePlanes))
    val bucketed = big.select(col("vec_id"), col("block"), col("vec"), col("nrm"),
        explode(SimilarityLSH.tableBucketsAdaptive(col("vec"), planes)).as("tb"))
      .select(col("vec_id"), col("block"), col("vec"), col("nrm"),
              col("tb").getField("t").as("t"), col("tb").getField("bk").as("bk"))
    val bigPairs = bucketed.as("a").join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
          col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
              pairCos.as("cos"))
      .filter(col("cos") >= threshold)
      // a pair can collide in up to NumTables buckets: dedup AFTER the
      // threshold filter so only surviving 24-byte pairs reach the exchange
      .groupBy("id_a", "id_b").agg(first(col("cos")).as("cos"))
      .select("id_a", "id_b", "cos")

    smallPairs.unionByName(bigPairs)
  }

  /** Distinct word n-gram (shingle) set from a TOKEN ARRAY column; empty for
    * documents shorter than n tokens (guard needed because Spark's
    * `sequence(1, stop)` DESCENDS when stop < 1 instead of producing an
    * empty array).
    *
    * PERF: callers must pass a materialized token-array column (project
    * `split(text, " ")` first), never `split(...)` inline — higher-order
    * functions evaluate interpreted with no subexpression elimination, so an
    * inline split would re-run the regex for every element_at reference
    * (~300 splits per document; measured 5x slowdown of the whole shingle
    * stage at sf0.1). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          // one slice + one join per shingle instead of n element_at
          // dispatches — same output string, and HOF evaluation is
          // interpreted so per-call dispatch dominates (measured 2.3x on
          // the w=8 spans of duplicatedSpanStats)
          i => array_join(slice(toks, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))

  /** Convenience over a raw text column — only safe where the input frame
    * projects the split once (see shinglesFromTokens). */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(split(text, " "), n)

  /** Default span width for [[duplicatedSpanStats]]: long enough that a
    * shared span means real copied text (8 consecutive tokens is far past
    * coincidence on natural language), short enough that partial overlaps
    * between near-dups still register. Production substring dedup uses
    * ~50-token windows (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better" — the suffix-array ExactSubstr dedup);
    * the fixture corpus' documents are 10-100 tokens, so 8 keeps the
    * operator observable at test scale while the shape is width-agnostic. */
  val DefaultSpanWidth = 8

  /** (doc_id, span) rows: each document's DISTINCT w-token rolling spans
    * (slice+array_join per span — one HOF dispatch instead of w
    * element_at calls, measured 2.3x; same output string as the
    * shinglesFromTokens form). STRING-currency only since round 11: the
    * span-stats/removal family hashes in place via SpanHashesExpression
    * and no longer routes through here — the remaining production caller
    * is the boilerplate extraction query (the per-span transpose), whose
    * OUTPUT is the span surface itself. */
  def spanRows(df: DataFrame, idCol: String, textCol: String,
               w: Int = DefaultSpanWidth): DataFrame =
    toked(df, idCol, textCol)
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), w)).as("span"))

  /** Shared head of the span-family scans: (doc_id, toks) with the corpus
    * spread across the cluster FIRST (Spread.byKey is a no-op on wide
    * scans) — the split + span-hash + explode stage is the family's
    * dominant map cost and a single-row-group scan would run it on one
    * core. */
  private def toked(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Spread.byKey(df.select(col(idCol).as("doc_id"), col(textCol).as("_text")),
        "doc_id")
      .select(col("doc_id"), split(col("_text"), " ").as("toks"))

  /** Exact substring-level duplication profile — the span-granular dedup
    * signal document-level methods (MinHash, SimHash) cannot see: a page
    * that quotes 40 copied tokens inside 400 original ones is a 10% dup
    * by span coverage but far below any document-Jaccard threshold.
    * Production pipelines compute this with suffix arrays over the corpus
    * (ExactSubstr, Lee et al. 2022); the distributed re-expression is
    * rolling w-token windows hashed to 64 bits — every span occurrence
    * becomes one ~16-byte (doc_id, hash) row, duplication is a count of
    * DISTINCT docs per hash, and the verdict joins back to the doc.
    *
    * Output: per document, its distinct span count, how many of those
    * spans also occur in ANOTHER document, and the duplicated fraction —
    * the score a span-level curation filter thresholds on. Documents
    * shorter than `w` tokens have no spans and are absent (nothing to
    * judge — a filter passes them through).
    *
    * Scale: tokens never leave the scan — spans are hashed in-place
    * (portable 60-bit hash, so the whole pipeline replays in DuckDB);
    * the span-frequency relation is a map-side-combined aggregate joined
    * back SHUFFLED on the 8-byte hash (vocabulary-sized build side, the
    * q_text_tfidf / ngramJaccardPairs df rule: never broadcast). Hot
    * boilerplate spans are NOT an AQE-skew concern here — measured, not
    * assumed (SCALE.md round-5 boilerplate probe): sharing the h-exchange
    * between the frequency aggregate and the join makes the plan
    * one-exchange-cheap and structurally outside OptimizeSkewedJoin's
    * bare-shuffle-children pattern, and a hot probe partition joins its
    * rows against ONE build row — linear work, measured flat at a key
    * carrying 11% of all span rows. A hash collision
    * can only mark a span duplicated, never unmark one, and the same
    * hash is replayed by the oracle, so results are still exact-compare.
    */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
                          w: Int = DefaultSpanWidth): DataFrame = {
    // The span subtree feeds BOTH the frequency aggregate and the join
    // probe, and is deliberately recomputed (two scans) rather than
    // persisted — the q_text_tfidf rule: a corpus-sized exploded frame is
    // not a 100 TB persist candidate, and the recomputed stage is narrow
    // scan work (split + hash, no shuffle).
    // Spans are hashed IN PLACE by the codegen kernel (SpanHashesExpression
    // — no per-span HOF dispatch, no span-string allocation, longs through
    // the explode instead of ~50-byte strings; round-11 A/B in SCALE.md)
    // and made distinct per doc in HASH currency: self-repetition within
    // one doc is q_text_repetition's signal, not cross-doc duplication —
    // count each doc once per span. Hash-distinct is the same currency the
    // removal family's oracle uses (count(DISTINCT doc_id) per h), and the
    // stats oracle replays it identically.
    // NO Spread here (A/B'd): the span-hash kernel is cheap codegen and
    // this shape recomputes the span subtree twice — the id exchange cost
    // more than the parallelism bought (0.40 s -> 0.58 s at sf0.1)
    statsFromDistinctHashes(
      df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.expressions.SpanHash.span_hashes(col("toks"), w))).as("h")),
      "n_spans", "n_dup_spans")
  }

  /** The winnowing window: per k=4 consecutive span hashes keep the
    * minimum (Schleimer et al. 2003) — ~2/(k+1) of the span mass survives
    * while any shared run of >= DefaultSpanWidth + WinnowWindow - 1
    * tokens still forces a shared fingerprint. ONE definition shared by
    * the Spark queries and the DuckDB oracle builders (review finding:
    * scattered inline k constants desynchronize silently). */
  val WinnowWindow = 4

  /** [[duplicatedSpanStats]] computed over the WINNOWED fingerprint set —
    * the subsampled operating point a 100 TB span-granular pass runs at
    * (see SpanHash.winnowHashes for the selection guarantee). Same
    * one-exchange frequency-join shape, shared via
    * [[statsFromDistinctHashes]]. */
  def winnowedSpanStats(df: DataFrame, idCol: String, textCol: String,
                        w: Int = DefaultSpanWidth,
                        k: Int = WinnowWindow): DataFrame =
    // NO Spread (same A/B as duplicatedSpanStats: 0.32 s -> 0.53 s)
    statsFromDistinctHashes(
      df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.expressions.SpanHash.winnow_hashes(col("toks"), w, k))).as("h")),
      "n_fingerprints", "n_dup_fps")

  /** Shared tail of the span-granular duplication profiles: per-doc
    * distinct (doc_id, h) rows → cross-doc frequency → per-doc dup
    * counts/ratio. Input rows MUST be distinct per doc (array_distinct
    * upstream), so the distinct-doc count per hash is a plain row count —
    * count_distinct here would add a SECOND full exchange of the span
    * rows (partial distinct shuffles (h, doc_id), then h) for nothing;
    * measured 24M shuffled rows saved at the 100x probe scale. Two spans
    * of one doc colliding into one h would count that doc twice (~2^-60
    * per pair); the oracles count the same rows, so results still
    * hash-match. */
  private def statsFromDistinctHashes(spans: DataFrame,
                                      nCol: String, dupCol: String): DataFrame = {
    val freq = spans.groupBy("h")
      .agg(count(lit(1)).as("nd"))
    spans.join(freq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as(nCol),
           sum(when(col("nd") >= 2, 1L).otherwise(0L)).as(dupCol))
      .withColumn("dup_ratio",
        col(dupCol).cast("double") / col(nCol))
  }

  /** The REMOVAL artifact of substring dedup — the corpus with cross-doc
    * duplicated spans excised, which is the Lee et al. 2022 pipeline's
    * actual deliverable ([[duplicatedSpanStats]] is its scoring half).
    *
    * Deterministic boundary rule (what makes the output oracle-replayable):
    * a token is removed iff ANY w-token span covering it occurs in >= 2
    * distinct documents; the cleaned text is the remaining tokens joined
    * in order. No greedy/leftmost tie-breaks — coverage is a pure union,
    * so engines can't disagree on overlap resolution.
    *
    * Scale: span hashing is the same in-scan pipeline as
    * duplicatedSpanStats (positions carried along); the span-frequency
    * relation joins back SHUFFLED on the 8-byte hash (df rule — never
    * broadcast; hot spans are measured NOT to need skew handling — see
    * [[duplicatedSpanStats]] and the SCALE.md round-5 boilerplate
    * probe). Reconstruction is narrow:
    * the doc's token array never explodes — only the (doc_id, position)
    * rows of DUPLICATED spans shuffle into a per-doc covered-set, and one
    * id-keyed join hands each doc its covered positions for an in-place
    * HOF filter. The corpus text crosses exactly one exchange (the
    * id-keyed join every enrichment pays); dup-span positions are the
    * only extra shuffled mass, proportional to the duplication actually
    * found, not to corpus size.
    *
    * Output: (doc_id, text_clean, n_removed) for EVERY input document —
    * docs shorter than w tokens (no spans) pass through unchanged,
    * fully-duplicated docs come out empty with n_removed = their length.
    *
    * `minDocs` selects which spans count as removable: 2 = any cross-doc
    * duplication (the Lee et al. dedup artifact); 3 = the boilerplate
    * threshold (q_boilerplate_spans' cutoff — strips navigation chrome /
    * license headers while leaving one-off quotations alone).
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            w: Int = DefaultSpanWidth,
                            minDocs: Int = 2): DataFrame = {
    val toks = toked(df, idCol, textCol)
    // ALL span occurrences with start positions (0-based) — NOT distinct:
    // a span recurring inside one doc must cover both its sites once the
    // span is known-duplicated across docs. The codegen span-hash kernel
    // emits every span's hash in start order in ONE static call
    // (SpanHashesExpression), so posexplode yields (i, h) directly —
    // r5 had already moved the md5 out of the interpreted lambda (4x,
    // 10.9 s -> 2.7 s at x1); r11 removes the span-string HOF and the
    // string explode entirely (longs through the explode).
    val occ = toks
      .select(col("doc_id"),
        posexplode(graft.functions.expressions.SpanHash
          .span_hashes(col("toks"), w)).as(Seq("i", "h")))
    // cross-doc frequency over PER-DOC-DISTINCT span hashes — the
    // duplicatedSpanStats shape: its row count per hash IS the
    // distinct-doc count, one exchange; deriving the same relation from
    // the positional rows above would need a distinct aggregate first
    // (a second full exchange of every span row for nothing). Hash-level
    // distinct is exactly the removal oracle's count(DISTINCT doc_id)
    // currency.
    val freq = toks
      .select(explode(array_distinct(graft.functions.expressions.SpanHash
        .span_hashes(col("toks"), w))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("nd"))
    val covered = occ.join(freq.filter(col("nd") >= minDocs), "h")
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (w - 1))).as("p"))
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("cov"))
    // corpus-derived covered-set: id-keyed SHUFFLED join (never broadcast)
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"),
        array_join(
          transform(
            filter(
              transform(col("toks"),
                (t, i) => struct(t, i).cast("struct<tok:string,pos:int>")),
              s => !array_contains(col("cov"), s.getField("pos"))),
            s => s.getField("tok")),
          " ").as("text_clean"),
        size(col("cov")).cast("long").as("n_removed"))
  }

  /** Near-duplicate pairs by exact n-gram Jaccard, with PPJoin-style prefix
    * filtering for candidate generation (exact — no false negatives):
    *
    * order each document's shingles by ascending global document frequency
    * (rarest first); any pair with Jaccard >= t must share at least one
    * shingle among each side's first `|G| - ceil(t*|G|) + 1` shingles, so
    * the inverted-index join runs only over those prefixes. This removes
    * the most frequent shingles — exactly the ones whose f^2 pair blowup
    * dominates a naive shingle join — from candidate generation. Candidates
    * are then verified exactly with one per-pair `array_intersect` (hash
    * intersection inside codegen, no shuffle).
    *
    * Jaccard = |A∩B| / (|A|+|B|−|A∩B|); the division is one exact int/int
    * IEEE op, so scores are engine-portable.
    *
    * EAGER construction (the repo's documented eager-operator pattern,
    * like the KMeans/codebook operators): calling this method runs a
    * Spark job — the gram-frequency histogram collect that sizes the
    * effective posting cap — and the returned plan's SHAPE (banded
    * branch attached or not) is specialized to the input's statistics at
    * construction time. Construct over the final data (a frame built
    * over a mutating view keeps the stale regime decision), and don't
    * construct in a hot path unless the frame will be executed: the
    * histogram aggregate is paid even if it never is.
    */
  /** Guardrail for [[ngramJaccardPairs]]'s candidate join: a prefix gram
    * shared by f documents contributes ~f^2/2 candidate pairs, so one hot
    * posting list is the whole quadratic risk (measured: the dense-vocab
    * probe corpus drove ~n^2.07 growth, 180 s at x30 — the last declared
    * query that could still go quadratic unbounded, round-5 verdict
    * item 5). The routing signal is the per-block gram DOCUMENT FREQUENCY
    * `df_` that candidate generation already computes and joins for the
    * PPJoin prefix ordering — a prefix posting list is a subset of the
    * gram's full posting list, so `df_ <= cap` bounds every exact-path
    * bucket at cap rows (~cap^2/2 pairs; 1024 → ~0.5M) with ZERO extra
    * plan nodes, where the previous per-bucket count needed a second
    * aggregate + shuffled join that roughly doubled the operator's
    * common-case cost (round-6 verdict). It also catches the regime the
    * guardrail exists for — a dense vocabulary where every gram is common
    * and prefix filtering prunes nothing — by construction, since df is
    * measured BEFORE prefix selection. Prefix rows at or under the cap
    * stay on the exact PPJoin path (bit-exact, oracle-checkable);
    * documents carrying a hotter prefix gram route through banded-MinHash
    * candidate generation over their FULL gram sets — the
    * [[embeddingNearDups]] pattern — where exact verification still
    * discards every false positive, so the trade is RECALL on pairs whose
    * only shared grams are corpus-hot (the pairs least likely to be true
    * near-dups). NgramJaccardSpec asserts every fixture's max per-block df
    * stays under this (now the EXACT oracle-validity condition, not just a
    * sufficient one) and that a pair sharing ONLY hot grams is still found
    * via the banded branch when the guardrail is forced on. */
  val DefaultMaxPostingSize: Long = 1024L

  /** Aggregate-volume companion to [[DefaultMaxPostingSize]]: the per-gram
    * cap bounds each BUCKET's f^2/2 pairs, but a dense vocabulary — every
    * gram common, none individually over the cap — still drives the TOTAL
    * candidate volume Sigma f^2/2 quadratic in corpus size (measured on
    * the dense-vocab probe corpus: the x30 exact-path candidate join
    * spilled past 70 GB of disk and died, with no single posting list
    * anywhere near 1024). So the operator budgets total pair mass: from
    * the distinct-FREQUENCY histogram of the already-aggregated df
    * relation (one bounded collect — at most one row per distinct
    * frequency value, O(sqrt(gram occurrences)) rows, never corpus-sized)
    * it picks the largest cap whose cumulative Sigma n_f * f(f-1)/2 over
    * f <= cap fits this budget; hotter grams route their documents through
    * the banded branch. Sparse corpora (every sf fixture: pair mass
    * ~1e5 << budget) keep the FULL exact path, so the oracle stays valid;
    * dense corpora hand off to banded automatically instead of spilling.
    * The budget is sized by the VERIFICATION stage, not the candidate
    * join: each surviving candidate carries both documents' gram ARRAYS
    * (~1 KB/row on 50-gram docs) through the verify shuffle, so 4M pairs
    * ~ 4 GB shuffled — a 64M budget was measured to spill >50 GB on the
    * x30 dense probe corpus at exactly that stage. Per executor-core this
    * is ~128 MB; on a 1000-core cluster the same default verifies 4M
    * pairs per corpus partition-set without pressure — callers with wider
    * documents should scale it down proportionally. */
  val DefaultMaxCandidatePairs: Long = 4000000L

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int, threshold: Double,
                        maxPostingSize: Long = DefaultMaxPostingSize,
                        maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame = {
    // tokens materialized as their own projection (see shinglesFromTokens),
    // then the per-doc gram arrays are persisted: the downstream branches
    // (prefix index, pair verification) would otherwise each recompute the
    // shingle stage from the scan. Registered with CacheScope so the
    // caller releases it after its action (Verify/Bench do).
    val base = CacheScope.track(
      Spread.byKey(df.select(col(idCol).as("doc_id"), col(blockCol).as("block"),
                   col(textCol).as("_text")), "doc_id")
        .select(col("doc_id"), col("block"), split(col("_text"), " ").as("toks"))
        .select(col("doc_id"), col("block"),
                shinglesFromTokens(col("toks"), n).as("grams"))
        .withColumn("sz", size(col("grams")))
        .persist())
    val exploded = base.select(col("doc_id"), col("block"), col("sz"),
                               explode(col("grams")).as("gram"))
    // The whole prefix pipeline runs on a 64-bit gram hash, never the
    // gram string: the frequency aggregate, its join back, and the window
    // all shuffle longs. Collisions cannot cost recall — hashing can only
    // MERGE tokens, so the hashed-token Jaccard of any pair is >= its
    // string Jaccard and the candidate set is a superset of the exact
    // one; verification below (on the true gram arrays) discards every
    // false positive. The hash order (df_ asc, gh asc) is a consistent
    // global total order, which is all PPJoin's prefix theorem needs —
    // frequency ordering is a pruning heuristic, not a correctness
    // condition.
    val hashed = exploded.select(col("doc_id"), col("block"), col("sz"),
                                 xxhash64(col("gram")).as("gh"))
    // Document frequency: map-side-combined aggregate + plain SHUFFLED
    // join back (NO broadcast hint). The shingle vocabulary is
    // corpus-sized (billions of distinct grams at 100 TB), so the round-2
    // broadcast of the frequency table was a driver OOM; and a window
    // count over (block, gh) — the other broadcast-free form — would
    // route every occurrence of a hot boilerplate gram to ONE
    // unsplittable window task. The aggregate bounds the build side at
    // vocabulary size via partial aggregation, and a hot gram on the
    // probe side is a JOIN skew, which AQE splits at runtime
    // (AqeSkewJoinSpec demonstrates exactly that mechanism).
    // NOT persisted, even though the guardrail probe below materializes
    // it once: caching the aggregate was measured to SLOW the whole query
    // (4.6-5.6 s vs 2.8 s quiet at sf0.1) — the InMemoryRelation blocks
    // the exchange reuse the downstream self-join depends on, the same
    // trap documented at the self-join below.
    val freq = hashed.groupBy("block", "gh").agg(count(lit(1)).as("df_"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df_").asc, col("gh").asc)
    val prefixes = hashed
      .join(freq, Seq("block", "gh"))
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("doc_id"), col("block"), col("sz"), col("df_"), col("gh"))
    // Effective cap = the per-gram posting cap, tightened until the TOTAL
    // exact-path pair mass fits the candidate budget (see
    // DefaultMaxCandidatePairs): from the distinct-frequency histogram of
    // `freq` — a bounded eager collect, at most one row per distinct
    // frequency value — walk frequencies ascending and keep the largest
    // cap whose cumulative Sigma n_f * f(f-1)/2 stays inside the budget.
    // Sparse corpora land on maxPostingSize unchanged (the sf-fixture /
    // oracle-validity regime); dense corpora tighten the cap and hand the
    // hot grams' documents to the banded branch instead of letting the
    // self-join's output go quadratic. This one probe job also decides
    // whether the banded branch exists at all and warms `base`'s persist
    // for the main action.
    val hist = freq.groupBy("df_").agg(count(lit(1)).as("n_grams")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val effCap: Long = {
      var cum = 0.0
      var c = 1L
      for ((f, ng) <- hist if f <= maxPostingSize) {
        cum += f.toDouble * (f - 1) / 2 * ng
        if (cum <= maxCandidatePairs) c = f
      }
      math.min(maxPostingSize, c)
    }
    val hasHot = hist.exists(_._1 > effCap)
    // Guardrail routing reads the df_ ALREADY on each prefix row (see
    // DefaultMaxPostingSize): df bounds the gram's posting-list size from
    // above, so no per-bucket count — and no second aggregate + shuffled
    // join — is needed to keep every exact-path bucket under the cap.
    val small = prefixes.filter(col("df_") <= effCap)
      .select("doc_id", "block", "sz", "gh")
    // NOT persisted: the self-join's two sides are identical subplans, so
    // Spark's ReusedExchange already computes the window shuffle once;
    // caching here was measured to DEFEAT that reuse (6s -> 22s at sf0.1)
    // Length filter (lossless): J(A,B) >= t forces t*|B| <= |A| (and
    // symmetrically), so size-mismatched collisions are dropped INSIDE the
    // join before the expensive distinct+verify stages — the standard
    // companion to prefix filtering, and the one that still prunes when a
    // dense vocabulary defeats the prefix (this corpus).
    val candExact = small.as("a")
      .join(small.as("b"),
        col("a.gh") === col("b.gh") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") >= col("b.sz") * threshold &&
          col("b.sz") >= col("a.sz") * threshold)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    // Documents whose prefix carries a hot gram (df over the cap)
    // generate candidates via banded MinHash over their FULL gram sets
    // instead of the f^2 bucket join — per-document work becomes constant
    // (k permutation minima + band emission), and the dense-corpus 3x4
    // split holds the collision count down. Verification below is shared,
    // so a banded false positive costs one array_intersect, same as an
    // exact-path one.
    //
    // The branch is attached only when a hot gram EXISTS (decided by the
    // histogram probe above): in the common no-hot-gram case the query
    // plan IS the exact PPJoin plan, with none of the branch's runtime
    // machinery — the hotDocs aggregate, an AQE replan round, and a wider
    // union+distinct.
    val cand = if (!hasHot) candExact.distinct() else {
      val hotDocs = prefixes.filter(col("df_") > effCap)
        .select("block", "doc_id").distinct()
      val candBanded = MinHashLSH.candidatesFromBanded(
        MinHashLSH.banded(
          MinHashLSH.signaturesFromHashes(
            exploded.join(hotDocs, Seq("block", "doc_id"), "left_semi")
              .select(col("doc_id"), col("block"),
                      (graft.functions.PortableHash.hash60(col("gram"))
                        % graft.functions.PortableHash.P).as("gh")),
            MinHashLSH.BandedBands, MinHashLSH.BandedRows),
          MinHashLSH.BandedBands, MinHashLSH.BandedRows))
      candExact.union(candBanded).distinct()
    }
    cand
      .join(base.select(col("doc_id").as("id_a"), col("grams").as("grams_a"),
                        col("sz").as("sz_a")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("grams").as("grams_b"),
                        col("sz").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("grams_a"), col("grams_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
