package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** The broadcast-hint rule, with size-based auto-broadcast OFF so that
  * every BroadcastExchange left in a plan comes from an explicit hint.
  * A hint is legal ONLY on a relation bounded by construction or
  * contract — the eval gram set (q_decontaminate, and the verify
  * relation of q_decontaminate_bloom, whose bloom bits are a plan
  * constant, never an exchange) and the per-block count aggregate
  * (q_dedup_embedding: #blocks rows, low-cardinality blockCol by
  * contract). CORPUS-sized relations (contaminated ids, gram df, term
  * tf, covered-span sets, dropped-id sets, vocabulary-keyed counts) must
  * flow through shuffled joins and show NO BroadcastExchange here. With
  * auto-broadcast on, tiny fixtures MAY broadcast them: that is
  * Catalyst's statistics-based choice, which reverts to shuffle joins at
  * real sizes — the defect this pins is an unconditional hint. */
class HintIsolationSpec extends SparkSpec {

  /** Queries whose every relation is corpus-derived: no hint anywhere. */
  private val corpusOnly = Seq(
    "q_dedup_ngram_jaccard", "q_text_fluency", "q_corpus_dedup_full",
    "q_text_tfidf", "q_corpus_dedup_verified", "q_mix_sources",
    "q_dedup_substring", "q_boilerplate_spans", "q_dedup_substring_removal",
    "q_text_lm_bigram", "q_curation_funnel", "q_text_collocations")

  /** Queries that hint a bounded relation: at most this many
    * BroadcastExchanges (q_dedup_embedding's one hinted block-size
    * aggregate appears once per branch that reads the sized rows). */
  private val bounded = Map(
    "q_decontaminate" -> 1,
    "q_decontaminate_bloom" -> 1,
    "q_dedup_embedding" -> 4)

  /** BroadcastExchanges in the (initial) adaptive plan, subqueries included. */
  private def broadcasts(p: SparkPlan): Int = p.collectWithSubqueries {
    case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
    case q: QueryStageExec => broadcasts(q.plan)
    case _: BroadcastExchangeExec => 1
  }.sum

  private def withoutAutoBroadcast[T](body: => T): T = {
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(k)
    try {
      spark.conf.set(k, "-1")
      body
    } finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  private def count(name: String): Int = withoutAutoBroadcast {
    val n = broadcasts(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
    spark.catalog.clearCache()
    graft.operators.CacheScope.releaseAll()
    n
  }

  corpusOnly.foreach { name =>
    test(s"$name broadcasts nothing without size-based auto-broadcast") {
      assert(count(name) == 0, s"$name hints a broadcast of a corpus-derived relation")
    }
  }

  bounded.foreach { case (name, max) =>
    test(s"$name broadcasts at most its $max bounded relation(s)") {
      val n = count(name)
      assert(n <= max, s"$name has $n BroadcastExchanges, the bounded hints allow $max")
    }
  }
}
