package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scale-adaptive scan spreading for CPU-heavy map stages.
  *
  * The sf testdata tables are SINGLE row-group parquet files, so a bare
  * scan yields one working partition no matter how Spark splits byte
  * ranges — and every expensive pre-exchange map stage (shingling, span
  * hashing, tokenization, codec work) ran on one core of a 32-core host
  * (guide §2.5 "input skew: one huge unsplittable file — repartition
  * immediately after the read"). At production scale the same tables
  * arrive as thousands of files/row groups and the scan is already wider
  * than the cluster, so the repartition must be CONDITIONAL: it fires
  * only when the planned scan has materially fewer partitions than the
  * cluster has cores, and is a no-op otherwise. Partitioning is by a
  * deterministic hash of the caller's id column — stable under task
  * retries (guide §2.5 warns against rand-derived keys) and unique per
  * row, so it spreads evenly.
  *
  * Width probe: `df.rdd.getNumPartitions` plans the whole query
  * physically just to read a partition count — measured ~12 ms per call
  * under the bench session, paid on every minhash/simhash/kmeans
  * construction. For the common shape — Project/Filter chains over ONE
  * non-bucketed file relation — the width is instead read from the
  * relation's (cached) file listing by Spark's own split code, no
  * planning at all: `FilePartition.maxSplitBytes` over the partitions
  * that survive the chain's partition filters, `PartitionedFileUtil
  * .splitFiles` per file, `FilePartition.getFilePartitions` to pack them
  * (the sequence `FileSourceScanExec` runs). Calling Spark instead of
  * copying it keeps the count equal to the physical probe's, including
  * the `maxPartitionNum` coalescing and every later change to the
  * packer; SpreadSpec pins the equality on narrow, filtered, multi-file
  * and wide scans. Anything else (joins, cached frames, shuffles
  * upstream, bucketed tables) falls back to the physical probe.
  */
object Spread {

  /** Planned width of `df`'s scan: the file-split count for plans that
    * are Project/Filter/alias chains over one file relation, else the
    * physical plan's partition count. */
  private def plannedWidth(df: DataFrame): Int =
    fileScanWidth(df).getOrElse(df.rdd.getNumPartitions)

  private[operators] def fileScanWidth(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    // the relation under the chain, with every filter conjunct on the way
    def walk(p: LogicalPlan, conds: Seq[Expression])
        : Option[(LogicalRelation, HadoopFsRelation, Seq[Expression])] = p match {
      case Project(_, c) => walk(c, conds)
      case Filter(cond, c) => walk(c, conds ++ conjuncts(cond))
      case SubqueryAlias(_, c) => walk(c, conds)
      case lr: LogicalRelation =>
        lr.relation match {
          // bucketed tables scan one partition per bucket, not per byte
          // split — leave them to the physical probe
          case fs: HadoopFsRelation if fs.bucketSpec.isEmpty => Some((lr, fs, conds))
          case _ => None
        }
      case _ => None
    }
    walk(df.queryExecution.analyzed, Nil).map { case (lr, fs, conds) =>
      val session = df.sparkSession
      // partition pruning as FileSourceStrategy does it: the deterministic
      // conjuncts over partition columns only (a conjunct over an alias
      // further up is skipped — the width then over-estimates, which
      // errs towards the no-op)
      val partCols = fs.partitionSchema.fieldNames.toSet
      val partAttrs = AttributeSet(lr.output.filter(a => partCols.contains(a.name)))
      val partFilters = conds.filter(c => c.deterministic &&
        c.references.nonEmpty && c.references.subsetOf(partAttrs))
      // the listing is cached by the relation's FileIndex — reading it is
      // a map lookup after the first scan of the table
      val dirs = fs.location.listFiles(partFilters, Nil)
      val maxSplit = FilePartition.maxSplitBytes(session, dirs)
      val splits = dirs.flatMap { d =>
        d.files.flatMap { f =>
          PartitionedFileUtil.splitFiles(f, f.getPath,
            fs.fileFormat.isSplitable(session, fs.options, f.getPath),
            maxSplit, d.values)
        }
      }.sortBy(_.length)(Ordering[Long].reverse)
      FilePartition.getFilePartitions(session, splits, maxSplit).size
    }
  }

  /** `df` hash-partitioned on `key` across `defaultParallelism` when the
    * planned scan is narrower than half the cluster; `df` unchanged
    * otherwise. The width probe is plan-free for scan-rooted frames and
    * plan-only otherwise — no job runs either way. */
  def byKey(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedWidth(df) * 2 <= target) df.repartition(target, col(key))
    else df
  }

  /** [[byKey]] without a key column: round-robin spread. Spark's
    * sort-before-repartition (on by default, SPARK-23207) keeps the
    * row-to-partition assignment deterministic under task retries; use
    * only above order-insensitive consumers (exact-decimal aggregates,
    * per-row maps) all the same. */
  def any(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedWidth(df) * 2 <= target) df.repartition(target)
    else df
  }
}
