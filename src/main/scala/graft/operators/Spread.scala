package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LeafNode, LogicalPlan, Project, SubqueryAlias}

/** Scan-parallelism repair for CPU-dense operators (r14 optimization
  * round; guide §2.5 "input skew: one huge unsplittable file …
  * repartition immediately after the read").
  *
  * The failure mode: a corpus that arrives as few (or single-row-group)
  * files plans as a handful of scan partitions, and every per-row-heavy
  * projection BEFORE the first exchange — md5-per-token featureization,
  * segment hashing, per-pair dot products, conditional-aggregate scans —
  * runs on that handful of tasks while the rest of the cluster idles
  * (the r14 baseline's par≈1.5 cluster: quality_classifier,
  * exact_pct_search, boilerplate_frequent, column_stats …).
  *
  * [[cpuHeavy]] round-robins such a frame up to the session's shuffle
  * parallelism — but ONLY when the planned scan is narrower than that,
  * so at real scale (thousands of input splits) it is a no-op and the
  * plan keeps its shuffle-free shape. The exchange it inserts moves the
  * raw rows once; every call site below pays it only because the stage
  * it feeds is measured ≫ the exchange (the [[graft.operators
  * .EntityResolution]] precedent, where the same trade measured
  * 4.5 s → 1.3 s).
  *
  * Scan-rooted frames only — and since r15 that precondition is
  * ENFORCED, not just documented (r14 advice): the partition-count
  * probe (`.rdd`) plans but never runs a job on a scan/Project/Filter
  * chain, while on a post-shuffle frame it would materialize AQE query
  * stages eagerly (running jobs at construction that the later
  * execution does not reuse). [[cpuHeavy]] now inspects the analyzed
  * plan and passes anything that is not a Project/Filter/alias chain
  * over a leaf through untouched — the safe default for the public
  * operators that accept arbitrary frames (Boilerplate.scrubFrequent*,
  * Sampling.quantilesBySearch): a frame with an upstream exchange
  * already has that shuffle's parallelism. Streaming frames pass
  * through untouched: their parallelism is the source's.
  * Round-robin repartition is deterministic under retries (Spark sorts
  * before round-robin, SPARK-23207) and every caller's arithmetic is
  * partition-order-free (integer/decimal sums, exact counts, per-row
  * projections), so oracle hashes are unchanged — asserted per caller by
  * the driver gate. */
object Spread {

  def cpuHeavy(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    if (!scanRooted(df.queryExecution.analyzed)) return df
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** Partition-count repair in the OTHER direction: coalesce a small
    * iterative intermediate to a row-count-derived width before its
    * per-round `localCheckpoint` (r15). The failure mode is the mirror
    * image of [[cpuHeavy]]'s: a node-sized rank/distance/edge frame
    * inherits the session's full shuffle width from its last exchange,
    * the checkpoint materializes all those near-empty partitions, and
    * every stage of every subsequent round pays width × scheduling
    * floor (graph_pagerank_fp: 91 jobs of 32-task stages over 25 rows —
    * ~3,000 tasks of pure floor). The width is DERIVED, not constant:
    * ⌈rows / 256 Ki⌉ clamped to [1, session shuffle parallelism], so a
    * 25-node bench graph checkpoints 1 partition while a billion-node
    * production frame keeps the full configured width (guide §2's
    * scale-adaptive partitioning rule). `coalesce` (not repartition):
    * no shuffle, and a target ≥ the current width is a no-op. Callers
    * pass a row BOUND they already hold (a convergence-probe count, the
    * node count) — exact integer arithmetic downstream is
    * partition-order-free, so oracle hashes are unchanged. */
  def shrinkTo(df: DataFrame, rowBound: Long): DataFrame =
    df.coalesce(derivedWidth(df.sparkSession, rowBound))

  /** [[shrinkTo]]'s keyed sibling: hash-repartition on `keys` at the
    * same row-count-derived width, placed immediately before a
    * groupBy/join on the same keys so the downstream operator REUSES
    * the exchange (one shuffle, explicit width) instead of adding its
    * own session-wide one. For iterative operators whose actions run on
    * the RDD path, where AQE coalescing never fires. */
  def shrinkKeyed(df: DataFrame, rowBound: Long,
      keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(derivedWidth(df.sparkSession, rowBound), keys: _*)

  /** The row-count-derived width shared by [[shrinkTo]], [[shrinkKeyed]]
    * and [[PrefixSum.runningSums]]: ⌈rowBound / 256 Ki⌉ clamped to
    * [1, session shuffle parallelism] (a negative bound counts as 0). */
  private[graft] def derivedWidth(spark: SparkSession, rowBound: Long): Int = {
    val n = spark.sessionState.conf.numShufflePartitions
    val rowsPerPartition = 1L << 18
    math.max(1L, math.min(n.toLong,
      (math.max(rowBound, 0L) + rowsPerPartition - 1) / rowsPerPartition)).toInt
  }

  /** True iff the analyzed plan is a Project/Filter/alias chain over a
    * single leaf — the shapes whose `.rdd` probe is plan-only. Anything
    * else (joins, aggregates, repartitions, unions) either already owns
    * an exchange's parallelism or would pay eager AQE stage
    * materialization for the probe. */
  private def scanRooted(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case Project(_, child) => scanRooted(child)
    case Filter(_, child) => scanRooted(child)
    case SubqueryAlias(_, child) => scanRooted(child)
    case _ => false
  }
}
