package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed **two-phase prefix sums** — the scale-safe replacement
  * for a partition-less running-sum window, which funnels the entire
  * ordered stream through ONE task. Shared by sequence packing
  * ([[Chunking]]'s token offsets) and the classifier calibration sweep
  * ([[graft.queries.LlmOps]]) — any operator needing "cumulative X in
  * key order" over a frame that can be large at corpus scale.
  *
  * Phase 1 range-partitions by the order key — so partition order IS
  * key order — and runs the running-sum window WITHIN each partition;
  * phase 2 aggregates one total per partition and prefix-sums those (a
  * global window over partition-count rows — O(P), bounded by the
  * shuffle-partition setting regardless of input size), broadcasting
  * each partition's base offset back through an equi-join. The
  * spec-asserted invariant: every partition-less Window in the plan
  * sits above an aggregate, never over the row stream. */
object PrefixSum {

  /** Per-row INCLUSIVE running sums of the long-typed `values` columns
    * under the TOTAL order `order` — emits the input columns plus
    * `<v>_cum` for each. Order keys must be UNIQUE: rows tying on the
    * key would take frame-position-dependent (nondeterministic)
    * cumulative values. Exclusive prefixes are `<v>_cum - <v>`.
    *
    * The range-partitioned frame is persisted ([[Dedup.memoPersist]])
    * so the totals job and the per-row job see the SAME physical
    * partitioning and partition ids; without it, AQE could re-coalesce
    * the exchange differently between the two jobs and mis-pair
    * partition totals with rows. */
  def runningSums(df: DataFrame, order: Seq[Column],
      values: Seq[String], rowBound: Long = -1L): DataFrame = {
    require(values.nonEmpty, "runningSums needs at least one value column")
    // optional width derivation (r15): a caller that already holds the
    // frame's row count passes it, and the range exchange takes
    // ⌈rows/256Ki⌉ partitions instead of the session width — a 196-row
    // calibration sweep otherwise schedules 32 near-empty tasks in all
    // three phase jobs. Unknown bound (-1) keeps the session width.
    val ranged =
      if (rowBound >= 0L)
        df.repartitionByRange(Spread.derivedWidth(df.sparkSession, rowBound), order: _*)
      else df.repartitionByRange(order: _*)
    val meta = Dedup.memoPersist(
      ranged.withColumn("__pid", spark_partition_id()))
    val within = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val basew = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val aggs = values.map(v => sum(col(v)).as(s"__t_$v"))
    val bases = meta.groupBy(col("__pid")).agg(aggs.head, aggs.tail: _*)
      .select(col("__pid") +: values.map(v =>
        coalesce(sum(col(s"__t_$v")).over(basew), lit(0L)).as(s"__b_$v")): _*)
    meta.join(broadcast(bases), Seq("__pid"))
      .select(df.columns.map(col).toSeq ++ values.map(v =>
        (col(s"__b_$v") + sum(col(v)).over(within)).as(s"${v}_cum")): _*)
  }
}
