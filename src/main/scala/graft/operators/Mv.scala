package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for MERGEABLE aggregates —
  * the warehouse pattern that keeps a grouped rollup fresh without
  * rescanning history: `new_view = old_view ⊕ agg(delta)`, legal exactly
  * when every measure is a commutative monoid fold (count/sum add,
  * min/max fold by least/greatest — the same algebra that makes Spark's
  * own partial aggregation correct). AVG and friends ride as (sum, n)
  * pairs; non-mergeable measures (exact distinct, exact percentile) are
  * precisely the ones [[graft.queries.DataCleaning]]'s `hll_rollup`
  * documents the sketch answer for.
  *
  * Work is ∝ |view| + |delta|: one aggregate over the delta (map-side
  * partials, as always) and ONE full-outer equi-join on the group keys —
  * hash-partitioned, no base-table rescan anywhere. The base table is
  * only ever read by the initial build, which is the entire point: at
  * 100 TB the view is rebuilt never, refreshed every ingest. The
  * registered `mv_refresh` query's oracle is the full recompute over
  * base+delta, so the driver gate proves ⊕ ≡ recompute on real data
  * (the `scd2_merge` discipline: incremental path answers the batch
  * SQL). Sibling of [[Upsert.upsert]] (plain rows), [[Temporal
  * .scd2Merge]] (interval runs), and [[Similarity.appendToIvfIndexFp]]
  * (ANN buckets) — the same delta-shaped-work contract, here for
  * aggregates. */
object Mv {

  /** Merge a materialized grouped aggregate with the SAME-SHAPED
    * aggregate of a delta. `sums` columns add (null = absent group =
    * identity 0), `mins`/`maxs` fold by least/greatest (which skip
    * nulls). Keys present in only one side pass through — full-outer
    * semantics, so brand-new groups appear and untouched groups survive
    * unchanged. Column sets of `view` and `deltaAgg` must match. */
  def refresh(view: DataFrame, deltaAgg: DataFrame, keys: Seq[String],
      sums: Seq[String], mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "mv refresh needs at least one group key")
    val measures = sums ++ mins ++ maxs
    require(measures.nonEmpty, "mv refresh needs at least one measure")
    require(view.columns.toSet == deltaAgg.columns.toSet,
      s"view/delta shape mismatch: ${view.columns.toSeq} vs ${deltaAgg.columns.toSeq}")
    val a = view.select(
      keys.map(col) ++ measures.map(c => col(c).as(s"__a_$c")): _*)
    val b = deltaAgg.select(
      keys.map(col) ++ measures.map(c => col(c).as(s"__b_$c")): _*)
    def merged(c: String): Column = {
      val (x, y) = (col(s"__a_$c"), col(s"__b_$c"))
      if (sums.contains(c))
        // coalesce-to-zero keeps the add total when a group exists on
        // one side only; lit(0) coerces to the measure's numeric type.
        // BOTH-null stays NULL: a group whose view sum is legitimately
        // NULL (all measure values NULL) must refresh to NULL, matching
        // the full-recompute oracle — the ⊕ ≡ recompute contract
        when(x.isNull && y.isNull, lit(null))
          .otherwise(coalesce(x, lit(0)) + coalesce(y, lit(0))).as(c)
      else if (mins.contains(c)) least(x, y).as(c) // least/greatest skip nulls
      else greatest(x, y).as(c)
    }
    a.join(b, keys, "full_outer")
      .select(keys.map(col) ++ measures.map(merged): _*)
  }

  /** The **streaming half** — a `foreachBatch` body maintaining a
    * continuously-refreshed VIEW snapshot under `path/v=<n>_b=<batchId>`:
    * each micro-batch runs `aggOf` over its (delta) rows and folds the
    * result through [[refresh]] against the latest committed version.
    * This is incremental view maintenance FROM A STREAM — the Delta
    * "MERGE into aggregate table" loop with the same strictly-append
    * version chain, `_SUCCESS` gating, replay protocol (a redelivered
    * batch id bases on the state before its first application —
    * [[Upsert.commitVersion]], shared so the sinks cannot drift) and
    * [[Upsert.readLatest]]/[[Upsert.readVersion]]/[[Upsert.vacuum]]
    * surface as the row-level sink. Per batch the work is
    * agg(batch) + one view-sized join — never a history rescan, which
    * is the entire point of maintaining the view. */
  def versionedViewSink(path: String, keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil)(
      aggOf: DataFrame => DataFrame): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val deltaAgg = aggOf(batch)
      Upsert.commitVersion(batch.sparkSession, path, batchId) {
        case Some(base) => refresh(base, deltaAgg, keys, sums, mins, maxs)
        case None => deltaAgg
      }
    }
  }

  /** **Incremental maintenance of a JOIN view** under insert-only
    * deltas — the delta-join identity:
    * `(A∪ΔA) ⋈ (B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB`, with the first
    * term being the EXISTING view. The four terms partition the output
    * exactly (every pair draws its left row from A xor ΔA and its
    * right from B xor ΔB), so no dedup pass exists anywhere — the
    * result is bitwise the full recompute, which the registered
    * query's oracle pins.
    *
    * Work shape: the deltas broadcast (ingest-batch-sized against a
    * 100 TB base), so the base tables are never SHUFFLED — each delta
    * term is one broadcast probe over the opposing base scan, and that
    * scan prunes to matching partitions when the base is
    * partitioned/bucketed on the join key (the `bucketed_join` /
    * `partition_prune_dynamic` layouts this library already
    * maintains). Deletes/updates are the [[Upsert.diffVersions]]
    * composition: anti-join the view on deleted keys, then re-insert
    * the updated rows' delta terms. */
  def refreshJoin(view: DataFrame, aOld: DataFrame, bOld: DataFrame,
      deltaA: DataFrame, deltaB: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "join-view refresh needs join keys")
    view
      .unionByName(broadcast(deltaA).join(bOld, keys))
      .unionByName(aOld.join(broadcast(deltaB), keys))
      .unionByName(broadcast(deltaA).join(deltaB, keys))
  }

  /** The **streaming half of [[refreshJoin]]** for the common
    * fact-stream ⋈ static-dimension shape: a `foreachBatch` body
    * maintaining a versioned JOIN-view snapshot under
    * `path/v=<n>_b=<batchId>`. Insert-only fact deltas reduce the
    * four-term identity to `view ∪ Δ⋈dim` (the dimension has no
    * delta), so each micro-batch costs ONE broadcast probe of the
    * batch against the dim — never a view rescan beyond the append.
    * Same strictly-append version chain, `_SUCCESS` gating and replay
    * protocol as [[Upsert.versionedSink]]/[[versionedViewSink]]
    * (shared [[Upsert.commitVersion]], so the sinks cannot drift
    * on replay semantics): a redelivered batch id bases on the state
    * before its first application, giving bitwise-idempotent
    * snapshots under at-least-once delivery. */
  def versionedJoinViewSink(path: String, dim: DataFrame,
      keys: Seq[String]): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val appended = broadcast(batch).join(dim, keys)
      Upsert.commitVersion(batch.sparkSession, path, batchId) {
        case Some(base) => base.unionByName(appended)
        case None => appended
      }
    }
  }
}
