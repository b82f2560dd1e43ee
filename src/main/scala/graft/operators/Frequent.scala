package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.FrequentItems

/** Heavy-hitter detection: the keys whose count exceeds a threshold,
  * answered EXACTLY without ever materializing the full per-key count
  * table. The 100 TB motivation: an exact `groupBy(key).count` over a
  * high-cardinality key (tokens, URLs, session ids) shuffles one partial
  * row per distinct key per map task; when only the few frequent keys
  * matter, almost all of that shuffle is waste. The classic two-phase
  * answer (cf. Misra–Gries 1982; Agarwal et al., PODS 2012 for the
  * mergeable form):
  *
  *   1. one scan folds each partition into a size-`k`
  *      [[graft.functions.FrequentItems]] summary — partial-mergeable, so
  *      the shuffle is ≤ k rows per task and the merged candidate set is
  *      GUARANTEED to contain every key with count > n/(k+1);
  *   2. a second scan recounts ONLY the candidates exactly: rows are
  *      pre-filtered by a broadcast join on the ≤ k candidate keys, so
  *      only matching rows enter the (map-side-combined) count.
  *
  * Because any candidate SUPERSET recounts to the same thresholded
  * answer, the result is exact and deterministic even though MG summaries
  * vary with partition order — the same
  * approximate-generate / exact-verify discipline as the MinHash and IVF
  * families. Used standalone as the `heavy_hitters` query and named in
  * [[Boilerplate]] as the scan-only candidate path for corpus-frequency
  * stages at extreme scale.
  */
object Frequent {

  /** Per-GROUP φ-frequent items: for each group, the keys making up
    * ≥ (numer/denom) of THAT GROUP's rows — [[heavyKeysFraction]] under
    * a grouping, with the same STATIC completeness precondition
    * (`numer·(k+1) > denom`, no per-group cardinality needed) because
    * the MG guarantee `count > n_g/(k+1)` holds per buffer and each
    * group has its own buffer. Pass 1 shuffles ≤ k+1 rows per group per
    * task; per-group totals return through a broadcast equi-join.
    *
    * The motivating consumer is ANALYZE-style column profiling
    * (`value_profile`): stack (column_name, value) pairs and group by
    * column name — every column's most-common values in ONE corpus
    * scan, the optimizer/data-quality statistic warehouses collect. */
  def heavyKeysPerGroupFraction(
      df: DataFrame,
      group: Column,
      key: Column,
      k: Int,
      numer: Int,
      denom: Int): DataFrame = {
    require(numer > 0 && denom > 0, s"threshold must be positive: $numer/$denom")
    require(numer.toLong * (k + 1) > denom,
      s"FrequentItems k=$k cannot guarantee threshold $numer/$denom of n — " +
        s"need k+1 > $denom/$numer")
    val aggRows = Dedup.memoPersist(
      df.groupBy(group.as("grp"))
        .agg(
          FrequentItems(key, k).as("cands"),
          count(key).as("n")))
    val cands = aggRows.select(col("grp"), explode(col("cands")).as("item"))
    val totals = aggRows.select(col("grp"), col("n"))
    df.select(group.as("grp"), key.as("item"))
      .join(broadcast(cands), Seq("grp", "item"))
      .groupBy(col("grp"), col("item"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq("grp"))
      .where(col("cnt") * denom >= col("n") * numer)
      .select(col("grp"), col("item"), col("cnt"))
      .orderBy("grp", "item")
  }

  /** Keys whose exact count is ≥ (numer/denom) × n — the classic
    * φ-frequent-items form, and the true scan-only scale path: the
    * completeness precondition `numer·(k+1) > denom` is STATIC (no data
    * needed), so pass 1 is just the mergeable summary + a count — shuffle
    * ≤ k+1 rows per task with NO per-distinct-key traffic anywhere.
    * Prefer this at web scale; [[heavyKeys]]'s mean-relative threshold is
    * the warehouse-diagnostics form and pays one exact-distinct pass for
    * its denominator. Same integer cross-multiplication, same exact
    * recount, same (item, cnt) output. */
  def heavyKeysFraction(
      df: DataFrame,
      key: Column,
      k: Int,
      numer: Int,
      denom: Int): DataFrame = {
    require(numer > 0 && denom > 0, s"threshold must be positive: $numer/$denom")
    require(numer.toLong * (k + 1) > denom,
      s"FrequentItems k=$k cannot guarantee threshold $numer/$denom of n — " +
        s"need k+1 > $denom/$numer")
    val aggRow = Dedup.memoPersist(
      df.agg(
        FrequentItems(key, k).as("cands"),
        count(key).as("n")))
    val cands = aggRow.select(explode(col("cands")).as("item"))
    val totals = aggRow.select(col("n"))
    df.select(key.as("item"))
      .join(broadcast(cands), "item")
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .where(col("cnt") * denom >= col("n") * numer)
      .select(col("item"), col("cnt"))
      .orderBy("item")
  }

  /** [[heavyKeys]] with the summary SIZED FROM THE DATA: a cheap
    * `approx_count_distinct` pre-pass (HLL — no distinct Expand, one
    * 1-row aggregate memoized by [[Dedup.memoGate]]) estimates the key
    * cardinality, and the summary size becomes
    * ⌈denom·est·margin/numer⌉ + 1, at least 4096 and at most `kCap`.
    * Correctness NEVER
    * rests on the estimate: the exact `assert_true` guard inside
    * [[heavyKeys]] still certifies the precondition against the true
    * distinct count, so an HLL under-estimate past the margin fails loud
    * exactly like a hand-sized k — the estimate only removes the
    * hand-tuning. Past `kCap` (the summary's memory budget: entries cost
    * ~50 B, the default cap is ~50 MB) the raise is refused loudly — the
    * mean-relative threshold on keys that numerous means the data has no
    * heavy hitters worth a summary this large, and the caller should
    * switch to [[heavyKeysFraction]]. A raise above the floor is logged
    * (the [[Dedup]] Bloom-clamp discipline: adapt, bound, say so). */
  def heavyKeysAuto(
      df: DataFrame,
      key: Column,
      numer: Int = 3,
      denom: Int = 2,
      kCap: Int = KCap): DataFrame = {
    require(numer > 0 && denom > 0, s"threshold must be positive: $numer/$denom")
    val est = Dedup.memoGate(df.agg(approx_count_distinct(key).as("est"))) {
      df.agg(approx_count_distinct(key).as("est")).head().getLong(0)
    }
    // 1.2 margin over the ±2% HLL error; +1 so the strict inequality in
    // the exact guard holds when est is exact
    val need = math.ceil(denom.toDouble * est * 1.2 / numer).toLong + 1
    require(need <= kCap,
      s"heavyKeysAuto: ~$est distinct keys need a $need-entry summary, over the " +
        s"$kCap cap — no mean-relative heavy hitters worth that memory; use " +
        "heavyKeysFraction or raise kCap")
    val k = math.max(need, KFloor.toLong).toInt
    if (k > KFloor) {
      System.err.println(
        s"[graft] heavyKeysAuto: sized summary to $k entries for ~$est distinct keys")
    }
    heavyKeys(df, key, k, numer, denom)
  }

  /** Smallest and largest (~50 MB) summary the auto-sized forms build. */
  private val KFloor = 4096
  private val KCap = 1 << 20

  /** [[heavyKeysPerGroup]] auto-sized like [[heavyKeysAuto]]: the
    * pre-pass estimates the per-group key cardinality and the summary is
    * sized for the LARGEST group (one shared k — the aggregate is one
    * expression). The per-group estimate collect is bounded by the group
    * count, which callers of a per-group report have already accepted as
    * small (the #strata-row collect discipline of `temperatureMix`). The
    * exact per-group guard still certifies every group. */
  def heavyKeysPerGroupAuto(
      df: DataFrame,
      group: Column,
      key: Column,
      numer: Int = 3,
      denom: Int = 2): DataFrame = {
    require(numer > 0 && denom > 0, s"threshold must be positive: $numer/$denom")
    val pre = df.groupBy(group.as("grp")).agg(approx_count_distinct(key).as("est"))
    val est = Dedup.memoGate(pre) {
      pre.select(max(col("est"))).head().getLong(0)
    }
    val need = math.ceil(denom.toDouble * est * 1.2 / numer).toLong + 1
    require(need <= KCap,
      s"heavyKeysPerGroupAuto: largest group has ~$est distinct keys, needing a " +
        s"$need-entry summary over the $KCap cap")
    val k = math.max(need, KFloor.toLong).toInt
    if (k > KFloor) {
      System.err.println(
        s"[graft] heavyKeysPerGroupAuto: sized summary to $k entries for ~$est keys in the largest group")
    }
    heavyKeysPerGroup(df, group, key, k, numer, denom)
  }

  /** Per-GROUP heavy hitters — [[heavyKeys]] under a grouping: for each
    * group, the keys with count ≥ (numer/denom) × that group's mean
    * count per distinct key. The summary is a true grouped aggregate
    * (one Misra–Gries buffer per group, partial-merged map-side), so
    * pass 1 shuffles ≤ k rows per group per task; the recount
    * pre-filters on (group, key) and the per-group totals come back
    * through an ordinary broadcast equi-join on the group — no nested
    * loop anywhere. The completeness precondition is guarded per group:
    * the group with the largest key cardinality is the binding one, and
    * assert_true raises if k is too small for ANY group. */
  def heavyKeysPerGroup(
      df: DataFrame,
      group: Column,
      key: Column,
      k: Int,
      numer: Int = 3,
      denom: Int = 2): DataFrame = {
    require(numer > 0 && denom > 0, s"threshold must be positive: $numer/$denom")
    val aggRows = Dedup.memoPersist(
      df.groupBy(group.as("grp"))
        .agg(
          FrequentItems(key, k).as("cands"),
          count(key).as("n"),
          count_distinct(key).as("nk")))
    val cands = aggRows.select(col("grp"), explode(col("cands")).as("item"))
    val totals = aggRows.select(col("grp"), col("n"), col("nk"),
      assert_true(
        lit(numer).cast("long") * (k + 1) > lit(denom).cast("long") * col("nk"),
        concat(lit(s"FrequentItems k=$k cannot guarantee threshold $numer/$denom of mean for group "),
          col("grp").cast("string"), lit(" with "), col("nk"), lit(" keys")))
        .as("guard"))
    df.select(group.as("grp"), key.as("item"))
      .join(broadcast(cands), Seq("grp", "item"))
      .groupBy(col("grp"), col("item"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq("grp"))
      // cnt·nk·denom in Long wraps silently past 2⁶³ (n ≳ 3e12 rows with
      // nk ~1.5M under the k-guard) — exactly the scale this operator
      // exists for. DECIMAL(38,0) keeps the cross-multiplication exact
      // to 10³⁸, far beyond any physical row count.
      .where(col("cnt").cast("decimal(38,0)") * col("nk") * denom >=
        col("n").cast("decimal(38,0)") * numer && col("guard").isNull)
      .select(col("grp"), col("item"), col("cnt"))
      .orderBy("grp", "item")
  }

  /** Keys of `df` (under `key`) whose exact count is ≥ (numer/denom) ×
    * the mean count per distinct key, as (item, cnt) ordered by item.
    * The mean-relative threshold makes the selection scale-invariant
    * (TPC-H-style data keeps per-key counts constant as rows and keys
    * grow together); the comparison is the exact integer
    * cross-multiplication `cnt · n_keys · denom ≥ n · numer` — no
    * division, so the answer is bitwise reproducible cross-engine.
    *
    * Completeness precondition: the threshold must exceed n/(k+1), i.e.
    * `numer · (k+1) > denom · n_keys`. The first-pass aggregate knows
    * both n and n_keys, so the plan CHECKS the precondition at runtime:
    * `assert_true` raises before any row is emitted if `k` was sized too
    * small for the observed key cardinality (fail loud, never silently
    * incomplete — the [[Dedup]] Bloom-clamp discipline).
    *
    * Plan shape: scan 1 = the summary aggregate (+ n, n_keys in the same
    * pass; the 1-row result is memo-persisted so the candidate explode
    * and the totals read don't recompute it); scan 2 = broadcast-join
    * pre-filter → count. Both scans read only the key column. Honest
    * cost note: the exact `count_distinct` denominator makes pass 1
    * shuffle one row per distinct key per task (the distinct-aggregate
    * Expand) — fine for warehouse diagnostics, but at web-scale key
    * cardinality use [[heavyKeysFraction]], whose precondition is static
    * and whose shuffle stays ≤ k+1 rows per task.
    */
  def heavyKeys(
      df: DataFrame,
      key: Column,
      k: Int,
      numer: Int = 3,
      denom: Int = 2): DataFrame = {
    require(numer > 0 && denom > 0, s"threshold must be positive: $numer/$denom")
    val aggRow = Dedup.memoPersist(
      df.agg(
        FrequentItems(key, k).as("cands"),
        count(key).as("n"), // non-null keys only, matching the summary
        count_distinct(key).as("nk")))
    val cands = aggRow.select(explode(col("cands")).as("item"))
    val totals = aggRow.select(
      col("n"), col("nk"),
      assert_true(
        lit(numer).cast("long") * (k + 1) > lit(denom).cast("long") * col("nk"),
        concat(lit(s"FrequentItems k=$k cannot guarantee threshold $numer/$denom of mean over "),
          col("nk"), lit(" keys — raise k above denom*n_keys/numer")))
        .as("guard"))
    df.select(key.as("item"))
      .join(broadcast(cands), "item")
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      // cnt·nk·denom in Long wraps silently past 2⁶³ (n ≳ 3e12 rows with
      // nk ~1.5M under the k-guard) — exactly the scale this operator
      // exists for. DECIMAL(38,0) keeps the cross-multiplication exact
      // to 10³⁸, far beyond any physical row count.
      .where(col("cnt").cast("decimal(38,0)") * col("nk") * denom >=
        col("n").cast("decimal(38,0)") * numer && col("guard").isNull)
      .select(col("item"), col("cnt"))
      .orderBy("item")
  }
}
