package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** **KMV (k-minimum-values) distinct sketches** — Bar-Yossef et al.
  * 2002 / Beyer et al. SIGMOD 2007 ("Distinct-value synopses"): keep the
  * k smallest DISTINCT hash values of a set; the k-th smallest value θ
  * estimates the distinct count as (k−1)·H/θ (H = hash-space size), and
  * because a union's sketch is just the k smallest of the two sketches'
  * union, KMV composes across groups/partitions like every mergeable
  * summary in this repo ([[graft.functions.FrequentItems]],
  * `hll_sketch_agg`). What HLL cannot do and KMV can: INTERSECTION
  * estimates — the k smallest of A∪B are a uniform sample of A∪B, so
  * the fraction of them lying in both sketches estimates the Jaccard
  * similarity, and est|A∩B| = ρ·est|A∪B| (the minwise coupling that
  * also underlies [[Dedup]]'s MinHash).
  *
  * The repo twist: the hash is the md5-to-60-bit idiom of
  * [[Sampling.weightedPriorityTopK]] — identical in Spark and DuckDB —
  * and every estimator step is integer arithmetic plus explicitly
  * mirrored IEEE ops, so unlike every other sketch in the wild this one
  * is fully HASH-CHECKABLE against the oracle: sketch contents AND
  * derived estimates match bitwise. Exactness discipline: when the
  * merged sketch holds fewer than k values it IS the union, and the
  * estimates collapse to exact counts (spec-pinned).
  *
  * Scale shape: one distinct on (group, hash) — the same shuffle an
  * exact count(distinct) pays — then a map-side-partial
  * [[graft.functions.BoundedTopK]] fold to ≤ k rows per task per
  * group; pairwise overlap joins touch only (groups × k)-sized
  * sketches, never the corpus. The exact-intersection twin column the
  * registered query carries for adjudication is the part that does NOT
  * scale (it joins the distinct pair frame on hash) — at 100 TB you
  * keep the sketch columns and drop the twin, which is the point. */
object Kmv {

  /** 60-bit uniform hash from md5 — the engine/oracle-identical idiom:
    * `conv(substr(md5(salt ‖ key), 1, 15), 16, 10)` as a long. */
  def hash60(key: Column, salt: String = "graftkmv"): Column =
    // r14: computed by the codegen'd digest-bytes kernel — bitwise the
    // conv(substr(md5)) chain the oracle spells (Md5Bits60Spec pins it)
    element_at(graft.functions.Md5Bits60(
      concat(lit(salt), key.cast("string"))), 1)

  /** Hash-space size as an exact double (2⁶⁰ is a power of two, so the
    * cast is exact and both engines agree bitwise). */
  val HashSpace: Double = 1152921504606846976L.toDouble

  /** Per-group KMV sketch: `sk` = sorted array of the k smallest
    * distinct hashes of `key`, `n_exact` = the group's exact distinct
    * hash count. ONE grouped aggregate: [[graft.functions
    * .KmvSketchAgg]] dedups inside its buffer (≤ k distinct values per
    * task cross the shuffle — no pre-distinct pass), and the exact
    * count rides the planner's distinct rewrite next to it. Plan note:
    * carrying `n_exact` makes the planner key the first aggregate by
    * (group, hash) — the distinct rewrite's expand shuffle. That column
    * is the adjudication twin, not the product: at 100 TB drop it and
    * the sketch folds map-side straight to ≤ k values per group per
    * task, one group-keyed shuffle total. */
  def sketch(df: DataFrame, group: Column, key: Column, k: Int): DataFrame = {
    require(k > 1, s"KMV needs k > 1 (got $k)")
    // NULL keys hash to NULL and are EXCLUDED on both sides of the
    // contract (the aggregate skips them; the filter keeps n_exact
    // consistent with the oracle's null-free hash set — without it the
    // engine's countDistinct and an oracle COUNT(*) over a
    // DISTINCT-kept (g, NULL) row would differ by one)
    df.select(group.as("g"), hash60(key).as("h"))
      .filter(col("h").isNotNull)
      .groupBy(col("g"))
      .agg(
        graft.functions.KmvSketchAgg(col("h"), k).as("sk"),
        countDistinct(col("h")).as("n_exact"))
  }

  /** Distinct-count estimate from a sketch column (sorted ≤ k-long
    * array): exact size below k, else (k−1)·H/θ with θ = the k-th
    * smallest. Mirrored 1:1 in oracle SQL by the registered rollup
    * query. */
  def estimateDistinct(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit(k - 1).cast("double") * lit(HashSpace) /
        element_at(sk, k).cast("double"))

  /** Pairwise overlap estimates from two sketch columns (`ska`, `skb`,
    * both sorted ≤ k-long arrays): appends `est_union`, `est_intersect`,
    * `jaccard_est`, and the set-DIFFERENCE estimates `est_a_only` /
    * `est_b_only` (est|A∖B|, est|B∖A| — the audience-exclusive-reach
    * question the intersection form begs). All four share ONE minwise
    * sample: for h in the merged bottom-k, h ∈ A ⟺ h ∈ ska (h is among
    * the k smallest of A∪B ⊇ A, so if it is in A it is in A's bottom-k),
    * hence ρ_intersect = |mk ∩ ska ∩ skb| and ρ_a_only = |mk ∩ ska| −
    * ρ_intersect partition the sample EXACTLY: ρ_int + ρ_a + ρ_b = k,
    * so the three estimates sum to est_union by construction (spec-
    * pinned) — difference estimates from separate sketch θs would not.
    * When the merged sketch is smaller than k it is the whole union and
    * every estimate collapses to an exact count. Every op is mirrored
    * 1:1 in the registered query's DuckDB SQL. */
  def overlapEstimates(pairs: DataFrame, k: Int): DataFrame =
    pairs.withColumn("__o", overlapStruct(col("ska"), col("skb"), k))
      .withColumn("est_union", col("__o.est_union"))
      .withColumn("est_intersect", col("__o.est_intersect"))
      .withColumn("est_a_only", col("__o.est_a_only"))
      .withColumn("est_b_only", col("__o.est_b_only"))
      .withColumn("jaccard_est", col("__o.jaccard_est"))
      .drop("__o")

  /** The overlap-estimate kernel as ONE column expression (a struct of
    * est_union / est_intersect / est_a_only / est_b_only / jaccard_est)
    * — the single source of truth behind [[overlapEstimates]] AND the
    * `graft_kmv_overlap` SQL function, so the Scala and SQL surfaces
    * cannot drift. Same math as documented on [[overlapEstimates]],
    * including the empty-sketch `try_element_at` guard and the
    * exact-below-k collapse. */
  def overlapStruct(ska: Column, skb: Column, k: Int): Column = {
    require(k > 1, s"KMV needs k > 1 (got $k)")
    val m = array_sort(array_distinct(concat(ska, skb)))
    val mk = slice(m, 1, k)
    val nm = size(m).cast("long")
    // try_element_at + greatest(…, 1): an EMPTY merged sketch (both
    // inputs empty) would otherwise hand element_at an out-of-bounds
    // index — a hard error in Spark 4 even though the below-k branch
    // never reads theta; try_element_at yields a legal NULL there
    val theta = try_element_at(mk,
      greatest(least(nm, lit(k.toLong)), lit(1L)).cast("int"))
    val rho = size(array_intersect(array_intersect(mk, ska), skb)).cast("long")
    // sample counts in A-only / B-only: |mk ∩ sk| − ρ reuses ρ, so the
    // partition ρ_int + ρ_a + ρ_b = |mk| holds by arithmetic, not by
    // three independent membership scans
    val ra = size(array_intersect(mk, ska)).cast("long") - rho
    val rb = size(array_intersect(mk, skb)).cast("long") - rho
    val estUnion =
      when(nm < k, nm.cast("double"))
        .otherwise(lit(k - 1).cast("double") * lit(HashSpace) /
          theta.cast("double"))
    def scaled(r: Column): Column =
      when(nm < k, r.cast("double"))
        .otherwise(r.cast("double") * estUnion / lit(k).cast("double"))
    struct(
      estUnion.as("est_union"),
      scaled(rho).as("est_intersect"),
      scaled(ra).as("est_a_only"),
      scaled(rb).as("est_b_only"),
      // NULL (not 0/0 NaN) when both segments are empty — |A∪B| = 0
      // leaves Jaccard undefined
      when(estUnion === 0.0, lit(null))
        .otherwise(scaled(rho) / estUnion).as("jaccard_est"))
  }
}
