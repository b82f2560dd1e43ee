package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min frequency sketches over keyed streams — the frequency
  * companion to the [[Kmv]] distinct-count family, and like it fully
  * HASH-CHECKABLE: the d row-hashes are the md5→60-bit idiom
  * ([[Kmv.hash60]] with per-row salts), so the sketch counters and
  * every point estimate mirror 1:1 in DuckDB group-by arithmetic — no
  * engine-specific hashing anywhere.
  *
  * Scale shape: the [[graft.functions.CmsSketchAgg]] buffer makes the
  * sketch ONE map-side-combinable aggregate — each task folds its
  * partition into a d·w counter array before the shuffle, so the
  * exchange carries d·w longs per group, never rows. Estimates are
  * an O(d) epilogue per queried key (min over the key's d cells) —
  * always ≥ the true count, over by ≤ εn w.p. 1−δ at
  * (d, w) = (⌈ln 1/δ⌉, ⌈e/ε⌉). Sketches of disjoint corpora SUM to
  * the corpus sketch (counter merge = elementwise add), which is what
  * makes the same aggregate the single stateful operator of the
  * streaming twin ([[graft.streaming.StreamingDownsample.cmsStream]])
  * and lets per-partition sketches roll up at query time.
  *
  * Contrast inside the sketch family: KMV answers "how many distinct /
  * how much overlap", Misra–Gries ([[Frequent]]) answers "which keys
  * are hot" with candidate identity, CMS answers "how often is THIS
  * key" for any key without storing identities at all. */
object Cms {

  /** Default geometry: d = 4 rows × w = 256 buckets — ε ≈ e/256 ≈ 1%,
    * δ ≈ e⁻⁴ < 2%. */
  val D = 4
  val W = 256

  /** Flat cell positions (j·w + bucket_j) for a key, one per row-hash —
    * the pre-hashed input [[graft.functions.CmsSketchAgg]] increments.
    * Null keys yield null (ignored by the aggregate), matching a COUNT
    * over non-null keys. */
  def positions(key: Column, d: Int = D, w: Int = W): Column =
    // a null key must yield a NULL ARRAY (ignored by the aggregate) —
    // array(null, …) would read as position 0 and pollute cell 0
    when(key.isNull, lit(null).cast("array<bigint>"))
      .otherwise(array((0 until d).map { j =>
        lit(j.toLong * w) + pmod(Kmv.hash60(key, s"graftcms$j"), lit(w.toLong))
      }: _*))

  /** One-row frame holding the corpus sketch of `key`. */
  def sketch(df: DataFrame, key: Column, d: Int = D, w: Int = W): DataFrame =
    df.agg(graft.functions.CmsSketchAgg(positions(key, d, w), d * w).as("cms"))

  /** Point estimates for the keys of `keys` (a small frame with a
    * `key`-named column): min over the key's d cells — the 1-row sketch
    * broadcasts, the scalar_subquery shape. */
  def estimates(sketchRow: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    val cells = (0 until D).map { j =>
      // element_at is 1-based; positions are 0-based flat indexes
      element_at(col("cms"),
        (lit(j.toLong * W) +
          pmod(Kmv.hash60(col(keyCol), s"graftcms$j"), lit(W.toLong)) + 1L)
          .cast("int"))
    }
    keys.crossJoin(broadcast(sketchRow))
      .withColumn("est_cnt", least(cells: _*))
      .drop("cms")
  }

  /** Point estimate as ONE column expression — min of the counter
    * cells at the given flat positions (the `graft_cms_point` SQL
    * kernel, pairing with [[positions]] exposed through `graft_cms`'s
    * input side). [[estimates]] keeps its unrolled `least(…)` form:
    * d is a literal there, so the four element_at cells stay inside
    * whole-stage codegen, while this HOF form serves the generic
    * SQL surface where d arrives as data. Out-of-range positions in
    * EITHER direction degrade to a NULL cell (array_min skips NULLs;
    * an all-out-of-range row yields NULL estimate) instead of a hard
    * Spark-4-ANSI runtime error or a silently wrong cell — the
    * [[Kmv.overlapStruct]] discipline applied to this surface's own
    * edge cases: try_element_at covers past-the-end, and the explicit
    * p ≥ 0 gate covers negatives (try_element_at alone would read
    * from the END of the sketch for p ≤ −2 and still throw on the
    * index-0 form p = −1). */
  def pointEstimate(cms: Column, pos: Column): Column =
    array_min(transform(pos, p =>
      when(p >= 0, try_element_at(cms, (p + lit(1L)).cast("int")))))

  /** **Equi-join size estimation by sketch inner product** (the
    * AMS/CMS classic): |A ⋈ₖ B| = Σₖ f_A(k)·f_B(k), estimated as
    * min over rows j of ⟨cmsA[j,·], cmsB[j,·]⟩ — always ≥ the true
    * size, over by ≤ ε·|A|·|B| w.p. 1−δ. This is the planner's
    * question ("should this join broadcast? salt? pre-filter?")
    * answered from two O(d·w)-byte summaries WITHOUT running the
    * join: each side is one map-side-combinable aggregate over its
    * own scan, the dot products are an O(d·w) epilogue on one row.
    * Sketches are [[Kmv.hash60]]-based, so the whole estimator
    * mirrors 1:1 in DuckDB arithmetic and is hash-checkable like
    * [[estimates]]. */
  def innerProductEstimate(a: DataFrame, aKey: Column,
      b: DataFrame, bKey: Column, d: Int = D, w: Int = W): DataFrame = {
    val sa = sketch(a, aKey, d, w).withColumnRenamed("cms", "cms_a")
    val sb = sketch(b, bKey, d, w).withColumnRenamed("cms", "cms_b")
    // DECIMAL(38,0) accumulation: two ~3·10⁹-count cells colliding give
    // a ~9·10¹⁸ per-cell product — a Long fold wraps negative exactly
    // at the planner scales this exists for; the final BIGINT cast is
    // overflow-guarded so a beyond-Long estimate fails loudly
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dots = (0 until d).map { j =>
      aggregate(sequence(lit(j * w + 1), lit((j + 1) * w)),
        lit(0).cast(dec),
        (acc, i) => acc +
          element_at(col("cms_a"), i.cast("int")).cast(dec) *
          element_at(col("cms_b"), i.cast("int")).cast(dec))
    }
    sa.crossJoin(sb)
      .withColumn("__est", least(dots: _*))
      .withColumn("est_join_size",
        when(col("__est") > lit(Long.MaxValue).cast(dec),
          raise_error(lit("innerProductEstimate exceeds BIGINT — widen the output type"))
            .cast("long"))
          .otherwise(col("__est").cast("long")))
      .select("est_join_size")
  }
}
