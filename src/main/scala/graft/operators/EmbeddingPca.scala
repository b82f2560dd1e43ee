package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** PCA over an embedding column — the dimensionality-reduction step a
  * vector pipeline runs before ANN indexing or semantic dedup (project
  * to the top-k variance directions; IVF/LSH recall per byte improves
  * when the tail dimensions are noise).
  *
  * Split on the oracle boundary, like [[KMeansLite]]/[[Bpe]]:
  *
  *  - the DATA-SIDED half — the Gram matrix over fixed-point-quantized
  *    coordinates — is pure integer arithmetic, exactly hash-checkable
  *    in DuckDB (`embedding_gram`); quantization is the
  *    `embedding_stats` trick (⌊x·10⁶⌋ as int64) widened to products.
  *    Sums accumulate in DECIMAL(38,0): products of two quantized unit
  *    coordinates are ≤ ~10¹², so 38 digits holds ~10²⁶ rows — int64
  *    sums would wrap at ~10⁷ rows, a silent-overflow cliff this
  *    operator must not have at corpus scale.
  *  - the EIGEN half (power iteration with deflation) runs on the
  *    DRIVER over the collected d(d+1)/2-row Gram — the bounded-collect
  *    discipline (d = 64 → 2080 rows, microseconds of linear algebra);
  *    no SQL engine has an eigensolver, so the registered
  *    `embedding_pca` projection is rows-only BY CONTRACT, anchored by
  *    EmbeddingPcaSpec's properties (planted-direction recovery,
  *    orthonormality, variance ordering, bitwise determinism).
  *
  * Scale shape: quantize per-row, one two-step explode to (i, j ≥ i)
  * coordinate pairs whose hash aggregate partial-combines map-side —
  * every partition reduces to ≤ d(d+1)/2 rows before the shuffle (the
  * treeAggregate shape, declaratively); the projection itself is a
  * per-row batch of k codegen'd [[graft.functions.FloatVecDot]]s
  * against broadcast literal rows of W. */
object EmbeddingPca {

  /** Fixed-point quantization scale — shared with the `embedding_stats`
    * oracle convention. */
  val fpScale = 1000000L

  private def quantized(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("vec_id"),
      transform(vec, x => floor(x.cast("double") * fpScale).cast("long"))
        .as("q"))

  /** Exact quantized Gram matrix, upper triangle: (i, j, n, g_fp) with
    * g_fp = Σ_rows ⌊x_i·10⁶⌋·⌊x_j·10⁶⌋ — integer, associative,
    * partition-order-free, bit-equal in any engine. */
  def gramQuantized(df: DataFrame, id: Column, vec: Column): DataFrame =
    quantized(df, id, vec)
      .select(col("q"), posexplode(col("q")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"), posexplode(col("q")).as(Seq("j", "qj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .agg(count(lit(1)).as("n"),
        sum((col("qi") * col("qj")).cast(DecimalType(38, 0))).as("g_dec"))
      .select(col("i"), col("j"), col("n"),
        col("g_dec").cast("long").as("g_fp"))

  /** Per-dimension quantized sums (for mean-centering the Gram into a
    * covariance on the driver): (dim, n, s_fp). */
  def dimSums(df: DataFrame, id: Column, vec: Column): DataFrame =
    quantized(df, id, vec)
      .select(posexplode(col("q")).as(Seq("dim", "qx")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("qx").cast(DecimalType(38, 0))).as("s_dec"))
      .select(col("dim"), col("n"), col("s_dec").cast("long").as("s_fp"))

  /** Power iteration with Gram–Schmidt deflation over a symmetric
    * matrix. Deterministic by construction: fixed ramped init, fixed
    * iteration count (300), no randomness — two calls return
    * bit-identical vectors. */
  private[graft] def topEigenvectors(c: Array[Array[Double]],
      k: Int): Array[Array[Double]] = {
    val d = c.length
    val ws = Array.ofDim[Double](k, d)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += a(i) * b(i); i += 1 }; s
    }
    for (m <- 0 until k) {
      var v = Array.tabulate(d)(i =>
        if (i == m % d) 1.0 else 1e-4 * ((i % 7) + 1))
      for (_ <- 0 until 300) {
        val u = Array.tabulate(d)(i => dot(c(i), v))
        for (p <- 0 until m) {
          val pr = dot(u, ws(p))
          var i = 0; while (i < d) { u(i) -= pr * ws(p)(i); i += 1 }
        }
        val nrm = math.sqrt(dot(u, u))
        v = if (nrm > 0) u.map(_ / nrm) else u
      }
      ws(m) = v
    }
    ws
  }

  /** Fit the top-k projection: collect the (bounded, d(d+1)/2-row) Gram
    * and the d dim-sums, center into a covariance on the driver, and
    * eigensolve. Returns W as k rows of d floats (orthonormal, leading
    * variance directions first, each row sign-fixed so its
    * largest-magnitude coordinate is positive — eigenvectors are only
    * defined up to sign, and the fix makes the result canonical). */
  def fitProjection(df: DataFrame, id: Column, vec: Column,
      k: Int): Seq[Seq[Float]] =
    fitProjectionWithVariance(df, id, vec, k)._1

  /** [[fitProjection]] plus each component's explained variance λ_m
    * (the Rayleigh quotient w_mᵀ C w_m over the RAW-float covariance —
    * the quantized Gram entries divide back by 10¹², so λ is in the
    * embedding's own units). λ is what picks k (cumulative
    * explained-variance ratio) and what [[projectWhitened]] scales
    * by. */
  def fitProjectionWithVariance(df: DataFrame, id: Column, vec: Column,
      k: Int): (Seq[Seq[Float]], Seq[Double]) = {
    require(k > 0, s"k must be positive (got $k)")
    val sums = dimSums(df, id, vec).collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val d = sums.size
    require(k <= d, s"k = $k exceeds embedding dim $d")
    // ragged vectors would silently shrink per-dim counts and mis-center
    // the covariance — fail loudly instead
    require(sums.values.map(_._1).toSet.size == 1,
      s"embeddings are ragged: per-dim counts ${sums.values.map(_._1).toSet}")
    val n = sums(0)._1.toDouble
    val fp2 = fpScale.toDouble * fpScale.toDouble
    val cov = Array.ofDim[Double](d, d)
    gramQuantized(df, id, vec).collect().foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      val g = r.getLong(3).toDouble
      val c = (g - sums(i)._2.toDouble * sums(j)._2.toDouble / n) / n / fp2
      cov(i)(j) = c; cov(j)(i) = c
    }
    val ws = topEigenvectors(cov, k)
    val lambdas = ws.map { w =>
      val cw = Array.tabulate(d)(i => w.indices.map(j => cov(i)(j) * w(j)).sum)
      w.indices.map(i => w(i) * cw(i)).sum
    }.toSeq
    val canon = ws.map { w =>
      val maxIdx = w.indices.maxBy(i => (math.abs(w(i)), -i))
      val sgn = if (w(maxIdx) < 0) -1.0 else 1.0
      w.map(x => (x * sgn).toFloat).toSeq
    }.toSeq
    (canon, lambdas)
  }

  /** Project each embedding onto the fitted rows of W: (vec_id, p0…pk)
    * — a per-row batch of codegen'd [[graft.functions.FloatVecDot]]s
    * against the broadcast literal rows (the dots accumulate the RAW
    * floats; quantization exists only on the fit side). */
  def project(df: DataFrame, id: Column, vec: Column,
      w: Seq[Seq[Float]]): DataFrame =
    df.select(id.as("vec_id") +: w.zipWithIndex.map { case (row, m) =>
      graft.functions.FloatVecDot(vec, typedLit(row)).as(s"p$m")
    }: _*)

  /** PCA-whitening: each projection scaled by 1/√λ_m so every retained
    * component has unit variance — the preconditioning SemDeDup-style
    * pipelines apply before cosine so high-variance axes don't dominate
    * the similarity. Same per-row codegen'd dots, one extra multiply. */
  def projectWhitened(df: DataFrame, id: Column, vec: Column,
      w: Seq[Seq[Float]], lambdas: Seq[Double]): DataFrame = {
    require(w.size == lambdas.size,
      s"need one eigenvalue per component (got ${w.size}, ${lambdas.size})")
    require(lambdas.forall(_ > 0), s"non-positive eigenvalue in $lambdas")
    df.select(id.as("vec_id") +: w.zip(lambdas).zipWithIndex.map {
      case ((row, l), m) =>
        (graft.functions.FloatVecDot(vec, typedLit(row)) /
          math.sqrt(l)).as(s"w$m")
    }: _*)
  }
}
