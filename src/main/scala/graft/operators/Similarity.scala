package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, per the scale plan:
  *  - [[bruteForceTopK]]: exact cosine top-k, broadcast-join of the query
  *    set against every candidate. Right when |queries| is small or as
  *    the ground truth for recall tests. Linear in |candidates|.
  *  - [[annTopK]]: random-hyperplane LSH bucketing. Candidates and
  *    queries hash to sign-pattern buckets; only same-bucket pairs are
  *    scored, with 24 extra query-directed multi-probe buckets
  *    (smallest-margin plane flips) to trade compute for recall. The
  *    bucket join is an equi-join on the bucket key —
  *    hash-partitionable, no broadcast of the full corpus — which
  *    is the 100 TB shape (IVF-style: route, then score within cell). */
object Similarity {

  /** The fixed-point ANN geometry, declared once: the fp kernels below and
    * the `LlmOps` oracle builders that replay them both read it, so no
    * value can change on one side only and fail the hash check unexplained. */
  private[graft] object FpGeometry {
    val Cells = 16          // k-means cells of the coarse quantizer
    val Iters = 10          // unrolled integer Lloyd rounds
    val SampleCap = 4096    // md5-rank training sample
    val NProbe = 4          // probed cells per query
    val FilteredNProbe = 8  // the filtered serve over-probes 2×
    val PqM = 4             // PQ subspaces
    val PqKSub = 16         // codes per PQ subspace codebook
    val PqSubIters = 5      // Lloyd rounds per PQ codebook
    val PqRefine = 8        // PQ shortlist = k · refine
    val SqRefine = 8        // SQ shortlist = k · refine
    val PcaDims = 2         // PCA-route reduced dimensions
    val PcaPowerIters = 8   // power-iteration rounds per component
    val PcaShortlist = 50   // PCA-route shortlist per query
    val BqRefine = 16       // BQ shortlist = k · refine
  }

  /** Embedding width the LSH planes and PQ subspaces are cut for, and
    * [[annTopK]]'s plane count and probe budget (its oracle reads them). */
  private[graft] val Dim = 64
  private[graft] val AnnPlanes = 6
  private[graft] val AnnProbes = 24

  /** Exact cosine top-k for each query vector. Output ranks are
    * deterministic: ties broken by candidate id. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", VectorOps.norm(col("qv")))
    val c = candidates.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** **Hard-negative mining** for contrastive training: per query, the
    * k most cosine-similar candidates with a DIFFERENT label — the
    * standard positive-anchor / hard-negative pairing step (similar
    * enough to be confused, labeled differently, so it carries training
    * signal). Same shape and determinism rules as [[bruteForceTopK]]
    * (ranks + ids only, ties by candidate id); the label-mismatch
    * predicate rides the same broadcast join, so the scale path is
    * unchanged (swap in the bucketed [[annTopK]] routing when the query
    * side outgrows broadcast — mining is recall-tolerant by nature). */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
      k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
        col("label").as("qlabel"), col("embedding").as("qv"))
      .withColumn("qn", VectorOps.norm(col("qv")))
    val c = candidates.select(col("vec_id").as("cand_id"),
        col("label").as("clabel"), col("embedding").as("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(q),
        col("query_id") =!= col("cand_id") && col("qlabel") =!= col("clabel"))
      .select(col("query_id"), col("qlabel"), col("cand_id"), col("clabel"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** **PCA route-then-refine** ANN — the coarse-filter-with-compressed-
    * vectors pattern (the linear-projection cousin of [[ivfPqTopK]]'s
    * ADC): fit a kDims-component PCA on the candidate corpus
    * ([[EmbeddingPca]] — quantized-Gram aggregate + bounded driver
    * eigensolve), shortlist each query's `shortlist` nearest candidates
    * by cosine IN THE REDUCED SPACE (dots over kDims floats instead of
    * d — the scan's dominant cost shrinks by d/kDims), then re-rank the
    * shortlist EXACTLY in the full space. Routing uses the unwhitened
    * projection: whitening rescales axes and distorts cosine, which is
    * exactly wrong for a metric-preserving shortlist. Output rows agree
    * with [[bruteForceTopK]] wherever the shortlist contains the true
    * top-k (spec-asserted recall floor + exact-cos agreement). */
  def pcaRouteTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      kDims: Int = 8, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k,
      s"shortlist=$shortlist must be >= k=$k (re-rank can't add rows)")
    val w = EmbeddingPca.fitProjection(candidates, col("vec_id"),
      col("embedding"), kDims)
    def reduced(df: DataFrame): DataFrame =
      EmbeddingPca.project(df, col("vec_id"), col("embedding"), w)
        .select(col("vec_id"),
          array((0 until kDims).map(m => col(s"p$m").cast("float")): _*)
            .as("embedding"))
    val short = bruteForceTopK(reduced(queries), reduced(candidates),
        shortlist)
      .select(col("query_id"), col("cand_id"))
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))
      .withColumn("qn", VectorOps.norm(col("qv")))
    val c = candidates.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"))
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    // shortlist is |queries|·shortlist rows — broadcast it into the
    // candidate scan, pull full vectors, score exactly
    broadcast(short)
      .join(c, "cand_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) /
          (col("qn") * VectorOps.norm(col("cv")))).as("cos"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim) —
    * derived from a fixed seed so bucketing is stable across runs.
    * Package-visible so the `vector_ann` oracle builder embeds the SAME
    * constants as SQL literals (the LSH replay gate) — the planes are
    * data, and the oracle must never regenerate them independently. */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int): Seq[Array[Float]] = {
    val rng = new scala.util.Random(42L)
    Seq.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian().toFloat))
  }

  /** Sign-pattern bucket id for a vector under `nPlanes` hyperplanes. */
  private def bucketOf(vec: Column, planes: Seq[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val proj = VectorOps.dot(vec, lit(p))
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed approximate top-k with **query-directed multi-probe**
    * (Lv et al. 2007, "Multi-Probe LSH"): 6 sign bits → 2⁶ buckets, and
    * each query additionally probes the 24 buckets
    * reached by flipping SUBSETS OF ITS SMALLEST-MARGIN planes — a true
    * neighbor that landed in another bucket almost certainly differs in
    * exactly the bits whose projections sit near zero. The round-5
    * formulation probed only single-bit flips, hard-capping probes at
    * nPlanes (recall plateaued at 0.22 on the near-uniform sf0.001
    * corpus, the hardest case for hyperplane LSH); subset perturbations
    * keep scaling past that — measured 0.58 at 24 probes ([[AnnProbes]]
    * over [[AnnPlanes]] = 6 planes), and clustered corpora (real
    * embeddings) do far better still.
    * Perturbation order is binary counting over the margin-ranked
    * planes: {1},{2},{1,2},{3},… — sizes grow as probes do, and every
    * subset is distinct, so probed buckets never repeat. Probing stays
    * per-row expression work feeding the same bucket equi-join — the
    * scale shape is unchanged. */
  def annTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val planes = hyperplanes(AnnPlanes, Dim)
    val c = candidates
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
      .withColumn("bucket", bucketOf(col("cv"), planes))
    // planes ranked by |projection| ascending: ranked[j] = index of the
    // (j+1)-smallest-margin plane. abs(proj) ties broken by plane index
    // via the struct's second field — fully deterministic.
    val ranked = transform(
      array_sort(array(planes.zipWithIndex.map { case (p, i) =>
        struct(abs(VectorOps.dot(col("qv"), lit(p))).as("m"), lit(i).as("i"))
      }: _*)),
      s => s.getField("i"))
    val qb = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", VectorOps.norm(col("qv")))
      .withColumn("bucket0", bucketOf(col("qv"), planes))
      .withColumn("ranked", ranked)
    // perturbation k (1-based) flips the ranked planes named by k's set
    // bits; distinct bits make the XOR a plain sum of single-bit masks
    def mask(k: Int): Column =
      (0 until AnnPlanes).filter(j => ((k >> j) & 1) == 1)
        .map(j => expr(s"shiftleft(bigint(1), ranked[$j])"))
        .reduce(_ + _)
    val probeBuckets = array(
      (col("bucket0") +: (1 to AnnProbes).map(k =>
        col("bucket0").bitwiseXOR(mask(k)))): _*)
    val q = qb.select(col("query_id"), col("qv"), col("qn"),
      explode(probeBuckets).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Fixed-point Lloyd — the [[graft.operators.Graph]] `pageRankFixedPoint`
    * discipline applied to k-means: points and centroids are integer
    * vectors (coordinates pre-quantized to ⌊x·10⁶⌋ longs), distances are
    * exact integer L2, centroid updates are truncating integer division
    * (Java `/` toward zero ≡ DuckDB `//`), ties break to the smallest
    * cell index, and empty cells KEEP their previous centroid — every
    * step order-free exact arithmetic, so a DuckDB oracle unrolls the
    * same iterations to the same centroids bit for bit. No k-means++
    * randomness: `init` arrives from a deterministic md5-rank sample. */
  private[graft] def kMeansFp(points: Array[Array[Long]],
      init: Array[Array[Long]], iters: Int): Array[Array[Long]] = {
    require(points.nonEmpty && init.nonEmpty, "kMeansFp needs points and seeds")
    val kk = init.length
    val dim = init(0).length
    var cents = init.map(_.clone())
    var iter = 0
    while (iter < iters) {
      val sums = Array.ofDim[Long](kk, dim)
      val counts = new Array[Long](kk)
      var p = 0
      while (p < points.length) {
        val pt = points(p)
        var best = 0
        var bestD = Long.MaxValue
        var c = 0
        while (c < kk) {
          var s = 0L
          var i = 0
          while (i < dim) { val d = pt(i) - cents(c)(i); s += d * d; i += 1 }
          if (s < bestD) { bestD = s; best = c } // strict <: ties keep the smaller cell
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += pt(i); i += 1 }
        p += 1
      }
      cents = Array.tabulate(kk)(c =>
        if (counts(c) == 0L) cents(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c)))
      iter += 1
    }
    cents
  }

  /** Quantized ⌊x·10⁶⌋ coordinates of a float-array embedding — explicit
    * FLOOR (not a bare cast: Spark truncates, DuckDB rounds), matching
    * the oracle's `CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT)`. */
  private def quantized(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))

  /** (distance, cell) structs of a quantized vector against every
    * fixed-point centroid, sorted ascending — shared by [[ivfFpTopK]]'s
    * routing and [[assignCellsFp]].
    *
    * r15: ONE `transform` over the centroid matrix as a single 2-D
    * literal, not nCells copies of the zip_with/aggregate lambda (the
    * r14 profile put the fp serving family at parallelism ≈ 1.2 — wall
    * is driver analysis/codegen over these trees, ~16× smaller this
    * way). Same distances, same 0-based cell index from `transform`'s
    * index argument, same struct layout under the same array_sort —
    * bitwise-identical output, re-proven by every fp oracle. */
  private def fpCellScores(cents: Array[Array[Long]])(qv: Column): Column =
    array_sort(transform(typedLit(cents.map(_.toSeq).toSeq), (cent, i) =>
      struct(graft.functions.LongVecL2(qv, cent).as("d"), i.as("cell"))))

  /** Fixed-point cell assignment of the whole corpus — the IVF routing
    * step exposed for corpus analysis (`corpus_clusters_fp`): every step
    * ([[ivfFpCentroids]] training + this integer argmin) is exact
    * arithmetic a DuckDB oracle replays, so downstream mixture reports
    * gate fully instead of rows-only. */
  def assignCellsFp(df: DataFrame): DataFrame = {
    val cents = ivfFpCentroids(df)
    df.select(col("vec_id"), quantized(col("embedding")).as("__qv"))
      .select(col("vec_id"),
        fpCellScores(cents)(col("__qv")).getItem(0).getField("cell").as("cell"))
  }

  /** The deterministic, oracle-replayable training sample every fp
    * trainer shares: the bottom-[[FpGeometry.SampleCap]] quantized vectors by
    * (md5("graftivffp"‖id) rank, id). ONE definition — the coarse
    * quantizer, the fp index builders, and the PQ subspace codebooks
    * must all draw the SAME sample or their oracles silently drift
    * apart (the `smpi` CTE is this method, verbatim, in SQL). */
  private def fpSample(c0: DataFrame): Array[Array[Long]] =
    c0.orderBy(md5(concat(lit("graftivffp"), col("cand_id").cast("string"))),
        col("cand_id"))
      .limit(FpGeometry.SampleCap)
      .select(col("qv")).collect()
      .map(_.getSeq[Long](0).toArray)

  /** **IVF (inverted-file) top-k** over fixed-point k-means cells:
    * centroids partition the corpus into cells and each query scores
    * only the `nprobe` cells whose centroids it is closest to.
    * Data-adaptive (unlike random hyperplanes), so recall holds even on
    * near-uniform corpora; the cell join is an equi-join on cell id —
    * hash-partitionable, with the centroid matrix (nCells × dim longs)
    * riding as one literal. Training sample (md5-rank bottom-4096 ids,
    * one TakeOrdered pass), seeds (the sample's first 16 vectors), the
    * unrolled integer Lloyd ([[kMeansFp]]), corpus cell
    * assignment and query probe routing are ALL exact integer arithmetic
    * a DuckDB oracle replays; only the final rank-only cosine re-rank is
    * float, the long-proven `vector_topk` gate shape. At nprobe 8 of 16
    * cells the recall against exact top-5 is 0.82 on sf0.001 and 0.84 on
    * sf0.01 (20 queries); nprobe defaults to [[FpGeometry]]'s 4, the
    * gated geometry every `vector_ivf*_fp` oracle replays. The persisted form is
    * [[writeIvfIndexFp]] → [[ivfTopKIndexedFp]]. */
  def ivfFpTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nprobe: Int = FpGeometry.NProbe): DataFrame =
    ivfFpServe(queries, candidates, None, k, nprobe)

  /** The inline fp-IVF serve of [[ivfFpTopK]] and [[ivfFpTopKFiltered]]:
    * cells trained on the whole corpus, candidates failing `keep` dropped
    * after assignment, each query routed to its `nprobe` nearest cells. */
  private def ivfFpServe(queries: DataFrame, candidates: DataFrame,
      keep: Option[Column], k: Int, nprobe: Int): DataFrame = {
    require(nprobe <= FpGeometry.Cells, s"nprobe=$nprobe must be <= ${FpGeometry.Cells} cells")
    val c0 = candidates.select(Seq(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      quantized(col("embedding")).as("qv")) ++ keep.map(_.as("__keep")): _*)
    val cents = ivfFpCentroids(candidates)
    val cAssigned = (if (keep.isDefined) c0.filter(col("__keep")) else c0)
      .select(col("cand_id"), col("cv"),
        fpCellScores(cents)(col("qv")).getItem(0).getField("cell").as("cell"))
      .withColumn("cn", VectorOps.norm(col("cv")))
    val qAssigned = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qvf"),
        quantized(col("embedding")).as("qq"))
      .withColumn("qn", VectorOps.norm(col("qvf")))
      .select(col("query_id"), col("qvf").as("qv"), col("qn"),
        explode(transform(slice(fpCellScores(cents)(col("qq")), 1, nprobe),
          s => s.getField("cell"))).as("cell"))
    scoreCells(qAssigned, cAssigned, k)
  }

  /** The trained fixed-point centroids, exposed for spec adjudication
    * (engine cells ≡ an independent driver recompute). */
  private[graft] def ivfFpCentroids(candidates: DataFrame,
      nCells: Int = FpGeometry.Cells): Array[Array[Long]] = {
    val sample = fpSample(candidates.select(col("vec_id").as("cand_id"),
      quantized(col("embedding")).as("qv")))
    kMeansFp(sample, sample.take(nCells), FpGeometry.Iters)
  }

  /** Max vectors the float k-means trainer of [[ivfPqTopK]] sees:
    * centroid quality saturates at a few hundred points per cell, and an
    * unbounded fit would run a 10-iteration clustering job over the full
    * corpus inside the query. */
  private val IvfTrainCap = 4096

  /** [[ivfPqTopK]]'s training sample in ONE pass — the cap-many smallest
    * xxhash64(id) rows, i.e. a deterministic uniform sample that needs no
    * prior count(): TakeOrderedAndProject keeps a bounded heap per
    * partition. The coarse centroids and subspace codebooks then come
    * from a driver-side [[KMeansLite]] on ≤4096×dim doubles — seeded, no
    * executor round-trips. */
  private def trainSample(c0: DataFrame): Array[Array[Double]] =
    c0.orderBy(xxhash64(col("cand_id"))).limit(IvfTrainCap)
      .select(col("cv")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  /** ||v - c||² = ||v||² - 2·v·c + ||c||² ; ||v||² constant per row so
    * argmin needs only ||c||² - 2·v·c. */
  private def centDist2(v: Column, cent: Array[Float]): Column = {
    val c2 = cent.map(x => x.toDouble * x.toDouble).sum
    lit(c2) - lit(2.0) * VectorOps.dot(v, lit(cent))
  }

  /** Ids of the n closest centroids: sort (score, id) structs. */
  private def nearestCellsOf(cents: Seq[(Array[Float], Int)])(
      v: Column, n: Int): Column = {
    val scored = array(cents.map { case (cent, i) =>
      struct(centDist2(v, cent).as("d"), lit(i).as("cell"))
    }: _*)
    slice(array_sort(scored), 1, n).getField("cell")
  }

  /** Shared tail of the IVF paths: score probed (query, candidate) rows
    * and keep each query's top k. */
  private def scoreCells(qAssigned: DataFrame, cAssigned: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    qAssigned.join(cAssigned, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------- persisted IVF index

  /** Fraction of the index appended since its centroids were trained —
    * the [[compactIvfIndexFp]] cadence trigger: `(live − base) / base`,
    * where `base` rides in the centroid side table from the last
    * [[writeIvfIndexFp]]/compaction and `live` is a parquet-metadata
    * count. A maintenance job compacts when this passes its threshold
    * (0.2–0.5 is the usual band; [[maintainIvfIndexFp]] is that policy),
    * exactly as [[Upsert.vacuum]] runs on a version-count cadence. Both
    * counts are footer reads — safe to poll on every ingest tick. */
  def ivfDriftFraction(spark: org.apache.spark.sql.SparkSession,
      table: String): Double = {
    val cents = spark.table(s"${table}__centroids")
    require(cents.columns.contains("base_rows"),
      s"ivfDriftFraction: '$table' predates drift tracking (no base_rows " +
        "in its centroid table) — rebuild via writeIvfIndexFp or " +
        "compactIvfIndexFp to stamp it")
    val row = cents.agg(max(col("base_rows"))).head
    require(!row.isNullAt(0),
      s"ivfDriftFraction: empty centroid table for '$table'")
    val base = row.getLong(0)
    require(base > 0, s"ivfDriftFraction: empty base count for '$table'")
    val live = spark.table(table).count()
    (live - base).toDouble / base.toDouble
  }

  /** **Index observability report** over a persisted IVF index
    * ([[writeIvfIndexFp]]): one row per occupied
    * cell with the occupancy facts an operator watches before they
    * become incidents — `n_rows` (this cell), `total_rows` / `n_cells` /
    * `max_rows` / `min_rows` (the run-wide frame), `share_x10000`
    * (this cell's fraction of the index, integer parts-per-10k),
    * `imbalance_x1000` (max-cell size over the perfectly-balanced size,
    * ×1000 — the routing-skew factor: probed-cell serving cost is
    * bounded by the largest cell, so imbalance IS the tail-latency
    * multiplier), and `delta_rows` (rows appended since the base build —
    * [[ivfDriftFraction]]'s numerator, surfaced per report instead of
    * hidden in the policy).
    *
    * Everything is integer counts and truncating division — exact,
    * order-free arithmetic — so on an fp index the whole report
    * hash-matches a DuckDB replay of the assignment pipeline
    * (`vector_index_stats`). At-least-once streamed appends
    * ([[ivfIndexSinkFp]]) count duplicated rows toward `n_rows` and
    * `delta_rows`, the same conservative accounting [[ivfDriftFraction]]
    * uses: a replay inflates the drift signal, never hides it.
    *
    * Scale shape: the per-cell counts are ONE map-side-combinable
    * aggregate over the bucketed index (the count collapses inside each
    * bucket scan task before the nCells-row shuffle); the run-wide frame
    * is a window over the nCells result rows — bounded by index
    * GEOMETRY, not corpus size — and `base_rows` is one bounded
    * centroid-table read. At 100 TB this reads index metadata + one
    * columnless scan; nothing ∝ corpus crosses the network. */
  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val cents = spark.table(s"${table}__centroids")
    require(cents.columns.contains("base_rows"),
      s"ivfIndexStats: '$table' predates drift tracking (no base_rows " +
        "in its centroid table) — rebuild via writeIvfIndexFp or " +
        "compactIvfIndexFp to stamp it")
    val row = cents.agg(max(col("base_rows"))).head
    require(!row.isNullAt(0),
      s"ivfIndexStats: empty centroid table for '$table'")
    val base = row.getLong(0)
    val w = Window.partitionBy()
    spark.table(table)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_rows"))
      .withColumn("total_rows", sum(col("n_rows")).over(w))
      .withColumn("n_cells", count(lit(1)).over(w))
      .withColumn("max_rows", max(col("n_rows")).over(w))
      .withColumn("min_rows", min(col("n_rows")).over(w))
      // integral div on longs: positive operands, so Spark `div` ≡
      // DuckDB `//` exactly (the trunc-div oracle discipline)
      .withColumn("share_x10000", expr("n_rows * 10000L div total_rows"))
      .withColumn("imbalance_x1000",
        expr("max_rows * n_cells * 1000L div total_rows"))
      .withColumn("delta_rows", col("total_rows") - lit(base))
  }

  /** The catalog bucket count of an IVF index table — the shared
    * layout lookup of [[appendToIvfIndexFp]] and [[compactIvfIndexFp]];
    * refuses loudly on a non-bucketed table. */
  private def bucketCountOf(spark: org.apache.spark.sql.SparkSession,
      table: String, caller: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"$caller: '$table' is not a bucketed IVF index"))

  /** **Crash-safe generation swap**, the skeleton of
    * [[compactIvfIndexFp]]: `rebuild(next)` builds the full new
    * generation (bucketed main table, then its `__centroids` side table
    * LAST) under the `<table>__compact_next` name while the LIVE index
    * stays intact and servable, and only metadata-level renames touch
    * the live name at the very end. The `__compact_next__centroids`
    * table is therefore the rebuild-complete marker: a re-run after a
    * crash mid-swap FINISHES the swap instead of rebuilding, and a crash
    * mid-rebuild leaves the live index untouched (the partial
    * `__compact_next` is dropped by the next run's writeBucketed). No
    * window exists where the data survives only in a stage table. */
  private def compactGenerationSwap(spark: org.apache.spark.sql.SparkSession,
      table: String)(rebuild: String => Unit): Unit = {
    val next = s"${table}__compact_next"
    def finishSwap(): Unit = {
      if (spark.catalog.tableExists(next)) {
        Joins.dropTableAndLocation(spark, table)
        spark.sql(s"ALTER TABLE `$next` RENAME TO `$table`")
      }
      Joins.dropTableAndLocation(spark, s"${table}__centroids")
      spark.sql(
        s"ALTER TABLE `${next}__centroids` RENAME TO `${table}__centroids`")
    }
    // Crash recovery: a previous compaction finished its rebuild (the
    // centroids marker exists) but died before or mid-swap — complete
    // the swap; the finished generation IS the compacted index.
    if (spark.catalog.tableExists(s"${next}__centroids")) {
      finishSwap()
      return
    }
    rebuild(next)
    finishSwap()
  }

  /** The fp-index centroid side table: `centroid_fp` is the integer
    * (⌊x·10⁶⌋-space) centroid [[kMeansFp]] trained — stored as longs so
    * the persisted index carries EXACTLY the arithmetic the DuckDB
    * oracle replays; no float round-trip sits between training and
    * serving. Sorted by cell so routing literals are positionally
    * stable. */
  private[graft] def readCentroidsFp(
      spark: org.apache.spark.sql.SparkSession,
      table: String): Array[Array[Long]] =
    spark.table(s"${table}__centroids")
      .select(col("cell"), col("centroid_fp")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).map(_._2)

  /** Fixed-point cell column for a float-vector column under explicit
    * integer centroids — the one assignment expression every fp index
    * path (build, append, serve-routing) shares, so the persisted cells
    * can never drift from the oracle's `ca` CTE. */
  private def fpCellOf(cents: Array[Array[Long]])(cv: Column): Column =
    fpCellScores(cents)(quantized(cv)).getItem(0).getField("cell")

  /** Build the **persisted IVF index** — the vector-database pattern
    * (train once, assign once, serve many query batches), mirroring the
    * dedup signature index's cross-run loop: md5-rank sample → integer
    * Lloyd ([[ivfFpCentroids]]) → integer-L2 assignment → write
    * bucketed+sorted BY CELL, with the integer centroids + base_rows in
    * a `<table>__centroids` side table so later sessions route queries
    * without retraining. Bucketing by cell is what makes serving cheap:
    * a query batch's probed cells become an `IN` filter the scan turns
    * into BUCKET PRUNING (spec-asserted via SelectedBucketsCount). Every
    * construction step is exact arithmetic the driver's DuckDB oracle
    * unrolls, so "served from the persisted index ≡ inline
    * [[ivfFpTopK]]" is a driver hash equality. */
  def writeIvfIndexFp(candidates: DataFrame, table: String,
      nCells: Int = FpGeometry.Cells, buckets: Int = 8): Unit = {
    val spark = candidates.sparkSession
    val cents = ivfFpCentroids(candidates, nCells)
    val c0 = candidates.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"))
    Joins.writeBucketed(
      c0.withColumn("cn", VectorOps.norm(col("cv")))
        .withColumn("cell", fpCellOf(cents)(col("cv"))),
      table, "cell", buckets)
    val baseRows = spark.table(table).count()
    import spark.implicits._
    val centRows = cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, baseRows) }
      .toDF("cell", "centroid_fp", "base_rows")
    Joins.dropTableAndLocation(spark, s"${table}__centroids")
    centRows.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${table}__centroids")
  }

  /** **Incremental IVF index maintenance** — [[Dedup.incrementalDedup]]'s
    * contract applied to ANN: a delta of new vectors joins the persisted
    * index WITHOUT a rebuild. The delta is assigned to the index's
    * EXISTING integer centroids (read from the side table — no retrain:
    * centroid identity is what keeps old and new entries in comparable
    * cells) and appended under the same bucket spec, so later
    * [[ivfTopKIndexedFp]] serves base+delta with the same bucket-pruned
    * scan and ZERO Exchange on the index side. Work ∝ |delta|; the base
    * is never read, re-shuffled or rewritten. Because the assignment is
    * the same integer argmin the oracle replays, the maintenance law
    * (base+delta served ≡ inline over the union under base-trained
    * centroids) is driver-hash-checked. Centroids drift from optimal as
    * the corpus shifts; [[compactIvfIndexFp]] is the retrain step. */
  def appendToIvfIndexFp(spark: org.apache.spark.sql.SparkSession,
      table: String, delta: DataFrame): Unit = {
    val cents = readCentroidsFp(spark, table)
    require(cents.nonEmpty,
      s"appendToIvfIndexFp: empty centroid table for '$table'")
    val buckets = bucketCountOf(spark, table, "appendToIvfIndexFp")
    delta.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
      .withColumn("cell", fpCellOf(cents)(col("cv")))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "zstd")
      .bucketBy(buckets, "cell")
      .sortBy("cell")
      .saveAsTable(table)
    // When the delta arrives through [[ivfIndexSinkFp]], this append runs
    // under the stream execution's CLONED session: the clone's write
    // invalidates its OWN relation cache, not the serving session's, so
    // a subsequent [[ivfTopKIndexedFp]] on `spark` would scan the stale
    // pre-append file listing and silently drop every streamed vector —
    // caught by the r14 `vector_ann_sql_streamed` hash gate (the direct
    // batch-API path was immune: same session, self-invalidating write).
    // Refresh against the session that serves.
    spark.catalog.refreshTable(table)
  }

  /** **IVF compaction/retrain** — the [[Upsert.vacuum]] analogue for the
    * ANN index: after many deltas the centroids (trained on the original
    * base) drift from the corpus distribution and recall degrades
    * SILENTLY. Compaction retrains on the CURRENT contents and rebuilds
    * the bucketed layout under [[compactGenerationSwap]]; work ∝ corpus,
    * run on a cadence ([[maintainIvfIndexFp]]), and serve cost is
    * unchanged. Geometry is preserved: the cell count and bucket width
    * are read from the index itself. [[ivfFpCentroids]]' md5-rank sample
    * is keyed by id alone, so retraining on base+delta contents draws
    * exactly the sample a fresh build over the union would — "compacted
    * ≡ fresh rebuild" is a driver hash equality. */
  def compactIvfIndexFp(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    compactGenerationSwap(spark, table) { next =>
      val cells = readCentroidsFp(spark, table).length
      require(cells > 0, s"compactIvfIndexFp: empty centroid table for '$table'")
      val nBuckets = bucketCountOf(spark, table, "compactIvfIndexFp")
      // dropDuplicates: [[ivfIndexSinkFp]]'s appends are at-least-once
      // under foreachBatch crash replay, and a replayed batch's rows are
      // IDENTICAL (same vector → same cell/cn under the same centroids),
      // so the full-row distinct is deterministic and compaction HEALS
      // the physical duplicates — the index returns to one row per
      // vector on the same cadence that fixes centroid drift. A
      // duplicate-free index (the batch-API path) passes through
      // unchanged, so "compacted ≡ fresh rebuild" is preserved exactly.
      writeIvfIndexFp(
        spark.table(table).dropDuplicates()
          .select(col("cand_id").as("vec_id"), col("cv").as("embedding")),
        next, cells, nBuckets)
    }

  /** **Streaming fp-IVF maintenance** — [[appendToIvfIndexFp]] mounted
    * as a `foreachBatch` sink body: the continuous-ingest half of the
    * write → append → compact lifecycle (the vector-database pattern —
    * the corpus arrives as a stream and the index serves while it
    * grows). Each micro-batch is assigned to the index's EXISTING
    * integer centroids and appended under the same bucket spec — work
    * ∝ batch, the base is never read or rewritten, and serving between
    * batches stays bucket-pruned.
    *
    * Replay contract (the versionedSink question, answered differently):
    * appends are AT-LEAST-ONCE under crash replay, and that is safe
    * end-to-end because (a) serving is replay-tolerant BY CONSTRUCTION —
    * [[ivfTopKIndexedFp]]'s scoring collapses (query, cand, cos)
    * duplicates before ranking, so a double-appended batch serves
    * bit-identical results (spec-pinned) — and (b) [[compactIvfIndexFp]]
    * heals the physical duplicates on the same cadence that fixes
    * centroid drift. [[ivfDriftFraction]] counts duplicated rows toward
    * drift, which only makes compaction fire EARLIER after a replay —
    * the conservative direction. */
  def ivfIndexSinkFp(spark: org.apache.spark.sql.SparkSession,
      table: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => appendToIvfIndexFp(spark, table, batch)

  /** The maintenance policy in one call — the cadence contract
    * [[ivfDriftFraction]] documents, made executable: compact when the
    * appended fraction passes `threshold` (0.2–0.5 is the usual band).
    * Returns whether a compaction ran, so an ingest job can log it.
    * Safe to call on every tick: the drift probe is two parquet-footer
    * counts, and a replayed/duplicated stream batch only pushes drift
    * UP, firing compaction earlier (which also heals the duplicates) —
    * the conservative direction at every step. */
  def maintainIvfIndexFp(spark: org.apache.spark.sql.SparkSession,
      table: String, threshold: Double = 0.3): Boolean = {
    require(threshold > 0, s"threshold must be positive (got $threshold)")
    val drifted = ivfDriftFraction(spark, table) >= threshold
    if (drifted) compactIvfIndexFp(spark, table)
    drifted
  }

  /** Serve fp-IVF top-k from a [[writeIvfIndexFp]] table: integer-L2
    * query routing against the persisted integer centroids, the probed
    * cells collapse to an `IN` filter (bucket pruning — only the probed
    * cells' buckets are read), float cosine only in the final rank-only
    * re-rank (the proven `vector_topk` gate shape). nprobe defaults to
    * [[ivfFpTopK]]'s so the served result IS the inline fp result. */
  def ivfTopKIndexedFp(queries: DataFrame,
      spark: org.apache.spark.sql.SparkSession, table: String, k: Int,
      nprobe: Int = FpGeometry.NProbe): DataFrame = {
    val cents = readCentroidsFp(spark, table)
    require(cents.nonEmpty,
      s"ivfTopKIndexedFp: empty centroid table for '$table'")
    // persisted: the routed query batch feeds the probe-list collect AND
    // the scoring join — without the memo the query-side pipeline (scan,
    // norms, nCells distance sort, explode) would run twice per call
    val qAssigned = Dedup.memoPersist(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", VectorOps.norm(col("qv")))
      .withColumn("cell", explode(transform(
        slice(fpCellScores(cents)(quantized(col("qv"))), 1, nprobe),
        s => s.getField("cell")))))
    val probed = qAssigned.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cAssigned = spark.table(table)
      .filter(col("cell").isin(probed: _*))
      .select(col("cell"), col("cand_id"), col("cv"), col("cn"))
    scoreCells(qAssigned, cAssigned, k)
  }

  /** IVF-PQ (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): float k-means coarse cells ([[KMeansLite]] on
    * the one-pass [[trainSample]]) route queries as in [[ivfFpTopK]],
    * but candidates are scored from **product-quantized
    * codes** instead of their raw vectors — the memory-bound regime's
    * answer. The vector splits into `m` subspaces; each subspace gets a
    * `kSub`-centroid codebook (trained on the same one-pass seeded
    * sample, driver-side Lloyd per subspace); a vector encodes to m small
    * codes (m bytes at kSub=256; here kSub=32) plus its cell id — 64
    * float32 dims collapse to 8 codes + 1 int, a ~30× shrink of what the
    * scoring join shuffles and caches. Queries never decode: each query
    * precomputes per-subspace lookup tables dot(q_sub, codebook_j)
    * (asymmetric distance computation), and a candidate's approximate
    * dot product is m table lookups summed via `zip_with`. Norms are
    * approximated from the codebook entries at encode time, so the
    * rank key is approx-cosine over the full probed cells, then the
    * `refine`·k ADC shortlist is re-ranked **exactly** by joining the raw
    * vectors back by candidate id (the standard IVF-PQ refinement step —
    * an equi-join touching refine·k rows per query, not the corpus).
    * Plan shape: cell equi-join + id equi-join, codebooks and LUTs
    * broadcast with the (tiny) query side — no corpus broadcast, no
    * nested loop, hash-partitionable at any corpus size. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val (nCells, nprobe, m, kSub, refine) = (16, 8, 8, 32, 8)
    val d = Dim / m
    val c0 = candidates.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val sample = trainSample(c0)
    val coarse = KMeansLite.fit(sample, nCells, iters = 10, seed = 42L)
      .map(_.map(_.toFloat)).zipWithIndex
    // per-subspace codebooks: Lloyd on the sample's d-dim slices;
    // distinct seed per subspace so identical subspace distributions
    // don't train identical books
    val books: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      KMeansLite.fit(sample.map(_.slice(s * d, (s + 1) * d)), kSub,
        iters = 10, seed = 42L + s).map(_.map(_.toFloat))
    }
    val bookNorm2: Array[Array[Double]] =
      books.map(_.map(cb => cb.map(x => x.toDouble * x.toDouble).sum))

    val nearestCells = nearestCellsOf(coarse) _
    // encode: per subspace, the argmin-distance codebook entry
    def codeOf(v: Column, s: Int): Column = {
      val sub = slice(v, s * d + 1, d)
      val scored = array(books(s).zipWithIndex.map { case (cb, j) =>
        struct(centDist2(sub, cb).as("d"), lit(j).as("code"))
      }: _*)
      array_min(scored).getField("code")
    }

    val codeCols = (0 until m).map(s => codeOf(col("cv"), s).as(s"__c$s"))
    val encoded = c0
      .select((col("cand_id") +: nearestCells(col("cv"), 1).getItem(0).as("cell") +:
        codeCols): _*)
      .select(col("cand_id"), col("cell"),
        array((0 until m).map(s => col(s"__c$s")): _*).as("codes"),
        sqrt((0 until m).map(s =>
            element_at(lit(bookNorm2(s)), col(s"__c$s") + 1))
          .reduce(_ + _)).as("cn_approx"))

    // ADC lookup tables: lut[s][j] = dot(q_sub_s, books(s)(j))
    def lutOf(qv: Column): Column = array((0 until m).map { s =>
      val sub = slice(qv, s * d + 1, d)
      array(books(s).map(cb => VectorOps.dot(sub, lit(cb))): _*)
    }: _*)
    val qAssigned = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", VectorOps.norm(col("qv")))
      .withColumn("lut", lutOf(col("qv")))
      .withColumn("cell", explode(nearestCells(col("qv"), nprobe)))

    val adc = aggregate(
      zip_with(col("lut"), col("codes"), (l, c) => element_at(l, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_approx").desc, col("cand_id"))
    // (query_id, cand_id) pairs are unique out of the cell join — each
    // candidate sits in exactly one cell and a query's nprobe probed
    // cells are distinct — so no dedup aggregate is needed here (it
    // would shuffle the largest intermediate for nothing)
    val shortlist = qAssigned.join(encoded, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qv"), col("qn"),
        (adc / (col("qn") * col("cn_approx"))).as("cos_approx"))
      .withColumn("rank_adc", row_number().over(wAdc))
      .filter(col("rank_adc") <= k * refine)

    // refinement: exact cosine on the shortlist only (id equi-join)
    val raw = c0.withColumn("cn", VectorOps.norm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    shortlist.join(raw, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** **Fixed-point IVF-PQ** — [[ivfPqTopK]]'s hash-gated twin, closing
    * the last training-dependent oracle boundary in the ANN family: the
    * coarse quantizer AND the m per-subspace codebooks are integer Lloyd
    * ([[kMeansFp]]) over the SAME md5-rank sample (each book trains on
    * the sample's d-dim slices, seeded by its first kSub slices), encode
    * is an integer-L2 argmin per subspace (ties → smaller code), and ADC
    * is the integer **L2 form**: adc(q, c) = Σₛ ‖q_s − bookₛ[cₛ]‖² —
    * every arithmetic step up to the shortlist replays exactly in
    * DuckDB. Only the final refine re-rank is float cosine (rank-only —
    * the proven `vector_topk` gate shape). Geometry is deliberately
    * smaller than production [[ivfPqTopK]] (m=4×16-dim books of 16 codes
    * vs 8×8 of 32): the twin gates the PQ SHAPE — train → encode → ADC
    * shortlist → exact refine — not the production tuning, and the
    * smaller unroll keeps the oracle's 60 Lloyd CTEs tractable. */
  def ivfPqFpTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import FpGeometry.{PqM => m}
    val d = Dim / m
    val c0 = candidates.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), quantized(col("embedding")).as("qv"))
    val sample = fpSample(c0)
    val coarse = kMeansFp(sample, sample.take(FpGeometry.Cells), FpGeometry.Iters)
    val books: Array[Array[Array[Long]]] = Array.tabulate(m) { s =>
      val slices = sample.map(_.slice(s * d, (s + 1) * d))
      kMeansFp(slices, slices.take(FpGeometry.PqKSub), FpGeometry.PqSubIters)
    }
    def sliceOf(v: Column, s: Int): Column = slice(v, s * d + 1, d)
    // one transform over the codebook matrix per subspace (the
    // fpCellScores tree-size discipline): kSub codebook rows as a single
    // 2-D literal, code = transform's index argument — identical argmin
    def codeOf(v: Column, s: Int): Column =
      array_sort(transform(typedLit(books(s).map(_.toSeq).toSeq), (cb, j) =>
        struct(graft.functions.LongVecL2(sliceOf(v, s), cb).as("d"),
          j.as("code")))).getItem(0).getField("code")
    val enc = c0.select(
      (col("cand_id") +:
        fpCellScores(coarse)(col("qv")).getItem(0).getField("cell").as("cell") +:
        (0 until m).map(s => codeOf(col("qv"), s).as(s"__c$s"))): _*)
    val qA = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qvf"),
        quantized(col("embedding")).as("qq"))
      .withColumn("qn", VectorOps.norm(col("qvf")))
      .withColumn("cell", explode(transform(
        slice(fpCellScores(coarse)(col("qq")), 1, FpGeometry.NProbe),
        s => s.getField("cell"))))
    // integer ADC: per subspace, L2 between the query's quantized slice
    // and the codebook row the candidate's code names (typedlit 2-D
    // literal + element_at — no decode, no float)
    val adc = (0 until m).map { s =>
      val bookLit = typedLit(books(s).map(_.toSeq).toSeq)
      graft.functions.LongVecL2(sliceOf(col("qq"), s),
        element_at(bookLit, col(s"__c$s") + 1))
    }.reduce(_ + _)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    val shortlist = qA.join(enc, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qvf").as("qv"),
        col("qn"), adc.as("adc"))
      .withColumn("rank_adc", row_number().over(wAdc))
      .filter(col("rank_adc") <= k * FpGeometry.PqRefine)
    val raw = c0.select(col("cand_id"), col("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    shortlist.join(raw, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** **Fixed-point IVF-SQ (scalar quantization)** — the third member of
    * the classic inverted-file index family (faiss IVFFlat / IVFPQ /
    * IVFSQ), hash-gated like its siblings: candidates are scored from
    * **8-bit-range scalar codes** instead of raw vectors. Per dimension
    * d, the corpus min `lo_d` and a truncating scale
    * `sc_d = (max_d − lo_d) div 255 + 1` map each ⌊x·10⁶⌋ coordinate to
    * a code `(q_d − lo_d) div sc_d ∈ [0, 255]` — where PQ compresses by
    * SUBSPACE CODEBOOKS (m lookups per pair), SQ compresses each
    * dimension independently (no codebooks to train, one arithmetic op
    * per dimension), the memory/recall trade production systems pick
    * when encode throughput matters more than maximal compression.
    * Routing is the shared integer-Lloyd IVF ([[ivfFpCentroids]], the
    * same training `ivfFpTopK` serves — the oracle reuses the same
    * Lloyd replay); the shortlist ranks probed-cell candidates by
    * integer L2 in code space (ties → smaller id); only the final
    * refine re-rank is float cosine (rank-only — the proven gate
    * shape). Every step is integer arithmetic: min/max are exact, the
    * scale and codes are truncating divisions on NON-NEGATIVE operands
    * (q_d ≥ lo_d by construction), so Spark's double-division-then-cast
    * (exact below 2⁵³ — coordinates are ≤ 2·10⁶) ≡ DuckDB BIGINT `//`.
    *
    * Plan shape: the min/max stats are ONE 64-group aggregate (map-side
    * combined — corpus size never crosses the exchange), encode is one
    * per-row projection, and scoring is the same bucket-prunable cell
    * equi-join as every IVF path — codes shrink what that join carries
    * ~8× vs the quantized longs. Stats/codes never broadcast the
    * corpus; the 64-row min/max collect is a bounded driver artifact
    * (the [[pcaRouteFpTopK]] Gram precedent, 32× smaller). */
  def ivfSqFpTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val c0 = candidates.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), quantized(col("embedding")).as("qv"))
    val cents = ivfFpCentroids(candidates)
    // bounded collect: 64 (lo, hi) pairs — the per-dimension range the
    // scalar quantizer maps onto [0, 255]
    val stats = c0.select(posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val lo = stats.map(_._2)
    val sc = stats.map { case (_, l, h) => (h - l) / 255L + 1L }
    // code_d = (q_d - lo_d) div sc_d: operands are non-negative, so the
    // double division + long cast truncates exactly like DuckDB `//`
    def codesOf(qv: Column): Column =
      zip_with(zip_with(qv, lit(lo), (a, b) => a - b), lit(sc),
        (a, b) => (a / b).cast("long"))
    val cAssigned = c0.select(col("cand_id"),
      fpCellScores(cents)(col("qv")).getItem(0).getField("cell").as("cell"),
      codesOf(col("qv")).as("cd"))
    val qA = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qvf"),
        quantized(col("embedding")).as("qq"))
      .withColumn("qn", VectorOps.norm(col("qvf")))
      .withColumn("qcd", codesOf(col("qq")))
      .withColumn("cell", explode(transform(
        slice(fpCellScores(cents)(col("qq")), 1, FpGeometry.NProbe),
        s => s.getField("cell"))))
    val sqDist = graft.functions.LongVecL2(col("qcd"), col("cd"))
    val wSq = Window.partitionBy(col("query_id"))
      .orderBy(col("sqd"), col("cand_id"))
    // (query, cand) pairs are unique out of the cell join (one cell per
    // candidate, distinct probed cells per query) — no dedup needed
    val shortlist = qA.join(cAssigned, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qvf").as("qv"),
        col("qn"), sqDist.as("sqd"))
      .withColumn("rank_sq", row_number().over(wSq))
      .filter(col("rank_sq") <= k * FpGeometry.SqRefine)
    val raw = c0.select(col("cand_id"), col("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    shortlist.join(raw, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** **Scalar-quantization distortion report** — the geometry-side QA
    * gate next to the recall rows: per vector, the exact integer
    * reconstruction error of [[ivfSqFpTopK]]'s 8-bit encode. With
    * `recon_d = lo_d + code_d · sc_d` (the decode every SQ serving
    * system performs), the residual `err_d = q_d − recon_d` is the
    * floor-division remainder — non-negative and < `sc_d` BY
    * CONSTRUCTION, so `max_err` also proves the quantizer's error bound
    * row by row. `sse` = Σ err² is the per-vector L2 distortion the
    * recall gate can only observe indirectly: a stats regression (wrong
    * scale, clipped range, swapped lo/hi) shifts these integers even
    * when ranking happens to survive. All arithmetic is integer-exact,
    * so the whole report hash-matches the DuckDB replay
    * (`vector_sq_error`).
    *
    * Scale shape: ONE 64-group map-side-combined min/max aggregate
    * (bounded 64-row driver collect, the [[ivfSqFpTopK]] stats
    * artifact), then one embarrassingly-parallel per-row projection —
    * no join, no shuffle; nothing ∝ corpus crosses the network. */
  def sqDistortion(candidates: DataFrame): DataFrame = {
    val c0 = candidates.select(col("vec_id"),
      quantized(col("embedding")).as("qv"))
    val stats = c0.select(posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val lo = stats.map(_._2)
    val sc = stats.map { case (_, l, h) => (h - l) / 255L + 1L }
    // err_d = (q_d − lo_d) − ((q_d − lo_d) div sc_d) · sc_d — the
    // non-negative floor-division remainder (operands ≥ 0, so the
    // double-div + long cast truncates exactly like DuckDB `//`)
    val pre = zip_with(col("qv"), lit(lo), (a, b) => a - b)
    val rem = zip_with(pre, lit(sc),
      (a, s) => a - (a / s).cast("long") * s)
    c0.select(col("vec_id"), rem.as("e"))
      .select(col("vec_id"),
        aggregate(col("e"), lit(0L), (acc, x) => acc + x * x).as("sse"),
        array_max(col("e")).as("max_err"))
  }

  /** Fixed-point trunc-division (Java `/` semantics) — named so every
    * division in [[pcaRouteFpTopK]] is visibly the one DuckDB BIGINT
    * `//` mirrors (both truncate toward zero — measured, not assumed:
    * (−7)//2 = −3 in DuckDB; an earlier floor assumption is corrected
    * in the r13 review notes). */
  private def truncDiv(a: Long, b: Long): Long = a / b

  /** **Fixed-point PCA route-then-refine** — [[pcaRouteTopK]]'s
    * hash-gated twin, breaking the "float eigensolve has no SQL twin"
    * oracle boundary the same way `vector_ivf_fp` broke k-means': every
    * training step is integer arithmetic a DuckDB oracle unrolls.
    *  - the second-moment Gram is [[EmbeddingPca.gramQuantized]]'s exact
    *    integer aggregate (already the hash-green `embedding_gram`),
    *    normalized per entry by trunc-div n·10⁶ so magnitudes are
    *    corpus-size-free;
    *  - the eigensolve is **fixed-point power iteration with integer
    *    rescale** (v ← (G·v) / ((max|G·v| / 10³) + 1), T rounds) plus
    *    integer Rayleigh deflation (λ = vᵀGv / vᵀv; G ← G − v vᵀ λ/vᵀv)
    *    for kDims components — bounded 64×64 driver work, every divide
    *    truncating;
    *  - routing projects each quantized vector onto the integer
    *    components (p = Σ qᵢvᵢ / 10³) and shortlists by integer L2 in
    *    the reduced space; only the final refine re-rank is float
    *    cosine (rank-only — the proven gate shape).
    * Divisions truncate toward zero in both engines (Java `/` ≡ Spark
    * `div` ≡ DuckDB BIGINT `//` — measured). The float [[pcaRouteTopK]]
    * (true eigensolve, cosine routing) stays the production path —
    * fixed-point power iteration trades eigen accuracy for
    * replayability, which only costs shortlist recall, and the gate is
    * engine≡oracle, not eigen-optimality. */
  def pcaRouteFpTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import FpGeometry.{PcaDims => kDims, PcaPowerIters => powerIters,
      PcaShortlist => shortlist}
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    // bounded collect: the 64×64 upper-triangle integer Gram (2,080 rows)
    val gramRows = EmbeddingPca
      .gramQuantized(candidates, col("vec_id"), col("embedding"))
      .collect()
    val dim = gramRows.map(_.getLong(1)).max.toInt + 1
    val n = gramRows.head.getLong(2)
    require(n > 0, "pcaRouteFpTopK: empty candidate corpus")
    val g = Array.ofDim[Long](dim, dim)
    gramRows.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val v = truncDiv(r.getLong(3), n * EmbeddingPca.fpScale)
      g(i)(j) = v
      g(j)(i) = v
    }
    // kDims rounds of fixed-point power iteration + Rayleigh deflation
    val comps = Array.ofDim[Long](kDims, dim)
    for (c <- 0 until kDims) {
      var v = Array.fill(dim)(1000L)
      def matvec(x: Array[Long]): Array[Long] =
        Array.tabulate(dim)(i => (0 until dim).map(j => g(i)(j) * x(j)).sum)
      for (_ <- 0 until powerIters) {
        val w = matvec(v)
        val md = truncDiv(w.map(math.abs).max, 1000L) + 1L
        v = w.map(truncDiv(_, md))
      }
      val w = matvec(v)
      val num = v.zip(w).map { case (a, b) => a * b }.sum
      val den = v.map(x => x * x).sum
      require(den > 0,
        s"pcaRouteFpTopK: component $c collapsed to zero — degenerate Gram")
      val lam = truncDiv(num, den)
      comps(c) = v
      for (i <- 0 until dim; j <- 0 until dim)
        g(i)(j) -= truncDiv(v(i) * v(j) * lam, den)
    }
    // integer projections (p_c = Σ q_i·v_c_i / 10³ — `div`, not `/`:
    // trunc division in both engines) + reduced-space L2 shortlist
    def projected(df: DataFrame, idAs: String, vecAs: String): DataFrame = {
      val qv = quantized(col("__v"))
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs))
        .withColumn("__v", col(vecAs))
        .select(
          (col(idAs) +: col(vecAs) +: (0 until kDims).map { c =>
            aggregate(zip_with(qv, lit(comps(c)), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x).as(s"__praw$c")
          }): _*)
        .select(
          (col(idAs) +: col(vecAs) +: (0 until kDims).map(c =>
            expr(s"__praw$c div 1000").as(s"${idAs}_p$c"))): _*)
    }
    val qP = projected(queries, "query_id", "qv")
      .withColumn("qn", VectorOps.norm(col("qv")))
    val cP = projected(candidates, "cand_id", "cv")
    val l2r = (0 until kDims).map(c =>
        (col(s"query_id_p$c") - col(s"cand_id_p$c")) *
          (col(s"query_id_p$c") - col(s"cand_id_p$c")))
      .reduce(_ + _)
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("l2"), col("cand_id"))
    val short = cP.join(broadcast(qP), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qv"), col("qn"),
        col("cv"), l2r.as("l2"))
      .withColumn("rank_route", row_number().over(wS))
      .filter(col("rank_route") <= shortlist)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    short
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) /
          (col("qn") * VectorOps.norm(col("cv")))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** **Maximal-marginal-relevance selection** (Carbonell & Goldstein
    * 1998) — the diversity-aware coreset picker a training-mix /
    * few-shot pipeline needs where plain top-k-by-quality returns
    * near-duplicates: greedily select k items maximizing
    * `λ·relevance − (1−λ)·max cosine to the already-selected set`,
    * relevance min-max-normalized over the candidate pool so the two
    * terms are commensurable. Ties break (score, then id) so the
    * selection is deterministic.
    *
    * Scale shape = `semantic_dedup`'s broadcast-seeds discipline: the
    * cluster-scale work is the distributed top-`poolSize` relevance cut
    * (map-side `TakeOrdered`); the greedy loop — inherently sequential,
    * k·pool similarity evaluations — runs on the DRIVER over the
    * collected pool (a bounded poolSize×dim float block, the documented
    * collect), which beats k distributed argmax jobs by orders of
    * magnitude for any pool that fits a driver heap. Cosine floats are
    * driver-deterministic; emitted output is (rank, id) only — the
    * similarity-value discipline. */
  def mmrSelect(candidates: DataFrame, id: Column, vec: Column,
      relevance: Column, k: Int, poolSize: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && poolSize >= k, "need k >= 1 and poolSize >= k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = candidates.sparkSession
    val pool = candidates
      .select(id.as("id"), vec.as("v"), relevance.cast("double").as("rel"))
      .orderBy(col("rel").desc, col("id"))
      .limit(poolSize)
      .collect()
      .map { r =>
        val raw = r.getSeq[Float](1).toArray
        val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
        (r.getLong(0), raw.map(x => if (n == 0) 0.0 else x / n), r.getDouble(2))
      }
    require(pool.nonEmpty, "mmrSelect: empty candidate pool")
    val (relLo, relHi) = (pool.map(_._3).min, pool.map(_._3).max)
    def relNorm(x: Double) = if (relHi == relLo) 1.0 else (x - relLo) / (relHi - relLo)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val remaining = scala.collection.mutable.LinkedHashMap(
      pool.map(p => p._1 -> p): _*)
    // incremental MMR: each candidate carries its running max-sim to
    // the selected set, refreshed against ONLY the newly selected
    // vector — O(k·pool·dim), not the naive O(k²·pool·dim) full
    // recompute per step
    val maxSim = scala.collection.mutable.LongMap.empty[Double]
    pool.foreach(p => maxSim(p._1) = 0.0)
    while (selected.length < math.min(k, pool.length)) {
      val best = remaining.values.maxBy { case (pid, _, prel) =>
        (lambda * relNorm(prel) - (1 - lambda) * maxSim(pid), -pid)
      }
      selected += best._1
      remaining.remove(best._1)
      remaining.values.foreach { case (pid, pv, _) =>
        val s = cos(best._2, pv)
        if (s > maxSim(pid)) maxSim(pid) = s
      }
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case (pid, i) => (i + 1L, pid) }.toDF("rank", "id")
  }

  /** **Fixed-point MMR** — [[mmrSelect]]'s hash-gated twin (the
    * `corpus_clusters_fp`/`vector_ivf_fp` discipline applied to the
    * greedy argmax): vectors are L2-normalized then quantized to
    * ⌊x/‖x‖·10⁶⌋ longs (the norm is a left-to-right double
    * sum-of-squares both engines replay bit-identically; everything
    * after the floor is integer), similarities are exact integer dots,
    * relevance min-max-normalizes to a ⌊·10¹²⌋ integer via truncating
    * division, and λ=0.7 becomes the integer weights 7/3 — so score
    * comparisons, ties (score desc, id asc), and the whole k-step greedy
    * fold are order-free exact arithmetic a DuckDB oracle unrolls as k
    * chained CTEs. Same driver-side greedy loop and bounded-pool collect
    * as [[mmrSelect]] (the broadcast-seeds discipline); the float form
    * stays the production default. */
  def mmrSelectFp(candidates: DataFrame, id: Column, vec: Column,
      relevance: Column, k: Int, poolSize: Int): DataFrame = {
    require(k >= 1 && poolSize >= k, "need k >= 1 and poolSize >= k")
    val spark = candidates.sparkSession
    val pool = candidates
      .select(id.as("id"), vec.as("v"), relevance.cast("long").as("rel"))
      .orderBy(col("rel").desc, col("id"))
      .limit(poolSize)
      .collect()
      .map { r =>
        val raw = r.getSeq[Float](1).toArray
        var n2 = 0.0
        var i = 0
        while (i < raw.length) { n2 += raw(i).toDouble * raw(i).toDouble; i += 1 }
        val n = math.sqrt(n2)
        val q = raw.map(x =>
          if (n == 0) 0L else math.floor(x.toDouble / n * 1000000.0).toLong)
        (r.getLong(0), q, r.getLong(2))
      }
    require(pool.nonEmpty, "mmrSelectFp: empty candidate pool")
    val (relLo, relHi) = (pool.map(_._3).min, pool.map(_._3).max)
    // (rel−lo)·10¹² // (hi−lo): non-negative operands (and DuckDB `//`
    // truncates like Java `/` anyway — measured). Loud cap: the scaled numerator must fit a
    // long — raise instead of wrapping silently (ANSI-off Spark has no
    // such guard, but this runs on the driver).
    require(relHi - relLo <= 4000000L,
      s"mmrSelectFp: relevance range ${relHi - relLo} overflows the 10^12 scale")
    def relScaled(x: Long): Long =
      if (relHi == relLo) 1000000000000L
      else (x - relLo) * 1000000000000L / (relHi - relLo)
    def dotFp(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val remaining = scala.collection.mutable.LinkedHashMap(
      pool.map(p => p._1 -> p): _*)
    val maxSim = scala.collection.mutable.LongMap.empty[Long]
    pool.foreach(p => maxSim(p._1) = 0L)
    while (selected.length < math.min(k, pool.length)) {
      var bestId = -1L
      var bestScore = Long.MinValue
      remaining.values.foreach { case (pid, _, prel) =>
        val sc = 7L * relScaled(prel) - 3L * maxSim(pid)
        if (sc > bestScore || (sc == bestScore && pid < bestId)) {
          bestScore = sc; bestId = pid
        }
      }
      val best = remaining(bestId)
      selected += bestId
      remaining.remove(bestId)
      remaining.values.foreach { case (pid, pv, _) =>
        val s = dotFp(best._2, pv)
        if (s > maxSim(pid)) maxSim(pid) = s
      }
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case (pid, i) => (i + 1L, pid) }.toDF("rank", "id")
  }

  // --------------------------------------------------- filtered serving

  /** **Filtered fp-IVF top-k** — vector search under a metadata
    * predicate, the production "filtered ANN" shape (`WHERE label = 3`
    * next to the vector; every serving stack grows this). The index
    * side is deliberately corpus-wide: the training sample and the
    * cell assignment ignore the predicate, because the filter is a
    * QUERY-time property — one index serves every predicate, and the
    * oracle stays [[ivfFpTopK]]'s standard Lloyd replay. The predicate
    * is applied to probed-cell candidates BEFORE ranking (post-filter
    * semantics — filtering commutes with cell assignment, so applying
    * it at the scan is plan-optimal and result-identical), and the
    * caller over-probes (`nprobe` defaults to [[FpGeometry.FilteredNProbe]],
    * 2× the unfiltered serve's) to compensate the selectivity thinning each
    * cell's match count below k. At scale the predicate is an ordinary
    * pushed parquet filter on the bucket-pruned index scan (metadata
    * rides the index as plain columns), so post-filtering costs zero
    * extra I/O — the exact reason this beats the "pre-filter then
    * brute-force" plan once the filtered set outgrows a broadcast
    * ([[hardNegatives]] covers that regime). */
  def ivfFpTopKFiltered(queries: DataFrame, candidates: DataFrame,
      pred: Column, k: Int, nprobe: Int = FpGeometry.FilteredNProbe): DataFrame =
    ivfFpServe(queries, candidates, Some(pred), k, nprobe)

  // -------------------------------------------------- binary quantization

  /** **Binary-quantization top-k** — the fourth quantization family
    * next to IVF-Flat / IVF-PQ / IVF-SQ: one BIT per dimension
    * (coordinate above/below its corpus-wide trunc-mean), so a
    * 64-dim vector compresses to ONE 64-bit code and candidate
    * scoring is two XOR+popcount ops — the cheapest serving scan any
    * vector store runs (the faiss/Milvus/pgvector "BQ" mode). The
    * shortlist ranks by Hamming distance in code space (ties → smaller
    * id), then exact float cosine refines rank-only, the proven gate
    * shape. Same popcount primitive as [[Dedup.simhashPairs]] and the
    * pHash bands ([[Multimodal]]) — but those fingerprint CONTENT
    * (shingles / pixels); this quantizes a learned embedding against
    * per-dimension corpus statistics, which is what makes it a
    * serving-time ANN code rather than a dedup signature.
    *
    * Everything before the refine is integer-exact: quantized ⌊x·10⁶⌋
    * coordinates, per-dim thresholds `Σ qv_d div n` (one 64-group
    * map-side aggregate), bit codes, XOR/popcount — a DuckDB oracle
    * replays the whole route, so this family joins the driver hash
    * gate on day one. Codes are packed as TWO longs (bits 1–32 /
    * 33–64): the top bit of a single packed long would land in the
    * sign, and cross-engine bit semantics are only proven on
    * non-negative BIGINTs.
    *
    * Scale shape: thresholds are a bounded 64-row collect; query codes
    * broadcast (queries × 2 longs); the candidate scan carries 16
    * bytes per vector instead of 256 — at 100 TB the Hamming pass
    * reads ~1.6% of the raw embedding bytes, and the float refine
    * touches only `k·refine` full vectors per query. */
  /** The 64 per-dimension trunc-mean thresholds of a quantized-vector
    * frame — ONE definition shared by the inline serve, the index
    * builder, and (in SQL) the oracle's `thrd` CTE, so persisted codes
    * can never drift from the replay. Bounded collect: 64 rows. */
  private def bqThresholds(c0: DataFrame): Array[Long] = {
    val thr = c0
      .select(posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("dim"), expr("s div n").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1).map(_._2)
    require(thr.length == 64,
      s"bqThresholds: expected 64 dims, got ${thr.length}")
    thr
  }

  /** Packed sign-bit code of a quantized vector against explicit
    * thresholds: bits `from..from+31` (1-based dims) into one
    * non-negative long. */
  private def bqCodeOf(thr: Array[Long])(qv: Column, from: Int): Column = {
    val weights = Array.tabulate(32)(i => 1L << i)
    val bits = zip_with(slice(qv, from, 32),
      lit(thr.slice(from - 1, from + 31)),
      (a, b) => when(a > b, lit(1L)).otherwise(lit(0L)))
    aggregate(zip_with(bits, lit(weights), (x, w) => x * w),
      lit(0L), (acc, x) => acc + x)
  }

  /** Query-side frame with codes + refine inputs, shared by the inline
    * and indexed BQ serves. */
  private def bqQuerySide(queries: DataFrame, thr: Array[Long]): DataFrame =
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qvf"),
        quantized(col("embedding")).as("qq"))
      .withColumn("qn", VectorOps.norm(col("qvf")))
      .select(col("query_id"), col("qvf").as("qv2"), col("qn"),
        bqCodeOf(thr)(col("qq"), 1).as("qlo"),
        bqCodeOf(thr)(col("qq"), 33).as("qhi"))

  /** Shared BQ serve tail: Hamming shortlist against coded candidates
    * (cand_id, clo, chi), exact cosine refine against the raw-vector
    * frame (cand_id, cv, cn) — split so the indexed path's shortlist
    * scan prunes to the 16-byte code columns. */
  private def bqServe(qCoded: DataFrame, cCoded: DataFrame,
      raw: DataFrame, k: Int, refine: Int): DataFrame = {
    val ham = (bit_count(col("qlo").bitwiseXOR(col("clo"))) +
      bit_count(col("qhi").bitwiseXOR(col("chi")))).cast("long")
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("ham"), col("cand_id"))
    val shortlist = cCoded
      .join(broadcast(qCoded), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qv2"), col("qn"),
        ham.as("ham"))
      .withColumn("rank_h", row_number().over(wH))
      .filter(col("rank_h") <= k * refine)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    shortlist.join(raw, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"), col("ham"),
        (VectorOps.dot(col("qv2"), col("cv")) /
          (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def bqFpTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      refine: Int = FpGeometry.BqRefine): DataFrame = {
    val c0 = candidates.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), quantized(col("embedding")).as("qv"))
    val thr = bqThresholds(c0)
    val cCoded = c0.select(col("cand_id"),
      bqCodeOf(thr)(col("qv"), 1).as("clo"),
      bqCodeOf(thr)(col("qv"), 33).as("chi"))
    val raw = c0.select(col("cand_id"), col("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
    bqServe(bqQuerySide(queries, thr), cCoded, raw, k, refine)
  }

  /** **Persisted BQ code index** — codes computed ONCE at build time
    * (how every real system serves BQ: the encode pass is the corpus
    * scan you amortize). One table carries (cand_id, clo, chi, cv, cn);
    * the Hamming shortlist selects only (cand_id, clo, chi), so parquet
    * COLUMN PRUNING gives the 16-byte scan — same mechanism as bucket
    * pruning for the IVF index, pruning columns instead of files — and
    * the refine equi-joins the raw columns back by cand_id, touching
    * k·refine rows per query. The 64 thresholds ride in a
    * `<table>__thresholds` side table so later sessions encode queries
    * without rescanning the corpus. Served ≡ inline [[bqFpTopK]] is a
    * driver hash equality (the `vector_bq_indexed_fp` oracle is the
    * inline replay verbatim). */
  def writeBqIndexFp(candidates: DataFrame, table: String): Unit = {
    val spark = candidates.sparkSession
    val c0 = candidates.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), quantized(col("embedding")).as("qv"))
    val thr = bqThresholds(c0)
    Joins.dropTableAndLocation(spark, table)
    c0.select(col("cand_id"),
        bqCodeOf(thr)(col("qv"), 1).as("clo"),
        bqCodeOf(thr)(col("qv"), 33).as("chi"),
        col("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .saveAsTable(table)
    import spark.implicits._
    Joins.dropTableAndLocation(spark, s"${table}__thresholds")
    thr.toSeq.zipWithIndex.map { case (t, d) => (d, t) }
      .toDF("dim", "thr").coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${table}__thresholds")
  }

  /** Serve BQ top-k from a [[writeBqIndexFp]] table: query codes from
    * the persisted thresholds, Hamming shortlist over the column-pruned
    * (cand_id, clo, chi) scan, exact refine joined back by id. */
  def bqTopKIndexedFp(queries: DataFrame,
      spark: org.apache.spark.sql.SparkSession, table: String, k: Int): DataFrame = {
    val thr = spark.table(s"${table}__thresholds")
      .select(col("dim"), col("thr")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).map(_._2)
    require(thr.length == 64,
      s"bqTopKIndexedFp: expected 64 thresholds for '$table', got ${thr.length}")
    val cCoded = spark.table(table).select(col("cand_id"), col("clo"), col("chi"))
    val raw = spark.table(table).select(col("cand_id"), col("cv"), col("cn"))
    bqServe(bqQuerySide(queries, thr), cCoded, raw, k, FpGeometry.BqRefine)
  }
}
