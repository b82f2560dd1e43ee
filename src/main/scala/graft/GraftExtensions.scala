package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{BoundedTopK, FloatVecDot, SortedLongIntersectCount, WinnowFingerprint}

/** Session-extension entry point: makes graft's native expressions
  * available as SQL functions. Two routes:
  *
  *  - config `spark.sql.extensions=graft.GraftExtensions` (or
  *    `.withExtensions(new GraftExtensions)`) at session build — the
  *    idiomatic deployment;
  *  - [[GraftExtensions.register]] on a live session, for harnesses
  *    (like the driver's) that construct the session themselves.
  *
  * SQL surface:
  *  - `graft_vec_dot(a, b)` — codegen'd array<float> dot product
  *  - `graft_topk(sortStruct, k)` — bounded top-k aggregate
  *  - `graft_winnow(text, k, w)` — winnowing fingerprint set
  *  - `graft_sorted_intersect(a, b)` — |A∩B| of two sorted bigint arrays
  *  - `graft_nfc(text)` — Unicode NFC normalization
  *  - `graft_shingles(text, n)` — word n-gram shingles
  *  - `graft_hilbert(x, y, bits)` — Hilbert-curve cell index
  *  - `graft_kmv(hash, k)` / `graft_cms(pos, cells)` /
  *    `graft_frequent(key, k)` — the mergeable sketch aggregates
  *  - `graft_kmv_est(sk, k)` / `graft_kmv_overlap(ska, skb, k)` /
  *    `graft_cms_point(cms, pos)` — the derived estimators (distinct
  *    count; union/intersection/difference/Jaccard struct; CM point
  *    estimate), sharing the Scala API's Column kernels 1:1
  *  - table functions: `graft_asof(...)`, `graft_version(path[, v])`,
  *    `graft_versions(path)`, `graft_ann(queries, candidates, k[, method])`,
  *    `graft_index_stats(index)`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    GraftExtensions.tableFunctions.foreach(e.injectTableFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.DeferredRelationStrategy)
    // operator-optimization-batch rules: Catalyst's pushdown/pruning
    // don't understand the custom as-of node, these teach it
    e.injectOptimizerRule(_ => graft.plans.AsOfPushdownRule)
    e.injectOptimizerRule(_ => graft.plans.AsOfColumnPruningRule)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_vec_dot"),
      info("graft_vec_dot", "graft_vec_dot(a, b) - double dot product of two float arrays"),
      (exprs: Seq[Expression]) => FloatVecDot(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_topk"),
      info("graft_topk", "graft_topk(sortStruct, k) - ascending array of the k smallest structs"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(k: Int, _) => BoundedTopK(exprs(0), k)
        case other => throw new IllegalArgumentException(
          s"graft_topk k must be an integer literal, got $other")
      }),
    (FunctionIdentifier("graft_winnow"),
      info("graft_winnow",
        "graft_winnow(text, k, w) - distinct winnowing minima of xxhash64 char k-grams over windows of w"),
      (exprs: Seq[Expression]) => (exprs(1), exprs(2)) match {
        case (Literal(k: Int, _), Literal(w: Int, _)) => WinnowFingerprint(exprs(0), k, w)
        case other => throw new IllegalArgumentException(
          s"graft_winnow k and w must be integer literals, got $other")
      }),
    (FunctionIdentifier("graft_sorted_intersect"),
      info("graft_sorted_intersect",
        "graft_sorted_intersect(a, b) - intersection size of two ascending-sorted bigint arrays"),
      (exprs: Seq[Expression]) => SortedLongIntersectCount(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(text) - Unicode NFC normalization"),
      (exprs: Seq[Expression]) => graft.functions.NfcNormalize(exprs(0))),
    (FunctionIdentifier("graft_deflate_len"),
      info("graft_deflate_len",
        "graft_deflate_len(text) - deflate-compressed byte length (compression-ratio quality signal)"),
      (exprs: Seq[Expression]) => graft.functions.DeflateLength(exprs(0))),
    (FunctionIdentifier("graft_shingles"),
      info("graft_shingles",
        "graft_shingles(text, n) - space-joined word n-gram shingles"),
      (exprs: Seq[Expression]) =>
        graft.functions.WordShingles(exprs(0), intLit(exprs, 1, "graft_shingles n"))),
    (FunctionIdentifier("graft_hilbert"),
      info("graft_hilbert",
        "graft_hilbert(x, y, bits) - Hilbert curve index of a 2-D cell (unit-step locality)"),
      (exprs: Seq[Expression]) =>
        graft.functions.HilbertIndex(exprs(0), exprs(1), intLit(exprs, 2, "graft_hilbert bits"))),
    (FunctionIdentifier("graft_kmv"),
      info("graft_kmv",
        "graft_kmv(hash, k) - mergeable KMV distinct sketch (k smallest distinct hashes, ascending)"),
      (exprs: Seq[Expression]) =>
        graft.functions.KmvSketchAgg(exprs(0), intLit(exprs, 1, "graft_kmv k"))),
    (FunctionIdentifier("graft_cms"),
      info("graft_cms",
        "graft_cms(positions, cells) - mergeable Count-Min counter array over per-row cell positions"),
      (exprs: Seq[Expression]) =>
        graft.functions.CmsSketchAgg(exprs(0), intLit(exprs, 1, "graft_cms cells"))),
    (FunctionIdentifier("graft_frequent"),
      info("graft_frequent",
        "graft_frequent(key, k) - Misra-Gries heavy-hitter candidates (complete above n/(k+1))"),
      (exprs: Seq[Expression]) =>
        graft.functions.FrequentItems(exprs(0), intLit(exprs, 1, "graft_frequent k"))),
    // derived-estimator surface: the SQL side of Kmv.estimateDistinct /
    // Kmv.overlapStruct, built from the SAME Column kernels (the two
    // surfaces cannot drift — ExtensionsSpec pins SQL ≡ Scala)
    (FunctionIdentifier("graft_kmv_est"),
      info("graft_kmv_est",
        "graft_kmv_est(sk, k) - KMV distinct-count estimate (exact below k, else (k-1)*H/theta)"),
      (exprs: Seq[Expression]) => {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.catalystExpression(graft.operators.Kmv.estimateDistinct(
          ColumnBridge.column(exprs(0)), intLit(exprs, 1, "graft_kmv_est k")))
      }),
    (FunctionIdentifier("graft_kmv_overlap"),
      info("graft_kmv_overlap",
        "graft_kmv_overlap(ska, skb, k) - struct(est_union, est_intersect, est_a_only, est_b_only, jaccard_est) from two KMV sketches"),
      (exprs: Seq[Expression]) => {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.catalystExpression(graft.operators.Kmv.overlapStruct(
          ColumnBridge.column(exprs(0)), ColumnBridge.column(exprs(1)),
          intLit(exprs, 2, "graft_kmv_overlap k")))
      }),
    (FunctionIdentifier("graft_cms_point"),
      info("graft_cms_point",
        "graft_cms_point(cms, positions) - Count-Min point estimate: min of the counter cells at the key's positions"),
      (exprs: Seq[Expression]) => {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.catalystExpression(graft.operators.Cms.pointEstimate(
          ColumnBridge.column(exprs(0)), ColumnBridge.column(exprs(1))))
      }))

  private def intLit(exprs: Seq[Expression], i: Int, what: String): Int =
    exprs(i) match {
      case Literal(k: Int, _) => k
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

  /** SQL surface for the native as-of join ([[graft.plans.AsOfJoinPlan]]):
    * a table-valued function, so SQL users reach `AsOfJoinExec` without
    * touching the Scala API:
    * {{{
    *   SELECT * FROM graft_asof('purchases', 'clicks', 'user_id', 'ts,id')
    *   SELECT * FROM graft_asof('p', 'c', 'k', 'ts', 'nearest', 5000000)
    * }}}
    * Table names resolve through the session catalog (temp views
    * included); `on`/`order` are comma-separated column-name lists shared
    * by both sides — an order item may be `left=right` when the sides
    * name their order columns differently (`'ts=click_ts'`); optional
    * direction ('backward' | 'forward' | 'nearest') and
    * first-order-column tolerance. The builder returns an
    * already-analyzed plan (it resolves the named tables eagerly via the
    * active session), so key resolution follows the exact rules of
    * [[graft.plans.AsOfJoin.apply]] — including the right-side re-alias
    * that keeps duplicate exprIds out of the combined output. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_asof"),
      info("graft_asof",
        "graft_asof(left, right, on, order[, direction[, tolerance]]) - native as-of join of two tables"),
      (exprs: Seq[Expression]) => asofPlan(exprs)),
    (FunctionIdentifier("graft_version"),
      info("graft_version",
        "graft_version(path[, version]) - time-travel read of a graft versioned sink (latest when version omitted)"),
      (exprs: Seq[Expression]) => versionPlan(exprs)),
    (FunctionIdentifier("graft_ann"),
      info("graft_ann",
        "graft_ann(queries, candidates, k[, method]) - top-k neighbor join of two (vec_id, embedding) tables; " +
          "method: lsh (default) | ivf | ivf_fp | pq_fp | sq_fp | bq_fp | pca_fp | exact; indexed_fp / " +
          "bq_indexed_fp (candidates then names a persisted writeIvfIndexFp / writeBqIndexFp table); " +
          "filtered_fp (5th arg = SQL predicate over candidate columns, e.g. 'label = 3'). " +
          "Analysis resolves tables and validates arguments but runs no jobs; " +
          "the serving computation (training collects included) executes with the query"),
      (exprs: Seq[Expression]) => annPlan(exprs)),
    (FunctionIdentifier("graft_versions"),
      info("graft_versions",
        "graft_versions(path) - committed version history of a graft versioned sink, " +
          "as (version, batch_id) rows; the listing half of graft_version's time travel"),
      (exprs: Seq[Expression]) => versionsPlan(exprs)),
    (FunctionIdentifier("graft_index_stats"),
      info("graft_index_stats",
        "graft_index_stats(index) - per-cell occupancy/drift report of a persisted " +
          "graft IVF index (writeIvfIndex / writeIvfIndexFp table): n_rows, run frame " +
          "(total/n_cells/max/min), share_x10000, imbalance_x1000, delta_rows. " +
          "Analysis resolves the index tables and runs no jobs; the report executes with the query"),
      (exprs: Seq[Expression]) => indexStatsPlan(exprs)))

  private def strLit(exprs: Seq[Expression], i: Int, what: String): String =
    exprs(i) match {
      case Literal(v, t) if t.isInstanceOf[org.apache.spark.sql.types.StringType]
          && v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }

  /** SQL surface for [[graft.operators.Upsert.readVersion]] /
    * `readLatest` — the AS OF time-travel form: SQL users pin a query to
    * a committed snapshot version of a [[graft.operators.Upsert.versionedSink]]
    * directory while the sink keeps appending, without touching the
    * Scala API:
    * {{{
    *   SELECT * FROM graft_version('/sinks/orders_state', 2)  -- pinned
    *   SELECT * FROM graft_version('/sinks/orders_state')     -- latest
    * }}}
    * Version resolution happens at plan time through the sink's own
    * committed-version listing (`_SUCCESS`-gated, Hadoop-FS-portable),
    * so a missing version fails loudly at analysis rather than reading
    * a half-written directory. */
  private def versionPlan(exprs: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length >= 1 && exprs.length <= 2,
      "usage: graft_version(path[, version])")
    val spark = SparkSession.active
    val path = strLit(exprs, 0, "graft_version: path")
    val df = if (exprs.length == 1) graft.operators.Upsert.readLatest(spark, path)
    else exprs(1) match {
      case Literal(v: Long, org.apache.spark.sql.types.LongType) =>
        graft.operators.Upsert.readVersion(spark, path, v)
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) =>
        graft.operators.Upsert.readVersion(spark, path, v.toLong)
      case other => throw new IllegalArgumentException(
        s"graft_version: version must be an integer literal, got $other")
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.logicalPlan(df)
  }

  /** SQL surface for the ANN family ([[graft.operators.Similarity]]):
    * a table-valued function over two `(vec_id, embedding)` tables, so
    * SQL-only users reach every serving path — the multi-probe LSH
    * default, data-adaptive IVF, the three hash-gated fixed-point forms,
    * and the exact brute-force ground truth — without the Scala API:
    * {{{
    *   SELECT * FROM graft_ann('probes', 'corpus', 5)
    *   SELECT * FROM graft_ann('probes', 'corpus', 5, 'ivf_fp')
    *   SELECT * FROM graft_ann('probes', 'corpus', 10, 'exact')
    *   SELECT * FROM graft_ann('probes', 'my_ivf_index', 5, 'indexed_fp')
    * }}}
    * Output is the similarity-value discipline's (query_id, cand_id,
    * rank) — ranks and ids only. Table names resolve through the
    * session catalog (temp views included), exactly like [[asofPlan]].
    *
    * Plan construction is JOB-FREE (the r13 advisor finding, fixed
    * properly in r14): tables resolve and arguments validate eagerly —
    * a bad method, a missing table, or a malformed predicate still
    * refuses loudly at analysis — but the serving computation itself
    * (k-means training collects, probe-list collection, the scoring
    * joins) is captured in a thunk behind a
    * [[graft.plans.DeferredRelation]] leaf with the declared
    * `(query_id BIGINT, cand_id BIGINT, rank INT)` schema, and runs only
    * when the enclosing query executes. EXPLAIN and re-analysis cost
    * nothing; repeated re-analysis no longer retrains. */
  private def annPlan(exprs: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import graft.operators.Similarity
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(exprs.length >= 3 && exprs.length <= 5,
      "usage: graft_ann(queries, candidates, k[, method[, predicate]])")
    val spark = SparkSession.active
    val candName = strLit(exprs, 1, "graft_ann: candidates")
    // eager resolution: analysis-only (no jobs), and a missing table or
    // view fails the query at plan time like any other relation. For the
    // persisted-index methods `candidates` names the index's main table,
    // which writeIvfIndexFp/writeBqIndexFp create in the catalog — so
    // the same lookup validates those too.
    val q = spark.table(strLit(exprs, 0, "graft_ann: queries"))
    val c = spark.table(candName)
    val k = intLit(exprs, 2, "graft_ann: k")
    val method = if (exprs.length < 4) "lsh"
      else strLit(exprs, 3, "graft_ann: method")
    require(exprs.length < 5 || method == "filtered_fp",
      "graft_ann: a 5th argument (predicate) is only valid with method 'filtered_fp'")
    // method dispatch stays eager (bad methods refuse at analysis); only
    // the DataFrame construction — where the training/probe collects
    // live — is deferred into the thunk
    val mk: () => org.apache.spark.sql.DataFrame = method match {
      case "lsh" => () => Similarity.annTopK(q, c, k)
      case "ivf" => () => Similarity.ivfTopK(q, c, k)
      case "ivf_fp" => () => Similarity.ivfFpTopK(q, c, k)
      case "pq_fp" => () => Similarity.ivfPqFpTopK(q, c, k)
      case "sq_fp" => () => Similarity.ivfSqFpTopK(q, c, k)
      case "bq_fp" => () => Similarity.bqFpTopK(q, c, k)
      case "pca_fp" => () => Similarity.pcaRouteFpTopK(q, c, k)
      case "exact" => () => Similarity.bruteForceTopK(q, c, k)
      // filtered serving from SQL: the 5th argument is a boolean SQL
      // predicate over the candidate table's columns (e.g. 'label = 3');
      // parsed eagerly so a syntactically-bad predicate refuses at
      // analysis, not mid-execution
      case "filtered_fp" =>
        require(exprs.length == 5,
          "graft_ann: method 'filtered_fp' requires a predicate, e.g. " +
            "graft_ann('q', 'c', 5, 'filtered_fp', 'label = 3')")
        val pred = org.apache.spark.sql.functions.expr(
          strLit(exprs, 4, "graft_ann: predicate"))
        () => Similarity.ivfFpTopKFiltered(q, c, pred, k)
      // persisted BQ code-index serving: `candidates` names a
      // writeBqIndexFp table (the bq twin of 'indexed_fp')
      case "bq_indexed_fp" =>
        () => Similarity.bqTopKIndexedFp(q, spark, candName, k)
      // the persisted-index serving path: `candidates` names a
      // writeIvfIndexFp table instead of a vector table, so a SQL user
      // reaches the bucket-pruned vector-database serve (and, composed
      // with ivfIndexSinkFp, a stream-maintained index) from one query
      case "indexed_fp" =>
        () => Similarity.ivfTopKIndexedFp(q, spark, candName, k)
      case o => throw new IllegalArgumentException(
        "graft_ann: method must be lsh|ivf|ivf_fp|pq_fp|sq_fp|bq_fp|pca_fp|" +
          s"filtered_fp|indexed_fp|bq_indexed_fp|exact, got '$o'")
    }
    installDeferredStrategy(spark)
    // the declared schema is a contract the thunk enforces by cast: ids
    // are bigint (every graft vector surface keys on long vec_id), rank
    // is row_number's int
    val output = Seq(
      AttributeReference("query_id", LongType)(),
      AttributeReference("cand_id", LongType)(),
      AttributeReference("rank", IntegerType)())
    graft.plans.DeferredRelation(s"graft_ann($method)", output,
      () => mk().select(
        col("query_id").cast(LongType).as("query_id"),
        col("cand_id").cast(LongType).as("cand_id"),
        col("rank").cast(IntegerType).as("rank")))
  }

  /** Live-session twin of GraftExtensions' injectPlannerStrategy (the
    * AsOfJoin.apply precedent): sessions on the register() path plan
    * [[graft.plans.DeferredRelation]] too. Idempotent. */
  private def installDeferredStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(
        graft.plans.DeferredRelationStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.DeferredRelationStrategy
    }

  /** SQL surface for [[graft.operators.Upsert.versions]] — the version
    * HISTORY of a versioned sink as a table, completing the time-travel
    * story from SQL (`graft_versions` lists, `graft_version` reads):
    * {{{
    *   SELECT * FROM graft_versions('/sinks/orders_state')
    *   -- then: SELECT * FROM graft_version('/sinks/orders_state', <v>)
    * }}}
    * The listing is `_SUCCESS`-gated Hadoop-FS metadata (no Spark jobs,
    * bounded by retained-version count), so materializing it at plan
    * time is free and a bad path refuses at analysis. */
  private def versionsPlan(exprs: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1, "usage: graft_versions(path)")
    val spark = SparkSession.active
    val path = strLit(exprs, 0, "graft_versions: path")
    val vs = graft.operators.Upsert.versions(spark, path)
    org.apache.spark.sql.graftbridge.ColumnBridge.logicalPlan(
      spark.createDataFrame(vs).toDF("version", "batch_id"))
  }

  /** SQL surface for [[graft.operators.Similarity.ivfIndexStats]] — the
    * index observability report from one query, so the operator watching
    * a production index (occupancy skew, drift since base build) never
    * needs the Scala API:
    * {{{
    *   SELECT * FROM graft_index_stats('my_ivf_index')
    * }}}
    * Both index tables (main + `__centroids`) resolve eagerly — a
    * missing or half-built index refuses at analysis — but the report
    * itself (which reads the centroid table's `base_rows` on the
    * driver) is deferred behind [[graft.plans.DeferredRelation]] like
    * `graft_ann`, so EXPLAIN runs zero jobs. */
  private def indexStatsPlan(exprs: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(exprs.length == 1, "usage: graft_index_stats(index)")
    val spark = SparkSession.active
    val table = strLit(exprs, 0, "graft_index_stats: index")
    // analysis-only resolution of both halves of the index — loud at
    // plan time if either is missing
    spark.table(table)
    spark.table(s"${table}__centroids")
    installDeferredStrategy(spark)
    val longCols = Seq("n_rows", "total_rows", "n_cells", "max_rows",
      "min_rows", "share_x10000", "imbalance_x1000", "delta_rows")
    val output = AttributeReference("cell", IntegerType)() +:
      longCols.map(c => AttributeReference(c, LongType)())
    graft.plans.DeferredRelation(s"graft_index_stats($table)", output,
      () => graft.operators.Similarity.ivfIndexStats(spark, table)
        .select(col("cell").cast(IntegerType).as("cell") +:
          longCols.map(c => col(c).cast(LongType).as(c)): _*))
  }

  private def asofPlan(exprs: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import graft.plans.{AsOfBackward, AsOfForward, AsOfJoin, AsOfNearest}
    require(exprs.length >= 4 && exprs.length <= 6,
      "usage: graft_asof(left, right, on, order[, direction[, tolerance]])")
    def str(i: Int, what: String): String = exprs(i) match {
      case Literal(v, t) if t.isInstanceOf[org.apache.spark.sql.types.StringType]
          && v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"graft_asof: $what must be a string literal, got $other")
    }
    def cols(i: Int, what: String): Seq[String] =
      str(i, what).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = SparkSession.active
    val direction = if (exprs.length < 5) AsOfBackward else str(4, "direction") match {
      case "backward" => AsOfBackward
      case "forward"  => AsOfForward
      case "nearest"  => AsOfNearest
      case o => throw new IllegalArgumentException(
        s"graft_asof: direction must be backward|forward|nearest, got '$o'")
    }
    val tolerance = if (exprs.length < 6) None else exprs(5) match {
      case Literal(v: Long, org.apache.spark.sql.types.LongType) => Some(v)
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => Some(v.toLong)
      case other => throw new IllegalArgumentException(
        s"graft_asof: tolerance must be an integer literal, got $other")
    }
    val order = cols(3, "order").map { item =>
      item.split("=").map(_.trim) match {
        case Array(both) => (both, both)
        case Array(l, r) => (l, r)
        case _ => throw new IllegalArgumentException(
          s"graft_asof: order item must be 'col' or 'left=right', got '$item'")
      }
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.logicalPlan(
      AsOfJoin(spark, spark.table(str(0, "left")), spark.table(str(1, "right")),
        cols(2, "on"), order.map(_._1), order.map(_._2), direction, tolerance))
  }

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, fnInfo, builder) =>
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerFunction(spark, id, fnInfo, builder)
    }
    tableFunctions.foreach { case (id, fnInfo, builder) =>
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerTableFunction(spark, id, fnInfo, builder)
    }
  }
}
