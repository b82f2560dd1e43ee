package graft

import org.apache.spark.sql.functions._

import graft.functions.BoundedTopK

class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_vec_dot and graft_topk are callable from SQL after register()") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      "SELECT graft_vec_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d")
      .as[Double].head()
    assert(dot == 11.0)

    Seq((1, 5.0), (1, 9.0), (1, 1.0), (2, 4.0)).toDF("g", "x")
      .createOrReplaceTempView("topk_in")
    val rows = spark.sql(
      "SELECT g, graft_topk(struct(x), 2) AS t FROM topk_in GROUP BY g ORDER BY g")
      .select($"g", $"t".getField("x"))
      .as[(Int, Seq[Double])].collect()
    assert(rows.toSeq == Seq((1, Seq(1.0, 5.0)), (2, Seq(4.0))))

    val winnow = spark.sql(
      "SELECT graft_winnow('the quick brown fox jumps over the lazy dog', 8, 16) AS fp")
      .select(size($"fp")).as[Int].head()
    assert(winnow >= 1)

    val inter = spark.sql(
      "SELECT graft_sorted_intersect(CAST(array(1,3,5,7) AS ARRAY<BIGINT>), CAST(array(2,3,4,5) AS ARRAY<BIGINT>)) AS n")
      .as[Long].head()
    assert(inter == 2L)
  }

  test("graft_asof table function reaches AsOfJoinExec from SQL") {
    GraftExtensions.register(spark)
    Seq((1L, 10L, "p1"), (1L, 25L, "p2"), (2L, 7L, "p3"))
      .toDF("uid", "ts", "tag").createOrReplaceTempView("asof_l")
    Seq((1L, 8L, 100.0), (1L, 20L, 200.0), (2L, 9L, 300.0))
      .toDF("uid", "ts", "price").createOrReplaceTempView("asof_r")

    // the right side's ts rides along (merge_asof-style payload) — select
    // the left's explicitly
    val out = spark.sql(
      """SELECT uid, asof_l.ts AS ts, tag, price
        |FROM graft_asof('asof_l', 'asof_r', 'uid', 'ts')
        |ORDER BY uid, ts""".stripMargin)
    // the plan goes through the native exec, not a composed rewrite
    assert(out.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      out.queryExecution.executedPlan.toString.take(600))
    val rows = out.as[(Long, Long, String, Option[Double])].collect().toSeq
    assert(rows == Seq(
      (1L, 10L, "p1", Some(100.0)),   // backward: 8 <= 10
      (1L, 25L, "p2", Some(200.0)),   // backward: 20 <= 25
      (2L, 7L, "p3", None)))          // nothing at or before 7

    // direction + tolerance surface: forward match within 2 ticks
    val fwd = spark.sql(
      """SELECT uid, asof_l.ts AS ts, price
        |FROM graft_asof('asof_l', 'asof_r', 'uid', 'ts', 'forward', 2)
        |ORDER BY uid, ts""".stripMargin)
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(fwd == Seq(
      (1L, 10L, None),                // next right is 20: gap 10 > 2
      (1L, 25L, None),                // nothing after 25
      (2L, 7L, Some(300.0))))         // 9 - 7 = 2 <= 2

    // SQL result equals the Scala-API result on the same inputs
    val api = graft.plans.AsOfJoin(spark,
        spark.table("asof_l"), spark.table("asof_r"), Seq("uid"), Seq("ts"))
      .toDF("uid", "ts", "tag", "ts_r", "price")
      .select("uid", "ts", "tag", "price")
      .as[(Long, Long, String, Option[Double])].collect().toSeq.sorted
    assert(api == rows.sorted)
  }

  test("sketch aggregates and kernel expressions are callable from SQL, ≡ the Scala API") {
    GraftExtensions.register(spark)
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("key", col("id") % 37)
      .withColumn("g", col("id") % 3)
    df.createOrReplaceTempView("sketch_in")

    // KMV: SQL form ≡ Scala aggregate, per group
    val sqlKmv = spark.sql(
      """SELECT g, graft_kmv(xxhash64(key), 16) AS s
        |FROM sketch_in GROUP BY g ORDER BY g""".stripMargin)
      .as[(Long, Seq[Long])].collect().toSeq
    val apiKmv = df.groupBy(col("g"))
      .agg(graft.functions.KmvSketchAgg(xxhash64(col("key")), 16).as("s"))
      .orderBy("g").as[(Long, Seq[Long])].collect().toSeq
    assert(sqlKmv == apiKmv && sqlKmv.forall(_._2.nonEmpty))

    // Misra–Gries: completeness holds only ABOVE n/(k+1), so the
    // fixture needs a genuinely heavy key — every id%3==0 row maps to
    // key 0 (~1667 of 5000 > 5000/9 ≈ 556); the uniform residue keys
    // may legitimately vanish from the summary
    val freq = spark.sql(
      """SELECT graft_frequent(CASE WHEN id % 3 = 0 THEN 0 ELSE key END, 8) AS c
        |FROM sketch_in""".stripMargin)
      .as[Seq[Long]].head()
    assert(freq.contains(0L) && freq.size <= 8)

    // CMS over single-cell positions ≡ exact counts folded to an array
    val cms = spark.sql(
      """SELECT graft_cms(array(CAST(key % 32 AS BIGINT)), 32) AS c
        |FROM sketch_in""".stripMargin).as[Seq[Long]].head()
    assert(cms.sum == 5000L && cms.length == 32)

    // Hilbert index from SQL ≡ the Scala expression
    val hSql = spark.sql(
      "SELECT graft_hilbert(CAST(id % 16 AS BIGINT), CAST(id % 13 AS BIGINT), 4) AS h FROM sketch_in ORDER BY id")
      .as[Long].collect().toSeq
    val hApi = df.orderBy("id")
      .select(graft.functions.HilbertIndex(col("id") % 16, col("id") % 13, 4))
      .as[Long].collect().toSeq
    assert(hSql == hApi)

    // NFC + shingles kernels
    val nfc = spark.sql("SELECT graft_nfc('éclair') AS t").as[String].head()
    assert(nfc == "éclair")
    val sh = spark.sql("SELECT graft_shingles('a b c d', 3) AS s")
      .as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
  }

  test("derived sketch estimators are callable from SQL, ≡ the Scala API") {
    GraftExtensions.register(spark)
    import graft.operators.{Cms, Kmv}
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("key", col("id") % 700) // 700 distinct: above k=128
      .withColumn("g", col("id") % 2)
    df.createOrReplaceTempView("est_in")

    // distinct estimate: SQL graft_kmv_est ≡ Scala Kmv.estimateDistinct
    val sqlEst = spark.sql(
      """SELECT g, graft_kmv_est(graft_kmv(
        |    CAST(conv(substring(md5(concat('graftkmv', CAST(key AS STRING))), 1, 15), 16, 10) AS BIGINT),
        |    128), 128) AS e
        |FROM est_in GROUP BY g ORDER BY g""".stripMargin)
      .as[(Long, Double)].collect().toSeq
    val apiEst = df.groupBy(col("g"))
      .agg(graft.functions.KmvSketchAgg(Kmv.hash60(col("key")), 128).as("sk"))
      .select(col("g"), Kmv.estimateDistinct(col("sk"), 128).as("e"))
      .orderBy("g").as[(Long, Double)].collect().toSeq
    assert(sqlEst == apiEst && sqlEst.forall(_._2 > 0))

    // overlap struct (incl. the difference/exclusive estimates):
    // SQL graft_kmv_overlap ≡ Scala Kmv.overlapEstimates, field by field
    val sk = df.groupBy(col("g"))
      .agg(graft.functions.KmvSketchAgg(Kmv.hash60(col("key")), 128).as("sk"))
    sk.createOrReplaceTempView("est_sk")
    val sqlOv = spark.sql(
      """SELECT o.est_union, o.est_intersect, o.est_a_only, o.est_b_only,
        |       o.jaccard_est
        |FROM (SELECT graft_kmv_overlap(a.sk, b.sk, 128) AS o
        |      FROM est_sk a JOIN est_sk b ON a.g < b.g)""".stripMargin)
      .as[(Double, Double, Double, Double, Double)].head()
    val pairs = sk.select(col("g").as("ga"), col("sk").as("ska"))
      .join(sk.select(col("g").as("gb"), col("sk").as("skb")),
        col("ga") < col("gb"))
    val apiOv = Kmv.overlapEstimates(pairs, 128)
      .select("est_union", "est_intersect", "est_a_only", "est_b_only",
        "jaccard_est")
      .as[(Double, Double, Double, Double, Double)].head()
    assert(sqlOv == apiOv)
    // the partition law survives the SQL surface: the three parts sum
    // to the union estimate by construction
    assert(math.abs(sqlOv._2 + sqlOv._3 + sqlOv._4 - sqlOv._1) < 1e-9)

    // CMS point estimate: SQL graft_cms_point ≡ Scala Cms.estimates —
    // ONE deterministic key set shared by both sides (LIMIT without
    // ORDER BY is not stable across executions)
    val cmsRow = Cms.sketch(df, col("key"))
    cmsRow.createOrReplaceTempView("est_cms")
    val probeKeys = df.select(col("key")).distinct()
      .orderBy(col("key")).limit(50)
    probeKeys.createOrReplaceTempView("est_keys")
    val sqlPt = spark.sql(
      s"""SELECT k.key, graft_cms_point(c.cms, ${cmsPositionsSql("k.key")}) AS est_cnt
         |FROM est_keys k CROSS JOIN est_cms c ORDER BY k.key""".stripMargin)
      .as[(Long, Long)].collect().toSeq
    val apiPt = Cms.estimates(cmsRow, probeKeys, "key")
      .orderBy("key").as[(Long, Long)].collect().toSeq
    assert(sqlPt == apiPt && sqlPt.forall(_._2 >= 1L))
  }

  /** SQL text of Cms.positions for the default (d=4, w=256) geometry. */
  private def cmsPositionsSql(key: String): String = {
    val cells = (0 until 4).map { j =>
      s"CAST(${j * 256} AS BIGINT) + pmod(CAST(conv(substring(md5(concat('graftcms$j', CAST($key AS STRING))), 1, 15), 16, 10) AS BIGINT), CAST(256 AS BIGINT))"
    }
    s"array(${cells.mkString(", ")})"
  }

  test("graft_version table function time-travels a versioned sink from SQL") {
    GraftExtensions.register(spark)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_version_tvf_${spark.sparkContext.applicationId}").getAbsolutePath
    val sink = graft.operators.Upsert.versionedSink(
      tmp, "k", "ord", "k", col("tomb"))
    sink(Seq((1L, 1L, "a", false), (2L, 1L, "b", false))
      .toDF("k", "ord", "v", "tomb"), 0L)                    // v1: {1->a, 2->b}
    sink(Seq((2L, 2L, "b2", false), (3L, 2L, "c", false))
      .toDF("k", "ord", "v", "tomb"), 1L)                    // v2: update 2, insert 3
    sink(Seq((1L, 3L, "x", true)).toDF("k", "ord", "v", "tomb"), 2L) // v3: delete 1

    // pinned read: v2 while latest is v3
    val v2 = spark.sql(s"SELECT k, v FROM graft_version('$tmp', 2) ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(v2 == Seq((1L, "a"), (2L, "b2"), (3L, "c")))

    // 1-arg form reads the moving head
    val latest = spark.sql(s"SELECT k, v FROM graft_version('$tmp') ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(latest == Seq((2L, "b2"), (3L, "c")))

    // a missing version fails at analysis, loudly, with the history
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_version('$tmp', 99)").collect()
    }
    assert(err.getMessage.contains("99"), err.getMessage)

    // graft_versions lists the committed history — the SQL twin of
    // Upsert.versions, pairing with graft_version's pinned reads
    val hist = spark.sql(
      s"SELECT version, batch_id FROM graft_versions('$tmp') ORDER BY version")
      .as[(Long, Long)].collect().toSeq
    assert(hist == graft.operators.Upsert.versions(spark, tmp))
    assert(hist == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("BoundedTopK plans as a partial-mergeable aggregate (map-side top-k)") {
    val df = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey"))
      .agg(BoundedTopK(struct(-col("o_totalprice"), col("o_orderkey")), 3).as("top"))
    val plan = df.queryExecution.executedPlan.toString
    // TypedImperativeAggregate plans via ObjectHashAggregate with a
    // partial phase before the exchange — the property that bounds
    // shuffle volume to <= k rows per partition per group
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert(plan.contains("partial_graft_topk"), plan.take(500))
  }

  test("BoundedTopK survives serialize/merge across many partitions") {
    val df = spark.range(0, 10000, 1, 32).toDF("id") // 32 partitions
      .withColumn("g", col("id") % 7)
    val out = df.groupBy(col("g"))
      .agg(BoundedTopK(struct(col("id")), 5).as("top"))
      .select(col("g"), col("top").getField("id").as("ids"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toMap
    (0L until 7L).foreach { g =>
      // k smallest ids of the g-residue class, ascending
      val expect = (0L until 10000L).filter(_ % 7 == g).sorted.take(5)
      assert(out(g) == expect, s"group $g")
    }
  }

  test("graft_ann defers the serving computation: analysis + EXPLAIN run zero jobs") {
    import graft.operators.Similarity
    GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    q.createOrReplaceTempView("ann_defer_q")
    e.createOrReplaceTempView("ann_defer_c")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        sites.add(js.stageInfos.map(_.name).mkString("; ").take(200))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // analysis, optimization, physical planning, and a formatted
      // EXPLAIN — the full pre-execution lifecycle. ivf_fp trains
      // k-means at serve time, so before the r14 deferral this block
      // executed dozens of jobs.
      val df = spark.sql(
        "SELECT * FROM graft_ann('ann_defer_q', 'ann_defer_c', 5, 'ivf_fp')")
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("DeferredRelationExec"), physical.take(500))
      val explained = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(explained.contains("DeferredRelation"), explained.take(500))
      // barrier job: listener events deliver in order, so once the
      // barrier's start event lands, any job the block above had started
      // would already have been counted. An RDD count is exactly ONE job
      // (a SQL count under AQE is two: stage materialization + result).
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1,
        s"expected only the barrier job after analysis+EXPLAIN, saw ${jobs.get()}: " +
          sites.toArray.mkString(" | "))
      // and execution still serves: deferred ≡ the Scala API result
      val served = df.as[(Long, Long, Int)].collect().toSet
      assert(served == Similarity.ivfFpTopK(q, e, 5)
        .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet)
      assert(served.nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("graft_ann table function: every method ≡ its Scala API result, bad method refuses") {
    import graft.operators.Similarity
    GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    q.createOrReplaceTempView("ann_tvf_q")
    e.createOrReplaceTempView("ann_tvf_c")
    def viaSql(method: String) = spark.sql(
      s"SELECT query_id, cand_id, rank FROM graft_ann('ann_tvf_q', 'ann_tvf_c', 5, '$method')")
      .as[(Long, Long, Int)].collect().toSet
    def viaApi(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(viaSql("lsh") == viaApi(Similarity.annTopK(q, e, 5)))
    assert(viaSql("exact") == viaApi(Similarity.bruteForceTopK(q, e, 5)))
    assert(viaSql("ivf_fp") == viaApi(Similarity.ivfFpTopK(q, e, 5)))
    assert(viaSql("ivf") == viaApi(Similarity.ivfFpTopK(q, e, 5, nprobe = 8)))
    assert(viaSql("pq_fp") == viaApi(Similarity.ivfPqFpTopK(q, e, 5)))
    assert(viaSql("sq_fp") == viaApi(Similarity.ivfSqFpTopK(q, e, 5)))
    assert(viaSql("bq_fp") == viaApi(Similarity.bqFpTopK(q, e, 5)))
    assert(viaSql("pca_fp") == viaApi(Similarity.pcaRouteFpTopK(q, e, 5)))
    assert(viaSql("lsh").nonEmpty)
    // default method is lsh
    val dflt = spark.sql(
      "SELECT query_id, cand_id, rank FROM graft_ann('ann_tvf_q', 'ann_tvf_c', 5)")
      .as[(Long, Long, Int)].collect().toSet
    assert(dflt == viaSql("lsh"))
    val err = intercept[Exception] { viaSql("bogus") }
    assert(err.getMessage.contains("graft_ann: method"))
    // the persisted-index path: candidates names a writeIvfIndexFp table,
    // and the SQL serve equals the Scala serve (which equals inline fp)
    Similarity.writeIvfIndexFp(e, "ann_tvf_idx")
    val viaIdx = spark.sql(
      "SELECT query_id, cand_id, rank FROM graft_ann('ann_tvf_q', 'ann_tvf_idx', 5, 'indexed_fp')")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaIdx == viaApi(Similarity.ivfTopKIndexedFp(q, spark, "ann_tvf_idx", 5)))
    assert(viaIdx == viaSql("ivf_fp"))
    // filtered serving from SQL: the 5th argument is a predicate over
    // the candidate table's columns, and SQL ≡ Scala exactly
    val viaFiltered = spark.sql(
      "SELECT query_id, cand_id, rank FROM graft_ann('ann_tvf_q', 'ann_tvf_c', 5, 'filtered_fp', 'label = 3')")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaFiltered == viaApi(
      Similarity.ivfFpTopKFiltered(q, e, col("label") === 3, 5)))
    // a 5th arg with any other method refuses loudly, as does
    // filtered_fp without its predicate
    val err5 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ann('ann_tvf_q', 'ann_tvf_c', 5, 'exact', 'label = 3')")
    }
    assert(err5.getMessage.contains("only valid with method 'filtered_fp'"))
    val errNoPred = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ann('ann_tvf_q', 'ann_tvf_c', 5, 'filtered_fp')")
    }
    assert(errNoPred.getMessage.contains("requires a predicate"))
    // the persisted BQ code index from SQL
    Similarity.writeBqIndexFp(e, "ann_tvf_bq_idx")
    val viaBqIdx = spark.sql(
      "SELECT query_id, cand_id, rank FROM graft_ann('ann_tvf_q', 'ann_tvf_bq_idx', 5, 'bq_indexed_fp')")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaBqIdx == viaApi(
      Similarity.bqTopKIndexedFp(q, spark, "ann_tvf_bq_idx", 5)))
    assert(viaBqIdx == viaSql("bq_fp"))
  }

  test("graft_index_stats TVF: SQL ≡ Scala report, deferred plan, missing index refuses") {
    import graft.operators.Similarity
    GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, sf0001)
    Similarity.writeIvfIndexFp(e.filter(col("vec_id") % 10 =!= 0), "stats_tvf_idx")
    Similarity.appendToIvfIndexFp(spark, "stats_tvf_idx",
      e.filter(col("vec_id") % 10 === 0))
    val df = spark.sql("SELECT * FROM graft_index_stats('stats_tvf_idx')")
    // deferred like graft_ann: the physical plan is the declared-schema leaf
    assert(df.queryExecution.executedPlan.toString.contains("DeferredRelationExec"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), (1 to 8).map(r.getLong).toList)
    val viaSqlRows = df.collect().map(key).toSet
    val viaApiRows = Similarity.ivfIndexStats(spark, "stats_tvf_idx")
      .select("cell", "n_rows", "total_rows", "n_cells", "max_rows",
        "min_rows", "share_x10000", "imbalance_x1000", "delta_rows")
      .collect().map(key).toSet
    assert(viaSqlRows == viaApiRows && viaSqlRows.nonEmpty)
    // a missing index refuses at analysis, not mid-execution
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_index_stats('no_such_index_tbl')")
    }
    assert(err.getMessage.toLowerCase.contains("no_such_index_tbl"))
  }
}
