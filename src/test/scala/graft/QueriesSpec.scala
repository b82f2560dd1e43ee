package graft

/** Smoke: every registered query runs and returns rows on sf0.001, and
  * every oracle key refers to a registered query. Value-level correctness
  * is the DuckDB-oracle gate (graft.Verify + driver compare). */
class QueriesSpec extends SparkTestBase {

  test("oracle keys are a subset of query names, with matching names") {
    val qn = SparkEntry.queries.keySet
    val on = SparkEntry.oracleSql.keySet
    assert(on.subsetOf(qn), s"orphan oracles: ${on.diff(qn)}")
  }

  test("entry returns rows (driver t1 gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The anchoring invariant (round 13): every rows-only query must be
    * anchored — either by a NAMED hash-gated twin in the registry (an
    * exact or fixed-point sibling whose driver hash equality covers the
    * same computation shape), or by a `spec:` entry naming the suite
    * that pins its laws for the by-contract cases where a cross-engine
    * hash is structurally impossible (libm `ln`, zlib byte streams,
    * HLL/KLL sketch internals). A new `Q.noOracle` registration without
    * an anchor fails HERE, so the weak set can only grow deliberately —
    * with the anchor written down — never by omission. */
  test("every rows-only query is anchored by a hash-gated twin or a named spec") {
    val anchors = Map(
      // sketches by contract — exact twins gate the same questions
      "approx_distinct" -> "count_distinct",
      "approx_pct" -> "exact_pct",
      "hll_rollup" -> "count_distinct",
      // float epilogues — the exact-sufficient-statistics twin is gated
      "stats_moments_derived" -> "stats_moments",
      "dsir_weights" -> "dsir_select",
      // float iterative solvers — fixed-point twins gate the shape
      "graph_pagerank" -> "graph_pagerank_fp",
      "embedding_pca" -> "vector_pca_route_fp",
      "vector_pca_route" -> "vector_pca_route_fp",
      "mmr_select" -> "mmr_select_fp",
      // float IVF-PQ — the fixed-point twin gates the PQ shape
      "vector_pq" -> "vector_pq_fp",
      // zlib deflate bytes are implementation-defined — laws spec-pinned
      "quality_compression" -> "spec:QualityCompressionSpec")
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == anchors.keySet,
      s"anchor map out of date — unanchored: ${rowsOnly.diff(anchors.keySet)}, " +
        s"stale entries: ${anchors.keySet.diff(rowsOnly)}")
    val gated = SparkEntry.oracleSql.keySet
    anchors.foreach { case (q, a) =>
      assert(a.startsWith("spec:") || gated.contains(a),
        s"$q's anchor '$a' is not a hash-gated query")
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001 and returns rows") {
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("dedup_canonical picks the longest member (min-id ties) per cluster") {
    import spark.implicits._
    val can = SparkEntry.queries("dedup_canonical")(spark, sf0001)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(can.nonEmpty)
    // same membership as dedup_clusters
    val clusters = SparkEntry.queries("dedup_clusters")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(can.map(r => r._1 -> r._2).toMap == clusters)
    can.groupBy(_._2).foreach { case (_, members) =>
      // exactly one canonical per cluster, and it is the brute-force
      // (max n_tok, min doc_id) member, named by every row
      val expect = members.minBy(m => (-m._3, m._1))._1
      assert(members.count(_._5) == 1)
      assert(members.filter(_._5).head._1 == expect)
      assert(members.forall(_._4 == expect))
    }
  }

  test("classifier_calibration sweep is consistent with the scored corpus") {
    import spark.implicits._
    val scored = SparkEntry.queries("quality_classifier")(spark, sf0001)
      .select("y", "score").as[(Long, Long)].collect()
    val cal = SparkEntry.queries("classifier_calibration")(spark, sf0001)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    val posTotal = scored.count(_._1 == 1L)
    assert(cal.map(_._1).distinct.length == cal.length) // thresholds unique
    cal.foreach { case (t, nKeep, tp, fp, fn, prec, rec) =>
      val kept = scored.filter(_._2 >= t)
      assert(nKeep == kept.length && tp == kept.count(_._1 == 1L))
      assert(fp == nKeep - tp && fn == posTotal - tp)
      assert(prec == tp.toDouble / nKeep && rec == tp.toDouble / posTotal)
    }
    // the lowest threshold keeps the whole corpus and reaches recall 1
    val bottom = cal.minBy(_._1)
    assert(bottom._2 == scored.length && bottom._7 == 1.0)
  }

  test("embedding_stats: fixed-point aggregates equal an independent reference") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf0001).select("embedding")
      .as[Seq[Float]].collect()
    val out = graft.queries.LlmOps.embeddingStats(spark, sf0001)
      .as[(Long, Long, Float, Float, Long, Double)].collect()
    assert(out.length == vecs.head.size)
    out.foreach { case (dim, n, mn, mx, sfp, mean) =>
      val xs = vecs.map(_(dim.toInt))
      assert(n == vecs.length && mn == xs.min && mx == xs.max)
      val want = xs.map(x => math.floor(x.toDouble * 1000000).toLong).sum
      assert(sfp == want)
      assert(mean == want.toDouble / 1000000.0 / vecs.length)
    }
  }

  test("corpus_stats slices are consistent with the whole-corpus facts") {
    import org.apache.spark.sql.functions._
    val stats = SparkEntry.queries("corpus_stats")(spark, sf0001)
      .agg(sum("n_docs"), sum("n_tokens"), sum("n_exact_dup"), sum("n_keep"))
      .head()
    val docs = Tables.documents(spark, sf0001)
    assert(stats.getLong(0) == docs.count())
    val tok = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .head().getLong(0)
    assert(stats.getLong(1) == tok)
    // docs living in a sha256 group of size > 1, counted independently
    val dup = docs.groupBy(sha2(col("text"), 256)).count()
      .filter(col("count") > 1).select(sum("count")).head()
    val nDup = if (dup.isNullAt(0)) 0L else dup.getLong(0)
    assert(stats.getLong(2) == nDup)
    val keep = SparkEntry.queries("quality_gopher")(spark, sf0001)
      .filter(col("keep")).count()
    assert(stats.getLong(3) == keep)
  }
}
