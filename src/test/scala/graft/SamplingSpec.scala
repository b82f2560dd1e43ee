package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling

class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val ids = spark.range(0, 20000).toDF("id")

  test("hash sample is deterministic and close to the nominal fraction") {
    val a = Sampling.hashSample(ids, col("id"), 0.2).as[Long].collect().toSet
    val b = Sampling.hashSample(ids, col("id"), 0.2).as[Long].collect().toSet
    assert(a == b)
    assert(math.abs(a.size / 20000.0 - 0.2) < 0.02, s"got ${a.size}")
  }

  test("larger fraction is a strict superset; different salt decorrelates") {
    val small = Sampling.hashSample(ids, col("id"), 0.1).as[Long].collect().toSet
    val big = Sampling.hashSample(ids, col("id"), 0.5).as[Long].collect().toSet
    assert(small.subsetOf(big))
    val other = Sampling.hashSample(ids, col("id"), 0.1, salt = "other").as[Long].collect().toSet
    // overlap of two independent 10% samples ≈ 1% of the corpus
    val overlap = (small intersect other).size / 20000.0
    assert(overlap < 0.03, s"salted samples correlated: $overlap")
  }

  test("stratified sample applies per-stratum fractions with a default of drop") {
    val df = ids.withColumn("grp", (col("id") % 3).cast("string"))
    val out = Sampling.stratifiedSample(df, col("id"), col("grp"),
        fractions = Map("0" -> 1.0, "1" -> 0.25))
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(out("0") > 6600)                 // every id ≡ 0 (mod 3) kept
    assert(math.abs(out("1") - 6667 * 0.25) < 300)
    assert(!out.contains("2"))              // default fraction 0 drops
  }

  test("thresholdHex edges") {
    assert(Sampling.thresholdHex(0.0) == "0" * 32)
    // fraction 1.0 must keep EVERYTHING, including an all-f md5: the
    // threshold sorts strictly above every 32-char hex string
    assert(Sampling.thresholdHex(1.0) == "g")
    assert(("f" * 32) < Sampling.thresholdHex(1.0))
    assert(Sampling.thresholdHex(0.5).startsWith("8"))
    assert(Sampling.thresholdHex(0.5).length == 32)
  }
  test("splitColumn partitions every key into exactly one stable split") {
    val df = ids.select(col("id"),
      Sampling.splitColumn(col("id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
    val counts = df.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test")) // fractions cover 1.0
    assert(math.abs(counts("train") - 16000.0) < 400)
    assert(math.abs(counts("val") - 2000.0) < 200)
    // stability: same assignment on re-evaluation
    val again = ids.select(col("id"),
      Sampling.splitColumn(col("id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
    assert(df.except(again).isEmpty && again.except(df).isEmpty)
    // the 10% hashSample of the same salt is inside train (prefix property)
    val sampled = Sampling.hashSample(ids, col("id"), 0.1).as[Long].collect().toSet
    val train = df.filter(col("s") === "train").select("id").as[Long].collect().toSet
    assert(sampled.subsetOf(train))
  }
  test("hash sampling applies unchanged to a stream (stateless, same membership)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = Sampling.hashSample(mem.toDF().withColumnRenamed("value", "id"),
        col("id"), 0.2)
      .writeStream.format("memory").queryName("sample_out")
      .outputMode("append").start()
    mem.addData(0L until 5000L)
    q.processAllAvailable()
    val streamed = spark.table("sample_out").as[Long].collect().toSet
    q.stop()
    val batch = Sampling.hashSample(
        spark.range(0, 5000).toDF("id"), col("id"), 0.2)
      .as[Long].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("corpus_rebalance: binding source keeps all docs, token mass tracks the weights") {
    val out = graft.queries.LlmOps.corpusRebalance(spark, sf0001)
      .as[(Long, String)].collect()
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .as[(Long, String, Long)].collect()
    val ntOf = docs.map(d => d._1 -> d._3).toMap
    val totBySrc = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val keptBySrc = out.groupBy(_._2).view
      .mapValues(_.map(r => ntOf(r._1)).sum).toMap
    val heavy = Set("src0", "src1", "src2", "src3", "src4")
    def w(s: String) = if (heavy(s)) 3.0 else 1.0
    // feasibility: the binding source (max tokens-per-weight pressure,
    // i.e. min T/w) keeps every document
    val binding = totBySrc.keys.minBy(s => (totBySrc(s) / w(s), s))
    val keptDocs = out.groupBy(_._2).view.mapValues(_.size).toMap
    val allDocs = docs.groupBy(_._2).view.mapValues(_.size).toMap
    assert(keptDocs(binding) == allDocs(binding))
    // sampled token mass per unit weight is roughly equal across sources
    // — rough because k_s floors to whole DOCUMENTS and the md5 draw
    // picks which (variable-length) docs survive; at sf0.001 one doc is
    // a double-digit percentage of its source's kept mass
    val perWeight = keptBySrc.map { case (s, t) => t / w(s) }
    assert(perWeight.max <= perWeight.min * 1.6,
      s"token mass per weight spread too wide: $keptBySrc")
    // heavy sources end up with ~3x the kept tokens of light ones
    val heavyAvg = keptBySrc.filter(k => heavy(k._1)).values.sum / 5.0
    val lightAvg = keptBySrc.filterNot(k => heavy(k._1)).values.sum / 15.0
    assert(heavyAvg > 2.4 * lightAvg && heavyAvg < 3.6 * lightAvg,
      s"heavy=$heavyAvg light=$lightAvg")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("exactNPerStratum equals the sort-based reference per stratum") {
    val df = ids.withColumn("grp", (col("id") % 4).cast("string"))
    val out = Sampling.exactNPerStratum(df, col("id"), col("grp"), n = 7)
      .as[(String, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._3))
    val want = (0L until 20000L).groupBy(i => (i % 4).toString).toSeq
      .flatMap { case (g, ks) =>
        ks.map(k => (k, md5hex("graft" + k))).sortBy(t => (t._2, t._1)).take(7)
          .zipWithIndex.map { case ((k, _), i) => (g, k, (i + 1).toLong) }
      }.sortBy(t => (t._1, t._3))
    assert(out == want)
  }

  test("shufflePositions: md5-order permutation with contiguous shards; salt reshuffles") {
    val n = 5000
    val df = spark.range(0, n).toDF("id")
    val out = Sampling.shufflePositions(df, col("id"), shardSize = 100L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.map(_._2).sorted == (1L to n.toLong))
    val want = (0L until n.toLong).map(k => (k, md5hex("shuf" + k)))
      .sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((k, _), i) => (k, (i + 1).toLong, (i / 100).toLong) }
    assert(out.sortBy(_._2) == want)
    val epoch2 = Sampling.shufflePositions(df, col("id"), 100L, salt = "epoch2")
      .as[(Long, Long, Long)].collect().toSeq
    assert(epoch2.sortBy(_._2).map(_._1) != out.sortBy(_._2).map(_._1))
    graft.operators.Dedup.releaseCaches()
  }

  test("budgetSelect: greedy prefix of the quality order, overshoot at most one doc") {
    val docs = Tables.documents(spark, sf0001)
    val meta = docs.select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("score"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .as[(Long, Long, Long)].collect()
      .sortBy { case (id, s, _) => (-s, id) }.toSeq
    val budget = 5000L
    val kept = Sampling.budgetSelect(docs, col("doc_id"),
        score = size(array_distinct(split(col("text"), " "))),
        nTokens = size(split(col("text"), " ")),
        budgetTokens = budget)
      .as[(Long, Long, Long, Long)].collect()
      .sortBy { case (id, s, _, _) => (-s, id) }.toSeq
    // reference greedy walk over the deterministic order
    var cum = 0L
    val want = meta.flatMap { case (id, s, n) =>
      val keep = cum < budget; cum += n
      if (keep) Some((id, s, n)) else None
    }
    assert(kept.map(t => (t._1, t._2, t._3)) == want)
    // cum_tokens really is the inclusive running total of the kept prefix
    assert(kept.map(_._3).sum == kept.last._4)
    // budget binds: under it before the last doc, overshoot < one doc
    assert(kept.last._4 - kept.last._3 < budget)
    assert(kept.size < meta.size, "budget did not bind at sf0.001")
    // a budget above the corpus total keeps everything
    val total = meta.map(_._3).sum
    val allKept = Sampling.budgetSelect(docs, col("doc_id"),
      score = size(array_distinct(split(col("text"), " "))),
      nTokens = size(split(col("text"), " ")),
      budgetTokens = total + 1).count()
    assert(allKept == meta.size)
    graft.operators.Dedup.releaseCaches()
  }

  test("temperature mix: sqrt quotas, flattening, undersized-stratum cap") {
    import graft.operators.Sampling
    // skewed strata: 64 a-docs, 16 b, 4 c (√ = 8, 4, 2; Σ√ = 14)
    val docs = ((1L to 64L).map((_, "a")) ++ (65L to 80L).map((_, "b")) ++
      (81L to 84L).map((_, "c"))).toDF("doc_id", "s")
    val got = Sampling.temperatureMix(docs, col("doc_id"), col("s"),
        totalDocs = 28)
      .as[(String, Long, Long)].collect().toSeq
    val byStratum = got.groupBy(_._1).view.mapValues(_.size).toMap
    // quotas: ⌊28·8/14⌋=16, ⌊28·4/14⌋=8, ⌊28·2/14⌋=4
    assert(byStratum == Map("a" -> 16, "b" -> 8, "c" -> 4), s"got $byStratum")
    // flattening: proportional shares are 64/84, 16/84, 4/84 — α=½ must
    // LIFT the small strata's share and cut the big one's
    assert(16.0 / 28 < 64.0 / 84 && 8.0 / 28 > 16.0 / 84 && 4.0 / 28 > 4.0 / 84)
    // membership = the quota smallest md5 hashes per stratum, rn dense
    val ref = docs.as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues { xs =>
        xs.map(_._1).sortBy(id =>
          (java.security.MessageDigest.getInstance("MD5")
            .digest(s"graft$id".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString, id))
      }.toMap
    got.groupBy(_._1).foreach { case (s, rows) =>
      val want = ref(s).take(rows.size).toSeq
      assert(rows.sortBy(_._3).map(_._2).toSeq == want, s"stratum $s") }
    // a stratum smaller than its quota contributes everything it has:
    // T = 84 gives c a quota of ⌊84·2/14⌋ = 12 > 4 docs — all 4 kept
    val capped = Sampling.temperatureMix(docs, col("doc_id"), col("s"),
        totalDocs = 84)
      .as[(String, Long, Long)].collect().toSeq
    assert(capped.count(_._1 == "c") == 4)
  }

  test("sampleQuantiles: bounded rank error at k=512, exact when k covers the group") {
    val li = Tables.lineitem(spark, sf0001)
    val key = concat(col("l_orderkey").cast("string"), lit("|"),
      col("l_linenumber").cast("string"))
    val est = Sampling.sampleQuantiles(li, col("l_returnflag"), key,
        col("l_extendedprice"), k = 512)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val groups = li.select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(est.keySet == groups.keySet)
    groups.foreach { case (g, vs) =>
      val (nS, q500, q900, q990) = est(g)
      assert(nS == math.min(512L, vs.length.toLong))
      // true CDF position of each estimate stays near its target: the
      // md5 sample is uniform, so rank error ~ 1/sqrt(k) (~0.044); the
      // corpus values below are fixed, bound chosen with 2x headroom
      def cdf(x: Double): Double = vs.count(_ <= x).toDouble / vs.length
      assert(math.abs(cdf(q500) - 0.5) < 0.09, s"$g p50 off: ${cdf(q500)}")
      assert(math.abs(cdf(q900) - 0.9) < 0.09, s"$g p90 off: ${cdf(q900)}")
      assert(cdf(q990) >= 0.90 && q990 <= vs.last, s"$g p99 off: ${cdf(q990)}")
    }
    // k >= every group: the sample IS the group and estimates are exact
    val exact = Sampling.sampleQuantiles(li, col("l_returnflag"), key,
        col("l_extendedprice"), k = 1000000)
      .collect().map(r => (r.getString(0), (r.getDouble(2), r.getDouble(3)))).toMap
    groups.foreach { case (g, vs) =>
      val n = vs.length
      assert(exact(g)._1 == vs((500 * n + 999) / 1000 - 1), s"$g exact p50")
      assert(exact(g)._2 == vs((900 * n + 999) / 1000 - 1), s"$g exact p90")
    }
  }

  test("sampleQuantiles: rows sharing a sample key rank by value") {
    // repeated keys tie on md5(salt ‖ key); the sample keeps the smaller
    // values first, the order the quantile_sample oracle also uses
    val rows = Seq(
      ("g", "dup", 9.0), ("g", "dup", 4.0), ("g", "dup", 7.0),
      ("g", "dup", 1.0), ("g", "dup", 6.0),
      ("h", "x", 5.0), ("h", "x", 2.0), ("h", "y", 8.0), ("h", "y", 3.0),
      ("h", "z", 0.5))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val k = 3
    val want = rows.groupBy(_._1).view.mapValues { rs =>
      val vs = rs.sortBy(r => (md5hex("graft" + r._2), r._3)).take(k)
        .map(_._3).sorted
      (vs.length.toLong, vs((500 * vs.length + 999) / 1000 - 1),
        vs((900 * vs.length + 999) / 1000 - 1))
    }.toMap
    val got = Sampling.sampleQuantiles(rows.toDF("grp", "key", "v"),
        col("grp"), col("key"), col("v"), k = k, Seq(500, 900))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == want)
    // the all-tied group keeps exactly its k smallest values
    assert(want("g") == ((3L, 4.0, 6.0)))
  }

  test("grouped split: zero cross-split near-dup pairs; doc-level split leaks") {
    // the demonstration the corpus_split_grouped scaladoc promises: on
    // the same verified near-dup pair stage, the document-keyed split
    // strands pair-members on opposite sides (leakage > 0 — a pair
    // crosses w.p. 1 − Σfᵢ² = 0.34 under independent hashing), while the
    // cluster-rep-keyed split can never split a pair (both members share
    // the key the md5 CASE hashes)
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sf0001)
      .select(col("doc_a"), col("doc_b"))
    assert(pairs.count() > 0, "fixture has near-dup pairs to leak")
    def crossing(splitQuery: String): Long = {
      val assign = SparkEntry.queries(splitQuery)(spark, sf0001)
        .select(col("doc_id"), col("split"))
      pairs
        .join(assign.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(assign.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .filter(col("sa") =!= col("sb"))
        .count()
    }
    assert(crossing("corpus_split") > 0,
      "doc-level split should strand at least one near-dup pair across splits")
    assert(crossing("corpus_split_grouped") == 0,
      "cluster-keyed split must never separate a verified near-dup pair")
  }

  test("grouped split agrees with corpus_split for every unclustered doc") {
    val grouped = SparkEntry.queries("corpus_split_grouped")(spark, sf0001)
    val plain = SparkEntry.queries("corpus_split")(spark, sf0001)
    val diff = grouped.filter(col("split_key") === col("doc_id"))
      .select(col("doc_id"), col("split"))
      .join(plain.withColumnRenamed("split", "split_plain"), "doc_id")
      .filter(col("split") =!= col("split_plain"))
    assert(diff.count() == 0,
      "a doc outside every cluster hashes under its own id — identical to corpus_split")
  }

  test("quantilesBySearch ≡ sorted rank selection: random groups, ties, singletons") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val rows = (for {
      g <- Seq("a", "b", "c")
      _ <- 1 to (if (g == "c") 1 else 400) // c is a singleton group
    } yield (g, if (g == "b") rng.nextInt(5).toLong // b is tie-heavy
             else rng.nextInt(1000000).toLong)).toSeq
    val qs = Seq(0.01, 0.5, 0.95, 1.0)
    val got = graft.operators.Sampling
      .quantilesBySearch(rows.toDF("g", "v").repartition(7), qs)
      .as[(String, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    rows.groupBy(_._1).foreach { case (g, xs) =>
      val sorted = xs.map(_._2).sorted
      qs.foreach { q =>
        val rank = math.max(1L, math.ceil(q * sorted.length).toLong).toInt
        assert(got((g, q)) == sorted(rank - 1), s"group $g q=$q")
      }
    }

    // a NULL group key would silently converge every bracket to the
    // group max (NULL === lit never matches) — must reject loudly
    val withNull = Seq((Some("a"), 1L), (None, 2L), (Some("a"), 3L))
      .toDF("g", "v")
    val err = intercept[IllegalArgumentException] {
      graft.operators.Sampling.quantilesBySearch(withNull, Seq(0.5))
    }
    assert(err.getMessage.contains("NULL group"), err.getMessage)
  }
}
