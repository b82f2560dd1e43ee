package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{EntityResolution, Temporal}

/** Entity resolution (deletion-variant blocking), SCD2 history, HLL
  * rollup, and column stats. */
class DataCleaningSpec extends SparkTestBase {

  import spark.implicits._

  // --- deletion-variant blocking ------------------------------------

  test("deletionVariants emits the string plus every single deletion") {
    val out = Seq(("abc")).toDF("s")
      .select(EntityResolution.deletionVariants(col("s")).as("v"))
      .as[Seq[String]].head()
    assert(out == Seq("abc", "bc", "ac", "ab"))
  }

  test("fuzzyPairs finds substitution, insertion and deletion neighbors") {
    val df = Seq(
      (1L, "karen"), (2L, "caren"),   // substitution
      (3L, "karren"),                 // insertion vs 1
      (4L, "kren"),                   // deletion vs 1, substitution vs 5
      (5L, "aren")                    // deletion vs 1 and vs 2
    ).toDF("id", "name")
    val pairs = EntityResolution.fuzzyPairs(df, col("id"), col("name"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 5L), (4L, 5L)))
  }

  test("fuzzyPairs emits each pair exactly once (dist-0 collides on every variant)") {
    val df = Seq((1L, "same"), (2L, "same")).toDF("id", "name")
    val rows = EntityResolution.fuzzyPairs(df, col("id"), col("name")).collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("dist") == 0)
  }

  test("property: blocking is complete vs brute-force levenshtein<=1") {
    val alpha = Gen.oneOf('a', 'b', 'c')
    val word = for {
      n <- Gen.choose(1, 8)
      cs <- Gen.listOfN(n, alpha)
    } yield cs.mkString
    val prop = Prop.forAll(Gen.listOfN(12, word)) { ws =>
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "name")
      val got = EntityResolution.fuzzyPairs(df, col("id"), col("name"))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // ids with equal strings are distinct records: expected pairs come
      // from index pairs, not string pairs
      val want = (for {
        (a, i) <- ws.zipWithIndex; (b, j) <- ws.zipWithIndex
        if i < j && lev(a, b) <= 1
      } yield (i.toLong, j.toLong)).toSet
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("deletionVariants2 emits exactly the <=2-deletion neighborhood") {
    val out = Seq(("abcd")).toDF("s")
      .select(EntityResolution.deletionVariants2(col("s")).as("v"))
      .as[Seq[String]].head().toSet
    // 0 deletions, 4 single deletions, C(4,2)=6 double deletions
    assert(out == Set("abcd",
      "bcd", "acd", "abd", "abc",
      "cd", "bd", "bc", "ad", "ac", "ab"))
    // degenerate lengths: sequence() must never run descending
    val short = Seq(("a"), ("ab")).toDF("s")
      .select(EntityResolution.deletionVariants2(col("s")).as("v"))
      .as[Seq[String]].collect().map(_.toSet)
    assert(short(0) == Set("a", ""))
    assert(short(1) == Set("ab", "a", "b", ""))
  }

  test("property: k=2 blocking is complete vs brute-force levenshtein<=2") {
    // corpora built as random 2-edit neighborhoods: each extra word is a
    // base word pushed through 1-2 random substitutions/insertions/
    // deletions, so true dist<=2 pairs (and near-miss dist-3 pairs via
    // chained edits) are dense — exactly the regime that catches an
    // incomplete candidate generator
    val alpha = Gen.oneOf('a', 'b', 'c')
    val word = for {
      n <- Gen.choose(1, 7); cs <- Gen.listOfN(n, alpha)
    } yield cs.mkString
    def edit(w: String, rng: scala.util.Random): String = {
      val i = rng.nextInt(math.max(w.length, 1))
      rng.nextInt(3) match {
        case 0 if w.nonEmpty => w.updated(i, ('a' + rng.nextInt(3)).toChar) // sub
        case 1 => w.take(i) + ('a' + rng.nextInt(3)).toChar + w.drop(i)     // ins
        case _ if w.nonEmpty => w.take(i) + w.drop(i + 1)                   // del
        case _ => w
      }
    }
    val corpus = for {
      bases <- Gen.listOfN(4, word)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield {
      val rng = new scala.util.Random(seed)
      bases.flatMap { b =>
        b :: List.fill(2)((1 to 1 + rng.nextInt(2)).foldLeft(b)((w, _) => edit(w, rng)))
      }.filter(_.nonEmpty)
    }
    val prop = Prop.forAll(corpus) { ws =>
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "name")
      val got = EntityResolution.fuzzyPairs2(df, col("id"), col("name"))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val want = (for {
        (a, i) <- ws.zipWithIndex; (b, j) <- ws.zipWithIndex
        if i < j && lev(a, b) <= 2
      } yield (i.toLong, j.toLong)).toSet
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("fuzzyTopK: per-record k-nearest ≡ brute force, exact n_matches, loud cap") {
    // dense fixture: single-character names over a 3-letter alphabet so
    // every name is within distance 2 of every other — the cap MUST bind
    val ws = Seq("a", "b", "c", "aa", "ab", "ba", "bb", "abc", "abd")
    val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "name")
    val k = 3
    val got = EntityResolution.fuzzyTopK(df, col("id"), col("name"), k)
      .select("id_a", "rn", "id_b", "dist", "n_matches")
      .as[(Long, Int, Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    val all = for {
      (a, i) <- ws.zipWithIndex; (b, j) <- ws.zipWithIndex
      if i != j && lev(a, b) <= 2
    } yield (i.toLong, j.toLong, lev(a, b))
    val want = all.groupBy(_._1).toSeq.flatMap { case (ia, ms) =>
      val sorted = ms.sortBy(m => (m._3, m._2)).take(k)
      sorted.zipWithIndex.map { case ((_, ib, d), pos) =>
        (ia, pos + 1, ib, d, ms.size.toLong)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == want,
      s"got ${got.toSeq.take(20)}\nwant ${want.take(20)}")
    // the fixture is dense enough that truncation happened and was announced
    assert(got.exists(r => r._5 > k), "cap should bind and n_matches say so")
  }

  test("partition pruning: static PartitionFilters and runtime dynamicpruning reach the scan") {
    val static = SparkEntry.queries("partition_prune")(spark, sf0001)
    val sPlan = static.queryExecution.executedPlan.toString
    assert(sPlan.contains("PartitionFilters: [isnotnull(lang"),
      s"no partition filter in scan:\n${sPlan.take(1200)}")
    // the pruned scan must select exactly ONE partition directory (en)
    // out of the several langs the layout wrote
    // sparkPlan, not executedPlan: AQE hides the scan behind its
    // wrapper node until execution
    val counts = static.queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        (f.selectedPartitions.partitionCount,
          f.relation.location.inputFiles.length) }
    assert(counts.nonEmpty)
    counts.foreach { case (selected, totalFiles) =>
      assert(selected == 1 && totalFiles > selected,
        s"expected 1 selected partition of a multi-partition layout, " +
          s"got $selected (layout has $totalFiles files)")
    }
    val dyn = SparkEntry.queries("partition_prune_dynamic")(spark, sf0001)
    val dPlan = dyn.queryExecution.executedPlan.toString
    assert(dPlan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n${dPlan.take(1500)}")
  }

  test("Mv.refresh ≡ full recompute: new keys, untouched keys, empty delta") {
    import graft.operators.Mv
    def aggOf(rows: Seq[(String, Long, Long)]) =
      rows.toDF("k", "v", "t").groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("t")).as("min_t"), max(col("t")).as("max_t"))
    val base = Seq(("a", 1L, 10L), ("a", 2L, 5L), ("b", 7L, 3L))
    // delta: extends a, leaves b untouched, introduces c
    val delta = Seq(("a", 10L, 1L), ("c", 4L, 99L))
    def run(d: Seq[(String, Long, Long)]) =
      Mv.refresh(aggOf(base), aggOf(d), keys = Seq("k"),
          sums = Seq("n", "sum_v"), mins = Seq("min_t"), maxs = Seq("max_t"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
    val want = aggOf(base ++ delta)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(run(delta) == want)
    // empty delta: refresh is the identity on the view
    assert(run(Seq.empty) ==
      aggOf(base).as[(String, Long, Long, Long, Long)].collect().toSet)
    // shape mismatch fails loudly, not silently misaligned
    intercept[IllegalArgumentException] {
      Mv.refresh(aggOf(base).drop("max_t"), aggOf(delta), Seq("k"),
        sums = Seq("n", "sum_v"), mins = Seq("min_t"), maxs = Seq("max_t"))
    }
  }

  test("Mv.refreshJoin ≡ full recompute, exactly once per pair, deltas broadcast") {
    import graft.operators.Mv
    val aOld = Seq((1L, "a1"), (2L, "a2"), (2L, "a2x")).toDF("k", "av")
    val dA = Seq((2L, "a2new"), (3L, "a3")).toDF("k", "av")
    val bOld = Seq((1L, "b1"), (3L, "b3")).toDF("k", "bv")
    val dB = Seq((2L, "b2"), (3L, "b3new")).toDF("k", "bv")
    val view = aOld.join(bOld, Seq("k"))
    val out = Mv.refreshJoin(view, aOld, bOld, dA, dB, Seq("k"))
    val got = out.as[(Long, String, String)].collect().toSeq
    val want = aOld.union(dA).join(bOld.union(dB), Seq("k"))
      .as[(Long, String, String)].collect().toSeq
    // multiset equality: a pair double-emitted by overlapping delta
    // terms must fail, not hide in a set
    assert(got.sorted == want.sorted)
    // the base sides are never shuffled: every join builds on a
    // broadcast (the view's own join may pick broadcast too — assert
    // no Exchange hashpartitioning anywhere)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(1200))
  }

  test("Mv.refresh preserves NULL sums: all-NULL group ⊕ all-NULL delta = NULL, not 0") {
    import graft.operators.Mv
    def aggOf(rows: Seq[(String, Option[Long])]) =
      rows.toDF("k", "v").groupBy(col("k")).agg(sum(col("v")).as("sum_v"))
    // group "n" has only NULL measure values on both sides: the view sum
    // is legitimately NULL and must REFRESH to NULL (the full-recompute
    // oracle's answer); "m" is NULL in the view but valued in the delta;
    // "p" valued in the view, absent from the delta
    val base = Seq(("n", None: Option[Long]), ("m", None), ("p", Some(5L)))
    val delta = Seq(("n", None: Option[Long]), ("m", Some(3L)))
    val got = Mv.refresh(aggOf(base), aggOf(delta), keys = Seq("k"),
        sums = Seq("sum_v"))
      .as[(String, Option[Long])].collect().toSet
    val want = aggOf(base ++ delta).as[(String, Option[Long])].collect().toSet
    assert(got == want)
    assert(got.contains(("n", None)), "all-NULL group refreshed to 0, not NULL")
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  // --- SCD2 ---------------------------------------------------------

  test("scd2 folds runs into closed-open intervals, open tail NULL") {
    val df = Seq(
      (1L, 10L, "a"), (1L, 20L, "a"), (1L, 30L, "b"), (1L, 40L, "a"),
      (2L, 10L, "x")
    ).toDF("k", "t", "s")
    val out = Temporal.scd2(df, col("k"), col("s"), col("t"), col("t"))
      .orderBy("key", "valid_from")
      .select("key", "state", "valid_from", "valid_to", "n_events")
      .as[(Long, String, Long, Option[Long], Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a", 10L, Some(30L), 2L),
      (1L, "b", 30L, Some(40L), 1L),
      (1L, "a", 40L, None, 1L),
      (2L, "x", 10L, None, 1L)))
  }

  test("scd2 intervals tile each key's timeline (no gaps, no overlap)") {
    val out = SparkEntry.queries("scd2_intervals")(spark, sf0001)
    val n = out.count()
    assert(n > 0)
    // per key: exactly one open interval, and every valid_to equals the
    // next valid_from (the lead construction makes this structural; the
    // assertion guards the fold + rename plumbing)
    val bad = out
      .withColumn("nxt", lead(col("valid_from"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy("valid_from")))
      .filter(not(col("valid_to") <=> col("nxt")))
    assert(bad.count() == 0)
    // event conservation: interval n_events sums to the event count
    val total = out.agg(sum("n_events")).as[Long].head()
    assert(total == Tables.events(spark, sf0001).count())
  }

  // --- HLL rollup ---------------------------------------------------

  test("hll_rollup merged estimate == direct sketch, within 5% of exact") {
    val ev = Tables.events(spark, sf0001)
    val rolled = SparkEntry.queries("hll_rollup")(spark, sf0001)
      .select("event_type", "approx_users").as[(String, Long)].collect().toMap
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n"))
      .as[(String, Long)].collect().toMap
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(rolled == direct) // register-max merge is lossless
    rolled.foreach { case (t, est) =>
      val ex = exact(t).toDouble
      assert(math.abs(est - ex) / ex < 0.05, s"$t: est=$est exact=$ex")
    }
  }

  // --- column stats -------------------------------------------------

  test("column_stats single-pass agg matches per-column recomputation") {
    val out = SparkEntry.queries("column_stats")(spark, sf0001)
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(out.map(_._1).toSeq == Seq(
      "o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"))
    val ord = Tables.orders(spark, sf0001)
    out.foreach { case (c, nRows, nn, ndv, minS, maxS) =>
      assert(nRows == ord.count())
      assert(nn == ord.filter(col(c).isNotNull).count())
      assert(ndv == ord.select(c).distinct().count())
      assert(minS == ord.agg(min(col(c).cast("string"))).as[String].head())
      assert(maxS == ord.agg(max(col(c).cast("string"))).as[String].head())
    }
  }

  // --- data-quality audit -------------------------------------------

  test("audit counts engineered violations of every check kind") {
    import graft.operators.DataQuality._
    val child = Seq(
      (1L, Some(10L), 5.0, "ok"),
      (2L, Some(10L), -1.0, "ok"),   // range violation
      (2L, Some(99L), 2.0, "bad"),   // dup key + orphan FK + domain
      (3L, None, 3.0, "ok")          // null FK (not an FK violation)
    ).toDF("id", "fk", "v", "status")
    val parent = Seq(10L, 11L).toDF("pid")
    val rep = audit(child, Seq(
      NotNull("fk_not_null", "fk"),
      Range("v_range", "v", 0.0, 10.0),
      Predicate("status_domain", col("status") === "ok"),
      Unique("id_unique", Seq("id")),
      ForeignKey("fk_exists", "fk", parent, "pid")))
      .as[(String, Long, Long, Boolean)].collect()
      .map { case (k, b, c, d) => k -> ((b, c, d)) }.toMap
    assert(rep("fk_not_null") == ((4L, 1L, false)))
    assert(rep("v_range") == ((4L, 1L, false)))
    assert(rep("status_domain") == ((4L, 1L, false)))
    assert(rep("id_unique") == ((4L, 1L, false)))
    assert(rep("fk_exists") == ((3L, 1L, false)))
    // a clean table passes everything
    val clean = audit(parent, Seq(
      NotNull("p_not_null", "pid"), Unique("p_unique", Seq("pid"))))
      .as[(String, Long, Long, Boolean)].collect()
    assert(clean.forall(_._4))
  }

  test("row-level checks share one scan; FK parent joins by broadcast") {
    val plan = SparkEntry.queries("dq_audit")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // orders is scanned once for the three row-level rules (the other
    // two scans are the Unique groupBy and the FK child side)
    val ordersScans = "FileScan parquet \\[o_"
      .r.findAllIn(plan).length
    assert(ordersScans == 3, s"expected 3 orders scans, got $ordersScans\n$plan")
    assert("BroadcastHashJoin.*LeftOuter".r.findFirstIn(plan).isDefined, plan)
  }

  // --- resample + forward fill ---------------------------------------

  test("resampleFfillDaily fills gaps with the day's closing observation") {
    import java.sql.Timestamp
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 08:00:00"), 1.0, 1L),
      (1L, Timestamp.valueOf("2024-01-01 20:00:00"), 2.0, 2L), // closes day 1
      (1L, Timestamp.valueOf("2024-01-04 12:00:00"), 9.0, 3L), // 2-day gap
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 5.0, 4L)
    ).toDF("k", "t", "v", "e")
    val out = Temporal.resampleFfillDaily(df, col("k"), col("t"), col("v"),
        col("e"))
      .orderBy("key", "day")
      .as[(Long, java.sql.Date, Double, Long, Boolean)].collect().toSeq
    def d(s: String) = java.sql.Date.valueOf(s)
    assert(out == Seq(
      (1L, d("2024-01-01"), 2.0, 2L, false),
      (1L, d("2024-01-02"), 2.0, 0L, true),
      (1L, d("2024-01-03"), 2.0, 0L, true),
      (1L, d("2024-01-04"), 9.0, 1L, false),
      (2L, d("2024-01-02"), 5.0, 1L, false)))
  }

  test("resampleFfillDaily: a NULL closing value is observed, not a gap") {
    import java.sql.Timestamp
    // day 1 closes on a NULL value: is_gap must key off the JOIN MISS
    // (matching the SQL twin's d.day IS NULL), not the value's NULL-ness
    // — keying off the value misclassified this day as a gap (ADVICE r6)
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 08:00:00"), Some(1.0), 1L),
      (1L, Timestamp.valueOf("2024-01-01 20:00:00"), None, 2L),
      (1L, Timestamp.valueOf("2024-01-03 12:00:00"), Some(9.0), 3L)
    ).toDF("k", "t", "v", "e")
    val out = Temporal.resampleFfillDaily(df, col("k"), col("t"), col("v"),
        col("e"))
      .orderBy("key", "day")
      .select("day", "n_obs", "is_gap")
      .as[(java.sql.Date, Long, Boolean)].collect().toSeq
    def d(s: String) = java.sql.Date.valueOf(s)
    assert(out == Seq(
      (d("2024-01-01"), 2L, false), // observed, even though the value is NULL
      (d("2024-01-02"), 0L, true),
      (d("2024-01-03"), 1L, false)))
  }

  test("resampleInterpDaily interpolates gaps linearly between closing values") {
    import java.sql.Timestamp
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 08:00:00"), 1.0, 1L),
      (1L, Timestamp.valueOf("2024-01-01 20:00:00"), 2.0, 2L), // closes day 1
      (1L, Timestamp.valueOf("2024-01-04 12:00:00"), 8.0, 3L), // 2-day gap
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 5.0, 4L)
    ).toDF("k", "t", "v", "e")
    val out = Temporal.resampleInterpDaily(df, col("k"), col("t"), col("v"),
        col("e"))
      .orderBy("key", "day")
      .as[(Long, java.sql.Date, Double, Long, Boolean)].collect().toSeq
    def d(s: String) = java.sql.Date.valueOf(s)
    // gap days walk the 2.0 -> 8.0 line: 2 + 6*(1/3) = 4, 2 + 6*(2/3) = 6
    assert(out == Seq(
      (1L, d("2024-01-01"), 2.0, 2L, false),
      (1L, d("2024-01-02"), 4.0, 0L, true),
      (1L, d("2024-01-03"), 6.0, 0L, true),
      (1L, d("2024-01-04"), 8.0, 1L, false),
      (2L, d("2024-01-02"), 5.0, 1L, false)))
    // observed days and grid shape agree with the ffill sibling
    val ffill = Temporal.resampleFfillDaily(df, col("k"), col("t"), col("v"),
        col("e")).select("key", "day", "is_gap")
      .as[(Long, java.sql.Date, Boolean)].collect().toSet
    assert(out.map(r => (r._1, r._2, r._5)).toSet == ffill)
  }

  test("resample_ffill grid tiles each user's observed span exactly") {
    val out = SparkEntry.queries("resample_ffill")(spark, sf0001)
    val n = out.count()
    val spans = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1)
        .as("days"))
      .agg(sum("days")).as[Long].head()
    assert(n == spans)
    assert(out.filter(col("value_filled").isNull).count() == 0)
  }

  // --- cluster mixture -----------------------------------------------

  test("corpus_clusters_fp: deterministic, size-conserving, purity arithmetic") {
    val rep1 = SparkEntry.queries("corpus_clusters_fp")(spark, sf0001)
      .as[(Int, Long, Int, Long, Double)].collect().toSeq
    val rep2 = SparkEntry.queries("corpus_clusters_fp")(spark, sf0001)
      .as[(Int, Long, Int, Long, Double)].collect().toSeq
    assert(rep1 == rep2) // md5-rank sample + integer Lloyd
    assert(rep1.map(_._2).sum == Tables.embeddings(spark, sf0001).count())
    assert(rep1.size > 1, "degenerate single cluster")
    rep1.foreach { case (_, n, _, nMaj, purity) =>
      assert(nMaj <= n && purity == nMaj.toDouble / n)
    }
    // majority label is the argmax of the recomputed per-cell label counts
    val e = Tables.embeddings(spark, sf0001)
    val assigned = graft.operators.Similarity.assignCellsFp(e)
      .join(e.select("vec_id", "label"), "vec_id")
      .as[(Long, Int, Int)].collect()
    val byCell = assigned.groupBy(_._2)
    rep1.foreach { case (cell, n, maj, nMaj, _) =>
      val labels = byCell(cell).map(_._3)
      assert(labels.length == n)
      val want = labels.groupBy(identity).map { case (l, xs) => (l, xs.length) }
        .toSeq.minBy { case (l, c) => (-c, l) }
      assert((maj, nMaj) == want)
    }
  }

  // --- keyed upsert --------------------------------------------------

  test("upsert: delta wins per key, tombstones delete, base never reshuffles") {
    import graft.operators.Upsert
    val base = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1)).toDF("k", "v", "ver")
    val delta = Seq((2L, "B", 2), (3L, "DEAD", 2), (4L, "d", 2)).toDF("k", "v", "ver")
    val out = Upsert.upsert(base, delta, col("k"), col("v") === "DEAD")
      .orderBy("k").as[(Long, String, Int)].collect().toSeq
    assert(out == Seq((1L, "a", 1), (2L, "B", 2), (4L, "d", 2)))
    val plan = Upsert.upsert(base, delta, col("k"), col("v") === "DEAD")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined, plan)
  }

  // --- histogram + winsorize ----------------------------------------

  test("histogram_equidepth buckets tile the value range with full coverage") {
    val out = SparkEntry.queries("histogram_equidepth")(spark, sf0001)
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    val ord = Tables.orders(spark, sf0001)
    assert(out.map(_._2).sum == ord.count())
    assert(out.map(_._1).toSeq == out.map(_._1).toSeq.sorted)
    // buckets are ordered, non-overlapping ranges
    out.sliding(2).foreach {
      case Array((_, _, _, hi), (_, _, lo, _)) => assert(hi <= lo)
      case _ =>
    }
    // global min/max covered
    val (mn, mx) = ord.agg(min("o_totalprice"), max("o_totalprice"))
      .as[(Double, Double)].head()
    assert(out.head._3 == mn && out.last._4 == mx)
  }

  test("winsorize clips exactly the outlier rows into the group bounds") {
    val out = SparkEntry.queries("winsorize")(spark, sf0001)
      .as[(Long, String, Double, Double, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, _, price, clipped, wasOutlier) =>
      if (wasOutlier) assert(clipped != price)
      else assert(clipped == price)
    }
    // ~10% clipped per group (p05/p95 bounds), never more than 12%
    val frac = out.count(_._5).toDouble / out.length
    assert(frac > 0.05 && frac < 0.12, s"outlier fraction $frac")
  }

  // --- incremental SCD2 merge ---------------------------------------

  test("scd2Merge ≡ full recompute across cutoffs (run extension + close + new key)") {
    val df = Seq(
      (1L, 10L, "a"), (1L, 20L, "a"), (1L, 30L, "b"),  // pre-cutoff
      (1L, 50L, "b"),                                   // extends open run
      (1L, 60L, "a"),                                   // closes it
      (2L, 15L, "x"), (2L, 55L, "y"),                   // state flip across cutoff
      (3L, 70L, "z")                                    // key born after cutoff
    ).toDF("k", "t", "s")
    for (cutoff <- Seq(0L, 40L, 100L)) {
      val merged = Temporal.scd2Merge(
        Temporal.scd2(df.filter(col("t") <= cutoff),
          col("k"), col("s"), col("t"), col("t")),
        df.filter(col("t") > cutoff), col("k"), col("s"), col("t"), col("t"))
      val full = Temporal.scd2(df, col("k"), col("s"), col("t"), col("t"))
      val m = merged.orderBy("key", "valid_from").collect().toSeq
      val f = full.orderBy("key", "valid_from").collect().toSeq
      assert(m == f, s"cutoff=$cutoff")
    }
  }

  test("scd2Merge history side joins by broadcast (delta-shaped work)") {
    val plan = SparkEntry.queries("scd2_merge")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // untouched/closed pass-throughs: two broadcast joins against the
    // distinct delta key set; the history is never hash-repartitioned
    // for the merge routing
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined, plan)
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(plan).isDefined, plan)
  }

  // --- snapshot diff -------------------------------------------------

  test("corpus_diff classes match the membership arithmetic") {
    val out = SparkEntry.queries("corpus_diff")(spark, sf0001)
      .as[(Long, String)].collect().toMap
    val ids = Tables.documents(spark, sf0001)
      .select("doc_id").as[Long].collect()
    val want = ids.flatMap { id =>
      val inOld = id % 3 != 0
      val inNew = id % 5 != 0
      if (inOld && !inNew) Some(id -> "removed")
      else if (!inOld && inNew) Some(id -> "added")
      else if (inOld && inNew && id % 7 == 0) Some(id -> "changed")
      else None
    }.toMap
    assert(out == want)
  }

  // --- skew report ---------------------------------------------------

  test("skew_report rows/keys/max agree with direct recomputation") {
    val ev = Tables.events(spark, sf0001)
    val out = SparkEntry.queries("skew_report")(spark, sf0001)
      .select("event_type", "n_rows", "n_keys", "max_per_key", "hot_key")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.map(_._2).sum == ev.count())
    out.foreach { case (t, nRows, nKeys, mx, hot) =>
      val counts = ev.filter(col("event_type") === t)
        .groupBy("user_id").count().as[(Long, Long)].collect()
      assert(nRows == counts.map(_._2).sum)
      assert(nKeys == counts.length)
      assert(mx == counts.map(_._2).max)
      assert(hot == counts.filter(_._2 == mx).map(_._1).min)
    }
  }

  // --- hard negatives ------------------------------------------------

  test("hard_negatives mines cross-label neighbors consistent with brute force") {
    val out = SparkEntry.queries("hard_negatives")(spark, sf0001)
      .as[(Long, Int, Long, Int, Int)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, ql, _, cl, _) => ql != cl })
    // ranks are 1..3 per query
    out.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._5).sorted.toSeq == (1 to rs.length))
    }
    // driver-side brute force agreement on one query vector
    val e = Tables.embeddings(spark, sf0001)
      .as[(Long, Array[Float], Int)].collect()
    val (qid, qv, qlab) = e.find(_._1 == 0L).get
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = e.filter(v => v._1 != qid && v._3 != qlab)
      .map(v => (v._1, cos(qv, v._2)))
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSeq
    val got = out.filter(_._1 == qid).sortBy(_._5).map(_._3).toSeq
    assert(got == want)
  }

  test("column_stats plans one FileScan (single pass, not per-column rescans)") {
    val plan = SparkEntry.queries("column_stats")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
  }

  // --- k-anonymity repair fixpoint ----------------------------------

  test("kAnonymityRepairFull: classes settle at the first level meeting k; top keeps residual") {
    import graft.operators.DataQuality
    // hierarchy city -> state -> all; k = 3
    //   cityA (state X): 3 rows  -> settles at level 0
    //   cityB (state X): 2 rows \
    //   cityC (state X): 1 row  -> escalate; state X wave = 3 -> settles at level 1
    //   cityD (state Y): 1 row  -> escalate; state Y wave = 1 -> escalates
    //                              to 'all' wave = 1 -> RESIDUAL k_risky
    val rows = Seq(
      ("a1", "cityA", "X", "s1"), ("a2", "cityA", "X", "s2"), ("a3", "cityA", "X", "s1"),
      ("b1", "cityB", "X", "s1"), ("b2", "cityB", "X", "s1"),
      ("c1", "cityC", "X", "s2"),
      ("d1", "cityD", "Y", "s1")).toDF("id", "city", "state", "sens")
    val out = DataQuality.kAnonymityRepairFull(rows,
        levels = Seq(concat(lit("city:"), col("city")),
          concat(lit("state:"), col("state")), lit("all")),
        otherQi = Seq.empty, sensitive = "sens", k = 3, l = 2)
      .select("qi", "qi_level", "n", "k_risky")
      .as[(String, Int, Long, Boolean)].collect().toSet
    assert(out == Set(
      ("city:cityA", 0, 3L, false),
      ("state:X", 1, 3L, false),   // cityB+cityC rows re-audited together
      ("all", 2, 1L, true)))       // honest residual, loudly flagged
    // fixpoint law: every non-top class meets k; only top classes may not
    out.foreach { case (qi, lvl, n, risky) =>
      if (lvl < 2) assert(n >= 3 && !risky, s"$qi settled below k")
    }
  }

  test("kAnonymityRepairFull counts NULL-QI rows as a real equivalence class") {
    import graft.operators.DataQuality
    // two rows whose city is NULL (so level-0 __qi = concat(...) is NULL):
    // they must escalate/settle like any class — a plain equi-join would
    // silently drop them from the audit, hiding exactly the population a
    // privacy audit must flag
    val rows = Seq(
      (Option("cityA"), "s1"), (Option("cityA"), "s2"), (Option("cityA"), "s1"),
      (Option.empty[String], "s1"), (Option.empty[String], "s2"))
      .toDF("city", "sens")
    val out = DataQuality.kAnonymityRepairFull(rows,
        levels = Seq(concat(lit("city:"), col("city")), lit("all")),
        otherQi = Seq.empty, sensitive = "sens", k = 3, l = 2)
      .select("qi", "qi_level", "n", "k_risky")
      .as[(Option[String], Int, Long, Boolean)].collect().toSet
    // NULL-city rows (2 < k) escalate to 'all' and stay honestly risky
    assert(out == Set(
      (Some("city:cityA"), 0, 3L, false),
      (Some("all"), 1, 2L, true)))
    assert(out.map(_._3).sum == 5L) // nobody vanished from the audit
  }
}
