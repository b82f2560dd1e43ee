package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("exact dedup groups identical content, keeps min id") {
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa")).toDF("id", "t")
    val out = Dedup.exact(df, col("id"), col("t"))
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 3L), (2L, 1L)))
  }

  test("exact dedup is idempotent") {
    val docs = Tables.documents(spark, sf0001)
    val once = Dedup.exact(docs, col("doc_id"), col("text"))
    val twice = Dedup.exact(
      once.withColumnRenamed("content_hash", "t"), col("keep_id"), col("t"))
    assert(once.count() == twice.count())
  }

  test("minhash LSH finds planted near-duplicates and matches exact jaccard") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),                       // near-dup of 1
      (3L, "completely different words entirely unrelated content here now"),
      (4L, base.replace("quick", "slow"))          // still high overlap with 1
    ).toDF("doc_id", "text")
    val lsh = Dedup.minhashDedup(docs, col("doc_id"), col("text"), threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 2L)))
    assert(lsh == exact)
  }

  test("connectedComponents collapses chains to the min representative") {
    // a-b, b-c (no a-c), plus an isolated pair d-e and a triangle f-g-h
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("prefix-filtered jaccard (PPJoin) equals the naive exact join on sf0.001") {
    val docs = Tables.documents(spark, sf0001)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
    val naive = norm(Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.3))
    val ppj = norm(Dedup.ngramJaccardPrefix(docs, col("doc_id"), col("text"), 3, 0.3))
    assert(naive.nonEmpty)
    assert(naive == ppj)
  }

  test("docSignatures (one-shuffle stage) equals the compositional signature pipeline") {
    val docs = Tables.documents(spark, sf0001).limit(200)
    val stage = Dedup.docSignatures(docs, col("doc_id"), col("text"), n = 3, k = 64)
    val composed = Dedup.minhashSignatures(
      Dedup.hashedShingleSet(docs, col("doc_id"), col("text"), 3), k = 64)
    val a = stage.select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    val b = composed.as[(Long, Seq[Long])].collect().toMap
    assert(a == b)
    // hs = the sorted distinct shingle hashes (what verification joins)
    val hs = stage.select("doc_id", "hs").as[(Long, Seq[Long])].collect().toMap
    val sets = Dedup.hashedShingleSet(docs, col("doc_id"), col("text"), 3)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(hs == sets)
  }

  test("size-gated ngram dispatcher equals both exact paths on light and heavy corpora") {
    val docs = Tables.documents(spark, sf0001)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
    // light corpus (mostly-unique shingles): gate picks the naive join
    val naive = norm(Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.5))
    assert(norm(Dedup.ngramJaccardAuto(docs, col("doc_id"), col("text"), 3, 0.5)) == naive)
    // heavy corpus: 120 docs sharing one template -> df ≈ 120 per shingle,
    // Σdf²/Σdf ≈ 120 > gate -> prefix path; output must still be identical
    val heavy = (0 until 120)
      .map(i => (i.toLong, s"the common shared template text block ends with token$i here"))
      .toDF("doc_id", "text")
    val heavyNaive = norm(Dedup.ngramJaccard(heavy, col("doc_id"), col("text"), 3, 0.5))
    assert(norm(Dedup.ngramJaccardAuto(heavy, col("doc_id"), col("text"), 3, 0.5)) == heavyNaive)
    assert(heavyNaive.nonEmpty)
  }

  test("ivfFpTopK construction runs at most one job (the seeded sample pass)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val e = Tables.embeddings(spark, sf0001)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Similarity.ivfFpTopK(e.filter(col("vec_id") < 5), e, k = 3)
      // listener bus is async; give queued events a moment to drain
      Thread.sleep(1500)
      val constructionJobs = jobs.get()
      assert(constructionJobs <= 1,
        s"ivfFpTopK construction launched $constructionJobs jobs (one sample pass expected)")
      assert(df.columns.contains("rank")) // plan built, untouched
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("simhash: identical docs distance 0, near-dups close, others far") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val sig = Dedup.simhashSignatures(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    val d13 = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    val d14 = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
    assert(d13 < d14)
    val pairs = Dedup.simhashPairs(
      Dedup.simhashSignatures(docs, col("doc_id"), col("text")), maxDist = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
    // the keying rides in the frame: a 60-bit md5-keyed signature bands
    // as 60 under the DEFAULT parameter (metadata wins), and an
    // explicitly disagreeing band width refuses loudly
    val md5Sig = Dedup.simhashSignatures(docs, col("doc_id"), col("text"),
      md5Keyed = true)
    val viaMeta = Dedup.simhashPairs(md5Sig, maxDist = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val explicit = Dedup.simhashPairs(md5Sig, maxDist = 3, sigBits = Some(60))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(viaMeta == explicit)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(md5Sig, maxDist = 3, sigBits = Some(56))
    }
    // r13 advice: an EXPLICIT 64 on a 60-bit frame must refuse too —
    // the Option signature exists so 64 isn't conflated with "default"
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(md5Sig, maxDist = 3, sigBits = Some(64))
    }
  }

  test("FloatVecDot equals the higher-order-function formulation") {
    val e = Tables.embeddings(spark, sf0001)
    val diff = e.select(
      abs(VectorOps.dot(col("embedding"), col("embedding")) -
        VectorOps.dotHof(col("embedding"), col("embedding"))).as("d"))
      .agg(max(col("d"))).as[Double].head()
    assert(diff == 0.0) // bit-identical, not just close: same fold order
  }

  test("brute-force top-k: self-similarity excluded, ranks deterministic, k respected") {
    val e = Tables.embeddings(spark, sf0001)
    val topk = Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 3)
    val rows = topk.select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length == 3))
    assert(rows.forall(r => r._1 != r._2))
    assert(rows.groupBy(_._1).forall(_._2.map(_._3).sorted.toSeq == Seq(1, 2, 3)))
  }

  test("blocked embedding near-dup equals brute force; plan has no nested-loop join") {
    val e = Tables.embeddings(spark, sf0001)
    // brute-force reference formulation (the round-2 implementation)
    val ref = {
      val x = e.select(col("vec_id").as("vid"), col("embedding").as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
      x.as("a").join(broadcast(x.as("b")), col("a.vid") < col("b.vid"))
        .filter(VectorOps.dot(col("a.v"), col("b.v")) >=
          lit(0.4) * col("a.nrm") * col("b.nrm"))
        .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
        .as[(Long, Long)].collect().toSet
    }
    val blocked = Dedup.embeddingNearDupBlocked(
        e, col("vec_id"), col("embedding"), threshold = 0.4)
      .as[(Long, Long)].collect().toSet
    assert(blocked == ref)
    assert(ref.nonEmpty)
    val plan = Dedup.embeddingNearDupBlocked(
      e, col("vec_id"), col("embedding"), 0.4).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // every block-pair key exists exactly once: pair coverage is complete
    // regardless of B (checked again at B=3 with a non-divisible corpus)
    val blocked3 = Dedup.embeddingNearDupBlocked(
        e, col("vec_id"), col("embedding"), 0.4, blocks = 3)
      .as[(Long, Long)].collect().toSet
    assert(blocked3 == ref)
  }

  test("LSH embedding near-dup finds planted near-dups exactly at high threshold") {
    val rng = new scala.util.Random(7L)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    def perturb(v: Array[Float]): Array[Float] =
      v.map(x => x + rng.nextGaussian().toFloat * 0.02f) // cos ≈ 0.999
    val base = (0 until 200).map(i => (i.toLong, vec()))
    val dups = base.take(20).map { case (i, v) => (1000L + i, perturb(v)) }
    val all = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupBlocked(
        all, col("vec_id"), col("embedding"), threshold = 0.9)
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupLsh(
        all, col("vec_id"), col("embedding"), threshold = 0.9)
      .as[(Long, Long)].collect().toSet
    assert(exact.size >= 20) // all planted pairs qualify
    assert(lsh == exact)     // recall 1 at cos≈0.999 (miss prob ~3e-16/pair)
  }

  test("embeddingNearDup dispatcher: blocked below the gate, LSH above") {
    val e = Tables.embeddings(spark, sf0001).limit(50)
    val low = Dedup.embeddingNearDup(e, col("vec_id"), col("embedding"), 0.4)
      .queryExecution.analyzed.toString
    val high = Dedup.embeddingNearDup(e, col("vec_id"), col("embedding"), 0.9)
      .queryExecution.analyzed.toString
    assert(low.contains("bb#"), "low threshold should take the blocked path")
    assert(high.contains("sig#"), "high threshold should take the LSH path")
  }

  /** Shared recall harness: ground truth from the exact brute-force
    * top-k, recall = fraction of true (query, neighbor) pairs the
    * approximate path returns. Everything is seeded and deterministic,
    * so these floors are regression tripwires, not flaky thresholds. */
  private def recallOf(ann: org.apache.spark.sql.DataFrame,
      truth: Set[(Long, Long)]): Double = {
    val s = ann.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    (truth intersect s).size.toDouble / truth.size
  }
  private lazy val annTruth: Set[(Long, Long)] = {
    val e = Tables.embeddings(spark, sf0001)
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
  }

  /** Independent driver recompute of fixed-point IVF routing: a vector's
    * cells under integer centroids, nearest first — quantize ⌊x·10⁶⌋,
    * integer L2, ties to the smaller cell (the strict-< argmin). */
  private def fpCellOrder(cents: Array[Array[Long]], v: Seq[Float]): Seq[Int] = {
    val qv = v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    cents.indices.sortBy { i =>
      (qv.indices.map { j => val d = qv(j) - cents(i)(j); d * d }.sum, i)
    }
  }

  test("multi-probe LSH recall holds the 0.5 floor on sf0.001") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    // These embeddings are near-uniform (max pairwise cosine 0.51), the
    // hardest case for hyperplane LSH. The round-5 single-bit probing
    // plateaued at 0.22; query-directed subset probing at the probes=24
    // default measures 0.58. Floor at 0.5 so a bucketing/probing bug
    // (not noise — the pipeline is seeded end to end) trips the spec.
    val recall = recallOf(Similarity.annTopK(q, e, k = 5), annTruth)
    assert(recall >= 0.5, s"multi-probe LSH recall $recall below 0.5 floor")
  }

  test("IVF ANN (data-adaptive) recall holds the 0.7 floor on sf0.001") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    // nprobe/nCells = 8/16: fixed-point k-means cells align with the
    // data, measured recall 0.82 — well above the scan fraction
    val recall = recallOf(Similarity.ivfFpTopK(q, e, k = 5, nprobe = 8), annTruth)
    assert(recall >= 0.7, s"IVF recall $recall below 0.7 floor")
  }

  test("fixed-point IVF: recall floor, determinism, and the integer Lloyd laws") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    // routing through integer-exact cells still holds a useful recall
    // floor (nprobe/nCells = 4/16 scans ~1/4 of the corpus; the exact
    // re-rank inside probed cells does the rest)
    val recall = recallOf(Similarity.ivfFpTopK(q, e, k = 5), annTruth)
    assert(recall >= 0.4, s"fixed-point IVF recall $recall below 0.4 floor")
    // determinism: two constructions return identical rows (no RNG
    // anywhere — md5-rank sample, integer arithmetic end to end)
    val r1 = Similarity.ivfFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    val r2 = Similarity.ivfFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(r1 == r2 && r1.nonEmpty)
    // centroid recompute twin: the exposed trainer is bitwise stable
    val c1 = Similarity.ivfFpCentroids(e)
    val c2 = Similarity.ivfFpCentroids(e)
    assert(c1.length == 16 && c1.zip(c2).forall { case (a, b) => a.sameElements(b) })

    // integer Lloyd laws on hand data: ties go to the smaller cell,
    // empty cells keep their centroid, means truncate toward zero
    val pts = Array(Array(1L, 1L), Array(3L, 1L), Array(-7L, 0L))
    val init = Array(Array(2L, 1L), Array(2L, 1L), Array(100L, 100L))
    val cents = Similarity.kMeansFp(pts, init, iters = 1)
    // all three points tie between cells 0 and 1 (identical centroids) —
    // the strict-< rule sends every one to cell 0
    assert(cents(0).sameElements(Array((1L + 3 - 7) / 3, (1L + 1 + 0) / 3)))
    assert(cents(1).sameElements(Array(2L, 1L))) // empty: keeps previous
    assert(cents(2).sameElements(Array(100L, 100L)))
    // truncation toward zero on a negative mean (Java / == DuckDB //)
    assert(cents(0)(0) == -1L) // (1+3-7)/3 = -3/3 = -1 exactly; (-7+1+3) sums
  }

  test("fixed-point IVF-SQ: recall floor, determinism, refine dominance") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    // same routing as ivfFpTopK (same trained cells, same probe count),
    // so the SAME 0.4 floor must hold: the scalar codes only reorder
    // the shortlist, and the 8k refine window re-ranks exactly
    val recall = recallOf(Similarity.ivfSqFpTopK(q, e, k = 5), annTruth)
    assert(recall >= 0.4, s"fixed-point IVF-SQ recall $recall below 0.4 floor")
    // code-space shortlisting must not fall below the uncompressed fp
    // path by more than the PQ spec's 10% tolerance band: SQ keeps one
    // code per DIMENSION (vs PQ's one code per 16-dim subspace), so its
    // shortlist is strictly finer-grained
    val ivfRecall = recallOf(Similarity.ivfFpTopK(q, e, k = 5), annTruth)
    assert(recall >= 0.9 * ivfRecall,
      s"IVF-SQ recall $recall fell more than 10% below IVF-flat $ivfRecall")
    // determinism: integer arithmetic end to end — bit-identical reruns
    val r1 = Similarity.ivfSqFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    val r2 = Similarity.ivfSqFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("binary quantization: exhaustive-shortlist equality, recall floor, code laws") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    // THE BQ law: when the Hamming shortlist covers the whole corpus
    // (k·refine ≥ |candidates|), the float refine ranks every candidate
    // and BQ must EQUAL exact brute force row for row — the code space
    // only prunes, never reorders the final ranking
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val exhaustive = rows(Similarity.bqFpTopK(q, e, k = 5, refine = 100))
    val brute = rows(Similarity.bruteForceTopK(q, e, k = 5))
    assert(exhaustive == brute && brute.nonEmpty,
      "BQ with a corpus-covering shortlist must equal exact brute force")
    // default-refine recall floor: 5·16 = 80 of 499 candidates (16% of
    // the corpus) — measured 0.79 on this near-uniform corpus; floor at
    // 0.6 as a deterministic regression tripwire
    val recall = recallOf(Similarity.bqFpTopK(q, e, k = 5), annTruth)
    assert(recall >= 0.6, s"BQ recall $recall below 0.6 floor")
    // code laws: hamming is emitted per returned neighbor — always in
    // [0, 64] (64 bits total across the two packed words)
    val hams = Similarity.bqFpTopK(q, e, k = 5)
      .select("ham").as[Long].collect()
    assert(hams.nonEmpty && hams.forall(h => h >= 0L && h <= 64L))
    // determinism: thresholds, codes, and popcounts are integer-exact
    val d1 = rows(Similarity.bqFpTopK(q, e, k = 5))
    val d2 = rows(Similarity.bqFpTopK(q, e, k = 5))
    assert(d1 == d2)
  }

  test("persisted BQ index: served equals inline, code scan prunes raw vectors") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    Similarity.writeBqIndexFp(e, "bq_idx_spec")
    val served = Similarity.bqTopKIndexedFp(q, spark, "bq_idx_spec", k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "ham", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    // the maintenance law: thresholds and codes persisted at build time
    // serve EXACTLY the inline result (the vector_bq_indexed_fp oracle
    // is the inline replay verbatim — this is its spec-side anchor)
    assert(rows(served) == rows(Similarity.bqFpTopK(q, e, k = 5)) &&
      rows(served).nonEmpty)
    // the Hamming shortlist must scan the CODE columns only: at least
    // one index-table scan reads (cand_id, clo, chi) without cv/cn —
    // parquet column pruning is what makes the persisted scan 16
    // bytes/vector, the whole point of the code index
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sparkPlan, not executedPlan: AQE wraps the executed tree and hides
    // the scans from a plain collect (the PlanInvariantsSpec recursion
    // lesson); the pre-adaptive physical plan shows them directly
    val indexScans = served.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "bq_idx_spec") =>
        f.output.map(_.name).toSet
    }
    assert(indexScans.exists(cols =>
        cols("clo") && cols("chi") && !cols("cv") && !cols("cn")),
      s"no column-pruned code scan found; index scans read: $indexScans")
  }

  test("filtered fp-IVF: predicate law, unfiltered equivalence, determinism") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    // predicate law: every returned neighbor satisfies the filter
    val served = Similarity.ivfFpTopKFiltered(q, e, col("label") === 3, k = 5)
    val labels = e.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val pairs = served.select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(pairs.nonEmpty && pairs.forall { case (_, c, _) => labels(c) == 3 })
    // equivalence law: an always-true predicate at the unfiltered probe
    // count IS ivfFpTopK — the filter path adds nothing but the filter
    // (training sample and cell assignment are corpus-wide by design)
    val viaFiltered = Similarity
      .ivfFpTopKFiltered(q, e, lit(true), k = 5, nprobe = 4)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    val plain = Similarity.ivfFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(viaFiltered == plain && plain.nonEmpty)
    // determinism
    val r1 = served.select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val r2 = Similarity.ivfFpTopKFiltered(q, e, col("label") === 3, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(r1 == r2)
  }

  test("hybrid RRF: double-rank-1 dominance, score bounds, determinism") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    val fused = Retrieval.hybridRrf(docs, emb, id => id < 20)
    val rows = fused
      .select("query_id", "cand_id", "rrf_score", "rank")
      .as[(Long, Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    // score bounds: at most 2 lists contribute, best possible rank 1 in
    // both → 2·(10⁹ div 61); worst emitted → present in at least one
    // list at rank ≤ 20 → ≥ 10⁹ div 80
    assert(rows.forall { case (_, _, s, _) =>
      s >= 1000000000L / 80L && s <= 2L * (1000000000L / 61L) })
    // per-query monotonicity: rrf_score non-increasing along rank
    rows.groupBy(_._1).foreach { case (_, g) =>
      val byRank = g.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // double-rank-1 dominance on constructed data: query 901 and copy
    // 902 share a private vocabulary (tokens absent from the corpus)
    // and an identical embedding, so 902 is rank 1 in BOTH lists (the
    // ONLY sparse candidate, in fact) — RRF must fuse it to rank 1
    // with exactly 2·(10⁹ div 61); ranks are unique per list, so no
    // other candidate can reach that score
    val planted = Seq(
      (901L, "zzzalpha zzzbeta zzzgamma", "en", "spec", 25L),
      (902L, "zzzalpha zzzbeta zzzgamma", "en", "spec", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // negated vec-0 embedding: identical between 901 and 902 (cosine
    // exactly 1), but equal to NO corpus vector (vec 0 itself scores −1)
    val emb0 = emb.filter(col("vec_id") === 0)
      .withColumn("embedding",
        transform(col("embedding"), x => -x))
    val plantedEmb = emb0.withColumn("vec_id", lit(901L))
      .unionByName(emb0.withColumn("vec_id", lit(902L)))
    val fused2 = Retrieval.hybridRrf(docs.unionByName(planted),
        emb.unionByName(plantedEmb), id => id === 901L)
      .filter(col("rank") === 1)
      .select("cand_id", "rrf_score").as[(Long, Long)].collect()
    assert(fused2.length == 1 && fused2.head._1 == 902L &&
      fused2.head._2 == 2L * (1000000000L / 61L),
      s"double-rank-1 candidate must fuse to rank 1: ${fused2.mkString(",")}")
    // determinism
    val again = Retrieval.hybridRrf(docs, emb, id => id < 20)
      .select("query_id", "cand_id", "rrf_score", "rank")
      .as[(Long, Long, Long, Int)].collect()
    assert(rows.toSet == again.toSet)
  }

  test("persisted IVF index serves identical results with bucket-pruned scans") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    Similarity.writeIvfIndexFp(e, "ivf_idx_spec")
    val served = Similarity.ivfTopKIndexedFp(q, spark, "ivf_idx_spec", k = 5,
      nprobe = 8)
    // same centroids (same md5-rank sample, same integer Lloyd) -> the
    // served results must equal the inline train-per-query path exactly,
    // here at the nprobe the recall floors use (the fp persisted spec
    // below covers the default 4)
    val inline = Similarity.ivfFpTopK(q, e, k = 5, nprobe = 8)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = served.select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == inline && got.nonEmpty)
    // and the index scan is BUCKET-PRUNED to the probed cells: the scan
    // node reports fewer selected buckets than the table has
    val scan = served.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(scan)
    assert(sel.nonEmpty, s"no bucket pruning in plan:\n${scan.take(1200)}")
    // 20 queries x nprobe=8 of 16 cells probe most cells at this scale,
    // but never all 16 — any pruning proves the IN filter reaches the
    // bucket layout; at serving scale (1 batch, few cells) the fraction
    // is nprobe/nCells
    val (s, t) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
    assert(s < t, s"scan read every bucket ($s of $t)")
  }

  test("IVF delta append: served base+delta ≡ inline same-centroid IVF, zero index-side Exchange") {
    val e = Tables.embeddings(spark, sf0001)
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    val q = e.filter(col("vec_id") < 20)
    Similarity.writeIvfIndexFp(base, "ivf_delta_spec")
    Similarity.appendToIvfIndexFp(spark, "ivf_delta_spec", delta)
    val served = Similarity.ivfTopKIndexedFp(q, spark, "ivf_delta_spec", k = 5)
    // same centroids (the index's, trained on base) over the SAME
    // base+delta corpus (= e): the appended index must serve exactly what
    // an inline computation finds — corpus cells and the 4 probed cells
    // per query recomputed on the driver, scored with the engine's
    // cosine — the only difference allowed is layout
    val cents = Similarity.readCentroidsFp(spark, "ivf_delta_spec")
    val vecs = e.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val cells = vecs.map { case (id, v) => (id, fpCellOrder(cents, v).head) }
      .toSeq.toDF("cand_id", "cell")
    val probes = vecs.filter(_._1 < 20).toSeq.flatMap { case (id, v) =>
      fpCellOrder(cents, v).take(4).map(c => (id, c)) }.toDF("query_id", "cell")
    val cand = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .withColumn("cn", VectorOps.norm(col("cv"))).join(cells, "cand_id")
    val qp = q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", VectorOps.norm(col("qv"))).join(probes, "query_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    val inline = qp.join(cand, "cell").filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = served.select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == inline && got.nonEmpty)
    // delta rows actually serve: at 10% of the corpus some must rank
    assert(got.exists(_._2 % 10 == 0), "no delta vector in any top-k")
    // the index side plans ZERO Exchange: the bucketed scan (base files +
    // appended delta files) feeds the scoring join directly, and the one
    // allowed shuffle is the query-side window — count total Exchanges
    // and locate none under the scan side
    val plan = served.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.nonEmpty, s"no bucket pruning in plan:\n${plan.take(1200)}")
    val scanLines = plan.linesIterator.filter(_.contains("ivf_delta_spec")).toSeq
    assert(scanLines.nonEmpty)
    // the appended table still reads as ONE bucketed scan — an append
    // that broke the bucket spec would surface as a union of scans with
    // an Exchange reinstated before the join
    assert(!plan.contains("Exchange hashpartitioning(cell"),
      s"index side re-shuffled on cell:\n${plan.take(1500)}")
  }

  test("IVF compact: retrain ≡ fresh rebuild exactly, recall floor holds after drift") {
    val e = Tables.embeddings(spark, sf0001)
    val base = e.filter(col("vec_id") % 5 < 3)
    val delta = e.filter(col("vec_id") % 5 >= 3)
    val q = e.filter(col("vec_id") < 20)
    // 40% of the corpus appended against centroids trained on the other
    // 60% — the drift scenario compaction exists for
    Similarity.writeIvfIndexFp(base, "ivf_compact_spec")
    assert(Similarity.ivfDriftFraction(spark, "ivf_compact_spec") == 0.0)
    Similarity.appendToIvfIndexFp(spark, "ivf_compact_spec", delta)
    // the cadence trigger reads exactly |delta|/|base|
    val nBase = base.count().toDouble
    val nDelta = delta.count().toDouble
    assert(Similarity.ivfDriftFraction(spark, "ivf_compact_spec")
      == nDelta / nBase)
    val drifted = recallOf(
      Similarity.ivfTopKIndexedFp(q, spark, "ivf_compact_spec", k = 5,
        nprobe = 8), annTruth)
    Similarity.compactIvfIndexFp(spark, "ivf_compact_spec")
    // compaction resets the drift clock
    assert(Similarity.ivfDriftFraction(spark, "ivf_compact_spec") == 0.0)
    val served = Similarity.ivfTopKIndexedFp(q, spark, "ivf_compact_spec", k = 5,
        nprobe = 8)
    val got = served.select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // the defining property: compaction ≡ training a brand-new index on
    // the current contents (same md5-rank sample over identical ids, same
    // integer Lloyd, same assignment) — exact row identity, not just recall
    Similarity.writeIvfIndexFp(e, "ivf_compact_fresh")
    val fresh = Similarity.ivfTopKIndexedFp(q, spark, "ivf_compact_fresh", k = 5,
        nprobe = 8)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == fresh && got.nonEmpty,
      "compacted index serves differently from a fresh full rebuild")
    // and the compacted index holds the data-adaptive recall floor the
    // inline IVF spec pins (drifted recall is reported for context; on
    // this near-uniform corpus drift hurts little, on clustered corpora
    // it is the whole point)
    val compacted = recallOf(served, annTruth)
    assert(compacted >= 0.7,
      s"compacted recall $compacted below 0.7 floor (drifted was $drifted)")
  }

  test("compactIvfIndexFp preserves non-default index geometry") {
    val e = Tables.embeddings(spark, sf0001)
    Similarity.writeIvfIndexFp(e, "ivf_geom_spec", nCells = 8, buckets = 4)
    Similarity.appendToIvfIndexFp(spark, "ivf_geom_spec",
      e.filter(col("vec_id") < 10).withColumn("vec_id", col("vec_id") + 10000))
    Similarity.compactIvfIndexFp(spark, "ivf_geom_spec")
    // geometry read from the index itself, not defaulted to 16/8
    assert(Similarity.readCentroidsFp(spark, "ivf_geom_spec").length == 8)
    val buckets = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("ivf_geom_spec"))
      .bucketSpec.map(_.numBuckets)
    assert(buckets.contains(4))
    assert(Similarity.ivfDriftFraction(spark, "ivf_geom_spec") == 0.0)
  }

  test("compactIvfIndexFp survives a crash mid-swap: re-run finishes the swap") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    Similarity.writeIvfIndexFp(e, "ivf_crash_spec")
    val before = Similarity.ivfTopKIndexedFp(q, spark, "ivf_crash_spec", k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    // Simulate the worst crash window: the rebuild generation completed
    // in full under __compact_next (its centroids marker written last),
    // then the driver died after dropping BOTH live tables — the state
    // the r9 stage-copy design could not recover from automatically.
    Similarity.writeIvfIndexFp(e, "ivf_crash_spec__compact_next")
    graft.operators.Joins.dropTableAndLocation(spark, "ivf_crash_spec")
    graft.operators.Joins.dropTableAndLocation(spark, "ivf_crash_spec__centroids")
    assert(!spark.catalog.tableExists("ivf_crash_spec"))
    Similarity.compactIvfIndexFp(spark, "ivf_crash_spec")
    // the finished generation was promoted, not rebuilt-from-nothing
    val after = Similarity.ivfTopKIndexedFp(q, spark, "ivf_crash_spec", k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(after == before && after.nonEmpty)
    assert(!spark.catalog.tableExists("ivf_crash_spec__compact_next"))
    assert(!spark.catalog.tableExists("ivf_crash_spec__compact_next__centroids"))
    assert(Similarity.ivfDriftFraction(spark, "ivf_crash_spec") == 0.0)
    // And the mid-REBUILD crash (partial main table, no centroids
    // marker): the live index must stay authoritative — a normal
    // compaction runs, replacing the orphan.
    e.limit(3).select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable("ivf_crash_spec__compact_next")
    Similarity.compactIvfIndexFp(spark, "ivf_crash_spec")
    val rebuilt = Similarity.ivfTopKIndexedFp(q, spark, "ivf_crash_spec", k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(rebuilt == before, "orphan partial rebuild leaked into the index")
    assert(!spark.catalog.tableExists("ivf_crash_spec__compact_next"))
  }

  test("fp persisted IVF: served ≡ inline, delta cells ≡ independent recompute, compact ≡ fresh") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    // (1) served from the persisted fp index ≡ inline ivfFpTopK exactly
    Similarity.writeIvfIndexFp(e, "ivf_fp_idx_spec")
    val served = Similarity.ivfTopKIndexedFp(q, spark, "ivf_fp_idx_spec", k = 5)
    val inline = Similarity.ivfFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = served.select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == inline && got.nonEmpty)
    // ...with a bucket-pruned index scan, like the float index
    val plan = served.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.nonEmpty, s"no bucket pruning in plan:\n${plan.take(1200)}")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt)
    // (2) delta append assigns to the BASE-trained integer centroids:
    // every stored cell (base and delta rows alike) matches an
    // INDEPENDENT driver recompute — quantize, integer L2, strict-<
    // argmin — against the index's own centroid table
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    Similarity.writeIvfIndexFp(base, "ivf_fp_delta_spec")
    Similarity.appendToIvfIndexFp(spark, "ivf_fp_delta_spec", delta)
    val cents = Similarity.readCentroidsFp(spark, "ivf_fp_delta_spec")
    val stored = spark.table("ivf_fp_delta_spec")
      .select(col("cand_id"), col("cell")).as[(Long, Int)].collect().toMap
    val expect = e.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => id -> fpCellOrder(cents, v).head }.toMap
    assert(stored == expect, "stored fp cells drift from the integer argmin")
    assert(stored.keys.exists(_ % 10 == 0), "no delta row reached the index")
    // (3) compact after drift ≡ a fresh full build, exact row identity
    Similarity.writeIvfIndexFp(e.filter(col("vec_id") % 5 < 3), "ivf_fp_cpt_spec")
    Similarity.appendToIvfIndexFp(spark, "ivf_fp_cpt_spec",
      e.filter(col("vec_id") % 5 >= 3))
    Similarity.compactIvfIndexFp(spark, "ivf_fp_cpt_spec")
    assert(Similarity.ivfDriftFraction(spark, "ivf_fp_cpt_spec") == 0.0)
    val compacted = Similarity.ivfTopKIndexedFp(q, spark, "ivf_fp_cpt_spec", k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(compacted == got && compacted.nonEmpty,
      "compacted fp index serves differently from a fresh full build")
  }

  test("ivfIndexStats reconciles with index contents and drift accounting") {
    val e = Tables.embeddings(spark, sf0001)
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    Similarity.writeIvfIndexFp(base, "ivf_stats_spec")
    Similarity.appendToIvfIndexFp(spark, "ivf_stats_spec", delta)
    val rows = Similarity.ivfIndexStats(spark, "ivf_stats_spec")
      .orderBy("cell").collect()
    // reconcile against an independent read of the index itself
    val truth = spark.table("ivf_stats_spec").groupBy(col("cell"))
      .count().as[(Int, Long)].collect().toMap
    assert(rows.map(r => r.getInt(0) -> r.getLong(1)).toMap == truth)
    val total = truth.values.sum
    val (baseN, deltaN) = (base.count(), delta.count())
    rows.foreach { r =>
      assert(r.getLong(2) == total, "total_rows")
      assert(r.getLong(3) == truth.size.toLong, "n_cells")
      assert(r.getLong(4) == truth.values.max, "max_rows")
      assert(r.getLong(5) == truth.values.min, "min_rows")
      assert(r.getLong(6) == r.getLong(1) * 10000 / total, "share_x10000")
      assert(r.getLong(7) == truth.values.max * truth.size * 1000 / total,
        "imbalance_x1000")
      assert(r.getLong(8) == deltaN, "delta_rows = appended count")
    }
    assert(total == baseN + deltaN)
    // trunc shares sum to ≤ 10000 and miss by less than one part per cell
    val shareSum = rows.map(_.getLong(6)).sum
    assert(shareSum <= 10000 && shareSum > 10000 - truth.size)
    // the skew factor is ≥ 1 by construction (max ≥ balanced)
    assert(rows.head.getLong(7) >= 1000)
  }

  test("sqDistortion: exact remainder law against an independent driver encode") {
    val e = Tables.embeddings(spark, sf0001)
    val got = Similarity.sqDistortion(e).as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // independent driver recompute: quantize, corpus min/max, scale,
    // floor-division remainder
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1000000.0).toLong).toArray).toMap
    val dims = vecs.values.head.length
    val lo = (0 until dims).map(d => vecs.values.map(_(d)).min).toArray
    val sc = (0 until dims).map { d =>
      val hi = vecs.values.map(_(d)).max
      (hi - lo(d)) / 255L + 1L
    }.toArray
    val expect = vecs.map { case (id, qv) =>
      val errs = (0 until dims).map { d =>
        val p = qv(d) - lo(d); p - (p / sc(d)) * sc(d)
      }
      id -> (errs.map(x => x * x).sum, errs.max)
    }
    assert(got == expect)
    // the remainder bound: every max_err < the largest per-dim scale,
    // and errors are non-negative (sse = 0 only if every dim aligns)
    assert(got.values.forall { case (sse, me) => sse >= 0 && me >= 0 })
    assert(got.values.map(_._2).max < sc.max)
  }

  test("fp IVF-PQ and fp PCA route: recall floors, determinism, integer laws") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    // fp PQ: the integer ADC shortlist + exact refine holds a useful
    // recall floor on the hardest (near-uniform) corpus, and two
    // constructions are row-identical (no RNG anywhere)
    val pq1 = Similarity.ivfPqFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    val pq2 = Similarity.ivfPqFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pq1 == pq2 && pq1.nonEmpty)
    val rPq = recallOf(Similarity.ivfPqFpTopK(q, e, k = 5), annTruth)
    assert(rPq >= 0.3, s"fp IVF-PQ recall $rPq below 0.3 floor")
    // fp PCA route: deterministic, and the 2-component integer routing
    // with a 50-wide shortlist + exact refine recovers most true
    // neighbors even on this corpus
    val pr1 = Similarity.pcaRouteFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    val pr2 = Similarity.pcaRouteFpTopK(q, e, k = 5)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pr1 == pr2 && pr1.nonEmpty)
    val rPr = recallOf(Similarity.pcaRouteFpTopK(q, e, k = 5), annTruth)
    assert(rPr >= 0.2, s"fp PCA-route recall $rPr below 0.2 floor")
  }

  test("mmrSelectFp: greedy integer MMR law — first pick is max relevance, output deterministic") {
    val e = Tables.embeddings(spark, sf0001)
    val rel = Tables.documents(spark, sf0001)
      .select(col("doc_id").as("vec_id"), col("n_chars"))
    val pool = e.join(rel, "vec_id")
    def run() = Similarity.mmrSelectFp(pool, col("vec_id"), col("embedding"),
      col("n_chars"), k = 10, poolSize = 50)
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val a = run()
    assert(a == run() && a.length == 10)
    // rank 1 = the pool's max-relevance row (maxSim is 0 everywhere at
    // step 1, so the 7/3 weighting reduces to pure relevance, ties by id)
    val top = pool.orderBy(col("n_chars").desc, col("vec_id"))
      .select("vec_id").as[Long].first()
    assert(a.head._2 == top)
    // selections are distinct ids from the pool
    assert(a.map(_._2).distinct.length == 10)
  }

  test("IVF-PQ: exact refine recovers >= 0.9 of raw-vector IVF recall") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 20)
    val rIvf = recallOf(Similarity.ivfFpTopK(q, e, k = 5, nprobe = 8), annTruth)
    val rPq = recallOf(Similarity.ivfPqTopK(q, e, k = 5), annTruth)
    // same 8/16 probe width; the 8x32-code ADC shortlist (refine=8)
    // re-ranked exactly must recover most of what raw vectors find
    // (measured 0.78 vs 0.82 = 0.95)
    assert(rPq >= 0.9 * rIvf, s"IVF-PQ recall $rPq < 0.9 * IVF recall $rIvf")
  }

  test("size-gated CC: driver union-find equals the distributed iteration on random graphs") {
    val rng = new scala.util.Random(13)
    val pairs = Seq.fill(400)((rng.nextInt(150).toLong, rng.nextInt(150).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .toDF("doc_a", "doc_b")
    val dist = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val drv = Dedup.connectedComponentsAuto(pairs, driverGate = 1 << 20)
      .as[(Long, Long)].collect().toMap
    val forced = Dedup.connectedComponentsAuto(pairs, driverGate = 0)
      .as[(Long, Long)].collect().toMap
    assert(drv == dist)     // driver path identical labels
    assert(forced == dist)  // gate=0 falls back to the distributed path
  }

  test("containment catches a subset-duplicate that jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big),
      (3L, "totally different content with other words here")).toDF("doc_id", "text")
    val cont = Dedup.ngramContainment(docs, col("doc_id"), col("text"), 3, 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cont == Set((1L, 2L)), s"containment pairs: $cont")
    // jaccard at even a loose 0.5 threshold misses the subset pair
    val jac = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("sparse cosine sees multiplicity that set-jaccard misses") {
    // B is A's passage verbatim twice: distinct-shingle Jaccard treats the
    // repeat as nothing (J = 1/4 with the two bridge grams), while the
    // tf-weighted cosine scores the parallel component: dot = 1·2, na = 1,
    // nb = 2² + 1 + 1 = 6 → cos = 2/√6 ≈ 0.816.
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b c a b c"),
      (3L, "x y z w entirely other words")).toDF("doc_id", "text")
    val out = Dedup.sparseCosine(docs, col("doc_id"), col("text"),
        n = 3, maxDfFrac = 1, threshold = 0.5)
      .select("doc_a", "doc_b", "dot", "na", "nb", "cosine")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    val (_, _, dot, na, nb, cos) = out.head
    assert(dot == 2L && na == 1L && nb == 6L)
    assert(math.abs(cos - 2.0 / math.sqrt(6.0)) < 1e-15)
    val jac = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("sparse cosine stop-gram pruning drops ubiquitous grams") {
    // Every doc shares the same 3-gram; tails are disjoint. At
    // maxDfFrac=2 (keep df ≤ n/2) the shared gram (df=4) is pruned and no
    // pair survives; at maxDfFrac=1 (keep everything) all 6 pairs appear.
    val docs = (1L to 4L).map(i =>
      (i, s"common shared gram tail$i unique$i only$i")).toDF("doc_id", "text")
    def pairs(frac: Int) =
      Dedup.sparseCosine(docs, col("doc_id"), col("text"),
          n = 3, maxDfFrac = frac, threshold = 0.01)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs(2).isEmpty)
    assert(pairs(1).size == 6)
  }

  test("substringSpans finds a planted shared paragraph doc-level jaccard misses") {
    val shared = (1 to 12).map(i => s"shared$i").mkString(" ")
    val d1 = ((1 to 40).map(i => s"alpha$i") ++ Seq(shared) ++
      (41 to 60).map(i => s"alpha$i")).mkString(" ")
    val d2 = ((1 to 25).map(i => s"beta$i") ++ Seq(shared) ++
      (26 to 50).map(i => s"beta$i")).mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, col("doc_id"), col("text"),
        n = 3, minTokens = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // the 12-token paragraph starts at token 40 of doc 1, token 25 of doc 2
    assert(spans == Seq((1L, 2L, 40L, 25L, 12L)))
    // …while doc-level set similarity scores it far below any dedup
    // threshold (the modality gap this operator exists to close)
    val j = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.5)
    assert(j.isEmpty)
  }

  test("substringScrub cuts the duplicated span from the higher-id doc only") {
    val shared = (1 to 12).map(i => s"shared$i").mkString(" ")
    val d1 = ((1 to 20).map(i => s"alpha$i") ++ Seq(shared)).mkString(" ")
    val d2 = (Seq(shared) ++ (1 to 20).map(i => s"beta$i")).mkString(" ")
    val d3 = (1 to 15).map(i => s"gamma$i").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = Dedup.substringScrub(docs, col("doc_id"), col("text"),
        n = 3, minTokens = 10)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    // doc 1 (lower id) keeps everything; doc 2 loses exactly the 12
    // shared tokens from the front; doc 3 untouched
    assert(out(0) == (1L, 32L, 32L, d1))
    assert(out(1) == (2L, 32L, 20L, (1 to 20).map(i => s"beta$i").mkString(" ")))
    assert(out(2) == (3L, 15L, 15L, d3))
  }

  test("substringScrub restores a fully-covered doc as an empty rewrite") {
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, ((1 to 10).map(i => s"a$i") :+ shared).mkString(" ")),
      (2L, shared)).toDF("doc_id", "text")
    val out = Dedup.substringScrub(docs, col("doc_id"), col("text"),
        n = 3, minTokens = 10)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out(1) == (2L, 12L, 0L, ""))
  }

  test("substringSpans enforces the minTokens boundary exactly") {
    def corpus(k: Int) = {
      val shared = (1 to k).map(i => s"s$i").mkString(" ")
      Seq((1L, s"${(1 to 20).map(i => s"a$i").mkString(" ")} $shared"),
        (2L, s"$shared ${(1 to 20).map(i => s"b$i").mkString(" ")}"))
        .toDF("doc_id", "text")
    }
    def spans(k: Int) =
      Dedup.substringSpans(corpus(k), col("doc_id"), col("text"),
        n = 3, minTokens = 10).as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(spans(9).isEmpty)                       // 9 shared tokens: below
    assert(spans(10) == Seq((1L, 2L, 20L, 0L, 10L))) // exactly at the bound
  }

  test("semanticDedup drops within-cell near-dups, keeps each group's min id") {
    // two tight clusters along axes 0 and 1 plus an isolated vector on
    // axis 2 (within-cluster cosine ≈ 1, cross-cluster ≈ 0). Ids chosen so
    // the md5 medoid ranking seeds exactly one vector per cluster
    // (seeds = 1, 34, 52 for salt "graft-seed"), keeping the fixture
    // independent of tie-breaking between same-cluster seeds.
    def v(axis: Int, wobble: Float): Array[Float] = {
      val a = Array.fill(4)(0.01f); a(axis) = 1.0f; a(3) = wobble; a
    }
    val vecs = Seq(
      (1L, v(0, 0.02f)), (2L, v(0, 0.03f)), (3L, v(0, 0.01f)),
      (30L, v(1, 0.02f)), (34L, v(1, 0.04f)),
      (52L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, col("vec_id"), col("embedding"),
        threshold = 0.9, nCells = 3)
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 30L, 34L, 52L))
    val dup = out.filter(_._3).map(_._1).toSet
    // each cluster keeps exactly its min id; the isolated vector survives
    assert(dup == Set(2L, 3L, 34L))
    // vectors of one cluster share a cell
    val cellOf = out.map(t => t._1 -> t._2).toMap
    assert(cellOf(1L) == cellOf(2L) && cellOf(2L) == cellOf(3L))
    assert(cellOf(30L) == cellOf(34L))
  }

  test("semanticDedup broadcast-seeds path equals the literal-expression path") {
    val e = Tables.embeddings(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Boolean)].collect().toSet
    val prod = rows(Dedup.semanticDedup(e, col("vec_id"), col("embedding"),
      threshold = 0.4, nCells = 8))
    val lit8 = rows(Dedup.semanticDedupLiteral(e, col("vec_id"), col("embedding"),
      threshold = 0.4, nCells = 8))
    assert(prod == lit8)
    assert(prod.size == 500)
  }

  test("semanticDedup at nCells=256: constant expression count, broadcast seeds") {
    // fresh plans: an earlier test's memoized cells frame would swap an
    // InMemoryRelation into one side of the expression count
    Dedup.releaseCaches()
    val e = Tables.embeddings(spark, sf0001)
    def q(n: Int) = Dedup.semanticDedup(e, col("vec_id"), col("embedding"),
      threshold = 0.4, nCells = n)
    // the plan must not grow per-seed expression trees: the cosine chain
    // appears a fixed number of times whether there are 8 seeds or 256
    def dotCount(df: org.apache.spark.sql.DataFrame) =
      "(?i)floatvecdot".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    val c8 = dotCount(q(8))
    val c256 = dotCount(q(256))
    assert(c8 > 0 && c256 == c8,
      s"per-seed expression growth: $c8 dots at nCells=8, $c256 at nCells=256")
    // the seeds side is shipped as a broadcast, and nCells=256 actually runs
    val plan = q(256).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    val out = q(256).as[(Long, Long, Boolean)].collect()
    assert(out.length == 500)
    assert(out.map(_._2).distinct.length > 64) // real spread over the cells
  }

  test("incremental dedup vs a bucketed index equals the full-corpus pairs") {
    val docs = Tables.documents(spark, sf0001)
    val index = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    Dedup.writeSignatureIndex(index, col("doc_id"), col("text"), "sig_idx_spec")
    val inc = Dedup.incrementalDedup(spark, "sig_idx_spec", delta,
      col("doc_id"), col("text"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val incPairs = pairs(inc)
    val idxOnly = pairs(Dedup.minhashDedup(index, col("doc_id"), col("text")))
    val full = pairs(Dedup.minhashDedup(docs, col("doc_id"), col("text")))
    // delta-involving pairs + index-internal pairs partition the full set
    assert(incPairs.nonEmpty && (incPairs ++ idxOnly) == full)
    assert((incPairs intersect idxOnly).isEmpty)

    // the index side never shuffles: no ShuffleExchange has the index
    // table's scan anywhere below it (candidates/delta may shuffle — they
    // are ingest-batch-sized; the 100 TB side must not)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def overIndexScan(p: SparkPlan): Boolean = p.collectLeaves().exists {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table == "sig_idx_spec")
      case _ => false
    }
    val offenders = inc.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if overIndexScan(e) => e
    }
    assert(offenders.isEmpty,
      s"index side shuffled:\n${offenders.map(_.toString.take(300)).mkString}")
  }

  test("incremental rounds with index appends reconstruct the full pair set") {
    val docs = Tables.documents(spark, sf0001)
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 === 1)
    val c = docs.filter(col("doc_id") % 3 === 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    Dedup.writeSignatureIndex(a, col("doc_id"), col("text"), "sig_idx_rounds")
    val r1 = pairs(Dedup.incrementalDedup(spark, "sig_idx_rounds", b,
      col("doc_id"), col("text")))
    Dedup.appendToSignatureIndex(b, col("doc_id"), col("text"), "sig_idx_rounds")
    val r2 = pairs(Dedup.incrementalDedup(spark, "sig_idx_rounds", c,
      col("doc_id"), col("text")))
    val base = pairs(Dedup.minhashDedup(a, col("doc_id"), col("text")))
    val full = pairs(Dedup.minhashDedup(docs, col("doc_id"), col("text")))
    // batch-0 internal + round-1 (b vs a + intra-b) + round-2 (c vs a∪b
    // + intra-c) partition the full-corpus pair set
    assert((base ++ r1 ++ r2) == full)
    assert((base & r1).isEmpty && (base & r2).isEmpty && (r1 & r2).isEmpty)
  }

  test("index writers enforce one k per table: mismatched append refuses") {
    val docs = Tables.documents(spark, sf0001)
    Dedup.writeSignatureIndex(docs.limit(50), col("doc_id"), col("text"),
      "sig_idx_kguard")
    // a k=32 append would interleave shorter sig arrays that every band
    // computation silently mis-hashes (nulls skipped by xxhash64) — the
    // write site is where the invariant must hold
    val err = intercept[IllegalArgumentException] {
      Dedup.appendToSignatureIndex(docs.limit(10), col("doc_id"), col("text"),
        "sig_idx_kguard", k = 32)
    }
    assert(err.getMessage.contains("signatures of length 64"))
    val sameK = Dedup.incrementalDedup(spark, "sig_idx_kguard",
      docs.filter(col("doc_id") % 50 === 0), col("doc_id"), col("text"))
    assert(sameK.columns.nonEmpty) // matching k still constructs fine
    val err2 = intercept[IllegalArgumentException] {
      Dedup.incrementalDedup(spark, "sig_idx_kguard",
        docs.limit(10), col("doc_id"), col("text"), k = 32)
    }
    assert(err2.getMessage.contains("signatures of length 64"))
    // same-k but different shingle width: same-length signatures over a
    // different shingle universe are incomparable — must refuse too
    val errN = intercept[IllegalArgumentException] {
      Dedup.appendToSignatureIndex(docs.limit(10), col("doc_id"), col("text"),
        "sig_idx_kguard", n = 5)
    }
    assert(errN.getMessage.contains("shingle width 3"))
    // and a first append on a NONEXISTENT table must still create it
    // (the guard probes nothing when there is nothing to probe)
    spark.sql("DROP TABLE IF EXISTS sig_idx_bootstrap")
    Dedup.appendToSignatureIndex(docs.limit(10), col("doc_id"), col("text"),
      "sig_idx_bootstrap")
    assert(spark.table("sig_idx_bootstrap").count() == 10)
  }

  test("signature index survives session recreation: fresh catalog state, still zero Exchange") {
    // The cross-run story appendToSignatureIndex claims: the bucketed
    // layout lives in the EXTERNAL catalog (what a cluster restart keeps),
    // not in any session state. A brand-new SparkSession — fresh session
    // catalog, no temp views, no cached plans, nothing remembered from
    // the writing session — must re-resolve the table from the metastore
    // alone and still plan the index side with zero Exchange.
    val docs = Tables.documents(spark, sf0001)
    val index = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    Dedup.writeSignatureIndex(index, col("doc_id"), col("text"), "sig_idx_xjvm")
    val fresh = spark.newSession()
    assert(fresh.catalog.tableExists("sig_idx_xjvm"),
      "bucketed index not visible from a fresh session's catalog")
    val inc = Dedup.incrementalDedup(fresh, "sig_idx_xjvm", delta,
      col("doc_id"), col("text"))
    // same result as computing against the writing session
    val viaOld = Dedup.incrementalDedup(spark, "sig_idx_xjvm", delta,
      col("doc_id"), col("text"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val viaNew = inc.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(viaNew == viaOld && viaNew.nonEmpty)
    // and the fresh session's plan keeps the index side Exchange-free
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def overIndexScan(p: SparkPlan): Boolean = p.collectLeaves().exists {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table == "sig_idx_xjvm")
      case _ => false
    }
    val offenders = inc.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if overIndexScan(e) => e
    }
    assert(offenders.isEmpty,
      s"fresh-session index side shuffled:\n${offenders.map(_.toString.take(300)).mkString}")
  }

  test("composed dedup calls share persisted stages; gates measure once") {
    Dedup.releaseCaches()
    val docs = Tables.documents(spark, sf0001)
    val g0 = Dedup.gateMeasurements
    Dedup.ngramJaccardAuto(docs, col("doc_id"), col("text"), 3, 0.5).count()
    val persisted1 = spark.sparkContext.getPersistentRDDs.size
    val g1 = Dedup.gateMeasurements
    assert(g1 == g0 + 1)
    // second construction: no new persisted copy, no second planning job
    Dedup.ngramJaccardAuto(docs, col("doc_id"), col("text"), 3, 0.5).count()
    assert(spark.sparkContext.getPersistentRDDs.size == persisted1)
    assert(Dedup.gateMeasurements == g1)
    // a DIFFERENT operator over the same input reuses the same shingle set
    Dedup.ngramJaccard(docs, col("doc_id"), col("text"), 3, 0.5).count()
    assert(spark.sparkContext.getPersistentRDDs.size == persisted1)
    // release drops what this family persisted
    Dedup.releaseCaches()
    assert(spark.sparkContext.getPersistentRDDs.size < persisted1)
  }

  test("chunking covers every token with the declared overlap; pack conserves tokens") {
    import graft.operators.Chunking
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (2L, (1 to 64).map(i => s"u$i").mkString(" ")),  // exactly one window
      (3L, "just three tokens")).toDF("doc_id", "text")
    val ch = Chunking.chunks(docs, col("doc_id"), col("text"), size = 64, stride = 48)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // doc 1: starts 0, 48, 96 -> lengths 64, 52, 4; doc 2: one full
    // window + the stride-48 tail; doc 3: one short chunk
    assert(ch.filter(_._1 == 1L).map(c => (c._3, c._4)) ==
      Seq((0L, 64L), (48L, 52L), (96L, 4L)))
    assert(ch.filter(_._1 == 2L).map(c => (c._3, c._4)) == Seq((0L, 64L), (48L, 16L)))
    assert(ch.filter(_._1 == 3L).map(_._5) == Seq("just three tokens"))
    // every consecutive chunk pair overlaps by size - stride tokens
    val c1 = ch.filter(_._1 == 1L).sortBy(_._2)
    assert(c1.sliding(2).forall { case Seq(a, b) => b._3 - a._3 == 48L })

    val pk = Chunking.pack(docs, col("doc_id"), col("text"), seqLen = 40)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // token conservation: sequences partition the 167-token stream
    assert(pk.map(_._2).sum == 167L)
    assert(pk.init.forall(_._2 == 40L) && pk.last._2 == 167L % 40)
    // every sequence's contributors are a contiguous doc range
    assert(pk.forall(s => s._4 <= s._5))
    // doc 2 starts at offset 100 -> first appears in seq 100/40 = 2
    assert(pk.filter(_._1 == 2L).head._5 >= 2L)
  }

  test("two-phase pack equals the global-window reference; no global window over doc rows") {
    import graft.operators.Chunking
    val docs = Tables.documents(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long)].collect().toSet
    val twoPhase = rows(Chunking.pack(docs, col("doc_id"), col("text"), seqLen = 256))
    val reference = rows(
      Chunking.packViaGlobalWindow(docs, col("doc_id"), col("text"), seqLen = 256))
    assert(twoPhase == reference)
    assert(twoPhase.nonEmpty)
    // plan shape: any partition-less (single-task) Window must sit above
    // an aggregate — the O(P) partition-totals prefix — never directly
    // over the per-document rows
    val plan = Chunking.pack(docs, col("doc_id"), col("text"), seqLen = 256)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val globalWindows = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(globalWindows.nonEmpty, "expected the O(P) partition-totals window")
    globalWindows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"single-task window directly over row stream:\n${w.simpleString(5)}")
    }
    // and a partitioned window does the per-row work
    assert(plan.collect { case w: LWindow if w.partitionSpec.nonEmpty => w }.nonEmpty)
  }

  test("packed shards: written sequences join the manifest 1:1 and conserve tokens") {
    import graft.operators.Chunking
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("packed-shards").toString
    Chunking.writePackedShards(docs, col("doc_id"), col("text"),
      seqLen = 256, path = dir)
    val shards = spark.read.parquet(dir)
    val manifest = Chunking.pack(docs, col("doc_id"), col("text"), seqLen = 256)
    // 1:1 on seq_id, token counts agree, and each written text really
    // holds n_tokens whitespace tokens (conservation down to the artifact)
    val joined = manifest.as("m")
      .join(shards.as("s"), col("m.seq_id") === col("s.seq_id"), "full")
      .select(col("m.seq_id"), col("s.seq_id"),
        col("m.n_tokens"), col("s.n_tokens"),
        size(split(col("s.text_seq"), " ")).cast("long").as("counted"))
      .collect()
    assert(joined.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    assert(joined.forall(r => r.getLong(2) == r.getLong(3) &&
      r.getLong(2) == r.getLong(4)))
    // total tokens across shards == total tokens across documents
    val totalDocs = docs.select(sum(size(split(col("text"), " "))).cast("long"))
      .head.getLong(0)
    assert(joined.map(_.getLong(2)).sum == totalDocs)
    // every full sequence is exactly seqLen; only the tail may be short
    val byId = joined.map(r => r.getLong(0) -> r.getLong(2)).sortBy(_._1)
    assert(byId.init.forall(_._2 == 256L))
  }

  test("contamination reports only train docs overlapping the bench set") {
    val bench = Seq((100L, "secret eval question one two three")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "secret eval question plus more words here"),   // shares shingles
      (2L, "benign training text with no overlap at all")) // clean
      .toDF("doc_id", "text")
    val out = Dedup.contamination(train, bench, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSet == Set(1L))
    val (_, shared, total, frac) = out.head
    // "secret eval question" = the one shared 3-gram of doc 1's 5
    assert(shared == 1L && total == 5L && frac == 0.2)
  }

  test("shingle stream plan: no inferred filter re-tokenizes at the scan") {
    // Regression guard for the InferFiltersFromGenerate + pushdown trap:
    // exploding a PROJECTED shingle array lets the optimizer push a
    // size()>0 filter to the scan with the whole token transform inlined
    // into the lambda's per-element indexing — O(len²) per document.
    val docs = Tables.documents(spark, sf0001)
    val plan = Dedup.hashedShingleSet(docs, col("doc_id"), col("text"), 3)
      .queryExecution.optimizedPlan
    val bad = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.toString.contains("split(") => f
    }
    assert(bad.isEmpty,
      "predicate pushdown inlined the shingle transform into a Filter")
  }

  test("bloom prefilter raises the runtime clamp confs past the defaults when needed") {
    val docs = Tables.documents(spark, sf0001)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    // bitsPerKey chosen so nBench*bitsPerKey exceeds the 67M default
    // maxNumBits: without the conf raise, BloomFilterAggregate silently
    // clamps and the filter saturates in the large-bench regime
    Dedup.contaminationBloom(train, bench, col("doc_id"), col("text"),
      n = 3, bitsPerKey = 1 << 16).count()
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    assert(maxBits > 67108864L,
      s"clamp conf not raised: maxNumBits=$maxBits")
    // ...but never past the broadcast-size ceiling: the raise must not
    // let a huge bench build a GB-scale filter
    assert(maxBits <= Dedup.BloomMaxBits,
      s"clamp conf raised past the ${Dedup.BloomMaxBits} cap: $maxBits")
  }

  test("bloom-prefiltered contamination is bitwise-equal to the broadcast form") {
    val docs = Tables.documents(spark, sf0001)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSet
    val exact = rows(Dedup.contamination(train, bench, col("doc_id"), col("text"), 3))
    val bloomDf = Dedup.contaminationBloom(train, bench, col("doc_id"), col("text"), 3)
    assert(rows(bloomDf) == exact)
    assert(exact.nonEmpty)
    // the Bloom prefilter is really in the plan (scalar-subquery
    // might_contain over bloom_filter_agg), not optimized away
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
  }

  test("minhash pair stage is persisted once and dropped by one releaseCaches") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Dedup.releaseCaches()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def newIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    // two concurrent first calls build the stage once, and its per-doc
    // signature stage is released after the build
    Await.result(Future.sequence(Seq.fill(2)(Future(
      SparkEntry.queries("dedup_minhash")(spark, sf0001)))), 5.minutes)
    val pairIds = newIds
    assert(pairIds.size == 1, s"pair stage persisted as RDDs $pairIds")
    SparkEntry.queries("dedup_clusters")(spark, sf0001).collect()
    assert(pairIds.subsetOf(newIds), "dedup_clusters rebuilt the pair stage")
    // ids, not sizes: an unrelated persisted RDD may be GC'd meanwhile
    Dedup.releaseCaches()
    assert(newIds.isEmpty, s"persistent RDDs left after releaseCaches: $newIds")
  }

  test("split leakage is exactly the minhash pairs crossing the split") {
    import graft.queries.LlmOps
    val pairs = LlmOps.dedupMinhash(spark, sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty, "planted near-dup cluster missing at sf0.001")
    val split = LlmOps.corpusSplit(spark, sf0001)
      .as[(Long, String)].collect().toMap
    val want = pairs.filter { case (a, b) => split(a) != split(b) }
    val got = LlmOps.splitLeakage(spark, sf0001)
      .as[(Long, Long, Long, Long, Long, Double, String, String)]
      .collect()
    assert(got.map(r => (r._1, r._2)).toSet == want,
      s"leakage set ${got.map(r => (r._1, r._2)).toSet} != expected $want")
    got.foreach { r =>
      assert(r._7 == split(r._1) && r._8 == split(r._2) && r._7 != r._8,
        s"row $r carries wrong split labels") }
    graft.operators.Dedup.releaseCaches()
  }

  test("mmrSelect: diversity beats pure relevance; deterministic across partitionings") {
    import graft.operators.Similarity
    // two near-identical high-relevance vectors + an orthogonal
    // mid-relevance one: top-2-by-relevance takes both twins, MMR must
    // take one twin then the orthogonal vector
    val fixture = Seq(
      (1L, Seq(1.0f, 0.0f, 0.01f), 100L),
      (2L, Seq(1.0f, 0.0f, 0.0f), 99L),
      (3L, Seq(0.0f, 1.0f, 0.0f), 50L),
      (4L, Seq(0.9f, 0.1f, 0.0f), 10L))
      .toDF("id", "v", "rel")
    val picked = Similarity.mmrSelect(fixture, col("id"), col("v"),
        col("rel"), k = 2, poolSize = 4, lambda = 0.5)
      .orderBy("rank").as[(Long, Long)].collect().map(_._2).toSeq
    assert(picked == Seq(1L, 3L), s"got $picked")

    // real corpus: MMR's average pairwise cosine must undercut the
    // top-k-by-relevance baseline's, and the selection must not depend
    // on physical partitioning
    val e = Tables.embeddings(spark, sf0001)
    val rel = Tables.documents(spark, sf0001)
      .select(col("doc_id").as("vec_id"), col("n_chars"))
    val cands = e.join(rel, "vec_id")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.mmrSelect(df, col("vec_id"), col("embedding"),
        col("n_chars"), k = 20, poolSize = 100)
        .orderBy("rank").as[(Long, Long)].collect().toSeq
    val a = run(cands.repartition(13))
    val b = run(cands.coalesce(1))
    assert(a == b, "selection depends on partitioning")

    val vecs = cands.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (i, v) =>
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        i -> v.map(_ / n).toArray
      }.toMap
    def avgPairCos(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.length)
        yield vecs(ids(i)).zip(vecs(ids(j))).map(p => p._1 * p._2).sum
      ps.sum / ps.length
    }
    val baseline = cands.orderBy(col("n_chars").desc, col("vec_id"))
      .limit(20).select("vec_id").as[Long].collect().toSeq
    assert(avgPairCos(a.map(_._2)) < avgPairCos(baseline),
      "MMR should be more diverse than top-k by relevance")
  }
}
