package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance-weighted data selection (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * arXiv:2302.03169): score every raw document by how target-like its
  * token distribution is, then keep the top of the ranking — the
  * standard recipe for skimming a web crawl toward a high-quality
  * target domain before training.
  *
  * DSIR proper scores log w(x) = Σ_f c_f(x)·(log p_target[f] − log
  * p_raw[f]) over hashed n-gram features. This operator keeps the exact
  * same plumbing (per-token corpus counts under both distributions,
  * optionally hashed into B buckets) but scores the LOG-FREE surrogate
  *
  *   score(x) = Σ_tok c_target[tok] / Σ_tok c_raw[tok]
  *
  * — the ratio of the document's average target-corpus token frequency
  * to its average raw-corpus token frequency. Same signal (documents
  * whose mass sits where the target distribution has mass score high),
  * but the only floating-point step is ONE division of two int64 sums,
  * which both engines round identically — the same "log is deliberately
  * never computed" discipline as [[graft.queries.LlmOps.lmUnigram]]'s
  * perplexity surrogate (`ln` is not required to round identically
  * across libms, so a log-form score could never be hash-checked).
  *
  * Scale shape (the lmUnigram plan): one explode to token rows, ONE
  * aggregate computing both distributions' counts (c_raw = count,
  * c_tgt = count where is_target — the target is a subset of the
  * corpus, so its counts ride the same shuffle), broadcast the
  * frequency table back (vocabulary obeys Heaps' law; hashing into B
  * buckets caps it outright), one per-doc aggregate. Selection is
  * `orderBy.limit` — Spark plans TakeOrderedAndProject: each map task
  * keeps its local top-k, the driver merges k-sized heaps; no global
  * sort, no single-task window. */
object Dsir {

  /** The feature stream DSIR scores over: unigram tokens, optionally
    * unioned with word bigrams (the paper's actual feature space —
    * bigrams catch phrase-level domain signal unigrams blur). Bigrams
    * ride the codegen'd [[TextOps.shingles]] kernel; tokens cannot
    * contain spaces, so the two feature kinds can never collide as
    * strings. */
  private def featureArray(text: Column, bigrams: Boolean): Column =
    if (bigrams) concat(TextOps.tokens(text), TextOps.shingles(text, 2))
    else TextOps.tokens(text)

  /** Per-document importance scores: (doc_id, n_tokens, sum_ct, sum_cr,
    * score). `isTarget` marks the rows whose token distribution defines
    * the target domain (a subset of `docs` — DSIR's raw+target corpora
    * collapse into one scan here). `hashBuckets = Some(b)` switches
    * features from raw strings to `xxhash64(feature) mod b` buckets —
    * DSIR's actual memory bound, trading collisions for a fixed-width
    * frequency table; None keeps exact strings (oracle-comparable).
    * `bigrams = true` adds word-bigram features (n_tokens then counts
    * features, tokens + bigrams — the denominators on both sides of the
    * score shift identically, so scores stay comparable across docs). */
  def importanceScores(docs: DataFrame, id: Column, text: Column,
      isTarget: Column, hashBuckets: Option[Int] = None,
      bigrams: Boolean = false): DataFrame = {
    hashBuckets.foreach(b =>
      require(b > 0, s"hashBuckets must be positive (got $b)"))
    val toks = docs
      .select(id.as("doc_id"), isTarget.as("is_t"),
        explode(featureArray(text, bigrams)).as("tok"))
      .withColumn("feat", hashBuckets match {
        case Some(b) => pmod(xxhash64(col("tok")), lit(b.toLong))
        case None => col("tok")
      })
    val freq = toks.groupBy(col("feat")).agg(
      count(lit(1)).as("c_raw"),
      count(when(col("is_t"), 1)).as("c_tgt"))
    toks.join(broadcast(freq), "feat")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("c_tgt")).as("sum_ct"),
        sum(col("c_raw")).as("sum_cr"))
      .withColumn("score",
        col("sum_ct").cast("double") / col("sum_cr").cast("double"))
  }

  /** The top `kDocs` documents of a scored frame in (score DESC, doc_id)
    * order — ties broken by the unique id, so the kept set is a pure
    * function of the corpus. Plans as TakeOrderedAndProject (map-side
    * partial top-k), never a global sort or single-task rank window. */
  def selectTopK(scored: DataFrame, kDocs: Int): DataFrame = {
    require(kDocs > 0, s"kDocs must be positive (got $kDocs)")
    scored.orderBy(col("score").desc, col("doc_id")).limit(kDocs)
  }

  /** The paper's ACTUAL importance weight, for callers that want it:
    * log w(x) = Σ_f c_f(x) · (ln p̂_t[f] − ln p̂_r[f]) with add-one
    * smoothed ML estimates p̂[f] = (c[f]+1)/(N+V) over the corpus's own
    * unhashed unigram features (V = distinct features, so unseen-in-target
    * features still get mass). Same plan as [[importanceScores]] — one dual-count
    * vocabulary aggregate, broadcast join-back, per-doc sum — plus a
    * 1-row broadcast of the two normalizer constants. This column is the
    * one place the engine computes `ln`, which is exactly why it is NOT
    * oracle-hash-checked (libm rounding is not required to agree across
    * engines — the repo-wide rule); the registered `dsir_weights` query
    * is rows-only by contract, and DsirSpec property-tests the values
    * against an independent driver-side fold instead. The ranking it
    * induces is what [[selectTopK]] consumes; the surrogate
    * [[importanceScores]] ranking stays the hash-checked twin. */
  def logWeights(docs: DataFrame, id: Column, text: Column,
      isTarget: Column): DataFrame = {
    val toks = docs
      .select(id.as("doc_id"), isTarget.as("is_t"),
        explode(featureArray(text, bigrams = false)).as("tok"))
      .withColumn("feat", col("tok"))
    val freq = toks.groupBy(col("feat")).agg(
      count(lit(1)).as("c_raw"),
      count(when(col("is_t"), 1)).as("c_tgt"))
    // normalizers: N_t / N_r token masses and V distinct features — one
    // tiny aggregate broadcast to every row
    val norms = freq.agg(
      sum(col("c_tgt")).as("n_t"), sum(col("c_raw")).as("n_r"),
      count(lit(1)).as("v"))
    toks.join(broadcast(freq), "feat")
      .crossJoin(broadcast(norms))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(
          log((col("c_tgt") + 1).cast("double") /
              (col("n_t") + col("v")).cast("double")) -
          log((col("c_raw") + 1).cast("double") /
              (col("n_r") + col("v")).cast("double"))).as("log_w"))
  }

  // ------------------------------------------------- train-batch / serve

  /** Driver-side cap on the dense frequency literals: 2²⁰ buckets ×
    * 2 longs = 16 MB of literal, the same order as a broadcast budget. */
  val maxServeBuckets: Int = 1 << 20

  /** Batch half of the serve split: the hashed bucket-frequency tables
    * as two dense arrays indexed by bucket (c_tgt, c_raw) — the
    * fixed-width distribution summary DSIR actually ships (hashing
    * exists precisely so this is O(b), not O(vocabulary)). Bounded
    * collect by construction: ≤ `b` rows, b ≤ [[maxServeBuckets]]. */
  def hashedFreq(docs: DataFrame, id: Column, text: Column,
      isTarget: Column, b: Int, bigrams: Boolean = false)
      : (Seq[Long], Seq[Long]) = {
    require(b > 0 && b <= maxServeBuckets,
      s"serve buckets must be in [1, $maxServeBuckets] (got $b)")
    val rows = docs
      .select(isTarget.as("is_t"),
        explode(featureArray(text, bigrams)).as("tok"))
      .groupBy(pmod(xxhash64(col("tok")), lit(b.toLong)).as("feat"))
      .agg(count(lit(1)).as("c_raw"), count(when(col("is_t"), 1)).as("c_tgt"))
      .collect()
    val ct = new Array[Long](b)
    val cr = new Array[Long](b)
    rows.foreach { r =>
      val f = r.getLong(0).toInt
      cr(f) = r.getLong(1); ct(f) = r.getLong(2)
    }
    (ct.toSeq, cr.toSeq)
  }

  /** Serving half: score docs against already-collected bucket
    * frequencies — a pure per-row projection (the two tables travel as
    * dense array literals; `element_at` on an array literal is an O(1)
    * ordinal access, where a map literal scans linearly — the
    * [[Classifier]] lesson), so it runs unchanged on a streaming
    * DataFrame in append mode with no state store
    * ([[graft.streaming.StreamingDownsample.dsirScoreStream]]). With
    * `bigrams` matching the [[hashedFreq]] call (the caller's contract —
    * a mismatch scores against the wrong feature space), scores are
    * identical to `importanceScores(hashBuckets = Some(b))` on the same
    * corpus (spec-asserted): sums of the same int64 counts in a
    * different order, then the same single division. */
  def scoreWithFreq(docs: DataFrame, id: Column, text: Column,
      cTgt: Seq[Long], cRaw: Seq[Long], bigrams: Boolean = false)
      : DataFrame = {
    require(cTgt.size == cRaw.size && cTgt.nonEmpty,
      s"frequency tables must be same-size and non-empty " +
        s"(got ${cTgt.size}, ${cRaw.size})")
    val b = cTgt.size
    val tLit = typedLit(cTgt)
    val rLit = typedLit(cRaw)
    docs
      .select(id.as("doc_id"), featureArray(text, bigrams).as("__w"))
      .select(col("doc_id"),
        transform(col("__w"),
          t => pmod(xxhash64(t), lit(b.toLong)) + 1L).as("__f"))
      .select(col("doc_id"),
        size(col("__f")).cast("long").as("n_tokens"),
        aggregate(col("__f"), lit(0L),
          (acc, f) => acc + element_at(tLit, f.cast("int"))).as("sum_ct"),
        aggregate(col("__f"), lit(0L),
          (acc, f) => acc + element_at(rLit, f.cast("int"))).as("sum_cr"))
      .withColumn("score",
        col("sum_ct").cast("double") / col("sum_cr").cast("double"))
  }
}
