package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Deduplication operators for large-scale training-data pipelines: exact
  * (content-hash groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard,
  * and embedding-cosine near-dup. Everything is expressed as shuffles on
  * *derived keys* (hash, band, shingle) rather than pairwise comparison,
  * which is what makes the operators viable at 100 TB: candidate
  * generation is an equi-join on band/shingle keys (hash-partitionable),
  * and only candidates pay the exact-verification cost. */
object Dedup {

  // ----------------------------------------------- persist/memo lifecycle

  /** Session-scoped registry of persisted intermediate frames, keyed by
    * the *canonicalized plan* they compute ([[LogicalPlan.sameResult]]):
    * two constructions of the same operator over the same input share ONE
    * persisted stage instead of stacking a new copy per call — the leak
    * the round-3 audit flagged on the ad-hoc entry points. Lookup is a
    * linear scan over a handful of entries (plan comparison, no job).
    * [[releaseCaches]] is the caller-release contract: unpersists
    * everything and empties the registry; the bench/verify harnesses call
    * it between runs alongside `spark.catalog.clearCache()` (which would
    * otherwise drop the cache but leave the registry returning
    * no-longer-cached handles). */
  private val persistRegistry = scala.collection.mutable.ArrayBuffer
    .empty[(org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)]

  private[graft] def memoPersist(df: DataFrame): DataFrame =
    persistRegistry.synchronized {
      val plan = df.queryExecution.analyzed
      persistRegistry.collectFirst {
        case (s, p, cached) if (s eq df.sparkSession) && p.sameResult(plan) =>
          cached
      }.getOrElse {
        val c = df.persist()
        persistRegistry += ((df.sparkSession, plan, c))
        c
      }
    }

  /** Measure-then-dispatch results ([[ngramJaccardAuto]]'s Σdf² aggregate,
    * [[connectedComponentsAuto]]'s edge probe → labels) memoized the same
    * way: repeated construction of the same query launches the planning
    * job once per session, not once per construction. */
  private val gateRegistry = scala.collection.mutable.ArrayBuffer
    .empty[(org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Any)]

  /** Diagnostic counter for specs: how many gate measurements were
    * INSERTED into the memo (one per distinct key under single-threaded
    * use; a losing thread in the measure-outside-the-lock race runs its
    * thunk but doesn't count — the registry still holds one entry). */
  private[graft] var gateMeasurements: Long = 0L

  private[graft] def memoGate[T](df: DataFrame)(measure: => T): T = {
    val plan = df.queryExecution.analyzed
    def lookup: Option[T] = gateRegistry.collectFirst {
      case (s, p, v) if (s eq df.sparkSession) && p.sameResult(plan) =>
        v.asInstanceOf[T]
    }
    // measure runs OUTSIDE the registry lock: gate thunks range from one
    // bounded aggregate to Bpe.train's whole merge loop, and holding the
    // global monitor for the duration would serialize every other gated
    // operator in the JVM behind it. The cost is a benign race — two
    // threads may measure the same key concurrently; the second insert
    // is skipped and determinism makes both results identical.
    gateRegistry.synchronized(lookup).getOrElse {
      val v = measure
      gateRegistry.synchronized {
        lookup.getOrElse {
          gateMeasurements += 1
          gateRegistry += ((df.sparkSession, plan, v))
          v
        }
      }
    }
  }

  /** Release every persisted stage and memoized gate measurement this
    * object holds (all sessions). Call between benchmark runs or when a
    * composed pipeline is done with its dedup stages — the cluster-scale
    * analogue of dropping checkpointed intermediates. */
  def releaseCaches(): Unit = {
    persistRegistry.synchronized {
      persistRegistry.foreach(_._3.unpersist())
      persistRegistry.clear()
    }
    gateRegistry.synchronized(gateRegistry.clear())
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup via content hash: one row per distinct content, keeping
    * the lowest id (deterministic canonical representative) and the
    * duplicate count. Map-side partial aggregation; shuffle carries one
    * row per distinct hash. sha256 (not plain hash) so collisions are
    * cryptographically negligible even at 10^12 documents. */
  def exact(df: DataFrame, id: Column, content: Column): DataFrame =
    df.groupBy(sha2(content, 256).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  // -------------------------------------------------------------- minhash

  /** One-shuffle per-doc dedup stage: MinHash signature AND the sorted
    * distinct shingle-hash array from a single `groupBy(doc_id)` over the
    * raw (non-distinct) shingle stream — `min` is duplicate-insensitive
    * and `collect_set` dedupes, so the pre-`distinct` shuffle the round-2
    * pipeline paid is pure overhead. Output is one compact row per doc
    * (k longs + ~|shingles| longs), the thing worth persisting/
    * checkpointing: candidates explode from `sig`, verification joins
    * `hs`, nothing re-touches the corpus. */
  def docSignatures(df: DataFrame, id: Column, text: Column, n: Int,
      k: Int = 64): DataFrame = {
    val mins = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"h$i"))
    hashedShingleStream(df, id, text, n)
      .groupBy(col("doc_id"))
      .agg(mins.head, (mins.tail :+ sort_array(collect_set(col("h"))).as("hs")): _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"h$i")): _*).as("sig"), col("hs"))
  }

  /** Distinct (id, 64-bit shingle hash) pairs — the join/aggregation
    * currency of the dedup operators. Two deliberate choices:
    *  - join/min-hash 8-byte longs, never shingle strings (shuffle bytes,
    *    probe cost); at 2⁶⁴, collisions are negligible at any realistic
    *    corpus size (p ≈ n²/2⁶⁵), so set cardinalities — and therefore
    *    Jaccard values — are preserved exactly w.p. ~1;
    *  - hash each token once and compose shingle hashes from the n token
    *    hashes, never materializing the joined shingle string — string
    *    building inside the (interpreted) higher-order lambdas is ~6× the
    *    cost of the whole rest of the pipeline. */
  def hashedShingleSet(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    hashedShingleStream(df, id, text, n).distinct()

  /** Per-document shingle-hash ARRAY (doc_id, hs) — the un-exploded form
    * of [[hashedShingleStream]], same token-hash composition. Public for
    * operators that must stay per-row/shuffle-free, e.g. the streaming
    * decontamination flag ([[graft.streaming.StreamingDownsample
    * .decontaminateStream]]).
    *
    * NOT the building block of [[hashedShingleStream]], deliberately:
    * exploding this projected array attribute lets
    * `InferFiltersFromGenerate` add a `size(hs) > 0` filter that
    * predicate pushdown then rewrites through both projections — which
    * substitutes the full token-hash transform into the shingle lambda's
    * per-element indexing, re-tokenizing the document once PER SHINGLE
    * (O(len²) per doc; measured 25× slower at sf0.001 and effectively
    * hung at sf0.1). Per-row consumers (a streaming flag, a join) never
    * trigger that inference, and predicates that also reference the other
    * join side cannot be pushed into this projection, so the array form
    * is safe here. */
  def shingleHashes(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    val toks = (0 until n).map(j => s"__th[i + $j]").mkString(", ")
    df.select(id.as("doc_id"), text.as("__txt"))
      .select(col("doc_id"),
        expr("transform(split(__txt, ' '), x -> xxhash64(x))").as("__th"))
      .select(col("doc_id"), expr(
        s"""CASE WHEN size(__th) >= $n
           |  THEN transform(sequence(0, size(__th) - $n), i -> xxhash64($toks))
           |  ELSE array() END""".stripMargin).as("hs"))
  }

  /** The raw (id, shingle hash) stream, duplicates included — for
    * consumers whose aggregates are duplicate-insensitive
    * ([[docSignatures]]); everything rank/frequency-based goes through the
    * distinct [[hashedShingleSet]]. */
  private def hashedShingleStream(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    val toks = (0 until n).map(j => s"__th[i + $j]").mkString(", ")
    // Pre-project the caller's text expression into a fixed internal name:
    // splicing `text.toString` into the expr() SQL would only parse for
    // bare, quoting-free column names. The explode sits in the SAME
    // select as the shingle transform (generator = expression, not a
    // projected attribute): see [[shingleHashes]] for why splitting this
    // into project-then-explode is a plan-level performance trap.
    df.select(id.as("doc_id"), text.as("__txt"))
      .select(col("doc_id"),
        expr("transform(split(__txt, ' '), x -> xxhash64(x))").as("__th"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(__th) >= $n
           |  THEN transform(sequence(0, size(__th) - $n), i -> xxhash64($toks))
           |  ELSE array() END""".stripMargin)).as("h"))
  }

  /** MinHash signatures: one `array<bigint>` of length k per document.
    * Single shuffle (groupBy doc_id); the k minima are computed as k
    * aggregate expressions. The i-th min-wise function is
    * `xxhash64(xxhash64(shingle), i)` — rehashing the 8-byte base hash is
    * cheap, deterministic, and avoids the 64-bit multiply-shift family
    * that ANSI mode (Spark 4 default) rejects on wrap-around. */
  /** Input: hashed shingle set (doc_id, h). Each of the k min-wise
    * functions rehashes the 8-byte base hash with the function index —
    * cheap, deterministic, no string re-hashing inside the aggregate. */
  def minhashSignatures(hashedShingles: DataFrame, k: Int = 64): DataFrame = {
    val mins = (0 until k).map { i =>
      min(xxhash64(col("h"), lit(i))).as(s"h$i")
    }
    hashedShingles
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH banding: split the k-signature into `bands` bands of k/bands rows
    * each, hash each band, and emit candidate pairs of documents that
    * collide in at least one band. The pair join is an equi-join on
    * (band, bandHash) — shuffle-partitioned by band key, never all-pairs. */
  def lshCandidatePairs(sig: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    val exploded = bandedSignatures(sig, k, bands)
    exploded.as("x")
      .join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** The `bands` LSH band hashes of a k-long signature column: band
    * `bd` hashes signature rows [bd·k/bands, (bd+1)·k/bands) with the band
    * number. The ONE place the banding arithmetic lives — the stored
    * index, [[incrementalDedup]] and the streaming near-dup check all
    * band through it, because two drifting copies would empty the
    * candidate join without an error. */
  private[graft] def bandHashes(sig: Column, k: Int, bands: Int): Seq[Column] = {
    val rows = k / bands
    (0 until bands).map(bd =>
      xxhash64(((bd * rows) until ((bd + 1) * rows)).map(j => sig(j)) :+ lit(bd): _*))
  }

  /** (doc_id, band, bh) band rows for a (doc_id, sig) frame — the LSH
    * join currency shared by [[lshCandidatePairs]] and [[indexPairs]].
    * Band hashing is pure per-row arithmetic over the signature, so band
    * rows of a stored index are a narrow projection over its scan, never
    * a shuffle. */
  private[graft] def bandedSignatures(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val bandCols = bandHashes(col("sig"), k, bands).zipWithIndex.map { case (bh, bd) =>
      struct(lit(bd).as("band"), bh.as("bh"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Exact Jaccard for given candidate pairs (the verification step after
    * LSH). Each doc's distinct shingle hashes collapse to ONE sorted
    * `array<bigint>` row (one groupBy over the shingle set), candidates
    * join those arrays on each end — a join against a docs-sized (often
    * broadcastable) side, one output row per pair — and the codegen'd
    * [[graft.functions.SortedLongIntersectCount]] merge-walks |A∩B|.
    * Cost ∝ candidates × (|A|+|B|) primitive ops. The previous shape
    * (pairs ⋈ shingles ⋈ shingles → count) materialized a row per
    * (pair, shared shingle) — ~74M intermediate rows at sf0.1 — before
    * re-aggregating; this one never leaves one-row-per-pair. */
  def jaccardForPairs(pairs: DataFrame, shingles: DataFrame): DataFrame =
    jaccardForPairsOnArrays(pairs,
      shingles.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("h"))).as("hs")))

  /** Same, over a prebuilt (doc_id, sorted distinct hash array) frame —
    * e.g. [[docSignatures]]' `hs` column, sharing its single shuffle. */
  def jaccardForPairsOnArrays(pairs: DataFrame, arrs: DataFrame): DataFrame =
    pairs
      .join(arrs.select(col("doc_id"), col("hs")).as("za"),
        col("doc_a") === col("za.doc_id"))
      .join(arrs.select(col("doc_id"), col("hs")).as("zb"),
        col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedLongIntersectCount(col("za.hs"), col("zb.hs")).as("inter"),
        size(col("za.hs")).cast("long").as("na"),
        size(col("zb.hs")).cast("long").as("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))

  /** Exact all-pairs n-gram Jaccard above a threshold — the exact
    * baseline the LSH path approximates. One equi-join on shingle hashes
    * computes all intersection counts; work is proportional to
    * Σ_shingle df² (co-shingled pairs), not n². When that sum explodes —
    * web-scale corpora with ubiquitous shingles — use [[minhashDedup]]
    * (approximate-candidates, exact-verify) or [[ngramJaccardPrefix]]
    * (exact, prefix-filtered). */
  def ngramJaccard(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double): DataFrame =
    // Shingles feed the self-join twice plus the size aggregate — persist
    // instead of re-exploding the corpus three times. (Released by
    // session-level cache teardown; see the harness clearState.)
    jaccardAllPairsOn(memoPersist(hashedShingleSet(df, id, text, n)), threshold)

  /** Shared all-pairs overlap core: one equi-join on shingle hashes
    * produces (doc_a, doc_b, inter, na, nb) for every co-shingled pair —
    * work ∝ Σ_h df(h)², never n². Jaccard and containment are just
    * different normalizations of this frame. */
  private def pairOverlapOn(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("za.n").as("na"), col("zb.n").as("nb"))
  }

  /** Naive exact path over a prebuilt hashed shingle set. */
  private def jaccardAllPairsOn(sh: DataFrame, threshold: Double): DataFrame =
    pairOverlapOn(sh)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)

  /** **Containment** near-dup pairs: |A∩B| / min(|A|, |B|) ≥ threshold.
    * Containment catches the subset-duplicate Jaccard structurally
    * misses — a document embedded whole inside a much larger one has
    * J = |A|/|B| → 0 but containment 1 (think boilerplate-wrapped
    * copies, quoted articles, concatenated shards). Same Σdf²-bounded
    * equi-join shape as [[ngramJaccard]]; the prefix-filter adaptation
    * (index `|X| − ⌈t·|X|⌉ + 1` rarest shingles of the SMALLER side
    * only) applies when Σdf² explodes, gated exactly like
    * [[ngramJaccardAuto]]. */
  def ngramContainment(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double): DataFrame =
    pairOverlapOn(memoPersist(hashedShingleSet(df, id, text, n)))
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)

  /** **Sparse tf-vector cosine** self-join via an inverted index over
    * n-gram hashes — bag-of-ngrams with multiplicity, unlike the
    * set-based Jaccard/containment family above. Candidate pairs are
    * generated only through shared *rare* grams: any gram present in more
    * than corpus_size / maxDfFrac documents is dropped as a stop-gram
    * before the posting-list self-join, which caps each posting list at
    * N/maxDfFrac and so bounds the join fan-out Σ_h df(h)² — the standard
    * inverted-index pruning (Bayardo et al.'s df-cutoff) that keeps
    * sparse similarity near-linear at corpus scale where all-pairs
    * cosine is unrunnable. The corpus size enters as a lazy 1-row
    * broadcast, not a driver-side count.
    *
    * Numerics are oracle-exact by construction: tf counts and dot/norm
    * sums are integers, and cosine = dot / (√na·√nb) is a three-op IEEE
    * chain evaluated identically by Spark and DuckDB. */
  def sparseCosine(df: DataFrame, id: Column, text: Column, n: Int = 3,
      maxDfFrac: Int = 20, threshold: Double = 0.6): DataFrame = {
    // tf feeds the df-aggregate, the pruned-postings join, and (via tfk)
    // the norm aggregate — persist one compact (doc, gram, tf) frame
    // instead of re-shingling the corpus three times.
    val tf = memoPersist(hashedShingleStream(df, id, text, n)
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("tf")))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    val kept = tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(maxDfFrac.toLong) <= col("__n"))
      .select(col("h"))
    val tfk = memoPersist(tf.join(kept, "h"))
    val norms = tfk.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("nn"))
    val dots = tfk.select(col("h"), col("doc_id").as("doc_a"), col("tf").as("tf_a"))
      .join(tfk.select(col("h"), col("doc_id").as("doc_b"), col("tf").as("tf_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nn").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nn").as("nb")), "doc_b")
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("na"), col("nb"),
        col("cosine"))
  }

  /** **Decontamination report**: for every training document, how many of
    * its distinct shingles also occur anywhere in the benchmark/eval set —
    * the train-test leakage check every training-data pipeline runs before
    * a model sees the corpus. Returns only contaminated docs
    * (n_shared ≥ 1) with their overlap fraction; a pipeline drops or
    * rewrites them.
    *
    * Scale shape: the benchmark side collapses to DISTINCT shingle hashes
    * (eval suites are orders of magnitude smaller than a 100 TB corpus) and
    * broadcasts into the hit join — the corpus-side shingle stream is
    * never shuffled for candidate generation, only the per-doc count
    * aggregates move. If the bench side ever outgrew broadcast it
    * degrades to a plain hash equi-join on `h`. */
  def contamination(train: DataFrame, bench: DataFrame, id: Column,
      text: Column, n: Int): DataFrame = {
    val tr = memoPersist(hashedShingleSet(train, id, text, n))
    val bh = broadcast(
      hashedShingleSet(bench, id, text, n).select(col("h")).distinct())
    val sizes = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val hits = tr.join(bh, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    hits.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"))
  }

  /** [[contamination]] with a **Bloom-filter runtime prefilter** on the
    * corpus side — the shape Spark's own `InjectRuntimeFilter` plans for
    * shuffle joins, built explicitly: the bench shingle hashes aggregate
    * into one Bloom filter (`bloom_filter_agg`, a few MB regardless of
    * bench size) evaluated as a scalar subquery; corpus shingles that miss
    * the filter are dropped *before* the exact join, and survivors are
    * verified against the true bench set, so false positives cannot reach
    * the output — results are bitwise identical to [[contamination]]
    * (same DuckDB oracle).
    *
    * Why it matters at 100 TB: [[contamination]] broadcasts the bench
    * hash set, which stops working once the benchmark suite outgrows the
    * broadcast budget and the join becomes a full corpus shuffle. The
    * Bloom filter stays broadcast-sized at any bench cardinality and
    * prunes the corpus stream at the scan side, shrinking that shuffle by
    * the true-negative rate (~98% here at 8 bits/key). */
  /** Hard ceiling on the contamination Bloom filter: 2²⁸ bits = 32 MB —
    * comfortably broadcastable, and ~2⁵ effective bits/key even for a
    * 10⁷-shingle benchmark suite. */
  private[graft] val BloomMaxBits: Long = 1L << 28

  def contaminationBloom(train: DataFrame, bench: DataFrame, id: Column,
      text: Column, n: Int, bitsPerKey: Int = 8): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge

    val tr = memoPersist(hashedShingleSet(train, id, text, n))
    // bench side persisted too: the count gate, the bloom aggregate and
    // the verify join would otherwise re-shingle the bench corpus thrice
    val benchSh = memoPersist(
      hashedShingleSet(bench, id, text, n).select(col("h")).distinct())
    // sized from the gate-memoized bench cardinality: one tiny planning
    // aggregate per (session, input), like ngramJaccardAuto's Σdf² gate
    val nBench = memoGate(benchSh)(math.max(benchSh.count(), 1L))
    // BloomFilterAggregate silently CLAMPS its parameters to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems / maxNumBits
    // (defaults 4M / 67M): past the clamp the filter saturates and the
    // prefilter prunes ~nothing — output stays correct (exact verify),
    // but the scaling story quietly breaks. Raise the two confs to what
    // this aggregate needs — BOUNDED by [[BloomMaxBits]] (32 MB of
    // filter), because the whole point of this operator is a filter
    // that stays broadcast-sized: an unbounded raise would let a 10⁹-key
    // bench build a GB-scale bitmap in one task and ship it to every
    // scan. Past the cap the filter degrades gracefully (fewer effective
    // bits/key, still correct) and the degradation is LOGGED instead of
    // silent. Conf is read at execution, so raising it here (same
    // session, monotone, still bounded) is sufficient.
    val needBits = nBench * bitsPerKey
    val capBits = math.min(needBits, BloomMaxBits)
    def raiseConf(key: String, need: Long): Unit = {
      val spark = train.sparkSession
      val cur = try spark.conf.get(key).toLong catch { case _: Exception => 0L }
      if (cur < need) spark.conf.set(key, need.toString)
    }
    raiseConf("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", nBench)
    raiseConf("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", capBits)
    if (needBits > BloomMaxBits) {
      System.err.println(
        s"[graft] contaminationBloom: bench needs $needBits bloom bits but the " +
          s"$BloomMaxBits cap holds the filter at ${BloomMaxBits / nBench} " +
          "effective bits/key — prefilter selectivity degrades (output stays exact)")
    }
    // capBits is passed to the aggregate DIRECTLY, not only via the conf:
    // a session whose maxNumBits conf was already raised above the cap
    // (e.g. tuned for Spark's own runtime filters) must not let this
    // operator build a filter past its own broadcast-size contract
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(ColumnBridge.expression(col("h")),
        Literal(nBench), Literal(capBits)).toAggregateExpression())
    val bloomPlan = ColumnBridge.logicalPlan(benchSh.agg(bloomAgg.as("bloom")))
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      ScalarSubquery(bloomPlan), ColumnBridge.expression(col("h"))))
    // NO broadcast hint on the verify join, deliberately: in the regime
    // this operator exists for (bench too big to broadcast) the planner
    // must be free to fall back to a shuffle join over the bloom-pruned
    // corpus; below the threshold Catalyst broadcasts on its own.
    val bh = benchSh
    val sizes = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val hits = tr.filter(mightContain).join(bh, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    hits.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"))
  }

  /** Exact n-gram Jaccard with **prefix filtering** (Bayardo et al.
    * "Scaling Up All Pairs Similarity Search"; Xiao et al. PPJoin): under
    * any canonical global shingle order, two sets with J ≥ t must share an
    * element within their first `|X| − ⌈t·|X|⌉ + 1` elements, so only
    * those prefix shingles are indexed for candidate generation; exact
    * verification runs on candidates only. Ordering by ascending document
    * frequency puts each doc's rarest shingles in the prefix, which is
    * what bounds candidates when common shingles would otherwise join
    * everything with everything. Identical output to [[ngramJaccard]]
    * (property-tested); pays off once Σ df² ≫ corpus size. */
  def ngramJaccardPrefix(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double): DataFrame =
    jaccardPrefixOn(memoPersist(hashedShingleSet(df, id, text, n)), threshold)

  /** Prefix-filtered exact path over a prebuilt hashed shingle set. */
  private def jaccardPrefixOn(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("dfr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("dfr"), col("h"))
    // persisted: the candidate self-join reads the prefix twice and Spark
    // plans no ReusedExchange across the window+join subtree (measured:
    // the dfreq join and rank window would run twice); released by
    // session cache teardown like the shingle set
    val prefix = sh
      .join(dfreq, "h")
      .withColumn("rn", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rn") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("doc_id"), col("h"))
    val prefixShared = memoPersist(prefix)
    val cand = prefixShared.as("a")
      .join(prefixShared.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardForPairs(cand, sh).filter(col("jaccard") >= threshold)
  }

  /** Size-gated exact n-gram Jaccard: measure, then dispatch. The naive
    * self-join's cost is the co-shingled pair count Σ_h df(h)² — benign on
    * corpora of mostly-unique shingles, explosive when common shingles
    * join everything with everything. PPJoin's prefix filter caps that
    * blow-up but pays a ~4-pass constant (dfreq join, per-doc row_number,
    * candidate join, verify) that round-2 benchmarks put at ~4-6× the
    * naive path when Σdf² is small. So: one cheap aggregate over the
    * (persisted, then reused) shingle set computes Σdf and Σdf² exactly,
    * and the prefix path engages only when Σdf² > `prefixGate`·Σdf — i.e.
    * when the naive join would expand the shuffle by more than the
    * prefix machinery's pass constant. The planning aggregate is an eager
    * construction-time job by design: it chooses between plans whose
    * costs differ by orders of magnitude, and its scan warms the very
    * cache both paths read. */
  def ngramJaccardAuto(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double, prefixGate: Long = 16): DataFrame = {
    val sh = memoPersist(hashedShingleSet(df, id, text, n))
    // memoized per (session, shingle-set plan): constructing the same
    // query twice measures once, and the measurement warms the shared
    // persisted shingle set both dispatch targets read
    val (tot, sumdf2) = memoGate(sh) {
      val row = sh.groupBy(col("h")).agg(count(lit(1)).as("dfr"))
        .agg(sum(col("dfr")).as("tot"),
          sum(col("dfr").cast("double") * col("dfr").cast("double")).as("sumdf2"))
        .head()
      if (row.isNullAt(0)) (0L, 0.0) else (row.getLong(0), row.getDouble(1))
    }
    val heavy = sumdf2 > prefixGate.toDouble * tot.toDouble
    if (heavy) jaccardPrefixOn(sh, threshold) else jaccardAllPairsOn(sh, threshold)
  }

  /** MinHash+LSH near-dedup end to end: signatures → banded candidates →
    * exact-Jaccard verification at `threshold`. With k=64, 16 bands × 4
    * rows, detection probability at j=0.8 is 1-(1-0.8⁴)¹⁶ ≈ 0.9998 and
    * ≈ 1 at j≥0.9, so for corpora whose near-dup pairs sit well above the
    * threshold the verified output equals the exact [[ngramJaccard]]
    * result — which is how the DuckDB oracle checks it. */
  def minhashDedup(df: DataFrame, id: Column, text: Column, n: Int = 3,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    // One shuffle builds the per-doc stage (signature + sorted hash set);
    // banding and verification both read the persisted docs-sized frame —
    // at cluster scale this is the stage you would checkpoint to object
    // storage. (Released by session cache teardown or caller unpersist.)
    verifiedPairs(memoPersist(docSignatures(df, id, text, n, k)), k, bands, threshold)
  }

  /** Verified near-dup pairs within one [[docSignatures]] frame: LSH
    * candidates from its `sig`, exact Jaccard from its `hs`, kept at
    * `threshold`. Reads `sigs` twice, so callers persist it — each with
    * its own lifecycle ([[minhashDedup]] and [[incrementalDedup]] memo,
    * the registered pair stage unpersists after one materialization). */
  private[graft] def verifiedPairs(sigs: DataFrame, k: Int, bands: Int,
      threshold: Double): DataFrame =
    jaccardForPairsOnArrays(
      lshCandidatePairs(sigs.select(col("doc_id"), col("sig")), k, bands), sigs)
      .filter(col("jaccard") >= threshold)

  // ---------------------------------------------- incremental dedup index

  /** Persist the per-doc dedup stage ([[docSignatures]]: MinHash signature
    * + sorted shingle-hash set) as a **bucketed, bucket-sorted table**
    * keyed by doc_id — the cross-run signature index [[incrementalDedup]]
    * joins against. Production shape: the 100 TB corpus is shingled ONCE;
    * every later ingest batch dedupes against this table without
    * re-touching (or re-shuffling) the corpus. Bucketing by doc_id keeps
    * the verification join against candidate ids exchange-free on the
    * index side even when the candidate set outgrows broadcast. */
  def writeSignatureIndex(df: DataFrame, id: Column, text: Column,
      table: String, n: Int = 3, k: Int = 64, buckets: Int = 8): Unit =
    Joins.writeBucketed(
      docSignatures(df, id, text, n, k).withColumn("shingle_n", lit(n)),
      table, "doc_id", buckets)

  /** Stored (k, n) of an index table, from ONE bounded 1-row probe —
    * what every reader/appender must match. None when the table does not
    * exist or is empty (a first append CREATES the table — probing must
    * not break that). The shingle width rides in a stored `shingle_n`
    * column (signatures don't encode it); indexes written before that
    * column report n = None and skip the n check. */
  private[graft] def indexParams(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[(Int, Option[Int])] = {
    if (!spark.catalog.tableExists(table)) return None
    val t = spark.table(table)
    val nCol =
      if (t.columns.contains("shingle_n")) col("shingle_n")
      else lit(null).cast("int")
    t.select(size(col("sig")), nCol).limit(1).collect().headOption
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
  }

  /** The guard all three index touchpoints share: k must match the
    * stored signature length (a mismatch nulls sig(j) past the stored
    * array and xxhash64 SKIPS nulls — band hashes silently stop
    * matching), and n must match the stored shingle width (same-length
    * signatures over a different shingle universe are incomparable —
    * candidates would be missed with no error). One bounded probe; the
    * single row speaks for the table because both write sites run this
    * guard too. */
  private[graft] def requireIndexParams(
      spark: org.apache.spark.sql.SparkSession, table: String,
      op: String, k: Int, n: Int): Unit =
    indexParams(spark, table).foreach { case (storedK, storedN) =>
      require(storedK == k,
        s"$op: k=$k but index '$table' stores signatures of length " +
          s"$storedK — a mixed-length index silently drops candidates")
      storedN.foreach { v =>
        require(v == n,
          s"$op: n=$n but index '$table' was built with shingle width $v " +
            "— mixed shingle universes silently miss near-dup pairs")
      }
    }

  /** Append a processed batch's signatures to the index — the
    * between-runs half of the incremental loop: dedupe the delta with
    * [[incrementalDedup]], then fold it into the table so the NEXT batch
    * sees it. Spark appends bucketed data files congruent with the
    * existing layout (same bucket count/key), so the zero-shuffle reads
    * keep working across appends. A first append on a nonexistent table
    * creates it (the guard probes nothing in that case); appends onto an
    * existing index validate (k, n) BEFORE writing — Parquet would
    * happily interleave incompatible signature rows otherwise. */
  def appendToSignatureIndex(df: DataFrame, id: Column, text: Column,
      table: String, n: Int = 3, k: Int = 64, buckets: Int = 8): Unit = {
    val spark = df.sparkSession
    val exists = spark.catalog.tableExists(table)
    if (!exists) {
      // the catalog has no entry, but a PREVIOUS JVM may have left index
      // files at the warehouse location — creating over them would
      // silently absorb rows of unknown (k, n) into the new index, the
      // exact mixed-signature poisoning the guard below prevents for
      // catalog-visible tables. Clear the stale dir so the first append
      // creates a clean table.
      Joins.dropTableAndLocation(spark, table)
    }
    requireIndexParams(spark, table, "appendToSignatureIndex", k, n)
    // a pre-shingle_n index (legacy 3-column schema) must keep its
    // schema: appending a 4th column would fail the insertion column
    // match — the n guard is already skipped for those tables
    val legacySchema = exists &&
      !spark.table(table).columns.contains("shingle_n")
    val sigs0 = docSignatures(df, id, text, n, k)
    val sigs =
      if (legacySchema) sigs0 else sigs0.withColumn("shingle_n", lit(n))
    sigs.write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "zstd")
      .bucketBy(buckets, "doc_id")
      .sortBy("doc_id")
      .saveAsTable(table)
  }

  /** **Incremental dedup**: near-dup pairs of a corpus *delta* — new
    * documents vs the persisted signature index, plus pairs within the
    * delta itself — without re-shingling the indexed corpus. Equal, by
    * construction, to the delta-involving subset of [[minhashDedup]] run
    * on index∪delta: signatures and band hashes are per-doc functions, so
    * banding the stored `sig` column reproduces exactly the bands a full
    * run would compute.
    *
    * Scale shape — the index side NEVER shuffles (spec-asserted zero
    * Exchange over the index scan):
    *  - delta band rows (small: an ingest batch) **broadcast** into the
    *    index's band projection — candidate generation is one
    *    BroadcastHashJoin over the index scan;
    *  - verification broadcasts the (candidate ids ⋈ delta hash-set)
    *    frame into the index's (doc_id, hs) projection — again a
    *    broadcast join against the scan, with the doc_id bucketing as the
    *    exchange-free fallback once candidates outgrow broadcast;
    *  - intra-delta pairs run the ordinary LSH pipeline on the delta
    *    alone. */
  def incrementalDedup(spark: org.apache.spark.sql.SparkSession,
      indexTable: String, delta: DataFrame, id: Column, text: Column,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    requireIndexParams(spark, indexTable, "incrementalDedup", k, n)
    val deltaSig = memoPersist(docSignatures(delta, id, text, n, k))
    verifiedPairs(deltaSig, k, bands, threshold)
      .unionByName(indexPairs(spark.table(indexTable), deltaSig, k, bands, threshold))
  }

  /** Verified near-dup pairs between a [[docSignatures]] delta frame and
    * the stored signature index (the cross half of [[incrementalDedup]],
    * and each micro-batch of the streaming foreachBatch sink). The delta's
    * band rows broadcast into the index's band projection, so candidate
    * generation is one BroadcastHashJoin over the index scan, and the
    * (candidate ids ⋈ delta hash-set) frame broadcasts again into
    * [[verifyIndexPairs]]. Reads `deltaSig` twice, so callers persist it. */
  private[graft] def indexPairs(index: DataFrame, deltaSig: DataFrame, k: Int,
      bands: Int, threshold: Double): DataFrame = {
    val idxBands = bandedSignatures(index.select(col("doc_id"), col("sig")), k, bands)
    val dBands = bandedSignatures(deltaSig.select(col("doc_id"), col("sig")), k, bands)
    val cand = idxBands.as("x")
      .join(broadcast(dBands.as("y")),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("idx_id"), col("y.doc_id").as("delta_id"))
      .distinct()
    val withDelta = cand.join(
      deltaSig.select(col("doc_id").as("delta_id"), col("hs").as("hs_d")),
      "delta_id")
    verifyIndexPairs(index, broadcast(withDelta), threshold)
  }

  /** Exact Jaccard of (idx_id, delta_id, hs_d) candidates against the
    * index's stored hash sets, projected to the ordered
    * `(doc_a, doc_b, inter, na, nb, jaccard)` pair shape of
    * [[jaccardForPairsOnArrays]] and kept at `threshold`. Shared by
    * [[indexPairs]] and the stateless streaming check, which brings its
    * own exactly-once candidates. */
  private[graft] def verifyIndexPairs(index: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame =
    index.select(col("doc_id").as("idx_id"), col("hs").as("hs_i"))
      .join(cand, "idx_id")
      .select(col("idx_id"), col("delta_id"),
        graft.functions.SortedLongIntersectCount(col("hs_i"), col("hs_d")).as("inter"),
        size(col("hs_i")).cast("long").as("ni"),
        size(col("hs_d")).cast("long").as("nd"))
      .select(
        least(col("idx_id"), col("delta_id")).as("doc_a"),
        greatest(col("idx_id"), col("delta_id")).as("doc_b"),
        col("inter"),
        when(col("idx_id") < col("delta_id"), col("ni")).otherwise(col("nd")).as("na"),
        when(col("idx_id") < col("delta_id"), col("nd")).otherwise(col("ni")).as("nb"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)

  // --------------------------------------------------- near-dup clustering

  /** Connected components over a near-dup pair list: each document maps to
    * its component's minimum doc id (the canonical representative). Pair
    * lists alone under-deduplicate chains (a~b, b~c but a≁c must still
    * collapse to one representative); components are what dedup actually
    * needs.
    *
    * Iterative min-label propagation (the standard Spark CC shape): each
    * round every node takes the min label among itself and its neighbors;
    * converges in O(component diameter) rounds — near-dup components are
    * shallow, so a handful. Each round is one equi-join + one groupBy
    * (hash-partitioned by node); `localCheckpoint` cuts the lineage so
    * plans don't grow with iterations. Deterministic (min label), so the
    * DuckDB oracle checks it with a recursive CTE. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .persist()
    var cur = edges.select(col("u").as("doc_id")).distinct()
      .withColumn("rep", col("doc_id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges
        .join(cur, edges("v") === cur("doc_id"))
        .select(edges("u").as("doc_id"), cur("rep"), lit(null).cast("long").as("old_rep"))
      // fold the convergence signal into the same aggregate: every doc's
      // previous label rides along as old_rep (cur contributes it, the
      // propagated rows carry null, max ignores nulls), so the
      // convergence test is a filter over the SAME checkpointed result —
      // no extra join per round
      val next = cur.select(col("doc_id"), col("rep"), col("rep").as("old_rep"))
        .union(prop)
        .groupBy("doc_id").agg(min("rep").as("rep"), max("old_rep").as("old_rep"))
        .localCheckpoint(true)
      converged = next.filter(col("rep") =!= col("old_rep")).isEmpty
      cur = next.select(col("doc_id"), col("rep"))
      iter += 1
    }
    edges.unpersist()
    cur.select(col("doc_id"), col("rep").as("cluster_rep"))
  }

  /** Size-gated connected components: the verified near-dup pair set is
    * orders of magnitude smaller than the corpus (25 pairs from 5 000 docs
    * on the bench corpus; the ratio only improves at scale — near-dup
    * rates are single-digit percent), so below `driverGate` edges the
    * component labels come from ONE `head(gate+1)` job plus a driver-side
    * union-find, replacing O(component-diameter) join+aggregate rounds
    * with a broadcast-sized result. Above the gate, the distributed
    * min-label iteration stands. Same measure-then-dispatch philosophy as
    * [[ngramJaccardAuto]]: the gate probe is a bounded `head`, not a full
    * count, and output (min-id representative per doc) is identical on
    * both paths. */
  def connectedComponentsAuto(pairs: DataFrame, driverGate: Int = 1 << 20,
      maxIter: Int = 20): DataFrame = {
    // the driver union-find walks getLong over the ids, so it is only
    // safe for integral id types: a string id would cast to NULL and NPE
    // on the driver. Non-integral ids take the distributed path, which is
    // id-type agnostic.
    val integralIds = Seq("doc_a", "doc_b").forall { c =>
      import org.apache.spark.sql.types._
      pairs.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    if (!integralIds) return connectedComponents(pairs, maxIter)
    // memoized per (session, pairs plan): the probe (and, on the driver
    // path, the whole union-find labeling) runs once per session even
    // when composed pipelines construct the clustering repeatedly
    memoGate(pairs)(connectedComponentsAutoImpl(pairs, driverGate, maxIter))
  }

  private def connectedComponentsAutoImpl(pairs: DataFrame, driverGate: Int,
      maxIter: Int): DataFrame = {
    val probe = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .head(driverGate + 1)
    if (probe.length > driverGate) connectedComponents(pairs, maxIter)
    else {
      // union-find, min root wins → identical min-label output
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val nodes = probe.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      val spark = pairs.sparkSession
      import spark.implicits._
      nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "cluster_rep")
    }
  }

  /** Cross-doc **duplication profile**: per document, how many of its
    * distinct shingles occur in ≥2 documents corpus-wide — the corpus-QA
    * histogram behind dedup-threshold tuning (a spike of high `dup_frac`
    * docs means boilerplate or mirrored content). One dfreq aggregate +
    * one equi-join + one per-doc aggregate, all hash-partitioned on
    * derived keys. */
  def duplicationProfile(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    val sh = memoPersist(hashedShingleSet(df, id, text, n))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("dfr"))
    sh.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("dfr") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_shingles").cast("double"))
          .as("dup_frac"))
  }

  // ------------------------------------------------- substring-span dedup

  /** Positional hashed shingle stream (doc_id, pos, h):
    * [[hashedShingleStream]] with each shingle's 0-based token offset
    * retained — the currency of span-level (as opposed to set-level)
    * dedup. */
  private def positionalShingles(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    val toks = (0 until n).map(j => s"__th[i + $j]").mkString(", ")
    df.select(id.as("doc_id"), text.as("__txt"))
      .select(col("doc_id"),
        expr("transform(split(__txt, ' '), x -> xxhash64(x))").as("__th"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(__th) >= $n
           |  THEN transform(sequence(0, size(__th) - $n), i -> xxhash64($toks))
           |  ELSE array() END""".stripMargin)).as(Seq("pos", "h")))
  }

  /** **Substring-span dedup** (the span-level modality the set-based
    * family above structurally misses — Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): find every maximal
    * cross-document run of ≥ `minTokens` consecutive shared tokens and
    * report the span, not the documents. A 12-token paragraph pasted into
    * two otherwise-unrelated documents has doc-level Jaccard ≈ 0 but is
    * exactly what span dedup removes before training.
    *
    * Formulation: two docs share a token span of length L ≥ w iff their
    * positional w-gram shingles match at L − w + 1 consecutive positions
    * *on the same alignment* (constant pos_a − pos_b). So: equi-join the
    * positional shingle streams on the hash, bucket matches by
    * (doc_a, doc_b, diagonal), and collapse consecutive pos_a runs with
    * the gaps-and-islands window (pos_a − row_number, a constant within a
    * run). Returns (doc_a, doc_b, start_a, start_b, len_tokens) per
    * maximal run; a repeated phrase aligned several ways reports one span
    * per alignment.
    *
    * Candidate width: the identity above holds for ANY shingle width
    * w ≤ minTokens and yields the same maximal spans, so the
    * implementation shingles at w = minTokens — the widest width that
    * still finds every qualifying span exactly. Width is the one knob
    * that crushes Σ_h df(h)²: on the sf0.1 word-soup corpus trigram
    * shingles collide so often that the hash equi-join emits 1.27 M
    * match rows, while width-10 shingles emit 11 k (115×) — only true
    * ≥ minTokens repeats (plus 2⁻⁶⁴-rare xxhash64 collisions) survive
    * candidate generation, so the (pair, diagonal) window downstream
    * runs over duplicated-mass-sized input, not noise. `n` remains the
    * caller's set-dedup shingle width and only lower-bounds minTokens.
    *
    * Scale shape: candidate generation is the same Σ_h df(h)²-bounded
    * equi-join on shingle hashes as [[ngramJaccard]] — hash-partitioned,
    * never all-pairs — and the window partitions by (pair, diagonal),
    * which is finer than any per-doc key, so no partition outgrows the
    * shared spans of one document pair. */
  def substringSpans(df: DataFrame, id: Column, text: Column, n: Int,
      minTokens: Int): DataFrame = {
    require(minTokens >= n,
      s"minTokens ($minTokens) must be >= shingle width n ($n)")
    // the spans stage is shared session state like the verified-pairs
    // stage: the span listing (dedup_substring) and the scrub
    // (substringScrub) both consume it, and spans are duplicated-mass-
    // sized, so the persist is cheap relative to the positional join it
    // avoids re-running
    memoPersist(substringSpansUncached(df, id, text, n, minTokens))
  }

  private def substringSpansUncached(df: DataFrame, id: Column,
      text: Column, n: Int, minTokens: Int): DataFrame = {
    // shingle at the widest exact width (see scaladoc): every match row
    // is already a qualifying-span witness, so minRun = 1 and the HAVING
    // filter disappears — the islands window only merges/extends runs
    val w = minTokens
    val ps = positionalShingles(df, id, text, w)
    // identical subplans on both sides: Spark plans one shuffle on h and a
    // ReusedExchange for the other side — no persist needed
    val m = ps.as("a")
      .join(ps.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    // within one (pair, diagonal) bucket pos_b is pos_a − diag, so pos_a
    // values are distinct and pos_a − row_number() is constant exactly on
    // maximal consecutive runs (gaps-and-islands)
    m.withColumn("__run", col("pos_a") - row_number().over(win))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("__run"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        count(lit(1)).as("n_match"))
      .select(col("doc_a"), col("doc_b"),
        col("start_a").cast("long").as("start_a"),
        col("start_b").cast("long").as("start_b"),
        (col("n_match") + lit(w - 1)).cast("long").as("len_tokens"))
  }

  /** **Span removal** — the second half of Lee-et-al-style substring
    * dedup: for every shared span found by [[substringSpans]], drop the
    * *higher-id* document's copy (keep-min-id, the same canonical-
    * representative rule the doc-level family uses) and re-emit each
    * document with its duplicated spans cut out. Overlapping spans from
    * different partners union naturally (removal positions are a
    * DISTINCT (doc, pos) set).
    *
    * Shapes: the only shuffled relation is the span list itself —
    * duplicated-mass-sized, never corpus-sized. Spans collapse to one
    * interval array per victim doc (groupBy over span rows), that tiny
    * frame joins back onto the corpus (AQE sees its size and
    * broadcasts), and the cut itself is a per-row higher-order filter:
    * keep token i unless some removal interval covers i. Docs with no
    * spans take the null-branch fast path (the `when` never evaluates
    * the lambda), so only documents that actually contain duplicated
    * spans pay O(tokens × intervals). The earlier corpus-wide
    * posexplode → anti-join → ordered re-collect (two full-token-mass
    * shuffles + a per-doc sort) is gone. */
  def substringScrub(df: DataFrame, id: Column, text: Column, n: Int,
      minTokens: Int): DataFrame = {
    val spans = substringSpans(df, id, text, n, minTokens)
    // [s, e] inclusive token intervals per victim (higher-id) document;
    // overlapping spans from different partners union via the exists()
    val iv = spans.groupBy(col("doc_b").as("doc_id"))
      .agg(collect_list(struct(col("start_b").as("s"),
        (col("start_b") + col("len_tokens") - 1).as("e"))).as("__iv"))
    df.select(id.as("doc_id"), split(text, " ").as("__toks"))
      .join(iv, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        when(col("__iv").isNull, col("__toks")).otherwise(expr(
          """transform(
            |  filter(transform(__toks, (t, i) -> struct(t AS t, i AS i)),
            |         x -> NOT exists(__iv, v -> x.i >= v.s AND x.i <= v.e)),
            |  x -> x.t)""".stripMargin)).as("__kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kept")).cast("long").as("n_tokens_kept"),
        array_join(col("__kept"), " ").as("text_clean"))
  }

  // -------------------------------------------------------------- simhash

  /** SimHash per document: each token occurrence votes ±1 on every bit
    * of its token hash; the signature bit is the vote sign. One explode
    * + one groupBy (one conditional-sum aggregate per bit) — a single
    * shuffle.
    *
    * Hash choice is the caller's: the default is 64-bit xxhash64 (fast —
    * the production keying); `md5Keyed = true` swaps in the 60-bit
    * md5 idiom (`conv(substr(md5(…),1,15),16,10)` — the KMV keying a
    * DuckDB oracle reproduces bit-for-bit, at ~20× the per-token CPU;
    * the same opt-in split as [[graft.functions.WinnowFingerprint
    * .md5Keyed]]). Signatures from the two keyings are NOT comparable —
    * pick one per index. */
  def simhashSignatures(df: DataFrame, id: Column, text: Column,
      md5Keyed: Boolean = false): DataFrame = {
    val bits = if (md5Keyed) 60 else 64
    val tok = df
      .select(id.as("doc_id"), explode(TextOps.tokens(text)).as("t"))
      .withColumn("h",
        if (md5Keyed)
          // r14: the codegen'd digest-bytes kernel — bitwise the
          // conv(substring(md5)) chain the oracle spells (Md5Bits60Spec)
          element_at(graft.functions.Md5Bits60(
            concat(lit("graftsim"), col("t"))), 1)
        else xxhash64(col("t")))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b")
    }
    val agg = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sig = (0 until bits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    // the keying rides IN the frame (column metadata) so consumers like
    // [[simhashPairs]] derive the band width from the signature itself
    // instead of trusting a second free parameter that can silently
    // disagree (r12 advice: a 60-bit frame banded as 64 yields 16-bit
    // bands with 4 always-zero bits — a different candidate set)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SigBitsMetaKey, bits.toLong).build()
    agg.select(col("doc_id"), sig.as("simhash", meta))
  }

  /** Column-metadata key carrying a simhash signature's bit width. */
  private[graft] val SigBitsMetaKey = "graft.sig_bits"

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, blocked on
    * four (sigBits/4)-wide bands: any pair within distance 3 shares at
    * least one of the 4 bands (pigeonhole), so candidate generation is
    * again an equi-join on (band, value) — no all-pairs comparison.
    * Band width derives from the signature frame itself:
    * [[simhashSignatures]] stamps its bit width into the `simhash`
    * column's metadata, and a `sigBits` argument that DISAGREES with
    * the frame refuses loudly — a 60-bit md5-keyed frame banded as 64
    * would otherwise silently produce 16-bit bands with 4 always-zero
    * bits and a different candidate set. The explicit parameter remains
    * only for signature frames built elsewhere (no metadata); `None`
    * means "derive from the frame, else 64" — an `Option` rather than a
    * 64 default so an EXPLICIT `Some(64)` on a 60-bit frame refuses like
    * any other mismatch instead of silently becoming 60 (r13 advice:
    * with a plain `Int` default, 64 was indistinguishable from
    * unspecified, the one value the refusal contract couldn't cover). */
  def simhashPairs(sig: DataFrame, maxDist: Int = 3,
      sigBits: Option[Int] = None): DataFrame = {
    val framed = sig.schema.fields.find(_.name == "simhash")
      .filter(_.metadata.contains(SigBitsMetaKey))
      .map(_.metadata.getLong(SigBitsMetaKey).toInt)
    for (fb <- framed; sb <- sigBits) require(fb == sb,
      s"simhashPairs: signature frame is $fb-bit keyed but sigBits=$sb " +
        "was passed — band width must match the signature keying")
    val effBits = framed.orElse(sigBits).getOrElse(64)
    require(effBits % 4 == 0, s"sigBits must split into 4 bands (got $effBits)")
    val bandWidth = effBits / 4
    val bandMask = (1L << bandWidth) - 1
    val bands = (0 until 4).map { bd =>
      struct(lit(bd).as("band"),
        shiftright(col("simhash"), bd * bandWidth).bitwiseAND(lit(bandMask)).as("bv"))
    }
    val exploded = sig
      .select(col("doc_id"), col("simhash"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band").as("band"), col("b.bv").as("bv"))
    exploded.as("x")
      .join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ---------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup pairs above `threshold` — threshold-gated
    * dispatcher. Angular LSH prunes hard at tight near-dup thresholds
    * (cos ≥ 0.9: neighbor angles are small, hyperplanes agree often) but
    * its recall decays fast below that — at cos 0.7 the default banding
    * keeps only ~80% of qualifying pairs — so below the gate the right
    * exact plan is the balanced all-pairs join: at those thresholds the
    * OUTPUT itself approaches Ω(n²), so no candidate scheme can beat the
    * verification cost anyway — the engineering question is only whether
    * the n² work is distributed (it is: [[embeddingNearDupBlocked]]) or
    * funneled through one broadcast nested loop (the round-2 plan this
    * replaces). The LSH path derives `dim` from the data (one 1-row
    * peek), so a non-64-dim corpus can't silently get mis-sized planes. */
  def embeddingNearDup(df: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame =
    if (threshold >= LshGate) embeddingNearDupLsh(df, id, vec, threshold)
    else embeddingNearDupBlocked(df, id, vec, threshold)

  /** Gate where banded-LSH recall with the default (b=8, L=16) banding is
    * ≥ 0.995: p = 1 − arccos(0.9)/π = 0.856, 1 − (1 − p⁸)¹⁶ = 0.996.
    * At cos 0.7 the same banding is only ~0.80 — below the gate, exact
    * pairs are the contract, so the blocked join runs instead. */
  private val LshGate = 0.9

  /** Exact all-pairs cosine near-dup as a **balanced block-theta join**
    * (Okcan & Riedewald's 1-bucket-theta shape): vectors hash into B
    * blocks; a row in block i ships to key (i, j) for j ≥ i on the left
    * and (i', blk) for i' ≤ blk on the right, so every unordered block
    * pair — and therefore every vector pair — meets on exactly one of the
    * B(B+1)/2 keys. That turns all-pairs into an EQUI-join: shuffle
    * volume is (B+1)·n rows, each reducer scores one (n/B)² tile, load is
    * uniform by construction (hash blocks), and nothing requires the
    * corpus to fit in one executor's broadcast. Compare: the broadcast
    * nested loop this replaces ships the whole corpus to every executor
    * and caps at driver broadcast size.
    *
    * Norms once per vector (n of them), not once per pair (n²/2):
    * cos(a,b) = dot(a,b) / (‖a‖·‖b‖) with the identical float semantics
    * the oracle uses. */
  def embeddingNearDupBlocked(df: DataFrame, id: Column, vec: Column,
      threshold: Double, blocks: Int = 8): DataFrame =
    blockedCosinePairs(
      df.select(id.as("vid"), vec.as("v"))
        .withColumn("nrm", VectorOps.norm(col("v"))),
      keys = Nil, threshold = threshold, blocks = blocks)

  /** The block-theta tile join itself, generalized with optional grouping
    * `keys` (pairs must agree on every key — e.g. [[semanticDedup]]'s
    * cell id, which bounds each tile family to one cell's members).
    * Input must carry (vid, v, nrm) plus the key columns; output is the
    * verified (id_a, id_b) pair set with id_a < id_b, plus the keys. */
  private[graft] def blockedCosinePairs(e: DataFrame, keys: Seq[String],
      threshold: Double, blocks: Int): DataFrame = {
    val blocked =
      e.withColumn("blk", pmod(xxhash64(col("vid")), lit(blocks)).cast("int"))
    val keep = keys.map(col) ++ Seq(col("vid"), col("v"), col("nrm"))
    val left = blocked.select(keep :+ col("blk").as("ba") :+
      explode(expr(s"sequence(blk, ${blocks - 1})")).as("bb"): _*)
    val right = blocked.select(keep :+
      explode(expr("sequence(0, blk)")).as("ba") :+ col("blk").as("bb"): _*)
    val on = (keys.map(k => col(s"a.$k") === col(s"b.$k")) ++
      Seq(col("a.ba") === col("b.ba"), col("a.bb") === col("b.bb")))
      .reduce(_ && _)
    // Explicit co-partitioning on the tile key — UNSCOPED joins only —
    // with an explicit partition count AQE must respect: the all-pairs
    // join is COMPUTE-dense (each tile pays (n/B)² dot products over a
    // few MB of vectors) and AQE's bytes-based coalescing otherwise
    // folds the sub-advisory-size shuffle into ONE partition that
    // computes every tile serially (r14 profile: dedup_embedding's 2M
    // dot products in two 1-task stages; 2.3 → 0.9 s with this). The
    // KEYED form ([[semanticDedup]]'s per-cell tiles) is left on the
    // planner's plan: its tiles are cell-bounded and the same explicit
    // exchange measured it 0.7 → 1.6 s (tiny-tile scheduling floor).
    // Pair set and per-pair floats are identical either way.
    val (l, r) =
      if (keys.nonEmpty) (left, right)
      else {
        val n = e.sparkSession.sessionState.conf.numShufflePartitions
        val tk = Seq(col("ba"), col("bb"))
        (left.repartition(n, tk: _*), right.repartition(n, tk: _*))
      }
    l.as("a")
      .join(r.as("b"), on)
      // diagonal tiles hold the same rows on both sides: order there; off-
      // diagonal tiles see each unordered pair exactly once, any order
      .filter(col("a.ba") =!= col("a.bb") || col("a.vid") < col("b.vid"))
      .filter(col("a.vid") =!= col("b.vid"))
      .filter(VectorOps.dot(col("a.v"), col("b.v")) >=
        lit(threshold) * col("a.nrm") * col("b.nrm"))
      .select(keys.map(k => col(s"a.$k")) ++ Seq(
        least(col("a.vid"), col("b.vid")).as("id_a"),
        greatest(col("a.vid"), col("b.vid")).as("id_b")): _*)
  }

  /** Near-dup pairs via **banded random-hyperplane LSH** — the high-
    * threshold scale path. `tables` independent signatures of
    * `planesPerTable` sign bits each; vectors equi-join on
    * (table, signature) — hash-partitionable, never all-pairs — and only
    * colliding pairs pay the exact cosine verification, so output is
    * exact-precision with recall 1 − (1 − p^b)^L for per-plane agreement
    * p = 1 − θ/π. Defaults (b=8, L=16) give ≥ 0.996 at cos 0.9 and
    * ≈ 1 − 3·10⁻¹⁶ at cos 0.999 — property-tested against the exact
    * blocked join on planted near-dups. */
  def embeddingNearDupLsh(df: DataFrame, id: Column, vec: Column,
      threshold: Double, dim: Int = -1, planesPerTable: Int = 8,
      tables: Int = 16): DataFrame = {
    // dim ≤ 0 means "derive from the data": hyperplanes must match the
    // vector width, and a silently mis-sized default would zero-pad or
    // truncate every projection. One 1-row limit job at construction.
    val planeDim =
      if (dim > 0) dim
      else df.select(size(vec)).limit(1).collect()
        .headOption.map(_.getInt(0))
        .getOrElse(throw new IllegalArgumentException(
          "embeddingNearDupLsh: empty input and no explicit dim"))
    require(planeDim > 0, s"embeddingNearDupLsh: bad vector dim $planeDim")
    val rng = new scala.util.Random(4242L)
    val e = df.select(id.as("vid"), vec.as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val sigs = (0 until tables).map { t =>
      val sig = (0 until planesPerTable).map { i =>
        val plane = Array.fill(planeDim)(rng.nextGaussian().toFloat)
        when(VectorOps.dot(col("v"), lit(plane)) >= 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_.bitwiseOR(_))
      struct(lit(t).as("t"), sig.as("sig"))
    }
    val banded = e.select(col("vid"), col("v"), col("nrm"),
      explode(array(sigs: _*)).as("b"))
      .select(col("vid"), col("v"), col("nrm"),
        col("b.t").as("t"), col("b.sig").as("sig"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.vid") < col("b.vid"))
      // verify in the join's own stage (codegen'd dot, cheaper than
      // shuffling vectors through a pre-verify distinct), THEN dedupe the
      // id pairs that collided in several tables
      .filter(VectorOps.dot(col("a.v"), col("b.v")) >=
        lit(threshold) * col("a.nrm") * col("b.nrm"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct()
  }

  // ------------------------------------------------------- semantic dedup

  /** **Semantic dedup** (the SemDedup shape — Abbas et al. 2023): cluster
    * the embedding space into cells, then within each cell drop every
    * vector whose cosine to a lower-id cell-mate reaches `threshold`,
    * keeping each similarity group's minimum id. Returns one row per input
    * vector: (vec_id, cell, is_dup).
    *
    * Cells come from **seeded medoids**, not iterated k-means: the
    * `nCells` vectors with the smallest md5(salt‖id) are the cell centers,
    * and every vector is assigned to its max-cosine seed (ties → lowest
    * seed id). Data-adaptive centroids ([[KMeansLite]], the IVF trainer)
    * would tighten the cells, but medoid seeding keeps the whole operator
    * a deterministic function of the data that an external SQL engine can
    * reproduce row for row — which is what makes it oracle-checkable. The
    * argmax fold and the pair filter reuse the exact IEEE chains the
    * proven queries use (cos = dot/(‖a‖‖b‖) for ranking, dot ≥ t·‖a‖‖b‖
    * for the threshold), so both engines agree bitwise.
    *
    * Scale shape (the round-5 verdict's top item, rebuilt): seeds stay a
    * DATAFRAME — one bounded TakeOrdered of nCells rows, broadcast into
    * the assignment join — never a set of per-seed literal expressions
    * (the replaced formulation embedded every seed vector in the plan,
    * capping nCells at ~10² before the generated code blew the JVM method
    * limit). Assignment expands n×nCells rows INSIDE the scan task
    * (broadcast nested loop — the bounded side ships, the corpus never
    * moves) and a partial-aggregate argmax collapses them back to n rows
    * map-side before the only exchange, so shuffle volume is n skinny
    * rows regardless of nCells — 10⁴–10⁵ cells plan the identical shape
    * (spec-asserted at nCells=256: constant expression count, one
    * BroadcastExchange). Within-cell verification runs through the
    * balanced tile join ([[blockedCosinePairs]] keyed on cell) rather
    * than a raw per-cell all-pairs self-join, so one hot cell's
    * quadratic work spreads over B(B+1)/2 reducers instead of one. At
    * corpus scale, grow nCells ∝ n so cells stay ~constant-sized. */
  def semanticDedup(df: DataFrame, id: Column, vec: Column,
      threshold: Double, nCells: Int = 8,
      seedSalt: String = "graft-seed", blocks: Int = 8): DataFrame = {
    val e = df.select(id.as("vec_id"), vec.as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    // one bounded TakeOrdered plan: the nCells rows with smallest
    // md5(salt||id) — a deterministic uniform draw both engines can rank.
    // Stays lazy: no collect, no driver round-trip.
    val seeds = e
      .orderBy(md5(concat(lit(seedSalt), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(nCells)
      .select(col("vec_id").as("sid"), col("v").as("sv"), col("nrm").as("snrm"))
    // Argmax cosine via min over NARROW (−cos, sid) structs: min(−cos) =
    // max cos, ties → lowest seed id — the same rule as ORDER BY cos DESC,
    // seed_id. (Not min_by: its tie-break is undefined, and two identical
    // seed vectors tie exactly.) The projection drops v/nrm BEFORE the
    // aggregate, so the n×nCells expanded stream the partial aggregate
    // sorts is 24-byte rows, never embedding arrays; vectors re-attach
    // by one equi-join on vec_id afterwards. Seed norms come from the
    // same codegen'd sqrt(Σx²) chain as the corpus side, so cosines are
    // bitwise identical to the replaced literal path (spec-asserted).
    val sc = struct(
      (-(VectorOps.dot(col("v"), col("sv")) / (col("nrm") * col("snrm"))))
        .as("negcos"),
      col("sid").as("sid"))
    val assign = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), sc.as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("sc")).getField("sid").as("cell"))
    // persisted: the assigned frame feeds both sides of the verification
    // tile join AND the final projection — without the memo the
    // broadcast expansion would execute three times
    val cells = memoPersist(e.join(assign, Seq("vec_id")))
    val dups = blockedCosinePairs(
        cells.select(col("vec_id").as("vid"), col("v"), col("nrm"), col("cell")),
        keys = Seq("cell"), threshold = threshold, blocks = blocks)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    cells.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  /** The replaced per-seed-literal formulation of [[semanticDedup]], kept
    * as the reference implementation for the equivalence spec (and as the
    * zero-join option when nCells is tiny and fixed): every seed vector
    * becomes a plan literal and the argmax is ONE array_min over (−cos,
    * seed) structs. Correct, but expression count grows with nCells —
    * beyond ~10² the generated code exceeds the JVM method limit, which
    * is exactly why the production path above joins a broadcast seeds
    * DataFrame instead. */
  private[graft] def semanticDedupLiteral(df: DataFrame, id: Column,
      vec: Column, threshold: Double, nCells: Int = 8,
      seedSalt: String = "graft-seed"): DataFrame = {
    val e = df.select(id.as("vec_id"), vec.as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val seeds = e
      .orderBy(md5(concat(lit(seedSalt), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(nCells)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(seeds.nonEmpty, "semanticDedup: empty input")
    // seed norms are driver-side literals computed with the identical
    // left-to-right double fold as [[VectorOps.dot]]
    def cosTo(s: Array[Float]): Column = {
      val sn = math.sqrt(s.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      VectorOps.dot(col("v"), lit(s)) / (col("nrm") * lit(sn))
    }
    val scored = array(seeds.map { case (sid, sv) =>
      struct((-cosTo(sv)).as("negcos"), lit(sid).as("sid"))
    }: _*)
    val cells = e.withColumn("cell", array_min(scored).getField("sid"))
    val dups = cells.as("a")
      .join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(VectorOps.dot(col("a.v"), col("b.v")) >=
        lit(threshold) * col("a.nrm") * col("b.nrm"))
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    cells.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }
}
