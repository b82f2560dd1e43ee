package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible corpus sampling — the training-mix primitive: membership
  * is a pure function of (salt, key), so a sample is stable across runs,
  * machines, and engines (no RNG state, no `sample()`'s
  * partition-dependent draws), documents keep or lose membership only
  * when the salt changes, and resampling at a larger fraction is a strict
  * superset (threshold monotonicity). That is what lets a 100 TB corpus
  * pipeline publish "the 2% slice" as a deterministic, re-derivable set
  * rather than a materialized artifact.
  *
  * Mechanics: md5(salt ‖ key) compared lexicographically against the
  * fraction's 128-bit hex threshold. Hex strings of equal length compare
  * monotonically with their numeric value, md5 is uniform, and both
  * Spark and DuckDB emit identical lowercase hex — so the oracle can
  * check exact membership, not just counts. */
object Sampling {

  /** The 32-hex-digit threshold for a fraction: ⌊frac · 16³²⌋, zero-padded
    * — md5 hex below it ⇔ the key falls in the sample. fraction = 1.0
    * returns "g", which every 32-char hex string sorts strictly below
    * ('f' < 'g'), so a 100% sample keeps EVERY key — including one whose
    * md5 is ffff…f, which a clamped 16³²−1 threshold with strict `<`
    * would wrongly drop. Lexicographic in both Spark and DuckDB. */
  private[graft] def thresholdHex(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction outside [0,1]")
    if (fraction >= 1.0) return "g"
    val full = BigInt(16).pow(32)
    // java.math.BigDecimal: exact, unlimited precision — Scala's
    // BigDecimal defaults to MathContext.DECIMAL128 (34 significant
    // digits) and silently rounds the 39-digit 16³² product
    val t = BigInt(new java.math.BigDecimal(fraction)
      .multiply(new java.math.BigDecimal(full.bigInteger)).toBigInteger)
    val clamped = t.min(full - 1).max(BigInt(0))
    f"${clamped}%032x".takeRight(32)
  }

  /** Deterministic Bernoulli(fraction) membership for a key column. */
  def hashSample(df: DataFrame, key: Column, fraction: Double,
      salt: String = "graft"): DataFrame =
    df.filter(md5(concat(lit(salt), key.cast("string"))) < lit(thresholdHex(fraction)))

  /** Deterministic disjoint split (train/val/test): the md5 keyspace is
    * partitioned at the cumulative-fraction thresholds, so every key maps
    * to exactly one split, assignments never migrate between splits when
    * run again (or on another engine), and growing one split's fraction
    * only moves keys across the adjacent boundary. Fractions must sum to
    * ≤ 1; the remainder maps to `otherwise`. */
  def splitColumn(key: Column, splits: Seq[(String, Double)],
      salt: String = "graft", otherwise: String = "rest"): Column = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 1.0 + 1e-9,
      "split fractions must be non-empty and sum to <= 1")
    val h = md5(concat(lit(salt), key.cast("string")))
    splits.map(_._1).zip(splitThresholds(splits.map(_._2))).reverse
      .foldLeft(lit(otherwise)) { case (acc, (name, hex)) =>
        when(h < lit(hex), lit(name)).otherwise(acc)
      }
  }

  /** Cumulative split boundaries as hex thresholds — shared by
    * [[splitColumn]] and oracle-SQL generation so double-precision
    * accumulation (0.8+0.1 = 0.9000000000000001) can never put the two
    * engines on different boundaries. */
  private[graft] def splitThresholds(fractions: Seq[Double]): Seq[String] =
    fractions.scanLeft(0.0)(_ + _).tail.map(c => thresholdHex(math.min(c, 1.0)))

  /** Per-stratum fractions (e.g. language-balanced training mixes):
    * strata absent from the map get `defaultFraction`. */
  def stratifiedSample(df: DataFrame, key: Column, strata: Column,
      fractions: Map[String, Double], defaultFraction: Double = 0.0,
      salt: String = "graft"): DataFrame = {
    val threshold = fractions.foldLeft(lit(thresholdHex(defaultFraction))) {
      case (acc, (s, f)) => when(strata === s, lit(thresholdHex(f))).otherwise(acc)
    }
    df.filter(md5(concat(lit(salt), key.cast("string"))) < threshold)
  }

  /** **Exact-n stratified sample**: the n lexicographically-smallest
    * md5(salt ‖ key) keys per stratum — a fixed-size quota per language /
    * source rather than [[stratifiedSample]]'s fixed *rate*. Like every
    * sampler here it is a pure function of (salt, key): re-running,
    * re-partitioning, or growing the corpus only ever *displaces* the
    * largest retained hashes, and the oracle checks exact membership.
    *
    * Scale shape: the per-stratum quota runs through
    * [[graft.functions.BoundedTopK]], a partial-mergeable aggregate —
    * each map task reduces its partition to ≤ n rows per stratum before
    * the shuffle, so no stratum ever funnels its full document stream
    * through one task (the `row_number()` window formulation would: one
    * sort task per stratum, unusable when a stratum is half the corpus).
    * Emits (stratum, key, rn) with rn ∈ [1, n] in hash order. */
  def exactNPerStratum(df: DataFrame, key: Column, strata: Column, n: Int,
      salt: String = "graft"): DataFrame = {
    require(n > 0, s"per-stratum sample size must be positive (got $n)")
    val h = md5(concat(lit(salt), key.cast("string")))
    df.select(strata.as("stratum"), key.as("key"), h.as("h"))
      .groupBy(col("stratum"))
      .agg(graft.functions.BoundedTopK(
        struct(col("h"), col("key")), n).as("top"))
      .select(col("stratum"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("stratum"), col("t.key").as("key"),
        (col("pos") + 1).cast("long").as("rn"))
  }

  /** **Temperature-scaled mix** — the multilingual-LM sampling rule
    * (p_i ∝ n_i^α, here α = ½): per-stratum quotas q_i = ⌊T · √n_i /
    * Σ_j √n_j⌋ flatten the mix toward small strata (α→0 is uniform,
    * α=1 proportional), then the q_i lexicographically-smallest
    * md5(salt ‖ key) keys per stratum are kept — [[exactNPerStratum]]'s
    * machinery with data-derived quotas. α is fixed at ½ BECAUSE the
    * oracle must agree bitwise: IEEE 754 requires sqrt to be correctly
    * rounded (like +,·,/ and unlike pow/exp/log), so √n, the fold
    * Σ√n, and ⌊T·√n/Σ⌋ are bit-identical in the driver, in DuckDB, and
    * on any engine — the same "never compute libm" discipline as
    * `lm_unigram`, one notch wider (sqrt IS in the deterministic set).
    *
    * Scale shape: one #strata-row aggregate collected to the driver
    * (the bounded-collect discipline of KMeansLite / hashedFreq); the
    * normalizer folds over strata in SORTED-name order — the exact
    * sequence the oracle's running-sum window evaluates, so double
    * addition order can never diverge. Selection is the map-side
    * partial BoundedTopK capped at max quota, quotas joined back by
    * broadcast. Undersized strata (n_i < q_i) contribute everything —
    * sampling is without replacement; epoch-level repetition of small
    * strata is the dataloader's knob, not the selector's. */
  def temperatureMix(df: DataFrame, key: Column, strata: Column,
      totalDocs: Long, salt: String = "graft"): DataFrame = {
    require(totalDocs > 0 && totalDocs <= Int.MaxValue,
      s"totalDocs must be in [1, 2^31) (got $totalDocs)")
    // stratum keys fold as STRINGS (sorted-name order is the oracle's
    // window order) — cast up front so a non-string stratum column
    // works and sorts the same way everywhere
    val counts = df.groupBy(strata.cast("string").as("stratum"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val total = counts.foldLeft(0.0) { case (acc, (_, n)) =>
      acc + math.sqrt(n.toDouble) }
    val quotas = counts.map { case (s, n) =>
      (s, math.floor(totalDocs.toDouble * math.sqrt(n.toDouble) / total)
        .toLong) }
    val maxQ = math.max(quotas.map(_._2).max, 1L).toInt
    val qDf = df.sparkSession.createDataFrame(quotas.toSeq)
      .toDF("stratum", "quota")
    exactNPerStratum(df, key, strata.cast("string"), maxQ, salt)
      .join(broadcast(qDf), "stratum")
      .filter(col("rn") <= col("quota"))
      .select(col("stratum"), col("key"), col("rn"))
  }

  /** **Deterministic global shuffle**: every key gets a stable position
    * in md5(salt ‖ key) order plus its contiguous training shard — the
    * "shuffle once, read shards sequentially" layout every dataloader
    * wants. Position is a pure function of (salt, corpus): re-runs and
    * engines agree row-for-row, and changing the salt is a fresh
    * epoch-level reshuffle with no RNG state to carry.
    *
    * Scale shape: the global rank is the shared two-phase prefix sum
    * ([[PrefixSum.runningSums]] with a constant 1 — phase 1
    * range-partitions by the hash so partition order IS hash order),
    * never a partition-less `row_number()` window funnelling the corpus
    * through one task. Shards are `⌊(pos−1)/shardSize⌋`, so a shard is a
    * contiguous hash range — writable as one parquet directory per
    * shard with no second shuffle. */
  def shufflePositions(df: DataFrame, key: Column, shardSize: Long,
      salt: String = "shuf"): DataFrame = {
    require(shardSize > 0, s"shard size must be positive (got $shardSize)")
    val base = df.select(key.as("key"),
      md5(concat(lit(salt), key.cast("string"))).as("h"), lit(1L).as("one"))
    PrefixSum.runningSums(base, order = Seq(col("h"), col("key")),
        values = Seq("one"))
      .select(col("key"), col("one_cum").as("pos"),
        floor((col("one_cum") - lit(1)) / lit(shardSize)).cast("long").as("shard"))
  }

  /** **Token-budget selection**: keep the highest-`score` documents whose
    * cumulative token count stays within `budgetTokens` — "the best N
    * billion tokens", the greedy quality/quantity cut a training mix
    * makes after cleaning. The order is (score DESC, id) — id breaks
    * score ties, making the selected set a pure function of the corpus
    * (same docs on any engine, any partitioning, any run).
    *
    * The greedy rule is "a document is kept iff the budget was not yet
    * exhausted when its turn came": exclusive running total < budget.
    * The first document is kept even if it alone overflows the budget,
    * and the kept set overshoots by at most one document — the standard
    * greedy-fill contract, identical in the DuckDB oracle.
    *
    * Scale shape: the cumulative count is the shared two-phase prefix
    * sum ([[PrefixSum.runningSums]]) — no partition-less window ever
    * sees per-document rows, so the sweep holds at any corpus size. */
  def budgetSelect(df: DataFrame, id: Column, score: Column, nTokens: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"token budget must be positive (got $budgetTokens)")
    PrefixSum.runningSums(
        df.select(id.as("doc_id"), score.cast("long").as("score"),
          nTokens.cast("long").as("n_tokens")),
        order = Seq(col("score").desc, col("doc_id")),
        values = Seq("n_tokens"))
      .filter(col("n_tokens_cum") - col("n_tokens") < budgetTokens)
      .select(col("doc_id"), col("score"), col("n_tokens"),
        col("n_tokens_cum").as("cum_tokens"))
  }

  /** **Deterministic sample-based quantiles**: per-group quantile
    * estimates from the k lexicographically-smallest md5(salt ‖ key)
    * rows — the engine's answer to "approximate percentiles at 100 TB"
    * that is still HASH-CHECKABLE. Every quantile sketch (t-digest, KLL,
    * `approx_percentile`) is merge-order-dependent and so can only ever
    * be rows-only against an oracle; a bottom-k-by-hash sample is a pure
    * function of (salt, data) — the same membership determinism as
    * [[hashSample]] — so the estimate itself is bit-identical in DuckDB
    * and the driver gate verifies the whole path exactly.
    *
    * Statistically the sample is uniform (md5 order is independent of
    * the value column), so the q-quantile estimate has rank error
    * O(1/√k) — k = 512 gives ~±2-5 rank points, the same regime as
    * `approx_percentile`'s default accuracy. When k ≥ group size the
    * sample is the whole group and the estimate is EXACT (spec-pinned).
    *
    * Scale shape: one [[graft.functions.BoundedTopK]] aggregate — each
    * map task reduces to ≤ k rows per group before the shuffle (never a
    * per-group sort), estimates are per-row array arithmetic on the
    * ≤ k-element sample. The estimator is the discrete (no-interpolation)
    * upper quantile: sample value at rank ⌈q·n_s⌉ — integer index
    * arithmetic, value a pass-through double (determinism rules 2/4). */
  def sampleQuantiles(df: DataFrame, group: Column, key: Column,
      value: Column, k: Int, quantilesPermille: Seq[Int] = Seq(500, 900, 990),
      salt: String = "graft"): DataFrame = {
    require(k > 0, s"sample size must be positive (got $k)")
    require(quantilesPermille.nonEmpty &&
      quantilesPermille.forall(q => q > 0 && q <= 1000),
      s"quantiles must be permille in (0, 1000]: $quantilesPermille")
    val h = md5(concat(lit(salt), key.cast("string")))
    val qCols = quantilesPermille.map { q =>
      element_at(col("vs"),
        greatest(lit(1), expr(s"($q * size(vs) + 999) div 1000")).cast("int"))
        .as(s"q$q")
    }
    df.select(group.as("grp"), h.as("h"), value.as("v"))
      .groupBy(col("grp"))
      .agg(graft.functions.BoundedTopK(struct(col("h"), col("v")), k).as("top"))
      .select(col("grp"),
        array_sort(transform(col("top"), t => t.getField("v"))).as("vs"))
      .select(Seq(col("grp"), size(col("vs")).cast("long").as("n_sample")) ++
        qCols: _*)
      .orderBy("grp")
  }

  /** **Deterministic weighted sample**: the k rows with the smallest
    * `hash(salt ‖ key) / weight` priority — rows with larger weight get
    * proportionally smaller priorities and are more likely to enter the
    * sample, rows with equal weight compete uniformly (md5 order).
    * This is the hash-seeded cousin of Efraimidis–Spiliotis weighted
    * reservoir sampling with `u/w` in place of `u^(1/w)`: the exact
    * E–S exponent needs `pow`/`log` (libm — not hash-checkable across
    * engines), while the `u/w` priority is ONE IEEE division of a
    * 60-bit-hash double by the weight — bit-identical in Spark and
    * DuckDB, so the whole sample is exactly oracle-checkable. The
    * resulting inclusion probabilities are weight-monotone but not the
    * exact E–S probabilities; for training-mix work (favor long/
    * high-quality documents reproducibly) monotonicity + determinism is
    * the contract that matters, and the spec pins the monotone-inclusion
    * property on random corpora.
    *
    * Scale shape: priority is per-row arithmetic in the scan;
    * `orderBy(priority).limit(k)` plans as TakeOrderedAndProject —
    * every map task keeps ≤ k rows, the driver merges bounded heaps;
    * no global sort, no full shuffle, same shape at 100 TB. */
  def weightedPriorityTopK(df: DataFrame, key: Column, weight: Column,
      k: Int, salt: String = "graftws"): DataFrame = {
    require(k > 0, s"sample size must be positive (got $k)")
    val h = element_at(graft.functions.Md5Bits60(
      concat(lit(salt), key.cast("string"))), 1)
    df.filter(weight > 0)
      .select(key.as("key"), weight.as("weight"),
        (h.cast("double") / weight.cast("double")).as("priority"))
      .orderBy(col("priority"), col("key"))
      .limit(k)
  }

  /** **Exact discrete quantiles WITHOUT a sort — distributed
    * binary-search selection.** The rank-window form
    * (`exact_pct`-style) shuffles and sorts every row per group; this
    * finds the same rank-⌈q·n⌉ order statistic by bracketing it in the
    * integral VALUE domain: each round asks one aggregate —
    * per (group, q), how many values ≤ mid — and halves the bracket,
    * so the whole computation is O(log range) column-pruned scans with
    * ZERO data shuffles (counts are the only thing that moves, and the
    * `v ≤ mid` predicate lets parquet min/max skip whole row groups in
    * later rounds). The classic selection-vs-sort trade: scan-heavy,
    * shuffle-free — at 100 TB the sort's exchange is the bottleneck,
    * 40 cheap scans are not. All active (group, q) brackets advance in
    * the SAME round-trip (one broadcast of the mids frame), so rounds
    * — not groups×quantiles — bound the job count.
    *
    * Contract: `base` has a string `g` column and an integral-domain
    * `v` (LongType — map doubles through an order-preserving integer
    * encoding, e.g. exact cents); the driver holds groups×qs bracket
    * rows (bounded by group cardinality — use [[sampleQuantiles]] when
    * groups are unbounded). Returns (g, q, v): the smallest v in the
    * group with at least ⌈q·n⌉ values ≤ it — `percentile_disc`
    * semantics, always an existing value. */
  def quantilesBySearch(base0: DataFrame, qs: Seq[Double],
      maxIter: Int = 64): DataFrame = {
    require(qs.nonEmpty, "quantilesBySearch needs at least one quantile")
    val spark = base0.sparkSession
    import spark.implicits._
    // Spread before persist: every search round is a conditional
    // aggregate over THIS cached frame (up to groups×qs×63 predicates
    // per row, capped by cutBudget below), and a single-row-group input
    // otherwise runs all rounds on one task (r14 profile:
    // exact_pct_search 4.7 s at par 1.8; counts are partition-order-free
    // so the oracle hash is unchanged)
    val base = Dedup.memoPersist(Spread.cpuHeavy(
      base0.select(col("g").cast("string").as("g"),
        col("v").cast("long").as("v")).filter(col("v").isNotNull)))
    final case class Bracket(g: String, q: Double, rank: Long,
        var lo: Long, var hi: Long)
    val stats = base.groupBy("g")
      .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
      .collect()
    // a NULL group key would break every round's `g === lit` predicate
    // (NULL comparison ⇒ zero counts ⇒ the bracket silently converges
    // to the group MAX for every q) — reject loudly instead
    stats.find(_.isNullAt(0)).foreach { _ =>
      throw new IllegalArgumentException(
        "quantilesBySearch: NULL group key — filter or label it upstream")
    }
    val brackets = stats
      .flatMap { r =>
        qs.map(q => Bracket(r.getString(0), q,
          math.max(1L, math.ceil(q * r.getLong(1)).toLong),
          r.getLong(2), r.getLong(3)))
      }
    // wide bracket narrowing: each round tests up to fanout−1 thresholds
    // per bracket in ONE aggregate, so rounds (= driver round trips =
    // sequential scans) drop from log₂(range) ≈ 40 to log_fanout(range)
    // — the knob that matters, because per-round compute is trivial next
    // to job latency at small scale and scan cost at large.
    // r14: 64-way (was 16). r15: two convergence fixes found by the
    // stage profile (69 jobs where ~5 should do, 10–28× the cpu):
    //  (a) the old spacing ⌊span/fanout⌋·k collapsed EVERY cut to `lo`
    //      once span < fanout, degrading the endgame to lo+1 stepping —
    //      up to fanout−1 extra rounds, each a fresh
    //      active×(fanout−1)-expression aggregate whose new literals
    //      force a new codegen class (Janino compile per round, never
    //      JIT-hot). A bracket with span < fanout now ENUMERATES every
    //      value in [lo, hi) and converges in exactly one round;
    //  (b) wide brackets multiply before dividing (span·k/fanout), so
    //      spacing never degenerates at any span.
    // Each bracket still narrows ≥fanout-fold per round, so rounds =
    // ⌈log_fanout(range)⌉ exactly; the selection invariant (answer is
    // the min v with cle(v) ≥ rank, bracketed by the tested cuts) is
    // unchanged — same oracle, same hash.
    // fanout 16, not 64 (r15 revert of the r14 widening): the per-round
    // aggregate carries active×(fanout−1) count(when) columns, and the
    // generated update methods for a ~378-expression aggregate exceed
    // HotSpot's JIT size limits — the round runs interpreted at ~20× the
    // per-eval cost (measured: fanout 16 ⇒ ~10 cpu-s total for the
    // registered cents search; fanout 64 ⇒ 69–276 cpu-s). With the
    // small-span enumeration below, 16-way narrowing costs only
    // ⌈log₁₆/log₆₄⌉ ≈ 1.5× the rounds — each a ~0.1 s job — while every
    // round's expressions stay JIT-compilable.
    val fanout = 16
    var iter = 0
    while (brackets.exists(t => t.lo < t.hi)) {
      iter += 1
      if (iter > maxIter) throw new IllegalStateException(
        s"quantilesBySearch exceeded $maxIter rounds — non-integral domain?")
      val active = brackets.filter(t => t.lo < t.hi)
      // one agg row carries active×(fanout−1) count(when) expressions;
      // bound it when group cardinality is large (the function already
      // requires bounded groups, but a caller with hundreds of groups
      // must degrade to narrower fanout, not a 10⁴-expression codegen
      // unit — r14 advice). The registered bench workloads (≤ a dozen
      // brackets) keep the full fanout.
      val cutBudget = 2048
      val effFanout = math.max(2, math.min(fanout, cutBudget / active.length))
      // cuts are driver-known literals, so each round is ONE
      // conditional aggregate over the cached base — no mids join (a
      // join would replicate every row once per threshold, turning the
      // scan into rows × cuts work)
      val cutsOf = active.toSeq.map { t =>
        // BigInt span: hi − lo overflows Long when the domain spans
        // most of the Long range (exactly what an order-preserving
        // double encoding produces)
        val span = BigInt(t.hi) - BigInt(t.lo)
        val cuts =
          if (span < effFanout) (t.lo until t.hi).toSeq
          else (1 until effFanout)
            .map(k => (BigInt(t.lo) + span * k / effFanout).toLong)
            .distinct.filter(c => c >= t.lo && c < t.hi)
        t -> cuts
      }
      val aggs = cutsOf.zipWithIndex.flatMap { case ((t, cuts), ti) =>
        cuts.zipWithIndex.map { case (c, ci) =>
          count(when(col("g") === t.g && col("v") <= c, 1)).as(s"c_${ti}_$ci")
        }
      }
      val row = base.agg(aggs.head, aggs.tail: _*).head()
      cutsOf.zipWithIndex.foreach { case ((t, cuts), ti) =>
        val cs = cuts.zipWithIndex
          .map { case (c, ci) => (c, row.getAs[Long](s"c_${ti}_$ci")) }
        // answer = min v with cle(v) >= rank: the smallest tested
        // threshold reaching the rank bounds hi; the largest one below
        // it bounds lo
        cs.filter(_._2 >= t.rank).map(_._1).minOption.foreach(m => t.hi = math.min(t.hi, m))
        cs.filter(_._2 < t.rank).map(_._1).maxOption.foreach(m => t.lo = math.max(t.lo, m + 1))
      }
    }
    brackets.toSeq.map(t => (t.g, t.q, t.lo)).toDF("g", "q", "v")
  }
}
