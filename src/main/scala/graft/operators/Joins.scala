package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Join utilities for the shapes AQE can't fully solve on its own:
  * explicit key salting for pathological skew, and bucketed co-located
  * joins that eliminate the shuffle entirely for repeated fact-fact
  * joins.
  *
  * At 100 TB the join taxonomy is: dims → broadcast (automatic under the
  * threshold, `broadcast()` hint above it); fact↔fact one-off → sort-merge
  * with AQE skew splitting; fact↔fact repeated on a stable key →
  * bucketed tables (pay the layout once, join shuffle-free forever);
  * single hot key melting a task → [[saltedJoin]]. */
object Joins {

  /** Join types the salting construction preserves: every *big*-side row
    * carries exactly one salt and meets exactly one replica of its key, so
    * inner / left-outer / left-semi / left-anti semantics survive. The
    * *small* side is replicated `salt` ways, so right/full-outer would emit
    * each unmatched small-side row `salt` times — rejected up front. */
  private val saltableJoinTypes =
    Set("inner", "cross", "left", "leftouter", "left_outer",
      "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti")

  /** Skew-safe equi-join: explode the small side `salt` ways, scatter the
    * big side's hot keys uniformly across the salt space. Correct for any
    * join type where output rows are driven by the big side (see
    * [[saltableJoinTypes]]). AQE's skew handling splits oversized
    * *partitions*; salting splits an oversized *key*, which AQE cannot
    * (all rows of one key hash to one partition by definition). */
  def saltedJoin(
      big: DataFrame, small: DataFrame,
      bigKey: Column, smallKey: Column,
      salt: Int, joinType: String = "inner"): DataFrame = {
    require(saltableJoinTypes.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin preserves big-side-driven join semantics only " +
        s"(${saltableJoinTypes.mkString(", ")}); got '$joinType' — the " +
        "replicated small side would duplicate unmatched rows")
    // Salt values are NONDETERMINISTIC across task retries
    // (monotonically_increasing_id depends on partition layout) — and
    // that is fine by construction: every salt value matches the same
    // replicated small-side row, so the JOIN OUTPUT is identical
    // whatever salt a row draws. Do not "fix" this by deriving the salt
    // from the key: that would put every copy of a hot key back in one
    // partition, which is the skew this operator exists to remove.
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salt)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedBig
      .join(saltedSmall,
        bigKey === smallKey && saltedBig("__salt") === saltedSmall("__salt"),
        joinType)
      .drop("__salt")
  }

  /** [[saltedJoin]] with the salt width MEASURED, not guessed: a
    * Misra–Gries probe over the big side's key column finds the hot
    * keys cheaply (≤ 4096 rows/task shuffle — never a full per-key
    * count), an exact recount of just those candidates gives the true
    * max-per-key, and the salt becomes the smallest s with
    * max/s ≤ 8 × mean (clamped to 64). No key above the mean
    * can hide from the probe: MG guarantees every key with share
    * > n/4097 of rows surfaces, and a key below 1/4097
    * (0.02%) cannot melt a task at any realistic
    * partition count. When the measured skew needs no salting (s = 1)
    * the plain join is returned untouched — the probe is the only cost.
    * Decision is logged; measurement is [[Dedup.memoGate]]-memoized per
    * (plan, session) so constructing the query twice probes once.
    *
    * This is [[graft.functions.FrequentItems]] powering PLANNING: the
    * same summary that answers `heavy_hitters` sizes the physical join —
    * what `skew_report`'s scaladoc promised by hand, done by the
    * engine. */
  def saltedJoinAuto(
      big: DataFrame, small: DataFrame,
      bigKey: Column, smallKey: Column): DataFrame = {
    val (kProbe, maxSalt) = (4096, 64)
    val pre = big.select(bigKey.as("__k"))
    val probe = pre.agg(
      graft.functions.FrequentItems(col("__k"), kProbe).as("cands"),
      count(col("__k")).as("n"),
      approx_count_distinct(col("__k")).as("nk"))
    val salt = Dedup.memoGate(probe) {
      val row = probe.head()
      val cands = row.getSeq[Any](0)
      val n = row.getLong(1)
      val nk = math.max(row.getLong(2), 1L)
      val avg = math.max(n.toDouble / nk, 1.0)
      val maxHot =
        if (cands.isEmpty) 0L
        else pre.filter(col("__k").isin(cands: _*))
          .groupBy(col("__k")).agg(count(lit(1)).as("c"))
          .agg(max(col("c"))).head().getLong(0)
      val s = math.min(maxSalt.toLong, math.ceil(maxHot / (8.0 * avg)).toLong)
      math.max(1L, s).toInt
    }
    if (salt > 1) {
      System.err.println(s"[graft] saltedJoinAuto: measured hot-key skew, salting $salt ways")
      saltedJoin(big, small, bigKey, smallKey, salt)
    } else big.join(small, bigKey === smallKey)
  }

  /** Write both sides bucketed+sorted by the join key. Subsequent joins
    * on that key read co-located buckets — zero Exchange in the plan.
    * The standard layout investment for a fact table joined repeatedly
    * on the same key. */
  /** Drop a managed table AND its warehouse directory. A table dir left
    * by a PREVIOUS JVM is not in this session's in-memory catalog, and
    * saveAsTable(Overwrite) refuses the stale location instead of
    * replacing it — clearing both makes table writes idempotent across
    * sessions, not just within one. */
  private[graft] def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    dropTableAndLocation(spark, table)
    // Pre-partition BY THE BUCKET FUNCTION before the bucketed write:
    // `bucketBy` itself never shuffles — each input task sorts its rows
    // and writes one file per bucket it holds — so an under-split scan
    // writes the whole table through one task (r14 profile:
    // bucketed_join spent its wall in two 1-task sort+write stages),
    // and a WIDE scan writes tasks×buckets files. repartition(buckets,
    // key) is the same Murmur3 pmod the bucket spec uses, so each task
    // holds exactly one bucket: `buckets` parallel writers, one file
    // per bucket (the layout bucket-sorted reads want), identical rows.
    df.repartition(buckets, col(key))
      .write
      .mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key))

  /** Pure **band join** — all (left, right) pairs whose timestamps lie
    * within `epsMicros` of each other, with NO equi key to ride on (the
    * case a naive formulation turns into a nested-loop cross product).
    * Binning makes it an equi-join: timestamps quantize to ε-width bins,
    * the right side replicates to its bin and both neighbors, so any pair
    * within ε shares exactly ONE join key (left's bin) — hash-
    * partitionable, shuffle ∝ 3·|right| + |left|, and only same-bin
    * candidates (≈ ε-density × |right| per left row) pay the exact
    * |Δt| ≤ ε verification. Skewed hot bins split under AQE like any
    * equi-join. Caller disambiguates column names before the call. */
  def bandJoin(left: DataFrame, right: DataFrame, lTs: Column, rTs: Column,
      epsMicros: Long): DataFrame = {
    require(epsMicros > 0, "band join needs a positive epsilon")
    // exact integral floor-division: (t - pmod(t, ε)) / ε — the numerator
    // is an exact multiple, so the correctly-rounded divide returns the
    // bin id exactly at ANY ε (a plain floor(t/ε) in double can misbin
    // once 1/ε drops under the quotient's half-ulp, e.g. day-scale bands
    // on µs timestamps); pmod keeps negative (pre-1970) timestamps on the
    // floor convention
    def bin(t: Column): Column =
      ((t - pmod(t, lit(epsMicros))) / epsMicros).cast("long")
    val l = left
      .withColumn("__bt_l", unix_micros(lTs))
      .withColumn("__bin", bin(col("__bt_l")))
    val r0 = right.withColumn("__bt_r", unix_micros(rTs))
    val r = r0.withColumn("__bin",
      explode(array(bin(col("__bt_r")) - 1, bin(col("__bt_r")),
        bin(col("__bt_r")) + 1)))
    l.join(r, "__bin")
      .filter(abs(col("__bt_l") - col("__bt_r")) <= epsMicros)
      .drop("__bin", "__bt_l", "__bt_r")
  }

  /** **Interval overlap join without a cartesian product**: pairs of
    * rows whose CLOSED timestamp intervals `[lStart, lEnd]` /
    * `[rStart, rEnd]` intersect (touching endpoints count). The naive
    * form is a θ-join Spark can only plan as BroadcastNestedLoop or
    * cartesian — O(|L|·|R|) comparisons. This is the standard bin
    * replication instead: each interval is exploded to the fixed-width
    * bins it covers, candidates meet through a plain **equi-join on the
    * bin id** (hash-partitionable, AQE-skew-splittable), the exact
    * overlap predicate verifies, and each true pair is emitted **exactly
    * once** — only at the FIRST bin the two intervals share
    * (`greatest` of the start bins), so no distinct pass is needed.
    * Shuffle ∝ Σ⌈len/bin⌉ per side; comparisons ∝ same-bin candidate
    * density, not |L|·|R|. Pick `binMicros` near the typical interval
    * length: shorter bins replicate more, longer bins verify more
    * (`bandJoin`'s ε trade-off, extended to spans). Intervals much
    * longer than the bin (an interval-length skew) are the documented
    * multi-resolution refinement at 100 TB — split the interval table by
    * length decade and union the per-decade joins. Malformed intervals
    * (end < start) fail LOUDLY rather than silently vanishing —
    * `sequence(a, b)` with b < a would generate a *descending* bin list
    * and quietly join wrong bins. Caller disambiguates column names
    * before the call (the [[bandJoin]] contract). */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      lStart: Column, lEnd: Column, rStart: Column, rEnd: Column,
      binMicros: Long): DataFrame = {
    require(binMicros > 0, "interval join needs a positive bin width")
    def bin(t: Column): Column =
      ((t - pmod(t, lit(binMicros))) / binMicros).cast("long")
    // the malformed-interval guard compares the VALUES, not the bins: a
    // reversed interval inside one bin has equal bin ids and would slip
    // a bin-level check, then pass the overlap predicate as a bogus pair
    def bins(s: Column, e: Column, b0: Column, b1: Column,
        side: String): Column =
      when(e >= s, sequence(b0, b1))
        .otherwise(raise_error(
          lit(s"intervalOverlapJoin: $side interval has end < start"))
          .cast("array<long>"))
    val l = left
      .withColumn("__ls", unix_micros(lStart))
      .withColumn("__le", unix_micros(lEnd))
      .withColumn("__lb0", bin(col("__ls")))
      .withColumn("__bin",
        explode(bins(col("__ls"), col("__le"),
          col("__lb0"), bin(col("__le")), "left")))
    val r = right
      .withColumn("__rs", unix_micros(rStart))
      .withColumn("__re", unix_micros(rEnd))
      .withColumn("__rb0", bin(col("__rs")))
      .withColumn("__bin",
        explode(bins(col("__rs"), col("__re"),
          col("__rb0"), bin(col("__re")), "right")))
    l.join(r, "__bin")
      .filter(col("__ls") <= col("__re") && col("__rs") <= col("__le"))
      .filter(col("__bin") === greatest(col("__lb0"), col("__rb0")))
      .drop("__bin", "__lb0", "__rb0", "__ls", "__le", "__rs", "__re")
  }
}
