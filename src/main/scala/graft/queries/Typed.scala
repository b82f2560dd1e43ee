package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Typed Dataset API coverage: a case-class `Aggregator` (the typed-UDAF
  * surface) and a range-frame window — plus approx percentile (sketch,
  * rows-only). */
object Typed {

  final case class DocRow(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  final case class CharStats(total_chars: Long, n_docs: Long)

  /** Typed Aggregator — partial-mergeable like any DeclarativeAggregate;
    * demonstrates the `Aggregator[IN, BUF, OUT]` API on a reduction whose
    * correctness the SQL oracle can check. */
  object charStatsAgg extends Aggregator[DocRow, CharStats, CharStats] {
    override def zero: CharStats = CharStats(0L, 0L)
    override def reduce(b: CharStats, d: DocRow): CharStats =
      CharStats(b.total_chars + d.n_chars, b.n_docs + 1)
    override def merge(a: CharStats, b: CharStats): CharStats =
      CharStats(a.total_chars + b.total_chars, a.n_docs + b.n_docs)
    override def finish(b: CharStats): CharStats = b
    override def bufferEncoder: Encoder[CharStats] = Encoders.product[CharStats]
    override def outputEncoder: Encoder[CharStats] = Encoders.product[CharStats]
  }

  /** Dataset[DocRow].groupByKey(...).agg(typed Aggregator). */
  def typedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .as[DocRow]
      .groupByKey(_.lang)
      .agg(charStatsAgg.toColumn.name("stats"))
      .select(col("key").as("lang"),
        col("stats.total_chars").as("total_chars"),
        col("stats.n_docs").as("n_docs"))
      .orderBy("lang")
  }

  private val typedAggSql =
    """SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars, COUNT(*) AS n_docs
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** RANGE frame (value-based, not row-based): trailing-hour activity per
    * user keyed on floored epoch seconds — the frame is a value interval,
    * so simultaneous events are all included regardless of row order. */
  def windowRange(spark: SparkSession, dir: String): DataFrame = {
    val sec = col("ts").cast("long")
    val w = Window.partitionBy(col("user_id")).orderBy(sec)
      .rangeBetween(-3600L, 0L)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("cnt_1h"),
        sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double").as("sum_1h"))
      .orderBy("event_id")
  }

  private val windowRangeSql =
    """SELECT event_id, user_id, ts,
      |  COUNT(*) OVER w AS cnt_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** approx_percentile — sketch-based, engine-specific: rows-only. Output
    * flattened to scalar p50/p95 columns (array-typed outputs break the
    * driver's pandas row-sort). */
  def approxPct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50"),
        approx_percentile(col("l_extendedprice"), lit(0.95), lit(10000)).as("p95"))
      .orderBy("l_returnflag")

  /** Exact discrete percentiles — the oracle-checkable twin of
    * [[approxPct]]: the value at rank ⌈p·n⌉ under a total (value, id)
    * order. Pure integer rank logic + pass-through doubles, so both
    * engines agree bit-for-bit; no interpolation (engine float kernels
    * would diverge). */
  def exactPct(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag")))
          .as("n"))
      .groupBy(col("l_returnflag"))
      .agg(
        max(when(col("rn") === ceil(lit(0.5) * col("n")), col("l_extendedprice")))
          .as("p50"),
        max(when(col("rn") === ceil(lit(0.95) * col("n")), col("l_extendedprice")))
          .as("p95"))
      .orderBy("l_returnflag")
  }

  /** **The same order statistics WITHOUT a sort**
    * ([[graft.operators.Sampling.quantilesBySearch]]): the rank-⌈q·n⌉
    * values of [[exactPct]] found by distributed binary-search
    * selection over the exact-cents domain — O(log range) shuffle-free
    * counting scans instead of the per-group rank-window sort. Same
    * oracle SQL, so the driver hash-pins selection ≡ sort. The final
    * join-back fetches the ORIGINAL double for the selected cents (the
    * cents encoding is order-preserving but reconstruction by division
    * is not guaranteed bitwise). */
  def exactPctSearch(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val sel = graft.operators.Sampling.quantilesBySearch(
      li.select(col("l_returnflag").as("g"), cents.as("v")),
      qs = Seq(0.5, 0.95))
    val back = sel
      .join(li.select(col("l_returnflag").as("g"), cents.as("v"),
        col("l_extendedprice").as("orig")), Seq("g", "v"))
      .groupBy(col("g"), col("q")).agg(min(col("orig")).as("value"))
    back.groupBy(col("g").as("l_returnflag"))
      .agg(max(when(col("q") === 0.5, col("value"))).as("p50"),
        max(when(col("q") === 0.95, col("value"))).as("p95"))
      .orderBy("l_returnflag")
  }

  private val exactPctSql =
    """SELECT l_returnflag,
      |  MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN l_extendedprice END) AS p50,
      |  MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN l_extendedprice END) AS p95
      |FROM (
      |  SELECT l_returnflag, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** **Sample-based quantiles** ([[graft.operators.Sampling
    * .sampleQuantiles]]): per-flag p50/p90/p99 estimates from the 512
    * lexicographically-smallest md5(salt ‖ rowkey) rows per group — the
    * approximate-percentile path that is still hash-checkable, because a
    * bottom-k-by-hash sample is a pure function of (salt, data) where
    * every sketch (incl. [[approxPct]]) is merge-order-dependent.
    * [[exactPct]] is the exactness anchor; the spec bounds the rank
    * error. The row key `l_orderkey|l_linenumber` is not unique, so
    * rows with equal hashes rank by value (the `struct(h, v)` order),
    * and the oracle orders by the same two keys. */
  def quantileSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.sampleQuantiles(
      Tables.lineitem(spark, dir), col("l_returnflag"),
      concat(col("l_orderkey").cast("string"), lit("|"),
        col("l_linenumber").cast("string")),
      col("l_extendedprice"), k = 512)

  private val quantileSampleSql =
    """WITH s AS (
      |  SELECT l_returnflag AS grp, l_extendedprice AS v,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY md5('graft' || CAST(l_orderkey AS VARCHAR) || '|' ||
      |                   CAST(l_linenumber AS VARCHAR)), l_extendedprice) AS rn
      |  FROM lineitem),
      |t AS (SELECT grp, list(v ORDER BY v) AS vs
      |      FROM s WHERE rn <= 512 GROUP BY grp)
      |SELECT grp, CAST(len(vs) AS BIGINT) AS n_sample,
      |  vs[CAST(greatest(1, (500 * len(vs) + 999) // 1000) AS BIGINT)] AS q500,
      |  vs[CAST(greatest(1, (900 * len(vs) + 999) // 1000) AS BIGINT)] AS q900,
      |  vs[CAST(greatest(1, (990 * len(vs) + 999) // 1000) AS BIGINT)] AS q990
      |FROM t ORDER BY grp""".stripMargin

  val all: Seq[Q] = Seq(
    Q("typed_agg", typedAggSql)(typedAgg),
    Q("window_range", windowRangeSql)(windowRange),
    Q("exact_pct", exactPctSql)(exactPct),
    // selection ≡ sort: the search twin answers the same oracle
    Q("exact_pct_search", exactPctSql)(exactPctSearch),
    Q("quantile_sample", quantileSampleSql)(quantileSample),
    Q.noOracle("approx_pct")(approxPct))
}
