package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run setup [[Bench]], [[Verify]] and [[graft.tools.Profile]] share:
  * one local session shape, one clear-state call, one query list and one
  * warm-up. */
private[graft] object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** `SPARK_GRAFT_CPUS` (default 4): the local master's thread count, also
    * the shuffle width when numeric (the host's processors otherwise,
    * e.g. for `*`). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `SPARK_GRAFT_SF_DIR` (default sf0.1): the tables timed runs read. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every memoized stage and measurement ([[operators.Dedup
    * .releaseCaches]]) and Spark's own cache, so the next query runs
    * cold: no query is timed against another query's (or its own first
    * run's) warm cache. */
  def clearState(spark: SparkSession): Unit = {
    operators.Dedup.releaseCaches()
    spark.catalog.clearCache()
  }

  /** The registered queries by name, cut to `GRAFT_ONLY=q1,q2` when set
    * (for local iteration; full runs leave it unset). Name
    * order, not Map iteration order: the fuzzy_match_k2 (r12) and
    * sparse_cosine (r13) drift adjudications both traced in-suite
    * per-query movement to registry-order churn — a query's slot (and so
    * how much JIT/codegen state precedes it) reshuffled every time the
    * registry grew. Name order pins each slot; additions shift only
    * their alphabetical neighbours. */
  def queries: Seq[(String, Query)] = {
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
  }

  /** Noop sink, not count(): under a bare count() Catalyst prunes every
    * unreferenced projection and drops sorts, so map-heavy queries would
    * measure little beyond the scan. The noop v2 sink consumes every row
    * with all output columns materialized. */
  def exec(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** One cold pass of `qs` over sf0.001 (when present), so timed runs
    * measure throughput, not one-time codegen/JIT/parquet-reader warm-up
    * (the first cold query otherwise absorbs ~5 s). Failures are left to
    * the timed pass to report. */
  def warmUp(spark: SparkSession, qs: Seq[(String, Query)]): Unit = {
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) qs.foreach { case (_, fn) =>
      clearState(spark)
      try exec(fn(spark, warmDir))
      catch { case _: Throwable => () }
    }
  }
}
