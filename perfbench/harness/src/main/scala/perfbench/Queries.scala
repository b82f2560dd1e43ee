package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Registered queries through `SparkEntry.queries`, each run cold (the
  * engine's memo caches and Spark's cache dropped first, as `graft.Bench`
  * does) with its result consumed by the `noop` sink. The order is read
  * from `<input>/queries.txt` (`name<TAB>table dir` lines), which the
  * seed fixes. */
final class LlmQueries(spark: SparkSession, a: Main.Args) extends Workload {
  private val plan: Seq[(String, String)] =
    scala.io.Source.fromFile(s"${a.input}/queries.txt").getLines()
      .filter(_.nonEmpty).map(_.split("\t")).map(f => (f(0), s"${a.input}/${f(1)}")).toSeq
  private val fns = SparkEntry.queries
  private val checkDir = s"${a.out}/check"
  // The cold first pass collects the results for the check; the second
  // runs as the timed passes do. The first four passes took 25.6, 14.1,
  // 11.5 and 10.9 s at 4 cpus; a third warm-up pass does not fit a run's
  // time.
  def warmupPasses: Int = 2
  def minPasses: Int = 1

  private def clearState(): Unit = {
    graft.queries.LlmOps.clearPairCache()
    graft.operators.Dedup.releaseCaches()
    spark.catalog.clearCache()
  }

  private def query(name: String, dir: String): DataFrame = {
    val fn = fns.getOrElse(name, throw new NoSuchElementException(s"no registered query $name"))
    fn(spark, dir)
  }

  private var results = Map.empty[String, (Array[Row], StructType)]

  /** The first warm-up pass collects each result for the check.
    * Collecting keeps each query's plan as the timed passes run it, up to
    * the root: a warm-up that wrote Parquet instead (other plans, other
    * generated code) left the first timed pass about 35% slower than the
    * next. */
  def warmup(i: Int): PassResult =
    if (i > 0) pass(s"warmup$i", None)
    else PassResult.time(plan.map { case (name, dir) =>
      clearState()
      OpResult.run(name) {
        val df = query(name, dir)
        results += name -> (df.collect(), df.schema)
      }
    })

  /** Writes each collected result as Parquet, with the oracle SQL beside
    * them, for the DuckDB comparison made after the run. */
  def checkPass(): Seq[OpResult] = {
    val ops = plan.map { case (name, _) =>
      OpResult.run(name) {
        val (rows, schema) = results.getOrElse(name,
          throw new IllegalStateException(s"$name produced no result to check"))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
      }
    }
    val oracles = SparkEntry.oracleSql
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(checkDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json(plan.flatMap { case (n, _) => oracles.get(n).map(n -> _) }.toMap))
    ops
  }

  def pass(tag: String, tracer: Option[Tracer]): PassResult = {
    def span[T](name: String)(body: => T): T = Tracer.within(tracer, name)(body)
    PassResult.time(span("pass")(plan.map { case (name, dir) =>
      clearState()
      OpResult.run(name)(span(s"queries.$name") {
        val df = span("build")(query(name, dir))
        span("exec")(df.write.mode("overwrite").format("noop").save())
      })
    }))
  }

  /** Per-layer figures from the last traced pass. */
  def layers(tracer: Tracer): Map[String, Double] = {
    tracer.settle()
    val pass = tracer.spans.filter(_.name == "pass").last
    val qs = tracer.children(pass)
    def kids(name: String) = qs.flatMap(tracer.children).filter(_.name == name)
    def tot(k: String) = tracer.total(pass, k)
    val busy = Tracer.coveredS(tracer.intervals(pass), pass.startMs, pass.endMs)
    Map(
      "queries.serial_s" -> (pass.wallS - busy),
      "queries.jobs" -> tot("jobs"),
      "queries.build_s" -> kids("build").map(_.wallS).sum,
      "queries.exec_s" -> kids("exec").map(_.wallS).sum,
      "queries.tasks" -> tot("tasks"),
      "queries.task_s" -> tot("task_s"),
      "queries.shuffle_write_mb" -> tot("shuffle_write_bytes") / 1e6,
      "queries.spill_mb" -> tot("spill_bytes") / 1e6,
      "queries.gc_s" -> tot("gc_s"),
      "plans.analysis_s" -> tot("phase_analysis"),
      "plans.optimization_s" -> tot("phase_optimization"),
      "plans.planning_s" -> tot("phase_planning"),
      "streaming.micro_batches" -> tot("micro_batches"),
      "streaming.batch_s" -> tot("batch_s"),
    ) ++ qs.flatMap { q =>
      Seq(s"${q.name}.wall_s" -> q.wallS, s"${q.name}.jobs" -> tracer.total(q, "jobs"))
    }
  }

  def probes(): Map[String, Double] = Map.empty

  def outputs: Map[String, Any] = Map("check_dir" -> checkDir)
}
