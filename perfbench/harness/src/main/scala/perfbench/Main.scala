package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, one SparkSession on `local[cpus]`, one
  * sequential client (a closed loop: the next pass starts when the
  * previous one ends).
  *
  * Sequence: session set-up, untimed warm-up passes on the workload's
  * own input, timed passes for `--seconds`, then any untimed writing of
  * what the output check reads. With `--trace 1` each timed
  * pass is followed by the same pass with the [[Tracer]]'s listeners on
  * (their ratio is the tracing overhead), then come one layer-by-layer
  * pass and single-thread kernel probes.
  *
  * Writes raw measurements as one JSON object to `--result`; `run.py`
  * checks the outputs and derives the reported metrics.
  *
  * Usage: perfbench.Main --workload <name> --input <dir> --out <dir>
  *   --seconds <s> --trace <0|1> --cpus <n> --result <file> */
object Main {

  final case class Args(workload: String, input: String, out: String,
      seconds: Double, trace: Boolean, cpus: Int, result: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m("result"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = a.workload match {
      case "wiki_snapshot" => new WikiSnapshot(spark, a)
      case "wiki_index" => new WikiIndex(spark, a)
      case "llm_queries" => new LlmQueries(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("session_s") = sessionS

    rec("warmup") = (0 until w.warmupPasses).map(w.warmup(_).json)

    val host0 = Host.sample()
    val cpu0 = Host.processCpuS()
    if (!a.trace) {
      rec("passes") = loop(a.seconds, w.minPasses)((i: Int) => w.pass(s"t$i", None))(_.wallS)
        .map(_.json)
    } else {
      // untraced and traced passes alternate, so that warm-up drift does
      // not read as tracing overhead
      val tracer = new Tracer(spark)
      val pairs = loop(a.seconds, w.minPasses) { (i: Int) =>
        val plain = w.pass(s"t$i", None)
        tracer.start()
        val traced = try w.pass(s"r$i", Some(tracer)) finally tracer.stop()
        (plain, traced)
      } { case (p, t) => p.wallS + t.wallS }
      tracer.start()
      val layers = try w.layers(tracer) finally tracer.stop()
      rec("passes") = pairs.map(_._1.json)
      rec("traced_passes") = pairs.map(_._2.json)
      rec("layers") = layers ++ w.probes()
      rec("spans") = tracer.spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "wall_s" -> s.wallS, "self_s" -> tracer.selfS(s),
          "counters" -> s.counters.toMap)
      }
    }
    rec("host") = Host.label(host0, Host.sample(), Host.processCpuS() - cpu0)
    rec("peak_rss_mb") = Host.peakRssMb()
    rec("check") = w.checkPass().map(_.json)
    rec("outputs") = w.outputs
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.result), Json(rec.toMap))
    spark.stop()
  }

  /** Passes until `seconds` are spent (and at least `min` passes ran): a
    * new pass starts only if about half of one still fits. */
  private def loop[T](seconds: Double, min: Int)(pass: Int => T)(wallS: T => Double): Seq[T] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[T]
    def spent = (System.nanoTime() - t0) / 1e9
    while (out.length < min || spent + out.map(wallS).sum / out.length / 2 < seconds)
      out += pass(out.length)
    out.toSeq
  }
}

/** One operation of a pass: a pipeline run or one query. */
final case class OpResult(name: String, wallS: Double, error: Option[String]) {
  def json: Map[String, Any] =
    Map("name" -> name, "wall_s" -> wallS) ++ error.map("error" -> _)
}

/** A timed pass: its wall and process-CPU seconds and its operations. */
final case class PassResult(wallS: Double, cpuS: Double, ops: Seq[OpResult]) {
  def json: Map[String, Any] =
    Map("wall_s" -> wallS, "cpu_s" -> cpuS, "ops" -> ops.map(_.json))
}

object PassResult {
  def time(ops: => Seq[OpResult]): PassResult = {
    val c0 = Host.processCpuS()
    val t0 = System.nanoTime()
    val r = ops
    PassResult((System.nanoTime() - t0) / 1e9, Host.processCpuS() - c0, r)
  }
}

object OpResult {
  /** Run one operation; a throw is recorded, never timed as a success. */
  def run(name: String)(body: => Unit): OpResult = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch {
      case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    }
    OpResult(name, (System.nanoTime() - t0) / 1e9, err)
  }
}

trait Workload {
  /** Untimed passes before timing, until the pass time has settled. */
  def warmupPasses: Int
  /** Warm-up pass `i`: the timed pass's work, untimed. */
  def warmup(i: Int): PassResult
  /** Fewest timed passes per timed window. */
  def minPasses: Int
  /** One timed pass; `tracer` wraps it in spans when tracing. */
  def pass(tag: String, tracer: Option[Tracer]): PassResult
  /** One traced pass split by layer; returns per-layer measurements. */
  def layers(tracer: Tracer): Map[String, Double]
  /** Single-thread kernel probes over in-memory input bytes. */
  def probes(): Map[String, Double]
  /** Untimed operations, after timing, that write what the check reads. */
  def checkPass(): Seq[OpResult]
  /** What the output check reads: output directories, result tables. */
  def outputs: Map[String, Any]
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Process and host measurements: CPU time, peak RSS, and the host label
  * (hypervisor steal and other processes' load, from /proc/stat, by the
  * same method as the engine's `graft.Bench`). */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }

  def processCpuS(): Double = os.map(_.getProcessCpuTime / 1e9).getOrElse(0.0)

  /** Peak resident set (VmHWM) of this JVM, MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** (steal, idle + iowait, total) jiffies of the first /proc/stat line;
    * the total takes the first 8 fields, since Linux already folds guest
    * time into user and nice. */
  def sample(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        if (f.length >= 8) Some((f(7), f(3) + f(4), f.take(8).sum)) else None
      } finally src.close()
    } catch { case _: Throwable => None }

  /** Steal % and external-busy % (busy jiffies minus this process's own
    * CPU at USER_HZ = 100) over a window; -1 when unmeasurable. */
  def label(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)],
      ownCpuS: Double): Map[String, Double] =
    (for ((s0, i0, t0) <- a; (s1, i1, t1) <- b if t1 > t0) yield {
      val busy = (t1 - t0) - (i1 - i0) - (s1 - s0)
      Map("steal_pct" -> (s1 - s0) * 100.0 / (t1 - t0),
        "ext_busy_pct" -> math.max(0.0, (busy - ownCpuS * 100.0) * 100.0 / (t1 - t0)))
    }).getOrElse(Map("steal_pct" -> -1.0, "ext_busy_pct" -> -1.0))
}
