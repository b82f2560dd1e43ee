package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code, around a call into a
  * layer. Spans nest (`parent`); counters are attributed by the listeners
  * below. Times are wall clock in ms (the unit Spark's events carry). */
final class Span(val id: Int, val name: String, val parent: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** (launch, finish) of every task attributed here, for busy/idle time. */
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def wallS: Double = (endMs - startMs) / 1000.0
  def add(k: String, v: Double): Unit = counters.synchronized(counters(k) += v)
  def max(k: String, v: Double): Unit =
    counters.synchronized(counters(k) = math.max(counters(k), v))
}

/** In-memory span recorder plus the three listeners that attribute
  * Spark's counts to spans.
  *
  * Attribution goes through one job-local property, [[Prop]], which
  * [[span]] sets on the client thread. Spark copies local properties onto
  * every job it starts from that thread (and onto threads the thread
  * starts, such as a streaming query's), so each job, stage and task is
  * charged to the span whose call caused it. Streaming progress is
  * charged through the streaming query id its jobs carry. Query-execution
  * events carry neither, so each goes to the innermost span open when its
  * analysis began: the client is one sequential thread, so that is the
  * span whose call built the query. Spans stay in memory until [[spans]]
  * is read at the end of the run. */
final class Tracer(spark: SparkSession) {
  val Prop = "perfbench.span"
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val streamSpan = new ConcurrentHashMap[String, Span]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Double])]()
  private val pendingProgress = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()

  private def byId(s: String): Option[Span] =
    Option(s).flatMap(_.toIntOption).flatMap(i => all.synchronized(all.lift(i)))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => byId(p.getProperty(Prop))).foreach { s =>
        s.add("jobs", 1)
        Option(e.properties.getProperty("sql.streaming.queryId"))
          .foreach(streamSpan.putIfAbsent(_, s))
        e.stageIds.foreach(stageSpan.putIfAbsent(_, s))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => byId(p.getProperty(Prop)))
        .foreach(stageSpan.putIfAbsent(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val run = if (m == null) 0.0 else m.executorRunTime / 1000.0
        s.add("tasks", 1)
        s.add("task_s", run)
        s.max("task_max_s", run)
        if (m != null) {
          s.add("gc_s", m.jvmGCTime / 1000.0)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
        if (e.taskInfo != null) s.taskIntervals.synchronized {
          s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs / 1000.0 }
      val t = qe.tracker.phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      pendingQe.add((t, phases))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      pendingProgress.add((p.id.toString, System.currentTimeMillis(), p.batchDuration / 1000.0))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Stop listening, after every queued event has been charged. */
  def stop(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every queued event has been delivered, then charge the
    * query-execution and streaming events to their spans. */
  def settle(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    pendingQe.asScala.foreach { case (t, phases) =>
      openAt(t).foreach { s =>
        s.add("qe", 1)
        phases.foreach { case (k, v) => s.add(s"phase_$k", v) }
      }
    }
    pendingQe.clear()
    pendingProgress.asScala.foreach { case (qid, t, batchS) =>
      Option(streamSpan.get(qid)).orElse(openAt(t)).foreach { s =>
        s.add("micro_batches", 1)
        s.add("batch_s", batchS)
      }
    }
    pendingProgress.clear()
  }

  /** The innermost span whose window holds `t` (ms). */
  private def openAt(t: Long): Option[Span] = all.synchronized {
    all.filter(s => s.startMs <= t && (s.endMs < 0 || t <= s.endMs))
      .maxByOption(s => (s.startMs, s.id))
  }

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val s = all.synchronized {
      val sp = new Span(all.length, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis())
      all += sp
      sp
    }
    open = s :: open
    val saved = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Prop, saved)
    }
  }

  def spans: Seq[Span] = all.synchronized(all.toSeq)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id)

  /** Span duration minus the part of it its child spans cover. */
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  /** The span's counters plus those of all its descendants. */
  def total(s: Span, k: String): Double =
    s.counters(k) + children(s).map(total(_, k)).sum

  /** Every task interval under `s`, for busy-time arithmetic. */
  def intervals(s: Span): Seq[(Long, Long)] =
    s.taskIntervals.synchronized(s.taskIntervals.toSeq) ++ children(s).flatMap(intervals)
}

object Tracer {
  /** `body` inside a span of `tracer`, or plainly when not tracing. */
  def within[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** Seconds of `[start, end]` covered by at least one interval. */
  def coveredS(intervals: Seq[(Long, Long)], start: Long, end: Long): Double = {
    var covered = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered / 1000.0
  }
}
