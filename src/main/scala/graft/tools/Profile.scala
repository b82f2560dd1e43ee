package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query stage profiler for the optimization rounds: runs named
  * registered queries under the same harness as [[graft.Bench]]
  * ([[graft.Harness]]: noop sink, cold caches, `$SPARK_GRAFT_SF_DIR` /
  * `$SPARK_GRAFT_CPUS`) but with a [[SparkListener]] that attributes
  * wall/CPU to STAGES, so
  * a slow query says WHICH exchange/scan/loop round is slow instead of
  * just how slow it is (guide §1: measure first, then optimize that one
  * thing). Also dumps `.explain("formatted")` per query when an output
  * dir is given — the plan evidence the optimization round commits
  * under `plans/r14/`.
  *
  * Usage: Profile <q1,q2,...> [explainDir] [suffix]
  *   explainDir — if set, writes `<explainDir>/<query>_<suffix>.txt`
  *   (suffix defaults to "before").
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .getOrElse(sys.error("usage: Profile q1,q2[,..] [explainDir] [suffix]"))
      .split(",").toSeq
    val explainDir = args.lift(1)
    val suffix = args.lift(2).getOrElse("before")
    val sfDir = graft.Harness.sfDir
    val spark = graft.Harness.session()

    final case class StageRow(id: Int, attempt: Int, name: String,
      tasks: Int, runMs: Long, cpuMs: Long, shufReadMB: Double,
      shufWriteMB: Double, inRows: Long, outRows: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageRow]
    // AtomicInteger, not a var under the listener's lock: reset/read
    // happen from the main thread (r14 advice)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          val i = s.stageInfo
          val m = i.taskMetrics
          stages += StageRow(i.stageId, i.attemptNumber(), i.name,
            i.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten)
        }
    }

    // one warm-up pass (codegen/JIT), mirroring Bench
    graft.Harness.warmUp(spark,
      names.flatMap(n => graft.SparkEntry.queries.get(n).map(n -> _)))

    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n"))
      graft.Harness.clearState(spark)
      stages.synchronized(stages.clear()); jobs.set(0)
      spark.sparkContext.setJobDescription(s"profile:$n")
      // construction INSIDE the timed window: iterative operators
      // (kCore, pageRank, the versioned sinks) do their rounds/commits
      // at DataFrame-construction time, exactly as Bench times them
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      graft.Harness.exec(df)
      val wall = (System.nanoTime() - t0) / 1e9
      explainDir.foreach { d =>
        val dir = new java.io.File(d); dir.mkdirs()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(new java.io.File(dir, s"${n}_$suffix.txt"), "UTF-8")
        try w.println(txt) finally w.close()
      }
      // listener bus is async: poll until the stage buffer has been
      // stable for two consecutive intervals (a fixed sleep under-counts
      // stages on a loaded host — r14 advice), bounded at 5 s
      var stable = 0; var last = -1; var waited = 0
      while (stable < 2 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val sz = stages.synchronized(stages.size)
        if (sz == last) stable += 1 else { stable = 0; last = sz }
      }
      val rows = stages.synchronized(stages.sortBy(-_.runMs).toVector)
      println(f"%n=== $n: wall $wall%.2f s, ${jobs.get} jobs, ${rows.size} stages, " +
        f"sum task-time ${rows.map(_.runMs).sum / 1000.0}%.1f s ===")
      println(f"${"stage"}%-9s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s " +
        f"${"sh_rd_MB"}%9s ${"sh_wr_MB"}%9s ${"in_rows"}%10s  name")
      rows.take(25).foreach { r =>
        println(f"${r.id}%-4d a${r.attempt}%-4d ${r.tasks}%5d " +
          f"${r.runMs / 1000.0}%8.2f ${r.cpuMs / 1000.0}%8.2f " +
          f"${r.shufReadMB}%9.2f ${r.shufWriteMB}%9.2f ${r.inRows}%10d  " +
          r.name.take(90))
      }
    }
    spark.stop()
  }
}
