package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, InputStream}
import java.nio.file.Files

import org.apache.commons.compress.archivers.sevenz.SevenZFile
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.commons.compress.utils.SeekableInMemoryByteChannel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import graft.operators.Diachronic
import graft.sources.{Manifest, Sink, WikiBz2, WikiLexer, WikiPipeline, WikiXml}

/** Shared shape of the two ingest workloads: every pass writes its own
  * output tree under `<out>/passes/<tag>`, which the output check reads
  * back after the run. */
abstract class WikiWorkload(spark: SparkSession, a: Main.Args) extends Workload {
  protected val wiki = "benchwiki"
  private var written = Vector.empty[String]
  // Pass time falls for about ten passes as the JIT compiles: on
  // wiki_snapshot at 4 cpus, process CPU per pass went 11 → 3.8 s and
  // wall 4.0 → 2.4 s, nearly flat from the ninth pass on. The cold first
  // pass and seven more run untimed.
  def warmupPasses: Int = 8
  def minPasses: Int = 3

  /** Run the workload's job once, writing to `out`. */
  protected def job(out: String): Unit
  /** The scan the job makes, as a DataFrame, for the layer-split pass. */
  protected def scan(files: Seq[String]): DataFrame
  /** The job's downsample over an already-materialised scan. */
  protected def downsample(revisions: DataFrame): DataFrame
  /** Input files for the layer pass, after any manifest skip, and the
    * number of files the skip dropped. */
  protected def inputFiles(tracer: Tracer): (Seq[String], Long)
  /** Input held in memory for the probes: the multistream bz2 bytes, if
    * the workload reads one, and a decoder of input to XML. */
  protected def probeInput(): (Option[Array[Byte]], () => Array[Byte])

  protected def outDir(tag: String): String = {
    val d = s"${a.out}/passes/$tag"
    written :+= d
    d
  }

  def warmup(i: Int): PassResult = pass(s"warmup$i", None)

  /** The passes' own outputs are what the check reads. */
  def checkPass(): Seq[OpResult] = Nil

  def pass(tag: String, tracer: Option[Tracer]): PassResult = {
    val out = outDir(tag)
    PassResult.time(Seq(OpResult.run("job")(Tracer.within(tracer, "pass")(job(out)))))
  }

  def layers(tracer: Tracer): Map[String, Double] = {
    val out = outDir("layers")
    var m = Map.empty[String, Double]
    // Let adaptive execution coalesce the cached frames' partitions as it
    // does the job's shuffles; otherwise the split sink writes about twice
    // the job's files and its time is not the job's.
    val coalesce = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val saved = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "true")
    try tracer.span("layers") {
      val (files, skipped) = inputFiles(tracer)
      m += "sources.Manifest.files_skipped" -> skipped.toDouble
      val (revs, parts) = tracer.span("sources.plan") {
        val r = scan(files)
        (r, scanPartitions(r))
      }
      m += "sources.partitions" -> parts
      val rows = tracer.span("sources.scan") { revs.persist(); revs.count() }
      m += "sources.rows_emitted" -> rows.toDouble
      val snaps = downsample(revs)
      val kept = tracer.span("operators.Diachronic.downsample") { snaps.persist(); snaps.count() }
      m += "operators.Diachronic.rows_kept_frac" -> (if (rows > 0) kept.toDouble / rows else 0.0)
      tracer.span("sources.Sink.write")(Sink.writeSnapshots(snaps, out, wiki))
      snaps.unpersist(true)
      revs.unpersist(true)
    } finally saved.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
    tracer.settle()
    val last = tracer.spans.groupBy(_.name).map { case (k, v) => k -> v.last }
    def wall(n: String) = last.get(n).map(_.wallS).getOrElse(0.0)
    def count(n: String, k: String) = last.get(n).map(tracer.total(_, k)).getOrElse(0.0)
    val parquet = listFiles(new File(out)).filter(_.getName.endsWith(".parquet"))
    m ++ Map(
      "sources.Manifest.skip_s" -> wall("sources.Manifest.skip"),
      "sources.plan_s" -> wall("sources.plan"),
      "sources.scan_s" -> wall("sources.scan"),
      "sources.scan_task_s" -> count("sources.scan", "task_s"),
      "sources.scan_task_max_s" -> count("sources.scan", "task_max_s"),
      "sources.scan_busy_frac" ->
        count("sources.scan", "task_s") / (wall("sources.scan") * a.cpus),
      "operators.Diachronic.downsample_s" -> wall("operators.Diachronic.downsample"),
      "operators.Diachronic.shuffle_write_mb" ->
        count("operators.Diachronic.downsample", "shuffle_write_bytes") / 1e6,
      "operators.Diachronic.spill_mb" ->
        count("operators.Diachronic.downsample", "spill_bytes") / 1e6,
      "sources.Sink.write_s" -> wall("sources.Sink.write"),
      "sources.Sink.bytes_written" -> parquet.map(_.length).sum.toDouble,
      "sources.Sink.files_written" -> parquet.length.toDouble)
  }

  /** Input partitions the scan plans: the tasks the read runs as. */
  private def scanPartitions(df: DataFrame): Int = {
    def scans(p: SparkPlan): Seq[Int] = p match {
      case ad: AdaptiveSparkPlanExec => scans(ad.inputPlan)
      case b: BatchScanExec => Seq(b.inputPartitions.length)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).sum
  }

  private def listFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  def probes(): Map[String, Double] = {
    val (bz2, decode) = probeInput()
    val xml = decode()
    Map(
      "sources.decode_mb_per_s" -> Probe.mbPerS(xml.length)(decode()),
      "sources.WikiXml.parse_mb_per_s" -> Probe.mbPerS(xml.length)(
        WikiXml.parseStream(new ByteArrayInputStream(xml)).size),
      "sources.WikiLexer.scan_mb_per_s" -> Probe.mbPerS(xml.length)(
        WikiLexer.scan(new ByteArrayInputStream(xml)).size),
      "sources.WikiBz2.find_starts_s" -> bz2.map(b =>
        Probe.seconds(WikiBz2.findStreamStarts(new ByteArrayInputStream(b)))).getOrElse(0.0))
  }

  def outputs: Map[String, Any] = Map("dirs" -> written)

  protected def readAll(in: InputStream): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    in.transferTo(bos)
    bos.toByteArray
  }
}

/** The paper's job: manifest → skip done files → 7z decode + StAX →
  * ns/epoch filter + daily downsample (text carried) → wiki/month zstd
  * Parquet, through `WikiPipeline.runFromManifest`. */
final class WikiSnapshot(spark: SparkSession, a: Main.Args) extends WikiWorkload(spark, a) {
  private val manifest = s"${a.input}/dumpstatus.json"
  private val dumpDir = s"${a.input}/dump"
  private def done: DataFrame = spark.read.text(s"${a.input}/done.txt")

  protected def job(out: String): Unit = {
    val n = WikiPipeline.runFromManifest(spark, manifest, dumpDir, out, wiki, done = Some(done))
    require(n > 0, "wiki_snapshot: the manifest skip left no file to ingest")
  }

  protected def inputFiles(tracer: Tracer): (Seq[String], Long) = {
    val items = Manifest.fileList(spark, manifest)
    val files = tracer.span("sources.Manifest.skip") {
      val d = done
      Sink.incrementalSkip(items, "file", d, d.columns.head, outputSuffix = "parquet")
        .orderBy("file").collect().map(r => s"$dumpDir/${r.getString(0)}").toSeq
    }
    (files, items.count() - files.length)
  }

  protected def scan(files: Seq[String]): DataFrame =
    WikiXml.read(spark, files).filter(col("namespace") === "0")

  protected def downsample(revisions: DataFrame): DataFrame = WikiXml.dailySnapshots(revisions)

  /** The median-sized dump file, whole, and the generator's multistream
    * `.bz2` of the same pages (which the job never reads). */
  protected def probeInput(): (Option[Array[Byte]], () => Array[Byte]) = {
    val files = new File(dumpDir).listFiles().filter(_.getName.endsWith(".7z")).sortBy(_.length)
    val bytes = Files.readAllBytes(files(files.length / 2).toPath)
    val bz2 = Files.readAllBytes(new File(s"${a.input}/probe-multistream.xml.bz2").toPath)
    (Some(bz2), () => {
      val sz = SevenZFile.builder().setSeekableByteChannel(new SeekableInMemoryByteChannel(bytes)).get()
      try {
        val e = sz.getNextEntry
        readAll(sz.getInputStream(e))
      } finally sz.close()
    })
  }
}

/** The "which pages changed on which day" index: one multistream `.bz2`,
  * read with `text` pruned (the byte lexer, driver-side stream-boundary
  * planning), `Diachronic.firstPerDay` with no payload, written with
  * `Sink.writeSnapshots`. */
final class WikiIndex(spark: SparkSession, a: Main.Args) extends WikiWorkload(spark, a) {
  private val file = new File(a.input).listFiles().filter(_.getName.endsWith(".bz2")).head.getPath

  protected def job(out: String): Unit =
    Sink.writeSnapshots(downsample(scan(Seq(file))), out, wiki)

  protected def inputFiles(tracer: Tracer): (Seq[String], Long) = (Seq(file), 0L)

  protected def scan(files: Seq[String]): DataFrame =
    WikiXml.read(spark, files).filter(col("namespace") === "0")
      .select("title", "timestamp", "rev_ord")

  protected def downsample(revisions: DataFrame): DataFrame =
    Diachronic.firstPerDay(revisions, key = col("title"), ts = col("timestamp"),
        tieBreak = col("rev_ord"), payload = Nil)
      .select(col("key").as("title"), col("day"), col("first_ts").as("timestamp"))

  /** The file's first eighth of streams, decoded whole and closed with
    * the root end tag, so both parsers see a well-formed document. */
  protected def probeInput(): (Option[Array[Byte]], () => Array[Byte]) = {
    val bytes = Files.readAllBytes(new File(file).toPath)
    val starts = WikiBz2.findStreamStarts(new ByteArrayInputStream(bytes))
    val cut = starts.find(_ >= bytes.length / 8).getOrElse(bytes.length.toLong).toInt
    val prefix = java.util.Arrays.copyOf(bytes, cut)
    (Some(bytes), () => {
      val xml = readAll(new BZip2CompressorInputStream(new ByteArrayInputStream(prefix), true))
      xml ++ "</mediawiki>\n".getBytes("UTF-8")
    })
  }
}

/** Single-thread kernel timing: repeat a call until at least `MinS` have
  * passed, and report the rate over all repetitions. */
object Probe {
  private val MinS = 0.5

  def seconds(body: => Any): Double = {
    var n = 0
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < MinS) { body; n += 1; el = (System.nanoTime() - t0) / 1e9 }
    el / n
  }

  def mbPerS(bytes: Long)(body: => Any): Double = bytes / 1e6 / seconds(body)
}
