package graft

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.sources.{Sink, WikiXml}

/** Streaming XML source + snapshot pipeline + partitioned sink — the
  * reference's end-to-end per-file flow (/root/reference/main.py:84-94)
  * against the fixture mirroring its input format (FIXTURES.md §B). */
class WikiXmlSpec extends SparkTestBase {

  private val fixture = "src/test/resources/wiki/fixture.xml"

  test("parseStream emits all revisions with page state and document order") {
    val in = Files.newInputStream(Paths.get(fixture))
    val revs = WikiXml.parseStream(in).toList
    assert(revs.length == 11)
    assert(revs.count(_.title == "Alpha") == 4)
    // page-level fields populated before revisions (element order guarantee)
    assert(revs.forall(r => r.title != null && r.namespace != null))
    // document-order ordinal resets per page
    assert(revs.filter(_.title == "Alpha").map(_.revOrd) == List(0L, 1L, 2L, 3L))
    assert(revs.filter(_.title == "Ties").map(_.revOrd) == List(0L, 1L))
    // missing <text> element -> "" (main.py:156 None coercion)
    assert(revs.filter(_.title == "EmptyText").forall(_.text == ""))
  }

  test("byte lexer (pruned path) emits rows identical to the StAX parser") {
    import graft.sources.WikiLexer
    // the reference rows with text blanked: the lexer's pruned contract
    def stax(xml: Array[Byte], nsf: Option[String]) =
      WikiXml.parseStream(new java.io.ByteArrayInputStream(xml), nsf)
        .map(r => (r.namespace, r.title, r.timestampMicros, "", r.revOrd)).toList
    def lex(xml: Array[Byte], nsf: Option[String]) =
      WikiLexer.scan(new java.io.ByteArrayInputStream(xml), nsf)
        .map(r => (r.namespace, r.title, r.timestampMicros, r.text, r.revOrd)).toList

    val fixtureBytes = Files.readAllBytes(Paths.get(fixture))
    assert(lex(fixtureBytes, None) == stax(fixtureBytes, None))
    assert(lex(fixtureBytes, Some("0")) == stax(fixtureBytes, Some("0")))
    assert(lex(fixtureBytes, Some("1")) == stax(fixtureBytes, Some("1")))

    // adversarial: closing tags hidden inside CDATA and comments, entities
    // in the title, self-closing text, attribute-bearing tags
    val nasty =
      ("""<mediawiki><page><title>T&amp;1 &#65;&lt;x&gt;</title><ns>0</ns>
        |<!-- page comment with fake </page> inside -->
        |<revision><id>1</id><timestamp>2020-01-01T00:00:00Z</timestamp>
        |<text bytes="99" xml:space="preserve">body <!-- fake </text> in comment -->
        |mid <![CDATA[cdata with </text> and </revision> inside]]> tail</text>
        |</revision>
        |<revision><id>2</id><timestamp>2020-01-02T03:04:05Z</timestamp><text/></revision>
        |<revision><id>3</id><timestamp>2020-01-03T00:00:00Z</timestamp>
        |<text bytes="0"></text></revision>
        |</page>
        |<page><title><![CDATA[Raw & <title>]]></title><ns>2</ns>
        |<revision><id>4</id><timestamp>2021-05-06T07:08:09Z</timestamp>
        |<text>short</text></revision></page>
        |</mediawiki>""").stripMargin.getBytes("UTF-8")
    assert(lex(nasty, None) == stax(nasty, None))
    assert(lex(nasty, Some("0")) == stax(nasty, Some("0")))
    assert(lex(nasty, None).map(_._2).distinct ==
      List("T&1 A<x>", "Raw & <title>"))

    // pruned DataFrame read goes through the lexer: title-only scan over
    // the fixture equals the full read's titles
    val dir = Files.createTempDirectory("wikilex").toString
    Files.copy(Paths.get(fixture), Paths.get(s"$dir/a.xml"))
    val full = WikiXml.read(spark, s"$dir/a.xml")
    assert(full.select("title", "rev_ord").collect().toSet ==
      full.select("title", "rev_ord", "text").drop("text").collect().toSet)
  }

  test("fast timestamp parser equals the JDK parser over random instants") {
    val rng = new scala.util.Random(17)
    val samples = Seq("2001-01-15T00:00:00Z", "1970-01-01T00:00:00Z",
      "2000-02-29T23:59:59Z", "2100-03-01T01:02:03Z", "2024-12-31T12:34:56.789Z",
      "1999-07-04T06:07:08.123456Z") ++
      Seq.fill(500) {
        val epochSec = rng.between(-2208988800L, 4102444800L) // 1900..2100
        val ldt = java.time.LocalDateTime.ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC)
        ldt.toString + "Z"
      }
    samples.foreach { s =>
      val ldt = java.time.LocalDateTime.parse(s.stripSuffix("Z"))
      val expect = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      assert(WikiXml.parseTsMicros(s) == expect, s)
    }
  }

  test("read() streams files (plain + gzip codec) into the 5-col DataFrame") {
    val dir = Files.createTempDirectory("wikixml").toString
    Files.copy(Paths.get(fixture), Paths.get(s"$dir/a.xml"))
    val gz = new GZIPOutputStream(Files.newOutputStream(Paths.get(s"$dir/b.xml.gz")))
    gz.write(Files.readAllBytes(Paths.get(fixture)))
    gz.close()

    val df = WikiXml.read(spark, s"$dir/*")
    assert(df.schema == WikiXml.schema)
    assert(df.count() == 22) // 11 revisions x 2 files
    assert(df.filter(col("namespace") === "1").count() == 2)
  }

  test("read() decompress-scans 7z archives (the reference's metahistory7zdump format)") {
    // build a .7z of the fixture with the same commons-compress that the
    // source reads with (LZMA2 via the xz jar) — write side doubles as
    // coverage that the container's 7z stack actually round-trips
    import org.apache.commons.compress.archivers.sevenz.SevenZOutputFile
    val dir = Files.createTempDirectory("wiki7z").toString
    val archive = new java.io.File(s"$dir/fixture.xml.7z")
    val out = new SevenZOutputFile(archive)
    val entry = out.createArchiveEntry(new java.io.File(fixture), "fixture.xml")
    out.putArchiveEntry(entry)
    out.write(Files.readAllBytes(Paths.get(fixture)))
    out.closeArchiveEntry()
    out.close()

    val df = WikiXml.read(spark, archive.toString)
    assert(df.schema == WikiXml.schema)
    val plain = WikiXml.read(spark, fixture)
    assert(df.collect().toSet == plain.collect().toSet)
    assert(df.count() == 11)
  }

  test("V2 scan prunes columns: title-only query never materializes text") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val df = WikiXml.read(spark, fixture).select("title", "rev_ord")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema()
    }
    assert(scans.nonEmpty)
    assert(scans.head.fieldNames.toSeq == Seq("title", "rev_ord"))
    assert(df.count() == 11)
    // parser-level: the pruned read's lexer emits the StAX rows with text
    // blanked
    val in = Files.newInputStream(Paths.get(fixture))
    try {
      val revs = graft.sources.WikiLexer.scan(in).toList
      assert(revs.length == 11 && revs.forall(_.text == ""))
      assert(revs == WikiXml.parseStream(Files.newInputStream(Paths.get(fixture)))
        .map(_.copy(text = "")).toList)
    } finally in.close()
  }

  test("namespace filter pushes into the parser; results equal the unpushed filter") {
    val df = WikiXml.read(spark, fixture).filter(col("namespace") === "0")
    // the scan's description advertises the pushed filter
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("PushedNsFilter: namespace=0"), scanDesc.take(800))
    // equality with the parser-level unfiltered read + Spark-side filter
    val pushed = df.collect().toSet
    val unpushed = WikiXml.read(spark, fixture).collect()
      .filter(_.getString(0) == "0").toSet
    assert(pushed == unpushed)
    assert(pushed.nonEmpty)
    // parser level: nsFilter skips filtered pages but keeps rev_ord parity
    val in = Files.newInputStream(Paths.get(fixture))
    try {
      val only0 = WikiXml.parseStream(in, nsFilter = Some("0")).toList
      assert(only0.forall(_.namespace == "0"))
      val all = WikiXml.parseStream(Files.newInputStream(Paths.get(fixture))).toList
      assert(only0.map(r => (r.title, r.revOrd)) ==
        all.filter(_.namespace == "0").map(r => (r.title, r.revOrd)))
    } finally in.close()
  }

  test("multistream bz2 splits at stream boundaries; rows equal the single-partition read") {
    import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.{WikiBz2, WikiXmlInputPartition}

    // seeded random bodies, so each big stream compresses to ~2 KB
    val rnd = new scala.util.Random(7)
    def page(i: Int, bodyLen: Int): String =
      s"<page><title>P$i</title><ns>${i % 2}</ns>" +
        (0 until 3).map(j =>
          s"<revision><timestamp>2020-01-${"%02d".format(j + 1)}T0$j:00:00Z</timestamp>" +
            s"<text>body $i rev $j ${rnd.alphanumeric.take(bodyLen).mkString}</text></revision>")
          .mkString + "</page>"
    val pages = (1 to 12).map(page(_, 200)) ++ (13 to 14).map(page(_, 0))
    val header = "<mediawiki>\n  <siteinfo><sitename>T</sitename></siteinfo>\n"
    // independent bz2 streams, concatenated byte-aligned — the multistream
    // dump layout: header rides in the first chunk, the closing root tag
    // in the last. The big file has three streams of four pages, the
    // small one two streams of one short page.
    val big = Seq(header + pages.take(4).mkString("\n"), pages.slice(4, 8).mkString("\n"),
      pages.slice(8, 12).mkString("\n") + "\n</mediawiki>\n")
    val small = Seq(header + pages(12), pages(13) + "\n</mediawiki>\n")
    def multistream(chunks: Seq[String]): Array[Byte] = chunks.map { c =>
      val bo = new java.io.ByteArrayOutputStream()
      val bz = new BZip2CompressorOutputStream(bo)
      bz.write(c.getBytes("UTF-8")); bz.close()
      bo.toByteArray
    }.reduce(_ ++ _)
    val fileBytes = multistream(big)

    val starts = WikiBz2.findStreamStarts(new java.io.ByteArrayInputStream(fileBytes))
    assert(starts.length == 3 && starts.head == 0L)
    // ranges honor the minimum split size
    assert(WikiBz2.planRanges(starts, fileBytes.length, 1L).length == 3)
    assert(WikiBz2.planRanges(starts, fileBytes.length, fileBytes.length).length == 1)

    val dir = Files.createTempDirectory("wikibz2").toString
    Files.write(Paths.get(s"$dir/multi.xml.bz2"), fileBytes)
    Files.write(Paths.get(s"$dir/small.xml.bz2"), multistream(small))
    Files.writeString(Paths.get(s"$dir/multi.xml"), big.mkString)
    Files.writeString(Paths.get(s"$dir/small.xml"), small.mkString)

    // default settings at local[4]: the split size is a quarter of the
    // scan's bz2 bytes, which each big stream exceeds and the small file
    // does not, so the big file plans one partition per stream and the
    // small one is read whole
    val split = WikiXml.read(spark, Seq(s"$dir/multi.xml.bz2", s"$dir/small.xml.bz2"))
    val plain = WikiXml.read(spark, Seq(s"$dir/multi.xml", s"$dir/small.xml"))
    val planned = split.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions.map(_.asInstanceOf[WikiXmlInputPartition])
    }.flatten
    assert(planned.groupBy(_.file.split('/').last)
      .map { case (f, ps) => f -> ps.length } == Map("multi.xml.bz2" -> 3, "small.xml.bz2" -> 1))
    assert(planned.count(_.isRange) == 3)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("namespace", "title", "timestamp", "text", "rev_ord")
        .collect().map(_.toSeq).toSet
    val s = rows(split)
    assert(s.size == 42 && s == rows(plain))
    // pruned path (byte lexer) agrees across the fragment adapter too
    assert(split.select("title", "rev_ord").collect().toSet ==
      plain.select("title", "rev_ord").collect().toSet)
    // pushed namespace filter on a split read
    val ns0 = split.filter(col("namespace") === "0")
    assert(ns0.queryExecution.executedPlan.toString.contains("PushedNsFilter: namespace=0"))
    assert(ns0.collect().toSet == plain.filter(col("namespace") === "0").collect().toSet)
  }

  test("reader closes streams on early exit: no fd growth under limit(1)") {
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    val dir = Files.createTempDirectory("wikifd").toString
    (0 until 4).foreach(i => Files.copy(Paths.get(fixture), Paths.get(s"$dir/f$i.xml")))
    val df = WikiXml.read(spark, s"$dir/*.xml")
    df.limit(1).collect() // warm codepaths before baselining
    val before = openFds()
    (0 until 10).foreach(_ => df.limit(1).collect())
    val after = openFds()
    assert(after <= before + 2, s"fd leak: $before -> $after")
  }

  test("parseStream handles CDATA, comments, entities, attributes, split character runs") {
    val xml =
      """<mediawiki>
        |<page><title>T&amp;1</title><ns>0</ns><id>1</id>
        |<!-- a comment between elements -->
        |<revision><id>10</id><timestamp>2020-01-01T00:00:00Z</timestamp>
        |<text xml:space="preserve" bytes="20">before <!-- inline --> after &lt;tag&gt; <![CDATA[raw <cdata> & body]]> end</text>
        |</revision>
        |<revision><id>11</id><timestamp>2020-01-02T00:00:00Z</timestamp>
        |<minor/><text/></revision>
        |</page>
        |</mediawiki>""".stripMargin
    val in = new java.io.ByteArrayInputStream(xml.getBytes("UTF-8"))
    val revs = WikiXml.parseStream(in).toList
    assert(revs.length == 2)
    assert(revs.head.title == "T&1")
    // comment dropped, entities decoded, CDATA kept verbatim
    assert(revs.head.text == "before  after <tag> raw <cdata> & body end")
    assert(revs(1).text == "")
    assert(revs.map(_.revOrd) == List(0L, 1L))
  }

  test("WikiPipeline end to end: manifest -> skip -> parse -> downsample -> partitioned sink") {
    import graft.sources.WikiPipeline
    val dir = Files.createTempDirectory("wikipipe").toString
    Files.copy(Paths.get(fixture), Paths.get(s"$dir/fixture.xml"))
    Files.writeString(Paths.get(s"$dir/manifest.json"),
      """{"jobs":{"metahistory7zdump":{"files":{"fixture.xml":{"size":1}}}}}""")
    val out = s"$dir/out"
    val n = WikiPipeline.runFromManifest(spark, s"$dir/manifest.json", dir, out, wiki = "testwiki")
    assert(n == 1)
    val written = spark.read.parquet(out)
    assert(written.columns.toSet ==
      Set("namespace", "title", "timestamp", "text", "wiki", "month"))
    val expected = WikiXml.dailySnapshots(WikiXml.read(spark, fixture)).count()
    assert(written.count() == expected)
    assert(written.select("wiki").distinct().collect().map(_.getString(0)).toSeq == Seq("testwiki"))
    // second run with the output listed as done: the S2 anti-join skips it
    import spark.implicits._
    val done = Seq("fixture.xml.parquet").toDF("name")
    val n2 = WikiPipeline.runFromManifest(spark, s"$dir/manifest.json", dir, out,
      wiki = "testwiki", done = Some(done))
    assert(n2 == 0)
    assert(spark.read.parquet(out).count() == expected) // untouched
  }

  test("incremental runFromManifest appends: a second run keeps the done file's rows") {
    import graft.sources.WikiPipeline
    import spark.implicits._
    val dir = twoDumpFiles("wikiappend")
    val out = s"$dir/out"
    // the first run knows only file a; the second sees both, with a done
    assert(WikiPipeline.runFromManifest(spark, manifest(dir, "a.xml"), dir, out,
      wiki = "testwiki", done = Some(Seq.empty[String].toDF("name"))) == 1)
    assert(WikiPipeline.runFromManifest(spark, manifest(dir, "a.xml", "b.xml"), dir, out,
      wiki = "testwiki", done = Some(Seq("a.xml.parquet").toDF("name"))) == 1)
    val expected = snapshotRows(
      WikiXml.dailySnapshots(WikiXml.read(spark, Seq(s"$dir/a.xml", s"$dir/b.xml"))))
    assert(expected.length == 10)
    assert(snapshotRows(spark.read.parquet(out)) == expected)
  }

  test("runFromManifest without done replaces a tree that already holds rows") {
    import graft.sources.WikiPipeline
    import spark.implicits._
    val dir = twoDumpFiles("wikireplace")
    val out = s"$dir/out"
    // an incremental run leaves both files' rows in the tree
    assert(WikiPipeline.runFromManifest(spark, manifest(dir, "a.xml", "b.xml"), dir, out,
      wiki = "testwiki", done = Some(Seq.empty[String].toDF("name"))) == 2)
    // without done (the reference's overwrite) every listed file is ingested
    // again and the tree holds exactly their rows: b's are gone, a's single
    assert(WikiPipeline.runFromManifest(spark, manifest(dir, "a.xml"), dir, out,
      wiki = "testwiki") == 1)
    val expected = snapshotRows(WikiXml.dailySnapshots(WikiXml.read(spark, s"$dir/a.xml")))
    assert(expected.length == 5)
    assert(snapshotRows(spark.read.parquet(out)) == expected)
  }

  /** A temp dir holding the fixture as `a.xml` and, with every title
    * prefixed `B`, as `b.xml`. */
  private def twoDumpFiles(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    val xml = Files.readString(Paths.get(fixture))
    Files.writeString(Paths.get(s"$dir/a.xml"), xml)
    Files.writeString(Paths.get(s"$dir/b.xml"), xml.replace("<title>", "<title>B"))
    dir
  }

  /** A dumpstatus manifest in `dir` listing `files` for the 7z job. */
  private def manifest(dir: String, files: String*): String = {
    val m = s"$dir/manifest-${files.length}.json"
    Files.writeString(Paths.get(m), files.map(f => s""""$f":{"size":1}""")
      .mkString("""{"jobs":{"metahistory7zdump":{"files":{""", ",", "}}}}"))
    m
  }

  /** A snapshot frame's rows, sorted, without the partition columns. */
  private def snapshotRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("namespace", "title", "timestamp", "text").collect().map(_.toString).sorted.toSeq

  /** Run `body` with the given SQL confs set, restoring the old values. */
  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `.parquet` files per `wiki=/month=` directory under `out`. */
  private def filesPerMonth(out: String): Map[String, Int] = {
    val root = Paths.get(out)
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .groupBy(p => root.relativize(p.getParent).toString).map { case (k, v) => k -> v.size }
    } finally s.close()
  }

  /** A snapshot frame of `perPart` rows in each of 4 input partitions,
    * every row's month from `monthOf(partition, row)`, text of `textLen`
    * seeded random letters (so shuffle compression cannot shrink it). */
  private def snapshotFrame(perPart: Int, textLen: Int)(monthOf: (Int, Int) => Option[Int]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(17)
    val rows = for {
      p <- 0 until 4; i <- 0 until perPart; m <- monthOf(p, i).toSeq
    } yield Row("0", s"T$p-$i", java.sql.Timestamp.valueOf(f"2001-$m%02d-${i % 28 + 1}%02d 00:00:00"),
      rnd.alphanumeric.take(textLen).mkString)
    val schema = StructType(Seq(StructField("namespace", StringType),
      StructField("title", StringType), StructField("timestamp", TimestampType),
      StructField("text", StringType)))
    // parallelize slices contiguously: partition p holds exactly p's rows
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("writeSnapshots writes one file per wiki/month, however many tasks hold the month") {
    withConfs("spark.sql.adaptive.enabled" -> "true") {
      // every input partition holds all 6 months: without clustering the
      // sink writes 4 files into each month directory
      val snaps = snapshotFrame(perPart = 30, textLen = 40)((_, i) => Some(i % 6 + 1))
      assert(snaps.rdd.getNumPartitions == 4)
      val out = Files.createTempDirectory("wikisink1").toString + "/snaps"
      Sink.writeSnapshots(snaps, out, wiki = "testwiki")
      val files = filesPerMonth(out)
      assert(files.keySet == (1 to 6).map(m => f"wiki=testwiki/month=2001-$m%02d").toSet)
      assert(files.values.forall(_ == 1), files)
      assert(snapshotRows(spark.read.parquet(out)) == snapshotRows(snaps))
    }
  }

  test("writeSnapshots splits a month larger than the advisory size across files") {
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB") {
      // month 01 carries 4 × 37 KB from all 4 input partitions; months
      // 02-04 are one 1 KB row each, all from partition 0, so no split
      // of a reduce partition they share with month 01 can spread them
      val snaps = snapshotFrame(perPart = 40, textLen = 1000) { (p, i) =>
        if (i < 37) Some(1) else if (p == 0) Some(i - 35) else None
      }
      val out = Files.createTempDirectory("wikisink2").toString + "/snaps"
      Sink.writeSnapshots(snaps, out, wiki = "testwiki")
      val files = filesPerMonth(out)
      assert(files.keySet == (1 to 4).map(m => f"wiki=testwiki/month=2001-$m%02d").toSet)
      assert(files("wiki=testwiki/month=2001-01") > 1, files)
      assert((2 to 4).forall(m => files(f"wiki=testwiki/month=2001-$m%02d") == 1), files)
      assert(snapshotRows(spark.read.parquet(out)) == snapshotRows(snaps))
    }
  }

  test("the snapshot job's write plans one REBALANCE exchange after the downsample's") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val out = Files.createTempDirectory("wikisink3").toString + "/snaps"
    val written = scala.concurrent.Promise[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.toString.contains(out)) written.trySuccess(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    withConfs("spark.sql.adaptive.enabled" -> "true") {
      spark.listenerManager.register(listener)
      // the listener bus is asynchronous: wait for the write's event
      val plan = try {
        Sink.writeSnapshots(WikiXml.dailySnapshots(WikiXml.read(spark, fixture)), out, "testwiki")
        scala.concurrent.Await.result(written.future,
          scala.concurrent.duration.Duration(30, "s")).executedPlan
      } finally spark.listenerManager.unregister(listener)
      val shuffles = new AdaptiveSparkPlanHelper {}.collect(plan) {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.count(_.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL) == 1, plan)
      // the other is the downsample's (title, day) aggregate exchange
      assert(shuffles.length == 2, plan)
    }
  }

  test("dailySnapshots reproduces the reference pipeline on the fixture") {
    val snaps = WikiXml.dailySnapshots(WikiXml.read(spark, fixture))
      .orderBy("title", "timestamp")
      .collect()
      .map(r => (r.getString(1), r.getTimestamp(2).toString, r.getString(3)))

    assert(snaps.toList == List(
      ("Alpha", "2001-01-15 00:00:00.0", "alpha at epoch"),          // epoch inclusive
      ("Alpha", "2001-01-16 08:00:00.0", "alpha next day early"),    // earliest per day
      ("EmptyText", "2004-01-02 03:04:05.0", ""),                    // empty <text/>
      ("EmptyText", "2004-01-03 03:04:05.0", ""),                    // missing <text>
      ("Ties", "2003-07-08 09:10:11.0", "first in document order"))) // doc-order tie-break
    // BeforeEpoch (all < epoch) and Talk:Beta (ns=1) contribute nothing
  }

  test("writeSnapshots partitions by wiki/month and round-trips; incrementalSkip anti-joins") {
    import spark.implicits._
    val out = Files.createTempDirectory("wikisink").toString + "/snaps"
    val snaps = WikiXml.dailySnapshots(WikiXml.read(spark, fixture))
    Sink.writeSnapshots(snaps, out, wiki = "testwiki")

    assert(Files.exists(Paths.get(s"$out/wiki=testwiki/month=2001-01")))
    val back = spark.read.parquet(out)
    assert(back.count() == 5)
    // 2001-01 (x2), 2003-07, 2004-01 (x2)
    assert(back.select("month").distinct().count() == 3)

    // S2 semantics: work items minus already-produced outputs
    val work = Seq("f1", "f2", "f3").toDF("item")
    val done = Seq("f1.parquet", "f3.parquet").toDF("blob")
    val todo = Sink.incrementalSkip(work, "item", done, "blob", "parquet")
      .as[String].collect().toSet
    assert(todo == Set("f2"))

    // left-anti null semantics: a null work item is kept, and a null in
    // the listing drops nothing else
    val withNull = Seq(Some("f1"), None, Some("f2")).toDF("item")
    assert(Sink.incrementalSkip(withNull, "item", done, "blob", "parquet")
      .as[Option[String]].collect().toSet == Set(None, Some("f2")))
    val doneNull = Seq(Some("f1.parquet"), None).toDF("blob")
    assert(Sink.incrementalSkip(work, "item", doneNull, "blob", "parquet")
      .as[String].collect().toSet == Set("f2", "f3"))
    // a non-string key column compares as its string form
    val ints = Seq(1, 2, 3).toDF("part")
    val doubles = Seq(1.5, 3.5).toDF("key")
    assert(Sink.incrementalSkip(ints, "part", doubles, "key", "5")
      .as[Int].collect().toSet == Set(2))
  }

  test("the manifest scan and skip run on the driver: one job, collecting done, before the write") {
    import graft.sources.{Manifest, WikiPipeline}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val dir = twoDumpFiles("wikijobs")
    val m = manifest(dir, "a.xml", "b.xml")
    Files.writeString(Paths.get(s"$dir/done.txt"), "a.xml.parquet\n")
    // "job" per job start, "write" when the sink's write command begins;
    // listener events arrive in the order they were posted
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_ == "barrier").getOrElse("job"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          events.add("write")
        case _ =>
      }
    }
    /** Events posted while `body` runs: the ones before a barrier job's. */
    def recorded(body: => Unit): Seq[String] = {
      events.clear()
      body
      spark.sparkContext.setJobDescription("barrier")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!events.contains("barrier") && System.nanoTime() < deadline) Thread.sleep(20)
      events.toArray.map(_.toString).toSeq.takeWhile(_ != "barrier")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val listed = recorded(assert(Manifest.fileList(spark, m).collect().length == 2))
      assert(listed.isEmpty, s"Manifest.fileList ran Spark jobs: $listed")
      val pass = recorded(assert(WikiPipeline.runFromManifest(spark, m, dir, s"$dir/out",
        wiki = "testwiki", done = Some(spark.read.text(s"$dir/done.txt"))) == 1))
      assert(pass.contains("write"), pass)
      val before = pass.takeWhile(_ != "write")
      assert(before == Seq("job"), s"jobs before the write: ${before.length}, expected 1 (done)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
