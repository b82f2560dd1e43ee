package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Source/sink format breadth: CSV and JSON (the reference's manifest is
  * JSON, /root/reference/main.py:44-54) round-trip with explicit schemas —
  * same no-inference discipline as the Parquet loaders. */
class SourcesSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf0001)
    .select("doc_id", "lang", "source", "n_chars")

  test("csv round-trip with explicit schema and header") {
    val dir = Files.createTempDirectory("graftcsv").toString + "/docs"
    docs.write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
    val back = spark.read
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
      .option("header", "true")
      .csv(dir)
    assert(back.count() == docs.count())
    assert(back.agg(sum("n_chars")).head().getLong(0) ==
      docs.agg(sum("n_chars")).head().getLong(0))
  }

  test("json lines round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graftjson").toString + "/docs"
    docs.write.mode(SaveMode.Overwrite).json(dir)
    val back = spark.read
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
      .json(dir)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").except(docs.select("doc_id")).count() == 0)
  }

  test("corrupt-record policy: PERMISSIVE quarantines, DROPMALFORMED sheds, FAILFAST throws") {
    import graft.sources.TextSources
    val dir = Files.createTempDirectory("graftjsonl").toString
    val f = new java.io.File(dir, "part.jsonl")
    Files.writeString(f.toPath,
      """{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}
        |this line is not json
        |{"doc_id": 2, "text": "fine", "lang": "de", "source": "s", "n_chars": 4}
        |""".stripMargin)
    // cache: Spark disallows corrupt-column-only queries straight off
    // the raw file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val permissive = TextSources.readJsonl(spark, dir, Tables.documentsSchema)
      .cache()
    assert(permissive.count() == 3)
    val bad = permissive.filter(col(TextSources.corruptCol).isNotNull)
    assert(bad.count() == 1)
    assert(bad.select(TextSources.corruptCol).head().getString(0)
      .contains("not json"))
    val dropped = TextSources.readJsonl(spark, dir, Tables.documentsSchema,
      mode = "DROPMALFORMED")
    assert(dropped.count() == 2)
    val ex = intercept[org.apache.spark.SparkException] {
      TextSources.readJsonl(spark, dir, Tables.documentsSchema,
        mode = "FAILFAST").count()
    }
    assert(ex.getMessage.contains("FAILFAST") ||
      ex.getCause != null)
  }

  test("csv corrupt-record policies: quarantine, shed, abort; quotes round-trip") {
    import graft.sources.TextSources
    val dir = Files.createTempDirectory("graftcsv").toString
    val f = new java.io.File(dir, "part.csv")
    // a quoted field with embedded comma and a doubled quote, plus one
    // malformed line (wrong arity, unparseable long)
    Files.writeString(f.toPath,
      "doc_id,text,lang,source,n_chars\n" +
        "1,\"ok, with \"\"quote\"\"\",en,s,2\n" +
        "not-a-long,too,few\n" +
        "2,fine,de,s,4\n")
    val permissive = TextSources.readCsv(spark, dir, Tables.documentsSchema)
      .cache()
    assert(permissive.count() == 3)
    val bad = permissive.filter(col(TextSources.corruptCol).isNotNull)
    assert(bad.count() == 1)
    val good = permissive.filter(col("doc_id") === 1L)
    assert(good.select("text").head().getString(0) == "ok, with \"quote\"")
    val dropped = TextSources.readCsv(spark, dir, Tables.documentsSchema,
      mode = "DROPMALFORMED")
    // CSV caveat a JSONL reader doesn't have: under bare count() column
    // pruning skips type conversion entirely, so no row can be judged
    // malformed and the raw line count comes back. Materializing data
    // columns forces the parse — the mode then sheds the bad line.
    assert(dropped.select("doc_id", "n_chars").collect().length == 2)
    val ex = intercept[org.apache.spark.SparkException] {
      // same pruning caveat: the abort only fires when columns parse
      TextSources.readCsv(spark, dir, Tables.documentsSchema,
        mode = "FAILFAST").select("doc_id", "n_chars").collect()
    }
    assert(ex.getMessage.contains("FAILFAST") || ex.getCause != null)
  }

  test("jsonl_roundtrip query preserves every document byte for byte") {
    val back = SparkEntry.queries("jsonl_roundtrip")(spark, sf0001)
    val orig = Tables.documents(spark, sf0001)
    assert(back.count() == orig.count())
    assert(back.exceptAll(orig.select("doc_id", "text", "lang", "source",
      "n_chars")).count() == 0)
  }

  test("compact rewrites fragmented partitions to ceil(rows/target) files, content intact") {
    import graft.sources.Sink
    import spark.implicits._
    val dir = Files.createTempDirectory("graftcompact").toString + "/t"
    val data = (1 to 500).map(i => (i.toLong, s"g${i % 3}", s"v$i"))
      .toDF("id", "g", "v")
    data.repartition(6).write.partitionBy("g").parquet(dir)
    val rep = Sink.compact(spark, dir, "g", targetRows = 100L)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rep.map(_._1) == Seq("g0", "g1", "g2"))
    rep.foreach { case (g, fb, fa, rows, rowsAfter) =>
      assert(rows == rowsAfter)
      assert(fb == 6, s"$g fragmented into $fb files, expected 6")
      assert(fa == math.ceil(rows / 100.0).toLong, s"$g -> $fa files")
      assert(fa < fb)
    }
    // on-disk file count matches the report; content preserved exactly
    val back = spark.read.parquet(dir + "__compacted")
    assert(back.count() == 500)
    assert(back.select("id", "g", "v").exceptAll(data).count() == 0)
    rep.foreach { case (g, _, fa, _, _) =>
      val files = new java.io.File(dir + s"__compacted/g=$g")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == fa, s"on-disk $files != reported $fa for $g")
    }
  }

  test("Manifest.fileList extracts a job's dump files") {
    // the reference's dumpstatus.json shape: {"jobs": {"f1": {...}, ...}}
    val dir = Files.createTempDirectory("graftmanifest").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/manifest.json"),
      """{"jobs":{"metahistory7zdump":{"files":{"enwiki-p1.7z":{"size":1},"enwiki-p2.7z":{"size":2}}}}}""")
    val files = graft.sources.Manifest.fileList(spark, s"$dir/manifest.json")
      .collect().map(_.getString(0)).toSeq
    assert(files == Seq("enwiki-p1.7z", "enwiki-p2.7z"))
  }
}
