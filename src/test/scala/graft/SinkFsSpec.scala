package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.sources.{InProcessChmodFs, Sink, WikiXml}

/** The sink's local filesystem ([[InProcessChmodFs]]): every path it
  * creates or chmods gets the mode the stock `LocalFileSystem` gives it,
  * and the sink selects it only for `file:` destinations of sessions
  * that name no `file:` implementation of their own. */
class SinkFsSpec extends SparkTestBase {

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** Relative path → `rwxr-x---` form, for every path under `root`. */
  private def modes(root: JPath, rename: String => String = identity): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      rename(root.relativize(p).toString) ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally s.close()
  }

  /** Create, mkdirs, chmod without and with the sticky bit, through `fs`
    * under `root`; returns the modes of everything that left behind. */
  private def exercise(fs: LocalFileSystem, root: JPath): Map[String, String] = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    val out = fs.create(p("a/f.bin"))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    assert(fs.mkdirs(p("b/c/d")))
    val g = fs.create(p("b/g.bin"))
    g.close()
    fs.setPermission(p("b/g.bin"), octal("640"))
    assert(fs.mkdirs(p("s")))
    fs.setPermission(p("s"), octal("1777"))
    modes(root)
  }

  for (umask <- Seq("022", "077")) {
    test(s"in-process chmod gives the stock local filesystem's modes under umask $umask") {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val stock = new LocalFileSystem()
      stock.initialize(URI.create("file:///"), conf)
      val inProc = new InProcessChmodFs()
      inProc.initialize(URI.create("file:///"), conf)
      assert(inProc.getRawFileSystem.isInstanceOf[InProcessChmodFs.Raw])
      val want = exercise(stock, Files.createTempDirectory("stockfs"))
      val got = exercise(inProc, Files.createTempDirectory("inprocfs"))
      // data files, their .crc side files and every directory level
      assert(want.keySet == Set("a", "a/f.bin", "a/.f.bin.crc", "b", "b/c", "b/c/d",
        "b/g.bin", "b/.g.bin.crc", "s"), want)
      assert(got == want)
      assert(want("s") == "rwxrwxrwx" && want("b/g.bin") == "rw-r-----", want)
      if (umask == "077") assert(want("a/f.bin") == "rw-------", want)
    }
  }

  test("writeSnapshots leaves the modes a stock Parquet write leaves") {
    val snaps = WikiXml.dailySnapshots(WikiXml.read(spark, "src/test/resources/wiki/fixture.xml"))
    // data file names carry a per-write id: compare by position in the tree
    val anon = (rel: String) => rel.replaceAll("part-[^/]*", "part")
    for (umask <- Seq(None, Some("077"))) {
      umask.foreach(spark.conf.set("fs.permissions.umask-mode", _))
      try {
        val root = Files.createTempDirectory("sinkmodes")
        Sink.writeSnapshots(snaps, root.resolve("ours").toString, wiki = "testwiki")
        val stock = snaps.withColumn("wiki", lit("testwiki"))
          .withColumn("month", date_format(col("timestamp"), "yyyy-MM"))
          .write.option("compression", "zstd").partitionBy("wiki", "month")
        // the process-wide cached file: filesystem keeps the conf it was
        // first made with, so under a session-set umask the stock write
        // is compared uncached: the conf the sink's instance reads
        umask.fold(stock)(_ => stock.option("fs.file.impl.disable.cache", "true"))
          .parquet(root.resolve("stock").toString)
        val got = modes(root.resolve("ours"), anon)
        val want = modes(root.resolve("stock"), anon)
        assert(want.keys.exists(_.endsWith("/part")) && want.contains("._SUCCESS.crc"), want)
        assert(got == want, umask)
        if (umask.isDefined) assert(want("_SUCCESS") == "rw-------", want)
      } finally spark.conf.unset("fs.permissions.umask-mode")
    }
  }

  test("the sink selects the filesystem only for file: paths of sessions without their own") {
    val conf = new Configuration()
    val on = InProcessChmodFs.writerOptions("/tmp/out", conf)
    assert(on == Map("fs.file.impl" -> classOf[InProcessChmodFs].getName,
      "fs.file.impl.disable.cache" -> "true"))
    assert(InProcessChmodFs.writerOptions("file:///tmp/out", conf) == on)
    assert(InProcessChmodFs.writerOptions("relative/out", conf) == on)
    for (remote <- Seq("hdfs://nn:8020/out", "s3a://bucket/out", "gs://bucket/out"))
      assert(InProcessChmodFs.writerOptions(remote, conf).isEmpty, remote)
    // a schemeless path resolves against fs.defaultFS
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(InProcessChmodFs.writerOptions("/tmp/out", hdfsDefault).isEmpty)
    assert(InProcessChmodFs.writerOptions("file:///tmp/out", hdfsDefault) == on)
    // the session's own Hadoop conf: on by default, off once it names a
    // file: implementation (as a Hive session's ProxyLocalFileSystem does)
    assert(InProcessChmodFs.writerOptions("/tmp/out", spark.sessionState.newHadoopConf()) == on)
    spark.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    try assert(InProcessChmodFs.writerOptions("/tmp/out", spark.sessionState.newHadoopConf()).isEmpty)
    finally spark.conf.unset("fs.file.impl")
  }
}
