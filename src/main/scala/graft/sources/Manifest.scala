package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.JObject
import org.json4s.jackson.JsonMethods

/** The reference's dump-catalog scan (`dumpstatus.json`,
  * /root/reference/main.py:44-54): extract one job's file list from the
  * manifest's `{"jobs": {"<job>": {"files": {"<name>": {...}}}}}` shape.
  *
  * The HTTP fetch itself is out of scope in a zero-egress build — callers
  * hand over a manifest already on any Hadoop-readable URI (file://,
  * object store).
  *
  * The scan runs on the driver, like the reference's dict lookup: the
  * manifest is a few KB, and a read through Spark's JSON source would
  * cost a schema-inference job and a scan job on every pass of the
  * paper's job. The file is opened through the Hadoop `FileSystem` of its path
  * and parsed with json4s; the file names are the keys of the job's
  * `files` object. */
object Manifest {

  /** One row per dump file name for `job`, sorted, over a local relation
    * (so filters and collects over it run no Spark job). Fails, naming
    * the job, when the manifest has no `jobs.<job>.files` object. */
  def fileList(spark: SparkSession, manifestPath: String,
      job: String = "metahistory7zdump"): DataFrame = {
    val path = new Path(manifestPath)
    val in = path.getFileSystem(spark.sessionState.newHadoopConf()).open(path)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    val files = JsonMethods.parse(text) \ "jobs" \ job \ "files" match {
      case JObject(fields) => fields.map(_._1).sorted
      case _ => throw new NoSuchElementException(
        s"manifest $manifestPath has no files for job '$job' (jobs.$job.files)")
    }
    import spark.implicits._
    files.toDF("file")
  }
}
