package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's dump-catalog scan (`dumpstatus.json`,
  * /root/reference/main.py:44-54): extract one job's file list from the
  * manifest's `{"jobs": {"<job>": {"files": {"<name>": {...}}}}}` shape.
  *
  * The HTTP fetch itself is out of scope in a zero-egress build — callers
  * hand over a manifest already on any Hadoop-readable URI (file://,
  * object store). Keys of the nested object become rows via a
  * map<string,...> re-parse + `map_keys` (Spark's JSON reader models the
  * object as a struct whose FIELD NAMES are the file names). */
object Manifest {

  /** One row per dump file name for `job`, ordered. */
  def fileList(spark: SparkSession, manifestPath: String,
      job: String = "metahistory7zdump"): DataFrame =
    spark.read.option("multiLine", "true").json(manifestPath)
      .select(explode(expr(
        s"map_keys(from_json(to_json(jobs.$job.files), 'map<string,struct<size:long>>'))"))
        .as("file"))
      .orderBy("file")
}
