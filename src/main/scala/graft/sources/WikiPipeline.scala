package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The reference's whole job (/root/reference/main.py `main()`), as one
  * library call: manifest scan [S1] → incremental skip [S2] (both on the
  * driver) → streaming decompress + XML event scan [S4/S5, DataSource
  * V2] → ns filter [F1] + epoch filter [F2] + greedy daily downsample
  * [A1] → wiki/month-partitioned zstd Parquet [S6/S7]. A user of the
  * reference switches by pointing this at the same manifest, dump
  * directory, and output tree.
  *
  * Differences from the reference, by design: the downsample is the
  * shuffle aggregate (order-independent, SURVEY §2.4 proof), doneness is
  * an explicit `done` table (the reference keys on bucket listings —
  * callers on object storage pass the listing as that table), and
  * download orchestration is out of scope (zero-egress build; the dump
  * dir stands in for the fetched files). */
object WikiPipeline {

  /** Process a concrete file list end to end. Returns the number of input
    * files processed (0 = nothing to do, nothing written). `mode` is the
    * sink's save mode: `Overwrite` replaces the output tree, `Append`
    * adds to it. */
  def run(spark: SparkSession, inputs: Seq[String], outPath: String,
      wiki: String,
      epoch: String = graft.operators.Diachronic.DefaultEpoch,
      mode: SaveMode = SaveMode.Overwrite): Int = {
    if (inputs.nonEmpty) {
      val snaps = WikiXml.dailySnapshots(WikiXml.read(spark, inputs), epoch)
      Sink.writeSnapshots(snaps, outPath, wiki, mode)
    }
    inputs.length
  }

  /** Manifest-driven variant: extract the job's file list, drop the ones
    * whose outputs `done` already records (the reference's S2 listing
    * difference, keyed `<file>.parquet` like its bucket listing), resolve
    * the rest against `dumpDir`, and run. `done` = a 1-column DataFrame
    * of already-produced output names. Both steps run on the driver
    * ([[Manifest]], [[Sink.incrementalSkip]]): collecting `done` is the
    * one Spark job before the write.
    *
    * With `done` given the run is incremental: it appends the remaining
    * files' snapshots to the tree and leaves the rows already there
    * alone. The contract is the reference's bucket listing: `done` must
    * name every file whose snapshots are already in the tree, or those
    * files are ingested again and their rows doubled. Without `done`
    * (the reference's `overwrite`) the run ingests every file and
    * replaces the tree. */
  def runFromManifest(spark: SparkSession, manifestPath: String,
      dumpDir: String, outPath: String, wiki: String,
      done: Option[DataFrame] = None,
      epoch: String = graft.operators.Diachronic.DefaultEpoch): Int = {
    val items = Manifest.fileList(spark, manifestPath)
    val todo = done match {
      case Some(d) => Sink.incrementalSkip(items, "file", d, d.columns.head, outputSuffix = "parquet")
      case None => items
    }
    // fileList is sorted and local, so this collect runs no Spark job
    val files = todo.collect()
      .map(r => s"${dumpDir.stripSuffix("/")}/${r.getString(0)}").toSeq
    val mode = if (done.isDefined) SaveMode.Append else SaveMode.Overwrite
    run(spark, files, outPath, wiki, epoch, mode)
  }
}
