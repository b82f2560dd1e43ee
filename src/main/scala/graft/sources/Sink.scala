package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode}
import org.apache.spark.sql.functions._

/** Output-side operators: the reference's Parquet sink + object-store
  * upload (S6/S7, main.py:177-191), Spark-native, and
  * the incremental skip (S2, main.py:56-71), on the driver.
  *
  * S6+S7 collapse into a single `.write` against the destination URI
  * (local path here; `gs://`/`s3a://` via the corresponding Hadoop
  * connector on a real cluster — SURVEY.md §2.1). Compression is zstd:
  * the reference's brotli codec has no JVM implementation on the
  * classpath (main.py:182; BASELINE.md), zstd is the dense-codec
  * equivalent. Row-group sizing / memory-bounded flush (the reference's
  * M1, main.py:166-169) is Spark's ParquetOutputWriter's job — nothing
  * custom.
  *
  * The snapshot write is clustered by its partition columns with one
  * `REBALANCE` exchange ([[writeSnapshots]] says why that one and what
  * adaptive execution does with it), so each (wiki, month) directory
  * gets one file set instead of one file per upstream task per month:
  * the small-file shape [[compact]] repairs after the fact, and the
  * layer that bounded the paper's job (README, "Wiki-ingest
  * throughput").
  *
  * Local (`file:`) writes carry two Hadoop writer options that select
  * [[InProcessChmodFs]]: without `libhadoop`, the stock local
  * filesystem forks a `chmod` process from the JVM for every data file,
  * `.crc` file and directory it creates, and those forks were most of
  * the snapshot write's wall time. Writer options reach the Hadoop conf
  * of the job setup and commit and of every write task; modes and
  * checksums are those of a stock write. */
object Sink {

  /** The sink's one writer: zstd Parquet, plus the in-process `chmod`
    * filesystem when `path` is local and the session has not chosen its
    * own `file:` implementation. */
  private def parquetWriter(df: DataFrame, path: String,
      mode: SaveMode): DataFrameWriter[Row] =
    df.write.mode(mode).option("compression", "zstd")
      .options(InProcessChmodFs.writerOptions(path,
        df.sparkSession.sessionState.newHadoopConf()))

  /** Partitioned Parquet write. `partitionBy` plays the reference's
    * `wiki/month/` output layout (conf.py:27-28): at 100 TB, partition
    * columns are what lets downstream readers prune input by
    * wiki/month without listing everything. */
  def writeParquet(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = parquetWriter(df, path, mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Wiki snapshots partitioned like the reference's output tree:
    * wiki (constant column added by the caller) / month of the snapshot
    * timestamp.
    *
    * The rows are clustered by (wiki, month) with a `REBALANCE` hint
    * before the write, so one write task holds a whole month and writes
    * one file into its directory. `REBALANCE`, not `repartition`: under
    * adaptive execution the same exchange coalesces small months into
    * one task and splits a month larger than
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` across several
    * (one file each), so a hot month never lands in a single task. The
    * clustering is a second exchange after the downsample's `(title,
    * day)` one on purpose: folding it into the aggregate would shuffle
    * the raw text-carrying revisions before the map-side combine.
    *
    * `mode` is the save mode: `Overwrite` replaces the tree, `Append`
    * adds this write's files beside the ones already there. */
  def writeSnapshots(snapshots: DataFrame, path: String, wiki: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    writeParquet(
      snapshots
        .withColumn("wiki", lit(wiki))
        .withColumn("month", date_format(col("timestamp"), "yyyy-MM"))
        .hint("rebalance", col("wiki"), col("month")),
      path,
      partitionCols = Seq("wiki", "month"),
      mode = mode)

  /** **Small-file compaction** — the table-maintenance job every
    * partitioned 100 TB dataset needs: streaming/batch appends leave
    * partitions fragmented into many undersized files (one per task per
    * micro-batch), and scan cost becomes file-open-bound instead of
    * byte-bound. Rewrite each partition into `ceil(rows/targetRows)`
    * files: ONE read of the fragmented layout, a repartition keyed on
    * (partition, file-slot) so output files land near `targetRows` rows
    * each, one write. Returns the per-partition (files_before,
    * files_after, rows) report — the audit row a maintenance scheduler
    * gates on, same report-first discipline as
    * [[graft.operators.DataQuality]]. Content is preserved exactly
    * (spec: row-set equality before/after). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      partitionCol: String, targetRows: Long): DataFrame = {
    require(targetRows > 0, s"targetRows must be positive (got $targetRows)")
    def fileStats(p: String, filesCol: String, rowsCol: String): DataFrame =
      spark.read.parquet(p)
        .select(col(partitionCol), input_file_name().as("f"))
        .groupBy(col(partitionCol))
        .agg(countDistinct(col("f")).as(filesCol), count(lit(1)).as(rowsCol))
    val before = fileStats(path, "files_before", "rows")
    // one shuffle keyed on the partition column co-locates each
    // partition's rows in one task; maxRecordsPerFile then splits any
    // oversized partition into ceil(rows/targetRows) files — the
    // deterministic file count the report carries
    val out = path + "__compacted"
    parquetWriter(spark.read.parquet(path).repartition(col(partitionCol)),
      out, SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRows)
      .partitionBy(partitionCol)
      .parquet(out)
    before
      .join(fileStats(out, "files_after", "rows_after"), partitionCol)
      .select(col(partitionCol).cast("string").as(partitionCol),
        col("files_before"), col("files_after"), col("rows"),
        col("rows_after"))
      .orderBy(partitionCol)
  }

  /** The reference's incremental skip (S2): drop work items whose derived
    * output key `item + "." + suffix` already exists (main.py:66-68). The
    * reference's `overwrite=True` is not calling it, as `runFromManifest`
    * does without `done`.
    *
    * Like the reference's listing difference, it runs on the driver: the
    * listing is KB-sized, so `existing`'s key column is collected (as
    * strings, in one job) and the work items are filtered against that
    * set. Over a local relation, such as [[Manifest.fileList]]'s, the
    * filter folds into a local relation and runs no job. Null semantics
    * are a left-anti join's: a null work item is kept, and a null key
    * drops nothing. */
  def incrementalSkip(workItems: DataFrame, itemCol: String,
      existing: DataFrame, existingCol: String, outputSuffix: String): DataFrame = {
    val keys = existing.select(existing(existingCol).cast("string")).collect()
      .flatMap(r => Option(r.getString(0))).toSet
    val key = concat(workItems(itemCol), lit("."), lit(outputSuffix))
    workItems.filter(key.isNull || !key.isInCollection(keys))
  }
}
