package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyed snapshot maintenance — the MERGE INTO / Delta-Lake upsert
  * shape: fold a delta batch into a keyed base table, delta wins per
  * key, tombstone rows delete. The plain-table sibling of
  * [[Temporal.scd2Merge]] (which maintains history; this maintains the
  * current snapshot) and of the reference's incremental skip
  * (main.py:66-68 decides *file* presence; this reconciles *row*
  * versions).
  *
  * Work is delta-shaped: the distinct delta key set broadcasts, the base
  * passes through a broadcast LEFT ANTI join (surviving base rows never
  * reshuffle), and the delta contributes its non-tombstone rows
  * directly. Columns must match; the tombstone marker is any predicate
  * over the delta row. */
object Upsert {

  /** `base` ∖ delta-keys ∪ delta-upserts. A delta row with
    * `isTombstone` true removes the key; otherwise it replaces it.
    * Delta must hold one row per key (enforce upstream with
    * `latest_snapshot`-style dedup when folding an event stream).
    * NULL is a real key: the anti-join matches null-safely (`<=>`),
    * consistent with the sink's within-batch `partitionBy` dedup (which
    * groups NULLs together) and with [[diffVersions]]' null-safe
    * classification — a plain equi-join would let a NULL-keyed base row
    * survive its own replacement, leaving TWO rows for one key. */
  def upsert(base: DataFrame, delta: DataFrame, key: Column,
      isTombstone: Column): DataFrame = {
    val deltaKeys = delta.select(key.as("__k")).distinct()
    val kept = base.join(broadcast(deltaKeys),
      key <=> col("__k"), "left_anti")
    kept.unionByName(delta.filter(!isTombstone))
  }

  /** One committed snapshot version: directory `v=<version>_b=<batchId>`
    * under the sink root, counted only once its `_SUCCESS` marker exists
    * (Spark's parquet committer writes it last, so a crashed write is
    * invisible to every reader and to the next sink invocation). */
  private case class Version(version: Long, batchId: Long,
      dir: org.apache.hadoop.fs.Path)

  /** List the committed versions of a sink directory, ascending. All
    * listing goes through the Hadoop [[org.apache.hadoop.fs.FileSystem]]
    * resolved from the path itself, so the sink runs unchanged against
    * `file:`, `hdfs:`, `s3a:`, `gs:` — the stores the 100 TB story
    * actually lives on (the earlier `java.io.File` form was local-only). */
  private def listVersions(spark: org.apache.spark.sql.SparkSession,
      path: String): (org.apache.hadoop.fs.FileSystem, Seq[Version]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val vs =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .flatMap { s =>
          val name = s.getPath.getName.stripPrefix("v=")
          name.split("_b=") match {
            case Array(v, b) if fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")) =>
              Some(Version(v.toLong, b.toLong, s.getPath))
            case _ => None
          }
        }.sortBy(_.version)
    (fs, vs)
  }

  /** The commit sequence of every versioned sink ([[versionedSink]],
    * [[changeFeedSink]], [[Mv.versionedViewSink]],
    * [[Mv.versionedJoinViewSink]]), shared so they cannot drift on
    * replay semantics. ONE version listing per micro-batch
    * (listVersions is LIST + N `_SUCCESS` existence probes — on an
    * object store, re-listing per read is real money) picks the next
    * version number and the base to fold over, honoring the replay
    * protocol: a replayed batch id bases on the state strictly BEFORE
    * its first application, a first delivery on the full committed
    * chain. `merge` gets the base snapshot (`None` when the batch opens
    * the log) and its result is written as `v=<version>_b=<batchId>`.
    * Returns the version, the base directory and the committed
    * directory, so callers re-read the new snapshot WITHOUT listing
    * again. */
  private[operators] def commitVersion(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: Long)(merge: Option[DataFrame] => DataFrame)
      : (Long, Option[org.apache.hadoop.fs.Path], String) = {
    val (_, versions) = listVersions(spark, path)
    val myVersion = versions.map(_.version).maxOption.getOrElse(0L) + 1
    val baseVersions = versions.find(_.batchId == batchId) match {
      case Some(first) => versions.filter(_.version < first.version)
      case None => versions
    }
    val baseDir = baseVersions.lastOption.map(_.dir)
    val dir = s"$path/v=${myVersion}_b=$batchId"
    merge(baseDir.map(d => spark.read.parquet(d.toString)))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(dir)
    (myVersion, baseDir, dir)
  }

  /** The **streaming half**: a `foreachBatch` body maintaining a
    * VERSIONED parquet snapshot under `path/v=<n>_b=<batchId>` — each
    * micro-batch reads the latest committed version, folds the batch
    * through [[upsert]] (after within-batch latest-wins dedup on
    * `(order, tie)`), and writes the next version. Strictly append-only,
    * replays included (the Delta-log idea without the log): a replayed
    * batch id b (at-least-once delivery) writes a FRESH version whose
    * base is everything strictly before b's first version — bitwise the
    * same snapshot content as b's original application, so readers see
    * an idempotent state while no committed directory is ever rewritten
    * in place. A crash at ANY point therefore loses at most the
    * in-flight (un-`_SUCCESS`-marked) write, which the restarted stream
    * redelivers; the previously committed chain always survives.
    * Superseded replay versions are [[vacuum]]'s job. */
  def versionedSink(path: String, key: String, order: String, tie: String,
      isTombstone: Column): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      writeSnapshotVersion(batch, batchId, path, key, order, tie, isTombstone)
      ()
    }
  }

  /** The shared commit body of [[versionedSink]] and [[changeFeedSink]]:
    * the batch's latest row per key folded through [[upsert]] over the
    * base version, committed by [[commitVersion]]. */
  private def writeSnapshotVersion(batch: DataFrame, batchId: Long,
      path: String, key: String, order: String, tie: String,
      isTombstone: Column): (Long, Option[org.apache.hadoop.fs.Path], String) = {
    // within-batch latest-wins: keep the (order, tie)-max row per key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(order).desc, col(tie).desc)
    val latest = batch
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    commitVersion(batch.sparkSession, path, batchId) {
      case Some(base) => upsert(base, latest, col(key), isTombstone)
      case None => latest.filter(!isTombstone)
    }
  }

  /** Latest committed state of a [[versionedSink]] directory. */
  def readLatest(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (_, vs) = listVersions(spark, path)
    require(vs.nonEmpty, s"no committed versions under $path")
    spark.read.parquet(vs.last.dir.toString)
  }

  /** Time travel: the snapshot exactly as version `version` committed
    * it. Versions survive until [[vacuum]] retires them. */
  def readVersion(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Long): DataFrame = {
    val (_, vs) = listVersions(spark, path)
    vs.find(_.version == version) match {
      case Some(v) => spark.read.parquet(v.dir.toString)
      case None => throw new IllegalArgumentException(
        s"version $version not present under $path — committed: " +
          vs.map(_.version).mkString("[", ",", "]"))
    }
  }

  /** **Change-data capture between committed versions** — the
    * time-travel companion of [[readVersion]]: every key whose state
    * differs between versions `from` and `to`, classified
    * inserted/deleted/updated, carrying the AFTER image for
    * inserted/updated rows (what a downstream MERGE needs to catch up
    * from `from` to `to`) and NULLs for deleted. Content equality is
    * digest equality computed AT THE SCAN, map-side (the `corpus_diff`
    * discipline: payload columns never cross the version-compare
    * shuffle — one full-outer equi-join on (key, digest) projections),
    * and the after-image attach joins only the DIFF-sized key set back
    * to `to`'s snapshot. The patch law `apply(readVersion(from), diff)
    * ≡ readVersion(to)` is spec-pinned (StreamingSpec). */
  def diffVersions(spark: org.apache.spark.sql.SparkSession, path: String,
      from: Long, to: Long, keys: Seq[String]): DataFrame = {
    val a = readVersion(spark, path, from)
    val b = readVersion(spark, path, to)
    diffSnapshots(a, b, keys, scope = None)
  }

  /** The diff kernel behind [[diffVersions]] and [[changeFeedSink]]:
    * classified key-level changes between two same-schema snapshots.
    * `scope` (a 1-column-per-key frame) restricts the comparison to the
    * given key set — the change-feed case, where only the micro-batch's
    * keys can have changed, making the diff's join inputs batch-sized
    * (broadcast semi-joins at both scans) instead of snapshot-sized. */
  private[graft] def diffSnapshots(a0: DataFrame, b0: DataFrame,
      keys: Seq[String], scope: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "diffSnapshots needs at least one key column")
    require(a0.columns.toSeq == b0.columns.toSeq,
      s"schema drift between versions: ${a0.columns.toSeq} vs ${b0.columns.toSeq}")
    // null-safe (<=>) scope matching, same reason as the diff join below:
    // a NULL-keyed batch row must stay IN scope, or its change silently
    // vanishes from the feed and the iterated patch law breaks
    def scoped(df: DataFrame): DataFrame = scope match {
      case Some(s0) =>
        val s = s0.select(keys.map(c => col(c).as(s"__scope_$c")): _*).distinct()
        val cond = keys.map(c => df(c) <=> s(s"__scope_$c")).reduce(_ && _)
        df.join(broadcast(s), cond, "left_semi")
      case None => df
    }
    val a = scoped(a0)
    val b = scoped(b0)
    val nonKeys = a.columns.filterNot(keys.contains).toSeq
    // the scoped (change-feed) case carries b's payload THROUGH the
    // version-compare join: both inputs are batch-sized by construction
    // there, so the corpus_diff payload-free-shuffle discipline buys
    // nothing while the after-image attach it forces costs a join + a
    // broadcast per micro-batch commit (r14 — change_feed is job-count
    // bound, 35 driver jobs for 3 commits). Unscoped diffs keep the
    // payload-free shape: at snapshot scale the digest projection is
    // what keeps the full-outer exchange narrow. Deleted rows emit NULL
    // after-images either way (payload comes from the b side, which a
    // deleted key does not have — exactly what the attach join's left
    // join produced).
    val carryPayload = scope.isDefined
    def digested(df: org.apache.spark.sql.DataFrame, tag: String) = {
      val payload = if (carryPayload && tag == "b")
        nonKeys.map(c => col(c).as(s"__${tag}_$c")) else Nil
      df.select(keys.map(c => col(c).as(s"__${tag}_$c")) ++
        // `##` in the digest alias: payload columns are named
        // __<tag>_<col>, so a snapshot column literally named "sig"
        // would collide with a __<tag>_sig digest and make every
        // downstream reference ambiguous; no payload name can produce
        // __<tag>##… (r14 advice)
        (md5(to_json(struct(nonKeys.map(col): _*))).as(s"__${tag}##sig") +:
          payload): _*)
    }
    // null-safe (<=>) key matching throughout: a plain equi-join would
    // never match NULL keys, misreporting an unchanged null-keyed row
    // as deleted+inserted (with a NULL after image) and breaking the
    // patch law
    val cond = keys.map(c => col(s"__a_$c") <=> col(s"__b_$c")).reduce(_ && _)
    val diff = digested(a, "a").join(digested(b, "b"), cond, "full_outer")
      .select(keys.map(c =>
        coalesce(col(s"__a_$c"), col(s"__b_$c")).as(c)) ++
        (when(col("__a##sig").isNull, "inserted")
          .when(col("__b##sig").isNull, "deleted")
          .when(col("__a##sig") =!= col("__b##sig"), "updated")
          .as("change") +:
          (if (carryPayload) nonKeys.map(c => col(s"__b_$c").as(c)) else Nil)): _*)
      .filter(col("change").isNotNull)
    if (carryPayload) diff
    else {
      // explicit aliases: diff derives from b, so an unaliased attach is
      // an ambiguous self-join
      val attach = keys.map(c => col(s"__d.$c") <=> col(s"__b2.$c")).reduce(_ && _)
      diff.as("__d").join(b.as("__b2"), attach, "left")
        .select(keys.map(c => col(s"__d.$c").as(c)) ++
          (col("__d.change") +: nonKeys.map(c => col(s"__b2.$c").as(c))): _*)
    }
  }

  /** **Streaming CDC change-feed sink** — [[versionedSink]] composed
    * with [[diffSnapshots]] in one `foreachBatch` body: each micro-batch
    * (1) commits snapshot version v exactly as the versioned sink does
    * (same replay protocol, same `_SUCCESS` crash discipline), then
    * (2) appends v's classified diff (inserted/deleted/updated + after
    * image) under `feedPath/v=<v>_b=<batchId>` with a `change_version`
    * column — the change feed a downstream consumer tails instead of
    * re-diffing snapshots. Diff work is ∝ BATCH, not snapshot: only the
    * batch's own keys can have changed, so both diff inputs pass a
    * broadcast semi-join on the batch key set before anything shuffles.
    *
    * Crash/replay: a crash between snapshot commit v and feed write v
    * loses the feed entry — but the restarted stream redelivers the
    * batch, the snapshot sink writes a fresh v' with identical content
    * (its replay protocol), and the feed gets v' carrying the SAME
    * classified rows. Change application is idempotent per key
    * (delete/upsert), so the iterated patch law — feed entries applied
    * in ascending version order onto the first version ≡ the latest
    * snapshot — holds across replays and gaps alike (StreamingSpec pins
    * it). */
  def changeFeedSink(path: String, feedPath: String, key: String,
      order: String, tie: String, isTombstone: Column): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val (myVersion, baseDir, committedDir) =
        writeSnapshotVersion(batch, batchId, path, key, order, tie, isTombstone)
      val after = spark.read.parquet(committedDir)
      val nonKeys = after.columns.filterNot(_ == key).toSeq
      val diff = baseDir match {
        case None => // the log-opening version: everything is an insert
          after.select(col(key) +: lit("inserted").as("change") +:
            nonKeys.map(col): _*)
        case Some(d) =>
          diffSnapshots(spark.read.parquet(d.toString), after, Seq(key),
            scope = Some(batch.select(col(key)).distinct()))
      }
      diff.withColumn("change_version", lit(myVersion))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$feedPath/v=${myVersion}_b=$batchId")
    }
  }

  /** All committed change-feed entries of a [[changeFeedSink]] feed
    * directory, every entry carrying its `change_version`. */
  def readChangeFeed(spark: org.apache.spark.sql.SparkSession,
      feedPath: String): DataFrame = {
    val (_, vs) = listVersions(spark, feedPath)
    require(vs.nonEmpty, s"no committed feed entries under $feedPath")
    spark.read.parquet(vs.map(_.dir.toString): _*)
  }

  /** Apply ONE version's classified changes to a snapshot: deleted keys
    * drop, inserted/updated after-images upsert — the consumer-side
    * patch step of the change-feed contract. Idempotent per key. */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val ch =
      if (changes.columns.contains("change_version"))
        changes.drop("change_version")
      else changes
    val keyCol = struct(keys.map(col): _*)
    val deltaKeys = ch.select(keyCol.as("__k")).distinct()
    // null-safe, like upsert: NULL is a real key in the feed contract
    val kept = snapshot.join(broadcast(deltaKeys), keyCol <=> col("__k"),
      "left_anti")
    kept.unionByName(ch.filter(col("change") =!= "deleted").drop("change"))
  }

  /** Fold an entire change feed over a base snapshot, version by version
    * ascending — the iterated patch law's left-hand side. The driver
    * collects only the DISTINCT VERSION IDS (bounded by the sink's
    * commit count, never data-sized). */
  def applyChangeFeed(snapshot: DataFrame, feed: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val versions = feed.select(col("change_version")).distinct()
      .orderBy(col("change_version")).collect().map(_.getLong(0))
    versions.foldLeft(snapshot)((s, v) =>
      applyChanges(s, feed.filter(col("change_version") === v), keys))
  }

  /** Committed (version, batchId) pairs, ascending — the sink's history
    * listing for time-travel discovery. */
  def versions(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Long)] =
    listVersions(spark, path)._2.map(v => (v.version, v.batchId))

  /** Retention vacuum: delete committed versions older than the last
    * `keepLast`, but NEVER anything the replay protocol may still read —
    * every version from the base of the latest distinct batch id onward
    * is protected, so a restart that redelivers the most recent batch
    * still finds the exact base its replay must fold over. (Batches
    * before that are checkpoint-committed: Structured Streaming never
    * redelivers them.) Returns the versions deleted. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1 (got $keepLast)")
    val (fs, vs) = listVersions(spark, path)
    if (vs.isEmpty) return Seq.empty
    val latestBatch = vs.last.batchId
    val firstOfLatestBatch = vs.find(_.batchId == latestBatch).get.version
    // the replay base: greatest version strictly below the latest
    // batch's first version (or everything, if that batch opened the log)
    val replayFloor = vs.filter(_.version < firstOfLatestBatch)
      .map(_.version).maxOption.getOrElse(Long.MinValue)
    val keepFloor = vs.takeRight(keepLast).head.version
    val victims = vs.filter(v => v.version < keepFloor && v.version < replayFloor)
    victims.foreach(v => fs.delete(v.dir, true))
    victims.map(_.version)
  }
}
