package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingDownsample
import graft.streaming.StreamingDownsample.Event

/** Structured-Streaming downsample vs the batch operator: the streaming
  * formulations must converge to the batch answer once all data is in. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def batchExpected(events: Seq[Event]): Set[(Long, Long)] = {
    val df = events.toDF()
    graft.operators.Diachronic.firstPerDay(df,
        key = col("user_id"), ts = col("ts"), tieBreak = col("event_id"),
        payload = Seq("event_id" -> col("event_id")))
      .select("key", "event_id").as[(Long, Long)].collect().toSet
  }

  private val sample: Seq[Event] = {
    val rng = new scala.util.Random(7)
    (1 to 300).map { i =>
      Event(i.toLong,
        new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
          rng.nextInt(10 * 24 * 3600) * 1000L),
        rng.nextInt(5).toLong, "e", rng.nextDouble())
    }
  }

  test("greedy flatMapGroupsWithState matches batch when fed in event order") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.greedy(mem.toDS())
      .writeStream.format("memory").queryName("greedy_out")
      .outputMode("append").start()
    // feed in event-time order across two micro-batches (the reference's
    // pre-sorted-file assumption)
    val sorted = sample.sortBy(e => (e.ts.getTime, e.event_id))
    mem.addData(sorted.take(150))
    q.processAllAvailable()
    mem.addData(sorted.drop(150))
    q.processAllAvailable()
    val got = spark.table("greedy_out")
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    q.stop()
    assert(got == batchExpected(sample))
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val e1 = Event(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a", 1.0)
    val e2 = Event(2L, Timestamp.valueOf("2024-01-01 10:00:01"), 1L, "b", 2.0)
    mem.addData(Seq(e1, e2, e1))          // duplicate in same batch
    q.processAllAvailable()
    mem.addData(Seq(e1.copy(value = 9.9))) // duplicate id across batches
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("event_id")
      .as[Long].collect().sorted.toSeq
    q.stop()
    assert(ids == Seq(1L, 2L))
  }

  test("streamed driver corpus converges to the registered diachronic_daily rows") {
    implicit val sqlCtx = spark.sqlContext
    // the actual sf0.001 events table, replayed through a MemoryStream in
    // two arbitrary chunks — end-to-end batch≡stream on driver data
    val corpus = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val mem = MemoryStream[Event]
    val epochFiltered = mem.toDF()
      .filter(col("ts") >= lit("2001-01-15 00:00:00").cast("timestamp"))
    val q = StreamingDownsample.windowed(epochFiltered, watermark = "0 seconds")
      .writeStream.format("memory").queryName("converge_out")
      .outputMode("append").start()
    val (first, second) = corpus.splitAt(corpus.size / 2)
    mem.addData(first)
    q.processAllAvailable()
    mem.addData(second)
    q.processAllAvailable()
    // sentinel far past the corpus advances the watermark so every real
    // window finalizes; its own (still-open) window is never emitted
    mem.addData(Seq(Event(-1L, Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "x", 0.0)))
    q.processAllAvailable()
    val got = spark.table("converge_out")
      .select("user_id", "day", "first_ts", "event_id", "event_type", "value")
      .as[(Long, java.sql.Date, Timestamp, Long, String, Double)].collect().toSet
    q.stop()
    val batch = SparkEntry.queries("diachronic_daily")(spark, sf0001)
      .select("user_id", "day", "first_ts", "event_id", "event_type", "value")
      .as[(Long, java.sql.Date, Timestamp, Long, String, Double)].collect().toSet
    assert(batch.nonEmpty)
    assert(got == batch)
  }

  test("streaming SCD2 emits exactly the batch operator's closed intervals") {
    implicit val sqlCtx = spark.sqlContext
    // driver corpus replayed across two micro-batches split on event
    // time (scd2Merge's frontier contract: no late data)
    val corpus = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
      .sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.scd2Stream(mem.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    val cut = Timestamp.valueOf("2024-01-15 00:00:00")
    mem.addData(corpus.filter(_.ts.before(cut)))
    q.processAllAvailable()
    mem.addData(corpus.filterNot(_.ts.before(cut)))
    q.processAllAvailable()
    val got = spark.table("scd2_out")
      .select("user_id", "state", "valid_from", "valid_to", "n_events")
      .as[(Long, String, Timestamp, Timestamp, Long)].collect().toSet
    q.stop()
    val batch = SparkEntry.queries("scd2_intervals")(spark, sf0001)
      .filter(col("valid_to").isNotNull)
      .select("user_id", "state", "valid_from", "valid_to", "n_events")
      .as[(Long, String, Timestamp, Timestamp, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(got == batch)
    // open tails live in state, not output: per key the stream emitted
    // exactly one interval fewer than the full batch history
    val batchAll = SparkEntry.queries("scd2_intervals")(spark, sf0001).count()
    val keys = SparkEntry.queries("scd2_intervals")(spark, sf0001)
      .select("user_id").distinct().count()
    assert(got.size == batchAll - keys)
  }

  test("versioned upsert sink: streamed deltas converge to the batch fold, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Upsert
    val dir = java.nio.file.Files.createTempDirectory("graftupsert").toString + "/snap"
    val mem = MemoryStream[(Long, String, Long)]
    val q = mem.toDF().toDF("k", "v", "seq")
      .writeStream
      .foreachBatch(Upsert.versionedSink(dir, "k", "seq", "seq",
        isTombstone = col("v") === "DEAD"))
      .outputMode("update").start()
    mem.addData(Seq((1L, "a", 1L), (2L, "b", 2L)))
    q.processAllAvailable()
    mem.addData(Seq((2L, "b2", 3L), (2L, "b3", 4L), (3L, "c", 5L))) // in-batch dedup
    q.processAllAvailable()
    mem.addData(Seq((1L, "DEAD", 6L), (4L, "d", 7L)))               // delete + insert
    q.processAllAvailable()
    q.stop()
    val got = Upsert.readLatest(spark, dir)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((2L, "b3", 4L), (3L, "c", 5L), (4L, "d", 7L)))
    // replay safety: re-applying the last batch id appends a FRESH
    // version based on the pre-batch state — identical snapshot content,
    // and no committed directory is ever rewritten in place (a crash
    // mid-replay can no longer lose the original version)
    val before = Upsert.versions(spark, dir)
    val sink = Upsert.versionedSink(dir, "k", "seq", "seq",
      col("v") === "DEAD")
    sink(Seq((1L, "DEAD", 6L), (4L, "d", 7L)).toDF("k", "v", "seq"), 2L)
    val after = Upsert.versions(spark, dir)
    assert(after.size == before.size + 1 && after.take(before.size) == before)
    assert(after.last._2 == 2L) // replayed batch id, new version number
    val replayed = Upsert.readLatest(spark, dir)
      .as[(Long, String, Long)].collect().toSet
    assert(replayed == got)
  }

  test("versioned sink: time travel, history, and retention vacuum on a file:-scheme path") {
    import graft.operators.Upsert
    // explicit Hadoop file: scheme — the sink's listing/delete go through
    // FileSystem, so this is the local twin of the s3a:/gs: deployment
    val dir = "file:" +
      java.nio.file.Files.createTempDirectory("graftvsink").toString + "/snap"
    val sink = Upsert.versionedSink(dir, "k", "seq", "seq",
      isTombstone = col("v") === "DEAD")
    sink(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "v", "seq"), 0L)
    sink(Seq((2L, "b2", 3L), (3L, "c", 4L)).toDF("k", "v", "seq"), 1L)
    sink(Seq((1L, "DEAD", 5L), (4L, "d", 6L)).toDF("k", "v", "seq"), 2L)
    assert(Upsert.versions(spark, dir) == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
    def state(v: Long) = Upsert.readVersion(spark, dir, v)
      .as[(Long, String, Long)].collect().toSet
    assert(state(1) == Set((1L, "a", 1L), (2L, "b", 2L)))
    assert(state(2) == Set((1L, "a", 1L), (2L, "b2", 3L), (3L, "c", 4L)))
    assert(state(3) == Set((2L, "b2", 3L), (3L, "c", 4L), (4L, "d", 6L)))
    assert(Upsert.readLatest(spark, dir)
      .as[(Long, String, Long)].collect().toSet == state(3))
    intercept[IllegalArgumentException](Upsert.readVersion(spark, dir, 9L))
    // replay of the latest batch appends v4 with the same content as v3
    sink(Seq((1L, "DEAD", 5L), (4L, "d", 6L)).toDF("k", "v", "seq"), 2L)
    assert(Upsert.versions(spark, dir) ==
      Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 2L)))
    assert(state(4) == state(3))
    // vacuum(keepLast=1) may delete v1 but NEVER the latest-distinct-
    // batch chain: v2 is the replay base of batch 2 (its first version
    // is v3), and v3/v4 are at-or-after it
    assert(Upsert.vacuum(spark, dir, keepLast = 1) == Seq(1L))
    assert(Upsert.versions(spark, dir) == Seq((2L, 1L), (3L, 2L), (4L, 2L)))
    // a further replay of batch 2 still finds its exact base and
    // reproduces the same snapshot
    sink(Seq((1L, "DEAD", 5L), (4L, "d", 6L)).toDF("k", "v", "seq"), 2L)
    assert(state(5) == state(3))
    // vacuum is idempotent once the floor is reached
    assert(Upsert.vacuum(spark, dir, keepLast = 1) == Seq.empty)
  }

  test("diffVersions: classified CDC between versions, patch law holds") {
    import graft.operators.Upsert
    val dir =
      java.nio.file.Files.createTempDirectory("graftcdc").toString + "/snap"
    val sink = Upsert.versionedSink(dir, "k", "seq", "seq",
      isTombstone = col("v") === "DEAD")
    sink(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "v", "seq"), 0L)
    sink(Seq((2L, "b2", 3L), (3L, "c", 4L)).toDF("k", "v", "seq"), 1L)
    sink(Seq((1L, "DEAD", 5L), (4L, "d", 6L)).toDF("k", "v", "seq"), 2L)
    // v1 {1:a, 2:b} -> v3 {2:b2, 3:c, 4:d}
    val diff = Upsert.diffVersions(spark, dir, 1L, 3L, Seq("k"))
      .as[(Long, String, Option[String], Option[Long])].collect().toSet
    assert(diff == Set(
      (1L, "deleted", None, None),
      (2L, "updated", Some("b2"), Some(3L)),
      (3L, "inserted", Some("c"), Some(4L)),
      (4L, "inserted", Some("d"), Some(6L))))
    // patch law: apply(v1, diff) == v3 — drop deleted/updated keys from
    // the base, add every carried after-image
    val v1 = Upsert.readVersion(spark, dir, 1L)
      .as[(Long, String, Long)].collect().toSet
    val touched = diff.collect { case (k, c, _, _) if c != "inserted" => k }
    val patched = v1.filterNot(r => touched(r._1)) ++
      diff.collect { case (k, c, Some(v), Some(s)) if c != "deleted" => (k, v, s) }
    val v3 = Upsert.readVersion(spark, dir, 3L)
      .as[(Long, String, Long)].collect().toSet
    assert(patched == v3)
    // identity diff is empty
    assert(Upsert.diffVersions(spark, dir, 2L, 2L, Seq("k")).isEmpty)
  }

  test("changeFeedSink: streamed classified feed, iterated patch law, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Upsert
    val root = java.nio.file.Files.createTempDirectory("graftfeed").toString
    val snap = root + "/snap"
    val feedDir = root + "/feed"
    val mem = MemoryStream[(Long, String, Long)]
    val q = mem.toDF().toDF("k", "v", "seq")
      .writeStream
      .foreachBatch(Upsert.changeFeedSink(snap, feedDir, "k", "seq", "seq",
        isTombstone = col("v") === "DEAD"))
      .outputMode("update").start()
    mem.addData(Seq((1L, "a", 1L), (2L, "b", 2L)))
    q.processAllAvailable()
    mem.addData(Seq((2L, "b2", 3L), (3L, "c", 4L)))
    q.processAllAvailable()
    mem.addData(Seq((1L, "DEAD", 5L), (4L, "d", 6L)))
    q.processAllAvailable()
    q.stop()
    // per-version classification: v1 all-inserted, v2 update+insert,
    // v3 delete+insert (the tombstone never surfaces as a row image)
    val feed = Upsert.readChangeFeed(spark, feedDir)
    val got = feed
      .as[(Long, String, Option[String], Option[Long], Long)].collect().toSet
    assert(got == Set(
      (1L, "inserted", Some("a"), Some(1L), 1L),
      (2L, "inserted", Some("b"), Some(2L), 1L),
      (2L, "updated", Some("b2"), Some(3L), 2L),
      (3L, "inserted", Some("c"), Some(4L), 2L),
      (1L, "deleted", None, None, 3L),
      (4L, "inserted", Some("d"), Some(6L), 3L)))
    // iterated patch law (feed ⊕ v_first ≡ latest): folding versions > 1
    // over v1 reproduces the latest snapshot...
    val latest = Upsert.readLatest(spark, snap)
      .as[(Long, String, Long)].collect().toSet
    val folded = Upsert.applyChangeFeed(
      Upsert.readVersion(spark, snap, 1L),
      feed.filter(col("change_version") > 1), Seq("k"))
      .as[(Long, String, Long)].collect().toSet
    assert(folded == latest)
    // ...and the FULL feed folded over an empty snapshot does too
    val empty = Upsert.readLatest(spark, snap).filter(lit(false))
    val fromEmpty = Upsert.applyChangeFeed(empty, feed, Seq("k"))
      .as[(Long, String, Long)].collect().toSet
    assert(fromEmpty == latest)
    // replay of the last batch id: fresh snapshot version + fresh feed
    // entry with the SAME classified content; the law still holds
    val sink = Upsert.changeFeedSink(snap, feedDir, "k", "seq", "seq",
      col("v") === "DEAD")
    sink(Seq((1L, "DEAD", 5L), (4L, "d", 6L)).toDF("k", "v", "seq"), 2L)
    val feed2 = Upsert.readChangeFeed(spark, feedDir)
    val replayedEntry = feed2.filter(col("change_version") === 4)
      .as[(Long, String, Option[String], Option[Long], Long)].collect().toSet
    assert(replayedEntry == Set(
      (1L, "deleted", None, None, 4L),
      (4L, "inserted", Some("d"), Some(6L), 4L)))
    val foldedReplay = Upsert.applyChangeFeed(empty, feed2, Seq("k"))
      .as[(Long, String, Long)].collect().toSet
    assert(foldedReplay == latest)
  }

  test("changeFeedSink keeps NULL-keyed changes in the feed (scope is null-safe)") {
    import graft.operators.Upsert
    val root = java.nio.file.Files.createTempDirectory("graftfeednull").toString
    val snap = root + "/snap"
    val feedDir = root + "/feed"
    val sink = Upsert.changeFeedSink(snap, feedDir, "k", "seq", "seq",
      isTombstone = col("v") === "DEAD")
    sink(Seq((Option(1L), "a", 1L), (Option.empty[Long], "n", 2L))
      .toDF("k", "v", "seq"), 0L)
    sink(Seq((Option.empty[Long], "n2", 3L)).toDF("k", "v", "seq"), 1L)
    // the NULL-keyed update must appear in v2's feed entry — a plain
    // equi-join scope would drop it and the folded feed would diverge
    val v2 = Upsert.readChangeFeed(spark, feedDir)
      .filter(col("change_version") === 2)
      .as[(Option[Long], String, Option[String], Option[Long], Long)]
      .collect().toSet
    assert(v2 == Set((None, "updated", Some("n2"), Some(3L), 2L)))
    val latest = Upsert.readLatest(spark, snap)
      .as[(Option[Long], String, Long)].collect().toSet
    val folded = Upsert.applyChangeFeed(
      Upsert.readLatest(spark, snap).filter(lit(false)),
      Upsert.readChangeFeed(spark, feedDir), Seq("k"))
      .as[(Option[Long], String, Long)].collect().toSet
    assert(folded == latest && latest.contains((None, "n2", 3L)))
  }

  test("diffVersions is null-safe on key columns") {
    import graft.operators.Upsert
    // hand-written version layout (the sink's own dirs carry _SUCCESS
    // from the parquet commit): an UNCHANGED null-keyed row must not
    // surface as deleted+inserted-with-null-payload
    val dir =
      java.nio.file.Files.createTempDirectory("graftcdcnull").toString + "/snap"
    Seq((Option(1L), "a"), (Option.empty[Long], "n"))
      .toDF("k", "v").write.parquet(s"$dir/v=1_b=0")
    Seq((Option(1L), "a2"), (Option.empty[Long], "n"))
      .toDF("k", "v").write.parquet(s"$dir/v=2_b=1")
    val diff = Upsert.diffVersions(spark, dir, 1L, 2L, Seq("k"))
      .as[(Option[Long], String, Option[String])].collect().toSet
    assert(diff == Set((Some(1L), "updated", Some("a2"))))
    // and a CHANGED null-keyed row classifies as updated with its image
    Seq((Option(1L), "a2"), (Option.empty[Long], "n2"))
      .toDF("k", "v").write.parquet(s"$dir/v=3_b=2")
    val diff2 = Upsert.diffVersions(spark, dir, 2L, 3L, Seq("k"))
      .as[(Option[Long], String, Option[String])].collect().toSet
    assert(diff2 == Set((None, "updated", Some("n2"))))
  }

  test("streaming session windows converge to the batch sessionize islands") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.sessions(mem.toDF(), gap = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    val (a, b) = corpus.splitAt(corpus.size / 3)
    mem.addData(a); q.processAllAvailable()
    mem.addData(b); q.processAllAvailable()
    mem.addData(Seq(Event(-1L, Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "x", 0.0)))
    q.processAllAvailable()
    val got = spark.table("sessions_out")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    q.stop()
    val batch = SparkEntry.queries("sessionize")(spark, sf0001)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(got == batch)
  }

  test("mapGroupsWithState sessionization ≡ batch sessionize under adversarial arrival") {
    implicit val sqlCtx = spark.sqlContext
    // adversarial order: seeded shuffle, split into 4 uneven batches —
    // late events must merge into (and sometimes BRIDGE) existing runs,
    // the case session_window's watermark finalization cannot replay
    val corpus = new scala.util.Random(7).shuffle(
      Tables.events(spark, sf0001)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event].collect().toSeq)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess_mgws_out")
      .outputMode("update").start()
    val cuts = Seq(corpus.size / 5, corpus.size / 2, 4 * corpus.size / 5, corpus.size)
    var off = 0
    cuts.foreach { c => mem.addData(corpus.slice(off, c)); q.processAllAvailable(); off = c }
    // newest emission per key = max n_seen (update-mode sinks promise no
    // row order); session_id = 1-based position in the start-sorted list
    val got = spark.table("sess_mgws_out")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("n_seen").desc)))
      .filter(col("rk") === 1)
      .select(col("user_id"),
        posexplode(arrays_zip(col("session_start"), col("session_end"),
          col("n_events"), col("n_types"))).as(Seq("pos", "s")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("session_id"),
        col("s.session_start"), col("s.session_end"),
        col("s.n_events"), col("s.n_types"))
      .as[(Long, Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    q.stop()
    val batch = SparkEntry.queries("sessionize")(spark, sf0001)
      .select("user_id", "session_id", "session_start", "session_end",
        "n_events", "n_types")
      .as[(Long, Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(got == batch)
  }

  test("sessionizeStream merges exact-gap ties and bridges runs on late arrival") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, sec: Long) =
      Event(id, new Timestamp(sec * 1000L), 1L, "x", 0.0)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess_tie_out")
      .outputMode("update").start()
    // worst order: the chain endpoints first (two separate runs), then
    // the late middle event that BRIDGES them at exact-gap ties on both
    // sides; a second run opens past the boundary (diff 3601 > 3600)
    mem.addData(Seq(ev(1, 0L), ev(2, 7200L))); q.processAllAvailable()
    mem.addData(Seq(ev(4, 7200L + 3601L))); q.processAllAvailable()
    mem.addData(Seq(ev(3, 3600L))); q.processAllAvailable()
    val last = spark.table("sess_tie_out")
      .orderBy(col("n_seen").desc).limit(1)
      .select("n_seen", "session_start", "session_end", "n_events")
      .as[(Long, Seq[Timestamp], Seq[Timestamp], Seq[Long])].head()
    q.stop()
    assert(last._1 == 4L)
    assert(last._2.map(_.getTime / 1000L) == Seq(0L, 10801L))
    assert(last._3.map(_.getTime / 1000L) == Seq(7200L, 10801L))
    assert(last._4 == Seq(3L, 1L),
      "exact-gap ties chain 0-3600-7200 into one run; 10801 breaks")
  }

  test("sessionizeStream bounded: frontier eviction keeps OPEN keys only, output unchanged within bound") {
    implicit val sqlCtx = spark.sqlContext
    // base offset: the event-time-timeout late-row filter drops a row AT
    // the initial watermark (0), so fixtures must sit strictly above it
    val B = 604800L
    def ev(id: Long, user: Long, sec: Long) =
      Event(id, new Timestamp((B + sec) * 1000L), user, "x", 0.0)
    // watermark delay 3000 s admits in-bound late arrivals; eviction
    // bound 7200 s >= gap 3600 s = the lossless regime the scaladoc pins
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.sessionizeStream(
        mem.toDS().withWatermark("ts", "3000 seconds"),
        evictAfterSeconds = Some(7200L))
      .writeStream.format("memory").queryName("sess_evict_out")
      .outputMode("update").start()
    mem.addData(Seq(ev(1, 1L, 0L), ev(2, 1L, 1000L), ev(3, 2L, 500L)))
    q.processAllAvailable()
    // late arrival WITHIN the bound (ts 800 >= watermark 0) still merges
    mem.addData(Seq(ev(4, 1L, 800L))); q.processAllAvailable()
    // user 2 leaps ahead: end-of-batch watermark 97000 s passes user 1's
    // deadline (1000 + 7200); the NEXT batch's timeout sweep evicts
    mem.addData(Seq(ev(5, 2L, 100000L))); q.processAllAvailable()
    mem.addData(Seq(ev(6, 2L, 100001L))); q.processAllAvailable()
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal)
    val got = spark.table("sess_evict_out")
      .filter(col("user_id") === 1L)
      .orderBy(col("n_seen").desc).limit(1)
      .select("n_seen", "session_start", "session_end", "n_events")
      .as[(Long, Seq[Timestamp], Seq[Timestamp], Seq[Long])].head()
    q.stop()
    assert(stateRows.contains(1L),
      s"state must hold only the OPEN key (user 2), got $stateRows rows")
    // the evicted key's final snapshot: one run [0, 1000] with all 3
    // events (the in-bound late 800 merged) — identical to what the
    // unbounded operator would hold for the same post-watermark stream
    assert(got._1 == 3L)
    assert(got._2.map(_.getTime / 1000L) == Seq(B))
    assert(got._3.map(_.getTime / 1000L) == Seq(B + 1000L))
    assert(got._4 == Seq(3L))
  }

  test("funnelStream/retentionStream bounded: inactive users evicted, eras split loudly") {
    implicit val sqlCtx = spark.sqlContext
    val B = 604800L // epoch day 7; clear of the initial watermark (see above)
    def ev(id: Long, user: Long, sec: Long, typ: String) =
      Event(id, new Timestamp((B + sec) * 1000L), user, typ, 0.0)
    val memF = MemoryStream[Event]
    val qf = StreamingDownsample.funnelStream(
        memF.toDS().withWatermark("ts", "0 seconds"),
        evictAfterSeconds = Some(7200L))
      .writeStream.format("memory").queryName("funnel_evict_out")
      .outputMode("update").start()
    memF.addData(Seq(ev(1, 1L, 0L, "view"), ev(2, 1L, 1000L, "click"),
      ev(3, 2L, 500L, "view")))
    qf.processAllAvailable()
    memF.addData(Seq(ev(4, 2L, 100000L, "view"))); qf.processAllAvailable()
    memF.addData(Seq(ev(5, 2L, 100001L, "view"))); qf.processAllAvailable()
    // attribution window closed: user 1's chain froze at (view, click, -)
    // and a post-eviction event starts a FRESH era (n_seen restarts; a
    // resurrected chain would emit n_seen=3 with the OLD t_view)
    memF.addData(Seq(ev(6, 1L, 100002L, "view"))); qf.processAllAvailable()
    val fRows = spark.table("funnel_evict_out")
      .filter(col("user_id") === 1L)
      .select("n_seen", "t_view", "t_click", "t_purchase")
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp])]
      .collect()
    val fState = qf.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal)
    qf.stop()
    val frozen = fRows.filter(_._1 == 2L).last
    assert(frozen._2.map(_.getTime / 1000L).contains(B) &&
      frozen._3.map(_.getTime / 1000L).contains(B + 1000L) && frozen._4.isEmpty,
      s"frozen chain wrong: $frozen")
    assert(fRows.exists(r => r._1 == 1L &&
        r._2.map(_.getTime / 1000L).contains(B + 100002L) && r._3.isEmpty),
      "post-eviction view must open a fresh era, not resurrect the chain")
    assert(fState.contains(2L), s"open funnels only (users 1-era2, 2): $fState")

    val memR = MemoryStream[Event]
    val qr = StreamingDownsample.retentionStream(
        memR.toDS().withWatermark("ts", "0 seconds"),
        evictAfterSeconds = Some(7200L))
      .writeStream.format("memory").queryName("ret_evict_out")
      .outputMode("update").start()
    memR.addData(Seq(ev(1, 1L, 0L, "x"), ev(2, 2L, 500L, "x")))
    qr.processAllAvailable()
    memR.addData(Seq(ev(3, 2L, 1000000L, "x"))); qr.processAllAvailable()
    memR.addData(Seq(ev(4, 2L, 1000001L, "x"))); qr.processAllAvailable()
    val rState = qr.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal)
    val rGot = spark.table("ret_evict_out")
      .filter(col("user_id") === 1L)
      .orderBy(col("n_seen").desc).limit(1)
      .select("cohort_day", "weeks").as[(Long, Seq[Long])].head()
    qr.stop()
    assert(rState.contains(1L), s"retention state must track open users: $rState")
    assert(rGot == ((7L, Seq(0L))), s"evicted snapshot wrong: $rGot")
  }

  test("stream-stream interval join converges to the batch attribution join") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.purchaseClickJoin(mem.toDF(), lookback = "1 hour")
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    val (a, b) = corpus.splitAt(corpus.size / 2)
    mem.addData(a); q.processAllAvailable()
    mem.addData(b); q.processAllAvailable()
    val got = spark.table("ssjoin_out")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    q.stop()
    val ev = Tables.events(spark, sf0001)
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .join(ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts")),
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour") &&
          col("c_ts") <= col("p_ts"))
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(got == batch)
  }

  test("streaming funnel converges to the batch chain under adversarial arrival") {
    implicit val sqlCtx = spark.sqlContext
    // seeded shuffle split across 3 batches: late views/clicks must
    // retroactively re-qualify later stages (no watermark — NoTimeout
    // state, so nothing is ever dropped)
    val corpus = new scala.util.Random(31).shuffle(
      Tables.events(spark, sf0001)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event].collect().toSeq)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.funnelStream(mem.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    val cuts = Seq(corpus.size / 4, 2 * corpus.size / 3, corpus.size)
    var off = 0
    cuts.foreach { c => mem.addData(corpus.slice(off, c)); q.processAllAvailable(); off = c }
    val got = spark.table("funnel_out")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("n_seen").desc)))
      .filter(col("rk") === 1 && col("t_purchase").isNotNull)
      .select("user_id", "t_view", "t_click", "t_purchase")
      .as[(Long, Timestamp, Timestamp, Timestamp)].collect().toSet
    q.stop()
    val batch = SparkEntry.queries("funnel")(spark, sf0001)
      .select("user_id", "t_view", "t_click", "t_purchase")
      .as[(Long, Timestamp, Timestamp, Timestamp)].collect().toSet
    assert(batch.nonEmpty)
    assert(got == batch)
  }

  test("streaming retention snapshots aggregate to the batch cohort matrix") {
    implicit val sqlCtx = spark.sqlContext
    // adversarial order across batches: late earlier events must MOVE
    // cohorts and re-bucket week offsets
    val corpus = new scala.util.Random(41).shuffle(
      Tables.events(spark, sf0001)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event].collect().toSeq)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.retentionStream(mem.toDS())
      .writeStream.format("memory").queryName("retention_out")
      .outputMode("update").start()
    val (a, b) = corpus.splitAt(corpus.size / 3)
    mem.addData(a); q.processAllAvailable()
    mem.addData(b); q.processAllAvailable()
    val latest = spark.table("retention_out")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("n_seen").desc)))
      .filter(col("rk") === 1)
    // one cohort per user ⇒ cell counts are plain exploded-row counts;
    // folded driver-side (50 users) to keep the check independent of
    // the engine under test
    val snaps = latest.select("user_id", "cohort_day", "weeks")
      .as[(Long, Long, Seq[Long])].collect()
    val cells = snaps.groupBy(_._2).flatMap { case (cd, users) =>
      val nCohort = users.size.toLong
      users.flatMap(u => u._3.map(w => (cd, w)))
        .groupBy(identity).map { case ((c, w), hits) =>
          (c, w, hits.size.toLong, nCohort)
        }
    }.toSet
    q.stop()
    val batch = SparkEntry.queries("retention")(spark, sf0001)
      .select(datediff(col("cohort_day"), lit("1970-01-01").cast("date"))
        .cast("long").as("cd"), col("week_no"), col("n_active"), col("n_cohort"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(cells == batch)
  }

  test("windowed KMV sketches converge to the identical batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = new scala.util.Random(23).shuffle(
      Tables.events(spark, sf0001)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event].collect().toSeq)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.kmvStream(mem.toDF(), k = 16,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("append").start()
    // one (shuffled) batch: the 0-second watermark advances BETWEEN
    // batches, so a cross-batch split would legitimately drop late rows
    // — intra-batch disorder still exercises the in-buffer dedup/merge
    mem.addData(corpus); q.processAllAvailable()
    // close every open window
    mem.addData(Seq(Event(-1L, Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "x", 0.0)))
    q.processAllAvailable()
    val got = spark.table("kmv_out")
      .filter(col("event_type") =!= "x")
      .select("event_type", "day", "sk")
      .as[(String, java.sql.Date, Seq[Long])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    q.stop()
    // batch twin: the identical aggregate over the same frame
    val batch = Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"),
        graft.operators.Kmv.hash60(col("user_id")).as("h"))
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("win"))
      .agg(graft.functions.KmvSketchAgg(col("h"), 16).as("sk"))
      .select(col("event_type"), col("win.start").cast("date").as("day"), col("sk"))
      .as[(String, java.sql.Date, Seq[Long])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(batch.nonEmpty)
    assert(got == batch)
  }

  test("windowed watermark aggregation matches batch after end-of-stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.windowed(mem.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("windowed_out")
      .outputMode("append").start()
    mem.addData(sample)
    q.processAllAvailable()
    // advance the watermark past every open window so all finalize
    mem.addData(Seq(Event(9999L, Timestamp.valueOf("2024-03-01 00:00:00"), 0L, "e", 0.0)))
    q.processAllAvailable()
    val got = spark.table("windowed_out")
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    q.stop()
    assert(got == batchExpected(sample))
  }

  test("streaming frequent-items windows keep every true heavy hitter with O(k) state") {
    implicit val sqlCtx = spark.sqlContext
    val k = 3 // 5 distinct users, k=3: summaries genuinely prune
    val mem = MemoryStream[Event]
    // 10-day watermark: the second (out-of-order) batch still lands, so
    // the test exercises the cross-micro-batch state-store merge
    val q = StreamingDownsample.frequentStream(mem.toDF(), k = k,
        watermark = "10 days")
      .writeStream.format("memory").queryName("freq_out")
      .outputMode("append").start()
    mem.addData(sample.take(150))
    q.processAllAvailable()
    mem.addData(sample.drop(150))
    q.processAllAvailable()
    mem.addData(Seq(Event(9998L, Timestamp.valueOf("2024-03-01 00:00:00"), 0L, "e", 0.0)))
    q.processAllAvailable()
    val got = spark.table("freq_out")
      .select("day", "candidates", "n")
      .as[(java.sql.Date, Seq[Long], Long)].collect()
      .map { case (d, c, n) => (d.toString, (c, n)) }.toMap
    q.stop()
    val byDay = sample.groupBy(
      _.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString)
    assert(got.keySet == byDay.keySet)
    byDay.foreach { case (day, evs) =>
      val (cands, n) = got(day)
      assert(n == evs.size.toLong)
      assert(cands.size <= k)
      val counts = evs.groupBy(_.user_id).view.mapValues(_.size.toLong)
      val mustHave = counts.filter { case (_, c) => c * (k + 1) > n }.keySet
      assert(mustHave.subsetOf(cands.toSet),
        s"day $day lost heavy hitters ${mustHave -- cands.toSet}")
    }
  }

  test("streaming bottom-k sample quantiles equal the batch operator bitwise per day") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.quantileStream(mem.toDF(), k = 64,
        watermark = "10 days")
      .writeStream.format("memory").queryName("qstream_out")
      .outputMode("append").start()
    mem.addData(sample.take(100))
    q.processAllAvailable()
    mem.addData(sample.drop(100)) // out-of-order: exercises the state merge
    q.processAllAvailable()
    mem.addData(Seq(Event(9997L, Timestamp.valueOf("2024-03-01 00:00:00"), 0L, "e", 0.0)))
    q.processAllAvailable()
    val got = spark.table("qstream_out")
      .select("day", "n_sample", "q500", "q900", "q990")
      .as[(java.sql.Date, Long, Double, Double, Double)].collect()
      .map(r => (r._1.toString, (r._2, r._3, r._4, r._5))).toMap
    q.stop()
    // batch twin: same sample rule per UTC day over the same events
    val batch = graft.operators.Sampling.sampleQuantiles(
        sample.toDF().select(
          to_date(col("ts")).as("day"), col("event_id"), col("value")),
        group = col("day"), key = col("event_id"), value = col("value"),
        k = 64)
      .as[(java.sql.Date, Long, Double, Double, Double)].collect()
      .map(r => (r._1.toString, (r._2, r._3, r._4, r._5))).toMap
    assert(got.nonEmpty)
    assert(got == batch) // bitwise: the sample is a pure function of the data
  }

  test("streaming near-dup vs signature index equals the batch cross pairs, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val delta = docs.filter(col("doc_id") % 10 === 0)
    graft.operators.Dedup.writeSignatureIndex(
      docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
      table = "graft_sig_index_stream")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDownsample.nearDupStream(
        mem.toDF().toDF("doc_id", "text"), spark, "graft_sig_index_stream")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    val rows = delta.as[(Long, String)].collect().toSeq
    mem.addData(rows.take(rows.size / 2))
    q.processAllAvailable()
    mem.addData(rows.drop(rows.size / 2))
    q.processAllAvailable()
    // exactly-once: the min-colliding-band filter must leave no duplicate
    // pair rows even when a pair collides in several bands
    val emitted = spark.table("neardup_out")
      .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect()
    q.stop()
    assert(emitted.length == emitted.toSet.size, "duplicate pair rows emitted")
    val expected = graft.operators.Dedup.incrementalDedup(
        spark, "graft_sig_index_stream", delta, col("doc_id"), col("text"))
      .filter((col("doc_a") % 10 === 0) =!= (col("doc_b") % 10 === 0))
      .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    assert(emitted.toSet == expected)
  }

  test("foreachBatch near-dup sink equals nearDupStream and shuffles less on wide docs") {
    // wide-doc fixture: 600-token documents (hss is hundreds of longs per
    // doc — the payload the stateless variant must ride on all 16 band
    // rows), odd ids = near-dup copies of even ids
    val vocab = (0 until 4000).map(i => f"w$i%04d")
    def doc(seed: Int): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(600)(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    def perturb(t: String, seed: Int): String = {
      val r = new scala.util.Random(seed)
      t.split(" ").map(w => if (r.nextInt(100) < 2) vocab(r.nextInt(vocab.size)) else w)
        .mkString(" ")
    }
    val idx = (0 until 20).map(i => (2L * i, doc(i)))
    val delta = idx.map { case (id, t) => (id + 1, perturb(t, id.toInt)) }
    graft.operators.Dedup.writeSignatureIndex(
      idx.toDF("doc_id", "text"), col("doc_id"), col("text"),
      table = "graft_sig_index_widefb")
    val deltaDf = delta.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftndfb").toString
    def pairsAt(path: String): Array[(Long, Long, Long)] =
      spark.read.parquet(path)
        .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect()

    def shuffleBytes(run: => Unit): Long = {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        run
        Thread.sleep(1500) // listener bus is async
        bytes.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    // force the shuffle path: with broadcast joins both variants shuffle
    // ~nothing and the width comparison would measure the noise floor
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe = scala.util.Try(
      spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
      .toOption.filter(_ != null)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      var aRows: Set[(Long, Long, Long)] = Set.empty
      val statelessBytes = shuffleBytes {
        aRows = StreamingDownsample.nearDupStream(deltaDf, spark, "graft_sig_index_widefb")
          .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
      }
      // the sink body on the whole delta as one batch: the shared kernel
      val sinkBytes = shuffleBytes {
        StreamingDownsample.nearDupForeachBatch(
          spark, "graft_sig_index_widefb", s"$tmp/direct")(deltaDf, 0L)
      }
      assert(aRows.nonEmpty && pairsAt(s"$tmp/direct").toSet == aRows)
      assert(sinkBytes < statelessBytes / 2,
        s"foreachBatch sink shuffled $sinkBytes B vs stateless $statelessBytes B")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      aqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }

    // end-to-end through a real foreachBatch sink: the batch cross pairs
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamingDownsample.nearDupForeachBatch(
        spark, "graft_sig_index_widefb", s"$tmp/pairs"))
      .outputMode("update").start()
    mem.addData(delta.take(10)); q.processAllAvailable()
    mem.addData(delta.drop(10)); q.processAllAvailable()
    q.stop()
    val sunk = pairsAt(s"$tmp/pairs")
    assert(sunk.length == sunk.toSet.size)
    val expected = graft.operators.Dedup.incrementalDedup(
        spark, "graft_sig_index_widefb", deltaDf, col("doc_id"), col("text"))
      .filter((col("doc_a") % 2 === 0) =!= (col("doc_b") % 2 === 0))
      .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
    graft.operators.Dedup.releaseCaches()
    assert(expected.nonEmpty && sunk.toSet == expected)
  }

  test("foreachBatch near-dup sink leaves no cached micro-batch behind") {
    // the sink persists each batch's signatures for that batch only: the
    // process-wide memo registry would pin every batch until releaseCaches
    val words = (0 until 300).map(i => s"t$i")
    val idx = (0 until 8).map(i =>
      (2L * i, words.slice(30 * i, 30 * i + 60).mkString(" ")))
    val delta = idx.map { case (id, t) => (id + 1, t + " tail") }
    graft.operators.Dedup.writeSignatureIndex(
      idx.toDF("doc_id", "text"), col("doc_id"), col("text"),
      table = "graft_sig_index_leak")
    val out = java.nio.file.Files.createTempDirectory("graftndleak").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamingDownsample.nearDupForeachBatch(
        spark, "graft_sig_index_leak", out))
      .outputMode("update").start()
    mem.addData(delta.take(4)); q.processAllAvailable()
    mem.addData(delta.drop(4)); q.processAllAvailable()
    q.stop()
    // ids, not sizes: an unrelated persisted RDD may be GC'd meanwhile
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persistent RDDs left by the sink: $leaked")
    assert(spark.read.parquet(out).select("batch_id").distinct().count() == 2)
  }

  test("streaming clean stage equals the batch projection (normalize -> gopher -> scrub)") {
    implicit val sqlCtx = spark.sqlContext
    // corpus docs plus crafted rows that exercise each stage: an
    // NFC/zero-width near-dup, a PII-bearing doc, a too-short doc that
    // the gopher gate must drop
    val base = Tables.documents(spark, sf0001).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    // craft the NFC/PII doc from a doc that itself SURVIVES the quality
    // gate (only ~55% do), so the appended contact blurb is the only
    // thing at stake
    val surviving = StreamingDownsample
      .cleanStream(base.toDF("doc_id", "text"))
      .select("doc_id").as[Long].head()
    val survivingText = base.find(_._1 == surviving).get._2
    // 48 distinct gate-passing tokens (16 aligned 3-token blocks) plus a
    // repeat of block 0 \u2014 the repetition scrub must drop exactly the tail
    val repWords = Seq("the", "and") ++ (3 to 48).map(i => f"tok$i%02d")
    val crafted = Seq(
      (100001L, "cafe\u0301 " + survivingText + "\u200B \t mail a@b.org"),
      (100002L, "too short to keep"),
      (100003L, (repWords ++ repWords.take(3)).mkString(" ")))
    val rows = base ++ crafted
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDownsample.cleanStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("clean_out")
      .outputMode("append").start()
    mem.addData(rows.take(rows.size / 2))
    q.processAllAvailable()
    mem.addData(rows.drop(rows.size / 2))
    q.processAllAvailable()
    val streamed = spark.table("clean_out")
      .as[(Long, String)].collect().toSet
    q.stop()
    val batch = StreamingDownsample.cleanStream(rows.toDF("doc_id", "text"))
      .as[(Long, String)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(!batch.exists(_._1 == 100002L))      // gopher gate dropped it
    // the crafted NFC/PII doc must SURVIVE the gate, or the normalize
    // and scrub assertions below would be vacuous
    val crafted100001 = batch.find(_._1 == 100001L)
    assert(crafted100001.nonEmpty, "crafted doc 100001 was filtered out")
    crafted100001.foreach { case (_, t) =>
      assert(t.contains("caf\u00e9") && !t.contains("\u200B")) // normalized
      assert(t.contains("<EMAIL>") && !t.contains("a@b.org"))  // scrubbed
    }
    // the self-repetitive doc survives the gate with its repeated tail
    // block (and only that) scrubbed
    assert(batch.find(_._1 == 100003L).map(_._2)
      .contains(repWords.mkString(" ")))
  }

  test("streaming DSIR serving equals the batch hashed scoring") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dsir
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().toSeq
    val b = 4096
    val (ct, cr) = Dsir.hashedFreq(docs.toDF("doc_id", "text", "lang"),
      col("doc_id"), col("text"), col("lang") === "en", b)
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingDownsample
      .dsirScoreStream(mem.toDF().toDF("doc_id", "text", "lang"), ct, cr)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    mem.addData(docs)
    q.processAllAvailable()
    val streamed = spark.table("dsir_out")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    q.stop()
    val batch = Dsir.importanceScores(docs.toDF("doc_id", "text", "lang"),
        col("doc_id"), col("text"), col("lang") === "en",
        hashBuckets = Some(b))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    graft.operators.Dedup.releaseCaches()
  }

  test("streaming PCA projection equals the batch projection") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingPca
    val vecs = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val (w, l) = EmbeddingPca.fitProjectionWithVariance(
      vecs.toDF("vec_id", "embedding"), col("vec_id"), col("embedding"),
      k = 3)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingDownsample.pcaProjectStream(
        mem.toDF().toDF("vec_id", "embedding"), w, Some(l))
      .writeStream.format("memory").queryName("pca_out")
      .outputMode("append").start()
    mem.addData(vecs)
    q.processAllAvailable()
    val streamed = spark.table("pca_out")
      .as[(Long, Double, Double, Double)].collect().toSet
    q.stop()
    val batch = StreamingDownsample.pcaProjectStream(
        vecs.toDF("vec_id", "embedding"), w, Some(l))
      .as[(Long, Double, Double, Double)].collect().toSet
    assert(streamed == batch && batch.size == vecs.size)
  }

  test("nearDupStream refuses a k mismatched with the stored signatures") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    graft.operators.Dedup.writeSignatureIndex(
      docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
      table = "graft_sig_index_kchk")
    val mem = MemoryStream[(Long, String)]
    // without the guard this would run and silently drop every candidate
    // (null sig elements skipped by xxhash64 -> band hashes never match)
    val err = intercept[IllegalArgumentException] {
      StreamingDownsample.nearDupStream(
        mem.toDF().toDF("doc_id", "text"), spark, "graft_sig_index_kchk",
        k = 32, bands = 16)
    }
    assert(err.getMessage.contains("signatures of length 64"))
  }

  test("stream-static decontamination flags exactly the batch contamination set") {
    implicit val sqlCtx = spark.sqlContext
    // driver corpus split like the registered decontaminate query:
    // doc_id % 20 == 0 plays the static benchmark, the rest stream in
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = StreamingDownsample.decontaminateStream(stream, bench)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    mem.addData(train.take(200))
    q.processAllAvailable()
    mem.addData(train.drop(200))
    q.processAllAvailable()
    val got = spark.table("decon_out")
      .select("doc_id", "n_shared", "n_shingles")
      .as[(Long, Long, Long)].collect().toSet
    q.stop()
    val expected = graft.operators.Dedup.contamination(
        Tables.documents(spark, sf0001).filter(col("doc_id") % 20 =!= 0),
        Tables.documents(spark, sf0001).filter(col("doc_id") % 20 === 0),
        col("doc_id"), col("text"), 3)
      .select("doc_id", "n_shared", "n_shingles")
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("versioned view sink: streamed deltas converge to the batch aggregate, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Mv, Upsert}
    val dir = java.nio.file.Files.createTempDirectory("graftmv").toString + "/view"
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
        min(col("t")).as("min_t"), max(col("t")).as("max_t"))
    val sink = Mv.versionedViewSink(dir, Seq("k"),
      sums = Seq("n", "sum_v"), mins = Seq("min_t"), maxs = Seq("max_t"))(aggOf)
    val mem = MemoryStream[(String, Long, Long)]
    val q = mem.toDF().toDF("k", "v", "t")
      .writeStream.foreachBatch(sink).outputMode("update").start()
    val all = Seq(("a", 1L, 10L), ("a", 2L, 5L), ("b", 7L, 3L),
      ("a", 10L, 1L), ("c", 4L, 99L), ("b", 1L, 50L))
    mem.addData(all.take(3)); q.processAllAvailable()
    mem.addData(all.slice(3, 5)); q.processAllAvailable()
    mem.addData(all.drop(5)); q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "n", "sum_v", "min_t", "max_t")
        .as[(String, Long, Long, Long, Long)].collect().toSet
    val want = rows(aggOf(all.toDF("k", "v", "t")))
    assert(rows(Upsert.readLatest(spark, dir)) == want && want.size == 3)
    // replay of the last batch id writes a FRESH version with identical
    // content — the shared versionPlan protocol, proven on this sink too
    val before = Upsert.versions(spark, dir)
    sink(all.drop(5).toDF("k", "v", "t"), 2L)
    val after = Upsert.versions(spark, dir)
    assert(after.size == before.size + 1)
    assert(rows(Upsert.readLatest(spark, dir)) == want)
  }

  test("versioned join-view sink: streamed fact deltas converge to the batch join, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Mv, Upsert}
    val dir = java.nio.file.Files.createTempDirectory("graftmvj").toString + "/jview"
    val dim = Seq((1L, "d1"), (2L, "d2"), (3L, "d3")).toDF("k", "dv")
    val sink = Mv.versionedJoinViewSink(dir, dim, Seq("k"))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "fv")
      .writeStream.foreachBatch(sink).outputMode("update").start()
    val all = Seq((1L, "f1"), (2L, "f2"), (9L, "orphan"), (1L, "f3"), (3L, "f4"))
    mem.addData(all.take(3)); q.processAllAvailable()
    mem.addData(all.drop(3)); q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "fv", "dv").as[(Long, String, String)].collect().toSeq.sorted
    val want = rows(all.toDF("k", "fv").join(dim, Seq("k")))
    assert(rows(Upsert.readLatest(spark, dir)) == want && want.size == 4)
    // replayed batch id → fresh version, identical content (shared
    // versionPlan protocol on the third sink too)
    val before = Upsert.versions(spark, dir)
    sink(all.drop(3).toDF("k", "fv"), 1L)
    assert(Upsert.versions(spark, dir).size == before.size + 1)
    assert(rows(Upsert.readLatest(spark, dir)) == want)
  }

  test("streaming skyline: converged per-key front ≡ batch dominance under adversarial order") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingDownsample.PointK
    // three keys with tie-heavy grids; worst-case arrival order for the
    // eviction path — best points LAST, so every early point rides the
    // front for a while and must be evicted later, across batch
    // boundaries (state round-trip, not just in-batch merge)
    val rng = new scala.util.Random(7)
    val pts = (for {
      key <- 0L to 2L
      _ <- 1 to 60
    } yield PointK(key, rng.nextInt(8).toLong, rng.nextInt(8).toLong)).toSeq
    val adversarial = pts.sortBy(p => -(p.x + p.y)) // dominated first
    val (b1, b2) = adversarial.splitAt(adversarial.length / 2)
    val mem = MemoryStream[PointK]
    val q = StreamingDownsample.skylineStream(mem.toDS())
      .writeStream.format("memory").queryName("sky_out")
      .outputMode("update").start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    // the max-n_seen emission per key is the converged front (sink row
    // order carries no promise; the monotone counter does)
    val got = spark.table("sky_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("n_seen").desc)))
      .filter(col("rn") === 1)
      .select("key", "xs", "ys")
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map(r => r._1 -> r._2.zip(r._3).sorted.toSeq).toMap
    q.stop()
    val want = pts.groupBy(_.key).map { case (k, ps) =>
      k -> ps.map(p => (p.x, p.y)).filter { p =>
        !ps.map(q0 => (q0.x, q0.y)).exists(q0 =>
          q0._1 <= p._1 && q0._2 <= p._2 && (q0._1 < p._1 || q0._2 < p._2))
      }.sorted.toSeq
    }
    assert(got == want, s"got $got\nwant $want")
    // and the tie rule held: some front carries a coordinate duplicate
    // (8x8 grid, 60 draws — duplicates all but certain), matching batch
    assert(want.values.exists(f => f.distinct.size < f.size)
      || want.values.forall(_.nonEmpty))
  }

  test("transitionsStream: converged pairs ≡ batch transition matrix under adversarial arrival") {
    implicit val sqlCtx = spark.sqlContext
    val corpus0 = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val minTs = corpus0.map(_.ts.getTime).min
    val maxTs = corpus0.map(_.ts.getTime).max
    val delaySec = (maxTs - minTs) / 1000L + 3600L // > corpus span: no drops
    // sentinel: an unused key far in the future drives the watermark past
    // every real successor so all pairs finalize; it emits no pair itself
    val sentinel = Event(Long.MaxValue,
      new Timestamp(maxTs + (delaySec + 3600L) * 1000L), -1L, "zz", 0.0)
    val corpus = new scala.util.Random(11).shuffle(corpus0)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.transitionsStream(
        mem.toDS().withWatermark("ts", s"$delaySec seconds"))
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    val cuts = Seq(corpus.size / 5, corpus.size / 2, 4 * corpus.size / 5, corpus.size)
    var off = 0
    cuts.foreach { c => mem.addData(corpus.slice(off, c)); q.processAllAvailable(); off = c }
    mem.addData(Seq(sentinel)); q.processAllAvailable()
    // one extra empty pass: timeouts fire against the sentinel watermark
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    val got = spark.table("trans_out")
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .as[(String, String, Long, Long)].collect().toSet
    q.stop()
    val batch = graft.queries.Behavioral.eventTransitions(spark, sf0001)
      .as[(String, String, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(got == batch)
  }

  test("anomalyStream: converged day flags ≡ batch ts_anomaly under adversarial arrival") {
    implicit val sqlCtx = spark.sqlContext
    val corpus0 = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val minTs = corpus0.map(_.ts.getTime).min
    val maxTs = corpus0.map(_.ts.getTime).max
    val delaySec = (maxTs - minTs) / 1000L + 3600L
    // sentinel two days past the horizon: every real day's END passes
    // the frontier, so all flags finalize; the sentinel's own day stays
    // open and never emits
    val sentinel = Event(Long.MaxValue,
      new Timestamp(maxTs + (delaySec + 3L * 86400L) * 1000L), -1L, "zz", 0.0)
    val corpus = new scala.util.Random(23).shuffle(corpus0)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.anomalyStream(
        mem.toDS().withWatermark("ts", s"$delaySec seconds"))
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    val cuts = Seq(corpus.size / 4, corpus.size / 2, corpus.size)
    var off = 0
    cuts.foreach { c => mem.addData(corpus.slice(off, c)); q.processAllAvailable(); off = c }
    mem.addData(Seq(sentinel)); q.processAllAvailable()
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    val got = spark.table("anom_out")
      .filter(col("event_type") =!= "zz")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    q.stop()
    // batch day → epoch day computed INSIDE Spark (timezone-free)
    // the batch window SUM over an empty trailing frame is NULL where
    // the stream's fold is the additive identity 0 — same statistic
    // (n = 0 gates the test either way), normalized here
    val batch = graft.queries.Behavioral.tsAnomaly(spark, sf0001)
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"),
        col("cnt"), col("n"),
        coalesce(col("s"), lit(0L)), coalesce(col("ss"), lit(0L)),
        col("is_anomaly"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(got == batch)
    // exactly-once: no (type, day) appears twice
    val keys = spark.table("anom_out")
      .select("event_type", "day_epoch").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(keys.length == keys.distinct.length)
  }

  test("driftStream: per-day chi2 vs a batch-fitted baseline ≡ the batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    val corpus0 = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    // baseline: the corpus' own global 20-bucket value histogram,
    // fitted batch-side (self-drift: real per-day chi2 against the
    // whole-corpus shape)
    val cents = corpus0.map(e => math.round(e.value * 100))
    val (lo, hi) = (cents.min, cents.max)
    val w = (hi - lo + 20) / 20
    val baseCounts = (0 until 20).map(k =>
      cents.count(c => math.min(math.max((c - lo) / w, 0), 19) == k).toLong)
    val minTs = corpus0.map(_.ts.getTime).min
    val maxTs = corpus0.map(_.ts.getTime).max
    val delaySec = (maxTs - minTs) / 1000L + 3600L
    val sentinel = Event(Long.MaxValue,
      new Timestamp(maxTs + (delaySec + 3L * 86400L) * 1000L), -1L, "zz", 0.0)
    val corpus = new scala.util.Random(41).shuffle(corpus0)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.driftStream(mem.toDS(), lo, w, baseCounts,
        watermark = s"$delaySec seconds")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    mem.addData(corpus.take(corpus.size / 2)); q.processAllAvailable()
    mem.addData(corpus.drop(corpus.size / 2)); q.processAllAvailable()
    mem.addData(Seq(sentinel)); q.processAllAvailable()
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    val sentinelDay = sentinel.ts.getTime / 86400000L
    val got = spark.table("drift_out")
      .filter(col("day_epoch") < sentinelDay)
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet

    // batch recompute of the identical statistic
    val nb = baseCounts.sum
    val want = corpus0.groupBy(e => Math.floorDiv(e.ts.getTime, 86400000L))
      .flatMap { case (day, evs) =>
        val nc = evs.size.toLong
        val counts = (0 until 20).map(k => evs.count { e =>
          val c = math.round(e.value * 100)
          math.min(math.max((c - lo) / w, 0), 19) == k
        }.toLong)
        (0 until 20).map { k =>
          val (cur, base) = (counts(k), baseCounts(k))
          val chi2 = if (base == 0L) None else Some(
            ((BigInt(cur) * nb - BigInt(base) * nc).pow(2) * 1000000 /
              (BigInt(base) * nc * nb)).toLong)
          (day, k.toLong, cur, base, chi2)
        }
      }.toSet
    q.stop()
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("transitionsStream: a late event inserts into an unfinalized pair exactly once") {
    implicit val sqlCtx = spark.sqlContext
    // times sit well above the initial watermark (0): the event-time
    // timeout op's late-row filter drops a row AT the watermark, so a
    // fixture event at t=0 would vanish in batch 0
    val B = 100000L
    def ev(id: Long, sec: Long, t: String) =
      Event(id, new Timestamp((B + sec) * 1000L), 1L, t, 0.0)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.transitionsStream(
        mem.toDS().withWatermark("ts", "3000 seconds"))
      .writeStream.format("memory").queryName("trans_late_out")
      .outputMode("append").start()
    // endpoints first; the pair (a → c) must NOT be emitted before the
    // watermark allows it — and the late b splits it into a → b → c
    mem.addData(Seq(ev(1, 0L, "a"), ev(3, 2000L, "c"))); q.processAllAvailable()
    assert(spark.table("trans_late_out").isEmpty, "nothing finalizes before the frontier")
    mem.addData(Seq(ev(2, 1000L, "b"))); q.processAllAvailable()
    mem.addData(Seq(Event(99L, new Timestamp((B + 100000L) * 1000L), 9L, "zz", 0.0)))
    q.processAllAvailable()
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    val got = spark.table("trans_late_out")
      .select("prev_type", "next_type").as[(String, String)].collect().toSeq
    q.stop()
    assert(got.sorted == Seq(("a", "b"), ("b", "c")),
      s"late b must bridge a->c into a->b->c, exactly once; got $got")
  }

  test("transitionsStream bounded: idle keys evict, eras split, in-bound output unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val B = 100000L // clear of the initial watermark (see late-insert test)
    def ev(id: Long, user: Long, sec: Long, t: String) =
      Event(id, new Timestamp((B + sec) * 1000L), user, t, 0.0)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.transitionsStream(
        mem.toDS().withWatermark("ts", "10 seconds"),
        evictAfterSeconds = Some(1000L))
      .writeStream.format("memory").queryName("trans_evict_out")
      .outputMode("append").start()
    // user 1: a pair inside the bound (must emit); then long idle; then a
    // fresh-era event — the cross-era pair is forgone by contract
    mem.addData(Seq(ev(1, 1L, 0L, "a"), ev(2, 1L, 100L, "b"))); q.processAllAvailable()
    mem.addData(Seq(ev(3, 2L, 5000L, "x"))); q.processAllAvailable() // wm -> B+4990, evicts user 1
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    mem.addData(Seq(ev(4, 1L, 6000L, "c"), ev(5, 2L, 20000L, "y"))); q.processAllAvailable()
    // a far future key pushes the frontier past y so (x -> y) finalizes
    mem.addData(Seq(ev(99, 9L, 50000L, "zz"))); q.processAllAvailable()
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    val got = spark.table("trans_evict_out")
      .select("user_id", "prev_type", "next_type")
      .as[(Long, String, String)].collect().toSet
    q.stop()
    assert(got.contains((1L, "a", "b")), "the in-bound pair must finalize and emit")
    assert(!got.exists(p => p._1 == 1L && p._3 == "c"),
      s"the cross-era b->c edge is forgone after eviction; got $got")
    assert(got.contains((2L, "x", "y")), "a surviving key keeps pairing across batches")
  }

  test("left-outer stream-stream attribution join converges to the batch left join") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val maxTs = corpus.map(_.ts.getTime).max
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.purchaseClickJoinOuter(mem.toDF(), lookback = "1 hour")
      .writeStream.format("memory").queryName("ssjoin_outer_out")
      .outputMode("append").start()
    val (a, b) = corpus.splitAt(corpus.size / 2)
    mem.addData(a); q.processAllAvailable()
    mem.addData(b); q.processAllAvailable()
    // outer-null results wait for the frontier: sentinels on BOTH input
    // legs (a far-future click and purchase for an unused user) push the
    // min-watermark past every real purchase's state expiry
    val far = maxTs + 40L * 24 * 3600 * 1000
    mem.addData(Seq(
      Event(Long.MaxValue - 1, new Timestamp(far), -1L, "click", 0.0),
      Event(Long.MaxValue, new Timestamp(far), -1L, "purchase", 0.0)))
    q.processAllAvailable()
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    val got = spark.table("ssjoin_outer_out")
      .filter(col("user_id") =!= -1L)
      .select("purchase_id", "click_id")
      .as[(Long, Option[Long])].collect()
    q.stop()
    val ev = Tables.events(spark, sf0001)
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .join(ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts")),
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour") &&
          col("c_ts") <= col("p_ts"),
        "leftOuter")
      .select("purchase_id", "click_id")
      .as[(Long, Option[Long])].collect()
    assert(batch.exists(_._2.isEmpty), "fixture sanity: some purchases are unattributed")
    assert(got.sorted.toSeq == batch.sorted.toSeq,
      s"stream rows=${got.length} batch rows=${batch.length}")
  }

  test("patternStream: converged matches ≡ batch pattern_match under adversarial arrival") {
    implicit val sqlCtx = spark.sqlContext
    val corpus0 = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val minTs = corpus0.map(_.ts.getTime).min
    val maxTs = corpus0.map(_.ts.getTime).max
    val delaySec = (maxTs - minTs) / 1000L + 3600L
    val sentinel = Event(Long.MaxValue,
      new Timestamp(maxTs + (delaySec + 3600L) * 1000L), -1L, "zz", 0.0)
    val corpus = new scala.util.Random(13).shuffle(corpus0)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.patternStream(
        mem.toDS().withWatermark("ts", s"$delaySec seconds"))
      .writeStream.format("memory").queryName("pattern_out")
      .outputMode("append").start()
    val cuts = Seq(corpus.size / 5, corpus.size / 2, 4 * corpus.size / 5, corpus.size)
    var off = 0
    cuts.foreach { c => mem.addData(corpus.slice(off, c)); q.processAllAvailable(); off = c }
    mem.addData(Seq(sentinel)); q.processAllAvailable()
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    val got = spark.table("pattern_out")
      .select("user_id", "end_event_id", "t1", "t2", "t3")
      .as[(Long, Long, Timestamp, Timestamp, Timestamp)].collect().toSeq.sorted
    q.stop()
    val batch = graft.queries.Behavioral.patternMatch(spark, sf0001)
      .select("user_id", "end_event_id", "t1", "t2", "t3")
      .as[(Long, Long, Timestamp, Timestamp, Timestamp)].collect().toSeq.sorted
    assert(batch.nonEmpty, "fixture sanity: the corpus contains matches")
    assert(got == batch)
    assert(got.distinct == got, "exactly-once: no duplicate emissions")
  }

  test("patternStream: a late event can complete OR destroy a pending match, never after finalization") {
    implicit val sqlCtx = spark.sqlContext
    val B = 604800L
    def ev(id: Long, user: Long, sec: Long, t: String) =
      Event(id, new Timestamp((B + sec) * 1000L), user, t, 0.0)
    val mem = MemoryStream[Event]
    val q = StreamingDownsample.patternStream(
        mem.toDS().withWatermark("ts", "5000 seconds"))
      .writeStream.format("memory").queryName("pattern_late_out")
      .outputMode("append").start()
    // user 1: view and purchase arrive first; the LATE click between them
    // COMPLETES the match. user 2: view, click, purchase arrive; a LATE
    // error between click and purchase DESTROYS contiguity.
    mem.addData(Seq(ev(1, 1L, 0L, "view"), ev(3, 1L, 2000L, "purchase"),
      ev(4, 2L, 0L, "view"), ev(5, 2L, 1000L, "click"),
      ev(6, 2L, 2000L, "purchase")))
    q.processAllAvailable()
    mem.addData(Seq(ev(2, 1L, 1000L, "click"), ev(7, 2L, 1500L, "error")))
    q.processAllAvailable()
    // frontier passes everything
    mem.addData(Seq(ev(99, 9L, 100000L, "zz"))); q.processAllAvailable()
    mem.addData(Seq.empty[Event]); q.processAllAvailable()
    val got = spark.table("pattern_late_out")
      .select("user_id", "end_event_id").as[(Long, Long)].collect().toSet
    q.stop()
    assert(got == Set((1L, 3L)),
      s"late click completes user 1; late error destroys user 2's triple: $got")
  }

  test("streaming fp-IVF maintenance: at-least-once appends serve exactly-once results; compaction heals duplicates") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val e = graft.Tables.embeddings(spark, sf0001)
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    val qset = e.filter(col("vec_id") < 20)
    def served(tbl: String) =
      Similarity.ivfTopKIndexedFp(qset, spark, tbl, k = 5)
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    // reference: the batch append path over the same base + delta
    Similarity.writeIvfIndexFp(base, "ivf_stream_ref")
    Similarity.appendToIvfIndexFp(spark, "ivf_stream_ref", delta)
    val want = served("ivf_stream_ref")
    // streaming path: two micro-batches of the delta, then the SECOND
    // batch REPLAYED (foreachBatch's at-least-once crash contract)
    Similarity.writeIvfIndexFp(base, "ivf_stream_idx")
    val rows = delta.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(Similarity.ivfIndexSinkFp(spark, "ivf_stream_idx"))
      .outputMode("append").start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    // simulate the crash replay: the sink body re-runs batch 2 verbatim
    Similarity.ivfIndexSinkFp(spark, "ivf_stream_idx")(
      b2.toDF("vec_id", "embedding"), 1L)
    val nTotal = e.count()
    assert(spark.table("ivf_stream_idx").count() == nTotal + b2.length,
      "replay should have physically double-appended batch 2")
    // (a) serving is replay-tolerant: duplicates collapse before ranking
    assert(served("ivf_stream_idx") == want && want.nonEmpty)
    // (b) compaction heals the duplicates AND re-trains — afterwards the
    // index is one row per vector and serves the fresh-full-build result
    Similarity.compactIvfIndexFp(spark, "ivf_stream_idx")
    assert(spark.table("ivf_stream_idx").count() == nTotal)
    Similarity.writeIvfIndexFp(e, "ivf_stream_fresh")
    assert(served("ivf_stream_idx") == served("ivf_stream_fresh"))
    // the one-call maintenance policy: below threshold it does nothing,
    // past it it compacts and resets the drift clock
    Similarity.writeIvfIndexFp(base, "ivf_maint_idx")
    Similarity.appendToIvfIndexFp(spark, "ivf_maint_idx",
      delta.limit(2)) // tiny drift
    assert(!Similarity.maintainIvfIndexFp(spark, "ivf_maint_idx", 0.3))
    Similarity.appendToIvfIndexFp(spark, "ivf_maint_idx", delta)
    assert(Similarity.maintainIvfIndexFp(spark, "ivf_maint_idx", 0.05))
    assert(Similarity.ivfDriftFraction(spark, "ivf_maint_idx") == 0.0)
  }
}
