package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The daily-downsample semantic (SURVEY.md §2.4) over an unbounded
  * stream — the Structured-Streaming re-expression of the reference's
  * stateful scan (/root/reference/main.py:151-161), which processes a
  * complete pre-sorted history in batch.
  *
  * Two formulations:
  *  - [[windowed]]: watermark + 1-day tumbling window + `min_by` — the
  *    declarative route. Emits each (key, day)'s earliest event once the
  *    watermark passes the day; late events within the watermark are
  *    handled by the engine (the batch operator gets that for free from
  *    having the whole history).
  *  - [[greedy]]: `flatMapGroupsWithState` carrying the reference's
  *    actual per-key threshold (`cur_date`) as explicit state — the
  *    faithful port of the greedy scan. Exactly equivalent to the batch
  *    operator when events arrive in event-time order per key (true of
  *    the reference's pre-sorted dumps); under out-of-order arrival it
  *    keeps the reference's greedy bias (first-seen wins), which is the
  *    documented behavior of the original, while [[windowed]] gives the
  *    order-independent answer. */
object StreamingDownsample {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class DayFirst(user_id: Long, day: java.sql.Date, first_ts: Timestamp,
      event_id: Long, event_type: String, value: Double)

  /** Declarative: watermark + tumbling day window + min(struct). */
  def windowed(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("win"))
      .agg(min(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("w"))
      .select(
        col("user_id"),
        col("win.start").cast("date").as("day"),
        col("w.ts").as("first_ts"),
        col("w.event_id").as("event_id"),
        col("w.event_type").as("event_type"),
        col("w.value").as("value"))

  /** Streaming exact dedup: drop duplicate event_ids within the
    * watermark window — the unbounded-stream form of
    * [[graft.operators.Dedup.exact]]. State is bounded by the watermark
    * (keys older than it are evicted), which is what makes exact dedup
    * viable on an infinite stream: at 100 TB/day you bound the dedup
    * horizon, not the corpus. The horizon is one hour. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming heavy-hitter candidates: per tumbling event-time window,
    * a [[graft.functions.FrequentItems]] Misra–Gries summary of the hot
    * keys plus the window's row count — the unbounded-stream half of
    * [[graft.operators.Frequent]]'s two-phase shape. The summary
    * aggregate is partial-mergeable, so it folds incrementally across
    * micro-batches through the state store with O(k) state per open
    * window (never per distinct key — the whole point at web-scale key
    * cardinality), finalizing in append mode when the watermark passes.
    *
    * Contract (same as batch pass 1): `candidates` is GUARANTEED to
    * contain every key with in-window count > n/(k+1) — the candidate
    * set itself may vary with merge order, so the exact thresholded
    * answer comes from the batch-side recount of the flagged windows
    * (the train-batch/serve-stream split, with stream and batch sharing
    * the aggregate by construction). */
  def frequentStream(events: DataFrame, k: Int = 64,
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(
        graft.functions.FrequentItems(col("user_id"), k).as("candidates"),
        count(col("user_id")).as("n"))
      .select(col("win.start").cast("date").as("day"),
        col("candidates"), col("n"))

  /** Streaming per-window quantile estimates from the deterministic
    * bottom-k-by-hash sample ([[graft.operators.Sampling
    * .sampleQuantiles]]'s stream twin): the k smallest
    * md5("graft" ‖ event_id) rows per tumbling window fold incrementally
    * through the state store via the mergeable
    * [[graft.functions.BoundedTopK]] partial — O(k) state per open
    * window — and finalize in append mode. Unlike [[frequentStream]]'s
    * candidates (a superset whose identity depends on merge order), the
    * bottom-k sample is a PURE FUNCTION of the window's data, so the
    * finalized estimates are bitwise what the batch operator computes on
    * the same day (spec-asserted) — approximate in value, exact in
    * reproducibility. */
  def quantileStream(events: DataFrame, k: Int = 512,
      watermark: String = "1 day"): DataFrame = {
    // the salt of the batch operator's default, so the samples agree
    val h = md5(concat(lit("graft"), col("event_id").cast("string")))
    val qCols = Seq(500, 900, 990).map { q =>
      element_at(col("vs"),
        greatest(lit(1), expr(s"($q * size(vs) + 999) div 1000")).cast("int"))
        .as(s"q$q")
    }
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), h.as("h"), col("value").as("v"))
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(graft.functions.BoundedTopK(struct(col("h"), col("v")), k).as("top"))
      .select(col("win.start").cast("date").as("day"),
        array_sort(transform(col("top"), t => t.getField("v"))).as("vs"))
      .select(Seq(col("day"), size(col("vs")).cast("long").as("n_sample")) ++
        qCols: _*)
  }

  /** Streaming **windowed KMV sketches** — per-(event_type, day) distinct
    * audience sketches maintained continuously, the stream half of the
    * [[graft.operators.Kmv]] family: state per open window is ONE ≤ k
    * long set (the [[graft.functions.KmvSketchAgg]] buffer), evicted at
    * watermark finalization. Because the aggregate dedups in-buffer, the
    * whole query is a SINGLE stateful operator — no dropDuplicates→agg
    * stateful chain — and because sketches merge losslessly, the emitted
    * per-day sketches roll up downstream exactly like the batch
    * `segment_kmv_rollup` (union of bottom-k sets → bottom-k), enabling
    * overlap/Jaccard estimates over any day range without re-reading the
    * stream. Converged ≡ the identical batch aggregate (StreamingSpec). */
  def kmvStream(events: DataFrame, k: Int = 128,
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"),
        graft.operators.Kmv.hash60(col("user_id")).as("h"))
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("win"))
      .agg(graft.functions.KmvSketchAgg(col("h"), k).as("sk"))
      .select(col("event_type"), col("win.start").cast("date").as("day"),
        col("sk"))

  /** Streaming **windowed Count-Min sketches** — per-day frequency
    * sketches of the user-id stream maintained continuously, the stream
    * half of the [[graft.operators.Cms]] family exactly as [[kmvStream]]
    * is KMV's: the counter array is ONE partial-mergeable aggregate
    * (elementwise-add merges), so the whole query is a single stateful
    * operator with O(d·w) state per open window, watermark-evicted.
    * Emitted per-day sketches SUM downstream into any date-range sketch
    * (the rollup law), answering point-frequency queries over arbitrary
    * windows without re-reading the stream. Converged ≡ the identical
    * batch aggregate (CmsSpec). */
  def cmsStream(events: DataFrame, watermark: String = "1 day"): DataFrame = {
    import graft.operators.Cms
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), Cms.positions(col("user_id")).as("pos"))
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(graft.functions.CmsSketchAgg(col("pos"), Cms.D * Cms.W).as("cms"))
      .select(col("win.start").cast("date").as("day"), col("cms"))
  }

  /** Streaming sessionization: `session_window` dynamic-gap windows — the
    * unbounded-stream twin of the batch gaps-and-islands `sessionize`
    * query. Sessions merge while events arrive within one hour of the
    * window's end and finalize once the watermark passes; state per open
    * session is one window + the aggregates, evicted at finalize — bounded
    * by (active users × open sessions), not history.
    *
    * Boundary convention (empirically pinned —
    * SessionWindowSemanticsSpec): `session_window` windows MERGE when
    * they touch, so an event at exactly ts − prev == 1 hour stays
    * in-session — the SAME convention as the batch formulation's
    * `> gap` break. The one residual divergence vs the batch
    * `sessionize` query is precision: this operator compares
    * full-microsecond timestamps while the batch rule compares
    * truncated epoch SECONDS, so sub-second tails can flip cases within
    * one second of the boundary (`sessionize_native` closes even that
    * by feeding second-truncated timestamps). */
  def sessions(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("w"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))

  /** **Stream–stream interval join**: each purchase paired with the same
    * user's clicks from the preceding hour (inclusive of the purchase
    * instant) — the attribution-window join, continuously. Both sides
    * carry a one-day watermark and the join condition bounds event-time
    * distance, which is what lets the engine EVICT buffered rows: a click
    * older than (watermark − 1 hour) can never match a future purchase,
    * so stream-join state is O(rate × 1 hour) per side, not unbounded
    * history. Inner join ⇒ results emit as soon as both sides arrive (no
    * watermark finalization wait). */
  def purchaseClickJoin(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** **Left-outer stream–stream attribution join** — [[purchaseClickJoin]]
    * with the unattributed purchases KEPT: a purchase with no click in
    * its one-hour lookback emits exactly once with null click columns,
    * but only after the watermark proves no matching click can still
    * arrive (Spark holds outer results until the join state for that
    * event-time range expires — the outer-null decision is a frontier
    * decision, same law as [[transitionsStream]]'s pair finalization). Matched
    * pairs emit as they meet, exactly like the inner form; the
    * interval condition + both-side watermarks keep the join state
    * O(rate × 1 hour), evicted, never history. Converged output ≡ the
    * batch left join (StreamingSpec), making this the form a marketing
    * pipeline actually runs: attribution AND the unattributed remainder
    * from one operator, no anti-join second pass. */
  def purchaseClickJoinOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "leftOuter")

  /** The body of both attribution joins; they differ only in `joinType`. */
  private def attributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 day")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 day")
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour") &&
          col("c_ts") <= col("p_ts"),
        joinType)
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("click_id"), col("c_ts"))
  }

  /** Stateless **text-cleaning stage** for ingest streams: NFC
    * normalization → Gopher quality gate ON THE NORMALIZED TEXT →
    * intra-document repetition scrub → PII scrub, emitting (doc_id,
    * clean_text) for survivors. Every step is a pure per-row projection
    * ([[graft.operators.TextOps]]'s codegen'd normalize/metrics/scrub
    * columns and [[graft.operators.Boilerplate.scrubRepeatedBlocks]]'
    * HOF block scrub — the SAME definitions the batch `text_normalize` /
    * `quality_gopher` / `intradoc_scrub` / `pii_scrub` queries use, so
    * batch ≡ stream by construction, spec-asserted), which is what makes
    * it runnable in append mode with no watermark and no state store —
    * the front of a 100 TB/day ingest pipeline, upstream of
    * [[nearDupStream]]. The scrub order is the C4 one: repetition scrub
    * AFTER the quality gate (gates judge the page as crawled) and BEFORE
    * PII redaction (so a repeated contact block collapses to one
    * placeholder, not a placeholder per repeat). */
  def cleanStream(docs: DataFrame): DataFrame = {
    import graft.operators.{Boilerplate, TextOps}
    val metrics = TextOps.gopherMetrics(col("norm_text"))
    val gated = docs
      .select(col("doc_id"), TextOps.normalize(col("text")).as("norm_text"))
      .select(col("doc_id") +: col("norm_text") +:
        metrics.map { case (n, c) => c.as(n) }: _*)
      .filter(TextOps.gopherRules.map(_._2).reduce(_ && _))
    Boilerplate.scrubRepeatedBlocks(gated, col("doc_id"), col("norm_text"))
      .select(col("doc_id"),
        TextOps.scrubPii(col("text_clean")).as("clean_text"))
  }

  /** Stateless **DSIR-serving stage**: score each streamed document's
    * target-likeness under bucket frequencies collected batch-side by
    * [[graft.operators.Dsir.hashedFreq]] — the train-batch /
    * serve-stream split again ([[scoreStream]]'s shape): the two dense
    * frequency tables travel as array literals inside a per-row
    * projection, so append mode, no watermark, no state store.
    * Downstream, threshold on `score` to gate ingest toward the target
    * domain — the streaming complement of the batch
    * [[graft.operators.Dsir.selectTopK]] ranking. Unigram features only,
    * as [[graft.operators.Dsir.hashedFreq]] collects them by default. */
  def dsirScoreStream(docs: DataFrame, cTgt: Seq[Long], cRaw: Seq[Long]): DataFrame =
    graft.operators.Dsir.scoreWithFreq(docs, col("doc_id"), col("text"),
      cTgt, cRaw)

  /** Stateless **PCA-projection stage**: embed-then-reduce at ingest —
    * W and the eigenvalues λ for whitening, fitted batch-side by
    * [[graft.operators.EmbeddingPca.fitProjectionWithVariance]], the
    * rows travelling as array literals inside k per-row codegen'd dot
    * products; append mode, no watermark, no state store — the same
    * train-batch/serve-stream split as [[scoreStream]] and
    * [[dsirScoreStream]]. */
  def pcaProjectStream(vecs: DataFrame, w: Seq[Seq[Float]],
      lambdas: Seq[Double]): DataFrame =
    graft.operators.EmbeddingPca.projectWhitened(
      vecs, col("vec_id"), col("embedding"), w, lambdas)

  /** Stateless **classifier-serving stage**: score each streamed doc
    * under weights trained batch-side by
    * [[graft.operators.Classifier.trainPerceptron]] (the train-batch /
    * serve-stream split every quality-classifier deployment uses). The
    * weight map travels as one literal inside a per-row projection —
    * append mode, no watermark, no state store, spec-asserted equal to
    * the batch scoring. */
  def scoreStream(docs: DataFrame, weights: Map[Int, Long]): DataFrame =
    graft.operators.Classifier.scoreDocs(docs, col("doc_id"), col("text"),
      weights)

  /** **Stream–static decontamination**: an unbounded document stream
    * flagged per micro-batch against a STATIC benchmark index — the
    * ingest-time form of [[graft.operators.Dedup.contamination]] (clean a
    * feed as it lands instead of re-scanning the corpus). The static side
    * collapses to ONE row holding the distinct bench shingle-hash array;
    * the join is a stream–static equi-join on a constant key (the 1-row
    * static side broadcasts), and the per-document overlap is a per-row
    * `array_intersect` — completely STATELESS, so it runs in append mode
    * with no watermark and no state store: exactly what a 100 TB/day
    * ingest pipeline needs. Two costs to know about (both the price of
    * statelessness): distinct bench hashes must fit an executor (same
    * memory bound as the batch broadcast path), AND the per-row
    * `array_intersect` rebuilds its lookup set over the bench array for
    * EVERY streamed document — O(|bench|) per doc, where the batch
    * broadcast hash join builds once per task. The stateless
    * alternatives don't exist: exploding the stream and re-aggregating
    * per doc is a streaming aggregation (state store), and the bench
    * side can't pre-build a shared hash set without a real broadcast
    * join, which the 1-row-array form deliberately avoids re-planning
    * per micro-batch. When the bench set outgrows either bound, the
    * Bloom route ([[graft.operators.Dedup.contaminationBloom]]) is the
    * batch-side fallback. Emits only contaminated documents, with the
    * batch operator's exact columns. */
  def decontaminateStream(docs: DataFrame, bench: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val n = 3 // 3-gram shingles, as the registered `decontaminate` query
    // Static side built from the EXPLODED shingle stream (explode fused
    // with the shingle expression — see Dedup.shingleHashes scaladoc for
    // why exploding the projected array form would re-tokenize O(len²)),
    // collapsed to one row and PERSISTED: stream–static joins re-evaluate
    // the static side every micro-batch, so without the persist the whole
    // bench corpus would re-shingle per batch. collect_set already
    // deduplicates, so the hashedShingleSet's distinct is the only one.
    // Persisted through Dedup's plan-keyed registry, not a bare persist:
    // repeated construction shares one copy and Dedup.releaseCaches()
    // (the library's caller-release contract) drops it.
    val benchArr = Dedup.memoPersist(
      Dedup.hashedShingleSet(bench, col("doc_id"), col("text"), n)
        .agg(sort_array(collect_set(col("h"))).as("bench_hs"))
        .withColumn("__k", lit(1)))
    Dedup.shingleHashes(docs, col("doc_id"), col("text"), n)
      .withColumn("__k", lit(1))
      .join(benchArr, "__k")
      .select(col("doc_id"),
        size(array_intersect(col("hs"), col("bench_hs")))
          .cast("long").as("n_shared"),
        size(array_distinct(col("hs"))).cast("long").as("n_shingles"))
      .filter(col("n_shared") > 0)
      .withColumn("contamination",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
  }

  /** **Streaming near-dup detection against the persisted signature
    * index** — the in-flight half of the incremental-dedup loop
    * ([[graft.operators.Dedup.incrementalDedup]] is the batch half):
    * every arriving document is checked against the bucketed index
    * WITHOUT re-shingling the indexed corpus, per micro-batch, with NO
    * state store. Everything the batch pipeline computes with shuffles
    * becomes per-row arithmetic on the stream side:
    *
    *  - shingle hashes: per-row array ([[graft.operators.Dedup
    *    .shingleHashes]]);
    *  - MinHash signature: `sig[i] = array_min(transform(hs, h →
    *    xxhash64(h, i)))` — identical values to the batch `groupBy.min`
    *    because min is duplicate-insensitive;
    *  - LSH bands: [[graft.operators.Dedup.bandHashes]], the banding the
    *    stored index was built with (per-row, exploded);
    *  - candidate generation: stream–static equi-join on (band, bh)
    *    against the index's band projection — stateless;
    *  - **exactly-once per pair without state**: a pair colliding in
    *    several bands would emit duplicates (streaming `distinct` needs
    *    state), so both sides carry their 16-long band-hash ARRAYS and a
    *    joined row survives only if its band is the SMALLEST agreeing
    *    one — a pure per-row filter over two fixed-width arrays (the
    *    k-long signatures themselves never ship past the banding
    *    projection);
    *  - verification: [[graft.operators.Dedup.verifyIndexPairs]], the
    *    batch kernel's stream–static join against the index doc's stored
    *    hash set, exact Jaccard and ordered pair projection.
    *
    * Pairs *within* the stream are deliberately out of scope here: that
    * is the batch step of the loop (dedupe the accumulated batch, then
    * [[graft.operators.Dedup.appendToSignatureIndex]] folds it in). */
  def nearDupStream(docs: DataFrame, spark: org.apache.spark.sql.SparkSession,
      indexTable: String, k: Int = graft.operators.Dedup.MinHash.K,
      bands: Int = graft.operators.Dedup.MinHash.Bands): DataFrame = {
    import graft.operators.Dedup
    import Dedup.MinHash.{N => n}
    val index = spark.table(indexTable)
    // Guard (round-5 advice): (k, n) must match the stored index
    // parameters — see [[Dedup.requireIndexParams]] for why a mismatch
    // on either silently drops candidates instead of erroring.
    Dedup.requireIndexParams(spark, indexTable, "nearDupStream", k, n)
    def bandArray(sig: Column): Column = array(Dedup.bandHashes(sig, k, bands): _*)
    // Band rows carry (delta_id, hss, bhs_d): the full 64-long signature
    // collapses to its 16 band hashes BEFORE the explode, so each of the
    // `bands` rows ships a fixed 16-long array instead of the k-long
    // signature (round-5 advice; the min-colliding-band filter only ever
    // compares band hashes, never raw signature values). `hss` must stay
    // on the band rows: the only stateless way back to a stream row's
    // payload is to carry it — re-attaching it post-filter would be a
    // stream-stream self-join, which append mode cannot run without a
    // state store.
    val withSig = Dedup.shingleHashes(docs, col("doc_id"), col("text"), n)
      .withColumn("hss", sort_array(array_distinct(col("hs"))))
      .withColumn("sig", array((0 until k).map(i =>
        array_min(transform(col("hss"), h => xxhash64(h, lit(i))))): _*))
      .select(col("doc_id").as("delta_id"), col("hss"),
        bandArray(col("sig")).as("bhs_d"))
    // posexplode_outer (here and on the index side): the plain form lets
    // Spark infer `size(bhs_d) > 0` and push it through the projections,
    // recomputing the whole MinHash signature in a filter over the scan
    // (sf0.001 split, batch form, local[2]: ~30 s against ~1.2 s). Rows
    // are identical: the band arrays are built by array(...) of `bands`
    // hashes, never null or empty.
    val streamBands = withSig
      .select(col("delta_id"), col("hss"), col("bhs_d"),
        posexplode_outer(col("bhs_d")).as(Seq("band", "bh")))
    // index band rows: one narrow projection + explode over the bucketed
    // scan — no bandedSignatures-then-rejoin round trip (the band-hash
    // array is per-row arithmetic, so the sig_i it replaced never ships)
    val idxBands = index
      .select(col("doc_id").as("idx_id"), bandArray(col("sig")).as("bhs_i"))
      .select(col("idx_id"), col("bhs_i"),
        posexplode_outer(col("bhs_i")).as(Seq("band", "bh")))
    val minCollidingBand = array_min(
      transform(sequence(lit(0), lit(bands - 1)), bd =>
        when(element_at(col("bhs_d"), bd + 1) === element_at(col("bhs_i"), bd + 1),
          bd).otherwise(lit(bands))))
    val cand = streamBands.join(idxBands, Seq("band", "bh"))
      .filter(col("band") === minCollidingBand)
      .select(col("delta_id"), col("idx_id"), col("hss").as("hs_d"))
    Dedup.verifyIndexPairs(index, cand, Dedup.MinHash.Threshold)
  }

  /** `foreachBatch` sink body for the same check: each micro-batch is an
    * ordinary DataFrame, so it runs the batch kernel
    * ([[graft.operators.Dedup.indexPairs]], the cross half of
    * `incrementalDedup`) instead of the stateless form — the shingle
    * hash-set stays off the band rows, and the `distinct` over
    * candidates needs no state store. Appends each micro-batch's
    * verified pairs (plus the batch id) as parquet under `outPath`. The
    * batch's signatures are persisted for that batch only and released
    * before the next one. */
  def nearDupForeachBatch(spark: org.apache.spark.sql.SparkSession,
      indexTable: String, outPath: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      import graft.operators.Dedup
      import Dedup.MinHash.{Bands => bands, K => k, N => n, Threshold => threshold}
      Dedup.requireIndexParams(spark, indexTable, "nearDupForeachBatch", k, n)
      val sigs = Dedup.docSignatures(batch, col("doc_id"), col("text"), n, k).persist()
      try Dedup.indexPairs(spark.table(indexTable), sigs, k, bands, threshold)
        .withColumn("batch_id", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
      finally sigs.unpersist()
    }

  /** One closed SCD2 interval emitted by [[scd2Stream]]. */
  final case class Scd2Closed(user_id: Long, state: String,
      valid_from: Timestamp, valid_to: Timestamp, n_events: Long)

  /** Per-key open-run state carried between micro-batches by
    * [[scd2Stream]]: the current attribute value, its run start, and the
    * run's event count — O(1) per key, like [[greedy]]'s threshold. The
    * start rides as a full Timestamp (µs precision — a ms-long round
    * trip would corrupt valid_from vs the batch operator). */
  final case class Scd2Run(state: String, validFrom: Timestamp, nEvents: Long)

  /** Full-precision instant for in-batch ordering: `getTime` ms plus the
    * sub-ms microseconds that `getTime` drops. */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  /** **Streaming SCD2 maintenance** — the in-flight half of
    * [[graft.operators.Temporal.scd2]]: each key's open run lives in
    * GroupState (three fields, never the events), and an arriving event
    * with a DIFFERENT attribute value closes the run — the closed
    * `[valid_from, valid_to)` interval is emitted exactly once, in
    * append mode. The open tail is deliberately NOT emitted (append mode
    * cannot retract); it is the state itself, and the batch operator
    * owns open intervals — the same closed-half/open-half split as
    * [[graft.operators.Temporal.scd2Merge]]'s seeds. Within a
    * micro-batch events are re-sorted by (ts, event_id) — the same
    * no-order-promise handling as [[greedy]]; ACROSS batches the
    * frontier contract of scd2Merge applies (no late data). Spec:
    * emitted intervals ≡ the batch operator's closed rows. */
  def scd2Stream(events: Dataset[Event]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[Scd2Run]) => {
          var run = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          batch.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            run match {
              case null =>
                run = Scd2Run(e.event_type, e.ts, 1L)
              case r if r.state == e.event_type =>
                run = r.copy(nEvents = r.nEvents + 1)
              case r =>
                out += Scd2Closed(userId, r.state, r.validFrom, e.ts, r.nEvents)
                run = Scd2Run(e.event_type, e.ts, 1L)
            }
          }
          state.update(run)
          out.iterator
        })
  }

  final case class PointK(key: Long, x: Long, y: Long)
  final case class Front(xs: Seq[Long], ys: Seq[Long], nSeen: Long)
  final case class FrontOut(key: Long, xs: Seq[Long], ys: Seq[Long],
    n_seen: Long)

  /** **Streaming skyline** — per-key incremental Pareto front, the
    * stateful twin of [[graft.operators.Skyline.skyline2d]]: state per
    * key is the CURRENT FRONT ONLY (sorted (x, y) pairs), never the
    * point history — O(front) memory, and 2-D fronts over random data
    * run O(log n) points, so hundreds of millions of keys hold. Each
    * arriving point is checked against the front (dominated → dropped on
    * arrival; else inserted and the points it dominates evicted) — work
    * per batch ∝ batch × front. Emits, in update mode, the full current
    * front of every key that received data. Tie semantics match the
    * batch operator exactly: coordinate-duplicate points dominate in
    * neither direction, so BOTH ride the front (the state is a list, not
    * a set). A point evicted from the front can never return (dominance
    * is monotone under insertion), which is what makes the
    * front-only state lossless — StreamingSpec proves the converged
    * front ≡ the batch operator per key under adversarial arrival
    * orders. `n_seen` (total points absorbed) rides along so a consumer
    * can identify the newest emission per key without relying on sink
    * row order. */
  def skylineStream(points: Dataset[PointK]): Dataset[FrontOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[PointK], state: GroupState[Front]) => {
          var front: Seq[(Long, Long)] =
            state.getOption.map(f => f.xs.zip(f.ys)).getOrElse(Seq.empty)
          var seen = state.getOption.map(_.nSeen).getOrElse(0L)
          def dom(q: (Long, Long), p: (Long, Long)): Boolean =
            q._1 <= p._1 && q._2 <= p._2 && (q._1 < p._1 || q._2 < p._2)
          batch.foreach { e =>
            val p = (e.x, e.y)
            seen += 1
            if (!front.exists(q => dom(q, p)))
              front = front.filterNot(q => dom(p, q)) :+ p
          }
          val sorted = front.sorted
          state.update(Front(sorted.map(_._1), sorted.map(_._2), seen))
          FrontOut(key, sorted.map(_._1), sorted.map(_._2), seen)
        })
  }

  final case class SessState(startUs: Seq[Long], endUs: Seq[Long],
    nEvents: Seq[Long], types: Seq[Seq[String]], nSeen: Long)
  final case class SessionsOut(user_id: Long, n_seen: Long,
    session_start: Seq[Timestamp], session_end: Seq[Timestamp],
    n_events: Seq[Long], n_types: Seq[Long])

  private def tsOfMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The evicting-snapshot skeleton of [[sessionizeStream]],
    * [[funnelStream]] and [[retentionStream]]: update-mode
    * `mapGroupsWithState` per user that folds each batch into the key's
    * state with `fold` and emits `outOf` of the new state. With
    * `evictAfterSeconds = Some(b)` (watermarked input required — Spark
    * refuses an event-time timeout without one) the key's timeout is
    * pinned to its latest event time (`lastUs`) + b, clamped past the
    * current watermark (Spark rejects a deadline already passed); once
    * the frontier passes it the key emits `outOf` one final time and its
    * state is removed. With `None` the timeout is `NoTimeout`. */
  private def evictingSnapshots[S: Encoder, O: Encoder](events: Dataset[Event],
      evictAfterSeconds: Option[Long], lastUs: S => Long, outOf: (Long, S) => O)(
      fold: (Option[S], Iterator[Event]) => S): Dataset[O] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (evictAfterSeconds.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState(timeoutConf)(
        (userId: Long, batch: Iterator[Event], state: GroupState[S]) => {
          if (state.hasTimedOut) {
            val out = outOf(userId, state.get)
            state.remove()
            out
          } else {
            val s = fold(state.getOption, batch)
            state.update(s)
            evictAfterSeconds.foreach { b =>
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(lastUs(s), 1000L) + b * 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            outOf(userId, s)
          }
        })
  }

  /** **Custom-state streaming sessionization** — the `mapGroupsWithState`
    * twin of the batch gaps-and-islands `sessionize` query, correct under
    * ADVERSARIAL arrival (any order, any batch split — the
    * [[skylineStream]] discipline), which the watermark-gated
    * [[sessions]] cannot promise: `session_window` finalizes at the
    * watermark and silently drops later-arriving bridge events, while
    * here a late event merges — possibly BRIDGING two existing sessions
    * into one (the interval-merge insert: an event joins every run whose
    * truncated-second span it is within the gap of; all joined runs and
    * the event fold into one run). The gap is the batch query's one hour
    * with its semantics exactly: epoch seconds truncate before the
    * `> 3600` comparison.
    *
    * State per key is the RUN LIST ONLY — (start, end, count, distinct
    * type set) per session, never the event history: O(sessions/user ×
    * types), and inserting an event can only merge runs, never split
    * them, so runs-so-far ≡ batch-sessionize(events-so-far) is an
    * invariant, making the front-only state lossless. Emits in update
    * mode the full current run list per touched key, with a monotone
    * `n_seen` so consumers pick the newest emission without a sink
    * row-order promise.
    *
    * **Bounded state** (`evictAfterSeconds = Some(b)`): the
    * application-frontier sweep made concrete. The caller supplies a
    * watermarked input (`events.withWatermark("ts", …)` — Spark refuses
    * an event-time timeout without one, loudly); each key's timeout is
    * pinned to (its latest event time + b), so when the watermark — the
    * stream's application frontier — passes that deadline the key is
    * emitted one final time and EVICTED: state size tracks OPEN keys
    * only, never total users. Eviction is output-lossless for b ≥ gap:
    * any event that could still merge into or bridge an evicted key's
    * runs has ts ≤ lastEnd + gap ≤ deadline < watermark, i.e. the
    * watermark filter would drop it BEFORE the state op whether or not
    * the key was evicted (StreamingSpec pins both halves: eviction
    * changes nothing for arrival within the bound, and evicted keys
    * leave the state store). An event past the bound starts a fresh era
    * for that key — by the gap rule it is a new session anyway, and the
    * evicted emission is final for its era. With `None` (default) the
    * operator keeps the no-arrival-assumptions contract: NoTimeout,
    * state grows with total keys. */
  def sessionizeStream(events: Dataset[Event],
      evictAfterSeconds: Option[Long] = None): Dataset[SessionsOut] = {
    import events.sparkSession.implicits._
    val gapSeconds = 3600L
    def outOf(userId: Long, s: SessState): SessionsOut =
      SessionsOut(userId, s.nSeen,
        s.startUs.map(tsOfMicros), s.endUs.map(tsOfMicros),
        s.nEvents, s.types.map(_.size.toLong))
    evictingSnapshots[SessState, SessionsOut](events, evictAfterSeconds,
        _.endUs.max, outOf) { (prior, batch) =>
      var runs: Seq[(Long, Long, Long, Set[String])] =
        prior.map(s => s.startUs.indices.map(i =>
          (s.startUs(i), s.endUs(i), s.nEvents(i), s.types(i).toSet)).toSeq)
          .getOrElse(Seq.empty)
      var seen = prior.map(_.nSeen).getOrElse(0L)
      batch.foreach { e =>
        seen += 1
        val us = micros(e.ts)
        val sec = Math.floorDiv(us, 1000000L)
        val (joins, rest) = runs.partition { r =>
          val sSec = Math.floorDiv(r._1, 1000000L)
          val eSec = Math.floorDiv(r._2, 1000000L)
          sec >= sSec - gapSeconds && sec <= eSec + gapSeconds
        }
        runs = rest :+ ((
          (us +: joins.map(_._1)).min,
          (us +: joins.map(_._2)).max,
          joins.map(_._3).sum + 1L,
          joins.foldLeft(Set(e.event_type))(_ ++ _._4)))
      }
      val sorted = runs.sortBy(r => (r._1, r._2))
      SessState(sorted.map(_._1), sorted.map(_._2),
        sorted.map(_._3), sorted.map(_._4.toSeq.sorted), seen)
    }
  }

  final case class FunnelState(views: Seq[Long], clicks: Seq[Long],
    purchases: Seq[Long], nSeen: Long, lastUs: Long)
  final case class FunnelOut(user_id: Long, n_seen: Long,
    t_view: Option[Timestamp], t_click: Option[Timestamp],
    t_purchase: Option[Timestamp])

  /** **Streaming funnel tracking** — the conversion chain
    * (view → click → purchase, each stage strictly after the previous
    * stage's EARLIEST qualifying time) maintained per user, correct
    * under adversarial arrival: a late-arriving earlier view LOWERS
    * `t_view`, which can re-qualify clicks that were previously too
    * early — so, unlike [[sessionizeStream]]'s merge-only runs, the
    * greedy chain is NOT monotone under insertion and the state must
    * keep each stage's event times, not just the current chain
    * (the bounded-per-key-history contract of the batch `ewma_fixed` /
    * `sessionize` family: per-user stage events are small; an
    * arrival-bounded production stream would add a watermark sweep that
    * freezes and evicts converged users). The chain recomputes per
    * batch from the three sorted time lists — work ∝ state size, exact
    * at every point: emitted rows always equal the batch funnel over
    * events-seen-so-far (StreamingSpec proves convergence under a
    * seeded shuffle split across batches). Update-mode emission with
    * the monotone `n_seen` pick-latest discipline.
    *
    * **Bounded state** (`evictAfterSeconds = Some(b)`, watermarked
    * input required): b is the ATTRIBUTION WINDOW — a user inactive for
    * b of event time past their last event (any type; `lastUs` tracks
    * it in state) is emitted finally and evicted, so state holds OPEN
    * funnels only. Unlike [[sessionizeStream]] no bound makes eviction
    * fully lossless (a purchase at ANY later time could extend an open
    * chain) — freezing the funnel at the window edge IS the product
    * semantics, the same contract every attribution system ships. For
    * arrival within the bound, outputs are identical to the unbounded
    * form (spec-pinned). */
  def funnelStream(events: Dataset[Event],
      evictAfterSeconds: Option[Long] = None): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    def outOf(userId: Long, st: FunnelState): FunnelOut = {
      val tv = st.views.minOption
      val tc = tv.flatMap(v => st.clicks.filter(_ > v).minOption)
      val tp = tc.flatMap(c => st.purchases.filter(_ > c).minOption)
      FunnelOut(userId, st.nSeen, tv.map(tsOfMicros),
        tc.map(tsOfMicros), tp.map(tsOfMicros))
    }
    evictingSnapshots[FunnelState, FunnelOut](events, evictAfterSeconds,
        _.lastUs, outOf) { (prior, batch) =>
      batch.foldLeft(prior.getOrElse(FunnelState(Nil, Nil, Nil, 0L, 0L))) { (st, e) =>
        val us = micros(e.ts)
        val next = e.event_type match {
          case "view" => st.copy(views = st.views :+ us)
          case "click" => st.copy(clicks = st.clicks :+ us)
          case "purchase" => st.copy(purchases = st.purchases :+ us)
          case _ => st
        }
        next.copy(nSeen = st.nSeen + 1, lastUs = math.max(st.lastUs, us))
      }
    }
  }

  final case class RetState(days: Seq[Long], nSeen: Long, lastUs: Long)
  final case class RetentionOut(user_id: Long, n_seen: Long,
    cohort_day: Long, weeks: Seq[Long])

  /** **Streaming cohort retention** — per-user converged
    * (cohort, active weeks) state, correct under adversarial arrival:
    * a late-arriving EARLIER event moves the user's cohort day, which
    * re-buckets every week offset they have (week = (day − cohort)/7) —
    * so, exactly like [[funnelStream]]'s chain, the derived values are
    * not monotone under insertion and the state keeps the DISTINCT
    * ACTIVE DAY SET (bounded by the corpus' day span per user, the
    * bounded-per-key-history contract), re-deriving cohort and weeks
    * per batch. Emits each touched user's current snapshot in update
    * mode (`n_seen` pick-latest); the retention MATRIX is a plain
    * aggregation over the latest snapshots — each user carries exactly
    * one cohort, so cell counts are exploded-row counts, no distinct
    * needed downstream (StreamingSpec proves cells ≡ the batch
    * `retention` query). `cohort_day` rides as an epoch-day long —
    * exact integers — bucketed in the SESSION time zone captured at
    * construction, matching the batch query's `to_date(ts)` semantics
    * in any session configuration, not just the repo's pinned UTC.
    *
    * **Bounded state** (`evictAfterSeconds = Some(b)`, watermarked
    * input required): a user inactive for b of event time is emitted
    * finally and evicted — state tracks OPEN (recently active) users
    * only. The retention caveat mirrors [[funnelStream]]'s: a
    * past-the-bound return visit would have extended the user's week
    * set, so b is the OBSERVATION WINDOW (choose it ≥ the matrix's
    * maximum week offset and eviction is lossless for the cells the
    * matrix reports; arrival within the bound is output-identical to
    * the unbounded form — spec-pinned). */
  def retentionStream(events: Dataset[Event],
      evictAfterSeconds: Option[Long] = None): Dataset[RetentionOut] = {
    import events.sparkSession.implicits._
    val zone = java.time.ZoneId.of(
      events.sparkSession.sessionState.conf.sessionLocalTimeZone)
    def epochDay(us: Long): Long =
      java.time.Instant
        .ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L)
        .atZone(zone).toLocalDate.toEpochDay
    def outOf(userId: Long, s: RetState): RetentionOut = {
      val cohort = s.days.min
      RetentionOut(userId, s.nSeen, cohort,
        s.days.map(d => (d - cohort) / 7).distinct.sorted)
    }
    evictingSnapshots[RetState, RetentionOut](events, evictAfterSeconds,
        _.lastUs, outOf) { (prior, batch) =>
      var days = prior.map(_.days.toSet).getOrElse(Set.empty[Long])
      var seen = prior.map(_.nSeen).getOrElse(0L)
      var lastUs = prior.map(_.lastUs).getOrElse(0L)
      batch.foreach { e =>
        seen += 1
        val us = micros(e.ts)
        lastUs = math.max(lastUs, us)
        days += epochDay(us)
      }
      RetState(days.toSeq.sorted, seen, lastUs)
    }
  }

  /** Stateful: the reference's greedy threshold as GroupState. State per
    * key is a single long (the next-emittable instant) — O(1) per key,
    * which is what makes this viable with hundreds of millions of keys:
    * state size is keys × 8 bytes, not keys × events. The threshold
    * starts at the reference epoch
    * ([[graft.operators.Diachronic.DefaultEpoch]]), read as UTC like the
    * day arithmetic below. */
  def greedy(events: Dataset[Event]): Dataset[DayFirst] = {
    import events.sparkSession.implicits._
    val dayMs = 24L * 3600 * 1000
    val epochMillis = java.time.LocalDateTime
      .parse(graft.operators.Diachronic.DefaultEpoch.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[Long]) => {
          var threshold = state.getOption.getOrElse(epochMillis)
          val out = scala.collection.mutable.ArrayBuffer.empty[DayFirst]
          // within a micro-batch, restore event-time order (the reference
          // reads a pre-sorted file; a stream batch has no order promise)
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (t >= threshold) {
              out += DayFirst(userId, new java.sql.Date(t - Math.floorMod(t, dayMs)),
                e.ts, e.event_id, e.event_type, e.value)
              // midnight after the emitted event (main.py:155)
              threshold = t - Math.floorMod(t, dayMs) + dayMs
            }
          }
          state.update(threshold)
          out.iterator
        })
  }

  final case class TransState(tsUs: Seq[Long], ids: Seq[Long],
    types: Seq[String])
  final case class TransitionOut(user_id: Long, prev_type: String,
    next_type: String, at: Timestamp)

  /** The frontier-window skeleton of [[transitionsStream]] (w = 2) and
    * [[patternStream]] (w = 3): per user, the event-time-ordered events
    * not yet final, in append mode. A window of `w` consecutive events
    * finalizes — goes to `emit`, exactly once — when the watermark
    * passes its last event; the state then keeps `w − 1` anchors plus the
    * pending suffix. With `evictAfterSeconds = Some(b)` a key holding
    * anchors only, idle past b, is removed. The key wakes when the
    * frontier passes its earliest pending window end, else at the idle
    * deadline, clamped past the current watermark (Spark rejects a
    * deadline already passed). Ordering ties break on event_id. */
  private def frontierWindows[O: Encoder](events: Dataset[Event], w: Int,
      evictAfterSeconds: Option[Long])(
      emit: (Long, Seq[(Long, Long, String)]) => Option[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[TransState]) => {
          var seq: Vector[(Long, Long, String)] =
            state.getOption.map(s => s.tsUs.indices.map(i =>
              (s.tsUs(i), s.ids(i), s.types(i))).toVector).getOrElse(Vector.empty)
          val fresh = batch.toVector.map(e => (micros(e.ts), e.event_id, e.event_type))
          if (fresh.nonEmpty)
            seq = (seq ++ fresh).sortBy(t => (t._1, t._2))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val out = scala.collection.mutable.ArrayBuffer.empty[O]
          // window seq(j - w + 1 .. j) finalizes when the frontier passes seq(j)
          var j = w - 1
          while (j < seq.length && seq(j)._1 < wmUs) {
            out ++= emit(userId, seq.slice(j - w + 1, j + 1))
            j += 1
          }
          seq = seq.drop(j - (w - 1))
          def idleDeadline = evictAfterSeconds.map(b => seq.last._1 + b * 1000000L)
          if (seq.isEmpty || (seq.length < w && idleDeadline.exists(_ < wmUs))) {
            state.remove()
          } else {
            state.update(TransState(seq.map(_._1), seq.map(_._2), seq.map(_._3)))
            val nextUs = if (seq.length >= w) Some(seq(w - 1)._1) else idleDeadline
            nextUs.foreach { us =>
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(us, 1000L) + 1L,
                state.getCurrentWatermarkMs() + 1L))
            }
          }
          out.iterator
        })
  }

  /** **Streaming transition finalizer** — the append-mode twin of the
    * batch [[graft.queries.Behavioral.eventTransitions]] lag-window:
    * emits each adjacent (prev_type → next_type) pair of a user's
    * event-time-ordered history EXACTLY ONCE, correct under adversarial
    * arrival. The finalization law comes straight from the watermark
    * contract: a pair (e, e′) is immutable once the watermark passes
    * e′.ts, because any event that could still insert between them
    * would carry ts ≤ e′.ts < watermark and be dropped before the
    * state operator. So the state keeps only the NON-FINAL suffix of
    * each user's history — the events with ts ≥ the finalization
    * frontier, plus one anchor (the last finalized event, predecessor
    * of the next pair) — and `EventTimeTimeout` wakes the key when the
    * frontier passes its earliest pending successor, draining pairs
    * without requiring fresh data for that user. The input MUST be
    * watermarked (Spark enforces this for event-time timeouts — loud,
    * not silent). Ordering ties break on event_id, matching the batch
    * window's (ts, event_id) sort.
    *
    * State is O(late-horizon events per user), not history: every
    * watermark advance finalizes the prefix irrevocably. With
    * `evictAfterSeconds = Some(b)`, a key whose anchor has been idle
    * past b is removed entirely (its next event starts a fresh era and
    * the cross-era pair is forgone — same era semantics as
    * [[sessionizeStream]]'s bound, here trading one edge per evicted
    * key for state ∝ open keys). Downstream, `groupBy(prev_type,
    * next_type).count()` over the emitted pairs IS the batch
    * transition matrix — StreamingSpec asserts multiset equality under
    * seeded-shuffle replay. */
  def transitionsStream(events: Dataset[Event],
      evictAfterSeconds: Option[Long] = None): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    frontierWindows[TransitionOut](events, 2, evictAfterSeconds) { (userId, win) =>
      Some(TransitionOut(userId, win(0)._3, win(1)._3, tsOfMicros(win(1)._1)))
    }
  }

  /** **Streaming distribution-drift monitor** — the stream half of the
    * batch `drift_report`: a BASELINE histogram (fitted batch-side:
    * grid origin `lo`, width `w`, per-bucket counts, total `nb`) is
    * served against each COMPLETED day's event-value histogram, one
    * χ²-contribution row per (day, bucket), the same exact scaled
    * integer arithmetic as the batch query. The per-day histogram is a
    * single watermarked windowed aggregate whose 20 bucket counts are
    * CONDITIONAL COUNTS in one agg (the bucket grid is fixed, so no
    * second stateful operator is ever needed), exploded to rows in
    * append mode; the baseline travels as literals — the
    * train-batch/serve-stream split of [[dsirScoreStream]] /
    * [[pcaProjectStream]], applied to monitoring. Values outside the
    * baseline grid clamp into the edge buckets (a drifted tail SHOULD
    * land somewhere visible, not vanish). State = open windows only. */
  def driftStream(events: Dataset[Event], lo: Long, w: Long,
      baseCounts: Seq[Long], watermark: String = "2 hours"): DataFrame = {
    require(w > 0 && baseCounts.nonEmpty, "driftStream needs a positive-width baseline grid")
    // grid formulas mirror queries/DataCleaning.gridWidthExpr /
    // gridBucketExpr in literal-serving form (lo and w arrive as
    // batch-fitted constants here) — keep the three sites in lockstep
    val nBuckets = baseCounts.length
    val nb = baseCounts.sum
    val bucket = least(greatest(expr(s"(CAST(ROUND(value * 100) AS BIGINT) - ${lo}L) div ${w}L"),
      lit(0L)), lit(nBuckets - 1L))
    val perBucket = (0 until nBuckets).map(k =>
      count(when(bucket === k.toLong, 1)).as(s"b_$k"))
    val daily = events.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(perBucket.head, perBucket.tail :+ count(lit(1)).as("nc"): _*)
    val rows = daily.select(
      expr("CAST(FLOOR(unix_micros(win.start) / 86400000000) AS BIGINT)").as("day_epoch"),
      col("nc"),
      explode(array((0 until nBuckets).map(k =>
        struct(lit(k.toLong).as("bucket"), col(s"b_$k").as("cur_n"),
          lit(baseCounts(k)).as("base_n"))): _*)).as("e"))
    rows
      // operands cast BEFORE the multiply (lockstep with the batch
      // driftReport fix, same factored-__d shape): cur_n·nb is
      // long×long at billion-row snapshots and would wrap silently
      .withColumn("__d",
        expr(s"""CAST(e.cur_n AS DECIMAL(38,0)) * ${nb}L
                 - CAST(e.base_n AS DECIMAL(38,0)) * nc"""))
      // loud cap in lockstep with the batch driftReport: |__d| ≥ 10¹⁶
      // pushes __d²·10⁶ to ≥ 10³⁸ > DECIMAL(38,0) max, which ANSI-off
      // Spark NULLs silently — raise instead so the stream fails
      // loudly exactly where the batch form does
      .withColumn("__d",
        when(abs(col("__d")) >= lit(new java.math.BigDecimal("10000000000000000")),
          raise_error(lit("driftStream: chi2 term exceeds DECIMAL(38,0) — rescale"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .otherwise(col("__d")))
      .select(col("day_epoch"), col("e.bucket").as("bucket"),
        col("e.cur_n").as("cur_n"), col("e.base_n").as("base_n"),
        when(col("e.base_n") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"""CAST((__d * __d * 1000000)
                div (CAST(e.base_n AS DECIMAL(38,0)) * nc * ${nb}L) AS BIGINT)"""))
          .as("chi2_scaled"))
  }

  final case class AnomState(doneDays: Seq[Long], doneCnts: Seq[Long],
    openDays: Seq[Long], openCnts: Seq[Long])
  final case class AnomalyOut(event_type: String, day_epoch: Long,
    cnt: Long, n: Long, s: Long, ss: Long, is_anomaly: Long)

  /** **Streaming rolling-3σ anomaly flags** — the monitoring twin of
    * the batch `ts_anomaly` query: per event type, each COMPLETED day's
    * count is tested against the trailing ≤7 finalized days'
    * integer-exact 3σ rule ((n·x − s)²·(n−1) > 9·n·(n·ss − s²), BigInt
    * here ≡ the batch DECIMAL(38,0) tree), emitting exactly one append
    * row per (type, day). The [[transitionsStream]] frontier law
    * applied to calendar days: a day is immutable once the watermark
    * passes its END (any later-arriving event of that day would be
    * dropped first), so flags finalize in day order and late events
    * keep updating an OPEN day right up to its finalization. State per
    * type = trailing 7 finalized (day, count) pairs + the open-day
    * partial counts — O(7 + late-horizon days), never history; keys
    * are event types (a bounded vocabulary), so state is bounded
    * without any eviction cadence. `EventTimeTimeout` wakes a type
    * when the frontier passes its earliest open day, so quiet types
    * still drain. Days are epoch-day longs (the `retentionStream`
    * timezone-free discipline). */
  def anomalyStream(events: Dataset[Event]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    val dayUs = 86400L * 1000000L
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (tpe: String, batch: Iterator[Event], state: GroupState[AnomState]) => {
          val prior = state.getOption.getOrElse(AnomState(Nil, Nil, Nil, Nil))
          val open = scala.collection.mutable.SortedMap.empty[Long, Long]
          prior.openDays.zip(prior.openCnts).foreach { case (d, c) => open(d) = c }
          batch.foreach { e =>
            val d = Math.floorDiv(micros(e.ts), dayUs)
            open(d) = open.getOrElse(d, 0L) + 1L
          }
          var doneD = prior.doneDays
          var doneC = prior.doneCnts
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyOut]
          open.toSeq.takeWhile { case (d, _) => (d + 1) * dayUs <= wmUs }
            .foreach { case (d, cnt) =>
              val trail = doneC.takeRight(7)
              val n = trail.length.toLong
              val s = trail.sum
              val ss = trail.map(c => c * c).sum
              val flag = if (n >= 4 && {
                val lhs = (BigInt(n) * cnt - s).pow(2) * (n - 1)
                val rhs = BigInt(9) * n * (BigInt(n) * ss - BigInt(s).pow(2))
                lhs > rhs
              }) 1L else 0L
              out += AnomalyOut(tpe, d, cnt, n, s, ss, flag)
              doneD = (doneD :+ d).takeRight(7)
              doneC = (doneC :+ cnt).takeRight(7)
              open.remove(d)
            }
          // the finalized tail must survive quiet periods (future days
          // test against it), so the state never self-removes; it is
          // bounded by the type vocabulary
          state.update(AnomState(doneD, doneC,
            open.keys.toSeq, open.values.toSeq))
          if (open.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              Math.floorDiv((open.firstKey + 1) * dayUs, 1000L) + 1L,
              state.getCurrentWatermarkMs() + 1L))
          out.iterator
        })
  }

  final case class PatternOut(user_id: Long, end_event_id: Long,
    t1: Timestamp, t2: Timestamp, t3: Timestamp)

  /** **Streaming strict-sequence pattern matcher** — the exactly-once
    * twin of the batch [[graft.queries.Behavioral.patternMatch]]
    * (MATCH_RECOGNIZE `PATTERN (A B C)` over view → click → purchase,
    * with contiguity and a one-day span bound), completing the
    * behavioral family's batch↔stream pairing.
    * [[transitionsStream]]'s frontier law generalized from pairs to
    * windows of three: a candidate triple ending at event e is
    * immutable once the watermark passes e.ts — any event that could
    * still INSERT inside the triple (and break its contiguity) would
    * carry a smaller timestamp and be dropped before the operator — so
    * matches emit in append mode exactly once, late events can both
    * COMPLETE a pending match and DESTROY a would-be one right up to
    * finalization (spec pins both), and state keeps only the non-final
    * suffix plus TWO anchors (a pattern ending at the first pending
    * event reaches two events back). Span compares floor-second epochs,
    * matching the batch query's `cast(ts as long)` arithmetic. Keys are
    * never evicted. */
  def patternStream(events: Dataset[Event]): Dataset[PatternOut] = {
    import events.sparkSession.implicits._
    frontierWindows[PatternOut](events, 3, None) { (userId, win) =>
      val Seq(a, b, c) = win
      if (win.map(_._3) == Seq("view", "click", "purchase") &&
          Math.floorDiv(c._1, 1000000L) - Math.floorDiv(a._1, 1000000L) <= 86400L)
        Some(PatternOut(userId, c._2,
          tsOfMicros(a._1), tsOfMicros(b._1), tsOfMicros(c._1)))
      else None
    }
  }
}
