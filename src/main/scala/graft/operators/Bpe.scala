package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding **merge-loop trainer** — the step a training-data
  * pipeline runs between pre-tokenization stats ([[TextOps.bpeishTokens]])
  * and packing real token ids. Classic BPE (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"): start
  * from characters, repeatedly count adjacent symbol pairs across the
  * corpus (weighted by word frequency) and merge the most frequent pair,
  * deterministically tie-broken by (count desc, pair asc).
  *
  * Scale shape: the corpus collapses ONCE to the distinct-word frequency
  * table (Heaps'-law small — the only full-corpus shuffle), which is then
  * COLLECTED and the whole merge loop runs driver-side over the in-memory
  * table with incremental pair-count maintenance (the Sennrich reference
  * implementation's own design; same bounded-collect discipline as the
  * IVF training sample, guarded by an explicit row cap). One Spark job
  * total, regardless of nMerges — a real 32k-merge vocabulary costs
  * O(nMerges × pairs) driver work over a table Heaps' law keeps in the
  * single-digit-millions, not nMerges² cluster jobs. The per-merge
  * distributed formulation it replaced (one pair-count job + one argmax
  * action per merge, lazily chained folds) survives as
  * [[runMergeLoopDistributed]], the executable reference BpeSpec pins
  * the driver loop against. */
object Bpe {

  /** Distinct-word cap for the driver-side merge loop's collect. Heaps'
    * law puts real web-corpus vocabularies in the low millions (English
    * CommonCrawl: ~10⁶–10⁷ distinct pre-tokens); 2²³ ≈ 8.4 M rows of
    * (count, short symbol array) is a few hundred MB of driver heap —
    * the same order the IVF training-sample collect allows. Corpora past
    * the cap fail loudly rather than silently OOMing the driver. */
  private val MaxVocabRows = 1 << 23

  /** Serializes [[runMergeLoopDistributed]]'s merge loops within the
    * JVM: two concurrent distributed trainings over the same words plan
    * would SHARE their plan-keyed stride caches (Spark's CacheManager
    * keys by logical plan), and the first finisher's unpersist would
    * evict the other's live checkpoint mid-loop. The production
    * driver-side loop ([[runMergeLoopLocal]]) touches no plan-keyed
    * state and does not take this lock. */
  private val trainLock = new Object

  /** Greedy left-to-right merge of adjacent (l, r) symbol runs, as a fold
    * over the space-joined symbol string: symbols never contain spaces
    * (they are concatenations of non-space characters), so "acc's last
    * token is exactly l" is `acc = l` or `acc ends with " " + l`, and
    * merging is just `acc || x` (the merged symbol IS l||r).
    *
    * The fold seeds an EMPTY-STRING accumulator (symbols are never empty,
    * so "" is unambiguous "nothing yet") rather than peeling the first
    * element with slice/element_at — that formulation referenced `syms`
    * three times, so [[encode]]'s 8-deep replay fold exploded to a
    * 3⁸-node expression tree (the same exponential trap the semantic-
    * dedup literal path hit); here the input appears exactly once and
    * nesting stays linear. Equivalent to DuckDB's init-less
    * `list_reduce` on every non-empty list, which is what keeps the
    * trainer and encoder oracle-checkable step for step. */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    split(
      aggregate(
        syms,
        lit(""),
        (acc, x) =>
          when(acc === lit(""), x)
            .when((acc === lit(l) || acc.endsWith(" " + l)) && x === lit(r),
              concat(acc, x))
            .otherwise(concat(acc, lit(" "), x))),
      " ")

  /** Run `nMerges` BPE merge iterations over `text`'s pre-tokenized words
    * and return the learned merge table: (step, lhs, rhs, pair_count),
    * one row per merge in training order. Stops early if the corpus runs
    * out of adjacent pairs. */
  def train(df: DataFrame, text: Column, nMerges: Int): DataFrame = {
    require(nMerges > 0, s"train needs nMerges > 0 (got $nMerges)")
    val spark = df.sparkSession
    // the one corpus-wide job: distinct pre-tokens with frequencies,
    // symbols initialized to characters
    val words = Dedup.memoPersist(
      df.select(explode(TextOps.bpeishTokens(text)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("cnt"),
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            .as("syms")))
    // the learned merge table is memoized per (session, words-plan,
    // nMerges): the trainer and every consumer that replays its merges
    // (token_bpe_encode re-derives them) share ONE run of the collect +
    // driver loop instead of re-collecting per construction. nMerges
    // enters the gate key as a marker column — memoGate keys on the
    // canonicalized plan alone.
    val merges = Dedup.memoGate(words.withColumn("__n_merges", lit(nMerges))) {
      runMergeLoopLocal(collectVocab(words), nMerges)
    }
    import spark.implicits._
    merges.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** Collect the persisted (cnt, syms) vocabulary for the driver loop,
    * failing loudly past [[MaxVocabRows]] — the count probe is one cheap
    * job over the already-persisted table. */
  private def collectVocab(words: DataFrame): Array[(Long, Array[String])] = {
    val n = words.count()
    require(n <= MaxVocabRows,
      s"BPE vocabulary has $n distinct pre-tokens, over the driver-side " +
        s"cap $MaxVocabRows — pre-filter the corpus or raise the cap " +
        "deliberately (driver heap scales with it)")
    words.select(col("cnt"), col("syms")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
  }

  /** The production merge loop: classic in-memory BPE training over the
    * collected word-frequency table with incremental pair-statistics
    * maintenance (Sennrich et al.'s own `replace_pair` discipline). Per
    * merge: one O(#pairs) argmax scan, then only the words that actually
    * contain the winning pair are rewritten — their old adjacent pairs
    * decremented, the greedy left-to-right merge applied, new pairs
    * incremented. The pair→words index is maintained additively (stale
    * entries are filtered by the rewrite's containment check), so total
    * work is O(nMerges × #pairs + Σ rewritten-word lengths): a 32k-merge
    * vocabulary trains in driver seconds-to-minutes with zero Spark jobs
    * inside the loop. Deterministic tie-break (count desc, lhs asc,
    * rhs asc) — identical to the distributed reference's TakeOrdered. */
  private[graft] def runMergeLoopLocal(vocab: Array[(Long, Array[String])],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val cnts = vocab.map(_._1)
    val syms = vocab.map(w => mutable.ArrayBuffer.from(w._2))
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def bump(p: (String, String), delta: Long): Unit = {
      val nc = pairCount.getOrElse(p, 0L) + delta
      if (nc == 0L) pairCount.remove(p) else pairCount(p) = nc
    }
    def indexPairs(wid: Int): Unit = {
      val w = syms(wid)
      var i = 0
      while (i < w.length - 1) {
        val p = (w(i), w(i + 1))
        bump(p, cnts(wid))
        pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wid
        i += 1
      }
    }
    syms.indices.foreach(indexPairs)

    // greedy left-to-right non-overlapping merge — the imperative twin of
    // applyMerge's fold (BpeSpec pins the equivalence property-wise)
    def rewrite(w: mutable.ArrayBuffer[String], l: String,
        r: String): mutable.ArrayBuffer[String] = {
      val out = new mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        if (i < w.length - 1 && w(i) == l && w(i + 1) == r) {
          out += l + r; i += 2
        } else { out += w(i); i += 1 }
      }
      out
    }

    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= nMerges && pairCount.nonEmpty) {
      var bestP: (String, String) = null
      var bestC = Long.MinValue
      pairCount.foreach { case (p, c) =>
        if (c > bestC || (c == bestC &&
            (p._1 < bestP._1 || (p._1 == bestP._1 && p._2 < bestP._2)))) {
          bestP = p; bestC = c
        }
      }
      val (l, r) = bestP
      merges += ((step, l, r, bestC))
      // the index may hold stale word ids (decrements never un-index);
      // the containment scan inside the rewrite pass filters them
      pairWords.remove(bestP).foreach(_.foreach { wid =>
        val w = syms(wid)
        var contains = false
        var i = 0
        while (!contains && i < w.length - 1) {
          contains = w(i) == l && w(i + 1) == r; i += 1
        }
        if (contains) {
          var j = 0
          while (j < w.length - 1) { bump((w(j), w(j + 1)), -cnts(wid)); j += 1 }
          syms(wid) = rewrite(w, l, r)
          indexPairs(wid)
        }
      })
      pairCount.remove(bestP) // fully consumed by the merge
      step += 1
    }
    merges.toSeq
  }

  /** The superseded per-merge distributed loop — one pair-count job and
    * one 1-row argmax action per merge over the persisted vocab, merges
    * applied as lazily chained folds with a persist every
    * [[MergePersistStride]] steps to cap replay. Kept as the executable
    * reference [[runMergeLoopLocal]] is spec-pinned against (BpeSpec
    * compares both loops merge for merge); not on the production path —
    * at a real vocabulary its nMerges² fold replays and 2·nMerges
    * cluster jobs are exactly what the driver-side loop removes. */
  private val MergePersistStride = 16

  private[graft] def runMergeLoopDistributed(words: DataFrame,
      nMerges: Int): Seq[(Int, String, String, Long)] = trainLock.synchronized {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var cur = words.select(col("cnt"), col("syms"))
    var live: Option[DataFrame] = None      // current checkpoint
    var retiring: Option[DataFrame] = None  // release after the next action
    var step = 1
    var exhausted = false
    try {
    while (step <= nMerges && !exhausted) {
      if (step % MergePersistStride == 0) {
        cur = cur.persist()
        retiring = live
        live = Some(cur)
      }
      // adjacent pairs weighted by word frequency; i is 0-based
      val best = cur
        .select(col("cnt"),
          explode(expr(
            """CASE WHEN size(syms) >= 2
              |  THEN transform(sequence(0, size(syms) - 2),
              |                 i -> struct(syms[i] AS l, syms[i + 1] AS r))
              |  ELSE array() END""".stripMargin)).as("p"))
        .groupBy(col("p.l"), col("p.r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      // this action materialized any fresh checkpoint — the superseded
      // one can go now
      retiring.foreach(_.unpersist())
      retiring = None
      best.headOption match {
        case Some(row) =>
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((step, l, r, c))
          cur = cur.select(col("cnt"), applyMerge(col("syms"), l, r).as("syms"))
          step += 1
        case None => exhausted = true
      }
    }
    } finally {
      // release BOTH handles even when a Spark job throws mid-loop:
      // these raw persists are in no registry, so nothing else
      // (releaseCaches included) could ever free them
      retiring.foreach(_.unpersist())
      live.foreach(_.unpersist())
    }
    merges.toSeq
  }

  /** Persist a learned merge table (the tokenizer MODEL artifact — what
    * a training pipeline ships from the train job to every encode job):
    * one small parquet of (step, lhs, rhs, pair_count) in training
    * order. Single file — the table is nMerges rows. */
  def saveMerges(merges: DataFrame, path: String): Unit =
    merges.orderBy("step").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** Load a [[saveMerges]] artifact back into the (lhs, rhs) replay
    * sequence [[encode]]/[[encodeDocs]] consume. Training order is the
    * model semantics — the `step` column, not file order, defines it. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy("step").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq

  /** Apply a learned merge table to arbitrary text: pre-tokenize, split
    * each word to characters, replay every merge in training order — the
    * encode half of the tokenizer as a pure per-row expression
    * (shuffle-free, streaming-safe). Right when the input is a stream or
    * the merge replay must stay inside one projection; for batch corpus
    * encoding prefer [[encodeDocs]], which replays merges once per
    * DISTINCT word instead of once per occurrence. */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(TextOps.bpeishTokens(text), w => mergeWord(w, merges)))

  /** One word → its merged symbol array: char split + the full merge
    * replay, as the native kernel ([[graft.functions.BpeEncodeWord]] —
    * O(len) per merge vs the HOF fold's interpreted O(len²) accumulator
    * rebuild). The single definition both encode paths share — a drifted
    * copy here would silently break their spec-asserted equivalence. */
  private def mergeWord(w: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeEncodeWord(w, merges)

  /** The pure-built-in replay (char split + chained [[applyMerge]]
    * folds) — kept as the executable reference BpeSpec property-tests
    * the kernel against, and as the form [[train]] itself uses (the
    * trainer's folds are lazy plan rewrites, not per-row hot loops). */
  private[graft] def mergeWordHof(w: Column, merges: Seq[(String, String)]): Column = {
    val chars = transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
    merges.foldLeft(chars) { case (acc, (l, r)) => applyMerge(acc, l, r) }
  }

  /** Batch corpus encoding via the vocabulary: replay the merges over
    * each DISTINCT word (Heaps'-law small — the same table [[train]]
    * iterates on), then join occurrences back and reassemble each doc's
    * symbol stream in token order. Identical output to the per-row
    * [[encode]] (BpeSpec asserts it), ~10× cheaper on a real corpus
    * because the 8-fold merge replay runs |vocab| times, not |tokens|
    * times — the standard encode cache, expressed as an equi-join.
    * Returns (doc_id, syms); docs with zero pre-tokens get an empty
    * array. */
  def encodeDocs(df: DataFrame, id: Column, text: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = df.select(id.as("doc_id"),
      posexplode(TextOps.bpeishTokens(text)).as(Seq("i", "tok")))
    val encVocab = toks.select(col("tok")).distinct()
      .withColumn("wsyms", mergeWord(col("tok"), merges))
    val assembled = toks.join(encVocab, "tok")
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("i"), col("wsyms")))),
        s => s.getField("wsyms"))).as("syms"))
    df.select(id.as("doc_id")).join(assembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("syms"), array().cast("array<string>")).as("syms"))
  }
}
