package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-sequence preparation: split documents into overlapping token
  * chunks, and pack the corpus into fixed-length training sequences —
  * the last mile between a cleaned corpus and a dataloader.
  *
  * Both operators are deterministic integer arithmetic over token
  * positions, so they carry full DuckDB hash oracles like the rest of
  * the pipeline. */
object Chunking {

  /** Sliding-window chunking: one row per (doc, chunk), where chunk `i`
    * covers tokens [i·stride, i·stride + size) — `size − stride` tokens
    * of overlap between consecutive chunks, the standard long-document
    * treatment for fixed-context training. Chunk starts are every
    * stride-multiple below the doc's token count; trailing chunks clamp
    * to the document end.
    *
    * Shape: pure per-row explode (no shuffle at all until a consumer
    * aggregates) — chunking a 100 TB corpus is embarrassingly parallel. */
  def chunks(df: DataFrame, id: Column, text: Column,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"chunking needs 0 < stride <= size (got size=$size, stride=$stride)")
    df.select(id.as("doc_id"), split(text, " ").as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(expr(s"sequence(0, greatest(size(w) - 1, 0), $stride)"))
          .as(Seq("chunk_no", "start_tok")))
      .select(col("doc_id"),
        col("chunk_no").cast("long").as("chunk_no"),
        col("start_tok").cast("long").as("start_tok"),
        org.apache.spark.sql.functions.size(
          slice(col("w"), col("start_tok") + 1, lit(size)))
          .cast("long").as("n_chunk_tokens"),
        array_join(slice(col("w"), col("start_tok") + 1, lit(size)), " ")
          .as("text_chunk"))
  }

  /** Fixed-length **sequence packing** manifest: concatenate every
    * document's tokens in doc-id order and cut the stream every
    * `seqLen` tokens; report, per training sequence, its token count
    * (= seqLen except the tail), how many documents contribute, and the
    * first/last contributing doc — the metadata a dataloader needs to
    * assemble packed batches without padding waste.
    *
    * Shape: the per-doc token offset is a **two-phase distributed prefix
    * sum** (the round-5 verdict's named fix, built). Phase 1
    * range-partitions the per-doc metadata by doc_id — so partition
    * order IS id order — and runs the running-sum window WITHIN each
    * partition; phase 2 aggregates one total per partition and prefix-
    * sums those (a global window over partition-count rows — dozens, not
    * documents), broadcasting each partition's base offset back into an
    * equi-join. No stage touches more than one partition's rows in one
    * task except the partition-totals window, which is bounded by the
    * shuffle-partition count regardless of corpus size (spec-asserted:
    * every global WindowExec in the plan sits above an aggregate, never
    * above the doc scan). Docs then explode to the sequences they
    * straddle (≤ n_tokens/seqLen + 1 rows each) and one groupBy(seq)
    * aggregates.
    *
    * The range-partitioned metadata is persisted ([[Dedup.memoPersist]])
    * so both phases — and both sides of the base-offset join — see the
    * SAME physical partitioning and partition ids; without it, AQE could
    * re-coalesce the exchange differently between the two jobs and
    * mis-pair partition totals with rows. */
  def pack(df: DataFrame, id: Column, text: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"pack needs seqLen > 0 (got $seqLen)")
    packFromOffsets(docOffsets(df, id, text), seqLen)
  }

  /** Per-doc (doc_id, n, off) via the two-phase prefix sum described on
    * [[pack]] (the generic [[PrefixSum.runningSums]]) — shared by the
    * manifest and the shard writer. `off` is the EXCLUSIVE prefix:
    * inclusive cumulative minus the doc's own count. */
  private def docOffsets(df: DataFrame, id: Column, text: Column): DataFrame =
    PrefixSum.runningSums(
        df.select(id.as("doc_id"), size(split(text, " ")).cast("long").as("n")),
        order = Seq(col("doc_id")), values = Seq("n"))
      .select(col("doc_id"), col("n"), (col("n_cum") - col("n")).as("off"))

  /** The dataloader-facing half of packing: one row per training sequence
    * with its ACTUAL packed token text — each contributing doc's token
    * slice, concatenated in doc-id order — alongside the token count.
    * Same integer arithmetic as the [[pack]] manifest (a sequence's
    * pieces are exactly the manifest's contrib spans), so the two join
    * exactly on seq_id with matching n_tokens.
    *
    * Shape: the offsets join back to the token arrays by doc_id
    * (equi-join), each doc explodes to the ≤ n/seqLen + 1 sequences it
    * straddles carrying ONLY its slice of tokens (shuffle volume = the
    * token stream + seqLen-sized boundary duplication, not n × docs),
    * and one groupBy(seq_id) assembles pieces with a deterministic
    * in-group sort (array_sort over (doc_id, piece) structs — collect
    * order is execution-dependent, doc_id makes it total). */
  def packedSequences(df: DataFrame, id: Column, text: Column,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"packedSequences needs seqLen > 0 (got $seqLen)")
    val docs = df.select(id.as("doc_id"), split(text, " ").as("w"))
    docOffsets(df, id, text)
      .join(docs, Seq("doc_id"))
      .withColumn("seq_id",
        explode(expr(s"sequence(off div $seqLen, (off + n - 1) div $seqLen)")))
      .select(col("seq_id"), col("doc_id"),
        // this doc's token span [s, e) of sequence seq_id, global coords
        greatest(col("seq_id") * seqLen, col("off")).as("s"),
        least((col("seq_id") + 1) * seqLen, col("off") + col("n")).as("e"),
        col("off"), col("w"))
      .select(col("seq_id"), col("doc_id"), (col("e") - col("s")).as("contrib"),
        slice(col("w"), (col("s") - col("off") + 1).cast("int"),
          (col("e") - col("s")).cast("int")).as("piece"))
      .groupBy(col("seq_id"))
      .agg(sum(col("contrib")).as("n_tokens"),
        array_join(
          flatten(transform(
            array_sort(collect_list(struct(col("doc_id"), col("piece")))),
            x => x.getField("piece"))),
          " ").as("text_seq"))
  }

  /** Materialize the packed sequences as partitioned parquet — the
    * consumable training-shard artifact. Sequences are range-partitioned
    * and sorted by seq_id so each output file holds one contiguous
    * seq_id run (a dataloader can map file → global batch range), and
    * a 2²⁰-record cap per file bounds shard size regardless of executor
    * partition sizing. */
  def writePackedShards(df: DataFrame, id: Column, text: Column,
      seqLen: Int, path: String): Unit =
    packedSequences(df, id, text, seqLen)
      .repartitionByRange(col("seq_id"))
      .sortWithinPartitions(col("seq_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 1L << 20)
      .parquet(path)

  /** The replaced single-task formulation — ONE global running-sum window
    * over the per-doc metadata — kept as the reference implementation for
    * the equivalence spec. Identical output; serializes offset assignment
    * through a single task, which is exactly what [[pack]]'s two-phase
    * prefix sum removes. */
  private[graft] def packViaGlobalWindow(df: DataFrame, id: Column,
      text: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"pack needs seqLen > 0 (got $seqLen)")
    val w = Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    packFromOffsets(
      df.select(id.as("doc_id"), size(split(text, " ")).cast("long").as("n"))
        .withColumn("off", coalesce(sum(col("n")).over(w), lit(0L))),
      seqLen)
  }

  /** Shared tail of both packing paths: explode (doc_id, n, off) rows to
    * the sequences each doc straddles and aggregate the manifest. */
  private def packFromOffsets(offsets: DataFrame, seqLen: Int): DataFrame =
    offsets
      .withColumn("seq_id",
        explode(expr(s"sequence(off div $seqLen, (off + n - 1) div $seqLen)")))
      .select(col("doc_id"), col("seq_id"),
        (least((col("seq_id") + 1) * seqLen, col("off") + col("n")) -
          greatest(col("seq_id") * seqLen, col("off"))).as("contrib"))
      .groupBy(col("seq_id"))
      .agg(sum(col("contrib")).as("n_tokens"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
}
