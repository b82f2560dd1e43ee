package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid sparse + dense retrieval — the production RAG serving shape:
  * a lexical ranking and a vector ranking over the same corpus, fused
  * per query with reciprocal-rank fusion (RRF, Cormack & Clarke 2009:
  * score = Σ_lists 1/(κ + rank)). Neither list's raw scores are
  * comparable across modalities; RRF fuses on RANKS alone, which is
  * also exactly what makes the whole operator hash-gatable — ranks are
  * integers, and the fusion arithmetic here is scaled trunc-div
  * integer (`10⁹ div (κ + rank)`), so the DuckDB oracle replays the
  * sparse scorer, the dense ranker, and the fusion bit-for-bit. */
object Retrieval {

  /** **RRF hybrid search**: for each query document, fuse
    *  - a SPARSE ranking — binary-TF lexical retrieval over an
    *    inverted token index: score(q,d) = Σ over shared distinct
    *    terms of the integer idf `(10⁶·(N − df + 1)) div (df + 1)`
    *    (the rational odds-ratio idf of [[graft.queries]]' BM25 minus
    *    its ln, trunc-scaled to an exact BIGINT — a sum of longs is
    *    order-free, so no float-accumulation hazard), and
    *  - a DENSE ranking — exact cosine over the paired embeddings
    *    ([[Similarity.bruteForceTopK]]; float, rank-only — the proven
    *    gate shape),
    * each cut to its top-20, then RRF-fused:
    * `rrf = Σ_present 10⁹ div (60 + rank)`, top-10 by (rrf desc, id).
    *
    * Scale shape: the sparse side is classic impact-ordered retrieval —
    * distinct-token postings join the (tiny, broadcast) query token
    * set on `term`, so the shuffle carries only matching postings and
    * the per-(q,d) aggregation is map-side combinable; `df` and `N`
    * are one corpus-wide groupBy and a 1-row broadcast. The dense side
    * is the standard broadcast-queries scan (swap in the IVF route
    * when the query batch outgrows broadcast). The fusion join is
    * queries×poolK rows per side — negligible at any SF. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
      isQuery: Column => Column): DataFrame = {
    val (k, poolK, kappa) = (10, 20, 60)
    val toks = docs
      .select(col("doc_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
    val stats = docs.select(col("doc_id")).agg(count(lit(1)).as("n"))
    val idf = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        expr("(1000000 * (n - df + 1)) div (df + 1)").as("idf"))
    val qToks = toks.filter(isQuery(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("term"))
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("s_score").desc, col("cand_id"))
    val sparse = toks
      .select(col("doc_id").as("cand_id"), col("term"))
      .join(idf, Seq("term"))
      .join(broadcast(qToks), Seq("term"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("idf")).as("s_score"))
      .withColumn("rank_s", row_number().over(wS))
      .filter(col("rank_s") <= poolK)
      .select(col("query_id"), col("cand_id"), col("rank_s"))
    val dense = Similarity
      .bruteForceTopK(embeddings.filter(isQuery(col("vec_id"))),
        embeddings, poolK)
      .select(col("query_id"), col("cand_id"), col("rank").as("rank_d"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("cand_id"))
    sparse.join(dense, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_score",
        (coalesce(expr(s"1000000000 div ($kappa + rank_s)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($kappa + rank_d)"), lit(0L)))
          .cast("long"))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rrf_score"), col("rank"))
  }
}
