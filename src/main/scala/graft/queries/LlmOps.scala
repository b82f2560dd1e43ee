package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Multimodal, Retrieval, Similarity, TextOps}
import graft.functions.VectorOps

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * (the north-star extensions): dedup (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine), similarity search (brute-force and
  * LSH-bucketed ANN), and text analysis (language ID, quality scores,
  * token stats, fingerprints).
  *
  * Oracle-parity notes: hash-based ops (MinHash/SimHash/winnowing) use
  * Spark's xxhash64, which DuckDB lacks — their *signatures* get rows-only
  * checks, but the MinHash **result** (verified near-dup pairs) is checked
  * against the exact Jaccard SQL: with k=64/16-band signatures the
  * detection probability at the 0.8 threshold is ≥0.9998 and the corpus'
  * near-dup pairs cluster at j≈0.97 where detection is ≈certain, so
  * LSH + exact verification equals the exact all-pairs result. Float
  * similarity values are never emitted (ranks/ids only) because DuckDB's
  * float kernels differ in rounding. */
object LlmOps {

  // ------------------------------------------------------------- dedup

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), col("doc_id"), col("text"))
      .orderBy("keep_id")

  private val dedupExactSql =
    """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY sha256(text)
      |ORDER BY keep_id""".stripMargin

  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    // size-gated dispatcher: naive self-join while Σdf² is benign (this
    // corpus), PPJoin once common shingles would blow the join up
    Dedup.ngramJaccardAuto(Tables.documents(spark, dir),
        col("doc_id"), col("text"), n = 3, threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  /** Prefix-filtered (PPJoin) exact n-gram Jaccard — identical output to
    * [[dedupNgram]] (same oracle), but candidate generation indexes only
    * each doc's `|X| − ⌈t·|X|⌉ + 1` rarest shingles, which is the scale
    * form once Σ df² explodes. */
  def dedupNgramPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPrefix(Tables.documents(spark, dir),
        col("doc_id"), col("text"), n = 3, threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  private def jaccardOracle(threshold: String, extraWhere: String = "") =
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b, inter, za.n AS na, zb.n AS nb,
       |  CAST(inter AS DOUBLE) / CAST(za.n + zb.n - inter AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes za ON za.doc_id = doc_a
       |           JOIN sizes zb ON zb.doc_id = doc_b
       |WHERE CAST(inter AS DOUBLE) / CAST(za.n + zb.n - inter AS DOUBLE) >= $threshold$extraWhere
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Substring-span dedup: every maximal cross-doc run of ≥10 shared
    * consecutive tokens, as (pair, start offsets, token length) — the
    * span-level modality ([[Dedup.substringSpans]]); on this corpus the
    * planted near-dup cluster surfaces as long shared spans while the
    * word-soup background produces none. Pure integer arithmetic end to
    * end, so the DuckDB positional SQL is a full hash oracle. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(Tables.documents(spark, dir),
        col("doc_id"), col("text"), n = 3, minTokens = 10)
      .orderBy("doc_a", "doc_b", "start_a", "start_b")

  // same gaps-and-islands shape: positional trigrams (0-based pos), match
  // on equal shingle + same alignment (diag), islands via pos − row_number,
  // runs of ≥ 8 trigram matches = spans of ≥ 10 tokens
  private val dedupSubstringSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, i AS pos, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
      |       FROM words, UNNEST(range(0, len(w) - 2)) AS t(i)),
      |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |             a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id),
      |isl AS (SELECT doc_a, doc_b, diag, pos_a, pos_b,
      |          pos_a - row_number() OVER (
      |            PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS g
      |        FROM m)
      |SELECT doc_a, doc_b, CAST(MIN(pos_a) AS BIGINT) AS start_a,
      |  CAST(MIN(pos_b) AS BIGINT) AS start_b,
      |  CAST(COUNT(*) + 2 AS BIGINT) AS len_tokens
      |FROM isl
      |GROUP BY doc_a, doc_b, diag, g
      |HAVING COUNT(*) >= 8
      |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin

  /** Span removal over the same spans: each document re-emitted with its
    * duplicated ≥10-token spans cut out (higher-id copy dropped,
    * keep-min-id) — [[Dedup.substringScrub]]. The rewritten text itself
    * is emitted and hash-checked. */
  def dedupSubstringScrub(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringScrub(Tables.documents(spark, dir),
        col("doc_id"), col("text"), n = 3, minTokens = 10)
      .orderBy("doc_id")

  private val dedupSubstringScrubSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, i AS pos, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
      |       FROM words, UNNEST(range(0, len(w) - 2)) AS t(i)),
      |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |             a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id),
      |isl AS (SELECT doc_a, doc_b, diag, pos_a, pos_b,
      |          pos_a - row_number() OVER (
      |            PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS g
      |        FROM m),
      |spans AS (SELECT doc_b, MIN(pos_b) AS start_b, COUNT(*) + 2 AS len
      |          FROM isl GROUP BY doc_a, doc_b, diag, g
      |          HAVING COUNT(*) >= 8),
      |rem AS (SELECT DISTINCT doc_b AS doc_id, start_b + u.k AS pos
      |        FROM spans, UNNEST(range(0, len)) AS u(k)),
      |toks AS (SELECT doc_id, i AS pos, w[i+1] AS tok
      |         FROM words, UNNEST(range(0, len(w))) AS t(i)),
      |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
      |         WHERE NOT EXISTS (SELECT 1 FROM rem r
      |                           WHERE r.doc_id = t.doc_id AND r.pos = t.pos))
      |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(k.pos) AS BIGINT) AS n_tokens_kept,
      |  COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text_clean
      |FROM words w LEFT JOIN kept k ON k.doc_id = w.doc_id
      |GROUP BY w.doc_id, len(w.w)
      |ORDER BY w.doc_id""".stripMargin

  /** Verified MinHash near-dup pairs at j≥0.8 — the stage shared by
    * `dedup_minhash`, `dedup_clusters` and `llm_clean_corpus`. Memoized
    * and persisted per (session, dir) so composed pipelines pay the
    * shingle→signature→LSH→verify cost once instead of recomputing the
    * identical sub-pipeline per query; the cluster-scale analogue is
    * checkpointing this stage to object storage. */
  private val pairsMemo =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]

  private def verifiedMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    pairsMemo.synchronized {
      // synchronized (not TrieMap.getOrElseUpdate) so a concurrent first
      // call cannot build-and-persist the stage twice, leaking one copy
      pairsMemo.getOrElseUpdate((spark, dir), {
        // Staged build with explicit lifecycle: ONE shuffle computes the
        // per-doc stage (MinHash signature + sorted hash set); banding and
        // verification read it from cache for the one eager
        // materialization, then it is released — the memo holds the (much
        // smaller) verified pairs, nothing else.
        val docs = Tables.documents(spark, dir)
        val stage = Dedup.docSignatures(docs, col("doc_id"), col("text"), 3, 64).persist()
        val pairs = Dedup.verifiedPairs(stage, 64, 16, 0.8).persist()
        pairs.count() // materialize through the stage while it is cached
        stage.unpersist()
        pairs
      })
    }

  /** Release the memoized pair stages (harness teardown / between timed
    * bench runs). The cluster-scale analogue of dropping a checkpointed
    * intermediate from object storage. */
  def clearPairCache(): Unit = pairsMemo.synchronized {
    pairsMemo.values.foreach(_.unpersist())
    pairsMemo.clear()
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    verifiedMinhashPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** **Split-leakage detection** — the eval-contamination check every
    * training pipeline must run before trusting held-out metrics: a
    * near-duplicate pair with one side in train and the other in
    * val/test leaks the answer into training, and random document-level
    * splitting GUARANTEES such pairs exist (a pair crosses the
    * 0.8/0.1/0.1 boundary w.p. 1 − Σfᵢ² = 0.34). Composes the verified
    * MinHash pair stage (shared via the plan-keyed memo — constructing
    * this alongside `dedup_minhash` reuses one computation) with the
    * deterministic md5 split assignment; emits only crossing pairs.
    * Oracle: the exact all-pairs Jaccard SQL with the same threshold
    * CASE (generated from `splitThresholds`, the corpus_split
    * anti-drift discipline) — exact by the `dedup_minhash` LSH≈exact
    * argument. The fix for a leaked pair is group-aware splitting
    * (split by `dedup_canonical`'s cluster representative instead of
    * raw doc_id), which this report makes measurable. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val assign = Tables.documents(spark, dir).select(col("doc_id"),
      graft.operators.Sampling.splitColumn(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    verifiedMinhashPairs(spark, dir)
      .join(assign.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), "doc_a")
      .join(assign.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
        col("nb"), col("jaccard"), col("split_a"), col("split_b"))
      .orderBy("doc_a", "doc_b")
  }

  private val splitLeakageSql = {
    val Seq(t1, t2, t3) =
      graft.operators.Sampling.splitThresholds(Seq(0.8, 0.1, 0.1))
    def splitOf(c: String): String =
      s"CASE WHEN md5('graft' || CAST($c AS VARCHAR)) < '$t1' THEN 'train' " +
        s"WHEN md5('graft' || CAST($c AS VARCHAR)) < '$t2' THEN 'val' " +
        s"WHEN md5('graft' || CAST($c AS VARCHAR)) < '$t3' THEN 'test' " +
        "ELSE 'rest' END"
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |pairs AS (SELECT doc_a, doc_b, inter, za.n AS na, zb.n AS nb,
       |    CAST(inter AS DOUBLE) / CAST(za.n + zb.n - inter AS DOUBLE) AS jaccard,
       |    ${splitOf("doc_a")} AS split_a, ${splitOf("doc_b")} AS split_b
       |  FROM inter JOIN sizes za ON za.doc_id = doc_a
       |             JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(za.n + zb.n - inter AS DOUBLE) >= 0.8)
       |SELECT doc_a, doc_b, inter, na, nb, jaccard, split_a, split_b
       |FROM pairs WHERE split_a <> split_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Incremental dedup: docs with id % 10 == 0 play the newly-ingested
    * delta; the rest are pre-indexed into a bucketed signature table
    * (built at construction — the cross-run persistence story), and the
    * query reports every near-dup pair involving a delta doc without
    * re-shingling the indexed corpus ([[Dedup.incrementalDedup]]). Oracle
    * = the exact all-pairs Jaccard SQL restricted to delta-involving
    * pairs, by the same LSH≈exact argument as `dedup_minhash`. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.writeSignatureIndex(docs.filter(col("doc_id") % 10 =!= 0),
      col("doc_id"), col("text"), table = "graft_sig_index")
    Dedup.incrementalDedup(spark, "graft_sig_index",
        docs.filter(col("doc_id") % 10 === 0), col("doc_id"), col("text"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs, HASH-CHECKED: the per-token 60-bit md5
    * hash ([[graft.operators.Kmv]] idiom) makes the signature — and
    * therefore the banded candidate set and every Hamming distance —
    * the same exact integers in DuckDB, so the oracle replays the full
    * pipeline (votes → signature → 4×15-bit bands → pair distances)
    * bit-for-bit instead of leaving this rows-only. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
        Dedup.simhashSignatures(Tables.documents(spark, dir),
          col("doc_id"), col("text"), md5Keyed = true),
        maxDist = 3, sigBits = Some(60))
      .orderBy("doc_a", "doc_b")

  private val dedupSimhashSql: String = {
    val sigBits = (0 until 60).map { b =>
      s"CASE WHEN SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n      + ")
    val bandRows = (0 until 4).map(bd =>
      s"SELECT doc_id, sig, $bd AS band, (sig >> ${bd * 15}) & 32767 AS bv FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5('graftsim' || t), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |      $sigBits AS sig
       |  FROM tok GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming
       |FROM cand WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(Tables.embeddings(spark, dir),
        col("vec_id"), col("embedding"), threshold = 0.4)
      .orderBy("id_a", "id_b")

  private val dedupEmbeddingSql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  /** Semantic dedup (SemDedup shape): seeded-medoid cells over the
    * embedding space, within-cell cosine drop keeping each group's min
    * id ([[Dedup.semanticDedup]]). Fully oracle-checked: the medoid
    * seeding (md5 rank), the argmax assignment, and the drop rule are
    * deterministic functions of the data both engines compute bitwise
    * identically. */
  def semanticDedupQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(Tables.embeddings(spark, dir),
        col("vec_id"), col("embedding"), threshold = 0.4, nCells = 8)
      .orderBy("vec_id")

  private val semanticDedupSql =
    """WITH seeds AS (
      |  SELECT vec_id AS seed_id, embedding AS sv
      |  FROM embeddings
      |  ORDER BY md5('graft-seed' || CAST(vec_id AS VARCHAR)), vec_id
      |  LIMIT 8),
      |assign AS (
      |  SELECT e.vec_id, s.seed_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                      CAST(s.sv AS DOUBLE[])) DESC,
      |               s.seed_id) AS rn
      |  FROM embeddings e, seeds s),
      |cells AS (SELECT vec_id, seed_id AS cell FROM assign WHERE rn = 1),
      |dups AS (SELECT DISTINCT b.vec_id
      |         FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |         JOIN embeddings ea ON ea.vec_id = a.vec_id
      |         JOIN embeddings eb ON eb.vec_id = b.vec_id
      |         WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
      |                                      CAST(eb.embedding AS DOUBLE[])) >= 0.4)
      |SELECT c.vec_id, c.cell,
      |  (c.vec_id IN (SELECT vec_id FROM dups)) AS is_dup
      |FROM cells c
      |ORDER BY c.vec_id""".stripMargin

  /** Near-dup clusters: connected components over the verified
    * MinHash-LSH pairs at j≥0.8 (equal to the exact pair set — see
    * [[dedupMinhash]]), each doc labeled with its component's min id. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    // size-gated: the verified pair set is tiny next to the corpus, so the
    // labels come from a driver union-find below the gate (one bounded
    // head job instead of O(diameter) join rounds); distributed above it
    graft.operators.Dedup.connectedComponentsAuto(verifiedMinhashPairs(spark, dir))
      .orderBy("doc_id")

  /** The exact near-dup clustering CTE chain (shingle → Jaccard pairs →
    * transitive reach), shared by the `dedup_clusters` and
    * `dedup_canonical` oracles so the two can never drift. */
  private val minhashClusterCtes =
    """words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |p AS (SELECT i.doc_id AS doc_a, i.bdoc AS doc_b
      |      FROM (SELECT a.doc_id, b.doc_id AS bdoc, COUNT(*) AS inter
      |            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |            GROUP BY a.doc_id, b.doc_id) i
      |      JOIN sizes za ON za.doc_id = i.doc_id
      |      JOIN sizes zb ON zb.doc_id = i.bdoc
      |      WHERE CAST(i.inter AS DOUBLE) / CAST(za.n + zb.n - i.inter AS DOUBLE) >= 0.8),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
      |          UNION ALL SELECT doc_b, doc_a FROM p),
      |reach AS (SELECT DISTINCT u AS doc_id, u AS r FROM edges
      |          UNION
      |          SELECT e.u AS doc_id, reach.r FROM edges e JOIN reach ON reach.doc_id = e.v),
      |clusters AS (SELECT doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY doc_id)"""
      .stripMargin

  private val dedupClustersSql =
    s"""WITH RECURSIVE
       |$minhashClusterCtes
       |SELECT doc_id, cluster_rep FROM clusters
       |ORDER BY doc_id""".stripMargin

  /** **Cluster canonicalization** — the keep-decision that follows
    * near-dup clustering: within each cluster keep the member with the
    * most tokens (the fullest copy of the duplicated content), ties →
    * lowest doc_id. Output labels every clustered doc with its cluster,
    * token count, the cluster's canonical member, and whether it is that
    * member — the projection a cleaning pipeline joins back to drop
    * non-canonical rows.
    *
    * Scale shape: the clusters frame is tiny next to the corpus (only
    * docs with ≥1 verified near-dup pair appear), so the token-count
    * attach is an equi-join the planner broadcasts; the per-cluster
    * argmax is `min(struct(-n_tok, doc_id))` — a NARROW two-long struct
    * with map-side partial aggregation (the [[graft.operators.Dedup
    * .semanticDedup]] argmax pattern; min_by's ties are undefined, the
    * struct ordering makes the tie-break total) — and the canonical id
    * joins back on the cluster key. All equi-joins/aggregates, nothing
    * all-pairs. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val clusters = graft.operators.Dedup
      .connectedComponentsAuto(verifiedMinhashPairs(spark, dir))
    val nTok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
    val m = clusters.join(nTok, "doc_id")
    val best = m.groupBy(col("cluster_rep"))
      .agg(min(struct((-col("n_tok")).as("neg"), col("doc_id").as("d")))
        .getField("d").as("canonical_id"))
    m.join(best, Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"), col("n_tok"),
        col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  private val dedupCanonicalSql =
    s"""WITH RECURSIVE
       |$minhashClusterCtes,
       |nt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |       FROM documents),
       |m AS (SELECT c.doc_id, c.cluster_rep, nt.n_tok
       |      FROM clusters c JOIN nt USING (doc_id)),
       |best AS (SELECT cluster_rep, doc_id AS canonical_id,
       |           ROW_NUMBER() OVER (PARTITION BY cluster_rep
       |                              ORDER BY n_tok DESC, doc_id) AS rn
       |         FROM m)
       |SELECT m.doc_id, m.cluster_rep, m.n_tok, b.canonical_id,
       |  (m.doc_id = b.canonical_id) AS is_canonical
       |FROM m JOIN (SELECT cluster_rep, canonical_id FROM best WHERE rn = 1) b
       |  USING (cluster_rep)
       |ORDER BY m.doc_id""".stripMargin

  /** End-to-end corpus cleaning — the composed LLM-pipeline: language
    * filter → length filter → exact dedup (min-id canonical) → near-dup
    * clustering (keep each cluster's representative). The survivors are
    * what a training run would consume. */
  def llmCleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nTok = size(TextOps.tokens(col("text")))
    val filtered = docs
      .filter(col("lang").isin("en", "de", "fr"))
      .filter(nTok >= 30)
    // exact dedup: keep the min doc_id per content hash
    val canonical = filtered
      .withColumn("__h", sha2(col("text"), 256))
      .withColumn("__keep", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .filter(col("doc_id") === col("__keep"))
    // near-dup: drop every doc that is not its cluster's representative
    // (pair stage shared with dedup_minhash / dedup_clusters via the memo)
    val losers = graft.operators.Dedup.connectedComponentsAuto(
      verifiedMinhashPairs(spark, dir))
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))
    canonical
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), nTok.as("n_tokens"))
      .orderBy("doc_id")
  }

  private val llmCleanCorpusSql =
    s"""WITH RECURSIVE
       |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |p AS (SELECT i.doc_id AS doc_a, i.bdoc AS doc_b
       |      FROM (SELECT a.doc_id, b.doc_id AS bdoc, COUNT(*) AS inter
       |            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |            GROUP BY a.doc_id, b.doc_id) i
       |      JOIN sizes za ON za.doc_id = i.doc_id
       |      JOIN sizes zb ON zb.doc_id = i.bdoc
       |      WHERE CAST(i.inter AS DOUBLE) / CAST(za.n + zb.n - i.inter AS DOUBLE) >= 0.8),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION ALL SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT DISTINCT u AS doc_id, u AS r FROM edges
       |          UNION
       |          SELECT e.u AS doc_id, reach.r FROM edges e JOIN reach ON reach.doc_id = e.v),
       |losers AS (SELECT doc_id FROM (SELECT doc_id, MIN(r) AS rep FROM reach GROUP BY doc_id)
       |           WHERE doc_id <> rep),
       |filtered AS (SELECT doc_id, lang, source, text,
       |               len(string_split(text, ' ')) AS n_tokens
       |             FROM documents
       |             WHERE lang IN ('en', 'de', 'fr')
       |               AND len(string_split(text, ' ')) >= 30),
       |canonical AS (SELECT * FROM filtered f
       |              WHERE doc_id = (SELECT MIN(doc_id) FROM filtered f2
       |                              WHERE sha256(f2.text) = sha256(f.text)))
       |SELECT doc_id, lang, source, n_tokens
       |FROM canonical
       |WHERE NOT EXISTS (SELECT 1 FROM losers WHERE losers.doc_id = canonical.doc_id)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- similarity

  def vectorTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  private val vectorTopkSql =
    """SELECT query_id, cand_id, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    row_number() OVER (
      |      PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])) DESC,
      |               c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 20)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** LSH-bucketed ANN — approximate by design, so rows-only; recall vs
    * the brute-force ground truth holds spec'd floors (multi-probe LSH
    * ≥ 0.5, IVF ≥ 0.7, PQ ≥ 0.9·IVF — DedupSimilaritySpec's recall
    * tests). */
  /** **MMR diversity selection** ([[Similarity.mmrSelect]]): a
    * 50-item diverse coreset from the embeddings table, relevance =
    * the paired document's length (vec_id aligns with doc_id in the
    * corpus) — plain top-50-by-length would hand back near-duplicate
    * long docs; MMR trades λ=0.7 relevance against max-cosine to the
    * already-picked set. Rows-only by contract (cosine floats rank the
    * greedy argmax); SimilaritySpec pins the greedy law, determinism
    * across partitionings, and the diversity win over the relevance
    * baseline. */
  def mmrSelectQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val rel = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("n_chars"))
    Similarity.mmrSelect(e.join(rel, "vec_id"),
        id = col("vec_id"), vec = col("embedding"),
        relevance = col("n_chars"), k = 50, poolSize = 200)
      .withColumnRenamed("id", "vec_id")
      .orderBy("rank")
  }

  /** **Fixed-point MMR, HASH-CHECKED** ([[Similarity.mmrSelectFp]]):
    * the same 50-from-200 diverse coreset as [[mmrSelectQ]], but with
    * quantized-normalized integer similarities, a ⌊·10¹²⌋ integer
    * relevance scale, and 7/3 integer weights — the greedy argmax
    * becomes exact arithmetic, and the oracle unrolls all 50 selection
    * steps as chained MATERIALIZED CTEs (the `corpus_clusters_fp`
    * pattern). The float [[mmrSelectQ]] stays registered as the
    * production form; this twin puts the greedy MMR LAW itself —
    * marginal score, running max-sim, tie order — under the driver's
    * hash gate. */
  def mmrSelectFpQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val rel = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("n_chars"))
    Similarity.mmrSelectFp(e.join(rel, "vec_id"),
        id = col("vec_id"), vec = col("embedding"),
        relevance = col("n_chars"), k = 50, poolSize = 200)
      .withColumnRenamed("id", "vec_id")
      .orderBy("rank")
  }

  private lazy val mmrSelectFpSql: String = {
    val (k, pool) = (50, 200)
    // left-associative 64-term self-dot chain — mirrors the engine's
    // sequential double accumulation exactly (the FloatVecDot idiom)
    val selfDot = (1 to 64).map(j =>
      s"CAST(v[$j] AS DOUBLE) * CAST(v[$j] AS DOUBLE)").mkString(" + ")
    val steps = (2 to k).map { t =>
      s"""sel$t AS MATERIALIZED (
         |  SELECT id FROM (
         |    SELECT r.id, r.relsc,
         |      GREATEST(COALESCE(MAX(p.dt), 0), 0) AS ms
         |    FROM rel2 r
         |    LEFT JOIN pairs p ON p.ida = r.id
         |      AND p.idb IN (SELECT id FROM selall${t - 1})
         |    WHERE r.id NOT IN (SELECT id FROM selall${t - 1})
         |    GROUP BY r.id, r.relsc)
         |  ORDER BY 7 * relsc - 3 * ms DESC, id LIMIT 1),
         |selall$t AS MATERIALIZED (
         |  SELECT id FROM selall${t - 1} UNION ALL SELECT id FROM sel$t)""".stripMargin
    }.mkString(",\n")
    val ranks = (1 to k).map(t =>
      s"SELECT CAST($t AS BIGINT) AS rank, id AS vec_id FROM sel$t")
      .mkString("\nUNION ALL\n")
    s"""WITH pool AS MATERIALIZED (
       |  SELECT id, rel, v FROM (
       |    SELECT e.vec_id AS id, d.n_chars AS rel, e.embedding AS v,
       |      row_number() OVER (ORDER BY d.n_chars DESC, e.vec_id) AS rn
       |    FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id)
       |  WHERE rn <= $pool),
       |pooln AS MATERIALIZED (
       |  SELECT id, rel, v, sqrt($selfDot) AS n FROM pool),
       |rel2 AS MATERIALIZED (
       |  SELECT id,
       |    list_transform(v, x -> CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(FLOOR(CAST(x AS DOUBLE) / n * 1000000.0) AS BIGINT) END) AS q,
       |    CASE WHEN mx = mn THEN CAST(1000000000000 AS BIGINT)
       |      ELSE (rel - mn) * CAST(1000000000000 AS BIGINT) // (mx - mn) END AS relsc
       |  FROM pooln, (SELECT MIN(rel) AS mn, MAX(rel) AS mx FROM pooln)),
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS ida, b.id AS idb,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> a.q[i] * b.q[i])) AS BIGINT) AS dt
       |  FROM rel2 a JOIN rel2 b ON a.id <> b.id),
       |sel1 AS MATERIALIZED (
       |  SELECT id FROM rel2 ORDER BY 7 * relsc DESC, id LIMIT 1),
       |selall1 AS MATERIALIZED (SELECT id FROM sel1),
       |$steps
       |SELECT rank, vec_id FROM (
       |$ranks)
       |ORDER BY rank""".stripMargin
  }

  /** LSH multi-probe ANN, HASH-CHECKED: the hyperplanes are seeded
    * constants (data, not algorithm), so the oracle embeds the same 6×64
    * floats as DOUBLE literals and replays the ENTIRE pipeline — sign
    * buckets, margin-ranked subset perturbation (24 probes), bucket
    * equi-join, exact cosine re-rank — in DuckDB. Float-exactness holds
    * because [[graft.functions.FloatVecDot]] accumulates left-to-right
    * in double, which the oracle mirrors as a left-associative 64-term
    * sum; every compared double is then bit-identical. */
  def vectorAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.annTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** The native LSH ANN reached through its **SQL surface** — the
    * `graft_ann` table-valued function ([[graft.GraftExtensions]]), so a
    * SQL-only user gets the same multi-probe pipeline; identical
    * semantics and ORACLE to [[vectorAnn]] (the full LSH replay), the
    * `asof_join_sql` / `segment_overlap_sql` precedent applied to the
    * ANN family. The whole query is one SQL string over two temp
    * views. */
  def vectorAnnSqlQ(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, dir)
    e.filter(col("vec_id") < 20).createOrReplaceTempView("graft_ann_probes")
    e.createOrReplaceTempView("graft_ann_corpus")
    spark.sql(
      """SELECT query_id, cand_id, rank
        |FROM graft_ann('graft_ann_probes', 'graft_ann_corpus', 5)
        |ORDER BY query_id, rank""".stripMargin)
  }

  /** **ANN recall adjudicator**: per query, the integer overlap@5
    * between the LSH result and the exact brute-force top-5 — recall
    * becomes a DRIVER-GATED integer per query instead of a spec-only
    * floor. Queries whose ANN list misses every exact neighbor still
    * report 0 (right join against the query set). */
  def vectorAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
    val ann = Similarity.annTopK(q, e, k = 5).select("query_id", "cand_id")
    val exact = Similarity.bruteForceTopK(q, e, k = 5)
      .select("query_id", "cand_id")
    exact.join(ann, Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      .join(q.select(col("vec_id").as("query_id")), Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .orderBy("query_id")
  }

  /** Shared CTE prefix replaying [[Similarity.annTopK]] (nPlanes=6,
    * probes=24, k=5, dim=64) in DuckDB: `annk` = the ANN top-5 pairs,
    * `qry`/`cand` expose norms for the exact twin. Left-associative
    * explicit dot chains mirror FloatVecDot's summation order exactly. */
  private lazy val annReplayCtes: String = {
    val planes = Similarity.hyperplanes(6, 64)
    // elem -> SQL for Σ elem[j]·plane[j], left-assoc (DuckDB lists are 1-based)
    def projChain(arr: String, p: Array[Float]): String =
      (0 until 64).map(j =>
        s"CAST($arr[${j + 1}] AS DOUBLE) * ${p(j).toDouble}").mkString(" + ")
    def selfDot(arr: String): String =
      (1 to 64).map(j =>
        s"CAST($arr[$j] AS DOUBLE) * CAST($arr[$j] AS DOUBLE)").mkString(" + ")
    def pairDot(a: String, b: String): String =
      (1 to 64).map(j =>
        s"CAST($a[$j] AS DOUBLE) * CAST($b[$j] AS DOUBLE)").mkString(" + ")
    def bucketExpr(prefix: String): String =
      (0 until 6).map(i =>
        s"(CASE WHEN $prefix$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    // probe k flips the ranked planes named by k's set bits
    def maskExpr(k: Int): String =
      (0 until 6).filter(j => ((k >> j) & 1) == 1)
        .map(j => s"(CAST(1 AS BIGINT) << r.ranked[${j + 1}])").mkString(" + ")
    val candProjs = (0 until 6)
      .map(i => s"    ${projChain("embedding", planes(i).toArray)} AS p$i")
      .mkString(",\n")
    val qryProjs = (0 until 6)
      .map(i => s"    ${projChain("embedding", planes(i).toArray)} AS m$i")
      .mkString(",\n")
    val probeSelects = (1 to 24).map(k =>
      s"  SELECT q.query_id, xor(q.bucket0, ${maskExpr(k)}) AS bucket\n" +
        "  FROM qry q JOIN rk r ON r.query_id = q.query_id")
      .mkString("\n  UNION ALL\n")
    s"""candp AS MATERIALIZED (
       |  SELECT vec_id AS cand_id, embedding AS cv,
       |    sqrt(${selfDot("embedding")}) AS cn,
       |$candProjs
       |  FROM embeddings),
       |cand AS MATERIALIZED (
       |  SELECT cand_id, cv, cn, ${bucketExpr("p")} AS bucket FROM candp),
       |qryp AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS qv,
       |    sqrt(${selfDot("embedding")}) AS qn,
       |$qryProjs
       |  FROM embeddings WHERE vec_id < 20),
       |qry AS MATERIALIZED (
       |  SELECT query_id, qv, qn, m0, m1, m2, m3, m4, m5,
       |    ${bucketExpr("m")} AS bucket0
       |  FROM qryp),
       |rk AS MATERIALIZED (
       |  SELECT query_id, list(i ORDER BY am, i) AS ranked
       |  FROM (SELECT query_id, t.i,
       |          CASE t.i WHEN 0 THEN abs(m0) WHEN 1 THEN abs(m1)
       |               WHEN 2 THEN abs(m2) WHEN 3 THEN abs(m3)
       |               WHEN 4 THEN abs(m4) ELSE abs(m5) END AS am
       |        FROM qry, UNNEST([0, 1, 2, 3, 4, 5]) AS t(i))
       |  GROUP BY query_id),
       |pb AS MATERIALIZED (
       |  SELECT query_id, bucket0 AS bucket FROM qry
       |  UNION ALL
       |$probeSelects),
       |cd AS MATERIALIZED (
       |  SELECT DISTINCT p.query_id, c.cand_id
       |  FROM pb p JOIN cand c ON c.bucket = p.bucket
       |  WHERE p.query_id <> c.cand_id),
       |scored AS MATERIALIZED (
       |  SELECT d.query_id, d.cand_id,
       |    (${pairDot("q.qv", "c.cv")}) / (q.qn * c.cn) AS cos
       |  FROM cd d JOIN qry q ON q.query_id = d.query_id
       |            JOIN cand c ON c.cand_id = d.cand_id),
       |annk AS MATERIALIZED (
       |  SELECT query_id, cand_id, rank FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, cand_id) AS rank
       |    FROM scored) WHERE rank <= 5)""".stripMargin
  }

  private lazy val vectorAnnSql: String =
    s"""WITH $annReplayCtes
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank
       |FROM annk
       |ORDER BY query_id, rank""".stripMargin

  private lazy val vectorAnnRecallSql: String = {
    def pairDot(a: String, b: String): String =
      (1 to 64).map(j =>
        s"CAST($a[$j] AS DOUBLE) * CAST($b[$j] AS DOUBLE)").mkString(" + ")
    s"""WITH $annReplayCtes,
       |exact AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.query_id, c.cand_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY (${pairDot("q.qv", "c.cv")}) / (q.qn * c.cn) DESC,
       |                 c.cand_id) AS rank
       |    FROM qry q JOIN cand c ON c.cand_id <> q.query_id)
       |  WHERE rank <= 5)
       |SELECT q.query_id AS query_id,
       |  CAST(COUNT(a.cand_id) AS BIGINT) AS n_overlap
       |FROM qry q
       |LEFT JOIN exact e ON e.query_id = q.query_id
       |LEFT JOIN annk a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
       |GROUP BY q.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  /** PCA route-then-refine ANN ([[graft.operators.Similarity
    * .pcaRouteTopK]]) — rows-only (the eigensolve has no SQL twin);
    * recall + exact-refine agreement are property-tested in
    * EmbeddingPcaSpec. */
  def vectorPcaRoute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    graft.operators.Similarity.pcaRouteTopK(
        e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** IVF (k-means cells + nprobe) ANN — the data-adaptive scale path;
    * rows-only (k-means assignment is engine-specific). */
  def vectorIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** **Fixed-point IVF, HASH-CHECKED** ([[Similarity.ivfFpTopK]]): the
    * `graph_pagerank_fp` discipline applied to k-means — md5-rank
    * deterministic sample/seeds, quantized ⌊x·10⁶⌋ coordinates, integer
    * L2, truncating-division centroid updates, smallest-cell ties,
    * empty cells keep their centroid — so the oracle UNROLLS the 10
    * Lloyd rounds as materialized CTEs, re-derives the same centroids
    * bit for bit, replays corpus assignment + nprobe routing, and only
    * the final rank-only cosine re-rank is float (the `vector_topk`
    * gate shape). Breaks the long-standing "k-means assignment is
    * engine-specific" oracle boundary; the float [[Similarity.ivfTopK]]
    * stays the production path. */
  def vectorIvfFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfFpTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Integer L2 between two 64-long lists in DuckDB. */
  private def fpL2Sql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"

  /** Dim-parameterized integer L2 (the PQ subspace form — callers wrap
    * slice expressions in parens so `[i]` indexes the slice). */
  private def fpL2SqlDim(a: String, b: String, d: Int): String =
    s"list_sum(list_transform(range(1, ${d + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"

  /** Shared oracle prefix replaying [[Similarity.kMeansFp]] (quantize →
    * md5-rank sample/seeds → `iters` unrolled Lloyd rounds → corpus cell
    * assignment `ca(cand_id, cell)`), used by both fixed-point-routed
    * queries so the Lloyd replay cannot drift between them. */
  private def ivfFpLloydCtes(iters: Int = 10, nCells: Int = 16,
      cap: Int = 4096, sampleWhere: String = ""): String = {
    val rounds = (1 to iters).map { t =>
      s"""a$t AS MATERIALIZED (
         |  SELECT rn, qv, cell FROM (
         |    SELECT s.rn, s.qv, c.cell,
         |      row_number() OVER (PARTITION BY s.rn
         |        ORDER BY ${fpL2Sql("s.qv", "c.cv")}, c.cell) AS rnk
         |    FROM smpi s CROSS JOIN c${t - 1} c) WHERE rnk = 1),
         |u$t AS MATERIALIZED (
         |  SELECT cell, list(v ORDER BY dim) AS cv FROM (
         |    SELECT a.cell, i AS dim, SUM(a.qv[CAST(i AS INT)]) // COUNT(*) AS v
         |    FROM a$t a, UNNEST(range(1, 65)) AS t(i)
         |    GROUP BY a.cell, i) GROUP BY cell),
         |c$t AS MATERIALIZED (
         |  SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
         |  FROM c${t - 1} p LEFT JOIN u$t u ON u.cell = p.cell)""".stripMargin
    }.mkString(",\n")
    s"""qd AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |smpi AS MATERIALIZED (
       |  SELECT rn, qv FROM (
       |    SELECT row_number() OVER (
       |        ORDER BY md5('graftivffp' || CAST(vec_id AS VARCHAR)), vec_id) AS rn,
       |      qv
       |    FROM qd$sampleWhere) WHERE rn <= $cap),
       |c0 AS MATERIALIZED (
       |  SELECT rn - 1 AS cell, qv AS cv FROM smpi WHERE rn <= $nCells),
       |$rounds,
       |ca AS MATERIALIZED (
       |  SELECT cand_id, cell FROM (
       |    SELECT q.vec_id AS cand_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${fpL2Sql("q.qv", "c.cv")}, c.cell) AS rnk
       |    FROM qd q CROSS JOIN c$iters c) WHERE rnk = 1)""".stripMargin
  }

  /** The default-geometry Lloyd prefix, shared with DataCleaning's
    * `corpus_clusters_fp` oracle (one replay, two gated consumers). */
  private[queries] lazy val ivfFpLloydCtesShared: String = ivfFpLloydCtes()

  /** The full fp-IVF oracle (Lloyd replay → corpus assignment → query
    * probe routing → rank-only cosine re-rank), parameterized by the
    * training-sample predicate so the persisted-index maintenance twins
    * reuse it: the serve tail is IDENTICAL whether the engine computed
    * inline, from a persisted index, or from a compacted one — that
    * equality is exactly the maintenance law under gate. */
  private def ivfFpServeSql(sampleWhere: String = ""): String = {
    val (iters, nprobe) = (10, 4)
    s"""WITH ${ivfFpLloydCtes(iters, sampleWhere = sampleWhere)},
       |qp AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${fpL2Sql("q.qv", "c.cv")}, c.cell) AS pr
       |    FROM qd q CROSS JOIN c$iters c WHERE q.vec_id < 20) WHERE pr <= $nprobe),
       |cnd AS MATERIALIZED (
       |  SELECT DISTINCT qp.query_id, ca.cand_id
       |  FROM qp JOIN ca USING (cell) WHERE ca.cand_id <> qp.query_id)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank FROM (
       |  SELECT d.query_id, d.cand_id,
       |    row_number() OVER (PARTITION BY d.query_id ORDER BY
       |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                             CAST(c.embedding AS DOUBLE[])) DESC,
       |      d.cand_id) AS rank
       |  FROM cnd d JOIN embeddings q ON q.vec_id = d.query_id
       |             JOIN embeddings c ON c.vec_id = d.cand_id)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  private lazy val vectorIvfFpSql: String = ivfFpServeSql()

  /** Serving from the **persisted IVF index** ([[Similarity
    * .writeIvfIndex]] / [[Similarity.ivfTopKIndexed]]): build the
    * bucketed-by-cell index + centroid side table, then answer the query
    * batch from it — the scan reads only the probed cells' buckets
    * (bucket pruning, spec-asserted). Rows-only (k-means), anchored by
    * the spec proving served ≡ inline [[vectorIvf]] results exactly.
    * The timed query includes the index WRITE, the same deliberate
    * layout-investment accounting as `bucketed_join` and
    * `dedup_incremental`. */
  def vectorIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.writeIvfIndex(e, "graft_ivf_index")
    Similarity.ivfTopKIndexed(e.filter(col("vec_id") < 20), spark,
        "graft_ivf_index", k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** **Incremental IVF maintenance** ([[Similarity.appendToIvfIndex]]):
    * 90% of the corpus builds the persisted index, the other 10% plays
    * the newly-ingested delta — assigned to the index's EXISTING
    * centroids and appended to its buckets, work ∝ |delta|, no rebuild —
    * then the query batch is served from the combined index. Rows-only
    * (k-means); anchored by the spec proving served base+delta ≡ inline
    * IVF over the union under the same centroids, with the delta path
    * planning zero Exchange on the index side. */
  def vectorIvfDelta(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 10 =!= 0),
      "graft_ivf_delta_index")
    Similarity.appendToIvfIndex(spark, "graft_ivf_delta_index",
      e.filter(col("vec_id") % 10 === 0))
    Similarity.ivfTopKIndexed(e.filter(col("vec_id") < 20), spark,
        "graft_ivf_delta_index", k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** **IVF compaction** ([[Similarity.compactIvfIndex]]): build the index
    * on 60% of the corpus, append the other 40% as deltas against the
    * STALE centroids (maximal drift pressure for this corpus), then
    * compact — retrain on the full contents and rebuild the buckets —
    * and serve the query batch from the compacted index. The timed query
    * includes the compaction itself (layout-investment accounting, like
    * `vector_ivf_indexed` timing its build); work ∝ corpus, serve cost
    * unchanged. Rows-only (k-means); anchored by the spec measuring
    * recall(drifted) ≤ recall(compacted) bounds vs exact top-k and
    * compacted ≡ fresh-rebuild row identity. */
  def vectorIvfCompact(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 5 < 3),
      "graft_ivf_compact_index")
    Similarity.appendToIvfIndex(spark, "graft_ivf_compact_index",
      e.filter(col("vec_id") % 5 >= 3))
    Similarity.compactIvfIndex(spark, "graft_ivf_compact_index")
    Similarity.ivfTopKIndexed(e.filter(col("vec_id") < 20), spark,
        "graft_ivf_compact_index", k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** **Persisted fp-IVF serving, HASH-CHECKED** ([[Similarity
    * .writeIvfIndexFp]] / [[Similarity.ivfTopKIndexedFp]]): build the
    * bucketed integer-centroid index, then serve the query batch from it
    * with bucket-pruned scans. The oracle is the INLINE fp replay
    * ([[vectorIvfFp]]'s own SQL, verbatim) — the driver hash equality IS
    * the "served from index ≡ inline" maintenance law, previously
    * spec-only. Timed query includes the index write (the `bucketed_join`
    * layout-investment accounting). */
  def vectorIvfIndexedFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.writeIvfIndexFp(e, "graft_ivf_fp_index")
    Similarity.ivfTopKIndexedFp(e.filter(col("vec_id") < 20), spark,
        "graft_ivf_fp_index", k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** **Incremental fp-IVF maintenance, HASH-CHECKED** ([[Similarity
    * .appendToIvfIndexFp]]): 90% of the corpus builds the index, the
    * other 10% appends as a delta assigned to the EXISTING integer
    * centroids (work ∝ |delta|, no rebuild), then the query batch serves
    * from the combined index. The oracle replays the Lloyd training over
    * the BASE sample only (`vec_id % 10 <> 0`) and assigns the FULL
    * corpus to those centroids — exactly the "base+delta served ≡ inline
    * over the union under base-trained centroids" law, now a driver hash
    * equality. */
  def vectorIvfDeltaFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.writeIvfIndexFp(e.filter(col("vec_id") % 10 =!= 0),
      "graft_ivf_fp_delta_index")
    Similarity.appendToIvfIndexFp(spark, "graft_ivf_fp_delta_index",
      e.filter(col("vec_id") % 10 === 0))
    Similarity.ivfTopKIndexedFp(e.filter(col("vec_id") < 20), spark,
        "graft_ivf_fp_delta_index", k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  private lazy val vectorIvfDeltaFpSql: String =
    ivfFpServeSql(sampleWhere = " WHERE vec_id % 10 <> 0")

  /** **Index observability, HASH-CHECKED** ([[Similarity.ivfIndexStats]]):
    * build the fp index on 90% of the corpus, append the other 10% as a
    * delta (the `vector_ivf_delta_fp` maintenance scenario), then emit
    * the per-cell occupancy report an index operator watches — cell
    * sizes, the run-wide frame (total/n_cells/max/min), integer
    * parts-per-10k share, the ×1000 routing-skew factor (max cell over
    * balanced cell — the tail-latency multiplier of probed serving), and
    * `delta_rows`, [[Similarity.ivfDriftFraction]]'s numerator. The
    * oracle replays the Lloyd training over the base sample and assigns
    * the full corpus to those centroids (exactly `vector_ivf_delta_fp`'s
    * `ca` CTE), then aggregates — so the driver hash equality pins the
    * report to the index's TRUE contents, not to a parallel bookkeeping
    * path that could rot independently. */
  def vectorIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.writeIvfIndexFp(e.filter(col("vec_id") % 10 =!= 0),
      "graft_ivf_stats_index")
    Similarity.appendToIvfIndexFp(spark, "graft_ivf_stats_index",
      e.filter(col("vec_id") % 10 === 0))
    Similarity.ivfIndexStats(spark, "graft_ivf_stats_index")
      .orderBy("cell")
  }

  private lazy val vectorIndexStatsSql: String =
    s"""WITH ${ivfFpLloydCtes(10, sampleWhere = " WHERE vec_id % 10 <> 0")},
       |sizes AS MATERIALIZED (
       |  SELECT cell, COUNT(*) AS n_rows FROM ca GROUP BY cell),
       |frame AS MATERIALIZED (
       |  SELECT cell, n_rows,
       |    CAST(SUM(n_rows) OVER () AS BIGINT) AS total_rows,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n_cells,
       |    CAST(MAX(n_rows) OVER () AS BIGINT) AS max_rows,
       |    CAST(MIN(n_rows) OVER () AS BIGINT) AS min_rows
       |  FROM sizes),
       |base AS MATERIALIZED (
       |  SELECT COUNT(*) AS base_rows FROM embeddings WHERE vec_id % 10 <> 0)
       |SELECT CAST(cell AS INT) AS cell, n_rows, total_rows, n_cells,
       |  max_rows, min_rows,
       |  CAST(n_rows * 10000 // total_rows AS BIGINT) AS share_x10000,
       |  CAST(max_rows * n_cells * 1000 // total_rows AS BIGINT) AS imbalance_x1000,
       |  CAST(total_rows - base_rows AS BIGINT) AS delta_rows
       |FROM frame, base
       |ORDER BY cell""".stripMargin

  /** **fp-IVF compaction, HASH-CHECKED** ([[Similarity
    * .compactIvfIndexFp]]): build on 60%, append 40% against the stale
    * centroids (maximal drift pressure), compact — retrain on the full
    * contents + rebuild under the crash-safe generation swap — then
    * serve. [[Similarity.ivfFpCentroids]]' md5-rank sample is keyed by
    * id alone, so the retrain draws the fresh-build sample exactly: the
    * oracle is the plain full-corpus fp replay, and the hash equality IS
    * "compacted ≡ fresh rebuild". */
  def vectorIvfCompactFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.writeIvfIndexFp(e.filter(col("vec_id") % 5 < 3),
      "graft_ivf_fp_compact_index")
    Similarity.appendToIvfIndexFp(spark, "graft_ivf_fp_compact_index",
      e.filter(col("vec_id") % 5 >= 3))
    Similarity.compactIvfIndexFp(spark, "graft_ivf_fp_compact_index")
    Similarity.ivfTopKIndexedFp(e.filter(col("vec_id") < 20), spark,
        "graft_ivf_fp_compact_index", k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** **Fixed-point IVF-PQ, HASH-CHECKED** ([[Similarity.ivfPqFpTopK]]):
    * coarse quantizer AND the 4 subspace codebooks are integer Lloyd
    * over the shared md5-rank sample, encode is an integer argmin per
    * subspace, ADC is integer L2 — the oracle unrolls ALL of it (the
    * coarse replay plus 4×5 subspace Lloyd rounds as chained CTEs),
    * with only the final refine re-rank float (rank-only). Closes the
    * round-12 "PQ codebooks are engine-specific" oracle boundary; the
    * float [[vectorPq]] stays the production path. */
  def vectorPqFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfPqFpTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  private lazy val vectorPqFpSql: String = {
    val (iters, nprobe, m, kSub, d, refine, subIters) = (10, 4, 4, 16, 16, 8, 5)
    def sliceExpr(base: String): Int => String =
      s => s"($base[${s * d + 1}:${s * d + d}])"
    // per-subspace codebook Lloyd replay: slices of the SAME smpi sample,
    // seeds = its first kSub slices, 5 unrolled rounds each
    val bookCtes = (0 until m).map { s =>
      val rounds = (1 to subIters).map { t =>
        s"""pa$s$t AS MATERIALIZED (
           |  SELECT rn, sv, cell FROM (
           |    SELECT s.rn, s.sv, c.cell,
           |      row_number() OVER (PARTITION BY s.rn
           |        ORDER BY ${fpL2SqlDim("(s.sv)", "(c.cv)", d)}, c.cell) AS rnk
           |    FROM sl$s s CROSS JOIN b$s${t - 1} c) WHERE rnk = 1),
           |pu$s$t AS MATERIALIZED (
           |  SELECT cell, list(v ORDER BY dim) AS cv FROM (
           |    SELECT a.cell, i AS dim, SUM(a.sv[CAST(i AS INT)]) // COUNT(*) AS v
           |    FROM pa$s$t a, UNNEST(range(1, ${d + 1})) AS t(i)
           |    GROUP BY a.cell, i) GROUP BY cell),
           |b$s$t AS MATERIALIZED (
           |  SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
           |  FROM b$s${t - 1} p LEFT JOIN pu$s$t u ON u.cell = p.cell)""".stripMargin
      }.mkString(",\n")
      s"""sl$s AS MATERIALIZED (
         |  SELECT rn, ${sliceExpr("qv")(s)} AS sv FROM smpi),
         |b${s}0 AS MATERIALIZED (
         |  SELECT rn - 1 AS cell, sv AS cv FROM sl$s WHERE rn <= $kSub),
         |$rounds""".stripMargin
    }.mkString(",\n")
    // encode: per subspace, the argmin-distance code for every candidate
    val encCtes = (0 until m).map { s =>
      s"""e$s AS MATERIALIZED (
         |  SELECT cand_id, code FROM (
         |    SELECT q.vec_id AS cand_id, b.cell AS code,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${fpL2SqlDim(sliceExpr("q.qv")(s), "(b.cv)", d)}, b.cell) AS rnk
         |    FROM qd q CROSS JOIN b$s$subIters b) WHERE rnk = 1)""".stripMargin
    }.mkString(",\n")
    val adcTerms = (0 until m).map { s =>
      fpL2SqlDim(sliceExpr("q.qv")(s), s"(bb$s.cv)", d)
    }.mkString("\n    + ")
    val adcJoins = (0 until m).map { s =>
      s"  JOIN e$s ON e$s.cand_id = c.cand_id\n" +
        s"  JOIN b$s$subIters bb$s ON bb$s.cell = e$s.code"
    }.mkString("\n")
    s"""WITH ${ivfFpLloydCtes(iters)},
       |$bookCtes,
       |$encCtes,
       |qp AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${fpL2Sql("q.qv", "c.cv")}, c.cell) AS pr
       |    FROM qd q CROSS JOIN c$iters c WHERE q.vec_id < 20) WHERE pr <= $nprobe),
       |cnd AS MATERIALIZED (
       |  SELECT DISTINCT qp.query_id, ca.cand_id
       |  FROM qp JOIN ca USING (cell) WHERE ca.cand_id <> qp.query_id),
       |adcs AS MATERIALIZED (
       |  SELECT c.query_id, c.cand_id,
       |    $adcTerms AS adc
       |  FROM cnd c
       |  JOIN qd q ON q.vec_id = c.query_id
       |$adcJoins),
       |shl AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc, cand_id) AS ra
       |    FROM adcs) WHERE ra <= ${5 * refine})
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank FROM (
       |  SELECT s.query_id, s.cand_id,
       |    row_number() OVER (PARTITION BY s.query_id ORDER BY
       |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                             CAST(c.embedding AS DOUBLE[])) DESC,
       |      s.cand_id) AS rank
       |  FROM shl s JOIN embeddings q ON q.vec_id = s.query_id
       |             JOIN embeddings c ON c.vec_id = s.cand_id)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** **Fixed-point PCA route, HASH-CHECKED** ([[Similarity
    * .pcaRouteFpTopK]]): the integer Gram (the hash-green
    * `embedding_gram` aggregate, trunc-normalized per entry), a
    * fixed-point power-iteration eigensolve (8 unrolled rounds × 2
    * components, integer rescale, integer Rayleigh deflation), integer
    * projection routing, reduced-space integer-L2 shortlist — ALL
    * replayed by the oracle; only the final refine re-rank is float
    * (rank-only). Breaks the round-5..12 "float eigensolve has no SQL
    * twin" boundary; the float [[vectorPcaRoute]] stays the production
    * path. Every division is trunc toward zero in BOTH engines —
    * Spark `div`/Java `/` by definition, and DuckDB BIGINT `//` by
    * measurement ((−7)//2 = −3 on this build; it truncates, it does
    * NOT floor — the r13 review corrected an initial CASE-wrapped
    * oracle built on the floor assumption). */
  def vectorPcaRouteFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.pcaRouteFpTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  private lazy val vectorPcaRouteFpSql: String = {
    val (kDims, powerIters, shortlist) = (2, 8, 50)
    // DuckDB BIGINT `//` truncates toward zero exactly like Java `/`
    // and Spark `div` (verified: (−7)//2 = −3), so plain `//` is the
    // mirror for every division here, negative numerators included.
    def td(a: String, b: String): String = s"($a) // ($b)"
    val comps = (0 until kDims).map { c =>
      val iterCtes = (1 to powerIters).map { t =>
        s"""w$c$t AS MATERIALIZED (
           |  SELECT g.i AS j, CAST(SUM(g.v * x.val) AS BIGINT) AS val
           |  FROM g$c g JOIN v$c${t - 1} x ON x.j = g.j GROUP BY g.i),
           |m$c$t AS MATERIALIZED (
           |  SELECT (MAX(ABS(val)) // 1000) + 1 AS md FROM w$c$t),
           |v$c$t AS MATERIALIZED (
           |  SELECT j, ${td("val", "md")} AS val FROM w$c$t, m$c$t)""".stripMargin
      }.mkString(",\n")
      val tail =
        s"""wf$c AS MATERIALIZED (
           |  SELECT g.i AS j, CAST(SUM(g.v * x.val) AS BIGINT) AS val
           |  FROM g$c g JOIN v$c$powerIters x ON x.j = g.j GROUP BY g.i),
           |ray$c AS MATERIALIZED (
           |  SELECT CAST(SUM(v.val * w.val) AS BIGINT) AS num,
           |         CAST(SUM(v.val * v.val) AS BIGINT) AS den
           |  FROM v$c$powerIters v JOIN wf$c w ON w.j = v.j),
           |lam$c AS MATERIALIZED (
           |  SELECT ${td("num", "den")} AS lam, den FROM ray$c)""".stripMargin
      val deflate = if (c + 1 < kDims)
        s""",
           |g${c + 1} AS MATERIALIZED (
           |  SELECT g.i, g.j,
           |    g.v - ${td("va.val * vb.val * lam", "den")} AS v
           |  FROM g$c g
           |  JOIN v$c$powerIters va ON va.j = g.i
           |  JOIN v$c$powerIters vb ON vb.j = g.j
           |  CROSS JOIN lam$c)""".stripMargin
      else ""
      s"""v${c}0 AS MATERIALIZED (
         |  SELECT CAST(t.j AS BIGINT) AS j, CAST(1000 AS BIGINT) AS val
         |  FROM UNNEST(range(0, 64)) AS t(j)),
         |$iterCtes,
         |$tail$deflate""".stripMargin
    }.mkString(",\n")
    val projCtes = (0 until kDims).map { c =>
      s"""pr$c AS MATERIALIZED (
         |  SELECT e.vec_id,
         |    ${td(s"CAST(SUM(e.qv[CAST(v.j AS INT) + 1] * v.val) AS BIGINT)", "1000")} AS p
         |  FROM qd2 e CROSS JOIN v$c$powerIters v GROUP BY e.vec_id)""".stripMargin
    }.mkString(",\n")
    val l2 = (0 until kDims).map(c =>
      s"(q.p$c - c.p$c) * (q.p$c - c.p$c)").mkString(" + ")
    s"""WITH qd2 AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |gr AS MATERIALIZED (
       |  SELECT CAST(ti.i AS BIGINT) AS i, CAST(tj.j AS BIGINT) AS j,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(qv[CAST(ti.i AS INT) + 1] * qv[CAST(tj.j AS INT) + 1])
       |      AS BIGINT) AS g
       |  FROM qd2, UNNEST(range(0, 64)) AS ti(i), UNNEST(range(0, 64)) AS tj(j)
       |  WHERE tj.j >= ti.i
       |  GROUP BY ti.i, tj.j),
       |g0 AS MATERIALIZED (
       |  SELECT i, j, ${td("g", "n * 1000000")} AS v FROM gr
       |  UNION ALL
       |  SELECT j AS i, i AS j, ${td("g", "n * 1000000")} AS v FROM gr
       |  WHERE i <> j),
       |$comps,
       |$projCtes,
       |proj AS MATERIALIZED (
       |  SELECT a.vec_id, a.p AS p0, b.p AS p1
       |  FROM pr0 a JOIN pr1 b USING (vec_id)),
       |shl AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $l2, c.vec_id) AS rr
       |    FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 20) WHERE rr <= $shortlist)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank FROM (
       |  SELECT s.query_id, s.cand_id,
       |    row_number() OVER (PARTITION BY s.query_id ORDER BY
       |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                             CAST(c.embedding AS DOUBLE[])) DESC,
       |      s.cand_id) AS rank
       |  FROM shl s JOIN embeddings q ON q.vec_id = s.query_id
       |             JOIN embeddings c ON c.vec_id = s.cand_id)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** **Fixed-point IVF-SQ, HASH-CHECKED** ([[Similarity.ivfSqFpTopK]]):
    * the scalar-quantization member of the inverted-file family —
    * per-dimension (min, trunc-scale) stats map every ⌊x·10⁶⌋
    * coordinate onto [0, 255] codes, probed-cell candidates rank by
    * integer L2 in code space, exact float cosine refines (rank-only).
    * Routing reuses the SAME integer-Lloyd training as `vector_ivf_fp`
    * (one Lloyd replay, shared CTEs), so the oracle adds only the
    * min/max stats, the code projection, and the code-space shortlist —
    * every step integer-exact in DuckDB. Completes the faiss-style
    * index triptych under the driver gate: IVF-Flat
    * (`vector_ivf_fp`), IVF-PQ (`vector_pq_fp`), IVF-SQ (this). */
  def vectorSqFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfSqFpTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  private lazy val vectorSqFpSql: String = {
    val (iters, nprobe, refine) = (10, 4, 8)
    s"""WITH ${ivfFpLloydCtes(iters)},
       |mm AS MATERIALIZED (
       |  SELECT t.i AS dim, MIN(qv[CAST(t.i AS INT)]) AS lo,
       |    ((MAX(qv[CAST(t.i AS INT)]) - MIN(qv[CAST(t.i AS INT)])) // 255) + 1 AS sc
       |  FROM qd, UNNEST(range(1, 65)) AS t(i)
       |  GROUP BY t.i),
       |lov AS MATERIALIZED (
       |  SELECT list(lo ORDER BY dim) AS lo, list(sc ORDER BY dim) AS sc
       |  FROM mm),
       |cds AS MATERIALIZED (
       |  SELECT q.vec_id,
       |    list_transform(range(1, 65),
       |      i -> (q.qv[i] - l.lo[i]) // l.sc[i]) AS cd
       |  FROM qd q, lov l),
       |qp AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${fpL2Sql("q.qv", "c.cv")}, c.cell) AS pr
       |    FROM qd q CROSS JOIN c$iters c WHERE q.vec_id < 20) WHERE pr <= $nprobe),
       |short AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM (
       |    SELECT qp.query_id, ca.cand_id,
       |      row_number() OVER (PARTITION BY qp.query_id
       |        ORDER BY list_sum(list_transform(range(1, 65),
       |          i -> (cq.cd[i] - cc.cd[i]) * (cq.cd[i] - cc.cd[i]))),
       |        ca.cand_id) AS rs
       |    FROM qp JOIN ca USING (cell)
       |    JOIN cds cq ON cq.vec_id = qp.query_id
       |    JOIN cds cc ON cc.vec_id = ca.cand_id
       |    WHERE ca.cand_id <> qp.query_id) WHERE rs <= ${5 * refine})
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank FROM (
       |  SELECT s.query_id, s.cand_id,
       |    row_number() OVER (PARTITION BY s.query_id ORDER BY
       |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                             CAST(c.embedding AS DOUBLE[])) DESC,
       |      s.cand_id) AS rank
       |  FROM short s JOIN embeddings q ON q.vec_id = s.query_id
       |              JOIN embeddings c ON c.vec_id = s.cand_id)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** **SQ distortion report, HASH-CHECKED** ([[Similarity
    * .sqDistortion]]): per-vector integer reconstruction error of the
    * IVF-SQ 8-bit encode — `sse` (Σ of squared floor-division
    * residuals) and `max_err` (provably < the per-dim scale). The
    * recall rows gate RANKING; this gates the quantizer's GEOMETRY
    * directly — a stats regression (wrong scale, clipped range,
    * swapped lo/hi) shifts these integers even when ranking happens to
    * survive. No join, no shuffle: one bounded 64-row stats collect +
    * one per-row projection. */
  def vectorSqError(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.sqDistortion(e).orderBy("vec_id")
  }

  private lazy val vectorSqErrorSql: String =
    s"""WITH qd AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |mm AS MATERIALIZED (
       |  SELECT t.i AS dim, MIN(qv[CAST(t.i AS INT)]) AS lo,
       |    ((MAX(qv[CAST(t.i AS INT)]) - MIN(qv[CAST(t.i AS INT)])) // 255) + 1 AS sc
       |  FROM qd, UNNEST(range(1, 65)) AS t(i)
       |  GROUP BY t.i),
       |lov AS MATERIALIZED (
       |  SELECT list(lo ORDER BY dim) AS lo, list(sc ORDER BY dim) AS sc
       |  FROM mm),
       |err AS MATERIALIZED (
       |  SELECT q.vec_id,
       |    list_transform(range(1, 65),
       |      i -> (q.qv[i] - l.lo[i])
       |        - ((q.qv[i] - l.lo[i]) // l.sc[i]) * l.sc[i]) AS e
       |  FROM qd q, lov l)
       |SELECT vec_id,
       |  CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS sse,
       |  CAST(list_max(e) AS BIGINT) AS max_err
       |FROM err
       |ORDER BY vec_id""".stripMargin

  // --------------------- serving-family retrieval-quality gates (r14)

  /** Shared overlap@5 shape for the fixed-point serving family — the
    * [[vectorAnnRecall]] pattern applied to IVF/PQ/PCA-route: per query,
    * the integer count of exact brute-force top-5 neighbors the served
    * list recovered. The fp twins gate ARITHMETIC (served ≡ replay);
    * these rows gate RETRIEVAL QUALITY, closing the one regression class
    * arithmetic equality can't catch — a centroid/codebook/eigensolve
    * rot that still replays exactly would shift these integers (r13
    * verdict task 2). Queries whose served list misses every exact
    * neighbor still report 0 (right join against the query set). */
  private def servedRecallAt5(e: DataFrame, served: DataFrame,
      candFilter: Column = lit(true)): DataFrame = {
    val q = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, e.filter(candFilter), k = 5)
      .select("query_id", "cand_id")
    exact.join(served.select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      .join(q.select(col("vec_id").as("query_id")), Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .orderBy("query_id")
  }

  /** Oracle twin of [[servedRecallAt5]]: the serving path's own full
    * replay SQL (verbatim, as a derived table — its trailing ORDER BY is
    * legal and ignored in a subquery) overlapped against the exact
    * float-cosine top-5 (the hash-green `vector_topk` replay), so BOTH
    * sides of the recall integer are derived from first principles in
    * DuckDB — nothing engine-computed leaks into the oracle. */
  private def servedRecallSql(serveSql: String,
      candWhere: String = ""): String =
    s"""WITH ann AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM (
       |$serveSql
       |  )),
       |exact AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                        CAST(c.embedding AS DOUBLE[])) DESC,
       |                 c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 20$candWhere)
       |  WHERE rank <= 5)
       |SELECT q.vec_id AS query_id,
       |  CAST(COUNT(a.cand_id) AS BIGINT) AS n_overlap
       |FROM embeddings q
       |LEFT JOIN exact e ON e.query_id = q.vec_id
       |LEFT JOIN ann a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
       |WHERE q.vec_id < 20
       |GROUP BY q.vec_id
       |ORDER BY q.vec_id""".stripMargin

  /** fp-IVF recall@5 vs exact, driver-gated ([[Similarity.ivfFpTopK]] —
    * the arithmetic `vector_ivf_indexed_fp` serves, by the proven
    * served ≡ inline law). */
  def vectorIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    servedRecallAt5(e,
      Similarity.ivfFpTopK(e.filter(col("vec_id") < 20), e, k = 5))
  }

  private lazy val vectorIvfRecallSql: String =
    servedRecallSql(vectorIvfFpSql)

  /** fp IVF-PQ recall@5 vs exact, driver-gated ([[Similarity
    * .ivfPqFpTopK]]) — a codebook-quality regression that preserves fp
    * exactness now shifts a gated integer. */
  def vectorPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    servedRecallAt5(e,
      Similarity.ivfPqFpTopK(e.filter(col("vec_id") < 20), e, k = 5))
  }

  private lazy val vectorPqRecallSql: String =
    servedRecallSql(vectorPqFpSql)

  /** fp PCA-route recall@5 vs exact, driver-gated ([[Similarity
    * .pcaRouteFpTopK]]) — eigensolve/routing quality under the same
    * integer gate. */
  def vectorPcaRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    servedRecallAt5(e,
      Similarity.pcaRouteFpTopK(e.filter(col("vec_id") < 20), e, k = 5))
  }

  private lazy val vectorPcaRecallSql: String =
    servedRecallSql(vectorPcaRouteFpSql)

  /** fp IVF-SQ recall@5 vs exact, driver-gated ([[Similarity
    * .ivfSqFpTopK]]) — the scalar quantizer's range stats under the
    * same integer recall gate as its IVF/PQ/PCA siblings. */
  def vectorSqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    servedRecallAt5(e,
      Similarity.ivfSqFpTopK(e.filter(col("vec_id") < 20), e, k = 5))
  }

  private lazy val vectorSqRecallSql: String =
    servedRecallSql(vectorSqFpSql)

  // --------------------------- filtered ANN + BQ + hybrid fusion (r14)

  /** **Filtered vector search, hash-gated** ([[Similarity
    * .ivfFpTopKFiltered]]): top-5 under the metadata predicate
    * `label = 3` — the corpus-wide fp-IVF index routes, probed-cell
    * candidates are post-filtered by the predicate, and the serve
    * over-probes (nprobe 8 vs the unfiltered 4) to compensate ~10%
    * selectivity thinning each cell. The oracle is the standard Lloyd
    * replay with the predicate added to the candidate CTE — training
    * and assignment stay corpus-wide because the filter is query-time
    * (one index, every predicate). Queries whose probed cells hold
    * fewer than 5 matches emit fewer rows; that thinning is part of
    * the gated result. */
  def vectorAnnFilteredFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfFpTopKFiltered(e.filter(col("vec_id") < 20), e,
        col("label") === 3, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  private lazy val vectorAnnFilteredFpSql: String = {
    val (iters, nprobe) = (10, 8)
    s"""WITH ${ivfFpLloydCtes(iters)},
       |qp AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${fpL2Sql("q.qv", "c.cv")}, c.cell) AS pr
       |    FROM qd q CROSS JOIN c$iters c WHERE q.vec_id < 20) WHERE pr <= $nprobe),
       |cnd AS MATERIALIZED (
       |  SELECT DISTINCT qp.query_id, ca.cand_id
       |  FROM qp JOIN ca USING (cell)
       |  JOIN embeddings ce ON ce.vec_id = ca.cand_id
       |  WHERE ca.cand_id <> qp.query_id AND ce.label = 3)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank FROM (
       |  SELECT d.query_id, d.cand_id,
       |    row_number() OVER (PARTITION BY d.query_id ORDER BY
       |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                             CAST(c.embedding AS DOUBLE[])) DESC,
       |      d.cand_id) AS rank
       |  FROM cnd d JOIN embeddings q ON q.vec_id = d.query_id
       |             JOIN embeddings c ON c.vec_id = d.cand_id)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Filtered-serve recall@5 vs the exact FILTERED brute force (both
    * sides restricted to `label = 3` — recall against the unfiltered
    * top-5 would conflate filter selectivity with routing quality).
    * Same integer overlap gate as the rest of the serving family. */
  def vectorFilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    servedRecallAt5(e,
      Similarity.ivfFpTopKFiltered(e.filter(col("vec_id") < 20), e,
        col("label") === 3, k = 5),
      candFilter = col("label") === 3)
  }

  private lazy val vectorFilteredRecallSql: String =
    servedRecallSql(vectorAnnFilteredFpSql, candWhere = " AND c.label = 3")

  /** **Binary-quantization top-k, hash-gated** ([[Similarity
    * .bqFpTopK]]): 1 bit/dimension against per-dim corpus trunc-means,
    * Hamming shortlist (top 5·16 by XOR+popcount, ties → smaller id),
    * exact cosine refine. The emitted `hamming` column is the code-
    * space distance of each returned neighbor — an integer the oracle
    * recomputes from scratch, so the code construction itself is under
    * the driver hash, not just the final ranking. */
  def vectorBqFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.bqFpTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select(col("query_id"), col("cand_id"), col("ham").as("hamming"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  private lazy val vectorBqFpSql: String = {
    val shortlist = 5 * 16
    s"""WITH qd AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |thrd AS MATERIALIZED (
       |  SELECT t.i AS dim, SUM(qv[CAST(t.i AS INT)]) // COUNT(*) AS thr
       |  FROM qd, UNNEST(range(1, 65)) AS t(i) GROUP BY t.i),
       |thrv AS MATERIALIZED (SELECT list(thr ORDER BY dim) AS th FROM thrd),
       |codes AS MATERIALIZED (
       |  SELECT q.vec_id,
       |    CAST(list_sum(list_transform(range(1, 33),
       |      i -> CASE WHEN q.qv[i] > t.th[i]
       |           THEN (CAST(1 AS BIGINT) << (CAST(i AS INT) - 1))
       |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS lo,
       |    CAST(list_sum(list_transform(range(33, 65),
       |      i -> CASE WHEN q.qv[i] > t.th[i]
       |           THEN (CAST(1 AS BIGINT) << (CAST(i AS INT) - 33))
       |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS hi
       |  FROM qd q, thrv t),
       |short AS MATERIALIZED (
       |  SELECT query_id, cand_id, ham FROM (
       |    SELECT cq.vec_id AS query_id, cc.vec_id AS cand_id,
       |      CAST(bit_count(xor(cq.lo, cc.lo))
       |         + bit_count(xor(cq.hi, cc.hi)) AS BIGINT) AS ham,
       |      row_number() OVER (PARTITION BY cq.vec_id
       |        ORDER BY CAST(bit_count(xor(cq.lo, cc.lo))
       |                    + bit_count(xor(cq.hi, cc.hi)) AS BIGINT),
       |          cc.vec_id) AS rh
       |    FROM codes cq JOIN codes cc ON cc.vec_id <> cq.vec_id
       |    WHERE cq.vec_id < 20) WHERE rh <= $shortlist)
       |SELECT query_id, cand_id, hamming, CAST(rank AS INT) AS rank FROM (
       |  SELECT s.query_id, s.cand_id, s.ham AS hamming,
       |    row_number() OVER (PARTITION BY s.query_id ORDER BY
       |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                             CAST(c.embedding AS DOUBLE[])) DESC,
       |      s.cand_id) AS rank
       |  FROM short s JOIN embeddings q ON q.vec_id = s.query_id
       |              JOIN embeddings c ON c.vec_id = s.cand_id)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** **Persisted BQ serving, HASH-CHECKED** ([[Similarity
    * .writeBqIndexFp]] / [[Similarity.bqTopKIndexedFp]]): codes and
    * thresholds computed once at build time, the Hamming shortlist
    * reads the column-pruned 16-byte (cand_id, clo, chi) scan, the
    * refine equi-joins the raw vectors back by id. The oracle is the
    * INLINE BQ replay verbatim — the driver hash equality IS the
    * "served from the code index ≡ inline" law, the same discipline as
    * `vector_ivf_indexed_fp`. Timed query includes the index write
    * (layout-investment accounting). */
  def vectorBqIndexedFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.writeBqIndexFp(e, "graft_bq_fp_index")
    Similarity.bqTopKIndexedFp(e.filter(col("vec_id") < 20), spark,
        "graft_bq_fp_index", k = 5)
      .select(col("query_id"), col("cand_id"), col("ham").as("hamming"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** BQ recall@5 vs exact — the sign-bit code's retrieval quality
    * under the same integer overlap gate as its IVF/PQ/SQ siblings. */
  def vectorBqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    servedRecallAt5(e, Similarity.bqFpTopK(e.filter(col("vec_id") < 20), e, k = 5))
  }

  private lazy val vectorBqRecallSql: String =
    servedRecallSql(vectorBqFpSql)

  /** **Hybrid sparse+dense retrieval with RRF fusion** ([[Retrieval
    * .hybridRrf]]): per query document, a lexical inverted-index
    * ranking (binary-TF × integer odds-ratio idf) and an exact-cosine
    * dense ranking are each cut to top-20 and fused with scaled
    * integer reciprocal-rank fusion (`10⁹ div (60 + rank)`, summed
    * over the lists that returned the candidate). Every emitted value
    * is an integer the DuckDB oracle re-derives from the raw corpus —
    * the fusion law itself is under the driver hash. */
  def hybridSearchRrf(spark: SparkSession, dir: String): DataFrame =
    Retrieval.hybridRrf(Tables.documents(spark, dir),
        Tables.embeddings(spark, dir), id => id < 20)
      .orderBy("query_id", "rank")

  private lazy val hybridSearchRrfSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, u.t AS term
      |  FROM documents, UNNEST(string_split(text, ' ')) AS u(t)),
      |stats AS MATERIALIZED (SELECT COUNT(*) AS n FROM documents),
      |idf AS MATERIALIZED (
      |  SELECT term, (1000000 * (s.n - d.df + 1)) // (d.df + 1) AS idf
      |  FROM (SELECT term, COUNT(*) AS df FROM toks GROUP BY term) d, stats s),
      |sc AS MATERIALIZED (
      |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id, SUM(i.idf) AS s
      |  FROM toks q
      |  JOIN toks c ON c.term = q.term AND c.doc_id <> q.doc_id
      |  JOIN idf i ON i.term = q.term
      |  WHERE q.doc_id < 20
      |  GROUP BY q.doc_id, c.doc_id),
      |sparse AS MATERIALIZED (
      |  SELECT query_id, cand_id, rank_s FROM (
      |    SELECT query_id, cand_id, row_number() OVER (
      |        PARTITION BY query_id ORDER BY s DESC, cand_id) AS rank_s
      |    FROM sc) WHERE rank_s <= 20),
      |dense AS MATERIALIZED (
      |  SELECT query_id, cand_id, rank_d FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                        CAST(c.embedding AS DOUBLE[])) DESC,
      |                 c.vec_id) AS rank_d
      |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 20)
      |  WHERE rank_d <= 20),
      |fused AS MATERIALIZED (
      |  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
      |    COALESCE(s.cand_id, d.cand_id) AS cand_id,
      |    CAST(COALESCE(1000000000 // (60 + s.rank_s), 0)
      |       + COALESCE(1000000000 // (60 + d.rank_d), 0) AS BIGINT) AS rrf_score
      |  FROM sparse s FULL OUTER JOIN dense d
      |    ON d.query_id = s.query_id AND d.cand_id = s.cand_id)
      |SELECT query_id, cand_id, rrf_score, CAST(rank AS INT) AS rank FROM (
      |  SELECT query_id, cand_id, rrf_score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_score DESC, cand_id) AS rank
      |  FROM fused) WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // ----------------------- continuous-ingest lifecycle, hash-gated (r14)

  /** Stage each batch as ONE parquet file under a fresh scratch dir and
    * play them through [[Similarity.ivfIndexSinkFp]] with a REAL
    * file-source stream (`maxFilesPerTrigger=1` → one micro-batch per
    * file) — the registered-query form of StreamingSpec's MemoryStream
    * drive, built only from stable public streaming APIs so it can live
    * in main code. Scratch + checkpoint are applicationId-suffixed and
    * wiped first, so re-runs in one app never inherit stream offsets. */
  private def streamIntoIvfIndexFp(spark: SparkSession, table: String,
      batches: Seq[DataFrame]): Unit = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"${table}_stream_${spark.sparkContext.applicationId}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    if (root.exists()) rm(root)
    val src = new java.io.File(root, "src").getAbsolutePath
    batches.foreach(_.coalesce(1).write.mode("append").parquet(src))
    val stream = spark.readStream
      .schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
      .writeStream
      .foreachBatch(Similarity.ivfIndexSinkFp(spark, table))
      .option("checkpointLocation",
        new java.io.File(root, "ck").getAbsolutePath)
      .outputMode("append")
      .start()
    try stream.processAllAvailable() finally stream.stop()
  }

  /** **The continuous-ingest lifecycle as ONE hash-gated query** (r13
    * verdict task 3 — the composition, not just the stages, under the
    * driver gate): build the base index on 90% of the corpus
    * ([[Similarity.writeIvfIndexFp]]) → stream the other 10% through
    * [[Similarity.ivfIndexSinkFp]] as two real file-source micro-batches
    * → re-run one batch through the sink body verbatim (the
    * at-least-once crash replay, physically double-appending it) →
    * [[Similarity.maintainIvfIndexFp]] reads ~17% drift against its 5%
    * threshold and MUST compact (require()d — a silent no-compact would
    * serve stale centroids and fail the hash) → serve the query batch
    * from the compacted index. Oracle: the plain full-corpus fp replay
    * ([[vectorIvfFp]]'s SQL, verbatim) — compaction retrains on the
    * dropDuplicates contents (replay dups healed; the md5-rank sample is
    * keyed by id alone), so the post-lifecycle index ≡ a fresh
    * full-corpus build, and the driver hash equality IS the
    * write → append → replay → drift-compact → serve law end to end. */
  def vectorIvfLifecycleFp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val table = "graft_ivf_fp_lifecycle_index"
    Similarity.writeIvfIndexFp(e.filter(col("vec_id") % 10 =!= 0), table)
    val b2 = e.filter(col("vec_id") % 20 === 10)
    streamIntoIvfIndexFp(spark, table,
      Seq(e.filter(col("vec_id") % 20 === 0), b2))
    // the at-least-once crash replay: the sink body re-runs batch 2
    Similarity.ivfIndexSinkFp(spark, table)(b2, 1L)
    require(Similarity.maintainIvfIndexFp(spark, table, threshold = 0.05),
      "vector_ivf_lifecycle_fp: the drift policy must fire at ~17% appended")
    Similarity.ivfTopKIndexedFp(e.filter(col("vec_id") < 20), spark,
        table, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** **`graft_ann` serving a STREAM-MAINTAINED index from SQL,
    * hash-gated** (r13 verdict task 6 — the r13 commit-message promise,
    * previously only ExtensionsSpec-pinned): the base index is built
    * batch-side on 90%, the delta arrives through
    * [[Similarity.ivfIndexSinkFp]] as a real file-source micro-batch,
    * and the query batch is answered entirely in SQL via
    * `graft_ann(probes, index, 5, 'indexed_fp')` — the vector-database
    * read path a SQL-only user runs against a continuously-ingesting
    * index. Oracle: the delta-fp replay (base-trained centroids,
    * full-corpus assignment — [[vectorIvfDeltaFp]]'s SQL verbatim),
    * because the sink IS [[Similarity.appendToIvfIndexFp]] per
    * micro-batch. */
  def vectorAnnSqlStreamed(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val table = "graft_ivf_fp_streamed_index"
    Similarity.writeIvfIndexFp(e.filter(col("vec_id") % 10 =!= 0), table)
    streamIntoIvfIndexFp(spark, table,
      Seq(e.filter(col("vec_id") % 10 === 0)))
    e.filter(col("vec_id") < 20)
      .createOrReplaceTempView("graft_ann_streamed_probes")
    spark.sql(
      s"""SELECT query_id, cand_id, rank
         |FROM graft_ann('graft_ann_streamed_probes', '$table', 5, 'indexed_fp')
         |ORDER BY query_id, rank""".stripMargin)
  }

  /** IVF-PQ ANN ([[Similarity.ivfPqTopK]]): IVF routing + product-
    * quantized asymmetric-distance scoring — the memory-bound scale path
    * (codes are ~30× smaller than the vectors they rank); rows-only
    * (k-means codebooks are engine-specific), recall anchored by spec
    * against the exact [[vectorTopk]]. */
  def vectorPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfPqTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select("query_id", "cand_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Per-vector norm and self-dot in double precision. Exactness vs DuckDB
    * holds because both engines fold the 64 doubles sequentially. */
  def vectorNorms(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        VectorOps.dot(col("embedding"), col("embedding")).as("dot_self"),
        VectorOps.norm(col("embedding")).as("l2norm"))
      .orderBy("vec_id")

  private val vectorNormsSql =
    """SELECT vec_id,
      |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS dot_self,
      |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS l2norm
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  /** Per-dimension corpus statistics over the embedding column — the
    * normalization/whitening prelude (mean-center, detect dead or
    * saturated dimensions) every vector pipeline runs before ANN
    * indexing or PCA. min/max are exact float comparisons; the mean
    * numerator is a **fixed-point integer sum** (`⌊x·10⁶⌋` summed as
    * longs) because a cross-row double sum is order-dependent under
    * partial aggregation — integers are associative, so the oracle
    * matches bitwise at any partitioning. Scale shape: posexplode
    * feeds a hash aggregate on 64 dimension keys *in the same stage*,
    * so map-side partials collapse every partition to 64 rows before
    * the one shuffle — corpus size never reaches the exchange. */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        sum(floor(col("x").cast("double") * 1000000).cast("long")).as("sum_fp"))
      .select(col("dim"), col("n"), col("min_x"), col("max_x"), col("sum_fp"),
        (col("sum_fp").cast("double") / lit(1000000.0) / col("n").cast("double"))
          .as("mean_fp"))
      .orderBy("dim")

  private val embeddingStatsSql =
    """SELECT pos AS dim, COUNT(*) AS n,
      |  MIN(embedding[pos + 1]) AS min_x, MAX(embedding[pos + 1]) AS max_x,
      |  CAST(SUM(CAST(FLOOR(CAST(embedding[pos + 1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_fp,
      |  CAST(SUM(CAST(FLOOR(CAST(embedding[pos + 1] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
      |    / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS mean_fp
      |FROM embeddings, UNNEST(range(0, len(embedding))) AS t(pos)
      |GROUP BY pos
      |ORDER BY pos""".stripMargin

  /** Exact quantized Gram matrix over the embedding corpus
    * ([[graft.operators.EmbeddingPca.gramQuantized]]) — the data-side
    * half of PCA, hash-checkable because every entry is an integer sum
    * of ⌊x·10⁶⌋ products (the `embedding_stats` fixed-point trick
    * widened to second moments). */
  def embeddingGram(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EmbeddingPca.gramQuantized(
        Tables.embeddings(spark, dir), col("vec_id"), col("embedding"))
      .orderBy("i", "j")

  private val embeddingGramSql =
    """SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(qi * qj) AS BIGINT) AS g_fp
      |FROM (SELECT CAST(ti.i AS BIGINT) AS i, CAST(tj.j AS BIGINT) AS j,
      |        CAST(FLOOR(CAST(embedding[ti.i + 1] AS DOUBLE) * 1000000)
      |          AS BIGINT) AS qi,
      |        CAST(FLOOR(CAST(embedding[tj.j + 1] AS DOUBLE) * 1000000)
      |          AS BIGINT) AS qj
      |      FROM embeddings,
      |           UNNEST(range(0, len(embedding))) AS ti(i),
      |           UNNEST(range(0, len(embedding))) AS tj(j)
      |      WHERE tj.j >= ti.i)
      |GROUP BY i, j
      |ORDER BY i, j""".stripMargin

  /** Top-4 PCA projection of every embedding ([[graft.operators
    * .EmbeddingPca]]) — rows-only BY CONTRACT: the eigensolve has no
    * SQL twin; the Gram it consumes is the hash-checked
    * `embedding_gram`, and EmbeddingPcaSpec anchors the projection
    * (planted-direction recovery, orthonormality, variance ordering,
    * bitwise determinism). */
  def embeddingPca(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val w = graft.operators.EmbeddingPca.fitProjection(
      emb, col("vec_id"), col("embedding"), k = 4)
    graft.operators.EmbeddingPca.project(emb, col("vec_id"),
        col("embedding"), w)
      .orderBy("vec_id")
  }

  // ------------------------------------------------------ text analysis

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val w = TextOps.tokens(col("text"))
    val nTok = size(w)
    val nTypes = size(array_distinct(w))
    val stop = TextOps.hitCount(w, TextOps.enStopwords)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).as("n_char"),
        nTok.as("n_tokens"),
        nTypes.as("n_types"),
        (nTypes.cast("double") / nTok.cast("double")).as("ttr"),
        ((length(col("text")) - nTok + 1).cast("double") / nTok.cast("double"))
          .as("mean_token_len"),
        (stop.cast("double") / nTok.cast("double")).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  private val textQualitySql =
    """SELECT doc_id,
      |  length(text) AS n_char,
      |  len(w) AS n_tokens,
      |  len(list_distinct(w)) AS n_types,
      |  CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS ttr,
      |  CAST(length(text) - len(w) + 1 AS DOUBLE) / CAST(len(w) AS DOUBLE) AS mean_token_len,
      |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
      |    / CAST(len(w) AS DOUBLE) AS stopword_ratio
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1, the
    * standard pre-training hygiene pass): per doc, the metrics behind the
    * published thresholds — token count in [50, 100k], mean word length
    * in [3, 10], ≥80% of words containing an alphabetic character, ≥2
    * stopword hits, plus a type-token-ratio floor as the repetition proxy
    * (the corpus has no line structure for the bullet/ellipsis line
    * rules) — each rule emitted as its own boolean next to the composite
    * `keep`, so downstream consumers can re-mix thresholds without
    * re-scanning. Pure per-row column arithmetic on integers and
    * int-ratio doubles: codegen'd, no shuffle at all, and bitwise
    * reproducible in the oracle. */
  def qualityGopher(spark: SparkSession, dir: String): DataFrame = {
    val metrics = TextOps.gopherMetrics(col("text"))
    val rules = TextOps.gopherRules
    Tables.documents(spark, dir)
      .select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
      .select(col("*") +: rules.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep", rules.map(r => col(r._1)).reduce(_ && _))
      .orderBy("doc_id")
  }

  private val qualityGopherSql = {
    val g = TextOps.GopherSql
    s"""SELECT *,
       |  (${g.rules(identity).map(_._1).mkString(" AND ")}) AS keep
       |FROM (SELECT *,
       |    ${g.rules(identity).map { case (n, r) => s"$r AS $n" }
            .mkString(",\n    ")}
       |  FROM (SELECT doc_id,
       |      ${g.metricExprs.map { case (n, e) => s"$e AS $n" }
            .mkString(",\n      ")}
       |    FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  /** Weak-supervision quality-classifier distillation
    * ([[graft.operators.Classifier]]): train a fastText-style linear
    * scorer over md5-hashed bag-of-token features to mimic the Gopher
    * rule gate, then score every doc under the learned weights —
    * (doc_id, y, score, pred, correct). Pocket-perceptron epochs keep
    * every quantity integer, so the whole training procedure — score →
    * pocket check → quantized mean update — replays bitwise in DuckDB
    * as an unrolled-CTE oracle (the BPE trainer's pattern). Scale
    * shape: per-doc feature vectors are a per-row projection persisted
    * once; each epoch is a zero-shuffle scan against ONE weight-map
    * literal plus a ≤4097-row feature-delta collect. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val metrics = TextOps.gopherMetrics(col("text"))
    val labeled = Tables.documents(spark, dir)
      .select(col("doc_id") +: col("text") +:
        metrics.map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id"), col("text"),
        when(TextOps.gopherRules.map(_._2).reduce(_ && _), 1L)
          .otherwise(-1L).as("y"))
    graft.operators.Classifier
      .trainScore(labeled, col("doc_id"), col("y"), col("text"),
        epochs = graft.operators.Classifier.defaultEpochs)
      .orderBy("doc_id")
  }

  /** Generated pocket-perceptron oracle: the gopher labels, the hashed
    * feature table, then per epoch k the scores under w_{k-1} (sc_k),
    * the misclassified set (m_k), the feature-delta sums (d_k), and the
    * updated weights (w_k) with the quantized trunc(B·s/(|mis|·k)) step
    * — finishing with the pocket pick: every scoring pass unions into
    * one tagged relation, the epoch with the most correct docs (ties →
    * earliest) wins, and its scores are the output. Negative sums
    * divide via -((-s)//d): DuckDB `//` floors, abs makes floor equal
    * the driver's toward-zero Java division. Every CAST pins DuckDB's
    * HUGEINT sums back to the BIGINT arithmetic Spark runs. */
  private def qualityClassifierSql(epochs: Int): String = {
    val b = graft.operators.Classifier.resolution
    val stages = (1 to epochs).map { k =>
      s"""sc$k AS MATERIALIZED (SELECT fe.doc_id, fe.y,
         |          CAST(SUM(COALESCE(w.wt, 0) * fe.c) AS BIGINT) AS score
         |        FROM fe LEFT JOIN w${k - 1} w ON fe.f = w.f
         |        GROUP BY fe.doc_id, fe.y),
         |m$k AS MATERIALIZED (SELECT doc_id FROM sc$k WHERE y * score <= 0),
         |n$k AS MATERIALIZED (SELECT GREATEST(COUNT(*), 1) * $k AS den FROM m$k),
         |d$k AS MATERIALIZED (SELECT fe.f, CAST(SUM(fe.y * fe.c) AS BIGINT) AS s
         |        FROM fe JOIN m$k USING (doc_id) GROUP BY fe.f),
         |w$k AS MATERIALIZED (SELECT COALESCE(w.f, d.f) AS f,
         |          COALESCE(w.wt, 0) + CASE
         |            WHEN d.s IS NULL THEN 0
         |            WHEN d.s < 0 THEN -(((-d.s) * $b) // (SELECT den FROM n$k))
         |            ELSE (d.s * $b) // (SELECT den FROM n$k) END AS wt
         |        FROM w${k - 1} w FULL OUTER JOIN d$k d ON w.f = d.f)"""
        .stripMargin
    }.mkString(",\n")
    val fin = epochs + 1
    val allSc = (1 to fin)
      .map(k => s"SELECT $k AS k, doc_id, y, score FROM sc$k")
      .mkString("\n        UNION ALL ")
    s"""WITH lab AS (SELECT doc_id, text,
       |    CASE WHEN ${TextOps.GopherSql.keepPredicate}
       |    THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
       |fe AS MATERIALIZED (SELECT doc_id, y, f, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM (SELECT doc_id, y, substr(md5(tok), 1, 3) AS f
       |             FROM (SELECT doc_id, y,
       |                     unnest(string_split(coalesce(text, ''), ' ')) AS tok
       |                   FROM lab))
       |       GROUP BY doc_id, y, f
       |       UNION ALL
       |       SELECT doc_id, y, '__b', CAST(1 AS BIGINT) FROM lab),
       |w0 AS (SELECT '' AS f, CAST(0 AS BIGINT) AS wt WHERE FALSE),
       |$stages,
       |sc$fin AS MATERIALIZED (SELECT fe.doc_id, fe.y,
       |          CAST(SUM(COALESCE(w.wt, 0) * fe.c) AS BIGINT) AS score
       |        FROM fe LEFT JOIN w$epochs w ON fe.f = w.f
       |        GROUP BY fe.doc_id, fe.y),
       |allsc AS ($allSc),
       |best AS (SELECT k FROM allsc
       |         GROUP BY k ORDER BY COUNT(*) FILTER (WHERE y * score > 0) DESC, k
       |         LIMIT 1)
       |SELECT doc_id, y, score, pred, (pred = y) AS correct
       |FROM (SELECT doc_id, y, score,
       |        CASE WHEN score > 0 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS pred
       |      FROM allsc JOIN best USING (k))
       |ORDER BY doc_id""".stripMargin
  }

  /** **Threshold calibration sweep** for the distilled quality
    * classifier — the step between training and serving: for every
    * observed score value t, the confusion counts and precision/recall
    * of the gate "keep iff score ≥ t" against the teacher labels. A
    * pipeline reads this table to pick the keep threshold for its
    * retention/quality trade-off instead of hardcoding sign(score).
    *
    * Scale shape: one groupBy(score) collapses the corpus to ≤ distinct-
    * score rows (map-side partial) — but integer dot-product scores are
    * NEARLY UNIQUE per doc, so at corpus scale that is still ~n rows,
    * and a partition-less running-sum window over them would funnel the
    * whole sweep through one task (the exact single-task shape
    * `corpus_pack` was rebuilt to avoid). The cumulative counts
    * therefore come from the shared two-phase prefix sum
    * ([[graft.operators.PrefixSum.runningSums]], descending score
    * order), and the grand positive total joins in as a 1-row broadcast
    * cross join (the scalar_subquery shape, PlanInvariantsSpec-bounded:
    * the build side is a grouping-free aggregate, provably one row).
    * All counts integer; precision/recall are single
    * IEEE divisions of the same integers on both engines, so the oracle
    * hash-matches. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val byScore = Dedup.memoPersist(
      qualityClassifier(spark, dir)
        .groupBy(col("score"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pos")))
    val tot = byScore.agg(sum(col("pos")).as("pos_total"))
    // the count doubles as the cache materialization (one job either
    // way) and lets the prefix-sum sweep derive its exchange width from
    // the actual score cardinality instead of the session default
    val nScores = byScore.count()
    graft.operators.PrefixSum
      .runningSums(byScore, order = Seq(col("score").desc),
        values = Seq("n", "pos"), rowBound = nScores)
      .crossJoin(broadcast(tot))
      .select(col("score").as("threshold"),
        col("n_cum").as("n_keep"), col("pos_cum").as("tp"),
        (col("n_cum") - col("pos_cum")).as("fp"),
        (col("pos_total") - col("pos_cum")).as("fn"),
        (col("pos_cum").cast("double") / col("n_cum").cast("double"))
          .as("prec"),
        (col("pos_cum").cast("double") / col("pos_total").cast("double"))
          .as("rec"))
      .orderBy(col("threshold").desc)
  }

  private def classifierCalibrationSql(epochs: Int): String =
    s"""WITH base AS (
       |${qualityClassifierSql(epochs)}
       |),
       |by_score AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS pos
       |      FROM base GROUP BY score),
       |cum AS (SELECT score AS threshold,
       |        SUM(n) OVER (ORDER BY score DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_keep,
       |        SUM(pos) OVER (ORDER BY score DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |        SUM(pos) OVER () AS pos_total
       |      FROM by_score)
       |SELECT threshold, CAST(n_keep AS BIGINT) AS n_keep,
       |  CAST(tp AS BIGINT) AS tp,
       |  CAST(n_keep - tp AS BIGINT) AS fp,
       |  CAST(pos_total - tp AS BIGINT) AS fn,
       |  CAST(tp AS DOUBLE) / CAST(n_keep AS DOUBLE) AS prec,
       |  CAST(tp AS DOUBLE) / CAST(pos_total AS DOUBLE) AS rec
       |FROM cum
       |ORDER BY threshold DESC""".stripMargin

  /** Unigram corpus-frequency scoring — the log-free core of unigram-LM
    * quality filtering: per doc, how common its tokens are corpus-wide
    * (`sum_tf`/`avg_tf`) and its rarest token (`min_tf`). Thresholding on
    * these is monotone-equivalent to thresholding a per-token-clamped
    * unigram perplexity; the log itself is deliberately never computed —
    * `ln` is not required to round identically across libms, while these
    * integer sums and int-ratio doubles compare bitwise against the
    * oracle. Two shuffles: token-frequency aggregate, per-doc aggregate.
    * The frequency table joins back by broadcast (vocabulary grows by
    * Heaps' law, orders of magnitude smaller than the corpus); if a
    * web-scale vocabulary ever outgrew the broadcast budget, dropping the
    * hint falls back to a hash join on the token key — same plan shape,
    * still no driver-side state. */
  def lmUnigram(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    toks.join(broadcast(vocab), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("tf")).as("sum_tf"),
        min(col("tf")).as("min_tf"))
      .select(col("doc_id"), col("n_tokens"), col("sum_tf"), col("min_tf"),
        (col("sum_tf").cast("double") / col("n_tokens").cast("double")).as("avg_tf"))
      .orderBy("doc_id")
  }

  private val lmUnigramSql =
    """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
      |             FROM documents),
      |vocab AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(tf) AS BIGINT) AS sum_tf,
      |  MIN(tf) AS min_tf,
      |  CAST(SUM(tf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tf
      |FROM toks JOIN vocab USING (tok)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Bigram corpus-frequency scoring — [[lmUnigram]]'s order-2 sibling
    * and the log-free core of stupid-backoff LM filtering: per doc, how
    * common its adjacent-token pairs are corpus-wide. `n_unique` counts
    * the bigrams seen nowhere else (the backoff-to-unigram set); docs
    * dominated by them are either novel or garbled, exactly what a
    * bigram-perplexity threshold separates — and thresholding these
    * integer sums is monotone-equivalent to the clamped log-score, while
    * staying bitwise-comparable against the oracle.
    *
    * Scale shape (the [[graft.operators.Boilerplate]] Generate pattern):
    * tokenize once per document, explode *positions* (never an
    * HOF-derived array — the Generate-filter re-tokenization trap), pair
    * via O(1) `element_at`. Two shuffles — bigram-frequency aggregate,
    * per-doc aggregate; the frequency table broadcasts back (bigram
    * vocabulary follows Heaps' law like the unigram one; drop the hint
    * for a hash join if it ever outgrows the budget). Single-token docs
    * have no bigrams and drop out in both engines. */
  def lmBigram(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(1, size(w) - 1)")).as("pos"))
      .select(col("doc_id"),
        concat(element_at(col("w"), col("pos")), lit(" "),
          element_at(col("w"), col("pos") + 1)).as("bg"))
    val vocab = bg.groupBy(col("bg")).agg(count(lit(1)).as("bf"))
    bg.join(broadcast(vocab), "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bf")).as("sum_bf"),
        min(col("bf")).as("min_bf"),
        count(when(col("bf") === 1, 1)).as("n_unique"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bf"), col("min_bf"),
        col("n_unique"),
        (col("sum_bf").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_bf"))
      .orderBy("doc_id")
  }

  private val lmBigramSql =
    """WITH bg AS (
      |  SELECT doc_id, w[pos+1] || ' ' || w[pos+2] AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |       UNNEST(range(0, len(w) - 1)) AS t(pos)),
      |vocab AS (SELECT bg, COUNT(*) AS bf FROM bg GROUP BY bg)
      |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(bf) AS BIGINT) AS sum_bf,
      |  MIN(bf) AS min_bf,
      |  CAST(COUNT(*) FILTER (WHERE bf = 1) AS BIGINT) AS n_unique,
      |  CAST(SUM(bf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bf
      |FROM bg JOIN vocab USING (bg)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** **PMI collocation extraction**: the corpus' top-100 word bigrams
    * by pointwise mutual information — the classic collocation measure
    * (Church & Hanks 1990) behind phrase mining and tokenizer-merge
    * candidates. PMI = log(n₁₂·N/(n₁·n₂)); the log is monotone, so the
    * ranking key is the EXACT integral floor(n₁₂·N·10⁶/(n₁·n₂)) — every
    * step integer arithmetic (DECIMAL(38,0) here, HUGEINT in the
    * oracle), no libm anywhere, ties broken by the words. Bigram and
    * unigram counts are two aggregates over one tokenization
    * (memoized); frequency attaches broadcast (vocabulary-sized);
    * support ≥ 5 prunes the hapax noise PMI is notorious for. Scale
    * shape = `lm_bigram`'s: shuffles carry (term, count) frames bounded
    * by vocabulary, never corpus tokens. */
  def collocationsPmi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast(DecimalType(38, 0))
    val toks = graft.operators.Dedup.memoPersist(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w")))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val bg = graft.operators.Dedup.memoPersist(
      toks.where(size(col("w")) >= 2)
        .select(col("w"), explode(expr("sequence(1, size(w) - 1)")).as("pos"))
        .select(element_at(col("w"), col("pos")).as("w1"),
          element_at(col("w"), col("pos") + 1).as("w2")))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= 5)
    val nb = bg.agg(count(lit(1)).as("nb"))
    big
      .join(broadcast(uni.select(col("t").as("w1"), col("n").as("n1"))), "w1")
      .join(broadcast(uni.select(col("t").as("w2"), col("n").as("n2"))), "w2")
      .crossJoin(broadcast(nb))
      .withColumn("__num", d(col("n12")) * d(col("nb")) * lit(1000000))
      .withColumn("__den", d(col("n1")) * d(col("n2")))
      .withColumn("pmi_scaled", expr("CAST(__num div __den AS BIGINT)"))
      .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
        col("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("w1"), col("w2"))
      .limit(100)
  }

  private val collocationsPmiSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |uni AS (
      |  SELECT t, COUNT(*) AS n
      |  FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY t),
      |bg AS (
      |  SELECT w[pos+1] AS w1, w[pos+2] AS w2
      |  FROM toks, UNNEST(range(0, len(w) - 1)) AS t(pos)),
      |big AS (SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY 1, 2
      |        HAVING COUNT(*) >= 5),
      |nb AS (SELECT COUNT(*) AS nb FROM bg)
      |SELECT w1, w2, CAST(n12 AS BIGINT) AS n12,
      |  CAST(u1.n AS BIGINT) AS n1, CAST(u2.n AS BIGINT) AS n2,
      |  CAST((CAST(n12 AS HUGEINT) * nb.nb * 1000000)
      |       // (CAST(u1.n AS HUGEINT) * u2.n) AS BIGINT) AS pmi_scaled
      |FROM big JOIN uni u1 ON u1.t = big.w1
      |         JOIN uni u2 ON u2.t = big.w2
      |         CROSS JOIN nb
      |ORDER BY pmi_scaled DESC, w1, w2
      |LIMIT 100""".stripMargin

  /** **Compression-ratio quality signal**
    * ([[graft.functions.DeflateLength]]): deflate length per document
    * and the exact scaled ratio len·10⁶ div n_bytes — the
    * RedPajama/CCNet-family filter that catches templated boilerplate
    * (ratio ≪ typical prose) and binary junk (ratio ≈ 10⁶) with one
    * codegen'd per-row pass, zero shuffles beyond presentation order.
    * Rows-only by contract: zlib output bytes are not something DuckDB
    * can reproduce; the LAWS (repetitive < prose < shuffled-unique,
    * determinism, empty-string constant) are QualityCompressionSpec's
    * job, and the flag thresholds stay consumer-side. */
  def qualityCompression(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.DeflateLength(col("text")).as("deflate_len"))
      .withColumn("ratio_scaled",
        when(col("n_bytes") === 0L, lit(null).cast("long"))
          .otherwise(expr("CAST((deflate_len * 1000000) div n_bytes AS BIGINT)")))
      .orderBy("doc_id")
  }

  /** **CCNet head/middle/tail bucketing** (Wenzek et al. 2020): split
    * each SOURCE's documents into perplexity tertiles so a training mix
    * can keep heads, sample middles, and drop tails per domain — graded
    * *within* the domain because perplexity is only comparable against
    * same-domain text. The perplexity proxy is [[lmUnigram]]'s log-free
    * `avg_tf` (higher corpus-frequency mass ⇔ lower perplexity ⇔
    * "head"), so every emitted value stays bitwise oracle-comparable;
    * the tertile is `ntile(3)` over the total order (avg_tf DESC,
    * doc_id) — standard-SQL semantics both engines share, deterministic
    * because the order is total. Scale shape: the token-frequency
    * stages are lmUnigram's (vocab aggregate + Heaps'-law broadcast);
    * the tertile is a per-source rank window — the `corpus_rebalance`
    * precedent, fine while every source fits a task's sort; web-scale
    * sources swap in boundary VALUES from an exact two-pass order
    * statistic (or approx percentiles) broadcast against the scan. */
  def qualityCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val scored = toks.join(broadcast(vocab), "tok")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("tf")).as("sum_tf"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("sum_tf").cast("double") / col("n_tokens").cast("double"))
          .as("avg_tf"))
    scored
      .withColumn("bucket",
        ntile(3).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("avg_tf").desc, col("doc_id"))).cast("long"))
      .orderBy("doc_id")
  }

  private val qualityCcnetBucketsSql =
    """WITH toks AS (SELECT doc_id, source,
      |              UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |vocab AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
      |scored AS (SELECT doc_id, source, COUNT(*) AS n_tokens,
      |        CAST(SUM(tf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tf
      |      FROM toks JOIN vocab USING (tok)
      |      GROUP BY doc_id, source)
      |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, avg_tf,
      |  CAST(ntile(3) OVER (PARTITION BY source
      |    ORDER BY avg_tf DESC, doc_id) AS BIGINT) AS bucket
      |FROM scored
      |ORDER BY doc_id""".stripMargin

  /** Stopword-hit language-ID heuristic: score each candidate language by
    * stopword occurrences (with multiplicity), argmax with a fixed
    * preference order, 'unknown' when nothing hits. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val w = TextOps.tokens(col("text"))
    val s = Seq("en", "es", "de", "fr").map(l =>
      l -> TextOps.hitCount(w, TextOps.stopwords(l)))
    val Seq(en, es, de, fr) = s.map(_._2)
    val pred = when(en === 0 && es === 0 && de === 0 && fr === 0, lit("unknown"))
      .when(en >= es && en >= de && en >= fr, lit("en"))
      .when(es >= de && es >= fr, lit("es"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
    Tables.documents(spark, dir)
      .select((col("doc_id") +: col("lang") +:
        s.map { case (l, c) => c.as(s"s_$l") }) :+ pred.as("lang_pred"): _*)
      .orderBy("doc_id")
  }

  private val langIdSql =
    """SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
      |  CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
      |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      |       WHEN s_de >= s_fr THEN 'de'
      |       ELSE 'fr' END AS lang_pred
      |FROM (SELECT doc_id, lang,
      |  len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
      |  len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un','es','se','no'))) AS s_es,
      |  len(list_filter(w, x -> x IN ('der','die','das','und','ist','von','mit','den','im','zu'))) AS s_de,
      |  len(list_filter(w, x -> x IN ('le','la','de','et','les','des','une','est','dans','pour'))) AS s_fr
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Corpus token statistics per (lang, source) — all-integer exact. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextOps.tokens(col("text")))
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"), nTok.as("n_tokens"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "source")
  }

  private val tokenStatsSql =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  MIN(n_tokens) AS min_tokens,
      |  MAX(n_tokens) AS max_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM (SELECT lang, source, n_chars, len(string_split(text, ' ')) AS n_tokens
      |      FROM documents)
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** Per-(source, lang) **data card** — the corpus-composition report a
    * training-mix publishes: document/token/char volume, exact-duplicate
    * rate, and quality-gate pass rate per slice. Exact-dup marking is a
    * count window over the sha256 hash (ONE shuffle on the hash, no
    * self-join — the doc row keeps all its columns and picks up its
    * duplicate-group size in place), followed by the per-slice aggregate
    * (map-side combine on ≤ sources×langs groups). All counts integer ⇒
    * full hash oracle. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val metrics = TextOps.gopherMetrics(col("text"))
    val keep = TextOps.gopherRules.map(_._2).reduce(_ && _)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id") +: col("source") +: col("lang") +:
        col("n_chars") +: sha2(col("text"), 256).as("h") +:
        metrics.map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("h"), col("n_tokens").cast("long").as("n_tok"), keep.as("keep"))
      .withColumn("hc", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("hc") > 1, 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .orderBy(col("source"), col("lang"))
  }

  private val corpusStatsSql =
    s"""SELECT source, lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(CASE WHEN hc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      |FROM (SELECT source, lang, n_chars, n_tok, keep,
      |        COUNT(*) OVER (PARTITION BY h) AS hc
      |      FROM (SELECT source, lang, n_chars, sha256(text) AS h,
      |          CAST(len(w) AS BIGINT) AS n_tok,
      |          ${TextOps.GopherSql.keepPredicate} AS keep
      |        FROM (SELECT source, lang, n_chars, text, string_split(text, ' ') AS w
      |              FROM documents)))
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  /** Corpus-wide n-gram heavy hitters — the data-card statistic every
    * training-mix report carries (most frequent trigrams + how many
    * documents they touch). Scale shape: explode → map-side partial
    * count → one shuffle on the shingle, and the global top-25 is a
    * TakeOrderedAndProject (per-partition heap + driver merge, no global
    * sort shuffle); doc frequency comes from a two-step aggregate —
    * per-(shingle, doc) counts first, then sum + count per shingle —
    * NOT count_distinct, whose expand doubles the aggregated stream
    * (measured 8.6 s vs 4.8 s at sf0.1). Ties broken by the shingle
    * string, so the cut is total and the oracle exact. */
  def ngramStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), 3)).as("s"))
      .groupBy(col("s"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("s"))
      .agg(sum(col("c")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("s"))
      .limit(25)

  private val ngramStatsSql =
    """SELECT s, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
      |FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |           UNNEST(range(1, len(w) - 1)) AS t(i))
      |GROUP BY s
      |ORDER BY n_occurrences DESC, s
      |LIMIT 25""".stripMargin

  /** BPE-style pre-tokenization stats per document: token count, distinct
    * token ("type") count, and the alnum-run share — the tokenizer-aware
    * twin of the whitespace [[tokenStats]]. The extraction regex is
    * RE2-compatible, so the oracle runs the identical pattern. */
  def tokenBpe(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.bpeishTokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("__t"))
      .select(col("doc_id"),
        size(col("__t")).as("n_bpe_tokens"),
        size(array_distinct(col("__t"))).as("n_bpe_types"),
        size(filter(col("__t"), t => t.rlike("^[A-Za-z0-9]"))).as("n_word_tokens"))
      .orderBy("doc_id")
  }

  private val tokenBpeSql =
    """SELECT doc_id,
      |  len(t) AS n_bpe_tokens,
      |  len(list_distinct(t)) AS n_bpe_types,
      |  len(list_filter(t, x -> regexp_matches(x, '^[A-Za-z0-9]'))) AS n_word_tokens
      |FROM (SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]') AS t
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** BPE merge-loop trainer ([[graft.operators.Bpe.train]]): 64
    * iterations of corpus-wide adjacent-pair counting + deterministic
    * best-pair merge (count desc, pair asc) — all 64 run in ONE
    * driver-side pass over the collected word table (one Spark job
    * total). Full hash oracle: the greedy left-to-right merge fold runs
    * verbatim as DuckDB `list_reduce`, so the oracle replays the
    * identical 64 stages — pair counts, argmax tie-breaks, and rewrites
    * — as a generated unrolled CTE chain. */
  def tokenBpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.train(Tables.documents(spark, dir), col("text"),
        nMerges = 64)
      .orderBy("step")

  /** The merge-rewrite lambda both BPE oracles splice into `list_reduce`
    * — the same greedy left-to-right string fold the Spark side
    * codegens. */
  private def bpeFoldSql(b: String): String =
    s"""(acc, x) -> CASE
       |            WHEN (acc = $b.l OR ends_with(acc, ' ' || $b.l)) AND x = $b.r
       |            THEN acc || x ELSE acc || ' ' || x END""".stripMargin

  /** Shared WITH-clause body for the BPE oracles: vocab (w0/s0), then per
    * stage k the pair counts (pk), the argmax best pair (bk), and the
    * rewritten vocab (sk). Generated, not hand-written. Each sk/bk is
    * MATERIALIZED: DuckDB inlines CTEs by default, and since stage k
    * references s(k−1) twice (pair counts + rewrite), inlining doubles
    * the expansion per stage — at 64 stages that is 2⁶⁴ scans (the
    * un-hinted form exhausts file descriptors before it exhausts time).
    * Materialization makes the oracle evaluate each stage once, exactly
    * like the trainer it checks. */
  private def bpeOracleStages(nMerges: Int): String = {
    val stages = (1 to nMerges).map { k =>
      val prev = s"s${k - 1}"
      s"""p$k AS (SELECT syms[i] AS l, syms[i + 1] AS r,
         |          CAST(SUM(cnt) AS BIGINT) AS c
         |        FROM $prev, UNNEST(range(1, len(syms))) AS t(i)
         |        GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |s$k AS MATERIALIZED (SELECT $prev.cnt, string_split(list_reduce($prev.syms,
         |          ${bpeFoldSql("b")}), ' ') AS syms
         |        FROM $prev CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (SELECT tok AS w, COUNT(*) AS cnt
       |  FROM (SELECT unnest(regexp_extract_all(text,
       |          '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS tok FROM documents)
       |  GROUP BY tok),
       |s0 AS MATERIALIZED (SELECT cnt,
       |         list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
       |       FROM w0),
       |$stages""".stripMargin
  }

  private val tokenBpeTrainSql = {
    val union = (1 to 64)
      .map(k => s"SELECT $k AS step, l AS lhs, r AS rhs, c AS pair_count FROM b$k")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeOracleStages(64)}
       |$union
       |ORDER BY step""".stripMargin
  }

  /** The encode half of the tokenizer, closing the train→encode loop
    * ([[graft.operators.Bpe.encode]] replaying [[tokenBpeTrain]]'s merge
    * table over every document). Full hash oracle: the oracle re-derives
    * the same 8 merges from its trainer stages, replays them per word
    * with the identical `list_reduce` fold, and reassembles each doc's
    * symbol stream in token order — symbol count, distinct-symbol count,
    * and an md5 over the space-joined stream (symbols never contain
    * spaces, so the join is lossless) must all match bitwise. */
  def tokenBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.operators.Bpe.train(docs, col("text"), nMerges = 8)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.encodeDocs(docs, col("doc_id"), col("text"), merges)
      .select(col("doc_id"),
        size(col("syms")).as("n_syms"),
        size(array_distinct(col("syms"))).as("n_sym_types"),
        md5(array_join(col("syms"), " ")).as("enc_md5"))
      .orderBy("doc_id")
  }

  private val tokenBpeEncodeSql = {
    val docStages = (1 to 8).map { k =>
      s"""d$k AS (SELECT doc_id, i, string_split(list_reduce(d${k - 1}.syms,
         |          ${bpeFoldSql("b")}), ' ') AS syms
         |        FROM d${k - 1} CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeOracleStages(8)},
       |toks AS (SELECT doc_id, regexp_extract_all(text,
       |           '[A-Za-z0-9]+|[^A-Za-z0-9 ]') AS tk FROM documents),
       |d0 AS (SELECT doc_id, i,
       |         list_transform(range(1, len(tk[i]) + 1), j -> tk[i][j]) AS syms
       |       FROM toks, UNNEST(range(1, len(tk) + 1)) AS t(i)),
       |$docStages,
       |enc AS (SELECT doc_id, flatten(list(syms ORDER BY i)) AS fs
       |        FROM d8 GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(len(fs), 0) AS INT) AS n_syms,
       |  CAST(COALESCE(len(list_distinct(fs)), 0) AS INT) AS n_sym_types,
       |  md5(COALESCE(array_to_string(fs, ' '), '')) AS enc_md5
       |FROM documents d LEFT JOIN enc ON enc.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Content fingerprints via cryptographic digests (md5/sha256) — the
    * oracle-checkable half of document fingerprinting; the rolling-hash
    * winnowing fingerprint is [[winnowFingerprint]] (rows-only, xxhash64
    * has no DuckDB twin). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("text")).as("md5_hex"),
        sha2(col("text"), 256).as("sha256_hex"),
        length(col("text")).as("n_char"))
      .orderBy("doc_id")

  private val docFingerprintSql =
    """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
      |  length(text) AS n_char
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken): hash all char
    * 8-grams, take the min hash of each sliding window of 16, distinct.
    * One codegen'd pass per document ([[graft.functions.WinnowFingerprint]]
    * — monotonic-deque minima straight off the UTF-8 buffer); the
    * interpreted-HOF formulation it replaced lives on in WinnowSpec as the
    * property-test reference. HASH-CHECKED since the grams are keyed with
    * the md5→60-bit idiom ([[graft.functions.WinnowFingerprint.md5Keyed]]):
    * the DuckDB oracle replays gram hashing, the 16-wide sliding minima
    * (a window MIN), the short-document single-window convention, and the
    * distinct reduction as the same exact integers. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = graft.functions.WinnowFingerprint.md5Keyed(col("text"), 8, 16)
    Tables.documents(spark, dir)
      .select(col("doc_id"), fp.as("__fp"))
      .select(col("doc_id"),
        size(col("__fp")).as("n_fingerprints"),
        array_min(col("__fp")).as("min_fp"))
      .orderBy("doc_id")
  }

  private val winnowFingerprintSql =
    """WITH g AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), 8)), 1, 15))
      |         AS BIGINT) AS h
      |  FROM documents,
      |    UNNEST(range(1, GREATEST(length(text) - 7, 1) + 1)) AS t(i)),
      |mins AS MATERIALIZED (
      |  SELECT doc_id,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
      |                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS m,
      |    i, COUNT(*) OVER (PARTITION BY doc_id) AS ng
      |  FROM g)
      |SELECT doc_id,
      |  CAST(COUNT(DISTINCT m) AS INT) AS n_fingerprints,
      |  MIN(m) AS min_fp
      |FROM mins
      |WHERE i >= LEAST(ng, 16)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin


  /** Subset-duplicate detection via **containment** |A∩B|/min(|A|,|B|) —
    * the complement of [[dedupNgram]]'s Jaccard: a doc wholly embedded in
    * a bigger one scores J≈|A|/|B| (missed) but containment ≈1 (caught). */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainment(Tables.documents(spark, dir),
        col("doc_id"), col("text"), n = 3, threshold = 0.9)
      .orderBy("doc_a", "doc_b")

  private val dedupContainmentSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, inter, za.n AS na, zb.n AS nb,
      |  CAST(inter AS DOUBLE) / CAST(least(za.n, zb.n) AS DOUBLE) AS containment
      |FROM inter JOIN sizes za ON za.doc_id = doc_a
      |           JOIN sizes zb ON zb.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / CAST(least(za.n, zb.n) AS DOUBLE) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Train–test **decontamination**: every 20th document plays the held-out
    * benchmark; any remaining (training) doc sharing a 3-gram shingle with
    * the benchmark set is reported with its overlap fraction. The bench
    * side collapses to distinct shingle hashes and broadcasts
    * ([[Dedup.contamination]]) — the 100 TB corpus side never shuffles for
    * candidate generation. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.contamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
      |train AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id),
      |hits AS (SELECT t.doc_id, COUNT(*) AS n_shared
      |         FROM train t JOIN bench b ON t.s = b.s GROUP BY t.doc_id)
      |SELECT h.doc_id, n_shared, n_shingles,
      |  CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination
      |FROM hits h JOIN sizes z ON z.doc_id = h.doc_id
      |ORDER BY h.doc_id""".stripMargin

  /** [[decontaminate]] through the Bloom-runtime-filter path
    * ([[Dedup.contaminationBloom]]): same split, same output, same oracle
    * — the exact verify behind the Bloom prefilter makes false positives
    * unobservable. Registered alongside the broadcast form because the
    * two diverge exactly where 100 TB pipelines live: a benchmark suite
    * too big to broadcast still fits a few-MB Bloom filter evaluated at
    * the corpus scan. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.contaminationBloom(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id")
  }

  /** Corpus-QA duplication profile: per doc, the fraction of its distinct
    * 3-gram shingles that occur in ≥2 documents corpus-wide — the
    * histogram behind dedup-threshold tuning. */
  def dupCoverage(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicationProfile(Tables.documents(spark, dir),
        col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id")

  private val dupCoverageSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
      |dfr AS (SELECT s, COUNT(*) AS dfr FROM sh GROUP BY s)
      |SELECT doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN dfr >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(SUM(CASE WHEN dfr >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
      |FROM sh JOIN dfr USING (s)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Sparse bag-of-trigrams cosine near-dup pairs via [[Dedup.sparseCosine]]'s
    * stop-gram-pruned inverted index — the multiplicity-aware complement
    * of the set-Jaccard family (a doc that repeats a passage scores
    * higher here than under distinct-shingle Jaccard). */
  def sparseCosineQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.sparseCosine(Tables.documents(spark, dir),
        col("doc_id"), col("text"), n = 3, maxDfFrac = 20, threshold = 0.6)
      .orderBy("doc_a", "doc_b")

  private val sparseCosineSql =
    """WITH tf AS (
      |  SELECT doc_id, s, COUNT(*) AS tf FROM (
      |    SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |         UNNEST(range(1, len(w)-1)) AS t(i))
      |  GROUP BY doc_id, s),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |kept AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM tf GROUP BY s), n
      |         WHERE df * 20 <= n),
      |tfk AS (SELECT tf.* FROM tf JOIN kept USING (s)),
      |norms AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS nn FROM tfk GROUP BY doc_id),
      |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                CAST(SUM(a.tf*b.tf) AS BIGINT) AS dot
      |         FROM tfk a JOIN tfk b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, dot, za.nn AS na, zb.nn AS nb,
      |  CAST(dot AS DOUBLE)/(sqrt(CAST(za.nn AS DOUBLE))*sqrt(CAST(zb.nn AS DOUBLE))) AS cosine
      |FROM dots JOIN norms za ON za.doc_id = doc_a
      |          JOIN norms zb ON zb.doc_id = doc_b
      |WHERE CAST(dot AS DOUBLE)/(sqrt(CAST(za.nn AS DOUBLE))*sqrt(CAST(zb.nn AS DOUBLE))) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Top-3 characteristic terms per document by tf·(1/df) — the tf-idf
    * family with a RATIONAL score (no logarithm), so the ranking is exact
    * integer arithmetic in IEEE doubles and both engines order ties
    * identically (score desc, term asc). Only integers are emitted. */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df").cast("double")).desc,
        col("term"))
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  private val tfidfTermsSql =
    """WITH t AS (SELECT doc_id, u.term AS term, COUNT(*) AS tf
      |           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |                UNNEST(w) AS u(term)
      |           GROUP BY doc_id, u.term),
      |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term)
      |SELECT doc_id, term, tf, df, rank FROM (
      |  SELECT t.doc_id, t.term, t.tf, d.df,
      |    row_number() OVER (PARTITION BY t.doc_id
      |      ORDER BY CAST(t.tf AS DOUBLE) / CAST(d.df AS DOUBLE) DESC, t.term) AS rank
      |  FROM t JOIN d USING (term))
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** PII redaction over a synthesized contact blurb (the corpus itself is
    * word soup, so each doc gets a deterministic email/phone/IP preamble
    * built from its id — same trick as the multimodal payloads, making
    * the scrubbed text and all counts fully hash-checkable). Patterns are
    * RE2-safe so the oracle applies the identical regexes; counts are
    * taken pre-scrub. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val pii = concat(
      lit("contact u"), col("doc_id"), lit("@example.com or 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 7) % 256).cast("string"),
      when(col("doc_id") % 3 === 0, lit(" cc admin@example.org")).otherwise(lit("")),
      lit(" "), substring(col("text"), 1, 40))
    Tables.documents(spark, dir)
      .select(col("doc_id"), pii.as("__raw"))
      .select(col("doc_id"),
        TextOps.scrubPii(col("__raw")).as("scrubbed"),
        TextOps.matchCount(col("__raw"), TextOps.emailRe).as("n_email"),
        TextOps.matchCount(col("__raw"), TextOps.phoneRe).as("n_phone"),
        TextOps.matchCount(col("__raw"), TextOps.ipRe).as("n_ip"))
      .orderBy("doc_id")
  }

  private val piiScrubSql =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(raw,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS scrubbed,
      |  len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |  len(regexp_extract_all(raw, '\b555-[0-9]{4}\b')) AS n_phone,
      |  len(regexp_extract_all(raw, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip
      |FROM (SELECT doc_id,
      |        'contact u' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
      |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |        ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |        CAST((doc_id * 7) % 256 AS VARCHAR) ||
      |        CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END ||
      |        ' ' || substr(text, 1, 40) AS raw
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Text normalization ([[TextOps.normalize]]) over deterministically
    * messied documents: each doc gets a combining-sequence prefix
    * ("Cafe" + U+0301), a zero-width space, a tab, and trailing blanks
    * bolted on, so every step of the chain — NFC composition, control/
    * zero-width strip, whitespace collapse, trim — must fire to match
    * the oracle. Runs UPSTREAM of [[dedupExact]] in a real pipeline
    * (NFC-distinct texts hash apart raw — see TextOpsSpec's
    * combining-char near-pair). */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    // "Cafe" + COMBINING ACUTE + space + tab + ZWSP: explicit escapes,
    // mirroring the oracle's chr() calls character for character
    val raw = concat(lit("Cafe\u0301 \t\u200B"), substring(col("text"), 1, 40),
      lit("  "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), raw.as("__raw"))
      .select(col("doc_id"),
        TextOps.normalize(col("__raw")).as("norm_text"),
        length(col("__raw")).as("n_raw_chars"),
        length(TextOps.normalize(col("__raw"))).as("n_norm_chars"))
      .orderBy("doc_id")
  }

  private val textNormalizeSql =
    """SELECT doc_id, norm_text, n_raw_chars, length(norm_text) AS n_norm_chars
      |FROM (SELECT doc_id,
      |        trim(regexp_replace(regexp_replace(nfc_normalize(raw),
      |          '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}\x{200C}\x{200D}\x{FEFF}]',
      |          '', 'g'), '[ \t\n\r]+', ' ', 'g')) AS norm_text,
      |        length(raw) AS n_raw_chars
      |      FROM (SELECT doc_id,
      |              'Cafe' || chr(769) || ' ' || chr(9) || chr(8203) ||
      |                substr(text, 1, 40) || '  ' AS raw
      |            FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Corpus-frequency **boilerplate scrub** ([[graft.operators
    * .Boilerplate.scrubFrequent]]): C4/CCNet's "drop any line seen in
    * ≥ N pages" on 3-token segments (the corpus has no newlines) with
    * minDocs = 3. Full hash oracle: the frequency criterion and the
    * document-order reassembly are exact string arithmetic in both
    * engines (the engine's xxhash64 segment keys collide w.p. ~0, see
    * the operator scaladoc). */
  def boilerplateScrub(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.scrubFrequent(
        Tables.documents(spark, dir), col("doc_id"), col("text"),
        k = 3, minDocs = 3)
      .orderBy("doc_id")

  private val boilerplateScrubSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (SELECT doc_id, CAST(t.k / 3 AS BIGINT) AS blk_no,
      |        array_to_string(w[t.k+1 : t.k+3], ' ') AS seg
      |      FROM d, UNNEST(range(0, greatest(len(w), 1), 3)) AS t(k)),
      |f AS (SELECT seg, TRUE AS is_bp FROM b
      |      GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(COUNT(*) FILTER (WHERE is_bp) AS BIGINT) AS n_scrubbed_blocks,
      |  CAST(COALESCE(SUM(len(string_split(seg, ' '))) FILTER (WHERE is_bp), 0)
      |    AS BIGINT) AS n_scrubbed_tokens,
      |  COALESCE(string_agg(seg, ' ' ORDER BY blk_no)
      |    FILTER (WHERE is_bp IS NULL), '') AS text_clean
      |FROM b LEFT JOIN f USING (seg)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** **Fraction-criterion boilerplate scrub** ([[graft.operators
    * .Boilerplate.scrubFrequentFraction]]): the same C4/CCNet scrub with
    * the page-fraction rule — drop segments in ≥ max(2, ⌈D/2000⌉) docs —
    * where the doc-frequency stage runs as the Misra–Gries two-phase
    * heavy-hitter shape (doc-local distinct, ≤ kSummary rows/task
    * summary, exact recount of candidates only) instead of an exact
    * distinct-segment aggregate. The whole scrub still hash-matches the
    * exact DuckDB twin: candidates are guaranteed complete above the
    * runtime-guarded threshold, and everything emitted passes the exact
    * recount. */
  def boilerplateFrequent(spark: SparkSession, dir: String): DataFrame =
    // auto form: a deterministic segment-count upper bound sizes the
    // summary per corpus; the exact in-plan guard still certifies
    graft.operators.Boilerplate.scrubFrequentFractionAuto(
        Tables.documents(spark, dir), col("doc_id"), col("text"),
        k = 3, numer = 1, denom = 2000)
      .orderBy("doc_id")

  private val boilerplateFrequentSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (SELECT doc_id, CAST(t.k / 3 AS BIGINT) AS blk_no,
      |        array_to_string(w[t.k+1 : t.k+3], ' ') AS seg
      |      FROM d, UNNEST(range(0, greatest(len(w), 1), 3)) AS t(k)),
      |dd AS (SELECT DISTINCT doc_id, seg FROM b),
      |t AS (SELECT greatest(2,
      |        ((SELECT COUNT(*) FROM documents) * 1 + 1999) // 2000) AS thr),
      |f AS (SELECT seg, TRUE AS is_bp FROM dd, t
      |      GROUP BY seg, thr HAVING COUNT(*) >= thr)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(COUNT(*) FILTER (WHERE is_bp) AS BIGINT) AS n_scrubbed_blocks,
      |  CAST(COALESCE(SUM(len(string_split(seg, ' '))) FILTER (WHERE is_bp), 0)
      |    AS BIGINT) AS n_scrubbed_tokens,
      |  COALESCE(string_agg(seg, ' ' ORDER BY blk_no)
      |    FILTER (WHERE is_bp IS NULL), '') AS text_clean
      |FROM b LEFT JOIN f USING (seg)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** **Intra-document repetition scrub** ([[graft.operators.Boilerplate
    * .scrubRepeatedBlocks]]): within each page, repeats of an
    * earlier-seen 3-token segment are dropped, first occurrence kept —
    * zero-shuffle per-row HOFs on the engine side; the oracle spells the
    * same keep-first semantics relationally (min-blk_no window). */
  def intradocScrub(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.scrubRepeatedBlocks(
        Tables.documents(spark, dir), col("doc_id"), col("text"), k = 3)
      .orderBy("doc_id")

  private val intradocScrubSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (SELECT doc_id, CAST(t.k AS BIGINT) AS blk_no,
      |        array_to_string(w[t.k+1 : t.k+3], ' ') AS seg
      |      FROM d, UNNEST(range(0, greatest(len(w), 1), 3)) AS t(k)),
      |m AS (SELECT doc_id, blk_no, seg,
      |        MIN(blk_no) OVER (PARTITION BY doc_id, seg) AS first_blk
      |      FROM b)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(COUNT(*) FILTER (WHERE blk_no <> first_blk) AS BIGINT)
      |    AS n_dup_blocks,
      |  CAST(COALESCE(SUM(len(string_split(seg, ' ')))
      |    FILTER (WHERE blk_no <> first_blk), 0) AS BIGINT) AS n_dup_tokens,
      |  COALESCE(string_agg(seg, ' ' ORDER BY blk_no)
      |    FILTER (WHERE blk_no = first_blk), '') AS text_clean
      |FROM m
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** **DSIR importance selection** ([[graft.operators.Dsir]]): the 100
    * documents whose token distribution is most target-like, target =
    * the English subset — the log-free exact-oracle surrogate of Xie et
    * al. 2023's hashed likelihood-ratio scoring (see the operator
    * scaladoc for why the log is deliberately never computed). */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.selectTopK(
      graft.operators.Dsir.importanceScores(
        Tables.documents(spark, dir), col("doc_id"), col("text"),
        col("lang") === "en"),
      kDocs = 100)

  private val dsirSelectSql =
    """WITH toks AS (SELECT doc_id, lang = 'en' AS is_t,
      |              UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_raw,
      |           CAST(COUNT(*) FILTER (WHERE is_t) AS BIGINT) AS c_tgt
      |         FROM toks GROUP BY tok)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(c_tgt) AS BIGINT) AS sum_ct,
      |  CAST(SUM(c_raw) AS BIGINT) AS sum_cr,
      |  CAST(SUM(c_tgt) AS DOUBLE) / CAST(SUM(c_raw) AS DOUBLE) AS score
      |FROM toks JOIN freq USING (tok)
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT 100""".stripMargin

  /** [[dsirSelect]] over the paper's fuller feature space: unigrams
    * UNION word bigrams (tokens cannot contain spaces, so the feature
    * kinds never collide as strings — the oracle unions the same two
    * streams). */
  def dsirSelectBigrams(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.selectTopK(
      graft.operators.Dsir.importanceScores(
        Tables.documents(spark, dir), col("doc_id"), col("text"),
        col("lang") === "en", bigrams = true),
      kDocs = 100)

  private val dsirSelectBigramsSql =
    """WITH feats AS (
      |  SELECT doc_id, lang = 'en' AS is_t,
      |    UNNEST(string_split(text, ' ')) AS tok FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang = 'en' AS is_t, w[pos+1] || ' ' || w[pos+2] AS tok
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
      |        FROM documents),
      |       UNNEST(range(0, len(w) - 1)) AS t(pos)),
      |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_raw,
      |           CAST(COUNT(*) FILTER (WHERE is_t) AS BIGINT) AS c_tgt
      |         FROM feats GROUP BY tok)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(c_tgt) AS BIGINT) AS sum_ct,
      |  CAST(SUM(c_raw) AS BIGINT) AS sum_cr,
      |  CAST(SUM(c_tgt) AS DOUBLE) / CAST(SUM(c_raw) AS DOUBLE) AS score
      |FROM feats JOIN freq USING (tok)
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT 100""".stripMargin

  /** The true DSIR log importance weight ([[graft.operators.Dsir
    * .logWeights]]) — rows-only BY CONTRACT: this is the one operator
    * family where the engine computes `ln`, and libm rounding is not
    * required to agree across engines, so there is no hash oracle;
    * DsirSpec property-tests the values against an independent
    * driver-side fold, and the hash-checked surrogate twin is
    * `dsir_select`. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.logWeights(
        Tables.documents(spark, dir), col("doc_id"), col("text"),
        col("lang") === "en")
      .orderBy("doc_id")

  /** **End-to-end corpus preparation** — the capstone composition a
    * training-data pipeline actually runs, every stage one of this
    * library's operators and the whole chain one exact oracle:
    * normalize → Gopher gate → intra-document repetition scrub → PII
    * scrub (the [[graft.streaming.StreamingDownsample.cleanStream]]
    * batch projection, so THIS query is also what the streaming ingest
    * path converges to) → exact dedup of the cleaned text (keep the
    * smallest doc_id per identical text; the shuffle carries the 32-byte
    * sha256, never the text — the oracle partitions by the string, same
    * result w.p. ~1) → token-budget quality cut
    * ([[graft.operators.Sampling.budgetSelect]], score = distinct-token
    * count, shared two-phase prefix sum). On this corpus the normalize
    * and PII stages are no-ops by construction (plain ASCII, no
    * contacts) — they still run, and the gate/scrub/dedup/budget stages
    * all bind. */
  /** The capstone's shared stages: (cleaned frame, budget selection).
    * One definition feeds the registered query AND the materializer, so
    * the artifact on disk can never drift from the checked rows. */
  private def preparedSelection(spark: SparkSession, dir: String,
      budgetTokens: Long): (DataFrame, DataFrame) = {
    val cleaned = graft.operators.Dedup.memoPersist(
      graft.streaming.StreamingDownsample.cleanStream(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))))
    val keepers = cleaned
      .groupBy(sha2(col("clean_text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = cleaned.join(keepers, Seq("doc_id"), "semi")
    (cleaned, graft.operators.Sampling.budgetSelect(kept, col("doc_id"),
      score = size(array_distinct(split(col("clean_text"), " "))),
      nTokens = size(split(col("clean_text"), " ")),
      budgetTokens = budgetTokens))
  }

  def llmPrepareCorpus(spark: SparkSession, dir: String): DataFrame =
    preparedSelection(spark, dir, budgetTokens = 6000)._2
      .orderBy(col("score").desc, col("doc_id"))

  /** Materialize the prepared corpus — the artifact half of the
    * capstone (the reference's whole job is WRITING the consumable
    * parquet, `main.py:177-184`): the budget-kept documents with their
    * cleaned text, range-partitioned and sorted by doc_id so a
    * dataloader reads contiguous id ranges and min/max pruning serves
    * id-range slices ([[graft.operators.Chunking.writePackedShards]]'s
    * layout discipline). Rejoining `clean_text` by doc_id costs one
    * broadcast of the (budget-bounded) selection into the persisted
    * clean stage — the text column itself never shuffles. */
  def writePreparedCorpus(spark: SparkSession, dir: String, path: String,
      budgetTokens: Long = 6000, maxRecordsPerFile: Long = 1L << 20): Unit = {
    val (cleaned, sel) = preparedSelection(spark, dir, budgetTokens)
    broadcast(sel)
      .join(cleaned, "doc_id")
      .select(col("doc_id"), col("score"), col("n_tokens"),
        col("cum_tokens"), col("clean_text"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
  }

  private val llmPrepareCorpusSql = {
    import graft.operators.TextOps
    s"""WITH n0 AS (SELECT doc_id,
       |        trim(regexp_replace(regexp_replace(nfc_normalize(text),
       |          '${TextOps.ctlZeroWidthRe}', '', 'g'),
       |          '${TextOps.wsRunRe}', ' ', 'g')) AS text
       |      FROM documents),
       |gk AS (SELECT doc_id, text FROM
       |        (SELECT doc_id, text, string_split(text, ' ') AS w FROM n0)
       |      WHERE ${TextOps.GopherSql.keepPredicate}),
       |b AS (SELECT doc_id, CAST(t.k AS BIGINT) AS blk_no,
       |        array_to_string(w[t.k+1 : t.k+3], ' ') AS seg
       |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM gk),
       |           UNNEST(range(0, greatest(len(w), 1), 3)) AS t(k)),
       |m AS (SELECT doc_id, blk_no, seg,
       |        MIN(blk_no) OVER (PARTITION BY doc_id, seg) AS fb FROM b),
       |sc AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY blk_no)
       |         FILTER (WHERE blk_no = fb) AS text_clean
       |       FROM m GROUP BY doc_id),
       |p AS (SELECT doc_id,
       |        regexp_replace(regexp_replace(regexp_replace(text_clean,
       |          '${TextOps.emailRe}', '<EMAIL>', 'g'),
       |          '${TextOps.phoneRe}', '<PHONE>', 'g'),
       |          '${TextOps.ipRe}', '<IP>', 'g') AS clean
       |      FROM sc),
       |d AS (SELECT doc_id, clean FROM
       |        (SELECT doc_id, clean,
       |           MIN(doc_id) OVER (PARTITION BY clean) AS kp FROM p)
       |      WHERE doc_id = kp),
       |meta AS (SELECT doc_id,
       |        CAST(len(list_distinct(string_split(clean, ' '))) AS BIGINT)
       |          AS score,
       |        CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tokens
       |      FROM d),
       |c AS (SELECT doc_id, score, n_tokens,
       |        CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |          AS cum_tokens
       |      FROM meta)
       |SELECT doc_id, score, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens - n_tokens < 6000
       |ORDER BY score DESC, doc_id""".stripMargin
  }

  // -------------------------------------------------------- sampling

  /** Language-stratified reproducible sample: en 30%, de 60%, fr 100%,
    * everything else dropped — the deterministic training-mix operator
    * ([[graft.operators.Sampling]]); exact-membership oracle because both
    * engines compare identical md5 hex against the same thresholds. */
  def corpusSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
        Tables.documents(spark, dir), col("doc_id"), col("lang"),
        fractions = Map("en" -> 0.3, "de" -> 0.6, "fr" -> 1.0))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  // thresholds generated from the SAME function the operator uses, so the
  // double→threshold rounding can never diverge between engine and oracle
  private val corpusSampleSql = {
    val th = graft.operators.Sampling.thresholdHex _
    s"""SELECT doc_id, lang FROM documents
       |WHERE md5('graft' || CAST(doc_id AS VARCHAR)) <
       |  CASE lang WHEN 'fr' THEN '${th(1.0)}'
       |            WHEN 'de' THEN '${th(0.6)}'
       |            WHEN 'en' THEN '${th(0.3)}'
       |            ELSE '${th(0.0)}' END
       |ORDER BY doc_id""".stripMargin
  }

  /** **Deterministic weighted sample** ([[graft.operators.Sampling
    * .weightedPriorityTopK]]): the 64 documents with the smallest
    * `hash/weight` priority, weight = document length — longer documents
    * proportionally more likely, membership a pure function of (salt,
    * corpus). The priority is one IEEE division of exactly-equal
    * operands in both engines, so the whole sample (including the
    * priority doubles) is hash-oracle-checkable; plans as
    * TakeOrderedAndProject (map-side bounded top-k, no global sort). */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedPriorityTopK(
        Tables.documents(spark, dir), col("doc_id"), col("n_chars"), k = 64)
      .withColumnRenamed("key", "doc_id")

  private val weightedSampleSql =
    """SELECT doc_id, n_chars AS weight,
      |  CAST(CAST(concat('0x', substr(md5(concat('graftws', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
      |    / CAST(n_chars AS DOUBLE) AS priority
      |FROM documents
      |WHERE n_chars > 0
      |ORDER BY priority, doc_id
      |LIMIT 64""".stripMargin

  /** **Exact-n stratified sample** ([[graft.operators.Sampling
    * .exactNPerStratum]]): a fixed 20-document quota per language in
    * md5 hash order — map-side partial top-k per stratum (BoundedTopK),
    * never a per-stratum sort task. Exact-membership oracle: the window
    * formulation in SQL, the aggregate formulation in Spark, same rows. */
  def corpusSampleExactN(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.exactNPerStratum(
        Tables.documents(spark, dir), col("doc_id"), col("lang"), n = 20)
      .select(col("stratum").as("lang"), col("key").as("doc_id"), col("rn"))
      .orderBy("lang", "rn")

  private val corpusSampleExactNSql =
    """SELECT lang, doc_id, rn FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 20
      |ORDER BY lang, rn""".stripMargin

  /** **Temperature-scaled training mix** ([[graft.operators.Sampling
    * .temperatureMix]], α = ½, T = 200 over `lang`): exact-membership
    * oracle because every float step — √n, the running-sum normalizer
    * in sorted-stratum order, ⌊T·√n/Σ⌋ — is IEEE-correctly-rounded
    * arithmetic both engines compute identically (see the operator
    * scaladoc for why α is pinned to ½). */
  def corpusMixTemperature(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureMix(
        Tables.documents(spark, dir), col("doc_id"), col("lang"),
        totalDocs = 200)
      .select(col("stratum").as("lang"), col("key").as("doc_id"), col("rn"))
      .orderBy("lang", "rn")

  private val corpusMixTemperatureSql =
    """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY lang),
      |w AS (SELECT lang, sqrt(CAST(n AS DOUBLE)) AS s FROM c),
      |tot AS (SELECT MAX(cum) AS total FROM (
      |    SELECT SUM(s) OVER (ORDER BY lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM w)),
      |q AS (SELECT lang, CAST(FLOOR(200 * s / total) AS BIGINT) AS quota
      |      FROM w, tot),
      |r AS (SELECT lang, doc_id,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id)
      |          AS rn
      |      FROM documents)
      |SELECT lang, doc_id, rn
      |FROM r JOIN q USING (lang)
      |WHERE rn <= quota
      |ORDER BY lang, rn""".stripMargin

  /** **Deterministic global shuffle** ([[graft.operators.Sampling
    * .shufflePositions]]): stable training order + contiguous shard ids
    * via the two-phase prefix-sum rank — no single-task global window.
    * Exact oracle: row_number over the same md5 order. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shufflePositions(
        Tables.documents(spark, dir), col("doc_id"), shardSize = 16L)
      .select(col("key").as("doc_id"), col("pos"), col("shard"))
      .orderBy("pos")

  private val corpusShuffleSql =
    """SELECT doc_id, pos, CAST(FLOOR((pos - 1) / 16) AS BIGINT) AS shard FROM (
      |  SELECT doc_id, row_number() OVER (
      |      ORDER BY md5('shuf' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
      |  FROM documents)
      |ORDER BY pos""".stripMargin

  /** **Token-budget selection** ([[graft.operators.Sampling
    * .budgetSelect]]): the 10k best tokens, quality-ordered — score is
    * the document's distinct-token count (lexical diversity, an
    * integer both engines compute identically), ties broken by doc_id,
    * kept while the exclusive running token total is under budget. The
    * cumulative count is the shared two-phase prefix sum, so the sweep
    * never funnels per-doc rows through one task. Exact oracle: integer
    * running sums under a deterministic total order. */
  def corpusBudget(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    graft.operators.Sampling.budgetSelect(d, col("doc_id"),
        score = size(array_distinct(TextOps.tokens(col("text")))),
        nTokens = size(TextOps.tokens(col("text"))),
        budgetTokens = 10000L)
      .orderBy(col("score").desc, col("doc_id"))
  }

  private val corpusBudgetSql =
    """WITH d AS (SELECT doc_id,
      |        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS score,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |c AS (SELECT doc_id, score, n_tokens,
      |        CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          AS cum_tokens
      |      FROM d)
      |SELECT doc_id, score, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens - n_tokens < 10000
      |ORDER BY score DESC, doc_id""".stripMargin

  /** Training-mix **source rebalancing**: pick per-source document
    * subsets so the sampled TOKEN mass approaches target source weights
    * (here sources src0–src4 get 3× the weight of the rest) without
    * upsampling — the "match the data card's mixture" op every
    * multi-source corpus build runs. The feasibility scale is
    * λ = min_s T_s/w_s (the binding source keeps everything); per-source
    * keep counts are k_s = ⌊n_s · (T_m·w_s)/(w_m·T_s)⌋ with the PAIR
    * products exact in int64 (T·w ≤ ~2⁶³ even at 10¹² tokens × 10³
    * weights) and the ratio/multiply in IEEE doubles — bitwise identical
    * in both engines, which keeps membership oracle-checkable, and free
    * of the int64 overflow a triple product T·w·n would hit at corpus
    * scale. The binding source's ratio is EXACTLY 1.0 (identical int64
    * products on both sides of the division), so it keeps all n_m docs.
    * Membership itself is the md5-rank rule: the k_s smallest
    * md5(salt‖id) docs per source — same deterministic-uniform draw as
    * [[corpusSample]].
    *
    * Scale shape: one groupBy(source) aggregate (tiny), one 1-row
    * TakeOrdered for the binding source (broadcast — the scalar_subquery
    * shape), and a per-source rank window (each partition = one source).
    * The rank form is the oracle-exact formulation; a stream-friendly
    * variant at extreme scale swaps the window for
    * [[graft.operators.Sampling.hashSample]] at rate k_s/n_s, trading
    * bitwise oracle equality for shuffle-freedom. */
  def corpusRebalance(spark: SparkSession, dir: String): DataFrame = {
    val heavy = Seq("src0", "src1", "src2", "src3", "src4")
    // one corpus scan: the per-doc token counts feed the stats aggregate,
    // the binding-source probe AND the rank window — without the memo the
    // tokenization would run three times
    val docs = graft.operators.Dedup.memoPersist(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("nt")))
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"), sum(col("nt")).as("t_s"))
      .withColumn("w_s",
        when(col("source").isInCollection(heavy), lit(3L)).otherwise(lit(1L)))
    val binding = stats
      .orderBy((col("t_s").cast("double") / col("w_s")), col("source"))
      .limit(1)
      .select(col("t_s").as("tm"), col("w_s").as("wm"))
    val keeps = stats.crossJoin(broadcast(binding))
      .select(col("source"),
        expr("CAST(floor(CAST(n_s AS DOUBLE) * " +
          "(CAST(tm * w_s AS DOUBLE) / CAST(wm * t_s AS DOUBLE))) AS BIGINT)")
          .as("k_s"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("graft-mix"), col("doc_id").cast("string"))),
        col("doc_id"))
    docs.join(keeps, "source")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("k_s"))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  private val corpusRebalanceSql =
    """WITH d AS (SELECT doc_id, source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |           FROM documents),
      |s AS (SELECT source, COUNT(*) AS n_s, CAST(SUM(nt) AS BIGINT) AS t_s
      |      FROM d GROUP BY source),
      |w AS (SELECT source, n_s, t_s,
      |        CASE WHEN source IN ('src0','src1','src2','src3','src4')
      |             THEN 3 ELSE 1 END AS w_s
      |      FROM s),
      |m AS (SELECT t_s AS tm, w_s AS wm FROM w
      |      ORDER BY CAST(t_s AS DOUBLE) / w_s, source LIMIT 1),
      |k AS (SELECT source,
      |        CAST(floor(CAST(n_s AS DOUBLE) *
      |          (CAST(tm * w_s AS DOUBLE) / CAST(wm * t_s AS DOUBLE))) AS BIGINT)
      |          AS k_s
      |      FROM w, m),
      |r AS (SELECT doc_id, source,
      |        row_number() OVER (PARTITION BY source
      |          ORDER BY md5('graft-mix' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM d)
      |SELECT r.doc_id, r.source
      |FROM r JOIN k USING (source)
      |WHERE rk <= k_s
      |ORDER BY doc_id""".stripMargin

  /** Deterministic 80/10/10 train/val/test assignment per document —
    * exact-membership oracle via the shared cumulative thresholds. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.operators.Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .orderBy("doc_id")

  private val corpusSplitSql = {
    val Seq(t1, t2, t3) =
      graft.operators.Sampling.splitThresholds(Seq(0.8, 0.1, 0.1))
    s"""SELECT doc_id,
       |  CASE WHEN md5('graft' || CAST(doc_id AS VARCHAR)) < '$t1' THEN 'train'
       |       WHEN md5('graft' || CAST(doc_id AS VARCHAR)) < '$t2' THEN 'val'
       |       WHEN md5('graft' || CAST(doc_id AS VARCHAR)) < '$t3' THEN 'test'
       |       ELSE 'rest' END AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** **Group-aware split** — the fix `split_leakage` measures the need
    * for: assign train/val/test at the near-dup CLUSTER key instead of
    * the document key, so both sides of every verified near-dup pair
    * land in the same split by construction (they share a
    * `cluster_rep`) and the leak count is structurally zero
    * (SamplingSpec proves it on the same pair stage). Docs in no
    * cluster hash under their own id — for them this IS `corpus_split`.
    *
    * Scale shape: the clusters frame (only docs with ≥1 verified
    * near-dup pair — tiny next to the corpus) comes from the memo-shared
    * pair stage and LEFT-joins onto the corpus by doc_id; the split is
    * the same per-row md5 CASE as `corpus_split`. One broadcast-able
    * equi-join over what `corpus_split` already paid — the anti-join
    * discipline of the reference's skip-list (main.py:66-68) applied at
    * the split boundary: never re-randomize what clustering already
    * bound together. Oracle: the shared recursive-CTE cluster chain +
    * the same threshold CASE at COALESCE(cluster_rep, doc_id). */
  def corpusSplitGrouped(spark: SparkSession, dir: String): DataFrame = {
    val clusters = graft.operators.Dedup
      .connectedComponentsAuto(verifiedMinhashPairs(spark, dir))
    Tables.documents(spark, dir)
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("split_key"),
        graft.operators.Sampling.splitColumn(
          coalesce(col("cluster_rep"), col("doc_id")),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .orderBy("doc_id")
  }

  private val corpusSplitGroupedSql = {
    val Seq(t1, t2, t3) =
      graft.operators.Sampling.splitThresholds(Seq(0.8, 0.1, 0.1))
    s"""WITH RECURSIVE
       |$minhashClusterCtes,
       |keyed AS (SELECT d.doc_id, COALESCE(c.cluster_rep, d.doc_id) AS split_key
       |          FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
       |SELECT doc_id, split_key,
       |  CASE WHEN md5('graft' || CAST(split_key AS VARCHAR)) < '$t1' THEN 'train'
       |       WHEN md5('graft' || CAST(split_key AS VARCHAR)) < '$t2' THEN 'val'
       |       WHEN md5('graft' || CAST(split_key AS VARCHAR)) < '$t3' THEN 'test'
       |       ELSE 'rest' END AS split
       |FROM keyed
       |ORDER BY doc_id""".stripMargin
  }

  /** Sliding-window chunking (64-token chunks, stride 48 → 16-token
    * overlap) — [[graft.operators.Chunking.chunks]]; the chunk text
    * itself is emitted and hash-checked. */
  def corpusChunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.chunks(Tables.documents(spark, dir),
        col("doc_id"), col("text"), size = 64, stride = 48)
      .orderBy("doc_id", "chunk_no")

  private val corpusChunksSql =
    """SELECT doc_id, CAST(k / 48 AS BIGINT) AS chunk_no,
      |  CAST(k AS BIGINT) AS start_tok,
      |  CAST(len(w[k+1 : k+64]) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(w[k+1 : k+64], ' ') AS text_chunk
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |     UNNEST(range(0, greatest(len(w), 1), 48)) AS t(k)
      |ORDER BY doc_id, chunk_no""".stripMargin

  /** Fixed-length packing manifest (256-token training sequences over
    * the doc-id-ordered token stream) —
    * [[graft.operators.Chunking.pack]]. */
  def corpusPack(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.pack(Tables.documents(spark, dir),
        col("doc_id"), col("text"), seqLen = 256)
      .orderBy("seq_id")

  private val corpusPackSql =
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
      |o AS (SELECT doc_id, n,
      |        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |      FROM d),
      |x AS (SELECT doc_id, s.seq_id,
      |        least((s.seq_id + 1) * 256, off + n) -
      |          greatest(s.seq_id * 256, off) AS contrib
      |      FROM o, UNNEST(range(off // 256, (off + n - 1) // 256 + 1)) AS s(seq_id))
      |SELECT seq_id, CAST(SUM(contrib) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM x
      |GROUP BY seq_id
      |ORDER BY seq_id""".stripMargin

  /** Materialized packed training sequences: the actual 256-token texts
    * behind the [[corpusPack]] manifest —
    * [[graft.operators.Chunking.packedSequences]]. Full hash oracle: the
    * packed text is deterministic integer slicing + doc-id-ordered
    * concatenation, which DuckDB reproduces with the same arithmetic as
    * [[corpusPackSql]] plus a list-slice string_agg. */
  def corpusPackText(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.packedSequences(Tables.documents(spark, dir),
        col("doc_id"), col("text"), seqLen = 256)
      .orderBy("seq_id")

  private val corpusPackTextSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
      |             len(string_split(text, ' ')) AS n FROM documents),
      |o AS (SELECT doc_id, w, n,
      |        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |      FROM d),
      |x AS (SELECT doc_id, s.seq_id,
      |        greatest(s.seq_id * 256, off) AS st,
      |        least((s.seq_id + 1) * 256, off + n) AS en,
      |        off, w
      |      FROM o, UNNEST(range(off // 256, (off + n - 1) // 256 + 1)) AS s(seq_id))
      |SELECT seq_id, CAST(SUM(en - st) AS BIGINT) AS n_tokens,
      |  string_agg(array_to_string(w[st - off + 1 : en - off], ' '),
      |             ' ' ORDER BY doc_id) AS text_seq
      |FROM x
      |GROUP BY seq_id
      |ORDER BY seq_id""".stripMargin

  // ------------------------------------------------------- multimodal

  /** Multimodal feature extraction: synthesize media rows (opaque binary
    * payload + typed metadata) from doc ids, decode per-partition
    * ([[Multimodal.extractFeatures]] — iterator-shaped, payloads never
    * shuffled), emit scalar features per media row. The codec is the
    * honest stub, but the fake payload is deterministic arithmetic in the
    * id, so the DuckDB oracle reproduces every output value exactly —
    * a full hash check, not rows-only. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.synthesize(spark,
        Tables.documents(spark, dir).select(col("doc_id")), "doc_id"))
      .toDF()
      .orderBy("media_id")

  // Mirrors fakePayload: body byte i = ((id*2654435761 + i*40503) >> 16) & 255,
  // w = 8 + id%8, h = 8 + id%5, n_bytes = 12-byte header + w*h body.
  // Id-range assumption: doc_id * 2654435761 stays within Int64 for
  // doc_id < ~3.49e9; beyond that DuckDB raises BIGINT overflow where the
  // Scala Long wraps silently. Test corpora are ~1e4 ids; a production
  // corpus with wider ids would mod ids into [0, 2^32) on both sides.
  private val mediaFeaturesSql =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(8 + doc_id % 8 AS INT) AS width,
      |  CAST(8 + doc_id % 5 AS INT) AS height,
      |  CAST(12 + (8 + doc_id % 8) * (8 + doc_id % 5) AS INT) AS n_bytes,
      |  CAST(list_sum(list_transform(
      |         range(0, (8 + doc_id % 8) * (8 + doc_id % 5)),
      |         i -> ((doc_id * 2654435761 + i * 40503) >> 16) & 255))
      |       AS DOUBLE)
      |    / ((8 + doc_id % 8) * (8 + doc_id % 5)) AS mean_byte,
      |  TRUE AS header_ok
      |FROM documents
      |ORDER BY media_id""".stripMargin

  /** **REAL codec decode** ([[Multimodal.synthesizePng]] /
    * [[Multimodal.decodeImages]]): genuine PNG bytes — the actual JDK
    * `javax.imageio` encoder over the deterministic grayscale pixel
    * grid — decoded back through the real codec, per partition. PNG is
    * lossless, so the decoded dimensions and exact luma sum equal the
    * generator formula's values, which the DuckDB oracle computes by
    * integer arithmetic — the gate proves a real encode→decode round
    * trip, not stub parsing. (The round-12 probe refuted the long-held
    * "no image libraries in this container" premise: PNG/JPEG/BMP/GIF/
    * TIFF readers all ship in the JDK.) */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImages(
      Multimodal.synthesizePng(spark,
        Tables.documents(spark, dir).select(col("doc_id")), "doc_id"))
      .toDF()
      .orderBy("media_id")

  // Same pseudo-pixel formula and id-range assumption as mediaFeaturesSql;
  // sum_luma is exact BIGINT (no division anywhere).
  private val mediaDecodeSql =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CAST(8 + doc_id % 8 AS INT) AS width,
      |    CAST(8 + doc_id % 5 AS INT) AS height
      |  FROM documents)
      |SELECT media_id, width, height,
      |  CAST(width * height AS BIGINT) AS n_pixels,
      |  CAST(list_sum(list_transform(
      |         range(0, width * height),
      |         i -> ((media_id * 2654435761 + i * 40503) >> 16) & 255))
      |       AS BIGINT) AS sum_luma
      |FROM m
      |ORDER BY media_id""".stripMargin

  /** Perceptual-hash (dHash) near-dup over media payloads: each synthetic
    * payload gets a brightness-shifted twin (media_id + 1 000 000, every
    * body byte +1 mod 256); dHash compares adjacent pixels so the twin's
    * hash differs only where a 255→0 wrap flips a comparison, and the
    * 4-band pigeonhole join ([[Multimodal.phashNearDup]]) finds the
    * planted pairs exactly. Every step is integer arithmetic on the
    * deterministic stub payloads, so the DuckDB oracle reproduces the
    * whole pipeline — grid sampling, bit extraction, banding, hamming
    * verification — for a full hash check. */
  def mediaPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Multimodal.synthesize(spark,
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id")
    val twins = Multimodal.adjustBrightness(base, 1)
      .map(m => m.copy(media_id = m.media_id + 1000000L))
    Multimodal.phashNearDup(base.union(twins), maxDist = 3)
      .orderBy("id_a", "id_b")
  }

  // px(y,x) = (((base_id*2654435761 + ((y*h//8)*w + (x*w//9))*40503) >> 16)
  //            & 255 + bright) % 256 with w = 8+id%8, h = 8+id%5; bit k
  // (k = y*8+x) set iff px(y,x+1) > px(y,x); band j = bits 16j..16j+15.
  // Same id-range assumption as mediaFeaturesSql.
  private val mediaPhashDedupSql =
    """WITH media AS (
      |  SELECT doc_id AS base_id, doc_id + 1000000 * b AS media_id, b AS bright,
      |         8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
      |  FROM documents, UNNEST([0, 1]) AS t(b)),
      |bits AS (
      |  SELECT media_id,
      |    list_transform(range(0, 64), k ->
      |      CASE WHEN
      |        (((((base_id * 2654435761 +
      |             (((k // 8) * h // 8) * w + (((k % 8) + 1) * w // 9)) * 40503)
      |            >> 16) & 255) + bright) % 256)
      |        >
      |        (((((base_id * 2654435761 +
      |             (((k // 8) * h // 8) * w + ((k % 8) * w // 9)) * 40503)
      |            >> 16) & 255) + bright) % 256)
      |      THEN 1 ELSE 0 END) AS bt
      |  FROM media),
      |bands AS (
      |  SELECT media_id, j,
      |    CAST(list_sum(list_transform(range(0, 16),
      |      i -> bt[j * 16 + i + 1] * (1 << i))) AS BIGINT) AS bv
      |  FROM bits, UNNEST(range(0, 4)) AS u(j)),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.j = b.j AND a.bv = b.bv AND a.media_id < b.media_id),
      |verified AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(range(0, 64),
      |      k -> ba.bt[k + 1] <> bb.bt[k + 1])) AS BIGINT) AS dist
      |  FROM cand JOIN bits ba ON ba.media_id = id_a
      |            JOIN bits bb ON bb.media_id = id_b)
      |SELECT id_a, id_b, dist FROM verified
      |WHERE dist <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Frame sampling over the synthesized video payloads (every 2nd frame,
    * one row per sampled frame): the explode-shaped multimodal operator,
    * hash-checked like [[mediaFeatures]] because the stub payload is
    * deterministic arithmetic in the id. */
  def mediaFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Multimodal.sampleFrames(
        Multimodal.synthesize(spark,
          Tables.documents(spark, dir).select(col("doc_id")), "doc_id"),
        everyN = 2)
      .as[(Long, Int, Array[Byte])]
      .map { case (id, f, b) =>
        (id, f.toLong, b.length.toLong, b.foldLeft(0L)((a, x) => a + (x & 0xFF)))
      }
      .toDF("media_id", "frame_no", "frame_len", "frame_sum")
      .orderBy("media_id", "frame_no")
  }

  // video = doc_id % 3 = 2; frame f covers body bytes [f*w, (f+1)*w),
  // w = 8 + id%8, frames 0,2,... < h = 8 + id%5 (same arithmetic as
  // mediaFeaturesSql, same id-range assumption)
  private val mediaFramesSql =
    """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_no,
      |  CAST(8 + doc_id % 8 AS BIGINT) AS frame_len,
      |  CAST(list_sum(list_transform(
      |         range(f * (8 + doc_id % 8), (f + 1) * (8 + doc_id % 8)),
      |         i -> ((doc_id * 2654435761 + i * 40503) >> 16) & 255)) AS BIGINT) AS frame_sum
      |FROM documents, UNNEST(range(0, CAST(8 + doc_id % 5 AS BIGINT), 2)) AS t(f)
      |WHERE doc_id % 3 = 2
      |ORDER BY media_id, frame_no""".stripMargin

  /** Resize every synthesized media payload to 4×4 (nearest neighbor) and
    * re-extract features — the decode→transform→re-extract chain, fully
    * hash-checked because the resampled byte at (y,x) is
    * body[⌊y·h/4⌋·w + ⌊x·w/4⌋], reproducible arithmetic in DuckDB. */
  def mediaResize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.resize(
        Multimodal.synthesize(spark,
          Tables.documents(spark, dir).select(col("doc_id")), "doc_id"),
        newW = 4, newH = 4))
      .toDF()
      .orderBy("media_id")

  // resized byte (y,x) = ((id*2654435761 + (floor(y*h/4)*w + floor(x*w/4))
  // * 40503) >> 16) & 255 with w = 8+id%8, h = 8+id%5; k enumerates the
  // 4x4 grid row-major (y = k//4, x = k%4)
  private val mediaResizeSql =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
      |  CAST(28 AS INT) AS n_bytes,
      |  CAST(list_sum(list_transform(range(0, 16),
      |         k -> ((doc_id * 2654435761
      |                + (((k // 4) * (8 + doc_id % 5) // 4) * (8 + doc_id % 8)
      |                   + ((k % 4) * (8 + doc_id % 8) // 4)) * 40503) >> 16) & 255))
      |       AS DOUBLE) / 16 AS mean_byte,
      |  TRUE AS header_ok
      |FROM documents
      |ORDER BY media_id""".stripMargin

  /** **BM25 keyword search** — top-50 documents for the fixed query
    * {dup, hash, join, scan} under Okapi BM25 (k1 = 1.2, b = 0.75) with
    * the RATIONAL odds-ratio idf (N − df + 0.5)/(df + 0.5), i.e. the
    * classic formula minus its ln(): the log is monotone per term but
    * not over the SUM, so this is a deliberate scoring variant chosen —
    * like [[tfidfTerms]] — so every arithmetic step is a correctly
    * rounded IEEE op both engines reproduce bit-identically (ln is
    * libm-dependent). Per-term contributions are pivoted into fixed
    * columns and added in one explicit order (dup + hash + join +
    * scan); a GROUP-BY SUM of doubles would be partition-order-
    * dependent. Emitted columns are integers (per-term tf, dl, rank);
    * the double score only orders. Shape at scale: tf rows are
    * pre-filtered to query terms before the doc-side aggregation, so
    * the shuffle carries ≤ |Q| rows per doc; df and avgdl are two tiny
    * broadcast scalars; the final top-k is TakeOrdered (no global
    * sort). */
  def bm25Search(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val terms = Seq("dup", "hash", "join", "scan")
    // memoized: the tokenized frame feeds both the tf pipeline and the
    // 1-row (N, total_dl) stats aggregate — without the memo Spark scans
    // and re-tokenizes the text corpus twice for one query
    val docs = graft.operators.Dedup.memoPersist(Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        col("toks")))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("contrib",
        col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))) *
          col("idf"))
    val pivoted = scored.groupBy(col("doc_id"), col("dl"))
      .agg(
        coalesce(max(when(col("term") === "dup", col("contrib"))), lit(0.0)).as("c_dup"),
        coalesce(max(when(col("term") === "hash", col("contrib"))), lit(0.0)).as("c_hash"),
        coalesce(max(when(col("term") === "join", col("contrib"))), lit(0.0)).as("c_join"),
        coalesce(max(when(col("term") === "scan", col("contrib"))), lit(0.0)).as("c_scan"),
        coalesce(max(when(col("term") === "dup", col("tf"))), lit(0L)).as("tf_dup"),
        coalesce(max(when(col("term") === "hash", col("tf"))), lit(0L)).as("tf_hash"),
        coalesce(max(when(col("term") === "join", col("tf"))), lit(0L)).as("tf_join"),
        coalesce(max(when(col("term") === "scan", col("tf"))), lit(0L)).as("tf_scan"))
      .withColumn("score",
        col("c_dup") + col("c_hash") + col("c_join") + col("c_scan"))
    pivoted
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("doc_id"), col("dl"),
        col("tf_dup"), col("tf_hash"), col("tf_join"), col("tf_scan"))
      .orderBy("rank")
  }

  private val bm25SearchSql =
    """WITH docs AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |         string_split(text, ' ') AS toks
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, dl, u.term AS term, COUNT(*) AS tf
      |  FROM docs, UNNEST(toks) AS u(term)
      |  WHERE u.term IN ('dup', 'hash', 'join', 'scan')
      |  GROUP BY doc_id, dl, u.term),
      |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl
      |          FROM docs),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |scored AS (
      |  SELECT tf.doc_id, tf.dl, tf.term, tf.tf,
      |    CAST(tf.tf AS DOUBLE) * 2.2 /
      |      (CAST(tf.tf AS DOUBLE) +
      |        1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE)
      |               / (CAST(s.total_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) *
      |      ((CAST(s.n_docs - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
      |      AS contrib
      |  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s),
      |pivoted AS (
      |  SELECT doc_id, dl,
      |    COALESCE(MAX(CASE WHEN term = 'dup' THEN contrib END), 0.0) AS c_dup,
      |    COALESCE(MAX(CASE WHEN term = 'hash' THEN contrib END), 0.0) AS c_hash,
      |    COALESCE(MAX(CASE WHEN term = 'join' THEN contrib END), 0.0) AS c_join,
      |    COALESCE(MAX(CASE WHEN term = 'scan' THEN contrib END), 0.0) AS c_scan,
      |    COALESCE(MAX(CASE WHEN term = 'dup' THEN tf END), 0) AS tf_dup,
      |    COALESCE(MAX(CASE WHEN term = 'hash' THEN tf END), 0) AS tf_hash,
      |    COALESCE(MAX(CASE WHEN term = 'join' THEN tf END), 0) AS tf_join,
      |    COALESCE(MAX(CASE WHEN term = 'scan' THEN tf END), 0) AS tf_scan
      |  FROM scored GROUP BY doc_id, dl)
      |SELECT rank, doc_id, dl, tf_dup, tf_hash, tf_join, tf_scan FROM (
      |  SELECT *, CAST(row_number() OVER (
      |      ORDER BY c_dup + c_hash + c_join + c_scan DESC, doc_id) AS BIGINT)
      |    AS rank
      |  FROM pivoted)
      |WHERE rank <= 50
      |ORDER BY rank""".stripMargin

  val all: Seq[Q] = Seq(
    Q("bm25_search", bm25SearchSql)(bm25Search(_, _)),
    Q("dedup_exact", dedupExactSql)(dedupExact),
    Q("dedup_ngram", jaccardOracle("0.5"))(dedupNgram),
    Q("dedup_ngram_prefix", jaccardOracle("0.5"))(dedupNgramPrefix),
    Q("dedup_substring", dedupSubstringSql)(dedupSubstring),
    Q("dedup_substring_scrub", dedupSubstringScrubSql)(dedupSubstringScrub),
    Q("media_features", mediaFeaturesSql)(mediaFeatures),
    Q("media_decode", mediaDecodeSql)(mediaDecode),
    Q("media_frames", mediaFramesSql)(mediaFrames),
    Q("media_resize", mediaResizeSql)(mediaResize),
    Q("media_phash_dedup", mediaPhashDedupSql)(mediaPhashDedup),
    Q("dedup_containment", dedupContainmentSql)(dedupContainment),
    Q("decontaminate", decontaminateSql)(decontaminate),
    Q("decontaminate_bloom", decontaminateSql)(decontaminateBloom),
    Q("dup_coverage", dupCoverageSql)(dupCoverage),
    Q("sparse_cosine", sparseCosineSql)(sparseCosineQ),
    Q("tfidf_terms", tfidfTermsSql)(tfidfTerms),
    Q("pii_scrub", piiScrubSql)(piiScrub),
    Q("text_normalize", textNormalizeSql)(textNormalize),
    Q("boilerplate_scrub", boilerplateScrubSql)(boilerplateScrub),
    Q("boilerplate_frequent", boilerplateFrequentSql)(boilerplateFrequent),
    Q("intradoc_scrub", intradocScrubSql)(intradocScrub),
    Q("dsir_select", dsirSelectSql)(dsirSelect),
    Q("dsir_select_bigrams", dsirSelectBigramsSql)(dsirSelectBigrams),
    Q.noOracle("dsir_weights")(dsirWeights),
    Q("corpus_budget", corpusBudgetSql)(corpusBudget),
    Q("dedup_minhash", jaccardOracle("0.8"))(dedupMinhash),
    Q("split_leakage", splitLeakageSql)(splitLeakage),
    Q("dedup_incremental", jaccardOracle("0.8",
      "\n|  AND (doc_a % 10 = 0 OR doc_b % 10 = 0)".stripMargin))(dedupIncremental),
    Q("dedup_simhash", dedupSimhashSql)(dedupSimhash),
    Q("dedup_clusters", dedupClustersSql)(dedupClusters),
    Q("dedup_canonical", dedupCanonicalSql)(dedupCanonical),
    Q("llm_clean_corpus", llmCleanCorpusSql)(llmCleanCorpus),
    Q("dedup_embedding", dedupEmbeddingSql)(dedupEmbedding),
    Q("semantic_dedup", semanticDedupSql)(semanticDedupQ),
    Q("vector_topk", vectorTopkSql)(vectorTopk),
    Q("vector_ann", vectorAnnSql)(vectorAnn),
    Q("vector_ann_sql", vectorAnnSql)(vectorAnnSqlQ),
    Q("vector_ann_recall", vectorAnnRecallSql)(vectorAnnRecall),
    Q("vector_ivf_fp", vectorIvfFpSql)(vectorIvfFp),
    Q.noOracle("mmr_select")(mmrSelectQ),
    Q("mmr_select_fp", mmrSelectFpSql)(mmrSelectFpQ),
    Q.noOracle("vector_pca_route")(vectorPcaRoute),
    Q("vector_pca_route_fp", vectorPcaRouteFpSql)(vectorPcaRouteFp),
    Q.noOracle("vector_ivf")(vectorIvf),
    Q.noOracle("vector_ivf_indexed")(vectorIvfIndexed),
    Q.noOracle("vector_ivf_delta")(vectorIvfDelta),
    Q.noOracle("vector_ivf_compact")(vectorIvfCompact),
    Q("vector_ivf_indexed_fp", vectorIvfFpSql)(vectorIvfIndexedFp),
    Q("vector_ivf_delta_fp", vectorIvfDeltaFpSql)(vectorIvfDeltaFp),
    Q("vector_ivf_compact_fp", vectorIvfFpSql)(vectorIvfCompactFp),
    Q("vector_ivf_lifecycle_fp", vectorIvfFpSql)(vectorIvfLifecycleFp),
    Q("vector_index_stats", vectorIndexStatsSql)(vectorIndexStats),
    Q("vector_ann_sql_streamed", vectorIvfDeltaFpSql)(vectorAnnSqlStreamed),
    Q("vector_ivf_recall", vectorIvfRecallSql)(vectorIvfRecall),
    Q("vector_pq_recall", vectorPqRecallSql)(vectorPqRecall),
    Q("vector_pca_recall", vectorPcaRecallSql)(vectorPcaRecall),
    Q.noOracle("vector_pq")(vectorPq),
    Q("vector_pq_fp", vectorPqFpSql)(vectorPqFp),
    Q("vector_sq_fp", vectorSqFpSql)(vectorSqFp),
    Q("vector_sq_recall", vectorSqRecallSql)(vectorSqRecall),
    Q("vector_sq_error", vectorSqErrorSql)(vectorSqError),
    Q("vector_ann_filtered_fp", vectorAnnFilteredFpSql)(vectorAnnFilteredFp),
    Q("vector_filtered_recall", vectorFilteredRecallSql)(vectorFilteredRecall),
    Q("vector_bq_fp", vectorBqFpSql)(vectorBqFp),
    Q("vector_bq_indexed_fp", vectorBqFpSql)(vectorBqIndexedFp),
    Q("vector_bq_recall", vectorBqRecallSql)(vectorBqRecall),
    Q("hybrid_search_rrf", hybridSearchRrfSql)(hybridSearchRrf),
    Q("vector_norms", vectorNormsSql)(vectorNorms),
    Q("text_quality", textQualitySql)(textQuality),
    Q("quality_gopher", qualityGopherSql)(qualityGopher),
    Q("quality_classifier",
      qualityClassifierSql(graft.operators.Classifier.defaultEpochs))(
      qualityClassifier),
    Q("classifier_calibration",
      classifierCalibrationSql(graft.operators.Classifier.defaultEpochs))(
      classifierCalibration),
    Q("lm_unigram", lmUnigramSql)(lmUnigram),
    Q("quality_ccnet_buckets", qualityCcnetBucketsSql)(qualityCcnetBuckets),
    Q("lang_id", langIdSql)(langId),
    Q("token_stats", tokenStatsSql)(tokenStats),
    Q("ngram_stats", ngramStatsSql)(ngramStats),
    Q("corpus_stats", corpusStatsSql)(corpusStats),
    Q("token_bpe", tokenBpeSql)(tokenBpe),
    Q("token_bpe_train", tokenBpeTrainSql)(tokenBpeTrain),
    Q("token_bpe_encode", tokenBpeEncodeSql)(tokenBpeEncode),
    Q("corpus_chunks", corpusChunksSql)(corpusChunks),
    Q("corpus_pack", corpusPackSql)(corpusPack),
    Q("corpus_pack_text", corpusPackTextSql)(corpusPackText),
    Q("corpus_sample", corpusSampleSql)(corpusSample),
    Q("weighted_sample", weightedSampleSql)(weightedSample),
    Q("corpus_sample_exactn", corpusSampleExactNSql)(corpusSampleExactN),
    Q("corpus_mix_temperature", corpusMixTemperatureSql)(corpusMixTemperature),
    Q("llm_prepare_corpus", llmPrepareCorpusSql)(llmPrepareCorpus),
    Q("corpus_shuffle", corpusShuffleSql)(corpusShuffle),
    Q("lm_bigram", lmBigramSql)(lmBigram),
    Q("collocations_pmi", collocationsPmiSql)(collocationsPmi),
    Q.noOracle("quality_compression")(qualityCompression),
    Q("embedding_stats", embeddingStatsSql)(embeddingStats),
    Q("embedding_gram", embeddingGramSql)(embeddingGram),
    Q.noOracle("embedding_pca")(embeddingPca),
    Q("corpus_rebalance", corpusRebalanceSql)(corpusRebalance),
    Q("corpus_split", corpusSplitSql)(corpusSplit),
    Q("corpus_split_grouped", corpusSplitGroupedSql)(corpusSplitGrouped),
    Q("doc_fingerprint", docFingerprintSql)(docFingerprint),
    Q("winnow_fingerprint", winnowFingerprintSql)(winnowFingerprint))
}
