package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution: similarity self-join on a short string key (names,
  * titles, SKUs) via **deletion-neighborhood blocking** (the FastSS
  * scheme, Bocek et al. 2007) — the record-linkage counterpart of the
  * document-level near-dup family in [[Dedup]].
  *
  * The naive formulation is the all-pairs O(n²) Levenshtein join — the
  * classic dirty-dimension dedup problem (mistyped customer names, OCR'd
  * ids) that a 100 TB warehouse cannot brute-force. Deletion-neighborhood
  * blocking makes it a linear equi-join:
  *
  *  - each string emits its *deletion variants* — itself plus every
  *    string obtained by removing exactly one character (len+1 keys,
  *    per-row codegen'd `transform` over `sequence`, no shuffle);
  *  - two strings within Levenshtein distance 1 ALWAYS share a variant:
  *    substitution at position p → both deletions at p agree; insertion /
  *    deletion → the longer side's deletion at the edited position equals
  *    the shorter side verbatim. So the variant equi-join is a COMPLETE
  *    candidate generator for dist ≤ 1 (EntityResolutionSpec proves it
  *    against brute force on random edits, and the registered query's
  *    oracle IS the quadratic all-pairs join — the driver gate re-proves
  *    completeness on the real corpus);
  *  - candidates collide on at most O(alphabet) strings per variant key
  *    (all strings agreeing everywhere but the deleted position), so the
  *    join fan-out is bounded and skew-free — no all-pairs blowup at any
  *    scale;
  *  - the exact `levenshtein` verify runs once per *distinct* candidate
  *    pair (a pair at distance 0 collides on every variant; the distinct
  *    is on the pair ids, before the verify projection).
  *
  * For dist ≤ k the same scheme uses k-deletion neighborhoods: FastSS's
  * theorem generalizes — ed(u,v) ≤ k implies the ≤k-deletion
  * neighborhoods intersect — so [[fuzzyPairs2]] blocks on the
  * 1 + L + C(L,2)-key ≤2-deletion set and verifies `levenshtein ≤ 2`,
  * covering the two-typo collisions common in OCR'd dimensions. Length
  * gating is implicit: variants of strings whose lengths differ by more
  * than 2·k can never be equal, so no cross-length blowup. Keys grow
  * O(L^k), which is why k stops at 2 here; beyond that the q-gram prefix
  * filter of [[Dedup.ngramJaccardPrefix]] is the better geometry.
  */
object EntityResolution {

  /** `name` itself plus every single-character deletion of it — the
    * dist-≤-1-complete blocking key set, as one per-row array (codegen'd
    * builtins only). A SET, not a multiset: deleting any character of a
    * repeated-character run yields the same variant string, and emitting
    * it once per run position would multiply the candidate join
    * k_A·k_B-fold per colliding pair (measured 5.3 s → 2.6 s at sf0.1 on
    * the zero-padded customer ids, whose runs make k ≈ 6). */
  def deletionVariants(name: Column): Column =
    array_distinct(concat(
      array(name),
      transform(sequence(lit(1), length(name)), i =>
        concat(name.substr(lit(1), i - 1), name.substr(i + 1, length(name))))))

  /** The ≤2-deletion neighborhood: [[deletionVariants]] plus every
    * string obtained by deleting two characters (positions i < j). Same
    * codegen'd-builtins-only discipline; the `when` guards keep
    * `sequence` ascending on 0/1-char strings (Spark's sequence(a, b)
    * with a > b DESCENDS rather than returning empty). Distinct for the
    * same run-collapse reason as the 1-deletion set. */
  def deletionVariants2(name: Column): Column = {
    val L = length(name)
    val d2 = when(L >= 2,
      flatten(transform(sequence(lit(1), L - 1), i =>
        transform(sequence(i + 1, L), j =>
          concat(name.substr(lit(1), i - 1),
            name.substr(i + 1, j - i - 1),
            name.substr(j + 1, L))))))
      .otherwise(array().cast("array<string>"))
    array_distinct(concat(deletionVariants(name), d2))
  }

  /** All distinct id pairs (id_a < id_b) whose names are within
    * Levenshtein distance 1, by deletion-variant blocking + exact verify.
    * Output: (id_a, id_b, name_a, name_b, dist). */
  def fuzzyPairs(df: DataFrame, id: Column, name: Column): DataFrame =
    fuzzyPairsImpl(df, id, name, deletionVariants, 1)

  /** [[fuzzyPairs]] at Levenshtein distance ≤ 2: ≤2-deletion
    * neighborhood blocking + exact verify (complete by the FastSS
    * theorem at k=2; EntityResolutionSpec property-proves it on random
    * 2-edit neighborhoods and the registered query's oracle is again
    * the quadratic all-pairs join). */
  def fuzzyPairs2(df: DataFrame, id: Column, name: Column): DataFrame =
    fuzzyPairsImpl(df, id, name, deletionVariants2, 2)

  /** Per-record k-nearest under Levenshtein ≤ 2 — the
    * bounded-output form of [[fuzzyPairs2]] for dense
    * dimensions. The unconditional pair set is a DENSE shape: on a
    * near-duplicate-saturated dimension every record can verify against
    * hundreds of neighbors (the sf1.0 customer table averages ~270),
    * and a 100 TB pipeline cannot materialize that unconditionally. This
    * variant folds the verified matches through [[graft.functions
    * .BoundedTopK]] — map-side partial top-k, so ≤ k rows per record per
    * task cross the post-verify shuffle and the output is ≤ k·n rows by
    * construction, whatever the neighborhood density.
    *
    * NO silent cap: every row carries `n_matches`, the record's TOTAL
    * verified-match count (exact, counted in the same aggregate), so
    * `n_matches > k` announces per record exactly how much the cap
    * dropped — the `MaxVocabRows`/Bloom-clamp fail-loud discipline in
    * per-row form. Ranking is total (dist, then id_b), so the kept set
    * is deterministic and the quadratic ROW_NUMBER oracle hash-matches.
    * Output: (id_a, rn, id_b, dist, n_matches), rn = 1..k ascending. */
  def fuzzyTopK(df: DataFrame, id: Column, name: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // memoPersist: the union below reads the pair frame twice, and
    // without pinning it the whole candidate+verify pipeline would run
    // once per orientation (measured 14.3 s vs fuzzy_match_k2's 6.3 s
    // at sf0.1 before the pin)
    val pairs = Dedup.memoPersist(
      fuzzyPairs2(df, id, name).select(col("id_a"), col("id_b"), col("dist")))
    // neighbor lists are directional — each verified pair feeds both
    // endpoints' lists; the union doubles a linear stage, not the output
    val sym = pairs.select(col("id_a"), col("id_b"), col("dist"))
      .unionByName(pairs.select(col("id_b").as("id_a"),
        col("id_a").as("id_b"), col("dist")))
    sym.groupBy(col("id_a"))
      .agg(
        graft.functions.BoundedTopK(
          struct(col("dist").as("d"), col("id_b").as("i")), k).as("top"),
        count(lit(1)).as("n_matches"))
      .select(col("id_a"), posexplode(col("top")).as(Seq("pos", "t")),
        col("n_matches"))
      .select(col("id_a"), (col("pos") + 1).cast("int").as("rn"),
        col("t.i").as("id_b"), col("t.d").as("dist"), col("n_matches"))
  }

  private def fuzzyPairsImpl(df: DataFrame, id: Column, name: Column,
      variants: Column => Column, maxDist: Int): DataFrame = {
    // Rebalance the dimension before fan-out: a dimension table often
    // arrives as a handful of scan partitions, and a broadcast candidate
    // join would pin explode + verify + the partial distinct to those few
    // tasks (measured 4.5 s -> 1.3 s at sf0.1, where the scan is ONE
    // partition). Round-robin on the raw pre-explode rows is the
    // cheapest shuffle available to buy full-cluster parallelism for the
    // CPU-bound verify.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.select(id.as("id"), name.as("name")).repartition(n)
    // candidate generation runs on (id, xxhash64(variant)) only: equal
    // variants hash equal (completeness intact) and a 2⁻⁶⁴ hash alias
    // merely adds one candidate the exact verify rejects — while the
    // join + distinct, the mass-dominant stages, move 16-byte rows
    // instead of dragging two name strings through every collision
    // r14 optimization audit: this stage was attacked twice and BOTH
    // variants measured worse, so the r13 shape stands deliberately.
    // (1) co-partitioned SHUFFLE_HASH on vh: 375 vs 314 task-s — the
    // planner's broadcast probe streams the a-side in id order, so
    // duplicate (id_a, id_b) collisions arrive adjacent and the
    // distinct's map-side partial aggregation dedups BEFORE the
    // exchange (117 MB vs 230 MB shuffled); vh-partitioning randomizes
    // pair order and the partial pass degrades to pass-through.
    // (2) memoPersist of the exploded frame (explode once, read twice):
    // 176 vs 147 cpu-s — columnar cache serialize + two deserialize
    // passes cost more than the duplicated explode they save.
    val keyed = base
      .select(col("id"),
        explode(variants(col("name"))).as("__v"))
      .select(col("id"), xxhash64(col("__v")).as("vh"))
    val a = keyed.select(col("id").as("id_a"), col("vh"))
    val b = keyed.select(col("id").as("id_b"), col("vh"))
    val cand = a.join(b, Seq("vh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // names rejoin only for the verified projection — two equi-joins on
    // the dimension itself (AQE broadcasts it when small)
    cand
      .join(base.select(col("id").as("id_a"), col("name").as("name_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("name").as("name_b")), "id_b")
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "name_a", "name_b", "dist")
  }
}
