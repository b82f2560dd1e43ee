package graft

/** Plan-shape regression guard over EVERY registered query: no broadcast
  * nested loop or cartesian product may appear except where the all-pairs
  * scan IS the documented operator. A new query (or a refactor of an old
  * one) that silently plans a cross product fails here, not in a 100 TB
  * run. */
class PlanInvariantsSpec extends SparkTestBase {

  /** Queries whose plan is intentionally all-pairs:
    *  - scalar_subquery: 1-row broadcast cross join (the scalar value);
    *  - sparse_cosine: same shape — the corpus size enters the stop-gram
    *    cutoff as a grouping-free aggregate, provably 1 row, broadcast;
    *  - vector_topk: the exact brute-force baseline — tiny query side
    *    broadcast against the candidate scan, with annTopK/ivfFpTopK as the
    *    documented scale paths;
    *  - semantic_dedup: the cell-assignment argmax joins each corpus row
    *    against the BROADCAST nCells-row seeds frame (bounded side ships,
    *    corpus never moves; partial-agg argmax collapses the expansion
    *    map-side) — the scalar_subquery shape with nCells rows;
    *  - corpus_rebalance: the 1-row binding-source frame (a TakeOrdered)
    *    broadcasts into the per-source keep-count projection — again the
    *    scalar_subquery shape;
    *  - classifier_calibration: the grand positive-count total (a
    *    grouping-free aggregate, provably 1 row) broadcasts into the
    *    per-threshold confusion-count projection — the scalar_subquery
    *    shape;
    *  - dsir_weights: the two smoothing normalizers (token masses +
    *    vocabulary size, a grouping-free aggregate, provably 1 row)
    *    broadcast into the per-token log-ratio projection — the
    *    scalar_subquery shape again;
    *  - vector_pca_route (and its hash-gated _fp twin): the routing
    *    stage is vector_topk's shape in the REDUCED space (tiny query
    *    side broadcast against the candidate scan); the refine stage is
    *    equi-joined (float) or filter-on-rank (fp);
    *  - hard_negatives: vector_topk's exact shape with the label
    *    predicate riding the same broadcast join (anchors broadcast,
    *    corpus never moves; annTopK is the documented scale path);
    *  - histogram_equidepth: the 9-boundary percentile frame (a
    *    grouping-free aggregate, provably 1 row) broadcasts into the
    *    per-row bucket-assignment fold — the scalar_subquery shape. */
  private val intendedAllPairs =
    Set("scalar_subquery", "sparse_cosine", "vector_topk",
      // vector_ann_recall (and the r14 fp-serving recall rows): the
      // exact side IS vector_topk (the brute-force ground truth the
      // adjudicator compares the served list against) — same tiny
      // broadcast query side, same documented scale path; the pca row
      // additionally carries vector_pca_route_fp's reduced-space routing
      "vector_ann_recall", "vector_ivf_recall", "vector_pq_recall",
      "vector_pca_recall", "vector_sq_recall",
      // r14 filtered/BQ/hybrid family: vector_bq_fp broadcasts the tiny
      // query-code set against the candidate code scan (two longs per
      // row — the cheapest all-pairs pass in the suite, and the
      // documented BQ serving shape); vector_filtered_recall and
      // vector_bq_recall carry the brute-force exact side like every
      // other recall row; hybrid_search_rrf's dense list IS vector_topk
      // (broadcast query set), its sparse list equi-joins on term
      "vector_bq_fp", "vector_bq_indexed_fp", "vector_bq_recall",
      "vector_filtered_recall", "hybrid_search_rrf",
      "semantic_dedup",
      "corpus_rebalance", "classifier_calibration", "dsir_weights",
      "vector_pca_route", "vector_pca_route_fp", "hard_negatives",
      "histogram_equidepth",
      "heavy_hitters", "frequent_tokens", "boilerplate_frequent",
      // nation_share: the grand-total frame (a grouping-free aggregate,
      // provably 1 row) broadcasts into the per-nation threshold filter —
      // the scalar_subquery shape
      "nation_share",
      // global_customers (Q22): the positive-balance (count, sum) frame
      // (a grouping-free aggregate, provably 1 row) broadcasts into the
      // above-average filter — the scalar_subquery shape
      "global_customers",
      // graph_triangles: the output row is three 1-row grouping-free
      // aggregates (edges/wedges/triangles counts) cross-joined — each
      // BNLJ build side provably one row
      "graph_triangles",
      // segment_overlap(+_sql): the type_a < type_b pair join runs over
      // the KMV sketch frame — (#segments × k)-sized by construction
      // (one row per event_type), never the corpus; small by argument
      // like vector_topk's query set
      "segment_overlap", "segment_overlap_sql",
      // segment_exclusive_reach: the all-types union sketch (a
      // grouping-free aggregate, provably 1 row) broadcasts into the
      // per-segment exclusive-reach projection — the scalar_subquery
      // shape over KMV frames
      "segment_exclusive_reach",
      // bm25_search: the (N, total_dl) corpus-stats frame (a
      // grouping-free aggregate, provably 1 row) broadcasts into the
      // per-(doc, term) contribution projection — the scalar_subquery
      // shape
      "bm25_search",
      // rfm_segments: the global max(o_orderdate) anchor (a
      // grouping-free aggregate, provably 1 row) broadcasts into the
      // per-customer recency projection — the scalar_subquery shape
      "rfm_segments",
      // cms_estimate: the 1-row corpus CMS sketch (a grouping-free
      // aggregate) broadcasts into the per-key min-of-cells estimate
      // projection — the scalar_subquery shape
      "cms_estimate",
      // collocations_pmi: the 1-row total-bigram-positions frame N (a
      // grouping-free aggregate) broadcasts into the per-bigram PMI
      // projection — the scalar_subquery shape
      "collocations_pmi",
      // assoc_rules: the 1-row basket-count frame N (a grouping-free
      // aggregate) broadcasts into the per-rule lift projection
      "assoc_rules",
      // join_size_estimate: two 1-row sketch frames (grouping-free
      // aggregates) cross-combine, and the exact twin attaches the
      // 1-row estimate — every BNLJ build side provably one row
      "join_size_estimate",
      // survival_curve: the 1-row corpus-horizon max (a grouping-free
      // aggregate) broadcasts into the censoring projection
      "survival_curve",
      // histogram_equiwidth: the 1-row (min, max) frame (a grouping-free
      // aggregate) broadcasts into the per-row bin projection
      "histogram_equiwidth",
      // drift_report: the 1-row (min, max, totals) frame (a
      // grouping-free aggregate) broadcasts into the shared-grid binning
      "drift_report")

  private val forbidden = Seq("BroadcastNestedLoopJoin", "CartesianProduct")

  /** Every BroadcastNestedLoopJoin in the (cache-expanded) plan must
    * build against a side that is provably SMALL — a LIMIT (the seeds
    * TakeOrdered) or a grouping-free aggregate (exactly one row) — so
    * the exemption covers the documented bounded broadcast, not any
    * nested loop a refactor might sneak in. Recurses through
    * InMemoryRelations because memo-persisted stages hide their plans
    * behind cache scans. (vector_topk, vector_pca_route, and hard_negatives are excluded
    * from this check by their caller: their build side is the filtered
    * query SET — small by argument, not by structure — and the
    * all-pairs scan is those operators' documented routing cost.) */
  private def unboundedNestedLoops(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def bounded(s: org.apache.spark.sql.execution.SparkPlan): Boolean =
      s.collectFirst {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case l: org.apache.spark.sql.execution.CollectLimitExec => l
        case g: org.apache.spark.sql.execution.GlobalLimitExec => g
        case a: BaseAggregateExec if a.groupingExpressions.isEmpty => a
        // memo-persisted bounded stages hide the aggregate behind a
        // cache scan (heavy_hitters' 1-row totals), and cached plans are
        // AQE-wrapped with no children — hop through both
        case c: InMemoryTableScanExec if bounded(c.relation.cachedPlan) => c
        case a: AdaptiveSparkPlanExec if bounded(a.inputPlan) => a
      }.nonEmpty
    p.collect {
      case a: AdaptiveSparkPlanExec => unboundedNestedLoops(a.inputPlan)
      case c: InMemoryTableScanExec => unboundedNestedLoops(c.relation.cachedPlan)
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        if (bounded(build)) Nil else Seq(j.simpleString(3))
    }.flatten
  }

  /** The per-row operator family: queries whose whole computation is
    * projections/filters/explodes over one scan — their plans must stay
    * shuffle-free except the single presentation-order Exchange, so a
    * refactor that sneaks an aggregate or join into a map-only pipeline
    * fails here. */
  private val perRowQueries = Set(
    "text_normalize", "text_quality", "lang_id", "pii_scrub",
    "quality_gopher", "doc_fingerprint", "intradoc_scrub",
    "media_features", "media_resize", "corpus_split", "zorder_layout")

  perRowQueries.toSeq.sorted.foreach { name =>
    test(s"$name stays map-only: at most the presentation Exchange") {
      val df = SparkEntry.queries(name)(spark, sf0001)
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"$name plans $exchanges Exchanges — a per-row operator grew a " +
          s"shuffle:\n${plan.take(1500)}")
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name plans without nested-loop/cartesian joins") {
      val df = fn(spark, sf0001)
      val plan = df.queryExecution.executedPlan.toString
      val hits = forbidden.filter(plan.contains)
      if (intendedAllPairs(name)) {
        // documented exception — but it must stay a BROADCAST nested loop
        // (small side shipped), never a full cartesian shuffle, and every
        // nested loop's build side must be bounded by a limit (the seeds
        // TakeOrdered / the tiny query set), never a full corpus
        assert(!plan.contains("CartesianProduct"), plan.take(1200))
        if (!Set("vector_topk", "vector_pca_route", "vector_pca_route_fp",
            "hard_negatives", "vector_ann_recall", "vector_ivf_recall",
            "vector_pq_recall", "vector_pca_recall", "vector_sq_recall",
            "vector_bq_fp", "vector_bq_indexed_fp", "vector_bq_recall",
            "vector_filtered_recall", "hybrid_search_rrf",
            "segment_overlap", "segment_overlap_sql")(name)) {
          val unbounded = unboundedNestedLoops(df.queryExecution.executedPlan)
          assert(unbounded.isEmpty,
            s"$name has a nested loop with an UNBOUNDED build side:\n" +
              unbounded.mkString("\n"))
        }
      } else {
        assert(hits.isEmpty,
          s"$name plan contains ${hits.mkString(", ")}\n${plan.take(1200)}")
      }
    }
  }
}
