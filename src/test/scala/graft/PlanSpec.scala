package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, LambdaFunction}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/**
 * Physical-plan assertions: the plans we designed for, not just the
 * first ones that passed (scale properties verified at plan level —
 * broadcast joins for dimensions, filter/projection pushdown into the
 * parquet scan, shuffle counts bounded).
 */
class PlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def countShuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator.count(_.contains("Exchange"))

  test("dimension joins broadcast (J1/J5/J6)") {
    assert(plan("j1_broadcast_enrich").contains("BroadcastHashJoin"))
    val p = plan("j6_downtime_enriched")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension join must not sort-merge")
  }

  test("range-scan predicate pushes to the parquet scan (P7)") {
    val p = plan("p7_range_scan")
    // the coarse time-range bounds on the raw ts column must reach the
    // scan as pushed filters (not merely survive as a post-scan Filter)
    // — regardless of which physical representation the testdata ships
    // (epoch-nanos BIGINT vs timestamp[us]); this assert is the
    // schema-drift tripwire for the pushdown path
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(ts,"), pushed.take(800))
    assert(pushed.contains("LessThan(ts,"), pushed.take(800))
  }

  test("global name rank plans without a single-partition Window (O3)") {
    val df = SparkEntry.queries("o3_name_sort_rank")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the two-pass rank (range sort + zipWithIndex) must leave NO
    // Window operator and no Exchange SinglePartition anywhere
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("top-terms ranks AFTER a TakeOrdered limit, never a vocab-wide window (T11)") {
    val df = SparkEntry.queries("t11_top_terms")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    // the only Window input is the k-row TakeOrdered result — assert
    // the window is not fed by an Exchange over the full aggregate
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"), p.take(1200))
  }

  test("bigram LM stats broadcast to the per-doc join (T19)") {
    val p = plan("t19_lm_perplexity")
    // the charset-bounded LM table must broadcast — a shuffle join
    // here would shuffle every (doc, bigram) row against a tiny dim
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("reliability KPIs reuse the segment window: bounded shuffles (X9)") {
    val df = SparkEntry.queries("x9_reliability")(spark, sf)
    // one exchange for the per-machine window spine, one for the final
    // per-machine aggregate — nothing else
    assert(countShuffles(df) <= 3, df.queryExecution.executedPlan.toString.take(1200))
  }

  test("filter + projection pushdown on lineitem (q2)") {
    val p = plan("q2_shipdate_filter")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"))
    // projection pruned to the needed columns only
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"))
  }

  test("downtime windows reuse one shuffle for lag+lead (J3/J4)") {
    val df = SparkEntry.queries("j4_segment_durations")(spark, sf)
    // one exchange for the (id, tag) window partitioning, one for nothing else
    assert(countShuffles(df) <= 2, df.queryExecution.executedPlan.toString.take(1200))
  }

  test("aggregations are partial+final hash aggregates (q1)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"))
  }

  test("condensation spine join broadcasts (A3)") {
    assert(plan("a3_condense").contains("BroadcastHashJoin"))
  }

  test("parse path stays in one pass: no filter re-evaluating the parse (P1)") {
    val p = plan("p1_parse_roundtrip")
    // the envelope parse must appear in projections, not in a pre-Generate Filter
    val filterLines = p.linesIterator.filter(_.trim.startsWith("+- Filter")).toSeq
    assert(!filterLines.exists(_.contains("from_json")), filterLines.mkString("\n").take(800))
  }

  test("ANN brute force never shuffles the corpus (N1)") {
    val df = SparkEntry.queries("n1_ann_bruteforce")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(800))
  }

  test("multi-pass SNM: no single-partition Window, no cartesian, equi-joins only (D22)") {
    try {
      val p = plan("d22_snm_multipass")
      // each pass sorts via the two-pass global rank — a Window node
      // here would mean a single-partition sort bottleneck at scale
      assert(!p.contains("Window"), p.take(600))
      assert(!p.contains("CartesianProduct"), p.take(600))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    } finally graft.functions.GlobalRank.releaseStaged()
  }

  test("inverted-index join is an equi-join, never a cartesian product (D2)") {
    val p = plan("d2_jaccard_pairs")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("hierarchy rollup computes all grouping levels in one pass (X1)") {
    val p = plan("x1_hierarchy_rollup")
    assert(p.contains("Expand")) // ROLLUP via Expand, not per-level rescans
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p.take(600))
  }

  test("asof join: union + one window shuffle, never a range probe (X2)") {
    val df = SparkEntry.queries("x2_asof_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(800))
    // one exchange for the per-minute status agg, one for the asof window
    assert(countShuffles(df) <= 2, p.take(1200))
  }

  test("deterministic sampling is a map-side filter: zero shuffles (T5)") {
    val df = SparkEntry.queries("t5_stratified_sample")(spark, sf)
    assert(countShuffles(df) == 0, df.queryExecution.executedPlan.toString.take(800))
  }

  test("quantized ANN: queries broadcast in BOTH stages, corpus never shuffled (N5)") {
    val df = SparkEntry.queries("n5_ann_quantized")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // stage 1 scans the int8 corpus against broadcast queries; stage 2
    // joins the (broadcast-sized) candidate list back — the full-float
    // corpus side must never be exchanged by content
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("embedding")), p.take(1200))
  }

  /** Run `body` with `spark.sql.optimizer.excludedRules` cleared: the
   * shared session may carry the message parser's session-wide
   * exclusion of InferFiltersFromGenerate, which would hide plans that
   * only go wrong with the rule on. */
  private def withAllOptimizerRules[A](body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    spark.conf.unset(key)
    try body
    finally saved.foreach(spark.conf.set(key, _))
  }

  /** Every physical node of an executed plan: through adaptive query
   * stages, subqueries and the cached plans of persisted inputs. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val nodes = collectWithSubqueries(p) { case n => n }
    nodes ++ nodes.flatMap {
      case s: InMemoryTableScanExec => allNodes(s.relation.cacheBuilder.cachedPlan)
      case _ => Nil
    }
  }

  test("decontamination is an equi-join on the shingle key, no cartesian (D9)") {
    withAllOptimizerRules {
      val df = SparkEntry.queries("d9_decontaminate")(spark, sf)
      try {
        df.collect()
        val nodes = allNodes(df.queryExecution.executedPlan)
        val p = nodes.headOption.map(_.toString).getOrElse("")
        assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), p.take(600))
        val shingleJoins = nodes.collect {
          case j: BroadcastHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "shingle")) => j
        }
        assert(shingleJoins.size == 1, nodes.map(_.nodeName).distinct.mkString(", "))
        val j = shingleJoins.head
        val (build, stream) = j.buildSide match {
          case BuildLeft => (j.left, j.right)
          case BuildRight => (j.right, j.left)
        }
        assert(build.output.exists(_.name == "eval_id"), s"build side is not the eval index: $j")
        assert(stream.output.exists(_.name == "train_id"), s"stream side is not the train index: $j")
      } finally df.unpersist()
    }
  }

  test("no higher-order function in any Filter condition (D9/D11/D15)") {
    // filter inference under the shingle explode copies the shingle
    // expression into a Filter; with a lambda chain there, the scan
    // re-tokenized each document once per shingle position
    withAllOptimizerRules {
      for (q <- Seq("d9_decontaminate", "d11_bloom_decontaminate", "d15_contamination_report")) {
        val df = SparkEntry.queries(q)(spark, sf)
        try {
          df.collect()
          val conditions = allNodes(df.queryExecution.executedPlan).flatMap {
            case f: FilterExec => Seq(f.condition)
            case s: FileSourceScanExec => s.dataFilters
            case _ => Nil
          }
          assert(conditions.nonEmpty, q)
          val lambdas = conditions.filter(_.exists {
            case _: LambdaFunction | _: ArrayTransform | _: ArrayFilter => true
            case _ => false
          })
          assert(lambdas.isEmpty,
            s"$q filters on a higher-order function: ${lambdas.map(_.sql.take(800)).mkString("; ")}")
        } finally df.unpersist()
      }
    }
  }

  test("quality classifier is a zero-shuffle codegen pass (T17)") {
    val df = SparkEntry.queries("t17_quality_classifier")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(countShuffles(df) == 0, p.take(800))
    assert(p.contains("*("), p.take(800)) // whole-stage-codegen'd stages
  }

  test("boilerplate removal joins on the segment digest, never pairwise (D13)") {
    val p = plan("d13_boilerplate_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
  }

  test("random-projection ANN: queries broadcast both stages, corpus never shuffled pre-rank (N9)") {
    val p = plan("n9_ann_randproj")
    // the projection runs as the codegen'd expression, not a 1024-node tree
    assert(p.contains("floatrandproject"), p.take(1200))
    assert(p.contains("BroadcastExchange"), p.take(800))
  }

  test("canonical selection: cluster labeling + one rank window, nothing pairwise (D14)") {
    val p = plan("d14_canonical_docs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
  }

  test("PII redaction is a pure map pipeline: zero shuffles (T8)") {
    val df = SparkEntry.queries("t8_pii_redact")(spark, sf)
    assert(countShuffles(df) == 0, df.queryExecution.executedPlan.toString.take(800))
  }

  test("normalization and line-dedup are zero-shuffle map pipelines (T9/T10)") {
    val t9 = SparkEntry.queries("t9_unicode_normalize")(spark, sf)
    assert(countShuffles(t9) == 0, t9.queryExecution.executedPlan.toString.take(800))
    // the custom Expression runs inside the scan-project pipeline
    assert(t9.queryExecution.executedPlan.toString.toLowerCase
      .contains("unicodenormalize"))
    val t10 = SparkEntry.queries("t10_line_dedup")(spark, sf)
    assert(countShuffles(t10) == 0, t10.queryExecution.executedPlan.toString.take(800))
  }

  test("centroids aggregate partially before the exchange (E1)") {
    val p = plan("e1_embedding_centroids")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), p.take(800))
    val df = SparkEntry.queries("e1_embedding_centroids")(spark, sf)
    assert(countShuffles(df) <= 1, p.take(800))
  }

  test("codegen'd FloatVecDot is in the plan, not interpreted lambdas (N1)") {
    val p = plan("n1_ann_bruteforce")
    assert(p.contains("floatvecdot") || p.contains("FloatVecDot"), p.take(800))
    assert(!p.contains("aggregate(zip_with"))
  }

  test("CUBE expands grouping sets before ONE exchange (X5)") {
    val df = SparkEntry.queries("x5_cube")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), p.take(800))
    assert(countShuffles(df) == 1, p.take(800))
  }

  test("explicit-list pivot is one aggregate pass, one exchange (X6)") {
    val df = SparkEntry.queries("x6_pivot")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p.take(800))
    assert(countShuffles(df) == 1, p.take(800))
  }

  test("RANGE-frame aggregates share one Window node, one exchange (X7)") {
    val df = SparkEntry.queries("x7_trailing_window")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.trim.startsWith("+- Window")) +
      p.linesIterator.count(_.trim.startsWith("Window")) == 1, p.take(1200))
    assert(countShuffles(df) == 1, p.take(800))
  }

  test("document chunking is a zero-shuffle narrow pipeline (T14)") {
    val df = SparkEntry.queries("t14_chunk_docs")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate explode"), p.take(800))
    assert(countShuffles(df) == 0, p.take(800))
  }

  test("sequence packing: per-doc rows shuffle ONCE on (source, batch); offsets broadcast (T15)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = SparkEntry.queries("t15_pack_sequences")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
    // exactly ONE exchange carries per-document rows (no aggregate
    // below it); it must be keyed by BOTH source and _batch so no
    // partition spans a whole source stream
    val factShuffles = shuffles.filter(s =>
      collect(s.child) { case a: BaseAggregateExec => a }.isEmpty)
    assert(factShuffles.size == 1, plan.toString.take(1200))
    factShuffles.head.outputPartitioning match {
      case h: HashPartitioning =>
        val keys = h.expressions.map(_.toString).mkString(",")
        assert(keys.contains("source") && keys.contains("_batch"), keys)
      case other => fail(s"fact shuffle not hash-partitioned: $other")
    }
    // every other exchange sits above a partial aggregate — it moves
    // one row per (source, batch), never per document
    assert(shuffles.size <= 3, plan.toString.take(1200))
    // the tiny base-offset side comes back via broadcast, so the fact
    // stream is not re-shuffled for the join
    val p = plan.toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p.take(1200))
  }

  test("SemDeDup pairs join is cell-equi, never cartesian (E3)") {
    val p = plan("e3_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(800))
  }

  test("Bloom probe prunes the train side BEFORE the join (D11)") {
    val p = plan("d11_bloom_decontaminate")
    assert(p.contains("might_contain"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the probe must sit under a Filter feeding the join, not after it
    val probeLine = p.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = p.linesIterator.indexWhere(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(probeLine > joinLine, s"probe@$probeLine join@$joinLine\n" + p.take(1200))
  }

  test("OEE folds all three factors out of ONE events scan (X10)") {
    val p = plan("x10_oee")
    // a multi-branch formulation would scan the parquet once per
    // factor; the single-pass row-gap form must read it exactly once
    assert(p.linesIterator.count(l => l.contains("Scan parquet") && !l.startsWith("(")) === 1,
      p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("hard-negative mining anti-joins hash-style and heap-reranks (R3)") {
    val p = plan("r3_hard_negatives")
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
  }

  test("BM25 top-k is WindowGroupLimit-pruned, no cartesian (R1)") {
    // candidates must come from the inverted-index equi-join on term
    // (query terms × posting lists), and the per-query top-k must be
    // heap-pruned before the window sort — at 100 TB the posting join
    // is the whole cost and a global sort per query is the anti-plan
    val p = plan("r1_bm25_topk")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
  }

  test("BM25 serve path reads materialized stats — no full-postings aggregate (R6/R8)") {
    // the fit-once/serve-many property: a serve call must read (N, S)
    // from the 1-row _stats table and idf from the vocabulary-sized
    // _df table, never re-aggregate the postings — at a standing
    // 100 TB index the per-call df rescan would dominate serve cost.
    // A term-keyed aggregate in the plan IS that rescan.
    for (q <- Seq("r6_bm25_served", "r8_bm25_prf_served")) {
      val p = plan(q)
      assert(!p.contains("keys=[term#"), s"$q: ${p.take(1500)}")
    }
  }

  test("PRF expansion: both passes WindowGroupLimit-pruned, no cartesian (R7)") {
    // pass 1 (feedback top-fbDocs), the expansion-term top-m, and
    // pass 2 (final top-k) are all per-query heaps — three
    // WindowGroupLimits; candidates only ever arrive via term/doc
    // equi-joins, never a product
    val p = plan("r7_bm25_prf")
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 3, p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
  }

  test("semantic decontamination: map-only literal argmin, cell equi-join (D17)") {
    // both sides assign via the centroid-literal least-of-structs —
    // no shuffle before the cell join, no nested-loop pair scan; the
    // only joins are the cell equi-join (hash or broadcast)
    val p = plan("d17_semantic_decon")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    assert(p.contains("HashJoin"), p.take(1200)) // cell equi-join
  }

  test("theta-intersection touches sketch rows only, grid broadcast (O15)") {
    // after the bottom-k sketch (WindowGroupLimit), the h equi-join and
    // the θ-grid join run on ≤ groups·k rows; the grid side must
    // broadcast, and nothing may nested-loop over data-sized input —
    // the one BroadcastNestedLoop allowed is the groups²-sized
    // ga < gb grid build itself
    val p = plan("o15_kmv_overlap_matrix")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("source cap is WindowGroupLimit-pruned per host (T27)") {
    val p = plan("t27_source_caps")
    assert(p.contains("WindowGroupLimit"), p.take(1000))
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("kNN-graph per-src rank is WindowGroupLimit-pruned (E4/E6)") {
    // the dominant sf1 growth curves on the board: candidates per src
    // must be pruned to top-k BEFORE the full window sort, or the
    // cell-bounded pair space (N×cap) pays candidates×log(candidates)
    // per src at 100× scale
    for (q <- Seq("e4_knn_graph", "e6_knn_graph_xcell", "e12_knn_graph_canonical")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q: ${p.take(1200)}")
    }
  }

  test("dedup-first kNN keeps every join keyed; the canonical gate is a semi-join (E12)") {
    val p = plan("e12_knn_graph_canonical")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(1000))
    // the canonical filter reaches the embeddings side as a LeftSemi,
    // so non-canonical vectors never enter cell assignment or the
    // pair join
    assert(p.contains("LeftSemi"), p.take(1200))
  }

  test("video near-dup candidates are signature-equi, never all-pairs (M3)") {
    val p = plan("m3_video_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(1000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(1000))
    // the decode+model-forward lineage must execute ONCE: the embedded
    // frame corpus is eagerly persisted before the LSH self-join, so
    // BOTH join sides read the in-memory cache instead of re-running
    // the mapPartitions chain (round-10's 2× bug)
    val scans = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(scans >= 2, s"expected both self-join sides to read the cached corpus; " +
      s"saw $scans InMemoryTableScan nodes:\n${p.take(1500)}")
    spark.catalog.clearCache()
  }

  test("heavy-hitter verify pass is a broadcast semi-join on candidates (T38)") {
    val p = plan("t38_heavy_hitters")
    // the exact recount must touch only candidate keys: a broadcast
    // LeftSemi against the bounded candidate set, never a shuffle of
    // the full token stream's distinct keys into a plain join
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("priority sample takes top-k without a global sort or Window (T39)") {
    val p = plan("t39_priority_sample")
    // TakeOrderedAndProject = per-partition heaps + one k-sized merge
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("Window"), p.take(800))
  }

  test("quantile sketch reads its fact scan ONCE for all quantiles (X20)") {
    val p = plan("x20_outage_quantile_sketch")
    // the q-list is exploded onto the tiny bin rows — a per-q union of
    // filtered branches would re-scan events once per quantile
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one fact scan, got $scans:\n${p.take(1200)}")
  }

  test("KMV bottom-k rank is WindowGroupLimit-pruned (O13)") {
    // the sketch keeps k rows per group — the rank window must prune
    // to k below the sort, not rank the full distinct-hash population
    val p = plan("o13_kmv_distinct_users")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
  }

  test("HLL sketches aggregate object-hash with map-side partials (O10)") {
    val p = plan("o10_hll_distinct_users")
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial pass — the sketch merges map-side, so the shuffle moves
    // 1 KiB registers per (group, shard), never raw values
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("epoch expansion is a broadcast join + map-side explode (T31)") {
    val p = plan("t31_epoch_expand")
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("Generate explode"), p.take(1000))
  }

  test("corpus diff joins digests only, never text (T29)") {
    val df = SparkEntry.queries("t29_corpus_diff")(spark, sf)
    // the optimized plan's join inputs must be (key, digest) columns —
    // md5 collapses BELOW the shuffle, the text column is pruned away
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      val inCols = (j.left.output ++ j.right.output).map(_.name)
      assert(!inCols.contains("text"), s"join reads text: $inCols")
    }
  }

  test("Q6: every conjunct reaches the parquet scan as a pushed filter") {
    // the rendered plan truncates PushedFilters — read the scan node's
    // full metadata instead
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
    val pushed = collectLeaves(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata("PushedFilters")
    }.mkString
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach { f =>
      assert(pushed.contains(f), s"missing $f in: ${pushed.take(600)}")
    }
  }

  test("rate anomaly: both window passes share ONE machine-keyed shuffle (X13)") {
    val df = SparkEntry.queries("x13_rate_anomaly")(spark, sf)
    assert(countShuffles(df) === 1, df.queryExecution.executedPlan.toString.take(1200))
    val p = plan("x13_rate_anomaly")
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("availability trend: day split is map-side, no single-partition ops (X14)") {
    val p = plan("x14_availability_trend")
    assert(p.contains("Generate explode"), p.take(1200))
    assert(!p.contains("SinglePartition"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "trend must not join — it is windows + one rollup\n" + p.take(800))
  }

  test("training order has no Window operator and no single-partition exchange (T32)") {
    val df = SparkEntry.queries("t32_training_order")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(1000))
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("source overlap: ONE corpus scan, no joins, digests-only shuffle (T34)") {
    val df = SparkEntry.queries("t34_source_overlap")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // single-pass collect_set formulation — no self-join anywhere (the
    // join alternative would double the md5 work AND shuffle twice).
    // Two scans belong to the query's deterministic mirror-host
    // augmentation (base ∪ re-sourced slice), not the operator.
    assert(p.linesIterator.count(l => l.contains("Scan parquet") && !l.startsWith("(")) === 2,
      p.take(1200))
    assert(!p.contains("Join"), p.take(800))
    // only the 32-byte digest and source shuffle — text stays map-side
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.nonEmpty && !ex.exists(_.contains("text")), ex.mkString("\n"))
  }

  test("gap report and transition matrix stay on bounded shuffles (X16/X17)") {
    // x16: window + agg share the machine partitioning — one exchange
    val g = SparkEntry.queries("x16_gap_report")(spark, sf)
    assert(countShuffles(g) === 1, g.queryExecution.executedPlan.toString.take(1000))
    // x17: machine window + line-keyed rollup — two, never more
    val t = SparkEntry.queries("x17_transition_matrix")(spark, sf)
    assert(countShuffles(t) <= 2, t.queryExecution.executedPlan.toString.take(1000))
    assert(!t.queryExecution.executedPlan.toString.contains("SinglePartition"))
  }

  test("top outages per line are WindowGroupLimit-pruned (X19)") {
    val p = plan("x19_top_outages")
    assert(p.contains("WindowGroupLimit"), p.take(1000))
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("cross-encoder rerank broadcasts the candidate side against the corpus (R10)") {
    // the doc-text join must BROADCAST the queries x k candidate list:
    // corpus rows never shuffle on doc_id to meet candidates, and only
    // candidate rows carry text into the scorer
    val docs = graft.sources.Tables.documents(spark, sf)
    val fused = graft.functions.Retrieval.rrfFuse(Seq(
      graft.functions.Retrieval.bm25TopK(docs, "doc_id", "text",
        graft.functions.Retrieval.selfQueries(docs, "doc_id", "text"),
        "query_id", "terms", k = 10, maxDfFrac = 1.0)
        .select(col("query_id"), col("doc_id"), col("rank"))), k = 10)
    val df = graft.functions.Retrieval.crossEncoderRerank(fused,
      graft.functions.Retrieval.selfQueries(docs, "doc_id", "text"),
      docs, "doc_id", "text",
      graft.functions.HashOverlapCrossLoader(seed = 7), k = 10)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), "rerank must never go all-pairs")
  }

  test("nDCG eval aggregates queries x k rows only — no cartesian, no single-partition window (R11)") {
    val df = SparkEntry.queries("r11_ndcg")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "label joins must stay equi-joins")
    assert(!p.contains("SinglePartition"),
      "the ideal-position window partitions by query_id, never globally")
  }

  test("z-order key stays inside whole-stage codegen (O9)") {
    val p = plan("o9_zorder_key")
    // the key computation must sit under a WholeStageCodegen span (the
    // `*(n)` marker on the Project), not fall back to interpreted
    // projection
    val keyLine = p.linesIterator.find(_.contains("zorderinterleave")).getOrElse("")
    assert(keyLine.trim.startsWith("*("), p.take(1000))
    assert(countShuffles(SparkEntry.queries("o9_zorder_key")(spark, sf)) === 0,
      "key computation is map-only")
  }
}
