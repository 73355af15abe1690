package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the properties that decide 100 TB
  * viability — the machine-checked form of the `graft.Explain` audit.
  * These pin the PLAN, not the values (the DuckDB oracle does values):
  * a regression that silently un-pushes a filter, widens a scan,
  * degrades a broadcast to a shuffle, or introduces a cartesian
  * product fails here even though results stay correct.
  */
class PlanHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q02: predicates push into the parquet scan") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("EqualTo(l_returnflag,R)") ||
      p.contains("l_returnflag"), p)
    assert(!p.contains("PushedFilters: []"), "no filters reached the scan")
  }

  test("q01: scan is column-pruned and the job stays map-only") {
    val p = plan("q01_scan_project")
    // 3 projected columns of lineitem's 16 — a full-width scan would
    // read l_comment et al.
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment"), "scan not pruned: reads l_comment")
    assert(!p.contains("l_shipdate"), "scan not pruned: reads l_shipdate")
    assert(!p.contains("Exchange"), "map-only query planned a shuffle")
  }

  test("q04: dimension join broadcasts (fact side never shuffles)") {
    val p = plan("q04_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q05: fact-to-fact join is sort-merge on the shuffle key") {
    // At the test fixture's size the orders side fits the broadcast
    // threshold, so disable it to see the at-scale plan (q05
    // deliberately carries no broadcast hint — both sides are facts).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan("q05_join_sortmerge")
      assert(p.contains("SortMergeJoin"), p)
    } finally spark.conf.set(key, old)
  }

  test("candidate generation never degrades to a cross product") {
    // the dedup/similarity scale claim: bucketed equi-joins only.
    // s03 is exempt from the nested-loop check: its centroid ASSIGNMENT
    // is a deliberate broadcast of |C| centroids against every vector
    // (linear scan, map-side) — only its search stage must stay an
    // equi-join, which the cartesian check still covers.
    for (q <- Seq("d02_ngram_jaccard", "d03_minhash_lsh",
        "d06_neardup_clusters", "d11_repeated_spans", "d12_span_removal",
        "s02_knn_lsh", "s03_knn_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cross product")
      if (q != "s03_knn_ivf")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q plans a nested-loop join")
    }
  }

  test("s02: query side broadcasts against the bucket index") {
    val p = plan("s02_knn_lsh")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p02: both top-N phases prune before their exchange") {
    // The skew-proof sampling claim is only real if the optimizer
    // keeps WindowGroupLimit (partial top-N) BELOW each shuffle — the
    // pre-shuffle prune is what bounds per-lane data. Regressing to a
    // bare Window would still be correct (the oracle can't see it) but
    // would ship whole strata through both exchanges.
    val p = plan("p02_balanced_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert("Exchange".r.findAllIn(p).size <= 3,
      "p02 grew extra shuffles beyond the two rank phases")
  }

  test("p03: packing is one shard exchange over a pruned scan") {
    val p = plan("p03_pack")
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size === 1,
      "p03 must shuffle exactly once (on shard)")
    assert(!p.contains("lang"), "p03 scan not pruned: reads lang")
  }

  test("q36: grouping sets is one Expand + one aggregation exchange") {
    val p = plan("q36_grouping_sets")
    assert(p.contains("Expand"), p)
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size === 1,
      "q36 must shuffle exactly once (the grouping aggregation)")
  }

  test("t06: repetition signals are one scan and two aggregation exchanges") {
    val p = plan("t06_repetition")
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size === 2,
      "t06 must shuffle exactly twice (gram counts, per-doc stats)")
    assert(!p.contains("Join"), "t06 grew a join; both signals ride one relation")
    // one corpus scan only — the tagged-union explode exists to avoid
    // re-reading `text` per gram size ("Scan parquet" is the leaf
    // node's label; the bare word appears twice per leaf)
    assert("Scan parquet".r.findAllIn(p).size === 1,
      "t06 scans the corpus more than once")
  }

  test("p04: eval n-grams broadcast; train grams never shuffle for the probe") {
    val p = plan("p04_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "p04 degraded to a shuffled join; the eval side must broadcast")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s05: PQ encode and ADC are broadcast joins over the code relation") {
    for (q <- Seq("s05_knn_pq", "s06_knn_pq_trained")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("CartesianProduct"), s"$q plans a cross product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join")
    }
  }

  test("q38: the band join is binned — no nested-loop, no cartesian") {
    val p = plan("q38_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "q38 planned the O(n·m) nested loop; RangeJoinBinning did not fire")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Expand"), p)
    assert(p.contains("__graft_band_bin"), p)
  }

  test("the count()-collapse set is exactly the bench's uncounted set") {
    // The bench materializes with count(), and Catalyst re-optimizes
    // under it — row-preserving joins (outer joins on unique keys,
    // 1-row scalar assemblies) are ELIMINATED, so those queries' bench
    // numbers measure less than the full plan (d12/d06 collapse to a
    // scan-count; p04 loses its probe join; the PageRank family loses
    // its two ~free scalar joins). Bench derives its `uncounted` set
    // (the entries whose honest toRdd cost the artifact carries) from
    // the same Recorder.countCollapse this sweep of the WHOLE registry
    // calls; the pairs below pin that set, so an operator change or a
    // new query that shifts it shows here (BENCH_NOTES
    // §count()-collapse). Streaming twins and iterative loops return
    // eager/checkpointed relations (0 joins both ways) and pass
    // vacuously.
    // Counted nodes: Joins AND Windows — a pure row-preserving window
    // projection (q07/q33/q37/q46) is column-pruned away under count()
    // just like a row-preserving join, and its bench number becomes a
    // scan-count (measured: q07 reads 0.16s at sf10 where the real
    // window over 10M rows is seconds — the r13 sf10 sweep exposed it).
    val collapsed = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val (full, underCount) =
        graft.Recorder.countCollapse(graft.SparkEntry.queries(name)(spark, dir))
      if (underCount < full) Some(name -> ((full, underCount))) else None
    }
    val expected = Seq(
      "d06_neardup_clusters" -> ((4, 0)),
      "d12_span_removal" -> ((2, 0)),
      "d13_incremental_neardup" -> ((4, 0)),
      // the keeper's per-cluster ranking window is pruned; the
      // cluster joins survive
      "d15_quality_keeper" -> ((7, 6)),
      "g04_pagerank" -> ((4, 2)),
      "g04_pagerank_i10" -> ((4, 2)),
      // the tolerance witness joins GraphX ranks to the fp loop: the
      // fp loop's two scalar joins survive count() but the witness
      // join itself is row-preserving on (node) and collapses
      "g07_pagerank_graphx" -> ((5, 3)),
      "g08_pagerank_compat" -> ((4, 2)),
      "g09_pagerank_personalized" -> ((4, 2)),
      // the wedge chain feeds the left join's aggregated side, so
      // count() cascades ALL seven joins away — the bench number
      // would be a deg-side scan-count without the uncounted twin
      "g16_clustering" -> ((7, 0)),
      // g19_hits is deliberately ABSENT since r14: the lineage-rooted
      // hitsLoop leaves only the final round lazy (its tail joins all
      // survive count() — the eager round checkpoints execute at build
      // time and are timed either way), so its count() number measures
      // the full plan and it carries no uncounted twin; later samples
      // resume from the round memo, so the bench reports it in `cold`.
      // the per-shard packing cumsum window is the whole query
      "p03_pack" -> ((1, 0)),
      "p04_contamination" -> ((1, 0)),
      // two of the curriculum's three stage windows prune
      "p08_curriculum" -> ((3, 1)),
      // the dup-flag semi+left joins are row-preserving on the
      // aggregated side, so count() measures the group-by alone
      "p09_source_report" -> ((2, 0)),
      // pure window projections: the Window node itself is pruned
      "q07_window_running" -> ((1, 0)),
      // the as-of pick is a window (last value ≤ ts), not a join —
      // pruned wholesale under count()
      "q28_asof_join" -> ((1, 0)),
      "q33_lead_lag" -> ((1, 0)),
      "q37_range_frame" -> ((1, 0)),
      "q41_funnel" -> ((5, 0)),
      // the per-group rank window prunes; the bin aggregation stays
      "q43_histogram_quantile" -> ((2, 1)),
      // one Window node hosts all three rank functions
      "q46_ranks" -> ((1, 0)),
      // the tie-break window above the GroupedTopK operator prunes
      "s07_knn_topk_operator" -> ((2, 1)))
    assert(collapsed === expected,
      s"count()-collapse set changed: $collapsed — Bench's uncounted map " +
        "moves with it; update the expected pairs and BENCH_NOTES")
  }

  test("t10: ranking takes the WindowGroupLimit plan; dictionaries broadcast") {
    val p = plan("t10_tfidf")
    // the measured k-per-group crossover decision (SCALE.md): thin
    // rows-per-group ⇒ window pushdown, NOT the heap operator
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("GroupedTopK"), "t10 regressed to the heap operator")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q42: z-order audit is one narrow scan + one aggregation exchange") {
    val p = plan("q42_zorder")
    assert(p.contains("graft_zorder") || p.contains("ZOrder"), p)
    // exactly one exchange: the (bucket) hash aggregation's
    assert(p.split("Exchange").length - 1 === 1, p)
    assert(!p.contains("l_comment"), "scan not pruned")
  }

  test("q43: histogram quantile broadcasts group totals; bins partial-aggregate") {
    val p = plan("q43_histogram_quantile")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // partial + final hash agg for the (rf, bin) histogram
    assert(p.contains("HashAggregate"), p)
  }

  test("q44/q45: the tiny side relations broadcast") {
    for (q <- Seq("q44_retention", "q45_transitions")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
    }
  }

  test("m07/m08: payload columns never reach an exchange") {
    for (q <- Seq("m07_phash_neardup", "m08_audio_energy")) {
      // every exchange in these plans ships signatures/metadata rows;
      // the binary payload stays inside the per-partition map stage.
      // Inspect each Exchange node's FULL output schema (not the plan
      // text's first line — a payload attribute later in the node's
      // output would slip past a string check).
      val exec = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan
      // AdaptiveSparkPlanExec is a leaf to collect(); recurse into it
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          flatten(a.executedPlan)
        case other => other +: other.children.flatMap(flatten)
      }
      val exchanges = flatten(exec).collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      // m08 is deliberately zero-shuffle; m07's band join must shuffle
      if (q == "m07_phash_neardup")
        assert(exchanges.nonEmpty, s"$q: expected at least one exchange")
      exchanges.foreach { e =>
        val shipped = e.output.map(_.name)
        assert(!shipped.exists(_.toLowerCase.contains("payload")),
          s"$q shuffles payload: exchange output = ${shipped.mkString(",")}")
      }
    }
  }

  test("t07: the frequency dictionary broadcasts; token side never shuffles for the join") {
    val p = plan("t07_rarity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "t07 degraded to a shuffled join; the dictionary must broadcast")
  }

  test("p06: split assignment is a map-only narrow plan") {
    val p = plan("p06_split")
    assert(!p.contains("Exchange"), "p06 planned a shuffle")
    assert(!p.contains("Join"), "p06 grew a join")
  }

  test("narrow text pipelines stay shuffle-free and codegen'd") {
    // `*(n)` is executedPlan.toString's whole-stage-codegen marker.
    // (t04's higher-order filter() lambda legitimately splits its
    // span — HOFs aren't codegen'd — but a codegen'd stage must still
    // exist and nothing may shuffle.)
    for (q <- Seq("t01_tokens", "t03_langid", "t04_quality", "t08_redact")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q planned a shuffle")
      assert(p.contains("*("), s"$q fell out of codegen entirely")
    }
  }
}
