package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the derived-graph query family at sf0.001 (the
  * DuckDB oracle covers value-exactness at sf0.01; these pin invariants
  * that an oracle can't express, like mass bounds and cross-path
  * agreement).
  */
class GraphQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("fixed-point pagerank approximately conserves scaled mass") {
    val total = GraphQueries.g04_pagerank(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("rank_fp"))
      .head().getLong(0)
    // truncating integer division loses at most a few units per node
    // per iteration; dangling mass re-enters via D/n. Expect within 1%.
    assert(math.abs(total - 1000000000000L) < 10000000000L, s"total=$total")
  }

  test("pagerank checkpoint cadence does not change ranks (bit-exact)") {
    // g04 and g09 checkpoint every round but the last. Their ranks at
    // 6 iterations must equal two implementations that take no
    // checkpoints: GraphX's fixed-point loop for g04, and the g09
    // recurrence in plain Scala over the collected edges.
    GraphQueries.clearCheckpointMemos(spark)
    val g04 = GraphQueries.g04_pagerank(spark, dir, iters = 6)
      .as[(Long, Long)].collect().toMap
    val graph = graft.graph.PageRankGraphX
      .fromEdges(GraphQueries.derivedEdges(spark, dir))
    val gx = graft.graph.PageRankGraphX.standardFixedPointOn(spark, graph, 6)
      .as[(Long, Long)].collect().toMap
    graph.unpersist(false)
    assert(g04 === gx)

    val g09 = GraphQueries.g09_pagerank_personalized(spark, dir, iters = 6)
      .as[(Long, Long)].collect().toMap
    // r0(v) = [v∈S]·(Scale div |S|), S = {v : v % 10 = 1};
    // r'(v) = (85·(c(v) + [v∈S]·(D div |S|))) div 100
    //       + [v∈S]·((0.15·Scale) div |S|),
    // c(v) = Σ_{u→v} r(u) div outdeg(u), D = Σ_{outdeg(u) = 0} r(u)
    val scale = 1000000000000L
    val edges = GraphQueries.derivedEdges(spark, dir).as[(Long, Long)].collect()
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
    def inS(v: Long) = v % 10 == 1
    val ss = nodes.count(inS).toLong
    var r = nodes.map(v => v -> (if (inS(v)) scale / ss else 0L)).toMap
    for (_ <- 1 to 6) {
      val dm = nodes.filterNot(outdeg.contains).map(r).sum
      val c = edges.groupBy(_._2).map { case (v, in) =>
        v -> in.map { case (u, _) => r(u) / outdeg(u) }.sum }
      r = nodes.map { v =>
        val s = if (inS(v)) 1L else 0L
        v -> ((85 * (c.getOrElse(v, 0L) + s * (dm / ss))) / 100 +
          s * (15 * scale / 100 / ss))
      }.toMap
    }
    assert(g09 === r)
  }

  test("pagerank plan size does not grow with iters") {
    // Hermetic: a memo left by an earlier caller (e.g. the spec above,
    // or a Bench/Verify run on a shared session) would make the two
    // calls resume from checkpoints the other did not leave — the
    // comparison below only holds when both calls start memo-free.
    GraphQueries.clearCheckpointMemos(spark)
    def planNodes(iters: Int): Int =
      GraphQueries.g04_pagerank(spark, dir, iters)
        .queryExecution.optimizedPlan.collect { case n => n }.length
    // Every round but the last is checkpointed, so the plan above the
    // last checkpoint is one round regardless of total iterations: 10
    // and 14 passes must yield the SAME plan size — without the
    // checkpoints the plan doubled per pass.
    assert(planNodes(10) === planNodes(14))
  }

  test("fixed-point pagerank is bit-identical across DataFrame and GraphX") {
    val df = GraphQueries.g04_pagerank(spark, dir)
      .as[(Long, Long)].collect().toMap
    val graph = graft.graph.PageRankGraphX
      .fromEdges(GraphQueries.derivedEdges(spark, dir))
    val gx = graft.graph.PageRankGraphX.standardFixedPointOn(spark, graph, 3)
      .as[(Long, Long)].collect().toMap
    assert(gx === df)
  }

  test("cc labels are ≤ node id and stable under one more round") {
    val l3 = GraphQueries.g05_cc_labelprop(spark, dir, 3)
      .as[(Long, Long)].collect().toMap
    assert(l3.forall { case (n, l) => l <= n })
    val l4 = GraphQueries.g05_cc_labelprop(spark, dir, 4)
      .as[(Long, Long)].collect().toMap
    // monotone non-increasing labels
    assert(l4.forall { case (n, l) => l <= l3(n) })
  }

  test("converged cc equals fixed-round label-prop once rounds pass convergence") {
    val conv = GraphQueries.g11_cc_converged(spark, dir)
      .as[(Long, Long)].collect().toMap
    // find the fixed-round convergence point on this graph, then pin:
    // converged == the stable fixed-round result (and stays stable)
    val r20 = GraphQueries.g05_cc_labelprop(spark, dir, 20)
      .as[(Long, Long)].collect().toMap
    val r21 = GraphQueries.g05_cc_labelprop(spark, dir, 21)
      .as[(Long, Long)].collect().toMap
    assert(r20 === r21, "20 rounds should be past convergence at sf0.001")
    assert(conv === r20)
    // every label is its component's minimum member (fixpoint witness)
    conv.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min === c, s"component $c not labeled by its min")
    }
  }

  test("logN star-contraction cc equals converged label-prop on the derived graph") {
    val viaProp = GraphQueries.g11_cc_converged(spark, dir)
      .as[(Long, Long)].collect().toMap
    val viaLog = GraphQueries.g12_cc_logn(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(viaLog === viaProp)
  }

  test("converged-cc loops leave no pinned blocks after eviction") {
    // The round-7 leak: per-round persists and localCheckpoint RDDs
    // escaping the loop. Every loop entry retires its iterates and
    // leaves only session-store entries behind (memoized results,
    // resume checkpoints, tail pins), which eviction releases — so
    // eviction must return the session to (at most) the pins that
    // existed before the loops ran.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Seq("g04_pagerank", "g04_pagerank_i10", "g07_pagerank_graphx",
      "g08_pagerank_compat", "g09_pagerank_personalized", "g11_cc_converged",
      "g12_cc_logn", "g13_bfs", "g14_sssp", "g15_kcore", "g19_hits",
      "g20_hits_converged")
      .foreach(q => GraphQueries.queries(q)(spark, dir).count())
    SharedRelations.evict(spark)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned RDDs survived eviction: $leaked")
  }

  test("clustering coefficients match the brute-force adjacency-set definition") {
    val got = GraphQueries.g16_clustering(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

    val edges = GraphQueries.derivedEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, v) => n -> (v.map(_._2).toSet - n) }
    val expected = adj.map { case (n, nb) =>
      val d = nb.size.toLong
      val tri = nb.toSeq.combinations(2)
        .count { case Seq(u, v) => adj(u).contains(v) }.toLong
      val coeff = if (d >= 2) 2.0 * tri / (d * (d - 1)) else 0.0
      n -> ((d, tri, coeff))
    }

    assert(got.keySet === expected.keySet)
    expected.foreach { case (n, want) => assert(got(n) === want, s"node $n") }
    // the per-node counts reconcile with the global triangle count
    val total = GraphQueries.g06_triangles(spark, dir).head().getLong(0)
    assert(got.values.map(_._2).sum === 3 * total)
  }

  test("degrees reconcile with edge count") {
    val e = GraphQueries.derivedEdges(spark, dir)
    val nEdges = e.count()
    val degs = GraphQueries.g02_degrees(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(degs.map(_._2).sum === nEdges)
    assert(degs.map(_._3).sum === nEdges)
  }

  test("dangling set has no out-edges") {
    val e = GraphQueries.derivedEdges(spark, dir)
    val dangling = GraphQueries.g03_dangling(spark, dir).as[Long].collect().toSet
    val srcs = e.select("src").as[Long].collect().toSet
    assert(dangling.nonEmpty)
    assert(dangling.intersect(srcs).isEmpty)
  }

  test("BFS on an empty edge relation returns the empty (node, dist) schema") {
    val emptySym = Seq.empty[(Long, Long)].toDF("src", "dst")
    val d = GraphQueries.bfsFromMinSource(emptySym)
    assert(d.columns.toSeq === Seq("node", "dist"))
    assert(d.count() === 0L)
  }

  test("hitsLoop is lineage-rooted: deeper rounds keep the same tail plan") {
    // The r13 form embedded each round's whole subtree twice per
    // normalize — ~24× plan growth per round (111 logical joins at 2
    // rounds), so raising HitsRounds was a latent planning-time trap.
    // hitsLoop checkpoints the hub vector at every round boundary but
    // the last, so the LAZY tail is always exactly one round over a
    // checkpoint scan: rounds=4 must plan the same tail as rounds=2
    // and complete. Memos cleared before each call — a resume would
    // trivially equalize the tails and prove nothing.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // materialize INSIDE each memo epoch: clearing the memos releases
    // the round-checkpoint RDDs a still-lazy result references (the
    // retire-don't-release discipline only protects across eviction,
    // not across the explicit test hook)
    def tail(rounds: Int) = {
      GraphQueries.clearCheckpointMemos(spark)
      val df = GraphQueries.hitsLoop(spark, dir, rounds)
      (df.collect(),
        df.queryExecution.optimizedPlan.collect { case j: Join => j }.size)
    }
    val (two, joins2) = tail(2)
    val (four, joins4) = tail(4)
    assert(joins4 === joins2,
      s"tail plan grew with rounds: $joins2 joins at 2, $joins4 at 4")
    // the deeper run completes, stays node-complete, and its
    // normalization invariant holds (some node sits at exactly Q on
    // each axis — integer max-normalization fixes the scale per round)
    assert(four.length === two.length)
    assert(four.map(_.getLong(1)).max === 1000000L)
    assert(four.map(_.getLong(2)).max === 1000000L)
    GraphQueries.clearCheckpointMemos(spark)
  }

  test("hitsConverged stops under the delta criterion and equals the unrolled loop at its stopped round count") {
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    // A converged run is definitionally the unrolled run that stopped
    // reading deltas: whatever round it stops at, hitsLoop at exactly
    // that count must produce the identical integer relation.
    // 2% of the fixed-point scale Q: the sf0.001 graph's deltas decay
    // geometrically (~0.81/round, measured) and cross 20000 at round
    // 12 — comfortably inside the 20-round budget, so the stop is the
    // CRITERION's, not the cap's.
    val (res, rounds, _) = GraphQueries.hitsConverged(spark, dir,
      maxRounds = 20, tolFp = 20000L)
    assert(rounds >= 2, "delta needs two rounds to exist")
    assert(rounds < 20, s"did not converge inside the budget ($rounds)")
    GraphQueries.clearCheckpointMemos(spark)
    val unrolled = GraphQueries.hitsLoop(spark, dir, rounds)
    assert(sorted(res) === sorted(unrolled),
      s"converged result diverged from hitsLoop($rounds)")
    GraphQueries.clearCheckpointMemos(spark)
    // an unreachable tolerance runs to the budget — the round cap is
    // a real bound, not a convergence assumption
    val (_, capped, _) = GraphQueries.hitsConverged(spark, dir,
      maxRounds = 2, tolFp = -1L)
    assert(capped === 2)
  }

  test("g20_hits_converged carries a constant rounds_run that names the round it equals") {
    // The registry entry puts the STOPPING RULE under the oracle hash
    // by carrying rounds_run as a column; this pins the Spark side's
    // half of that contract — the column is constant, the stop is the
    // criterion's (strictly under the 20-round budget on this graph;
    // measured stops, BENCH_NOTES.md and the rounds_run column of any
    // Verify or Bench run: 12 at sf0.001, 17 at sf0.01, cap at
    // sf0.1), and stripping it leaves exactly hitsLoop unrolled to
    // that count.
    GraphQueries.clearCheckpointMemos(spark)
    val res = GraphQueries.g20_hits_converged(spark, dir)
    val rounds = res.select("rounds_run").distinct().collect()
    assert(rounds.length === 1, "rounds_run must be constant")
    val r = rounds.head.getLong(0).toInt
    assert(r >= 2 && r < 20, s"expected a criterion stop, got $r")
    GraphQueries.clearCheckpointMemos(spark)
    val unrolled = GraphQueries.hitsLoop(spark, dir, r)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    assert(sortedRows(res.drop("rounds_run")) === sortedRows(unrolled))
    GraphQueries.clearCheckpointMemos(spark)
  }
}
