package graft.graph

import graft.TestSpark
import graft.sources.Bucketing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Executes the iterative g-family's 100 TB claim
  * ([[graft.queries.GraphQueries]] `graph_sym` scaladoc): when the
  * symmetrized edge relation is a table BUCKETED BY src, a round's
  * frontier join moves ONLY the frontier — the edge side reads
  * co-located bucket files with zero exchanges, at any executor
  * count. BucketingSpec proves the layout mechanism on a plain join;
  * this spec proves the COMPOSITION: (1) the exact per-round join
  * shape the FromSym loops plan is exchange-free on the edge side,
  * and (2) the full converged loops (CC, BFS, SSSP) run against the
  * bucketed table and return the identical result to the in-memory
  * path — layout changes the plan, never the fixpoint.
  */
class GraphBucketedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** AdaptiveSparkPlanExec and the per-stage QueryStageExec wrappers
    * are leaves to collect(); recurse into their inner plans.
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def symDf: DataFrame = {
    val e = graft.queries.GraphQueries.derivedEdges(spark, dir)
    e.union(e.select(col("dst"), col("src"))).toDF("src", "dst").distinct()
  }

  private def withNoBroadcast[A](f: => A): A = {
    // at sf0.001 AQE would broadcast the frontier (also exchange-free
    // on the edge side, but the wrong evidence: broadcast stops being
    // available exactly when the frontier outgrows the driver — the
    // regime the bucketed layout exists for). Disable it to see the
    // at-scale plan.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  test("a round's frontier join over the bucketed sym table plans zero exchanges on the edge side") {
    val bsym = Bucketing.bucketedTable(spark, symDf, "b_graph_sym", 8, "src")
    try withNoBroadcast {
      // the exact join+agg shape every FromSym round plans: labels
      // flow u→v across the edges, v takes the min. The label
      // iterate comes from OUTSIDE the bucketed table (mid-loop it is
      // a checkpointed prior round with the aggregate's partitioning,
      // not the table's), so its side genuinely has to move.
      val lab = symDf.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      val round = bsym.toDF("u", "v")
        .join(lab.select(col("node").as("u"), col("label").as("l")), Seq("u"))
        .groupBy(col("v").as("node")).agg(min(col("l")).as("nbr"))
      round.collect() // settle AQE so executedPlan is final
      val flat = flatten(round.queryExecution.executedPlan)
      val exchanges = flat.collect { case e: Exchange => e }
      // the join must be a real shuffled join, not a broadcast
      assert(!flat.exists(_.nodeName.contains("Broadcast")),
        s"join broadcast despite threshold -1:\n${round.queryExecution.executedPlan}")
      assert(exchanges.nonEmpty, "expected the frontier side to shuffle")
      // the load-bearing pin: on the JOIN's edge side there is no
      // exchange between the join and the bucketed scan — the edge
      // table feeds the join in place. (Exchanges ABOVE the join — the
      // frontier side, the post-join aggregate — are exactly the
      // frontier-sized traffic the layout leaves behind.)
      def hasBucketScan(p: SparkPlan): Boolean = flatten(p).exists {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == "b_graph_sym")
        case _ => false
      }
      val joins = flat.filter(_.nodeName.contains("Join"))
      assert(joins.nonEmpty, "no join in the round plan")
      joins.foreach { j =>
        val edgeSides = j.children.filter(hasBucketScan)
        assert(edgeSides.nonEmpty, "join has no bucketed edge side")
        edgeSides.foreach { side =>
          val shuffled = flatten(side).collect { case e: Exchange => e }
          assert(shuffled.isEmpty,
            s"bucketed edge side shuffled:\n${round.queryExecution.executedPlan}")
        }
      }
      // and the edge side really is a bucketed scan feeding the join
      val scans = flat.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == "b_graph_sym") => f
      }
      assert(scans.nonEmpty, "no bucketed scan in the plan")
      assert(scans.forall(_.bucketedScan), "scan did not use the bucket layout")
    } finally spark.sql("DROP TABLE IF EXISTS b_graph_sym")
  }

  test("a pagerank round's contribution join over the bucketed edge table plans zero exchanges on the edge side") {
    import graft.queries.GraphQueries
    val edges = GraphQueries.derivedEdges(spark, dir)
    val bedges = Bucketing.bucketedTable(spark, edges, "b_graph_edges", 8, "src")
    try withNoBroadcast {
      // the REAL round builder (pagerankRound is the exact plan
      // pagerankLoop emits per pass), fed the bucketed edge relation —
      // the flagship family's at-scale shape: ranks outgrow broadcast,
      // so the contribution join must not move the edge table.
      val nodes = GraphQueries.derivedNodes(spark, dir)
      val nn = broadcast(nodes.agg(count(lit(1)).as("nn")))
      val deg = graft.queries.GraphQueries.outDeg(spark, dir)
      val withDeg = GraphQueries.pagerankInit(nodes, nn)
        .join(deg, Seq("node"), "left_outer")
      val round = GraphQueries.pagerankRound(bedges, nodes, withDeg, nn,
        divideByOutdeg = true)
      round.collect() // settle AQE so executedPlan is final
      val flat = flatten(round.queryExecution.executedPlan)
      // the 1-row dm/nn scalars stay broadcast by explicit hint; the
      // DATA joins must not be (threshold is -1)
      val joins = flat.filter(p => p.nodeName.contains("Join") &&
        !p.nodeName.contains("BroadcastNestedLoop"))
      assert(joins.nonEmpty, "no join in the round plan")
      def hasBucketScan(p: SparkPlan): Boolean = flatten(p).exists {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == "b_graph_edges")
        case _ => false
      }
      // The pin applies to the INNERMOST join over the scan — the
      // contribution join whose edge child is the bucketed table
      // directly. Outer joins (nodes ⋈ contribs) also contain the
      // scan deep in a child, but that child's node-keyed aggregate
      // exchange is exactly the frontier-sized traffic the layout
      // leaves behind, not edge-table movement.
      def edgeChild(j: SparkPlan) = j.children.filter(c =>
        hasBucketScan(c) && !flatten(c).exists(_.nodeName.contains("Join")))
      val contribJoins = joins.filter(j => edgeChild(j).nonEmpty)
      assert(contribJoins.nonEmpty, "no join directly over the bucketed edge table")
      contribJoins.foreach { j =>
        assert(!j.nodeName.contains("Broadcast"),
          s"contribution join broadcast despite threshold -1:\n$j")
        edgeChild(j).foreach { side =>
          val shuffled = flatten(side).collect { case e: Exchange => e }
          assert(shuffled.isEmpty,
            s"bucketed edge side shuffled:\n${round.queryExecution.executedPlan}")
        }
      }
      val scans = flat.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == "b_graph_edges") => f
      }
      assert(scans.nonEmpty, "no bucketed scan in the plan")
      assert(scans.forall(_.bucketedScan), "scan did not use the bucket layout")
    } finally spark.sql("DROP TABLE IF EXISTS b_graph_edges")
  }

  test("a HITS round over the both-orientations layout plans zero exchanges on BOTH edge sides") {
    import graft.queries.GraphQueries
    val edges = GraphQueries.derivedEdges(spark, dir)
    // the both-orientations layout for mutual recurrences: one copy
    // bucketed by src (feeds the auth half's join), one by dst (the
    // hub half's) — g19's production posture, GraphQueries.loopEdges
    val bSrc = Bucketing.bucketedTable(spark, edges, "b_hits_src", 8, "src")
    val bDst = Bucketing.bucketedTable(spark, edges, "b_hits_dst", 8, "dst")
    try withNoBroadcast {
      // one REAL round via the factored half-step builders hitsLoop
      // emits: auth sums keyed on the edge side's src, hub sums on its
      // dst, each normalized against the node domain.
      val nodes = GraphQueries.derivedNodes(spark, dir)
      val h0 = nodes.select(col("node"), lit(1000000L).as("h"))
      val a = GraphQueries.hitsNormalize(
        GraphQueries.hitsFull(nodes, GraphQueries.hitsAuthSums(bSrc, h0)), "a")
      val round = GraphQueries.hitsNormalize(
        GraphQueries.hitsFull(nodes, GraphQueries.hitsHubSums(bDst, a)), "h")
      round.collect() // settle AQE so executedPlan is final
      val flat = flatten(round.queryExecution.executedPlan)
      def hasScan(p: SparkPlan, table: String): Boolean = flatten(p).exists {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == table)
        case _ => false
      }
      // for each orientation: the innermost join whose edge child IS
      // that bucketed scan must read it with zero exchanges between —
      // the per-round edge-table movement the layout eliminates. (The
      // 1-row MAX scalars stay broadcast by hint; exchanges above the
      // joins are the node-sized traffic the layout leaves behind.)
      for (table <- Seq("b_hits_src", "b_hits_dst")) {
        val joins = flat.filter(p => p.nodeName.contains("Join") &&
          !p.nodeName.contains("BroadcastNestedLoop"))
        def edgeChild(j: SparkPlan) = j.children.filter(c =>
          hasScan(c, table) && !flatten(c).exists(_.nodeName.contains("Join")))
        val halfJoins = joins.filter(j => edgeChild(j).nonEmpty)
        assert(halfJoins.nonEmpty, s"no join directly over $table")
        halfJoins.foreach { j =>
          assert(!j.nodeName.contains("Broadcast"),
            s"half join over $table broadcast despite threshold -1:\n$j")
          edgeChild(j).foreach { side =>
            val shuffled = flatten(side).collect { case e: Exchange => e }
            assert(shuffled.isEmpty,
              s"$table edge side shuffled:\n${round.queryExecution.executedPlan}")
          }
        }
        val scans = flat.collect {
          case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table == table) => f
        }
        assert(scans.nonEmpty, s"no $table scan in the plan")
        assert(scans.forall(_.bucketedScan),
          s"$table scan did not use the bucket layout")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_hits_src")
      spark.sql("DROP TABLE IF EXISTS b_hits_dst")
    }
  }

  test("the pagerank family through the bucketed-edges opt-in equals the plain path") {
    import graft.queries.GraphQueries
    def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString)
    // Memos cleared before EACH side: the fixed-point state is layout-
    // independent, so a bucketed run resuming from the plain run's
    // pass-9 checkpoint would be correct — but then only the last
    // pass would exercise the bucketed join and the test would prove
    // nothing. (The loops checkpoint every pass but the last; a
    // checkpoint-free i10 run doubles the lazy plan per pass and OOMs
    // on AQE's plan-string rendering alone.)
    def family() = {
      GraphQueries.clearCheckpointMemos(spark)
      Map(
        "g04" -> sorted(GraphQueries.g04_pagerank(spark, dir)),
        "g04_i10" -> sorted(GraphQueries.g04_pagerank(spark, dir, iters = 10)),
        "g08" -> sorted(GraphQueries.g08_pagerank_compat(spark, dir)),
        "g09" -> sorted(GraphQueries.g09_pagerank_personalized(spark, dir)),
        // g19 exercises BOTH orientations of the layout (loopEdges on dst)
        "g19" -> sorted(GraphQueries.g19_hits(spark, dir)))
    }
    val plain = family()
    spark.conf.set("graft.bucketedEdges", "8")
    try {
      val bucketed = family()
      plain.foreach { case (k, v) =>
        assert(bucketed(k) === v, s"$k diverged through the bucketed path")
      }
    } finally {
      spark.conf.unset("graft.bucketedEdges")
      GraphQueries.clearCheckpointMemos(spark)
    }
  }

  test("converged CC/BFS/SSSP over the bucketed table equal the in-memory path") {
    val sym = symDf.persist()
    val bsym = Bucketing.bucketedTable(spark, symDf, "b_graph_sym2", 8, "src")
    try withNoBroadcast {
      def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString)

      val ccPlain = GraphOps.connectedComponentsFromSym(sym)
      val ccBuck = GraphOps.connectedComponentsFromSym(bsym)
      assert(sorted(ccBuck) === sorted(ccPlain))

      val source = sym.agg(min(col("src"))).head().getLong(0)
      val bfsPlain = GraphOps.bfsFromSym(sym, source)
      val bfsBuck = GraphOps.bfsFromSym(bsym, source)
      assert(sorted(bfsBuck) === sorted(bfsPlain))

      def weighted(df: DataFrame) = df.select(col("src"), col("dst"),
        (lit(1L) + (col("src") + col("dst")) % 9L).as("w"))
      val ssspPlain = GraphOps.ssspFromSym(weighted(sym), source)
      val ssspBuck = GraphOps.ssspFromSym(weighted(bsym), source)
      assert(sorted(ssspBuck) === sorted(ssspPlain))

      Seq(ccPlain, ccBuck, bfsPlain, bfsBuck, ssspPlain, ssspBuck).foreach(
        org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint)
    } finally {
      sym.unpersist()
      spark.sql("DROP TABLE IF EXISTS b_graph_sym2")
    }
  }
}
