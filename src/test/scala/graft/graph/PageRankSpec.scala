package graft.graph

import graft.TestSpark
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import scala.io.Source

/** Compat-mode parity with the reference's committed golden output and
  * with an independent in-driver reference implementation; GraphX
  * standard PageRank against its own plain-Scala reference.
  */
class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Eps = 1e-12

  /** Independent plain-Scala implementation of the reference's intended
    * semantics (pageRank_v2.java:32-43; SURVEY.md §0.1) — no Spark, no
    * shared code with graft.graph.PageRank.
    */
  private def compatRef(edges: Seq[(Long, Long)], k: Long, passes: Int,
                        beta: Double = 0.15): (Map[Long, Double], Double) = {
    val n = (k * k).toDouble
    val adj: Map[Long, Set[Long]] =
      edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val nodes0 = (edges.map(_._1) ++ edges.map(_._2)).toSet
    var contrib: Map[Long, Double] =
      nodes0.map(v => v -> edges.count(_._2 == v) * (1.0 / n)).toMap
    var d = contrib.getOrElse(0L, 0.0)
    contrib -= 0L
    var pass = 1
    while (pass < passes) {
      val rank = contrib.map { case (v, c) =>
        v -> ((1 - beta) * (c + d / n) + beta / n)
      }
      val targets = contrib.keySet ++
        contrib.keySet.flatMap(v => adj.getOrElse(v, Set.empty))
      val next = targets.map { v =>
        v -> contrib.keysIterator
          .filter(u => adj.getOrElse(u, Set.empty).contains(v))
          .map(rank).sum
      }.toMap
      d = next.getOrElse(0L, 0.0)
      contrib = next - 0L
      pass += 1
    }
    (contrib, d)
  }

  /** Independent plain-Scala textbook PageRank: contributions divided
    * by out-degree, dangling mass D spread as D/N every iteration.
    */
  private def standardRef(edges: Seq[(Long, Long)], iters: Int,
                          beta: Double = 0.15): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSet
    val n = nodes.size.toDouble
    val outDeg = edges.groupBy(_._1).map { case (u, es) => u -> es.size }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val d = nodes.toSeq.filterNot(outDeg.contains).map(rank).sum
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / outDeg(u) }.sum }
      rank = nodes.map(v =>
        v -> (beta / n + (1 - beta) * (in.getOrElse(v, 0.0) + d / n))).toMap
    }
    rank
  }

  /** The reference's committed k=3, one-pass output (FIXTURES.md §A.3). */
  private def goldenCheck3(): Source =
    Source.fromResource("golden/check3/part-r-00000")

  private def run(k: Long, passes: Int) = {
    val edges = GraphFixtures.kChainEdges(spark, k)
    val got = PageRank.compat(edges, k, passes)
    val state = got.state
      .select("node", "contrib", "adj")
      .as[(Long, Double, Seq[Long])].collect()
      .map { case (n, c, a) => n -> (c, a.toSet) }.toMap
    (state, got)
  }

  test("compat k=3 single pass matches the committed golden file") {
    val goldenSrc = goldenCheck3()
    val golden = try {
      goldenSrc.getLines().filter(_.nonEmpty).map { line =>
        val f = line.split(",")
        val adj = f(3).split("-").filter(_.nonEmpty).map(_.toLong).toSet
        f(0).toLong -> (f(2).toDouble, adj)
      }.toMap
    } finally goldenSrc.close()

    val (state, res) = run(3, 1)
    assert(state.keySet === golden.keySet)
    golden.foreach { case (node, (c, adj)) =>
      assert(math.abs(state(node)._1 - c) < Eps, s"node $node contrib")
      assert(state(node)._2 === adj, s"node $node adjacency")
    }
    // node 0's mass went to the counter: ⌈(1/3)·10⁸⌉ = 33,333,334
    assert(math.abs(res.danglingMass - 1.0 / 3) < Eps)
    assert(res.counterValue === 33333334L)
  }

  test("compat CSV sink is byte-identical to the golden file modulo row order") {
    // Tier-2 parity (SURVEY §7.3): not just numerically equal state,
    // but the exact bytes the reference's reducer wrote
    // (pageRank_v2.java:207-217 `node,U,contrib,adj-`), through the
    // real writeCompatCsv sink. Spark's double→string cast is Java
    // Double.toString, and the compat contribs are bit-identical to
    // the reference's doubles, so every line must match byte-for-byte;
    // only the row order (a reducer-partition artifact) is modded out.
    val goldenSrc = goldenCheck3()
    val golden = try goldenSrc.getLines().filter(_.nonEmpty).toVector.sorted
      finally goldenSrc.close()
    val got = PageRank.compat(GraphFixtures.kChainEdges(spark, 3), 3, 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-golden").toString
    GraphIO.writeCompatCsv(got.state.select("node", "contrib", "adj"), tmp)
    val lines = spark.read.text(tmp).as[String].collect().toVector.sorted
    assert(lines === golden)
  }

  test("compat multi-pass matches the independent reference impl") {
    for (k <- Seq(3L, 5L); passes <- Seq(2, 3, 7)) {
      val edges = (for {
        c <- 0L until k
        i <- 1L until k
      } yield (c * k + i, c * k + i + 1)) ++
        (1L to k).map(c => (c * k, 0L))
      val (expected, expD) = compatRef(edges, k, passes)
      val (state, res) = run(k, passes)
      assert(state.keySet === expected.keySet, s"k=$k passes=$passes")
      expected.foreach { case (node, c) =>
        assert(math.abs(state(node)._1 - c) < Eps,
          s"k=$k passes=$passes node=$node got=${state(node)._1} want=$c")
      }
      assert(math.abs(res.danglingMass - expD) < Eps)
    }
  }

  test("compat state CSV round-trips exactly and resume matches uninterrupted") {
    val edges = GraphFixtures.kChainEdges(spark, 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-compat").toString

    // write pass-1 state, read it back: bit-exact (Double.toString
    // round-trips through parseDouble)
    val s1 = PageRank.compat(edges, 3, 1)
    GraphIO.writeCompatCsv(s1.state, s"$tmp/state1")
    val back = GraphIO.readCompatCsv(spark, s"$tmp/state1")
      .as[(Long, Double, Seq[Long])].collect()
      .map { case (n, c, a) => n -> (c, a.toSet) }.toMap
    val orig = s1.state.as[(Long, Double, Seq[Long])].collect()
      .map { case (n, c, a) => n -> (c, a.toSet) }.toMap
    assert(back === orig)

    // input dispatch matches the reference mapper (pageRank_v2.java:118)
    assert(GraphIO.looksLikeCompatState(spark, s"$tmp/state1"))

    // resume from the round-tripped state for 2 more passes == one
    // uninterrupted 3-pass run, bit-exact
    val full = PageRank.compat(edges, 3, 3)
    val resumed = PageRank.compatSteps(
      PageRank.CompatState(GraphIO.readCompatCsv(spark, s"$tmp/state1"),
        s1.danglingMass), 3, 2)
    val fullM = full.state.as[(Long, Double, Seq[Long])].collect()
      .map { case (n, c, a) => n -> (c, a.toSet) }.toMap
    val resM = resumed.state.as[(Long, Double, Seq[Long])].collect()
      .map { case (n, c, a) => n -> (c, a.toSet) }.toMap
    assert(resM === fullM)
    assert(resumed.danglingMass === full.danglingMass)
  }

  test("compat pins a constant number of RDDs, however many passes run") {
    // Each pass releases its predecessor's checkpoint once its own
    // state is materialized, so the pins a run holds do not grow with
    // the pass count.
    val sc = spark.sparkContext
    val edges = GraphFixtures.kChainEdges(spark, 4)
    def pinnedBy(passes: Int): (Map[Int, Int], Int) = {
      val before = sc.getPersistentRDDs.keySet
      def pinned = (sc.getPersistentRDDs.keySet -- before).size
      val perPass = scala.collection.mutable.Map.empty[Int, Int]
      PageRank.compat(edges, 4, passes, onPass = (p, _) => perPass(p) = pinned)
      (perPass.toMap, pinned)
    }
    val (perPass4, after4) = pinnedBy(4)
    val (perPass10, after10) = pinnedBy(10)
    assert(after4 === after10)
    assert(after10 <= 2, s"$after10 RDDs pinned after the run")
    assert(perPass4(4) === perPass10(10))
    assert((2 to 10).map(perPass10).distinct.size === 1, perPass10)
  }

  test("a steady compat pass compiles no code and analyzes a plan of constant size") {
    // d/N reaches the rank expression as data, not as a literal, and
    // every pass's state is a checkpoint: from pass 3 on a pass reuses
    // the generated classes of the pass before it, and its state's
    // analyzed plan does not grow with the pass count.
    val compiles = scala.collection.mutable.Map.empty[Int, Long]
    val planNodes = scala.collection.mutable.Map.empty[Int, Int]
    PageRank.compat(GraphFixtures.kChainEdges(spark, 4), 4, 8,
      onPass = (p, st) => {
        compiles(p) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        planNodes(p) = st.state.queryExecution.analyzed.collect { case n => n }.size
      })
    assert((3 to 8).map(compiles).distinct.size === 1,
      s"compiles by pass: ${compiles.toSeq.sorted}")
    assert((3 to 8).map(planNodes).distinct.size === 1,
      s"analyzed plan nodes by pass: ${planNodes.toSeq.sorted}")
  }

  test("compat is bit-identical across shuffle widths and AQE, resumed or not") {
    // The graph is partitioned to the session's shuffle width, so the
    // width must not reach the result: not the state, and not the
    // dangling mass summed over the chain tails.
    val k = 5L
    val passes = 7
    val postures = Seq(
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "false")
    def bits(st: PageRank.CompatState) =
      (st.state.select("node", "contrib", "adj")
        .as[(Long, Double, Seq[Long])].collect()
        .map { case (n, c, a) => (n, java.lang.Double.doubleToRawLongBits(c), a) }
        .sortBy(_._1).toSeq,
        java.lang.Double.doubleToRawLongBits(st.danglingMass))
    val runs = postures.map { case (key, value) =>
      val s = spark.newSession()
      s.conf.set(key, value)
      val full = PageRank.compat(GraphFixtures.kChainEdges(s, k), k, passes)
      // resume from a written pass-3 state: the graph is rebuilt from
      // rows that lack the sink
      val tmp = java.nio.file.Files.createTempDirectory("graft-width").toString
      val s3 = PageRank.compat(GraphFixtures.kChainEdges(s, k), k, 3)
      GraphIO.writeCompatCsv(s3.state, s"$tmp/state3")
      val resumed = PageRank.compatSteps(
        PageRank.CompatState(GraphIO.readCompatCsv(s, s"$tmp/state3"),
          s3.danglingMass), k, passes - 3, passOffset = 3)
      (bits(full), bits(resumed))
    }
    val (full0, resumed0) = runs.head
    assert(full0._1.size === (k * k).toInt, "every non-sink node")
    assert(resumed0 === full0)
    runs.zip(postures).tail.foreach { case ((full, resumed), posture) =>
      assert(full === full0, s"uninterrupted under $posture")
      assert(resumed === full0, s"resumed under $posture")
    }
  }

  test("the array kernel matches the DataFrame pass bit for bit, every pass, at widths 1, 4, 7 and AQE off") {
    // k=100: a hundred chain tails feed the sink, so its mass is summed
    // across partitions in an order only Spark's partial/final Sum
    // association reproduces.
    val k = 100L
    val passes = 10
    val postures = Seq(
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "false")
    postures.foreach { case (key, value) =>
      val s = spark.newSession()
      s.conf.set(key, value)
      val (kernel, reference) =
        GraphFixtures.kernelAndReference(GraphFixtures.kChainEdges(s, k), k, passes)
      assert(kernel.size === passes)
      assert(reference.size === passes)
      kernel.zip(reference).zipWithIndex.foreach { case ((got, want), i) =>
        assert(got._1.size === want._1.size, s"pass ${i + 1} under $key=$value: rows")
        val diff = got._1.zip(want._1).find { case (g, w) => g != w }
        assert(diff.isEmpty, s"pass ${i + 1} under $key=$value: (got, want) $diff")
        assert(got._2 === want._2, s"pass ${i + 1} under $key=$value: mass bits")
      }
    }
  }

  test("a run resumed from a written pass-3 state equals the uninterrupted run, bit for bit, at widths 1, 4, 7 and AQE off") {
    // k=100: the sink's mass sums a hundred chain tails, so a resumed
    // first pass that grouped its senders by the state files' splits
    // instead of the graph's partitions would show in the mass bits.
    val k = 100L
    val passes = 10
    val postures = Seq(
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "false")
    // Every posture runs before the assertion, so a failure names each
    // posture that differs.
    val diffs = postures.flatMap { case (key, value) =>
      val s = spark.newSession()
      s.conf.set(key, value)
      val tmp = java.nio.file.Files.createTempDirectory("graft-resume").toString
      var mass3 = Double.NaN
      val full = GraphFixtures.passBits(hook =>
        PageRank.compat(GraphFixtures.kChainEdges(s, k), k, passes,
          onPass = (p, st) => {
            hook(p, st.state, st.danglingMass)
            if (p == 3) {
              GraphIO.writeCompatCsv(st.state, s"$tmp/state3")
              mass3 = st.danglingMass
            }
          }))
      val resumed = GraphFixtures.passBits(hook =>
        PageRank.compatSteps(
          PageRank.CompatState(GraphIO.readCompatCsv(s, s"$tmp/state3"), mass3),
          k, passes - 3, passOffset = 3,
          onPass = (_, st) => hook(0, st.state, st.danglingMass)))
      assert(full.size === passes)
      assert(resumed.size === passes - 3)
      full.drop(3).zip(resumed).zipWithIndex.flatMap { case ((want, got), i) =>
        val at = s"pass ${i + 4} under $key=$value"
        val row = got._1.zip(want._1).find { case (g, w) => g != w }
        Seq(
          Option.when(got._1.size != want._1.size)(s"$at: ${got._1.size} rows, want ${want._1.size}"),
          row.map(r => s"$at: (resumed, uninterrupted) $r"),
          Option.when(got._2 != want._2)(s"$at: mass bits ${got._2}, want ${want._2}")).flatten
      }
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("a steady compat pass that writes its state runs two Spark jobs") {
    // One job materializes the pass's state and reads the sink's mass;
    // the hook's write is the other. Jobs are counted by a local
    // property of this thread, so other suites' jobs do not count.
    val sc = spark.sparkContext
    val tag = "graft.spec.compatJobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.incrementAndGet()
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val seen = scala.collection.mutable.Map.empty[Int, Int]
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "on")
    try {
      PageRank.compat(GraphFixtures.kChainEdges(spark, 4), 4, 8,
        onPass = (p, st) => {
          ColumnBridge.drainListenerBus(sc)
          seen(p) = jobs.get
          GraphIO.writeCompatCsv(st.state, s"$tmp/out$p")
        })
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    val perPass = (3 to 8).map(p => p -> (seen(p) - seen(p - 1)))
    assert(perPass.forall(_._2 == 2), s"jobs by pass: $perPass")
  }

  test("the node index finds every id it holds, extreme ones included, and rejects a repeated id") {
    // Multiples of 1024 share their low bits, so they collide unless
    // the slot hash mixes the high ones in.
    val ids = Array(Long.MinValue, -1L, 0L, Long.MaxValue) ++ (1L to 1000L).map(_ * 1024)
    val index = PageRank.NodeIndex(ids)
    ids.zipWithIndex.foreach { case (id, i) => assert(index(id) === i, s"id $id") }
    Seq(Long.MinValue + 1, -2L, 1L, 1025L, Long.MaxValue - 1)
      .foreach(id => assert(index(id) === -1, s"absent id $id"))
    assert(PageRank.NodeIndex(Array.empty[Long])(0L) === -1)
    intercept[IllegalArgumentException](PageRank.NodeIndex(Array(5L, 7L, 5L)))
    intercept[IllegalArgumentException](PageRank.NodeIndex(Array(Long.MinValue, Long.MinValue)))
  }

  test("the graph's arrays reject a graph that is not hash-partitioned on node") {
    val graph = Seq((1L, 0.5, Seq(2L)), (2L, 0.25, Seq(1L)), (3L, 0.0, Seq.empty[Long]))
      .toDF("node", "contrib", "adj").repartition(3)
    val e = intercept[org.apache.spark.SparkException](PageRank.Part.of(graph).count())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("not hash-partitioned on node")), e)
  }

  test("compat matches the independent reference impl, duplicate edges included") {
    // k-chain fixture with DUPLICATED edges: the reference counts every
    // raw in-edge in the init pass (pageRank_v2.java:163) but iterates
    // over the HashSet-deduped adjacency (pageRank_v2.java:122,195).
    val k = 3L
    val base = GraphFixtures.kChainEdges(spark, k)
      .as[(Long, Long)].collect().toSeq
    val withDups = base ++ base.take(4) ++ base.take(2)
    val adj = withDups.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    for (passes <- Seq(1, 3, 7)) {
      val (expected, expD) = compatRef(withDups, k, passes)
      val got = PageRank.compat(withDups.toDF("src", "dst"), k, passes)
      val state = got.state.select("node", "contrib", "adj")
        .as[(Long, Double, Seq[Long])].collect()
        .map { case (n, c, a) => n -> (c, a.toSet) }.toMap
      assert(state.keySet === expected.keySet, s"passes=$passes")
      expected.foreach { case (node, c) =>
        assert(math.abs(state(node)._1 - c) < Eps,
          s"passes=$passes node=$node got=${state(node)._1} want=$c")
        assert(state(node)._2 === adj.getOrElse(node, Set.empty),
          s"passes=$passes node=$node adj")
      }
      assert(math.abs(got.danglingMass - expD) < Eps, s"passes=$passes")
    }
  }

  test("standard mode conserves total mass on an arbitrary graph") {
    // graph with multi-out-degree nodes, a dangling node, a cycle, a
    // self-loop; iterations stay ≤ 10 because standardOn has no
    // lineage truncation
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 5L), (6L, 1L))
    val graph = PageRankGraphX.fromEdges(edges.toDF("src", "dst"))
    for (iters <- Seq(1, 5, 10)) {
      val ranks = PageRankGraphX.standardOn(spark, graph, iters)
        .as[(Long, Double)].collect().toMap
      val expected = standardRef(edges, iters)
      assert(ranks.keySet === expected.keySet, s"iters=$iters")
      expected.foreach { case (node, r) =>
        assert(math.abs(ranks(node) - r) < 1e-10,
          s"iters=$iters node=$node got=${ranks(node)} want=$r")
      }
      val total = ranks.values.sum
      assert(math.abs(total - 1.0) < 1e-9, s"iters=$iters total=$total")
      assert(ranks.values.forall(_ > 0))
    }
  }
}
