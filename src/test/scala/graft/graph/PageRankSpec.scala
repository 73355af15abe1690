package graft.graph

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

import scala.io.Source

/** Compat-mode parity with the reference's committed golden output and
  * with an independent in-driver reference implementation; standard
  * mode invariants + GraphX equivalence.
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

  /** The reference's committed k=3, one-pass output (FIXTURES.md §A.3). */
  private def goldenCheck3(): Source =
    Source.fromResource("golden/check3/part-r-00000")

  private def run(k: Long, passes: Int) = {
    val edges = GraphIO.kChainEdges(spark, k)
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
    val got = PageRank.compat(GraphIO.kChainEdges(spark, 3), 3, 1)
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
    val edges = GraphIO.kChainEdges(spark, 3)
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
    // Each pass releases its predecessor's cache or checkpoint once its
    // own state is materialized, so the pins a run holds do not grow
    // with the pass count (checkpoint passes included).
    val sc = spark.sparkContext
    val edges = GraphIO.kChainEdges(spark, 4)
    def pinnedBy(passes: Int): (Map[Int, Int], Int) = {
      val before = sc.getPersistentRDDs.keySet
      def pinned = (sc.getPersistentRDDs.keySet -- before).size
      val perPass = scala.collection.mutable.Map.empty[Int, Int]
      PageRank.compat(edges, 4, passes, checkpointEvery = 3,
        onPass = (p, _) => perPass(p) = pinned)
      (perPass.toMap, pinned)
    }
    val (perPass4, after4) = pinnedBy(4)
    val (perPass10, after10) = pinnedBy(10)
    assert(after4 === after10)
    assert(after10 <= 2, s"$after10 RDDs pinned after the run")
    assert(perPass4(4) === perPass10(10))
    assert((2 to 10).map(perPass10).distinct.size === 1, perPass10)
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
      val full = PageRank.compat(GraphIO.kChainEdges(s, k), k, passes)
      // resume from a written pass-3 state: the graph is rebuilt from
      // rows that lack the sink
      val tmp = java.nio.file.Files.createTempDirectory("graft-width").toString
      val s3 = PageRank.compat(GraphIO.kChainEdges(s, k), k, 3)
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

  test("GraphX compat matches DataFrame compat, duplicate edges included") {
    // k-chain fixture with DUPLICATED edges: the reference counts every
    // raw in-edge in the init pass (pageRank_v2.java:163) but iterates
    // over the HashSet-deduped adjacency (pageRank_v2.java:122,195) —
    // both engines must agree on both behaviors.
    val k = 3L
    val base = GraphIO.kChainEdges(spark, k)
      .as[(Long, Long)].collect().toSeq
    val withDups = (base ++ base.take(4) ++ base.take(2)).toDF("src", "dst")
    for (passes <- Seq(1, 3)) {
      val df = PageRank.compat(withDups, k, passes)
      val gx = PageRankGraphX.compat(withDups, k, passes)
      def toMap(st: org.apache.spark.sql.DataFrame) =
        st.select("node", "contrib", "adj")
          .as[(Long, Double, Seq[Long])].collect()
          .map { case (n, c, a) => n -> (c, a.toSet) }.toMap
      val dfM = toMap(df.state); val gxM = toMap(gx.state)
      assert(gxM.keySet === dfM.keySet, s"passes=$passes")
      dfM.foreach { case (node, (c, adj)) =>
        assert(math.abs(gxM(node)._1 - c) < Eps,
          s"passes=$passes node=$node gx=${gxM(node)._1} df=$c")
        assert(gxM(node)._2 === adj, s"passes=$passes node=$node adj")
      }
      assert(math.abs(gx.danglingMass - df.danglingMass) < Eps)
    }
  }

  test("standard mode conserves total mass on an arbitrary graph") {
    // graph with multi-out-degree nodes, a dangling node, a cycle
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 5L), (6L, 1L)).toDF("src", "dst")
    for (iters <- Seq(1, 5, 20)) {
      val ranks = PageRank.standard(edges, iters)
        .as[(Long, Double)].collect().toMap
      assert(ranks.size === 6)
      val total = ranks.values.sum
      assert(math.abs(total - 1.0) < 1e-9, s"iters=$iters total=$total")
      assert(ranks.values.forall(_ > 0))
    }
  }

  test("standard DataFrame and GraphX paths agree") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 5L), (6L, 1L)).toDF("src", "dst")
    val df = PageRank.standard(edges, 10).as[(Long, Double)].collect().toMap
    val gx = PageRankGraphX.standard(edges, 10)
      .as[(Long, Double)].collect().toMap
    assert(df.keySet === gx.keySet)
    df.foreach { case (node, r) =>
      assert(math.abs(r - gx(node)) < 1e-10, s"node $node: df=$r gx=${gx(node)}")
    }
  }

  test("converged pagerank stops early on a pre-converged graph") {
    // uniform init is stationary on a cycle (every vertex in/out-degree
    // 1, no dangling mass): pass 1 reproduces 1/m everywhere, so the
    // L1 delta is ~0 and the loop must stop far before maxIters.
    val m = 12L
    val edges = (1L to m).map(i => (i, if (i == m) 1L else i + 1))
      .toDF("src", "dst")
    val res = PageRank.standardConverged(edges, eps = 1e-12, maxIters = 20)
    assert(res.iters === 1, s"expected early stop, ran ${res.iters}")
    assert(res.delta < 1e-12)
    val ranks = res.ranks.as[(Long, Double)].collect().toMap
    assert(ranks.size === m)
    ranks.values.foreach(r => assert(math.abs(r - 1.0 / m) < Eps))
  }

  test("converged pagerank at eps=0 equals fixed-trip standard") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 5L), (6L, 1L)).toDF("src", "dst")
    val res = PageRank.standardConverged(edges, eps = 0.0, maxIters = 7)
    assert(res.iters === 7) // delta < 0 never fires
    val conv = res.ranks.as[(Long, Double)].collect().toMap
    val fixed = PageRank.standard(edges, 7).as[(Long, Double)].collect().toMap
    assert(conv.keySet === fixed.keySet)
    conv.foreach { case (node, r) =>
      assert(math.abs(r - fixed(node)) < Eps, s"node $node")
    }
  }

  test("Pregel variant agrees with DataFrame standard on a dangling-free cycle") {
    // every vertex has in- and out-degree 1, so Pregel's
    // only-messaged-vertices-update rule covers the whole graph and no
    // dangling mass exists — the regime where pregel() and standard()
    // are the same recurrence.
    val m = 12L
    val edges = (1L to m).map(i => (i, if (i == m) 1L else i + 1)).toDF("src", "dst")
    val viaPregel = PageRankGraphX.pregel(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaDf = PageRank.standard(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaPregel.keySet === viaDf.keySet)
    viaDf.foreach { case (node, rank) =>
      assert(math.abs(viaPregel(node) - rank) < Eps, s"node $node")
    }
    // uniform stationary distribution on a cycle: ranks stay 1/m
    viaPregel.values.foreach(r => assert(math.abs(r - 1.0 / m) < Eps))
  }
}
