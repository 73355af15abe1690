package graft.sources

import java.nio.file.{Files, Paths}

import graft.{PageRankCli, TestSpark}
import graft.graph.{GraphFixtures, GraphIO}
import org.apache.spark.sql.functions.{col, concat_ws, sum}
import org.scalatest.funsuite.AnyFunSuite

/** At-scale smoke over the reference's own EMR configuration
  * (Makefile:22-23,131: k=1000 → 10⁶ nodes, 10⁶ edges): the
  * `GraphFixtures.kChainEdges` generator → reference-format CSV →
  * PageRankCli end-to-end for 2
  * passes, asserting the compat mass invariants that hold exactly on
  * out-degree-≤1 graphs.
  */
class KChainSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("EMR-scale kchain k=1000: 2-pass CLI mass invariants") {
    val k = 1000L
    val n = (k * k).toDouble
    val tmp = Files.createTempDirectory("graft-kchain-smoke").toString

    val edges = GraphFixtures.kChainEdges(spark, k)
    assert(edges.count() === k * k)

    // the reference's input format (pageRank_v2.java:34): src,dst lines
    edges.select(concat_ws(",", col("src"), col("dst")))
      .write.text(s"$tmp/edges")

    val fin = PageRankCli.run(spark, s"$tmp/edges", s"$tmp/out", k, 2)
    assert(Files.exists(Paths.get(s"$tmp/out1")))
    assert(Files.exists(Paths.get(s"$tmp/out2")))

    // Pass 1 (init): every edge carries 1/N, the k tail edges' mass is
    // diverted to the sink counter, so state mass + k/N == 1.
    val p1 = GraphIO.readCompatCsv(spark, s"$tmp/out1")
    assert(p1.count() === k * k)
    val p1Sum = p1.agg(sum(col("contrib"))).head().getDouble(0)
    assert(math.abs(p1Sum + k / n - 1.0) < 1e-6, s"pass1 state=$p1Sum")

    // Pass 2: out-degree is exactly 1 everywhere, so whole-rank sends
    // conserve mass — state + diverted sink mass == 1 again.
    assert(fin.state.count() === k * k)
    val p2Sum = fin.state.agg(sum(col("contrib"))).head().getDouble(0)
    assert(math.abs(p2Sum + fin.danglingMass - 1.0) < 1e-6,
      s"pass2 state=$p2Sum dangling=${fin.danglingMass}")
    assert(fin.danglingMass > 0.0)
    assert(fin.counterValue > 0L)
  }
}
