package graft.graph

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** ssspFromSym must agree with a driver-side Dijkstra on every graph
  * shape (the in-test reference), collapse to bfsFromSym on unit
  * weights, and be Δ-invariant — the bucket width is a scheduling
  * knob, never a semantics knob. The DuckDB oracle re-checks g14
  * cross-engine on the derived graph; this spec owns the edges
  * (shortcut-vs-direct relaxation, unreachable nodes, chains past the
  * naive round budget, empty graph).
  */
class SsspSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Symmetrize + attach weights; input triples are one direction. */
  private def symW(tris: (Long, Long, Long)*): DataFrame =
    (tris ++ tris.map(t => (t._2, t._1, t._3))).distinct
      .toDF("src", "dst", "w")

  /** Driver-side Dijkstra over the same symmetrized triple set. */
  private def dijkstra(tris: Seq[(Long, Long, Long)], source: Long)
      : Map[Long, Long] = {
    val sym = tris ++ tris.map(t => (t._2, t._1, t._3))
    val adj = sym.groupBy(_._1).map { case (u, es) =>
      u -> es.map(e => (e._2, e._3)) }
    val nodes = sym.map(_._1).toSet
    val dist = mutable.Map(nodes.toSeq.map(_ -> Long.MaxValue): _*)
    dist(source) = 0L
    val pq = mutable.PriorityQueue((0L, source))(
      Ordering.by[(Long, Long), Long](_._1).reverse)
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u)) {
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (d + w < dist(v)) { dist(v) = d + w; pq.enqueue((d + w, v)) }
        }
      }
    }
    dist.map { case (n, d) => n -> (if (d == Long.MaxValue) -1L else d) }.toMap
  }

  private def run(df: DataFrame, source: Long, delta: Long): Map[Long, Long] =
    GraphOps.ssspFromSym(df, source, delta = delta)
      .as[(Long, Long)].collect().toMap

  test("shortcut beats direct edge: many light hops under one heavy edge") {
    // 1→5 direct costs 10; 1→2→3→4→5 costs 4
    val tris = Seq((1L, 5L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L))
    for (delta <- Seq(1L, 3L, 100L))
      assert(run(symW(tris: _*), 1L, delta) === dijkstra(tris, 1L), s"Δ=$delta")
  }

  test("agrees with Dijkstra on a random graph for Δ in {1, 5, ∞-ish}") {
    val rnd = new scala.util.Random(42)
    val tris = Seq.fill(200)(
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, 1L + rnd.nextInt(9)))
      .filter(t => t._1 != t._2)
    val want = dijkstra(tris, tris.head._1)
    for (delta <- Seq(1L, 5L, 1000000L))
      assert(run(symW(tris: _*), tris.head._1, delta) === want, s"Δ=$delta")
  }

  test("unit weights + Δ=1 matches bfsFromSym exactly") {
    val tris = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 1L),
      (5L, 6L, 1L))
    val viaSssp = run(symW(tris: _*), 1L, 1L)
    val sym = symW(tris: _*).select("src", "dst")
    val viaBfs = GraphOps.bfsFromSym(sym, 1L).as[(Long, Long)].collect().toMap
    assert(viaSssp === viaBfs)
  }

  test("unreachable component reports -1") {
    val tris = Seq((1L, 2L, 3L), (7L, 8L, 2L))
    val got = run(symW(tris: _*), 1L, 5L)
    assert(got === Map(1L -> 0L, 2L -> 3L, 7L -> -1L, 8L -> -1L))
  }

  test("a 60-node weighted chain converges (diameter past the bucket count)") {
    val tris = (0L until 60L).map(i => (i, i + 1, 1L + (i % 9)))
    val got = GraphOps.ssspFromSym(symW(tris: _*), 0L, delta = 5L,
      maxRounds = 500).as[(Long, Long)].collect().toMap
    assert(got === dijkstra(tris, 0L))
  }

  test("non-convergence within maxRounds throws instead of returning junk") {
    val tris = (0L until 30L).map(i => (i, i + 1, 9L))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException] {
      GraphOps.ssspFromSym(symW(tris: _*), 0L, delta = 1L, maxRounds = 3)
    }
    assert(ex.getMessage.contains("not converged"))
    // the over-budget path releases every iterate and checkpoint
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("g14 on testdata: distances are non-negative from the min source, -1 allowed") {
    val g14 = graft.SparkEntry.queries("g14_sssp")(spark, "/root/testdata/sf0.001")
    val rows = g14.as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, d) => d >= -1L })
    val src = rows.map(_._1).min
    assert(rows.toMap.apply(src) === 0L)
  }
}
