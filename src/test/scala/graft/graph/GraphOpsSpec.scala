package graft.graph

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kChainEdges generates the reference k=3 fixture") {
    val got = GraphFixtures.kChainEdges(spark, 3)
      .as[(Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 2L), (2L, 3L), (3L, 0L),
      (4L, 5L), (5L, 6L), (6L, 0L),
      (7L, 8L), (8L, 9L), (9L, 0L)))
  }

  test("converged connectedComponents agrees with graphx.lib.ConnectedComponents") {
    import spark.implicits._
    // two chains + an isolated 2-cycle + a bridge: components {1..4,9}, {5,6}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 2L), (5L, 6L), (6L, 5L))
      .toDF("src", "dst")
    val sym = edges.union(edges.select($"dst", $"src")).toDF("src", "dst")
      .distinct()
    val viaDf = GraphOps.connectedComponentsFromSym(sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g = PageRankGraphX.fromEdges(edges)
    val viaGx = org.apache.spark.graphx.lib.ConnectedComponents.run(g)
      .vertices.collect().map { case (id, c) => id -> c }.toMap
    assert(viaDf === viaGx)
    assert(viaDf(4L) === 1L && viaDf(9L) === 1L && viaDf(6L) === 5L)
  }

  test("converged label-prop probes the same plan size every round after the first") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // A 30-node path: labels need 29 rounds to reach the far end, plus
    // one round that sees no change. Every round's iterate is a
    // localCheckpoint, so every round's probe analyzes the same plan
    // over a one-node leaf; round 1 probes over the init relation. A
    // persisted round would carry its predecessors' plans, and the
    // probe's plan would grow until the next checkpoint.
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val sym = chain.union(chain.select($"dst", $"src")).toDF("src", "dst")
      .distinct().persist()
    sym.count()
    // Listener events post asynchronously: deliver this count's event
    // before the probe listener is registered, or it counts as a probe.
    org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark.sparkContext)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val probes = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
                             nanos: Long): Unit =
        if (action == "count")
          sizes.synchronized(sizes += qe.analyzed.collect { case n => n }.length)
      override def onFailure(action: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(probes)
    val cc = try {
      val out = GraphOps.connectedComponentsFromSym(sym)
      org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark.sparkContext)
      out
    } finally spark.listenerManager.unregister(probes)
    assert(cc.collect().map(_.getLong(1)).toSet === Set(1L))
    org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(cc)
    sym.unpersist()
    assert(sizes.length === 30, s"one probe per round: $sizes")
    assert(sizes.drop(1).distinct.length === 1,
      s"probe plan size changed after round 1: $sizes")
  }

  test("logN cc matches label-prop and converges logarithmically on a chain") {
    import spark.implicits._
    // Path 1–2–…–256: diameter 255, the adversarial topology for
    // label propagation (the reference's k-chain at k=1000 scales the
    // same shape). The round budget IS the assertion: label-prop needs
    // ~255 rounds here; star contraction must finish inside 15 —
    // connectedComponentsLogN throws if it doesn't converge in time.
    val chain = (1L until 256L).map(i => (i, i + 1)).toDF("src", "dst")
    val logn = GraphOps.connectedComponentsLogN(chain, maxRounds = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(logn.size === 256)
    assert(logn.values.forall(_ === 1L))
    // and on a general mixed graph (two components, a cycle, a
    // self-loop singleton) it matches the label-prop fixpoint exactly
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 2L), (5L, 6L),
      (6L, 5L), (7L, 7L)).toDF("src", "dst")
    val sym = e.union(e.select($"dst", $"src")).toDF("src", "dst").distinct()
    val viaProp = GraphOps.connectedComponentsFromSym(sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLog = GraphOps.connectedComponentsLogN(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLog === viaProp)
    assert(viaLog(7L) === 7L)
  }

  test("bfsFromSym computes exact hop distances and -1 off-component") {
    import spark.implicits._
    // chain 1–2–3–4 with shortcut 1–3, plus a separate 2-cycle {8,9}:
    // exact distances from 1 are known, {8,9} unreachable
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (8L, 9L))
      .toDF("src", "dst")
    val sym = e.union(e.select($"dst", $"src")).toDF("src", "dst").distinct()
    val d = GraphOps.bfsFromSym(sym, source = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      8L -> -1L, 9L -> -1L))
    // neighbor distances never differ by more than 1 within a component
    val dd = d
    sym.collect().map(r => (r.getLong(0), r.getLong(1))).foreach {
      case (u, v) =>
        if (dd(u) >= 0 && dd(v) >= 0)
          assert(math.abs(dd(u) - dd(v)) <= 1, s"edge ($u,$v)")
        else assert(dd(u) < 0 && dd(v) < 0, s"edge ($u,$v) straddles reach")
    }
  }

  test("bfsFromSym agrees with graphx.lib.ShortestPaths on the derived graph") {
    // independent-implementation parity on real data (sf0.001): GraphX
    // ShortestPaths runs Pregel hop counting; our relational loop must
    // land on identical distances for every reachable node.
    val spark2 = spark
    import spark2.implicits._
    val dir = "/root/testdata/sf0.001"
    val e = graft.queries.GraphQueries.derivedEdges(spark, dir)
    val sym = e.union(e.select($"dst", $"src")).toDF("src", "dst").distinct()
    val source = sym.agg(org.apache.spark.sql.functions.min($"src"))
      .head().getLong(0)
    val viaDf = GraphOps.bfsFromSym(sym, source)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g = PageRankGraphX.fromEdges(sym)
    val viaGx = org.apache.spark.graphx.lib.ShortestPaths.run(g, Seq(source))
      .vertices.collect()
      .map { case (id, spmap) => id -> spmap.get(source).map(_.toLong).getOrElse(-1L) }
      .toMap
    assert(viaDf === viaGx)
    assert(viaDf(source) === 0L)
    assert(viaDf.values.max > 1L) // the fixture graph has real depth
  }

  test("kCore peels pendant structure and keeps exactly the max subgraph of min degree k") {
    import spark.implicits._
    // triangle {1,2,3} + pendant chain 3-4-5: the 2-core is exactly the
    // triangle (each within-core degree 2); the 3-core is empty — the
    // chain must peel in two rounds (5 first, then 4), exercising the
    // cascade, not just a single-round filter.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val sym = e.union(e.select($"dst", $"src")).toDF("src", "dst").distinct()
    val core2 = GraphOps.kCore(sym, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(GraphOps.kCore(sym, 3).count() === 0L)
    // one round peels only 5: over budget, it throws and leaves no pin
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](GraphOps.kCore(sym, 2, maxRounds = 1))
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("kCore agrees with driver-side brute-force peeling on the derived graph") {
    val spark2 = spark
    import spark2.implicits._
    val dir = "/root/testdata/sf0.001"
    val e = graft.queries.GraphQueries.derivedEdges(spark, dir)
    val sym = e.union(e.select($"dst", $"src")).toDF("src", "dst").distinct()
    val k = 3
    val got = GraphOps.kCore(sym, k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference implementation: in-memory peeling to fixpoint
    var es = sym.as[(Long, Long)].collect().toSet
    var changed = true
    while (changed) {
      val deg = es.groupBy(_._1).map { case (n, xs) => n -> xs.size }
      val keep = deg.collect { case (n, d) if d >= k => n }.toSet
      val next = es.filter { case (u, v) => keep(u) && keep(v) }
      changed = next.size != es.size
      es = next
    }
    val want = es.groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
    assert(got === want)
    assert(got.values.forall(_ >= k))
  }

  test("readEdgesCsv FAILFAST rejects malformed rows instead of nulling them") {
    val dir = java.nio.file.Files.createTempDirectory("edges").toFile
    val f = new java.io.File(dir, "edges.csv")
    java.nio.file.Files.writeString(f.toPath, "1,2\n3,not_a_number\n4,5\n")
    val err = intercept[Exception] {
      GraphIO.readEdgesCsv(spark, f.getAbsolutePath).collect()
    }
    assert(err.getMessage.toLowerCase.contains("malformed") ||
      Option(err.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }
}
