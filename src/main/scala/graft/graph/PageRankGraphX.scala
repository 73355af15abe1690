package graft.graph

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** GraphX path for textbook PageRank on arbitrary graphs (SURVEY.md
  * §7.1.1, BASELINE.json spark_approach): contributions divided by
  * out-degree, dangling mass redistributed uniformly every iteration,
  * every node updated. [[standardOn]] runs it in doubles (registry
  * entry g07) and [[standardFixedPointOn]] in g04's int64 fixed point
  * (registry entry g10, bit-exact against the same DuckDB oracle).
  *
  * Implemented with `aggregateMessages` + an explicit driver loop
  * rather than `graphx.lib.PageRank`, because the dangling mass must be
  * redistributed every iteration (GraphX's stock implementation leaks
  * it). The reference's own compat semantics run on the DataFrame path
  * ([[PageRank.compat]]).
  *
  * Scale: vertices/edges are partitioned by GraphX
  * (`EdgePartition2D` keeps replication ≤ 2√P at P partitions);
  * per-iteration work is one `aggregateMessages` (edge-local, no
  * driver data) plus one scalar dangling-sum action.
  */
object PageRankGraphX {

  /** Edges per partition the iteration loop targets: small enough to
    * parallelize a cluster-scale graph, large enough that per-task
    * overhead doesn't dominate (an iterative GraphX job runs MANY
    * stages over the same partitioning — at 5 iterations, 32 partitions
    * of a 50k-edge graph cost 6× more wall-clock than 4).
    */
  private val TargetEdgesPerPartition = 250000L

  /** Build a GraphX graph from an (src, dst) edge DataFrame, with the
    * edge partition count sized to the data (one cheap count — the
    * callers' inputs are cached base relations).
    */
  def fromEdges(edges: DataFrame): Graph[Double, Unit] = {
    val nEdges = edges.count()
    val parts = math.max(2L, math.min(
      edges.sparkSession.sparkContext.defaultParallelism.toLong,
      (nEdges + TargetEdgesPerPartition - 1) / TargetEdgesPerPartition)).toInt
    val edgeRdd: RDD[Edge[Unit]] = edges
      .select("src", "dst").coalesce(parts).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val raw = Graph.fromEdges(edgeRdd, defaultValue = 0.0,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    val g = raw.partitionBy(PartitionStrategy.EdgePartition2D)
    // `Graph.fromEdges` caches the unpartitioned edges, which nothing
    // reads once the partitioned graph is built: build it, then drop
    // them, so the graph's own unpersist releases every pin it holds
    g.vertices.count()
    raw.edges.unpersist(false)
    g
  }

  /** Standard PageRank with dangling redistribution on an already-built
    * (possibly caller-cached) graph — repeated runs over the same edge
    * set skip the count + partition + cache of graph construction.
    * Returns (node, rank) as a DataFrame of `spark`, the session that
    * owns the graph's context:
    * r'(v) = β/N + (1−β)·(Σ_{u→v} r(u)/outdeg(u) + D/N),
    * D = Σ_{dangling u} r(u).
    */
  def standardOn(spark: SparkSession, graph0: Graph[Double, Unit], iters: Int,
                 beta: Double = 0.15): DataFrame = {
    val n = graph0.numVertices.toDouble
    iterate[Double](spark, graph0, iters, 1.0 / n, _ / _,
      (c, d) => beta / n + (1 - beta) * (c + d / n),
      "rank", DoubleType)
  }

  /** Int64 fixed-point standard PageRank on GraphX — the GraphX
    * execution of [[graft.queries.GraphQueries.g04_pagerank]]'s exact
    * integer recurrence (scale 10¹², β = 15/100, truncating division):
    *
    * r0(v) = Scale div n
    * r'(v) = (0.15·Scale div n) + (85·(Σ_{u→v} r(u) div outdeg(u)
    *          + D div n)) div 100,  D = Σ_{dangling u} r(u)
    *
    * Long sums are associative, so unlike the double-precision
    * [[standardOn]] (rows-only checked) this path is bit-identical to
    * the DataFrame loop AND the unrolled DuckDB oracle regardless of
    * message merge order — the GraphX engine itself becomes
    * oracle-gated. Expects a graph built from a deduplicated edge list
    * (the derived graph is distinct by construction).
    */
  def standardFixedPointOn(spark: SparkSession, graph0: Graph[Double, Unit],
                           iters: Int): DataFrame = {
    val Scale = 1000000000000L
    val Beta = 15L * Scale / 100L
    val n = graph0.numVertices
    iterate[Long](spark, graph0, iters, Scale / n, _ / _,
      (c, d) => Beta / n + (85L * (c + d / n)) / 100L,
      "rank_fp", LongType)
  }

  /** The loop [[standardOn]] and [[standardFixedPointOn]] share: ranks
    * start at `r0`; per iteration, `d` is the dangling nodes' rank sum,
    * each node sends `share(rank, outdeg)` to every out-neighbor, and a
    * node's new rank is `update(c, d)` over its summed contributions `c`
    * (zero when none arrive). Returns (node, `col`) with `col` of type
    * `colType`.
    *
    * The dangling-sum action at the top of each pass materializes the
    * current (cached) graph, so the PREVIOUS pass's cache can be
    * dropped right after it — no extra count() job per pass.
    */
  private def iterate[A: ClassTag](spark: SparkSession, graph0: Graph[Double, Unit],
      iters: Int, r0: A, share: (A, Int) => A, update: (A, A) => A, col: String,
      colType: DataType)(implicit num: Numeric[A]): DataFrame = {
    // out-degree as vertex attribute; 0 for dangling
    var g: Graph[(A, Int), Unit] = graph0
      .outerJoinVertices(graph0.outDegrees)((_, _, deg) => (r0, deg.getOrElse(0)))
      .cache()
    var prev: Graph[(A, Int), Unit] = null
    var i = 0
    while (i < iters) {
      val d = g.vertices.filter { case (_, (_, deg)) => deg == 0 }
        .map(_._2._1).fold(num.zero)(num.plus)
      if (prev != null) {
        prev.unpersistVertices(false)
        prev.edges.unpersist(false)
      }
      val contribs = g.aggregateMessages[A](
        ctx => ctx.sendToDst(share(ctx.srcAttr._1, ctx.srcAttr._2)),
        num.plus)
      prev = g
      g = g.outerJoinVertices(contribs) { (_, attr, c) =>
        (update(c.getOrElse(num.zero), d), attr._2)
      }.cache()
      i += 1
    }
    spark.createDataFrame(
      g.vertices.map { case (id, (r, _)) => Row(id, r) },
      StructType(Seq(
        StructField("node", LongType, nullable = false),
        StructField(col, colType, nullable = false))))
  }
}
