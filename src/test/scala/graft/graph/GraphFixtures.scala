package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph inputs the specs generate rather than read, and the compat
  * reference the array kernel is checked against.
  */
object GraphFixtures {

  /** k disjoint chains of k nodes, tails → sink 0 — the reference's
    * synthetic fixture family (pageRank_v2.java:32-43, FIXTURES.md A.2).
    * Generated distributed via `spark.range` (no driver-side
    * materialization).
    */
  def kChainEdges(spark: SparkSession, k: Long): DataFrame = {
    // node ids 1..k²; edge i→i+1 within a chain, tail (c*k+k)→0
    spark.range(1, k * k + 1).toDF("src")
      .select(col("src"),
        when(col("src") % k === 0, lit(0L)).otherwise(col("src") + 1).as("dst"))
  }

  /** Compat PageRank as a DataFrame pass, the one the array kernel in
    * [[PageRank]] replaced, kept as its reference. From the same init
    * ([[PageRank.initGraph]]), a pass explodes every non-sink node's
    * rank `(1 − β)·(c + d/N) + β/N` to its adjacency, `sum`s it per
    * target, left-joins the sums into the graph and `coalesce`s the
    * nodes nothing reaches to 0.0; the sink's row is the next mass.
    * `onPass(pass, state, mass)` fires after every pass with the state
    * minus the sink, valid until the next pass.
    */
  def compatReference(edges: DataFrame, k: Long, passes: Int, beta: Double = 0.15)
                     (onPass: (Int, DataFrame, Double) => Unit): Unit = {
    val spark = edges.sparkSession
    import spark.implicits._
    val n = (k.toDouble * k.toDouble)
    def sink(state: DataFrame): Double =
      state.filter(col("node") === 0).select(col("contrib"))
        .collect().map(_.getDouble(0)).sum
    // Persisted, so that every pass reads the graph in one row order.
    val graph = PageRank.initGraph(edges, k).persist(StorageLevel.MEMORY_AND_DISK)
    var state = graph
    var d = sink(state)
    onPass(1, state.filter(col("node") =!= 0), d)
    for (pass <- 2 to passes) {
      val dn = broadcast(Seq(d / n).toDF("dn"))
      val contribs = state.filter(col("node") =!= 0).crossJoin(dn)
        .withColumn("rank",
          lit(1 - beta) * (col("contrib") + col("dn")) + lit(beta / n))
        .select(explode(col("adj")).as("node"), col("rank"))
        .groupBy("node").agg(sum(col("rank")).as("contrib"))
      val next = graph.select(col("node"), col("adj"))
        .join(contribs.hint("shuffle_hash"), Seq("node"), "left_outer")
        .select(col("node"),
          coalesce(col("contrib"), lit(0.0)).as("contrib"), col("adj"))
        .localCheckpoint()
      if (state ne graph) GraphOps.releaseIterate(state)
      state = next
      d = sink(state)
      onPass(pass, state.filter(col("node") =!= 0), d)
    }
    if (state ne graph) GraphOps.releaseIterate(state)
    graph.unpersist(false)
  }

  /** Every pass of a compat run as (state, raw mass bits), the state
    * as (node, raw contrib bits, adj) sorted by node: two runs are
    * bit-identical iff these are equal. `run` drives the run and calls
    * the hook it is given after each pass.
    */
  def passBits(run: ((Int, DataFrame, Double) => Unit) => Unit)
      : Vector[(Seq[(Long, Long, Seq[Long])], Long)] = {
    val out = Vector.newBuilder[(Seq[(Long, Long, Seq[Long])], Long)]
    run { (_, state, mass) =>
      import state.sparkSession.implicits._
      val rows = state.select("node", "contrib", "adj").as[(Long, Double, Seq[Long])]
        .collect().map { case (n, c, a) => (n, java.lang.Double.doubleToRawLongBits(c), a) }
      out += (rows.sortBy(_._1).toSeq -> java.lang.Double.doubleToRawLongBits(mass))
    }
    out.result()
  }

  /** The kernel's passes and the reference's, as [[passBits]]. */
  def kernelAndReference(edges: DataFrame, k: Long, passes: Int)
      : (Vector[(Seq[(Long, Long, Seq[Long])], Long)],
         Vector[(Seq[(Long, Long, Seq[Long])], Long)]) =
    (passBits(hook => PageRank.compat(edges, k, passes,
        onPass = (p, st) => hook(p, st.state, st.danglingMass))),
      passBits(hook => compatReference(edges, k, passes)(hook)))
}
