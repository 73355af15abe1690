package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative compat PageRank: the reference's intended semantics
  * (pageRank_v2.java:32-43,116-223; SURVEY.md §7.1.2). Each node sends
  * its WHOLE rank to every out-neighbor (no out-degree division —
  * mass-conserving only on out-degree ≤ 1 graphs like the k-chain
  * fixture), the state column is the raw incoming-contribution sum,
  * the rank-update formula `(1−β)(c + D/N) + β/N` is applied lazily at
  * the start of the NEXT pass, N = k², and the dangling sink node 0's
  * row is diverted into a driver-side scalar (the reference's Hadoop
  * counter, pageRank_v2.java:216-222) instead of the output. Textbook
  * PageRank on arbitrary graphs is the GraphX path
  * ([[PageRankGraphX.standardOn]], [[PageRankGraphX.standardFixedPointOn]]).
  *
  * Scale notes (100 TB design): compat partitions its graph once.
  * The graph is every node a pass can reach with its adjacency,
  * hash-partitioned on the node id to the session's shuffle width and
  * persisted. Each pass then has one exchange: the exploded
  * contributions, regrouped by node and hash-joined into the graph,
  * which never moves. Every pass's state is a lazy `localCheckpoint`
  * of its plan (on a cluster, swap for `checkpoint` with a reliable
  * dir), so the next pass plans over a one-node leaf, not a lineage
  * that grows with the pass count: analysis and planning cost the
  * driver the same on every pass. The dangling term d/N reaches the
  * rank expression as data, a broadcast 1-row relation cross-joined
  * in, not as a literal, so every pass after the first two plans the
  * same plan and reuses its generated classes. A pass's checkpoint
  * is released as soon as the next pass's state is materialized.
  * Hence the `onPass` contract: the `CompatState` a pass hands over
  * stays valid until the next pass materializes, so a hook writes or
  * collects it before returning.
  */
object PageRank {

  /** Per-node state after a compat pass + the dangling scalar the
    * reference kept in its DanglingMass counter.
    */
  final case class CompatState(state: DataFrame, danglingMass: Double) {
    /** The reference's counter encoding: ceil(D·10⁸) as long
      * (pageRank_v2.java:63,218-222, RoundingMode.UP).
      */
    def counterValue: Long =
      new java.math.BigDecimal(String.valueOf(danglingMass))
        .multiply(new java.math.BigDecimal("100000000"))
        .setScale(0, java.math.RoundingMode.UP).longValue()
  }

  /** Compat-mode PageRank. `passes` ≥ 1; pass 1 is the init pass
    * (ranks 1/N seeded from the raw edge list), passes 2..n are
    * iteration passes. Returns state (node, contrib, adj) with the
    * dangling sink's row diverted to `danglingMass`. `onPass` fires
    * after every completed pass (1-based) — the CLI's per-iteration
    * output-dir hook (pageRank_v2.java:96-98); see the scale notes for
    * how long its state stays valid. The returned state stays pinned
    * for the caller.
    */
  def compat(edges: DataFrame, k: Long, passes: Int, beta: Double = 0.15,
             onPass: (Int, CompatState) => Unit = (_, _) => ()): CompatState = {
    require(passes >= 1, "compat needs at least the init pass")
    val n = (k.toDouble * k.toDouble)

    // Init pass (pageRank_v2.java:153-169): every in-edge carries 1/N;
    // every node that appears as src or dst forms a group (the P-/O-
    // records guarantee src-side groups); contributions default 0.0
    // (the reference's Null sentinel made explicit by coalesce). One
    // row per edge end, shuffled once by node: the init state is
    // already the partitioned graph every later pass joins into.
    val ends = edges.select(col("src").as("node"), col("dst").as("to"),
        lit(null).cast("double").as("mass"))
      .union(edges.select(col("dst").as("node"), lit(null).cast("long").as("to"),
        lit(1.0 / n).as("mass")))
    val init = ends.repartition(shuffleWidth(edges), col("node"))
      .groupBy("node")
      .agg(coalesce(sum(col("mass")), lit(0.0)).as("contrib"),
        sort_array(collect_set(col("to"))).as("adj"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val d = extractDangling(init)
    val state1 = CompatState(init.filter(col("node") =!= 0), d)
    onPass(1, state1)
    if (passes == 1) state1
    else iterate(init, state1, k, passes - 1, beta, onPass, passOffset = 1)
  }

  /** Advance an existing compat state by `steps` iteration passes —
    * the reference's resume-from-prior-output branch
    * (pageRank_v2.java:118-126): state rows come back in via
    * [[GraphIO.readCompatCsv]] and the dangling mass via the counter
    * (here a plain double in [[CompatState.danglingMass]]).
    * `onPass` receives `passOffset + step` so a resumed run's pass
    * numbering can continue the original run's.
    */
  def compatSteps(state0: CompatState, k: Long, steps: Int,
                  beta: Double = 0.15,
                  onPass: (Int, CompatState) => Unit = (_, _) => (),
                  passOffset: Int = 0): CompatState = {
    // A state lacks the sink row and any other contribution-only
    // target: every adjacency target joins the graph with an empty list.
    val targets = state0.state.select(explode(col("adj")).as("node")).distinct()
    val graph = state0.state.select(col("node"), col("adj"))
      .join(targets, Seq("node"), "full_outer")
      .select(col("node"), coalesce(col("adj"), array().cast("array<long>")).as("adj"))
      .repartition(shuffleWidth(state0.state), col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    iterate(graph, state0, k, steps, beta, onPass, passOffset)
  }

  /** The session's shuffle width, passed explicitly to `repartition`
    * so that AQE keeps the graph's partitioning instead of coalescing it.
    */
  private def shuffleWidth(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** The compat iteration over a fixed graph: every node a pass can
    * reach with its adjacency, hash-partitioned on node and pinned.
    * Adjacency never changes and contribution-only targets keep an
    * empty list, so each pass is the graph LEFT JOIN its contributions,
    * and only the contributions cross an exchange. Each pass's state is
    * a lazy `localCheckpoint`, never layered over a cache, which the
    * sink-row collect materializes; only then is its predecessor
    * released, so a lineage root always exists. The graph is released
    * after the last pass.
    */
  private def iterate(graph: DataFrame, state0: CompatState, k: Long,
                      steps: Int, beta: Double,
                      onPass: (Int, CompatState) => Unit,
                      passOffset: Int): CompatState = {
    val n = (k.toDouble * k.toDouble)
    val spark = graph.sparkSession
    import spark.implicits._
    var cur = state0
    var pin: DataFrame = null
    var step = 0
    while (step < steps) {
      // Rank update applied lazily (pageRank_v2.java:126-127), then
      // whole-rank contribution to each out-neighbor (:136-139). d/N is
      // the driver's double, carried as a row: a literal would change
      // the generated code every pass.
      val dn = broadcast(Seq(cur.danglingMass / n).toDF("dn"))
      val ranked = cur.state.crossJoin(dn).withColumn("rank",
        lit(1 - beta) * (col("contrib") + col("dn")) + lit(beta / n))
      val contribs = ranked
        .select(explode(col("adj")).as("node"), col("rank"))
        .groupBy("node").agg(sum(col("rank")).as("contrib"))
      // Adjacency circulates with the state (pageRank_v2.java:39,141).
      // The hint keeps the join on the graph's partitioning: AQE would
      // otherwise broadcast the contributions and aggregate them in a
      // single task.
      val plan = graph.select(col("node"), col("adj"))
        .join(contribs.hint("shuffle_hash"), Seq("node"), "left_outer")
        .select(col("node"),
          coalesce(col("contrib"), lit(0.0)).as("contrib"), col("adj"))
      val next = plan.localCheckpoint(false)

      val d = extractDangling(next)
      if (pin != null) GraphOps.releaseIterate(pin)
      pin = next
      cur = CompatState(next.filter(col("node") =!= 0), d)
      step += 1
      onPass(passOffset + step, cur)
    }
    graph.unpersist(false)
    cur
  }

  /** The reference's counter read: node 0's contribution, removed
    * from the output relation (pageRank_v2.java:216-222). One cheap
    * driver action per pass — the same job materializes the pass's
    * checkpoint, and the graph holds one sink row, which comes back to
    * the driver as is: no aggregate, so no exchange.
    */
  private def extractDangling(state: DataFrame): Double =
    state.filter(col("node") === 0).select(col("contrib"))
      .collect().map(_.getDouble(0)).sum
}
