package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import scala.collection.mutable.ArrayBuilder

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
  * Scale notes (100 TB design): pass 1 is a DataFrame job that builds
  * the graph, every node a pass can reach with its adjacency and init
  * contrib, hash-partitioned on the node id to the session's shuffle
  * width w (a resumed run rebuilds it from the state it starts from).
  * Every pass runs on vertex partitions in the GraphX style ([[Part]]):
  * the graph becomes, once, one set of arrays per partition (node ids,
  * a CSR adjacency, the starting contribs and a node→index map: 28–36 B
  * per node plus 8 B per edge), and the DataFrame graph is never
  * cached. A pass's state is one `double[]` per partition (8 B per
  * node), kept by an RDD `localCheckpoint`. A pass computes each
  * sender's rank next to its adjacency and ships w² packed message
  * blocks, one per (source, destination) partition pair and 16 B per
  * message (target id and rank); nothing else crosses an exchange, and
  * the graph never moves. One job per pass materializes the new state
  * and returns the sink's contribution (the dangling mass); the hook's
  * write is the pass's only other job. Nothing in a pass is planned or
  * compiled, so a pass costs the driver the same whatever its number.
  * A pass's state is released as soon as the next pass's state is
  * materialized. Hence the `onPass` contract: the `CompatState` a pass
  * hands over stays valid until the next pass materializes, so a hook
  * writes or collects it before returning. A lost local-checkpoint
  * block (an executor gone) cannot be recomputed; on a cluster, swap
  * for `checkpoint` with a reliable dir.
  *
  * The state is bit-identical to the DataFrame pass it replaced
  * (explode, `sum`, left join, `coalesce`), because the receive side
  * reproduces Spark's partial/final `Sum` association: each block is
  * summed in its source partition's row order, and the block partials
  * are added in ascending source-partition order. That makes the sink's
  * mass, summed over many chain tails, depend on the width w, as it
  * did before; the dependence now lives in one line of
  * [[Part.receive]], and changing it needs its own A/B.
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
    iterate(initGraph(edges, k), None, k, passes - 1, beta, onPass, passOffset = 1)
  }

  /** The init pass (pageRank_v2.java:153-169): every in-edge carries
    * 1/N; every node that appears as src or dst forms a group (the P-/O-
    * records guarantee src-side groups); contributions default 0.0
    * (the reference's Null sentinel made explicit by coalesce). One
    * row per edge end, shuffled once by node to the shuffle width
    * (explicit, so AQE does not coalesce it): the init state, sink
    * included, is already the partitioned graph every later pass
    * reads. Not cached: the job that builds the graph's arrays
    * computes it once.
    */
  private[graph] def initGraph(edges: DataFrame, k: Long): DataFrame = {
    val n = (k.toDouble * k.toDouble)
    val ends = edges.select(col("src").as("node"), col("dst").as("to"),
        lit(null).cast("double").as("mass"))
      .union(edges.select(col("dst").as("node"), lit(null).cast("long").as("to"),
        lit(1.0 / n).as("mass")))
    ends.repartition(shuffleWidth(edges), col("node"))
      .groupBy("node")
      .agg(coalesce(sum(col("mass")), lit(0.0)).as("contrib"),
        sort_array(collect_set(col("to"))).as("adj"))
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
    if (steps == 0) state0
    else {
      // A state lacks the sink row and any other contribution-only
      // target: every adjacency target joins the graph with an empty
      // list and a zero contrib.
      val targets = state0.state.select(explode(col("adj")).as("node")).distinct()
      val graph = state0.state.select(col("node"), col("adj"), col("contrib"))
        .join(targets, Seq("node"), "full_outer")
        .select(col("node"), coalesce(col("adj"), array().cast("array<long>")).as("adj"),
          coalesce(col("contrib"), lit(0.0)).as("contrib"))
        .repartition(shuffleWidth(state0.state), col("node"))
      iterate(graph, Some(state0.danglingMass), k, steps, beta, onPass, passOffset)
    }
  }

  /** The session's shuffle width, passed explicitly to `repartition`
    * so that AQE keeps the graph's partitioning instead of coalescing it.
    */
  private def shuffleWidth(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** The partition Spark SQL's `HashPartitioning` on a LONG column puts
    * `node` in: `pmod(murmur3(node, seed 42), width)`.
    */
  private[graph] def partitionOf(node: Long, width: Int): Int = {
    val h = Murmur3_x86_32.hashLong(node, 42) % width
    if (h < 0) h + width else h
  }

  /** The compat iteration over a fixed graph (node, adj, contrib),
    * hash-partitioned on node, whose contribs are the state it starts
    * from. The graph becomes [[Part]]s once, and every pass runs on
    * them. Without a starting `mass` the graph is pass `passOffset`'s
    * state: the job that builds the parts reads its mass from the sink,
    * and `onPass` reports it. Each pass's state is a lazy
    * `localCheckpoint` that the pass's one job materializes while it
    * reads the sink's contribution; only then is its predecessor
    * released, so a lineage root always exists.
    */
  private def iterate(graph: DataFrame, mass: Option[Double], k: Long,
                      steps: Int, beta: Double,
                      onPass: (Int, CompatState) => Unit,
                      passOffset: Int): CompatState = {
    val n = (k.toDouble * k.toDouble)
    val (a, b) = (1 - beta, beta / n)
    val spark = graph.sparkSession
    val parts = Part.of(graph)
    // Int keys hash to themselves: block d goes to partition d.
    val routes = new HashPartitioner(parts.getNumPartitions)
    var state = parts.map(_.start)
    var cur = CompatState(stateFrame(spark, parts, state),
      mass.getOrElse(sinkMass(parts, state)))
    if (mass.isEmpty) onPass(passOffset, cur)
    var step = 0
    while (step < steps) {
      // Rank update applied lazily (pageRank_v2.java:126-127), then
      // whole-rank contribution to each out-neighbor (:136-139).
      val dn = cur.danglingMass / n
      val sent = parts.zipPartitions(state)((ps, ss) => ps.next().send(ss.next(), a, dn, b))
      val next = parts.zipPartitions(sent.partitionBy(routes))(
        (ps, bs) => Iterator.single(ps.next().receive(bs))).localCheckpoint()
      // The reference's counter read (pageRank_v2.java:216-222), in
      // the job that materializes the checkpoint.
      val d = sinkMass(parts, next)
      state.unpersist(false)
      state = next
      cur = CompatState(stateFrame(spark, parts, state), d)
      step += 1
      onPass(passOffset + step, cur)
    }
    cur
  }

  private val StateSchema = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("contrib", DoubleType, nullable = false),
    StructField("adj", ArrayType(LongType, containsNull = false), nullable = false)))

  /** A pass's state as (node, contrib, adj) rows, minus the sink. */
  private def stateFrame(spark: SparkSession, parts: RDD[Part],
                         state: RDD[Array[Double]]): DataFrame =
    ColumnBridge.fromInternalRows(spark,
      parts.zipPartitions(state)((ps, ss) => ps.next().rows(ss.next())), StateSchema)

  /** The reference's counter read: node 0's contribution in `state`,
    * removed from the output relation (pageRank_v2.java:216-222).
    */
  private def sinkMass(parts: RDD[Part], state: RDD[Array[Double]]): Double =
    parts.zipPartitions(state)((ps, ss) => ps.next().sink(ss.next())).collect().sum

  /** A message block: the ranks one source partition sends to the
    * nodes of one destination partition, in the source's row order.
    */
  private[graph] final case class Block(src: Int, targets: Array[Long],
                                        ranks: Array[Double])

  /** One vertex partition of the compat graph: the nodes partition `id`
    * of `width` holds, in the graph's row order, with their adjacency in
    * CSR form (node i's targets are `targets(offsets(i) until
    * offsets(i + 1))`) and the contribs the run starts from. The
    * node→index map is built where the part is used and never shipped.
    */
  private[graph] final class Part(val id: Int, val width: Int, val nodes: Array[Long],
                                  val offsets: Array[Int], val targets: Array[Long],
                                  val start: Array[Double])
      extends Serializable {

    @transient lazy val index: NodeIndex = NodeIndex(nodes)

    /** One block per destination partition, from the contribs `state`:
      * each sender's rank `a·(c + dn) + b` (a = 1 − β, dn = d/N,
      * b = β/N, the DataFrame pass's operations in its order) goes to
      * every target. The sink sends nothing.
      */
    def send(state: Array[Double], a: Double, dn: Double,
             b: Double): Iterator[(Int, Block)] = {
      val dest = new Array[Int](targets.length)
      val count = new Array[Int](width)
      var i = 0
      while (i < nodes.length) {
        if (nodes(i) != 0L) {
          var e = offsets(i)
          while (e < offsets(i + 1)) {
            dest(e) = partitionOf(targets(e), width)
            count(dest(e)) += 1
            e += 1
          }
        }
        i += 1
      }
      val tg = count.map(new Array[Long](_))
      val rk = count.map(new Array[Double](_))
      val fill = new Array[Int](width)
      i = 0
      while (i < nodes.length) {
        if (nodes(i) != 0L) {
          val rank = a * (state(i) + dn) + b
          var e = offsets(i)
          while (e < offsets(i + 1)) {
            val d = dest(e)
            tg(d)(fill(d)) = targets(e)
            rk(d)(fill(d)) = rank
            fill(d) += 1
            e += 1
          }
        }
        i += 1
      }
      Iterator.tabulate(width)(d => (d, Block(id, tg(d), rk(d))))
    }

    /** The next contribs from this partition's incoming blocks — Spark's
      * partial/final `Sum`: each block's messages to a node are summed
      * in row order, and the block partials are added in ascending
      * source order (fetch order is not an order). A node nothing
      * reaches gets 0.0, the DataFrame pass's `coalesce`.
      */
    def receive(in: Iterator[(Int, Block)]): Array[Double] = {
      val blocks = in.map(_._2).toArray.sortBy(_.src)
      val next = new Array[Double](nodes.length)
      val partial = new Array[Double](nodes.length)
      val mark = new Array[Int](nodes.length)
      val touched = new Array[Int](nodes.length)
      var o = 0
      while (o < blocks.length) {
        val blk = blocks(o)
        var m = 0
        var j = 0
        while (j < blk.targets.length) {
          val t = index(blk.targets(j))
          if (t < 0)
            throw new IllegalStateException(
              s"node ${blk.targets(j)} was routed to partition $id, which does not hold it")
          if (mark(t) != o + 1) {
            mark(t) = o + 1
            partial(t) = 0.0
            touched(m) = t
            m += 1
          }
          partial(t) += blk.ranks(j)
          j += 1
        }
        var q = 0
        while (q < m) { next(touched(q)) += partial(touched(q)); q += 1 }
        o += 1
      }
      next
    }

    /** The sink's contrib, if this partition holds node 0. */
    def sink(state: Array[Double]): Iterator[Double] = {
      val i = index(0L)
      if (i < 0) Iterator.empty else Iterator.single(state(i))
    }

    /** (node, contrib, adj) rows, sink excluded; each row is its own
      * object, so a consumer may buffer them.
      */
    def rows(state: Array[Double]): Iterator[InternalRow] =
      Iterator.range(0, nodes.length).filter(nodes(_) != 0L).map { i =>
        val adj = java.util.Arrays.copyOfRange(targets, offsets(i), offsets(i + 1))
        new GenericInternalRow(Array[Any](nodes(i), state(i),
          UnsafeArrayData.fromPrimitiveArray(adj)))
      }
  }

  private[graph] object Part {

    /** The graph (node, adj, contrib) as parts, one per partition,
      * persisted. Every node is checked to sit in the partition
      * [[partitionOf]] names, which is where a pass routes its messages.
      */
    def of(graph: DataFrame): RDD[Part] = {
      val rows = graph.select("node", "adj", "contrib").queryExecution.toRdd
      val width = rows.getNumPartitions
      rows.mapPartitionsWithIndex { (id, it) =>
        val nodes = new ArrayBuilder.ofLong
        val offsets = new ArrayBuilder.ofInt
        val targets = new ArrayBuilder.ofLong
        val start = new ArrayBuilder.ofDouble
        var edges = 0
        offsets += 0
        it.foreach { r =>
          val node = r.getLong(0)
          val home = partitionOf(node, width)
          if (home != id)
            throw new IllegalStateException(
              s"node $node is in partition $id but hashes to $home: " +
                "the graph is not hash-partitioned on node")
          nodes += node
          val adj = r.getArray(1)
          var j = 0
          while (j < adj.numElements()) { targets += adj.getLong(j); j += 1 }
          edges += j
          offsets += edges
          start += r.getDouble(2)
        }
        Iterator.single(new Part(id, width, nodes.result(), offsets.result(),
          targets.result(), start.result()))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Open-addressing map from a partition's node ids to their
    * positions. A slot holds position + 1 and 0 marks it empty, so
    * there is no sentinel id: every long is a key, and a lookup of an
    * absent one stops at an empty slot, which the load factor ≤ ½
    * guarantees. The one input it rejects is an id given twice.
    */
  private[graph] final class NodeIndex private (ids: Array[Long], slots: Array[Int]) {
    private val mask = slots.length - 1

    /** `id`'s position, or -1 if it is not a node of the partition. */
    def apply(id: Long): Int = {
      var s = NodeIndex.hash(id) & mask
      var v = slots(s)
      while (v != 0 && ids(v - 1) != id) { s = (s + 1) & mask; v = slots(s) }
      v - 1
    }
  }

  private[graph] object NodeIndex {
    // Nodes of one partition share their murmur3 residue, so the slot
    // hash must be a different function: Fibonacci hashing, folded.
    private def hash(id: Long): Int = java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L)

    def apply(ids: Array[Long]): NodeIndex = {
      require(ids.length <= (1 << 29), s"${ids.length} nodes in one partition")
      var cap = 2
      while (cap < 2 * ids.length) cap <<= 1
      val slots = new Array[Int](cap)
      val mask = cap - 1
      var i = 0
      while (i < ids.length) {
        var s = hash(ids(i)) & mask
        while (slots(s) != 0) {
          if (ids(slots(s) - 1) == ids(i))
            throw new IllegalArgumentException(s"node ${ids(i)} appears twice in one partition")
          s = (s + 1) & mask
        }
        slots(s) = i + 1
        i += 1
      }
      new NodeIndex(ids, slots)
    }
  }
}
