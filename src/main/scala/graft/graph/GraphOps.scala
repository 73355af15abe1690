package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** Iterative graph loops over DataFrames, each run to convergence:
  * connected components (min-label propagation and the O(log n)
  * star-contraction variant), single-source BFS and weighted shortest
  * paths, and k-core peeling. Label-prop, BFS, SSSP and k-core are a
  * round function and a convergence probe on one driver,
  * [[converge]], which alone decides when an iterate is checkpointed
  * and released. The one-shot primitives of the
  * reference's inventory (SURVEY.md §2: adjacency, degrees, the
  * dangling set) are the registry entries g01–g03.
  *
  * At scale the shuffle key is always the node id, so each round's
  * node-keyed joins reuse the same hash partitioning (no second
  * exchange when partition counts line up).
  */
object GraphOps {

  /** Release whatever kind of pin a loop iterate holds: a CacheManager
    * persist (`unpersist` — no-op on checkpointed plans) and/or a
    * `localCheckpoint` RDD (`releaseCheckpoint` — no-op on ordinary
    * plans). Checkpoint RDDs live OUTSIDE the CacheManager, so
    * `clearCache`-style eviction can't reach them; every iterate this
    * loop retires must go through here or it stays pinned for the
    * session's lifetime (the round-7 g11 leak).
    */
  private[graph] def releaseIterate(df: DataFrame): Unit = {
    df.unpersist(false)
    ColumnBridge.releaseCheckpoint(df)
  }

  /** The converged-loop driver. A round is `step(cur)` as a LAZY
    * `localCheckpoint(false)`, then `converged(next)`: the round's one
    * driver action, which both materializes the checkpoint and decides
    * whether to stop. Only then is `cur` released, so a lineage root
    * always exists and the next round plans over a one-node leaf, never
    * over a lineage that grows with the round count. The driver pins
    * `init` unless it is already cached (then it is its caller's pin —
    * k-core starts from its caller's edge relation — and is never
    * released here). The result is an eager `localCheckpoint` of
    * `finish(cur)`: self-contained (safe to memoize after the input is
    * evicted) and the ONLY pin that escapes — every iterate is released
    * on the return path and on the over-budget path, which throws
    * rather than returning a half-converged relation. Callers that keep
    * the result long-term own that single checkpoint and release it via
    * [[org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint]].
    *
    * The rule is compat PageRank's ([[PageRank]]): an iterate is
    * checkpointed, never cached, and a checkpoint is released only after
    * a newer one is materialized. Its failure mode is the same too: a
    * lost local-checkpoint block (an executor gone) cannot be
    * recomputed, so on a cluster swap `localCheckpoint` for `checkpoint`
    * with a reliable dir. The checkpoint on every round saves driver
    * time, not executor time. A persisted round's plan would carry
    * every round back to the last checkpoint, and since a round reads
    * its iterate twice, that plan doubles per round (CC's probe on a
    * chain: 41, 97, 209, 433 analyzed nodes over four persisted
    * rounds, 3 over a checkpoint), and every round analyzes, optimizes
    * and plans it again. At sf0.1 the CC, BFS and SSSP loops spent 9–16 s
    * of driver time outside Spark jobs with 4 persisted rounds of every
    * 5, and 2–4 s with a checkpoint every round; time inside jobs
    * stayed 1.5–3.7 s.
    *
    * Caution: a step must not join two relations derived from its
    * iterate. The lazy checkpoint's plan keeps the optimizer's size
    * estimate, which such a join squares every round (see
    * [[graft.queries.GraphQueries.hitsConverged]]).
    */
  private def converge(name: String, init: DataFrame, maxRounds: Int)
                      (step: DataFrame => DataFrame)
                      (converged: DataFrame => Boolean)
                      (finish: DataFrame => DataFrame): DataFrame = {
    val borrowed = ColumnBridge.isCached(init)
    if (!borrowed) init.persist(StorageLevel.MEMORY_AND_DISK)
    def release(df: DataFrame): Unit =
      if (df != null && !(borrowed && (df eq init))) releaseIterate(df)
    var cur = init
    var prev: DataFrame = null
    try {
      var done = false
      var round = 0
      while (!done && round < maxRounds) {
        round += 1
        prev = cur
        cur = step(prev).localCheckpoint(false)
        done = converged(cur)
        release(prev)
        prev = null
      }
      if (!done)
        throw new IllegalStateException(
          s"$name: not converged after $maxRounds rounds")
      finish(cur).localCheckpoint(true)
    } finally { release(prev); release(cur) }
  }

  /** Connected components by min-label propagation over an
    * already-symmetrized (and ideally caller-persisted) edge relation,
    * iterated to convergence on [[converge]] (bounded by `maxRounds`);
    * returns (node, component) where component is the minimum node id
    * of the component. Every round joins against `sym`, so a shared
    * materialization must not be rebuilt or unpersisted here. The
    * per-round work is one node-keyed join + aggregation — label-prop
    * converges in O(diameter) rounds, and each round is a fixed
    * two-shuffle plan, so every round's `localCheckpoint` truncates
    * the lineage. GraphX's `ConnectedComponents` is the Pregel-side
    * twin (equivalence pinned in GraphOpsSpec).
    *
    * Each iterate carries its previous label as `old`, so convergence
    * detection is a filter+count on the freshly pinned iterate — no
    * dedicated change-detection join (round-7 verdict: that join was an
    * extra two-shuffle job per round).
    */
  def connectedComponentsFromSym(sym: DataFrame,
                                 maxRounds: Int = 50): DataFrame =
    converge("connectedComponentsFromSym",
      sym.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"), col("node").as("old")),
      maxRounds) { lab =>
      // labels flow u→v across the symmetrized edges
      val nbr = sym.toDF("u", "v")
        .join(lab.select(col("node").as("u"), col("label").as("l")), Seq("u"))
        .groupBy(col("v").as("node")).agg(min(col("l")).as("nbr"))
      lab.select(col("node"), col("label"))
        .join(nbr, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
          col("label").as("old"))
    }(_.filter(col("label") =!= col("old")).count() == 0)(
      _.select(col("node"), col("label").as("component")))

  /** Unreached-distance sentinel for [[bfsFromSym]] — far above any
    * real hop count, far below Long overflow under +1.
    */
  val BfsInf: Long = Long.MaxValue / 4

  /** Converged single-source BFS (hop distances) over a symmetrized
    * edge relation — [[connectedComponentsFromSym]]'s loop shape with
    * distance relaxation instead of min-label: per round, the FRONTIER
    * (nodes settled in the previous round — `dist` changed, which the
    * carried `old` column witnesses; the source alone starts with
    * old = INF ≠ dist = 0) flows u→v, each v takes
    * min(dist, min_u dist(u)+1), and the loop stops when no distance
    * changes. Frontier-only joining is exact for unit weights: every
    * frontier node at round r has dist exactly r, so a node's first
    * relaxation IS its hop distance and earlier-settled nodes have
    * nothing new to offer — total work O(E), not O(E·diameter).
    * Unreached nodes report dist = −1.
    */
  def bfsFromSym(sym: DataFrame, source: Long,
                 maxRounds: Int = 100): DataFrame =
    converge("bfsFromSym",
      sym.select(col("src").as("node")).distinct()
        .select(col("node"),
          when(col("node") === source, 0L).otherwise(BfsInf).as("dist"))
        .select(col("node"), col("dist"), lit(BfsInf).as("old")),
      maxRounds) { dist =>
      val nbr = sym.toDF("u", "v")
        .join(dist.filter(col("dist") < BfsInf && col("dist") =!= col("old"))
          .select(col("node").as("u"), col("dist").as("d")), Seq("u"))
        .groupBy(col("v").as("node")).agg((min(col("d")) + 1L).as("nd"))
      dist.select(col("node"), col("dist"))
        .join(nbr, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
          col("dist").as("old"))
    }(_.filter(col("dist") =!= col("old")).count() == 0)(
      _.select(col("node"),
        when(col("dist") === BfsInf, -1L).otherwise(col("dist")).as("dist")))

  /** Converged single-source shortest paths over a symmetrized WEIGHTED
    * edge relation (`src`, `dst`, `w`: positive long weights) — the
    * Δ-stepping-style batched relaxation the BFS scaladoc promises for
    * chain-like diameters (Meyer & Sanders, "Δ-stepping: a
    * parallelizable shortest path algorithm", J. Algorithms 49(1)).
    *
    * With weights, [[bfsFromSym]]'s settled-frontier invariant breaks: a
    * node's first relaxation is no longer its final distance, so the
    * iterate carries a `pending` flag instead of the `old` witness —
    * set when a node's distance improves, cleared when the node is
    * expanded. Plain changed-frontier Bellman-Ford would expand a node
    * once per improvement in whatever order improvements land; the
    * Δ-gate (expand only `pending && dist < threshold`, advance the
    * threshold a bucket at a time when the gated frontier drains)
    * prioritizes near-final small distances, so far nodes are expanded
    * after their distance has (mostly) settled — the re-relaxation
    * cascades that make unbatched Bellman-Ford O(V·E) at chain
    * diameters collapse to roughly one expansion per node per bucket.
    * Δ=1 with unit weights degenerates to exactly [[bfsFromSym]];
    * Δ=∞ degenerates to changed-frontier Bellman-Ford (equivalence
    * pinned both ways in GraphOpsSpec).
    *
    * Per round the plan is the family's minimal join + min-agg: frontier
    * rows flow u→v once, each v takes min(dist, min_u(dist(u) + w));
    * the per-round driver action is ONE 3-scalar aggregate over the
    * fresh iterate — it simultaneously materializes the iterate and
    * returns (pending count, gated-frontier count, min pending
    * distance), so convergence detection, bucket-drain detection, and
    * the threshold jump all ride the expansion job. The jump itself
    * is the head of the next round's step and costs zero Spark jobs
    * and no round (the r9 shape paid a full stats job per bucket jump
    * and a second count per expansion — at wall time ≈ rounds ×
    * driver actions, that factor-of-2+ was the whole g14 pathology at
    * sf0.1). Runs on [[converge]], like the CC family. Unreached nodes
    * report −1.
    *
    * Δ defaults to ADAPTIVE (`delta = 0`): one weight-stats aggregate
    * over the edges picks Δ = 4 × max(1, avg weight). Rationale —
    * in a BSP engine rounds are the scarce resource (each is a
    * cluster-wide barrier), and round count is monotonically
    * NON-INCREASING in Δ: buckets only ever add barrier rounds, while
    * what they buy (bounded re-relaxation work) is a per-round
    * throughput concern. So the right Δ is the largest one whose
    * wasted work stays acceptable: 4× the mean weight keeps the
    * expected bucket count ≈ hop-eccentricity/4 (weighted ecc ≈
    * hop-ecc × mean weight) — near the Δ=∞ round count — while still
    * capping the re-expansion cascade a heavy-tailed weight
    * distribution could trigger under pure changed-frontier
    * Bellman-Ford. Probed at sf0.1 (15k nodes / 100k sym edges,
    * weights 1..9, weighted ecc 29): Δ=5 → 24 rounds, Δ=20
    * (adaptive) → ~18, Δ=∞ → 17; wall time tracks rounds ~1:1.
    */
  def ssspFromSym(symW: DataFrame, source: Long, delta: Long = 0L,
                  maxRounds: Int = 200): DataFrame = {
    require(delta >= 0, "ssspFromSym: delta must be positive (0 = adaptive)")
    val d = if (delta > 0) delta else {
      val avgW = symW.agg(avg(col("w"))).head().getDouble(0)
      math.max(1L, math.round(4.0 * math.max(1.0, avgW)))
    }
    var threshold = d
    var frontierN = 1L // the source starts pending at dist 0 < Δ
    var minPending = 0L
    converge("ssspFromSym",
      symW.select(col("src").as("node")).distinct()
        .select(col("node"),
          when(col("node") === source, 0L).otherwise(BfsInf).as("dist"),
          (col("node") === source).as("pending")),
      maxRounds) { dist =>
      // gated frontier drained: jump to the bucket holding the smallest
      // pending distance (≥1 pending node sits in [minPending,
      // threshold) after it). Driver-side arithmetic only — minPending
      // came back with the last expansion's aggregate.
      if (frontierN == 0) threshold = (minPending / d + 1L) * d
      val isFrontier = col("pending") && col("dist") < threshold
      val nbr = symW.toDF("u", "v", "w")
        .join(dist.filter(isFrontier)
          .select(col("node").as("u"), col("dist").as("d")), Seq("u"))
        .groupBy(col("v").as("node")).agg(min(col("d") + col("w")).as("nd"))
      dist
        .select(col("node"), col("dist"),
          (col("pending") && !isFrontier).as("still"))
        .join(nbr, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
          (coalesce(col("nd"), lit(BfsInf)) < col("dist") || col("still"))
            .as("pending"))
    } { next =>
      // the round's one driver action: materializes `next` AND
      // returns the stats that drive convergence + the Δ-gate
      val stats = next.agg(
        sum(col("pending").cast("long")),
        sum((col("pending") && col("dist") < threshold).cast("long")),
        min(when(col("pending"), col("dist")))).head()
      frontierN = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      minPending = if (stats.isNullAt(2)) 0L else stats.getLong(2)
      stats.isNullAt(0) || stats.getLong(0) == 0L
    }(_.select(col("node"),
      when(col("dist") === BfsInf, -1L).otherwise(col("dist")).as("dist")))
  }

  /** Connected components in O(log n) rounds via alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the scale path when graph
    * DIAMETER, not size, is the enemy: min-label propagation
    * ([[connectedComponentsFromSym]]) needs O(diameter) rounds, and the
    * reference's own k-chain topology at k=1000 (Makefile:22-23) has
    * diameter 1000. Here every round contracts star subtrees, so round
    * count is logarithmic in component size regardless of diameter.
    *
    * Per round, with Γ⁺(u) = neighbors of u ∪ {u} and m(u) = min Γ⁺(u):
    *  - large-star: ∀ v ∈ Γ(u), v > u: emit (v, m(u)) — larger
    *    neighbors re-hook onto u's minimum;
    *  - small-star: over the large-star output, ∀ v ∈ Γ(u), v ≤ u:
    *    emit (v, m(u)) and (u, m(u)) — u and its smaller neighbors
    *    collapse onto the minimum.
    * Both phases are a min-aggregate + an equi-join on the node id —
    * never a neighborhood `collect_list`, so a 100 TB hub node costs
    * two shuffled rows, not an executor-OOM array. The fixpoint is a
    * star forest: every node points directly at its component minimum.
    *
    * Convergence needs a set comparison (unlike label-prop there is no
    * per-row `old` to carry: the edge SET changes shape), so each round
    * pays one left-anti join on the node-sized iterate — acceptable
    * because the loop runs O(log n) rounds, not O(diameter).
    * Non-convergence within `maxRounds` throws rather than returning
    * half-contracted edges. Same pin discipline as
    * [[connectedComponentsFromSym]]: the returned frame is a
    * self-contained eager checkpoint and the only surviving pin.
    *
    * Unlike the label-prop loop (whose iterate is referenced twice per
    * round, so an un-checkpointed plan doubles per round), a star
    * round references its predecessor ~24× through the
    * sym→mins→large→symS→minsS chain — plan size (and with it
    * analysis + cache-subtree-matching time) multiplies ~24× per
    * UN-checkpointed round, which is exponential in the rounds between
    * checkpoints (a checkpoint every 3rd round measured 205 s at sf0.1
    * vs ~10 s with one every round). So
    * every round checkpoints, and the mid-round `large` relation is
    * pinned while the three branches that read it materialize —
    * released as soon as the round's iterate is checkpointed.
    */
  // Its own loop, not [[converge]]'s: the mid-round `large` pin and a
  // probe that reads the previous iterate would be driver parameters
  // only this loop uses. A port onto `converge` was measured and kept
  // out: the same hashes at sf0.1, but g12 cold went from 7.3 s to
  // 12.1 s (one JVM per side, local[4]).
  def connectedComponentsLogN(edges: DataFrame,
                              maxRounds: Int = 30): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cur = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    var curCount = cur.count()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val sym = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val large = sym.join(mins, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val symS = large.union(
        large.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("dst") <= col("src"))
      val minsS = symS.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val next = symS.join(minsS, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(minsS.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true) // eager: materializes, then large retires
      large.unpersist(false)
      val nextCount = next.count()
      // distinct sets: equal ⟺ no fresh edges AND same cardinality
      val fresh = next.join(cur, Seq("src", "dst"), "left_anti").count()
      changed = fresh + math.abs(nextCount - curCount)
      curCount = nextCount
      releaseIterate(cur)
      cur = next
      round += 1
    }
    require(changed == 0,
      s"connectedComponentsLogN: no fixpoint within $maxRounds rounds")
    val out = nodes
      .join(cur.select(col("src").as("node"), col("dst").as("component")),
        Seq("node"), "left_outer")
      .groupBy("node")
      .agg(min(coalesce(col("component"), col("node"))).as("component"))
      .localCheckpoint(true)
    nodes.unpersist(false)
    releaseIterate(cur)
    out
  }

  /** k-core of a symmetrized edge relation: the maximal induced
    * subgraph in which every node has (undirected) degree ≥ k,
    * computed by converged peeling — per round, drop every node whose
    * degree in the CURRENT subgraph is < k, drop edges touching
    * dropped nodes, repeat until nothing changes (Matula & Beck's
    * algorithm, the BSP form: each round is one degree aggregate +
    * two node-keyed semi-joins). Returns (node, deg) for the
    * surviving nodes, deg being the within-core degree (≥ k).
    *
    * Fixpoint structure differs from the label-prop family: the STATE
    * is the shrinking edge set, referenced three times per round
    * (degree agg + both semi-join probes), so un-checkpointed plan
    * size would multiply ~3× per round; [[converge]] checkpoints every
    * round, as the star-contraction loop
    * ([[connectedComponentsLogN]]) does. Peeling is idempotent at
    * fixpoint — extra rounds are no-ops — which is what lets a
    * fixed-unroll SQL oracle verify the converged loop: any oracle
    * unroll ≥ the actual round count yields the identical relation,
    * and an unroll that's too short shows up as a loud hash mismatch,
    * never silent agreement. Throws on non-convergence within
    * `maxRounds`.
    */
  def kCore(sym: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, "kCore: k must be at least 1")
    // the input's size, so a graph that already is a k-core stops after
    // one round
    var edgesN = sym.count()
    converge("kCore", sym.select(col("src"), col("dst")), maxRounds) { cur =>
      val keep = cur.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= k).select(col("src").as("keep"))
      cur
        .join(keep.select(col("keep").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("keep").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    } { next =>
      val n = next.count() // one action: checkpoint + count
      val same = n == edgesN
      edgesN = n
      same
    }(_.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
  }
}
