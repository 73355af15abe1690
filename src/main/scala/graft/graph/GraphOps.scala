package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph loops over DataFrames, each run to convergence:
  * connected components (min-label propagation and the O(log n)
  * star-contraction variant), single-source BFS and weighted shortest
  * paths, and k-core peeling. The one-shot primitives of the
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
    org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(df)
  }

  /** Connected components by min-label propagation over an
    * already-symmetrized (and ideally caller-persisted) edge relation,
    * iterated to convergence (bounded by `maxRounds`); returns (node,
    * component) where component is the minimum node id of the
    * component. Every round joins against `sym`, so a shared
    * materialization must not be rebuilt or unpersisted here. The
    * per-round work is one node-keyed join + aggregation — label-prop
    * converges in O(diameter) rounds, and each round is a fixed
    * two-shuffle plan, so lineage is truncated with `localCheckpoint`
    * on cadence. GraphX's `ConnectedComponents` is the Pregel-side
    * twin (equivalence pinned in GraphOpsSpec).
    *
    * Each iterate carries its previous label as `old`, so convergence
    * detection is a filter+count on the already-cached iterate — no
    * dedicated change-detection join (round-7 verdict: that join was an
    * extra two-shuffle job per round). The returned frame is an eager
    * `localCheckpoint` of the converged labels: self-contained (safe to
    * memoize after `sym` is evicted) and the ONLY pin that escapes the
    * loop — every per-round persist and superseded mid-loop checkpoint
    * is released before return. Callers that keep the result long-term
    * own that single checkpoint and release it via
    * [[org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint]].
    */
  def connectedComponentsFromSym(sym: DataFrame, maxRounds: Int = 50,
                                 checkpointEvery: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    var lab = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"), col("node").as("old"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev: DataFrame = null
    var lastCp: DataFrame = null // live lineage root, see checkpoint note
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // labels flow u→v across the symmetrized edges
      val nbr = sym.toDF("u", "v")
        .join(lab.select(col("node").as("u"), col("label").as("l")), Seq("u"))
        .groupBy(col("v").as("node")).agg(min(col("l")).as("nbr"))
      val plan = lab.select(col("node"), col("label"))
        .join(nbr, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
          col("label").as("old"))
      // Checkpoint rounds take the iterate UN-cached and lazy — the
      // count() below materializes the checkpoint's own MEMORY_AND_DISK
      // blocks in one pass. Layering a persist under the checkpoint and
      // unpersisting it after is the AQE-off trap the r13 sssp probe
      // hit (the checkpoint adopts the cached plan's blocks); and a
      // checkpoint is a lineage ROOT, so it is released only when a
      // newer one is materialized — a cache-missing later round (plan
      // mismatch without AQE locally; memory-pressure eviction on a
      // real executor) recomputes down to the nearest live root.
      val isCp = (round + 1) % checkpointEvery == 0
      val next =
        if (isCp) plan.localCheckpoint(false)
        else plan.persist(StorageLevel.MEMORY_AND_DISK)
      // count() materializes next; lab is kept one extra round so an
      // evicted cache block of next can still recompute cheaply
      changed = next.filter(col("label") =!= col("old")).count()
      if (isCp) {
        if (lastCp != null) releaseIterate(lastCp)
        lastCp = next
      }
      if (prev != null && !(prev eq lastCp)) releaseIterate(prev)
      prev = lab
      lab = next
      round += 1
    }
    val out = lab.select(col("node"), col("label").as("component"))
      .localCheckpoint(true)
    if (prev != null) releaseIterate(prev)
    releaseIterate(lab)
    if (lastCp != null) releaseIterate(lastCp)
    out
  }

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
    * nothing new to offer — total work O(E), not O(E·diameter). Same
    * pin discipline: per-round persists retire, the result is the one
    * surviving eager checkpoint. Unreached nodes report dist = −1.
    */
  def bfsFromSym(sym: DataFrame, source: Long, maxRounds: Int = 100,
                 checkpointEvery: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    var dist = sym.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(col("node") === source, 0L).otherwise(BfsInf).as("dist"))
      .select(col("node"), col("dist"), lit(BfsInf).as("old"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev: DataFrame = null
    var lastCp: DataFrame = null // live lineage root, see checkpoint note
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val nbr = sym.toDF("u", "v")
        .join(dist.filter(col("dist") < BfsInf && col("dist") =!= col("old"))
          .select(col("node").as("u"), col("dist").as("d")), Seq("u"))
        .groupBy(col("v").as("node")).agg((min(col("d")) + 1L).as("nd"))
      val plan = dist.select(col("node"), col("dist"))
        .join(nbr, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
          col("dist").as("old"))
      // same checkpoint discipline as connectedComponentsFromSym: no
      // cache layered under the lazy checkpoint, roots released only
      // when superseded
      val isCp = (round + 1) % checkpointEvery == 0
      val next =
        if (isCp) plan.localCheckpoint(false)
        else plan.persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.filter(col("dist") =!= col("old")).count()
      if (isCp) {
        if (lastCp != null) releaseIterate(lastCp)
        lastCp = next
      }
      if (prev != null && !(prev eq lastCp)) releaseIterate(prev)
      prev = dist
      dist = next
      round += 1
    }
    val out = dist
      .select(col("node"),
        when(col("dist") === BfsInf, -1L).otherwise(col("dist")).as("dist"))
      .localCheckpoint(true)
    if (prev != null) releaseIterate(prev)
    releaseIterate(dist)
    if (lastCp != null) releaseIterate(lastCp)
    out
  }

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
    * the threshold jump all ride the expansion job. Rounds where the
    * loop only advances the threshold cost zero Spark jobs (the r9
    * shape paid a full stats job per bucket jump and a second count
    * per expansion — at wall time ≈ rounds × driver actions, that
    * factor-of-2+ was the whole g14 pathology at sf0.1). Same pin
    * discipline as the CC family: per-round persists retire, the
    * result is one eager self-contained `localCheckpoint`. Unreached
    * nodes report −1. Throws on non-convergence within `maxRounds`
    * rather than returning partially-relaxed distances.
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
                  maxRounds: Int = 200, checkpointEvery: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(delta >= 0, "ssspFromSym: delta must be positive (0 = adaptive)")
    val d = if (delta > 0) delta else {
      val avgW = symW.agg(avg(col("w"))).head().getDouble(0)
      math.max(1L, math.round(4.0 * math.max(1.0, avgW)))
    }
    var dist = symW.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(col("node") === source, 0L).otherwise(BfsInf).as("dist"),
        (col("node") === source).as("pending"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev: DataFrame = null
    // the live checkpoint (lineage root) — see the release note below
    var lastCp: DataFrame = null
    var threshold = d
    var round = 0
    var pendingN = 1L   // the source starts pending at dist 0 < Δ
    var frontierN = 1L
    var minPending = 0L
    while (pendingN > 0 && round < maxRounds) {
      if (frontierN == 0) {
        // gated frontier drained: jump to the bucket holding the
        // smallest pending distance. Driver-side arithmetic only —
        // minPending came back with the last expansion's aggregate,
        // so this costs no Spark job and no loop round.
        threshold = (minPending / d + 1L) * d
        frontierN = pendingN // ≥1 pending sits in [minPending, threshold)
      } else {
        val isFrontier = col("pending") && col("dist") < threshold
        val nbr = symW.toDF("u", "v", "w")
          .join(dist.filter(isFrontier)
            .select(col("node").as("u"), col("dist").as("d")), Seq("u"))
          .groupBy(col("v").as("node")).agg(min(col("d") + col("w")).as("nd"))
        val plan = dist
          .select(col("node"), col("dist"),
            (col("pending") && !isFrontier).as("still"))
          .join(nbr, Seq("node"), "left_outer")
          .select(col("node"),
            least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
            (coalesce(col("nd"), lit(BfsInf)) < col("dist") || col("still"))
              .as("pending"))
        // LAZY checkpoint on cadence: the mark costs nothing now; the
        // round's single action below materializes checkpoint blocks in
        // one pass. (The r9 eager checkpoint was a second full
        // materialization — the 2-4× ms spikes every 5th round in the
        // sf0.1 trace.) Two r13 disciplines, both found by the AQE-off
        // probe and both real at-scale robustness, not config quirks:
        // (1) checkpoint rounds skip the separate persist —
        // `localCheckpoint` stores the rdd's own MEMORY_AND_DISK
        // blocks, and layering a cache UNDER it let the checkpoint
        // adopt the cached plan's blocks, so unpersisting the
        // pre-checkpoint frame deleted the checkpoint's storage;
        // (2) a checkpoint is a lineage ROOT — any later round that
        // misses cache (AQE-off plan-match differences locally;
        // memory-pressure eviction on a real executor) recomputes down
        // to the NEAREST checkpoint, so one is released only after a
        // NEWER one is materialized, never on the rolling two-round
        // window that retires plain cached iterates.
        val isCp = (round + 1) % checkpointEvery == 0
        val next =
          if (isCp) plan.localCheckpoint(false)
          else plan.persist(StorageLevel.MEMORY_AND_DISK)
        // the round's one driver action: materializes `next` AND
        // returns the stats that drive convergence + the Δ-gate
        val stats = next.agg(
          sum(col("pending").cast("long")),
          sum((col("pending") && col("dist") < threshold).cast("long")),
          min(when(col("pending"), col("dist")))).head()
        pendingN = if (stats.isNullAt(0)) 0L else stats.getLong(0)
        frontierN = if (stats.isNullAt(1)) 0L else stats.getLong(1)
        minPending = if (stats.isNullAt(2)) 0L else stats.getLong(2)
        if (isCp) {
          // a newer lineage root is materialized: the previous
          // checkpoint can no longer be reached by any recompute
          if (lastCp != null) releaseIterate(lastCp)
          lastCp = next
        }
        if (prev != null && !(prev eq lastCp)) releaseIterate(prev)
        prev = dist
        dist = next
        round += 1
      }
    }
    if (pendingN > 0) {
      if (prev != null) releaseIterate(prev)
      releaseIterate(dist)
      if (lastCp != null) releaseIterate(lastCp)
      throw new IllegalStateException(
        s"ssspFromSym: not converged after $maxRounds rounds")
    }
    val out = dist
      .select(col("node"),
        when(col("dist") === BfsInf, -1L).otherwise(col("dist")).as("dist"))
      .localCheckpoint(true)
    // `out` is eager, so the live lineage root is no longer needed
    // (double-release of an iterate that IS the root is a no-op)
    if (prev != null) releaseIterate(prev)
    releaseIterate(dist)
    if (lastCp != null) releaseIterate(lastCp)
    out
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
    * Unlike the label-prop loop (whose iterate is referenced ONCE per
    * round, so a checkpoint cadence of 5 bounds plan growth linearly),
    * a star round references its predecessor ~24× through the
    * sym→mins→large→symS→minsS chain — plan size (and with it
    * analysis + cache-subtree-matching time) multiplies ~24× per
    * UN-checkpointed round, which is exponential in the cadence
    * (cadence 3 measured 205 s at sf0.1 vs ~10 s at cadence 1). So
    * every round checkpoints, and the mid-round `large` relation is
    * pinned while the three branches that read it materialize —
    * released as soon as the round's iterate is checkpointed.
    */
  def connectedComponentsLogN(edges: DataFrame,
                              maxRounds: Int = 30): DataFrame = {
    import org.apache.spark.storage.StorageLevel
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
    * size multiplies ~3× per round — like the star-contraction loop
    * ([[connectedComponentsLogN]]) every round checkpoints, lazily so
    * the round's counting action materializes cache and checkpoint
    * blocks in one pass (the g14 pattern). Peeling is idempotent at
    * fixpoint — extra rounds are no-ops — which is what lets a
    * fixed-unroll SQL oracle verify the converged loop: any oracle
    * unroll ≥ the actual round count yields the identical relation,
    * and an unroll that's too short shows up as a loud hash mismatch,
    * never silent agreement. Throws on non-convergence within
    * `maxRounds`.
    */
  def kCore(sym: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(k >= 1, "kCore: k must be at least 1")
    var cur = sym.select(col("src"), col("dst")).localCheckpoint(true)
    var curN = cur.count()
    var prev: DataFrame = null
    var round = 0
    var changed = curN > 0
    while (changed && round < maxRounds) {
      val keep = cur.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= k).select(col("src").as("keep"))
      // lazy checkpoint WITHOUT a persist underneath — see the
      // ssspFromSym checkpoint note (under AQE-off the checkpoint
      // adopts the cached plan's blocks, and the old
      // persist→checkpoint→unpersist sequence deleted its storage)
      val next = cur
        .join(keep.select(col("keep").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("keep").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(false)
      val nextN = next.count() // one action: checkpoint + count
      changed = nextN != curN
      if (prev != null) releaseIterate(prev)
      prev = cur
      cur = next
      curN = nextN
      round += 1
    }
    if (changed) {
      if (prev != null) releaseIterate(prev)
      releaseIterate(cur)
      throw new IllegalStateException(
        s"kCore: not converged after $maxRounds rounds")
    }
    val out = cur.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    if (prev != null) releaseIterate(prev)
    releaseIterate(cur)
    out
  }
}
