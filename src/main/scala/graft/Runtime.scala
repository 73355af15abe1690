package graft

import org.apache.spark.sql.SparkSession

/** The one session posture every main runs under (Bench, Verify, Duel,
  * Explain, ScaleGen and PageRankCli) and the tier-1 specs share, so
  * the plans Verify and the specs check are the plans Bench times.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sets both the local core count and
  * the shuffle width. A `spark.master` system property (spark-submit
  * sets one) wins over the local master, and a `spark.ui.enabled`
  * property over the UI default of off.
  */
object Runtime {

  /** Local cores and shuffle partitions. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(): SparkSession =
    SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Let AQE re-optimize plans that read CACHED relations (the
      // iterative graph loops persist every round; the shared base
      // relations are persisted per family). The default `false`
      // pins a cached relation's output partitioning so downstream
      // co-partitioning can be reused — but every consumer here
      // re-plans its own exchanges anyway, so the pin only disables
      // AQE's partition coalescing and broadcast conversion for
      // every query over a cached input. Measured r18 at local[32]
      // sf0.1: g family 16.3s → 8.2s, s family 8.8s → 3.9s, whole
      // bench 215s → 108s combined with the streaming commit fix;
      // shuffle records drop 2.1M → 0.75M in g (AQE broadcast-joins
      // the small cached rounds instead of shuffling both sides).
      // Results are plan-shape-invariant (oracle-verified ×156 at
      // sf0.001, sf0.01 AND sf0.1 — the r19 sweeps).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Join strategy: STOCK defaults. r18 carried
      // preferSortMergeJoin=false + the AQE 64m SHJ local-map
      // threshold; r19 measured both at the bench posture (local[32]
      // sf0.1) and removed them. The static flag trusts size estimates
      // and cannot spill (an OOM risk at the sf10 envelope) and
      // changed no executed plan. The AQE threshold DOES
      // convert SMJ→SHJ here (q64 ×1, q65 ×2 final-plan conversions,
      // executed dumps) but an isolated q64/q65 A/B across all three
      // postures — both confs / threshold only / neither — was inside
      // the run-to-run noise band (q65 0.63–0.84 s), so the
      // unevidenced planner deviation is gone.
      // Scan splits derive from BYTES alone: the stock
      // floor (= defaultParallelism) re-splits every small file into
      // one sliver per core, so file-count-heavy paths (the versioned
      // tables' 80-directory slices, the layout trees) paid ~40
      // near-empty scan tasks per read at local[32] and got FASTER at
      // 8 cores (r18 scaling ratios 0.5-0.8 on q42/q57/q59/q64/q65).
      // At 100 TB maxPartitionBytes governs and this floor is inert;
      // compute-heavy small scans that genuinely want cores are
      // spread explicitly where they are built (DedupQueries.spread).
      // Measured r19 at sf0.1: q65 1.7→1.0s, q42 0.5→0.1s, q57 cold
      // build 12.8→11.7s on top of the explicit-files index.
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled",
        sys.props.getOrElse("spark.ui.enabled", "false"))
      .getOrCreate()
}
