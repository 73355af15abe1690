package graft.queries

import graft.Tables
import graft.streaming.{BandRow, Ev, StreamOps}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, month, pmod, struct, unix_millis, year}
import org.apache.spark.sql.streaming.OutputMode

/** Batch twins of the streaming operators
  * ([[graft.streaming.StreamOps]]) over the `events` table, PLUS six
  * registry entries (st01–st06) that execute the REAL incremental
  * path — file-source micro-batches, `transformWithState` with
  * RocksDB state, the symmetric join store, the dedup store with
  * watermark-driven late-data drops, append-mode windowed
  * aggregation, and merging session windows, all with a file sink —
  * inside the driver contract, so every streaming state machinery is
  * DuckDB-oracle-checked rather than spec-pinned only.
  *
  * Oracle notes: window starts are epoch-aligned in both engines
  * (Spark `window()` floors to the epoch; DuckDB `time_bucket` with a
  * pinned epoch origin); session windows are the classic
  * gaps-and-islands rewrite; double sums go through DECIMAL(28,2) so
  * accumulation order can't flip the last ulp.
  */
object StreamQueries {

  // Tumbling 5-minute windows per event_type with exact value sums —
  // the batch twin of StreamOps.windowedCounts.
  def q23_event_windows(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.windowedCounts(Tables.events(s, dir))

  // Gap-based sessions (5-minute inactivity gap) per user — the batch
  // twin of StreamOps.sessions.
  def q24_sessions(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.sessions(Tables.events(s, dir))

  /** Unique run dirs per invocation: Bench samples each query 3×, and
    * a reused source/checkpoint dir would make later runs resume the
    * first run's offsets instead of streaming the input again.
    */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Stream-scoped session confs beyond the provider swap — the
    * per-batch FIXED cost knobs (optimization guide §1.2 step 3 after
    * §2's shape work; measured r18: the st family's cost at local[32]
    * was 3–5× its local[4] cost, pure per-partition commit overhead):
    *
    *  - RocksDB CHANGELOG checkpointing: each batch commit uploads
    *    the batch's delta instead of a full snapshot of every store
    *    instance; snapshots move to background maintenance. Recovery
    *    (st12, VersionedStreamSpec restarts) replays changelog over
    *    the last snapshot — same state, pinned by the same oracles.
    *  - `trackTotalNumberOfRows=false`: skips the get-before-put each
    *    write otherwise pays purely for a numRowsTotal metric.
    *  - `minBatchesToRetain=2`: checkpoint retention for a backfill
    *    run; the default 100 keeps every version of every store ever
    *    written (cleanup never fires on a ≤40-batch feed). Restart
    *    resumes from the LATEST committed batch, so 2 suffices.
    *
    * All three are restored on exit and dialable
    * (`graft.stream.conf.<key>` overrides via session conf if a
    * deployment needs different retention).
    */
  private val streamConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
      "false",
    "spark.sql.streaming.minBatchesToRetain" -> "2",
    // Stream–stream join state format v3 (Spark 4.x, RocksDB-only —
    // which this provider is): ONE store with virtual column families
    // per partition instead of FOUR separate stores, so every
    // per-store fixed cost of a batch — load, changelog commit, fsync,
    // snapshot — is paid once, not four times. Checkpoints are created
    // fresh per run here, so the version-pinned-at-start rule costs
    // nothing. Measured (sf0.1, local[32], 1 state partition): st03's
    // shape 9.0→7.0s wall; at 4 partitions commit 674 ms vs v2's 4×
    // file-sync waves. Only join operators read this conf; the other
    // stateful entries are unaffected.
    "spark.sql.streaming.join.stateFormatVersion" -> "3",
  )

  /** Shared scaffolding of the streaming runners: unique run dirs
    * (src/out/cp) under the layout root ([[graft.sources.Layouts]]),
    * a leftover wipe — the seq restarts per JVM, and a stale `out`
    * dir's committed `_spark_metadata` log would be served back by a
    * fresh-checkpoint sink as already-committed files — the
    * stream-scoped conf swap ([[streamConfs]], restored on exit), and
    * the hadoop-FS delete handle the body uses for its own teardown.
    */
  private def withStreamRun[T](s: SparkSession)(
      body: (String, String, String, String => Unit) => T): T = {
    val base = graft.sources.Layouts.under(s,
      "streams/run_" + runSeq.incrementAndGet())
    def delete(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    delete(base)
    val prev = streamConfs.keys.map(k => k -> s.conf.getOption(k)).toMap
    // the documented dial: `graft.stream.conf.<key>` in the session
    // conf overrides a default for the run's duration (a deployment
    // that needs different retention sets it once, and the runner
    // stops clobbering it)
    streamConfs.foreach { case (k, v) =>
      s.conf.set(k, s.conf.getOption(s"graft.stream.conf.$k").getOrElse(v))
    }
    try body(base + "/src", base + "/out", base + "/cp", delete)
    finally prev.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Advisory feed-bytes per state partition for COMMIT-bound stateful
    * operators (aggregations, dedup, transformWithState): per-batch
    * fixed cost is (instances × commit), so instances stay few until
    * data volume demands more. 16 MB of parquet ≈ 64 MB of raw state —
    * inside the per-instance budget every state-store sizing guide
    * uses.
    */
  private val StateAdvisoryBytes = 16L * 1024 * 1024

  /** Advisory feed-bytes per state partition for the stream–stream
    * INTERVAL JOIN entries (st03/st08), whose per-partition cost is
    * PROBE COMPUTE, not commit: the symmetric join store probes every
    * buffered same-key row of the opposite side per input row —
    * measured at sf0.1 ~12 RocksDB gets per put (1.46 M gets for
    * 120 k puts), an order of magnitude more state-machine work per
    * feed byte than the commit-bound class. Its partition-count
    * U-curve bottoms far earlier: at sf0.1 local[32] one partition
    * runs the whole probe volume single-threaded (9.0 s wall) while
    * 4–16 partitions parallelize it (3.0–2.5 s) and 32 pays commit
    * waves again (3.5 s). 256 KB/partition puts the measured optimum
    * (8) at this feed; larger feeds hit the shuffle-width ceiling,
    * which is the deployment's dial, exactly as for the commit-bound
    * class.
    */
  private val JoinStateAdvisoryBytes = 256L * 1024

  /** SCALE-ADAPTIVE state partition count for one streaming run —
    * the guide's §2 rule (derive partitioning from input size, never
    * a constant tuned for either local mode or the cluster) applied
    * to the one partitioning a streaming query PINS at start: the
    * stateful-operator partition count (= shuffle partitions at query
    * start, one state-store instance each). The bench session sets
    * `spark.sql.shuffle.partitions` = cores, which at local[32] put
    * 32 RocksDB instances behind EVERY stateful operator of every
    * micro-batch of a 3 MB feed — measured this round at 3–5× the
    * local[4] wall for identical plans (st01 16.7s vs 3.4s; the whole
    * st family 131s of a 215s bench). Per-batch fixed cost is
    * (instances × commit), so instances must track data volume:
    *
    *   partitions = clamp(feedBytes / advisoryBytes, 1, cores)
    *
    * with feedBytes = the landed batch-0 slice × the feed's slice
    * count (slices are equal-width — no extra job), advisory passed
    * by the runner ([[StateAdvisoryBytes]] for commit-bound
    * operators, [[JoinStateAdvisoryBytes]] for the probe-bound
    * symmetric join — see each). sf0.1's 2 MB feed → 1 instance for
    * the commit-bound class at any core count; sf10's ~200 MB → the
    * ceiling → the measured local[32] optimum unchanged; a real
    * cluster raises the clamp by setting shuffle partitions (the
    * clamp ceiling) as usual. Results are partition-count-invariant
    * (keyed state, deterministic per-key folds — the slice-invariance
    * arguments each entry pins), which is also why this is safe to
    * adapt per run.
    */
  private def statePartitions(s: SparkSession, srcDir: String,
                              slices: Int, advisory: Long): Int = {
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength * math.max(1, slices)
    // ceiling = the session's shuffle width (the quantity the scaladoc
    // names and the one the streaming query would otherwise pin) —
    // NOT defaultParallelism, which only coincides with it in local
    // mode; on a cluster raising spark.sql.shuffle.partitions must
    // raise this clamp too
    val ceiling = s.conf.getOption("spark.sql.shuffle.partitions")
      .map(_.toInt).getOrElse(s.sparkContext.defaultParallelism)
    math.max(1L, math.min(math.max(1, ceiling).toLong,
      (bytes + advisory - 1) / advisory)).toInt
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to the
    * [[statePartitions]] count for this feed, restored after. The
    * streaming query reads the conf once at start and keeps it for
    * the checkpoint's lifetime, so the scope only needs to cover
    * `start()`; restoring it immediately after the run keeps the
    * batch queries around the stream on the session's own setting.
    */
  private def withStatePartitions[T](s: SparkSession, srcDir: String,
                                     slices: Int, advisory: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.getOption(key)
    s.conf.set(key, statePartitions(s, srcDir, slices, advisory).toString)
    try body
    finally prev match {
      case Some(p) => s.conf.set(key, p)
      case None => s.conf.unset(key)
    }
  }

  /** Land one backfill slice in the watched source dir as ONE data
    * file. A multi-file append is NOT an atomic commit to a
    * listing-based file source: the committer renames task files into
    * the directory one at a time, so a running query's mid-commit
    * listing can pick up a SUBSET of the slice — splitting it into
    * two micro-batches whose arrival order no longer follows the
    * feed's slice order (observed once under full-suite load: st02's
    * exact-duplicate docs claimed an LSH bucket in the wrong order
    * because the later doc's file won the listing race). One data
    * file = one rename = atomic visibility, which is what the
    * in-order-arrival contract every sliced feed documents actually
    * requires of the landing layer; a production connector gets the
    * same guarantee from its own atomic commit (one file per
    * partition-epoch, or a manifest). The slice-sized single-task
    * write is feed scaffolding, not the measured operator.
    */
  private def landSlice(df: DataFrame, srcDir: String): Unit =
    df.coalesce(1).write.mode("append").parquet(srcDir)

  /** Stop a finished query and synchronously close its state-store
    * providers: stop() leaves RocksDB instances LOADED (they close
    * lazily — maintenance pass or JVM shutdown), and closing them
    * after the run dirs are deleted is the MANIFEST-on-Close ERROR
    * race that flooded two rounds of driver bench tails. Unload while
    * the dirs still exist; providers reload on demand.
    */
  private def stopAndUnload(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.stop()
    org.apache.spark.sql.graft.ColumnBridge.unloadStateStores()
  }

  /** Drive a StreamOps transform through a real streaming query with
    * BOTH ends on files — the production shape, no driver-side data
    * movement: the input relation is written once to a parquet source
    * dir (an executor-side write; at cluster scale this is the
    * landing bucket a Kafka connector fills), `readStream` consumes it
    * as micro-batch 0, optional `laterBatches` land as new files and
    * become micro-batches 1..n (the file source's offset log tracks
    * processed files, so each append is exactly one new batch), and
    * the parquet SINK's `_spark_metadata` commit log makes the output
    * exactly-once readable. State lives in RocksDB, sharded with the
    * shuffle. Nothing — feed, state, or result — ever gathers on the
    * driver, which is what lets the st family ride the sf1/sf10
    * sweeps (the r12 MemoryStream feed collected the input relation
    * driver-side and OOM'd a 24 GB heap at sf10).
    *
    * Source and checkpoint dirs are deleted after the query stops;
    * the output dir must outlive the call (the returned frame reads
    * it lazily).
    */
  private[graft] def runFileStream(s: SparkSession, input: DataFrame,
      transform: DataFrame => DataFrame,
      laterBatches: Seq[DataFrame] = Nil,
      advisoryBytes: Long = StateAdvisoryBytes): DataFrame =
    withStreamRun(s) { (srcDir, outDir, cpDir, delete) =>
      input.write.mode("overwrite").parquet(srcDir)
      val src = s.readStream.schema(input.schema).parquet(srcDir)
      val out = transform(src)
      val outSchema = out.schema
      withStatePartitions(s, srcDir, 1 + laterBatches.size, advisoryBytes) {
        val q = out.writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Append).start()
        try {
          q.processAllAvailable()
          laterBatches.foreach { b =>
            landSlice(b, srcDir)
            q.processAllAvailable()
          }
        } finally stopAndUnload(q)
      }
      // Drop the consumed feed + offset log; keep only the committed
      // output (bounds the per-invocation disk residue to the result).
      delete(srcDir); delete(cpDir)
      s.read.schema(outSchema).parquet(outDir)
    }

  /** [[runFileStream]] with a `foreachBatch` sink — the production
    * surface for UPDATE-mode output, which the append-only file sink
    * cannot host: each micro-batch's updated rows land as an
    * IDEMPOTENT per-batch parquet snapshot (`out/batch_<id>`, mode
    * overwrite — a replayed batch after a crash rewrites its own
    * directory instead of duplicating, which is exactly the
    * exactly-once recipe Spark documents for foreachBatch sinks:
    * batchId-keyed idempotent writes). The returned relation is the
    * union of the per-batch snapshots; callers reduce it to final
    * state (the st09/st10 max-snapshot shape).
    */
  private[graft] def runForeachBatchStream(s: SparkSession, input: DataFrame,
      transform: DataFrame => DataFrame,
      laterBatches: Seq[DataFrame] = Nil): DataFrame =
    withStreamRun(s) { (srcDir, outDir, cpDir, delete) =>
      input.write.mode("overwrite").parquet(srcDir)
      val src = s.readStream.schema(input.schema).parquet(srcDir)
      val out = transform(src)
      val outSchema = out.schema
      val sink: (Dataset[Row], Long) => Unit = (batch, batchId) =>
        batch.write.mode("overwrite").parquet(outDir + "/batch_" + batchId)
      withStatePartitions(s, srcDir, 1 + laterBatches.size,
          StateAdvisoryBytes) {
        val q = out.writeStream.foreachBatch(sink)
          .option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Update).start()
        try {
          q.processAllAvailable()
          laterBatches.foreach { b =>
            landSlice(b, srcDir)
            q.processAllAvailable()
          }
        } finally stopAndUnload(q)
      }
      delete(srcDir); delete(cpDir)
      s.read.schema(outSchema).parquet(outDir + "/batch_*")
    }

  /** [[runFileStream]] with a mid-backfill KILL-AND-RESTART — the
    * exactly-once recovery guarantee a production operator actually
    * relies on, executed rather than asserted: the first
    * `restartAfter` later-batches run under query 1, which is then
    * STOPPED (its state-store providers unloaded — a cold process
    * death's clean-shutdown twin; the checkpoint is the only carrier
    * of progress either way); the next backfill slice lands in the
    * source dir while the pipeline is DOWN; query 2 starts from the
    * SAME checkpoint + sink, recovers the file-source offset log (so
    * already-processed source files are not re-served), reloads the
    * RocksDB state from the checkpoint, picks up the slice that
    * arrived during the outage, and finishes the feed. The file
    * sink's `_spark_metadata` commit log spans both query instances,
    * so the committed output is exactly-once across the restart —
    * pinned by the st12 oracle hash (any re-emission would duplicate
    * rows) and StreamingSpec's restart cases.
    */
  private[graft] def runFileStreamRestart(s: SparkSession, input: DataFrame,
      transform: DataFrame => DataFrame, laterBatches: Seq[DataFrame],
      restartAfter: Int): DataFrame =
    withStreamRun(s) { (srcDir, outDir, cpDir, delete) =>
      input.write.mode("overwrite").parquet(srcDir)
      def start() = {
        val out = transform(s.readStream.schema(input.schema).parquet(srcDir))
        (out.schema, out.writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Append).start())
      }
      val (before, after) = laterBatches.splitAt(restartAfter)
      // One partition scope across BOTH query instances: the restart
      // recovers the checkpoint, whose state partition count is
      // pinned by query 1.
      val outSchema = withStatePartitions(s, srcDir, 1 + laterBatches.size,
          StateAdvisoryBytes) {
        val (outSchema, q1) = start()
        try {
          q1.processAllAvailable()
          before.foreach { b =>
            landSlice(b, srcDir)
            q1.processAllAvailable()
          }
        } finally stopAndUnload(q1)
        // the pipeline is DOWN; the backfill keeps arriving anyway
        after.headOption.foreach(landSlice(_, srcDir))
        val (_, q2) = start()
        try {
          q2.processAllAvailable()
          after.drop(1).foreach { b =>
            landSlice(b, srcDir)
            q2.processAllAvailable()
          }
        } finally stopAndUnload(q2)
        outSchema
      }
      delete(srcDir); delete(cpDir)
      s.read.schema(outSchema).parquet(outDir)
    }

  private def eventCols(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** Streaming retention cells ([[StreamOps.retentionCells]]) run for
    * real: the `events` table as ≥2 event-time-ordered micro-batches
    * through the RetentionProcessor's per-user (cohort, seen-mask)
    * ValueState, so the state provably MERGES across batches under the
    * oracle gate (before r14 this pair ran single-batch — the one
    * machinery whose cross-batch path the gate never executed).
    * Output is one (user_id, cohort_day, age_days) cell per first
    * sighting inside the horizon. Slice-invariance: the processor
    * folds each batch in ts order and the slices arrive in event-time
    * order, so the global fold order is the same in-ts-order fold for
    * ANY slice count — the cohort is seeded by the globally earliest
    * event, each (user, day) emits exactly once at its first sighting,
    * and the emitted set equals the distinct (user, day) relation the
    * oracle derives (same argument as st03's, specialized to
    * first-sighting state). StreamingSpec pins the cross-batch
    * state-row counts and n=1 ≡ n=3 batching-invariance.
    */
  def st01_retention_stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slices = timeSlices(s, eventCols(s, dir), minSlices = 2)
    runFileStream(s, slices.head,
      df => StreamOps.retentionCells(df.as[Ev]).toDF(),
      laterBatches = slices.tail)
  }

  /** Streaming LSH bucket-novelty gate ([[StreamOps.bucketNovelty]])
    * run for real: the `documents` minhash band relation
    * ([[DedupQueries.minhashBands]]) as ≥2 doc_id-ordered micro-batches
    * through the BucketNoveltyProcessor's per-(band, bkey) owner
    * ValueState — the bucket-index state provably persists and gates
    * ACROSS batches under the oracle gate (single-batch before r14).
    * There is no event time here; the stream order of a document feed
    * is its ingest order, which the synthetic corpus encodes as
    * doc_id, so the slices partition the doc_id range in order.
    * Slice-invariance: an unclaimed bucket is claimed by the batch's
    * minimum doc_id, and every later batch only carries LARGER
    * doc_ids, so the claimant is the bucket's GLOBAL minimum for any
    * slice count and `first_seen` = (doc_id = that minimum) — exactly
    * the oracle's grouped-min derivation over the same band CTE as
    * d03/d13. StreamingSpec pins cross-batch claim counts.
    */
  def st02_novelty_stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = DedupQueries.minhashBands(s, dir)
      .select("doc_id", "band", "bkey")
    val slices = orderedSlices(s, bands, col("doc_id"), minSlices = 2)
    runFileStream(s, slices.head,
      df => StreamOps.bucketNovelty(df.as[BandRow]).toDF(),
      laterBatches = slices.tail)
  }

  /** Rows per micro-batch slice under `graft.stream.slices=auto` —
    * sized so one slice's stateful working set (slice + watermark
    * horizon rows) stays a small multiple of a shuffle partition's
    * budget, and scaled by available parallelism: per-batch FIXED
    * cost (source scan, state-store commit wave, sink commit) is
    * paid per slice regardless of width, so more cores want wider
    * slices. 31250·cores with a 250k floor fits both measured
    * optima of the st03 U-curve (sf1 local[4]: 250k/batch best of
    * {1M,500k,250k,125k,62k}; sf10 local[32]: 1M/batch best of
    * {2M,1M,500k,250k} — BENCH_NOTES r13). Same self-sizing posture
    * as d16's `shards=auto`.
    */
  private def rowsPerBatch(s: SparkSession): Long =
    math.max(250000L, 31250L * s.sparkContext.defaultParallelism)

  private def sliceCount(s: SparkSession, totalRows: Long): Int = {
    val conf = s.conf.getOption("graft.stream.slices")
      .orElse(sys.env.get("GRAFT_STREAM_SLICES")).getOrElse("auto")
    if (conf == "auto")
      math.max(1L, (totalRows + rowsPerBatch(s) - 1) /
        rowsPerBatch(s)).toInt
    else conf.toInt
  }

  /** Equal-width slices of `df` along a monotone LONG ordering column,
    * arriving in order — the generic backfill feed shape: slice k's
    * rows all order strictly after slices < k, so any state machinery
    * whose semantics are prefix-monotone in that order (watermarks in
    * event time, first-sighting in arrival order) sees exactly the
    * prefix it would see on a live stream. `minSlices` lets a caller
    * force multi-batch even when the auto sizing would take one batch
    * (the transformWithState entries st01/st02 exist to exercise
    * cross-batch state merge). Costs one 1-row driver scalar (range +
    * count) for the data-defined widths.
    */
  private def orderedSlices(s: SparkSession, df: DataFrame,
      ord: org.apache.spark.sql.Column, minSlices: Int = 1): Seq[DataFrame] = {
    import s.implicits._
    val (mn, mx, total) = df.agg(min(ord), max(ord), count(lit(1)))
      .as[(Long, Long, Long)].head()
    val n = math.max(minSlices, sliceCount(s, total))
    if (n <= 1) Seq(df)
    else {
      val w = math.max(1L, (mx - mn) / n + 1)
      (0 until n).map { i =>
        val lo = mn + i * w
        if (i == n - 1) df.where(ord >= lo)
        else df.where(ord >= lo && ord < lo + w)
      }
    }
  }

  /** Event-time instance of [[orderedSlices]] — the backfill feed
    * every watermark-driven st entry uses (st03/st04/st05/st06/st08):
    * slices partition event time and arrive in order, so every row in
    * slice k has ts above the watermark left by slices < k (prior
    * max − delay < slice k's lower bound), hence no row is ever late,
    * and the watermark advances BETWEEN batches, evicting/emitting
    * state as it would on a live stream.
    */
  private def timeSlices(s: SparkSession, evs: DataFrame,
                         minSlices: Int = 1): Seq[DataFrame] =
    orderedSlices(s, evs, unix_millis(col("ts")), minSlices)

  /** The stream–stream INTERVAL self-join ([[StreamOps.errorFollowJoin]])
    * run for real — the third streaming state machinery in the
    * registry after transformWithState (st01/st02): a symmetric JOIN
    * state store holding both sides' rows inside the watermark+bound
    * horizon.
    *
    * The feed is TIME-ORDERED micro-batch slices (equal-width
    * event-time bins, `graft.stream.slices`, default `auto` ≈ one
    * slice per 250k rows — a 100k-row sf0.1 run stays single-batch,
    * sf10's 10M rows become 40), which is what bounds the state store
    * at scale: after each slice the watermark advances to that
    * slice's max(ts) − delay, evicting both sides' buffered rows
    * older than the join horizon, so live state is ≈ one slice plus
    * the watermark+bound window per side instead of the whole stream
    * (the r12 single-batch form buffered EVERY row — measured
    * superlinear, 5.0s at sf0.1 → 78.8s at sf1). The slicing cannot
    * change the answer: slices partition event time and arrive in
    * order, so every row in slice k has ts above the watermark
    * (prior slices' max − delay < slice k's lower bound — no late
    * drops ever), inner stream–stream joins emit eagerly, and a row
    * is evicted only when the watermark proves no future row can
    * match it — hence the emitted pair set is exactly the batch
    * relation (q29's un-aggregated form) for ANY slice count, and
    * hash-checks against the plain SQL join.
    */
  def st03_error_follow_stream(s: SparkSession, dir: String): DataFrame = {
    val slices = timeSlices(s, eventCols(s, dir))
    runFileStream(s, slices.head, StreamOps.errorFollowJoin(_),
      laterBatches = slices.tail, advisoryBytes = JoinStateAdvisoryBytes)
  }

  /** Streaming windowed aggregation in APPEND mode — the fourth
    * streaming state machinery under the oracle gate (after
    * transformWithState st01/st02, the symmetric join store st03, and
    * the dedup store st04): [[StreamOps.windowedCounts]]' per-window
    * partial aggregates live in the streaming-aggregation state store,
    * merge across the sliced feed's micro-batches, and each window is
    * EMITTED exactly once, when the advancing watermark passes its
    * end. Spark emits a window iff `window_end <= watermark`
    * (boundary pinned by StreamingSpec's "finalizes a window" case:
    * the window whose end EQUALS the watermark is in the output), and
    * the final watermark is data-defined (global max(ts) − 10 min —
    * the in-order slices put the global max in the last slice), so
    * the emitted set is closed-form: q23's relation restricted to
    * windows whose end clears the final watermark. Slice-count
    * invariance: a window can only receive rows while open (a later
    * row above the watermark that closed it would have to predate
    * it), so every emitted window carries its FULL aggregate for any
    * slicing — pinned n=4 ≡ n=1 ≡ the filtered batch relation by
    * StreamingSpec.
    */
  def st05_windowed_stream(s: SparkSession, dir: String): DataFrame = {
    val slices = timeSlices(s, eventCols(s, dir))
    runFileStream(s, slices.head, StreamOps.windowedCounts(_),
      laterBatches = slices.tail)
  }

  /** Streaming gap-based SESSION windows in append mode — the
    * session-MERGING state store ([[StreamOps.sessions]]), the fifth
    * distinct streaming machinery in the registry: per-(user, session)
    * state rows merge when a new event bridges two open sessions, and
    * a session is emitted once the watermark passes its end
    * (`session_end <= watermark`, same boundary rule as st05's
    * windows — pinned by a StreamingSpec boundary case). Eviction is
    * exact, not approximate: once wm ≥ session_end, any future row
    * has ts > wm ≥ session_end = last_ts + gap, i.e. the gap is
    * already exceeded and the row starts a NEW session — an emitted
    * session can never need retraction. Final watermark is
    * data-defined (max(ts) − 10 min), so the output is q24's session
    * relation restricted to sessions that closed under it.
    */
  def st06_sessions_stream(s: SparkSession, dir: String): DataFrame = {
    val slices = timeSlices(s, eventCols(s, dir))
    runFileStream(s, slices.head, StreamOps.sessions(_),
      laterBatches = slices.tail)
  }

  /** LEFT-OUTER stream–stream interval join
    * ([[StreamOps.errorFollowJoinOuter]]) — the sixth streaming state
    * machinery under the gate, and the only one whose OUTPUT is
    * eviction-driven: matched pairs emit eagerly (st03's path), but an
    * unmatched error emits its null-padded row only when the joint
    * watermark proves no future follow can land in its window. The
    * emitted set is closed-form on the sliced in-order feed: st03's
    * pair relation UNION the never-matched errors whose window end is
    * STRICTLY below the final joint watermark (min of both sides'
    * maxima − delay = max error ts − 10 min; the strict `<` boundary
    * — an error held at wm == window end — is pinned by
    * StreamingSpec). Unmatched errors the final watermark hasn't
    * cleared stay in state and are correctly ABSENT: on a live stream
    * they'd emit when the watermark catches up; a backfill's answer
    * honestly reflects the watermark it reached.
    */
  def st08_error_follow_outer(s: SparkSession, dir: String): DataFrame = {
    val slices = timeSlices(s, eventCols(s, dir))
    runFileStream(s, slices.head, StreamOps.errorFollowJoinOuter(_),
      laterBatches = slices.tail, advisoryBytes = JoinStateAdvisoryBytes)
  }

  /** The streaming FUNNEL state machine under the oracle gate — the
    * last [[StreamOps]] processor that was spec-pinned only
    * ([[StreamOps.funnelStages]]): per-user strictly-increasing
    * (view, click, purchase) chains advanced by a greedy in-ts-order
    * fold, run as ≥2 event-time-ordered micro-batches through the
    * FunnelProcessor's ValueState (Append form —
    * [[StreamOps.funnelSnapshots]]), then reduced to the final
    * per-user snapshot (max stage; a stage's timestamps are fixed at
    * its transition, so the snapshot per (user, stage) is unique).
    * In-order slices make the global fold the in-ts-order fold, and
    * the greedy first-qualifying chain over in-order events IS the
    * batch min-chain (a click can only beat the recorded t_click by
    * arriving before it — the StreamingSpec argument, now
    * slice-extended), so the result equals the relational derivation:
    * t_view = min view ts, t_click = min click ts > t_view,
    * t_purchase = min purchase ts > t_click, stage = chain length —
    * all integer epoch-ms (0 sentinels), hence hash-exact. Same-ts
    * boundary: transitions require STRICTLY increasing ts, so a
    * click sharing its ts with the view it would chain from never
    * fires in either engine, making equal-ts fold order irrelevant.
    */
  def st09_funnel_stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slices = timeSlices(s, eventCols(s, dir), minSlices = 2)
    val snaps = runFileStream(s, slices.head,
      df => StreamOps.funnelSnapshots(df.as[Ev]).toDF(),
      laterBatches = slices.tail)
    snaps.groupBy(col("user_id"))
      .agg(max(struct(col("stage"), col("t_view"), col("t_click"),
        col("t_purchase"))).as("m"))
      .select(col("user_id"), col("m.stage").as("stage"),
        col("m.t_view").as("t_view"), col("m.t_click").as("t_click"),
        col("m.t_purchase").as("t_purchase"))
  }

  /** Per-user running stats via `flatMapGroupsWithState` under the
    * oracle gate — the last stateful API that was spec-pinned only
    * (mapGroupsWithState/[[StreamOps.userRunningStats]] is its
    * Update-mode twin, which the file sink cannot host):
    * [[StreamOps.userRunningCents]] folds each user's events into
    * (count, int64 cents) GroupState across ≥2 event-time-ordered
    * micro-batches, appending one snapshot per touched batch; the
    * final row per user is the max-count snapshot (counts strictly
    * increase per touching batch — the st09 reduce, exact). Additive
    * integer state ⇒ slice-invariant for any slicing and
    * deterministic at any parallelism, so the output hash-checks
    * against the plain grouped SQL.
    */
  def st10_running_stats_stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slices = timeSlices(s, eventCols(s, dir), minSlices = 2)
    val snaps = runFileStream(s, slices.head,
      df => StreamOps.userRunningCents(df.as[Ev]).toDF(),
      laterBatches = slices.tail)
    snaps.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_cents"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.total_cents").as("total_cents"))
  }

  /** `foreachBatch` + UPDATE-mode `mapGroupsWithState` under the
    * oracle gate — the one stateful API pair that was spec-pinned
    * only, because the append-only file sink cannot host Update mode:
    * [[StreamOps.userRunningCentsUpdate]] folds each user's events
    * into (count, int64 cents) GroupState across ≥2 event-time-ordered
    * micro-batches, and each batch's UPDATED rows land through the
    * production sink for this mode — a `foreachBatch` writer making
    * idempotent per-batch parquet snapshots
    * ([[runForeachBatchStream]]). The final row per user is the
    * max-count snapshot (counts strictly increase per touching batch —
    * the st09/st10 reduce, exact); additive integer state makes the
    * result slice-invariant and deterministic at any parallelism, so
    * it hash-checks against the plain grouped SQL (st10's oracle —
    * same state machine, the API + sink differ, which is the point).
    */
  def st11_running_stats_update(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slices = timeSlices(s, eventCols(s, dir), minSlices = 2)
    val snaps = runForeachBatchStream(s, slices.head,
      df => StreamOps.userRunningCentsUpdate(df.as[Ev]).toDF(),
      laterBatches = slices.tail)
    snaps.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_cents"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.total_cents").as("total_cents"))
  }

  /** Checkpoint KILL-AND-RESTART under the oracle gate
    * ([[runFileStreamRestart]]): st05's windowed aggregation — the
    * streaming-agg state store plus the exactly-once file sink, the
    * production backfill shape — is stopped after its first
    * later-batch, loses a backfill slice to the outage window (it
    * lands while the pipeline is down), and resumes from the
    * checkpoint to finish the feed. Exactly-once across the restart
    * is the CHECKED fact, not an assertion: the source offset log
    * must not re-serve processed files and the sink commit log must
    * not re-commit batch 0's windows — either failure duplicates or
    * drops rows and breaks the hash against st05's closed-form oracle
    * (identical SQL; the restart must be invisible in the relation).
    */
  def st12_restart_stream(s: SparkSession, dir: String): DataFrame = {
    val slices = timeSlices(s, eventCols(s, dir), minSlices = 4)
    runFileStreamRestart(s, slices.head, StreamOps.windowedCounts(_),
      laterBatches = slices.tail, restartAfter = 1)
  }

  /** Stream–STATIC broadcast-enrichment join — the one streaming join
    * shape the matrix still lacked after st03's stream–stream store,
    * and deliberately the STATELESS one: each micro-batch plans a
    * fresh broadcast hash join against the batch `customer` dim (the
    * static side is re-resolved per batch — on a live pipeline that
    * is what picks up dim-table updates between batches), no
    * watermark, no state store, nothing retained across batches. This
    * is the production enrichment hop in front of every stateful
    * operator here: at 100 TB/day the event stream never shuffles —
    * the dim broadcasts to wherever the source partitions already
    * are. Output = the plain inner join, so the oracle is the
    * two-table SQL.
    *
    * The feed is TWO event-time halves, not the stateful entries'
    * auto slices: slicing exists to advance the watermark and evict
    * state between batches, and a stateless join has no state to
    * evict — an n-slice backfill would just pay the per-batch fixed
    * cost (source scan + fresh broadcast + sink commit) n times for
    * an identical answer (measured: 75s at sf10 on 40 auto slices vs
    * ~8s/batch). Two batches keep the one thing multi-batch execution
    * DOES exercise here — the static side re-resolving per batch, the
    * dim-update pickup on a live stream — at the minimum cost.
    */
  def st07_enrich_stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.broadcast
    val dim = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val evs = eventCols(s, dir)
    val (mn, mx) = evs
      .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .as[(Long, Long)].head()
    val t0 = (mn + mx) / 2
    val ms = unix_millis(col("ts"))
    runFileStream(s, evs.where(ms < t0),
      df => df.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_mktsegment"), col("value")),
      laterBatches = Seq(evs.where(ms >= t0)))
  }

  /** Build-if-cold the APPEND-ONLY versioned ingest table st13
    * streams: orders in three key-sliced commits — v0 `init`, v1/v3
    * [[graft.sources.VersionedTable.commitAppend]] (the ingest verb:
    * new files land, NOTHING is retired) — with an OPTIMIZE at v2
    * between the appends, whose `dataChange=false` files the stream
    * must NOT re-serve. */
  private def ingestOrders(s: SparkSession, dir: String): String =
    SharedRelations.memo(s, dir, "vt_ingest") {
      val root = graft.sources.Layouts.path(s, dir, "vt_ingest")
      val snap = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("o_month"))
      val m = pmod(col("o_orderkey"), lit(3L))
      graft.sources.VersionedTable.init(s, root, snap.filter(m === 0),
        "o_month")
      graft.sources.VersionedTable.commitAppend(s, root, Seq("o_month"),
        snap.filter(m === 1))
      graft.sources.VersionedTable.commitOptimize(s, root, "o_month",
        128L * 1024 * 1024)
      graft.sources.VersionedTable.commitAppend(s, root, Seq("o_month"),
        snap.filter(m === 2))
      root
    }

  /** STREAMING read of the VERSIONED TABLE — the commit log consumed
    * as the stream ([[graft.sources.VersionedStreamSource]], Delta's
    * streaming source shape, registered as `graft-versioned`):
    * offsets are version numbers, each micro-batch reads exactly the
    * files its commit range ADDED (metadata diff + the new data,
    * never the table), and the v2 OPTIMIZE between the appends is
    * skipped via its `dataChange=false` flag — its compacted files
    * hold EVERY row again, so a re-serve would double the count and
    * break the hash: the oracle gate checks the no-duplicate
    * property, not a spec assertion. The sink is the production
    * parquet file sink with its `_spark_metadata` exactly-once log;
    * VersionedStreamSpec pins restart-resume, startingVersion,
    * admission control, and the change-commit refusal. At 100 TB
    * this is the table-format-to-stream bridge: ingest lands as
    * append commits, downstream consumers ride the log without ever
    * re-scanning the corpus.
    */
  def st13_versioned_stream(s: SparkSession, dir: String): DataFrame = {
    val table = ingestOrders(s, dir)
    withStreamRun(s) { (_, outDir, cpDir, delete) =>
      val src = s.readStream.format("graft-versioned")
        .option("path", table).load()
      val outSchema = src.schema
      val q = src.writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", cpDir)
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally stopAndUnload(q)
      delete(cpDir)
      s.read.schema(outSchema).parquet(outDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_month").cast("long").as("o_month"))
    }
  }

  /** The CHANGE DATA FEED as a STREAM — `readChangeFeed=true` on the
    * versioned source: each micro-batch carries its commit range's
    * row-level change events (payload + change_type +
    * change_version, [[graft.sources.VersionedTable.changeFeed]]'s
    * relation served incrementally), which makes UPDATE/DELETE
    * commits streamable — the append-only st13 must refuse them.
    * The table is q57's (v0 init, v1 merge, v2 OPTIMIZE, v3 merge):
    * the stream serves v0's snapshot as `insert` events, both
    * merges' event sets tagged with their versions, and nothing for
    * the optimize — the oracle re-derives every event in closed
    * form, so the hash pins the per-commit manifest-diff
    * classification end to end through a real streaming query. This
    * is the live input of an incrementally-maintained view (q65's
    * batch fold, streaming); at 100 TB each batch's I/O is its
    * commits' rewritten slices, never the table.
    */
  def st14_cdf_stream(s: SparkSession, dir: String): DataFrame = {
    val table = graft.queries.CoreQueries.versionedOrders(s, dir)
    withStreamRun(s) { (_, outDir, cpDir, delete) =>
      val src = s.readStream.format("graft-versioned")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("key", "o_orderkey").load()
      val outSchema = src.schema
      // Stateless pipe, but each micro-batch plans the CDF diff JOIN
      // of its commit's before/after slices — size those exchanges to
      // the table, not the core count (same §2 rule as the runners).
      withStatePartitions(s, table, 1, StateAdvisoryBytes) {
        val q = src.writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Append).start()
        try q.processAllAvailable() finally stopAndUnload(q)
      }
      delete(cpDir)
      s.read.schema(outSchema).parquet(outDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"), col("o_month").cast("long").as("o_month"),
          col("change_type"), col("change_version"))
    }
  }

  /** Watermark delay (ms) of [[st04_late_data]] — interpolated into
    * the oracle so the two sides can't silently desync.
    */
  private[queries] val St04DelayMs = 600000L

  /** Watermark semantics under the oracle gate — the behaviors that
    * distinguish streaming from batch, which the in-order sliced
    * feeds (st01–st03 — never late by construction) never exercise:
    * TWO micro-batches of
    * [[StreamOps.dedupWithinWatermark]], where batch 0 is the LATER
    * half of the event-time range (everything at/after the range
    * midpoint) and batch 1 the earlier half. Batch 0 advances the
    * watermark to max(ts) − 10 min, so almost every batch-1 row
    * arrives behind the watermark and is DROPPED late (and batch 0's
    * own dedup state older than the watermark is evicted — asserted
    * by the spec on the state-store row count). Every boundary is
    * data-defined (range midpoint, range max), so the admitted set is
    * deterministic and closed-form: rows with ts ≥ midpoint plus
    * early rows strictly inside the final watermark. Spark DROPS a
    * late row at EXACTLY the watermark (keep iff ts > wm — pinned by
    * the StreamingSpec boundary case), hence the strict `>` in the
    * oracle.
    */
  def st04_late_data(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = eventCols(s, dir)
    // 1-row driver scalar: the data-defined split point (epoch-ms
    // midpoint of the event-time range; floor division — both bounds
    // are non-negative epochs, matching the oracle's `//`).
    val (mn, mx) = evs
      .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .as[(Long, Long)].head()
    val t0 = (mn + mx) / 2
    runFileStream(s,
      evs.where(unix_millis(col("ts")) >= t0),
      df => StreamOps.dedupWithinWatermark(df, "10 minutes"),
      laterBatches = Seq(evs.where(unix_millis(col("ts")) < t0)))
  }

  /** st10/st11's shared oracle — the running-cents state machine's
    * closed form (see the map comment at the st10 entry).
    */
  private val RunningCentsSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM events GROUP BY user_id""".stripMargin

  /** st05/st12's shared oracle — windowed aggregation restricted to
    * windows closed under the final watermark (see the map comment).
    */
  private val WindowedStreamSql: String =
    """WITH wm AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events)
      |SELECT * FROM (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts,
      |      TIMESTAMP '1970-01-01 00:00:00') AS window_start,
      |    event_type, COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1, 2)
      |WHERE window_start + INTERVAL '5 minutes' <= (SELECT w FROM wm)""".stripMargin

  val oracle: Map[String, String] = Map(
    "st03_error_follow_stream" ->
      """SELECT r.event_id AS err_id, e.event_id AS follow_id,
        |  e.user_id, e.ts, e.value
        |FROM events r JOIN events e
        |  ON r.event_type = 'error' AND e.user_id = r.user_id
        |  AND e.ts > r.ts AND e.ts <= r.ts + INTERVAL '10 minutes'""".stripMargin,
    "st01_retention_stream" ->
      s"""WITH act AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1)
        |SELECT act.user_id, f.cohort_day, act.day - f.cohort_day AS age_days
        |FROM act JOIN f USING (user_id)
        |WHERE act.day - f.cohort_day < ${StreamOps.RetentionHorizonDays}""".stripMargin,
    "st02_novelty_stream" -> (DedupQueries.BandsCte + """
        |SELECT b.doc_id, b.band, b.bkey, b.doc_id = m.mn AS first_seen
        |FROM bands b JOIN (SELECT band, bkey, MIN(doc_id) AS mn
        |  FROM bands GROUP BY 1, 2) m
        |  ON b.band = m.band AND b.bkey = m.bkey""".stripMargin),
    "st07_enrich_stream" ->
      """SELECT event_id, user_id, event_type, c_mktsegment, value
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin,
    // per-row FLOOR(value·100) is the same IEEE multiply+floor in
    // both engines; int64 sums are associative — exact at any order.
    // st11 shares st10's oracle VERBATIM: same state machine, run
    // through the other stateful API (Update-mode mapGroupsWithState)
    // and the other sink (foreachBatch snapshots) — the pair's whole
    // point is that the relation cannot tell them apart.
    "st10_running_stats_stream" -> RunningCentsSql,
    "st11_running_stats_update" -> RunningCentsSql,
    // the greedy in-order funnel chain ≡ the relational min-chain
    // (strictly-increasing transitions); epoch-ms with 0 sentinels
    "st09_funnel_stream" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS tv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS tc FROM events e
        |  JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS tp FROM events e
        |  JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN tp IS NOT NULL THEN 3 WHEN tc IS NOT NULL THEN 2
        |       WHEN tv IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  COALESCE(epoch_ms(tv), 0) AS t_view,
        |  COALESCE(epoch_ms(tc), 0) AS t_click,
        |  COALESCE(epoch_ms(tp), 0) AS t_purchase
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)""".stripMargin,
    // pairs ∪ evicted-unmatched: the strict `<` is the pinned
    // eviction boundary (StreamingSpec); wm = max ERROR ts − delay
    // (the joint watermark is the min of both sides' maxima, and the
    // error side's is the smaller).
    "st08_error_follow_outer" ->
      """WITH w AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS wm
        |  FROM events WHERE event_type = 'error')
        |SELECT r.event_id AS err_id, r.user_id AS err_user, r.ts AS err_ts,
        |  e.event_id AS follow_id, e.ts, e.value
        |FROM events r JOIN events e
        |  ON r.event_type = 'error' AND e.user_id = r.user_id
        |  AND e.ts > r.ts AND e.ts <= r.ts + INTERVAL '10 minutes'
        |UNION ALL
        |SELECT r.event_id, r.user_id, r.ts,
        |  CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
        |FROM events r
        |WHERE r.event_type = 'error'
        |  AND r.ts + INTERVAL '10 minutes' < (SELECT wm FROM w)
        |  AND NOT EXISTS (SELECT 1 FROM events e
        |    WHERE e.user_id = r.user_id AND e.ts > r.ts
        |      AND e.ts <= r.ts + INTERVAL '10 minutes')""".stripMargin,
    "st04_late_data" ->
      s"""SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value
        |FROM events e, (SELECT (epoch_ms(MIN(ts)) + epoch_ms(MAX(ts))) // 2 AS t0,
        |    epoch_ms(MAX(ts)) - $St04DelayMs AS wmk FROM events) b
        |WHERE epoch_ms(e.ts) >= b.t0 OR epoch_ms(e.ts) > b.wmk""".stripMargin,
    // st05/st06: the q23/q24 relations restricted to windows/sessions
    // CLOSED under the final data-defined watermark (max ts − 10 min).
    // `<=` is the pinned Spark emission boundary (StreamingSpec).
    // st12 shares st05's oracle VERBATIM: same transform, same feed —
    // the kill-and-restart must be invisible in the relation.
    "st05_windowed_stream" -> WindowedStreamSql,
    "st12_restart_stream" -> WindowedStreamSql,
    // st13 streams the whole versioned ingest table (3 append commits
    // = all of orders; the optimize contributes nothing) — the oracle
    // is the plain projection, and any double-served or dropped
    // commit breaks rows + hash.
    "st13_versioned_stream" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |    AS o_month
        |FROM orders""".stripMargin,
    // st14's events in closed form: v0's snapshot as inserts, v1's
    // four event classes (q57's batch 1: keys ≡1 mod 10 updated
    // +1000, ≡2 deleted, ≡3 inserted negated at half price), nothing
    // for the v2 optimize, v3's three classes (batch 2: ≡4 updated
    // +500 on the v1 state — untouched by batch 1, so the pre-image
    // is the original — and ≡5 deleted).
    "st14_cdf_stream" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    o_orderpriority,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS o_month
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
        |  o_month, 'insert' AS change_type,
        |  CAST(0 AS BIGINT) AS change_version
        |FROM snap
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
        |  o_month, 'update_preimage', 1
        |FROM snap WHERE o_orderkey % 10 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 1000.0,
        |  o_orderpriority, o_month, 'update_postimage', 1
        |FROM snap WHERE o_orderkey % 10 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
        |  o_month, 'delete', 1
        |FROM snap WHERE o_orderkey % 10 = 2
        |UNION ALL
        |SELECT -o_orderkey, o_custkey, o_totalprice * 0.5, '5-LOW',
        |  o_month, 'insert', 1
        |FROM snap WHERE o_orderkey % 10 = 3
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
        |  o_month, 'update_preimage', 3
        |FROM snap WHERE o_orderkey % 10 = 4
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 500.0,
        |  o_orderpriority, o_month, 'update_postimage', 3
        |FROM snap WHERE o_orderkey % 10 = 4
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
        |  o_month, 'delete', 3
        |FROM snap WHERE o_orderkey % 10 = 5""".stripMargin,
    "st06_sessions_stream" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |         >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sid AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS s
        |  FROM flagged)
        |SELECT * FROM (
        |  SELECT user_id, MIN(ts) AS session_start,
        |    MAX(ts) + INTERVAL '5 minutes' AS session_end,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |  FROM sid GROUP BY user_id, s)
        |WHERE session_end <= (SELECT MAX(ts) - INTERVAL '10 minutes'
        |                      FROM events)""".stripMargin,
    "q23_event_windows" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts,
        |    TIMESTAMP '1970-01-01 00:00:00') AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q24_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |         >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sid AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS s
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '5 minutes' AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM sid GROUP BY user_id, s""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_event_windows" -> (q23_event_windows _),
    "q24_sessions" -> (q24_sessions _),
    "st01_retention_stream" -> (st01_retention_stream _),
    "st02_novelty_stream" -> (st02_novelty_stream _),
    "st03_error_follow_stream" -> (st03_error_follow_stream _),
    "st04_late_data" -> (st04_late_data _),
    "st05_windowed_stream" -> (st05_windowed_stream _),
    "st06_sessions_stream" -> (st06_sessions_stream _),
    "st07_enrich_stream" -> (st07_enrich_stream _),
    "st08_error_follow_outer" -> (st08_error_follow_outer _),
    "st09_funnel_stream" -> (st09_funnel_stream _),
    "st10_running_stats_stream" -> (st10_running_stats_stream _),
    "st11_running_stats_update" -> (st11_running_stats_update _),
    "st12_restart_stream" -> (st12_restart_stream _),
    "st13_versioned_stream" -> (st13_versioned_stream _),
    "st14_cdf_stream" -> (st14_cdf_stream _),
  )
}
