package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Event record of the `events` table (TESTDATA.md), the engine's
  * streaming subject. The reference is batch-only (SURVEY.md §2
  * "streaming: none"), so this module is pure north-star surface:
  * the operations a training-data ingest pipeline runs continuously —
  * windowed rollups, exactly-once dedup, sessionization, custom
  * per-key state.
  */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double)

/** Running per-user aggregate emitted by [[StreamOps.userRunningStats]]. */
final case class UserStat(user_id: Long, n_events: Long, total_value: Double)

/** Integer-exact running aggregate emitted by
  * [[StreamOps.userRunningCents]] (value folded as int64 cents).
  */
final case class UserCents(user_id: Long, n_events: Long, total_cents: Long)

/** Structured-Streaming operators. Every transform here takes a plain
  * DataFrame/Dataset and works identically on a batch frame (where the
  * watermark node is a no-op and `session_window` is an ordinary
  * aggregation) and a `readStream` frame (where the same plan runs
  * incrementally with state in the state store). That symmetry is the
  * design point: the batch twins in
  * [[graft.queries.StreamQueries]] are DuckDB-oracle-checked, and the
  * streaming path is pinned to them by the MemoryStream specs.
  *
  * Scale notes: all state is keyed (window/event_id/user_id), so it
  * shards across executors with the shuffle; watermarks bound state
  * size — nothing here grows with total stream length.
  */
object StreamOps {

  /** Tumbling event-time window rollup per event_type with a
    * `wm` watermark: counts + exact decimal value sum. Append-mode
    * emits each window once its end passes the watermark.
    */
  def windowedCounts(events: DataFrame, wm: String = "10 minutes",
                     win: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", wm)
      .groupBy(window(col("ts"), win).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup on event_id, with state bounded by the
    * watermark horizon (late duplicates beyond `wm` age out of the
    * state store instead of accumulating forever — the property that
    * makes exact dedup viable on an unbounded stream).
    * Streaming-only: batch callers just use `dropDuplicates`.
    */
  def dedupWithinWatermark(events: DataFrame, wm: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", wm)
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap-based sessionization: consecutive events of a user belong to
    * one session while the gap between them is < `gap`; the session
    * spans [first_ts, last_ts + gap). Same `session_window` call on a
    * batch frame gives the oracle-checkable twin
    * (q24_sessions).
    */
  def sessions(events: DataFrame, gap: String = "5 minutes",
               wm: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", wm)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))

  /** Stream–stream INTERVAL join — the incremental form of q29's
    * error-follow range join: every error event paired with the same
    * user's events in `(err_ts, err_ts + bound]`. Both sides carry
    * watermarks and the join condition bounds event time in both
    * directions, so the state store holds only rows still able to
    * match (≈ wm + bound per side, keyed by user — nothing grows with
    * stream length). On a batch frame the watermark nodes are no-ops
    * and this is exactly the q29 pair relation before its aggregation,
    * which is how the spec pins stream/batch agreement.
    */
  def errorFollowJoin(events: DataFrame, wm: String = "10 minutes",
                      bound: String = "10 minutes"): DataFrame = {
    val errs = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", wm)
    val evs = events
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", wm)
    errs.join(evs,
      col("err_user") === col("user_id") &&
        col("ts") > col("err_ts") &&
        col("ts") <= col("err_ts") + expr(s"INTERVAL $bound"))
      .select(col("err_id"), col("event_id").as("follow_id"),
        col("user_id"), col("ts"), col("value"))
  }

  /** LEFT-OUTER form of [[errorFollowJoin]] — the expiry-driven
    * emission semantics the inner join never exercises: matched pairs
    * emit eagerly like the inner join, but an error with NO follow in
    * its window emits a null-padded row only when the advancing
    * watermark EVICTS it — i.e. when the joint watermark proves no
    * future right row can land in `(err_ts, err_ts + bound]`. At
    * stream end, unmatched errors whose window the final watermark
    * has not yet closed remain in state and are never emitted — the
    * closed-form the st08 oracle encodes (boundary pinned by
    * StreamingSpec: an error whose window end EQUALS the final
    * watermark is still held, strict `<` emits). Keeps the error's
    * own columns in the output so unmatched rows stay identifiable.
    */
  def errorFollowJoinOuter(events: DataFrame, wm: String = "10 minutes",
                           bound: String = "10 minutes"): DataFrame = {
    val errs = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", wm)
    val evs = events
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", wm)
    errs.join(evs,
      col("err_user") === col("user_id") &&
        col("ts") > col("err_ts") &&
        col("ts") <= col("err_ts") + expr(s"INTERVAL $bound"),
      "left_outer")
      .select(col("err_id"), col("err_user"), col("err_ts"),
        col("event_id").as("follow_id"), col("ts"), col("value"))
  }

  /** Arbitrary keyed state via `mapGroupsWithState`: running per-user
    * event count + value total, emitted (update mode) once per user per
    * micro-batch. The template for custom state machines the built-in
    * windowed aggregates can't express.
    */
  def userRunningStats(events: Dataset[Ev]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(userId, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          evs.foreach { e => n += 1; total += e.value }
          val cur = UserStat(userId, n, total)
          state.update(cur)
          cur
      }
  }

  /** Per-user running (event count, integer value cents) via
    * `flatMapGroupsWithState` in APPEND mode — the one stateful API
    * ([[userRunningStats]]' mapGroupsWithState is Update-only, which
    * the file sink cannot host) that emits under an append-only sink:
    * each micro-batch appends ONE snapshot row per touched user, and
    * the final total is the max-count snapshot (counts strictly
    * increase per touching batch, so the reduction is exact — the
    * st09 snapshot shape on the flatMap API). Values are folded as
    * `floor(value·100)` INT64 cents: the per-row double multiply and
    * floor are identical IEEE ops in any engine, and int64 addition
    * is associative, so the running total is deterministic at any
    * parallelism and batch split — what makes this machinery
    * oracle-hashable where a raw double accumulation would drift in
    * the last ulp with fold order.
    */
  def userRunningCents(events: Dataset[Ev]): Dataset[UserCents] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserCents, UserCents](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[UserCents]) =>
          val prev = state.getOption.getOrElse(UserCents(userId, 0L, 0L))
          var n = prev.n_events
          var cents = prev.total_cents
          evs.foreach { e =>
            n += 1; cents += math.floor(e.value * 100.0).toLong
          }
          val cur = UserCents(userId, n, cents)
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** [[userRunningCents]]' state machine on the `mapGroupsWithState`
    * API in its native UPDATE mode — the one stateful API the
    * append-only file sink cannot host (every micro-batch REPLACES
    * each touched user's row instead of appending). The production
    * sink for it is `foreachBatch`
    * ([[graft.queries.StreamQueries.st11_running_stats_update]]):
    * each batch's updated rows land as an idempotent per-batch
    * parquet snapshot, and the final state per user is the max-count
    * snapshot — the st09/st10 reduce, exact because counts strictly
    * increase per touching batch. Integer cents keep the running
    * total deterministic at any parallelism/batch split (same
    * rationale as [[userRunningCents]]); [[userRunningStats]] stays
    * the double-accumulating template the MemoryStream spec pins.
    */
  def userRunningCentsUpdate(events: Dataset[Ev]): Dataset[UserCents] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserCents, UserCents](GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[UserCents]) =>
          val prev = state.getOption.getOrElse(UserCents(userId, 0L, 0L))
          var n = prev.n_events
          var cents = prev.total_cents
          evs.foreach { e =>
            n += 1; cents += math.floor(e.value * 100.0).toLong
          }
          val cur = UserCents(userId, n, cents)
          state.update(cur)
          cur
      }
  }

  /** Streaming LSH bucket-novelty gate — the incremental form of
    * d13's incremental near-dup admission
    * ([[graft.queries.DedupQueries.d13_incremental_neardup]]): input is
    * the band relation (doc_id, band, bkey) of a document stream;
    * state is one entry per DISTINCT bucket ever seen (the maintained
    * bucket index d13's batch form joins against — here it lives in
    * the state store, sharded with the shuffle on the bucket key);
    * each row comes back flagged `first_seen` = this row's doc claimed
    * the bucket. Within a micro-batch the LOWEST doc_id claims a new
    * bucket (deterministic regardless of row order); a doc whose every
    * band is first_seen has no collision with anything earlier —
    * downstream admission is a per-doc `min(first_seen)` aggregate,
    * exactly d13's admitted flag against an ever-growing corpus.
    * Continuous semantics (earlier stream docs are "seen") mirror how
    * [[dedupWithinWatermark]] relates to d09's closed-corpus form; the
    * state here deliberately does NOT age out — a bucket index is
    * corpus lifetime state, bounded by distinct buckets (4/doc),
    * not by stream length × horizon.
    */
  def bucketNovelty(bands: Dataset[BandRow]): Dataset[BandHit] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(b => (b.band, b.bkey))
      .transformWithState(new BucketNoveltyProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming funnel — the incremental form of q41's ordered-event
    * funnel ([[graft.queries.CoreQueries.q41_funnel]]): per-user state
    * is the strictly-increasing (t_view, t_click, t_purchase) chain,
    * advanced by a greedy in-ts-order fold over each micro-batch (rows
    * sorted batch-locally; the state store shards with the user_id
    * shuffle). On in-order arrival the greedy first-qualifying
    * transition IS the batch min-chain — a click can only beat the
    * recorded t_click by arriving before it — which the streaming spec
    * pins against [[graft.queries.CoreQueries.funnelOf]] on identical
    * rows. Out-of-order arrival ACROSS batches can miss a retroactive
    * improvement (an earlier view arriving after a click was already
    * chained) — the inherent streaming-CEP trade every funnel engine
    * makes without retraction; bound it operationally by the source
    * watermark. State is 3 timestamps + a stage per user — O(users),
    * not O(events).
    */
  def funnelStages(events: Dataset[Ev]): Dataset[FunnelStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** [[funnelStages]] in APPEND form — the file-sink/backfill shape
    * (Spark's file sink only supports Append): the same
    * [[FunnelProcessor]] state machine, but each micro-batch APPENDS
    * one snapshot row per touched user instead of updating in place.
    * The final chain per user is the max-stage snapshot: stages only
    * advance, and a stage's timestamps are fixed at its transition,
    * so per (user, stage) the snapshot row is unique and the
    * reduction (`max(struct(stage, …))`) is exact — the pattern for
    * putting any Update-mode state machine behind an append-only
    * sink.
    */
  def funnelSnapshots(events: Dataset[Ev]): Dataset[FunnelStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming retention — the incremental form of q44's cohort
    * matrix ([[graft.queries.CoreQueries.q44_retention]]): per-user
    * state is (cohort day, seen-age bitmask), and each first sighting
    * of a (user, day) emits ONE (user, cohort, age) cell — downstream
    * the live matrix is a plain additive aggregation of cells, so
    * "day-N retention right now" is a streaming counter, not a
    * nightly batch scan. The 64-bit mask bounds state at 16 bytes per
    * user with an explicit [[RetentionHorizonDays]] horizon (the
    * standard product-analytics window); a day arriving BEFORE the
    * recorded cohort day is the funnel-style no-retraction trade —
    * bound it by the source watermark. Exactly-once per cell on
    * in-order arrival, pinned against the batch matrix in the
    * streaming spec.
    */
  def retentionCells(events: Dataset[Ev]): Dataset[RetCell] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RetentionProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Ages tracked per user by [[retentionCells]] (bitmask width). */
  val RetentionHorizonDays = 64
}

/** One LSH band row of a streaming document. */
final case class BandRow(doc_id: Long, band: Int, bkey: String)

/** [[BandRow]] + whether this row's doc claimed the bucket. */
final case class BandHit(doc_id: Long, band: Int, bkey: String,
                         first_seen: Boolean)

/** Bucket-ownership state machine for [[StreamOps.bucketNovelty]]: one
  * ValueState[Long] slot per (band, bkey) holding the claiming doc_id.
  * An unclaimed bucket is claimed by the micro-batch's minimum doc_id;
  * every row is emitted with `first_seen` = (bucket was unclaimed ∧
  * this row is the claimant). State is corpus-lifetime by design (a
  * bucket index, not a dedup horizon) — see the bucketNovelty note.
  */
class BucketNoveltyProcessor
    extends StatefulProcessor[(Int, String), BandRow, BandHit] {
  @transient private var owner: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    owner = getHandle.getValueState[Long]("bucketOwner",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: (Int, String), rows: Iterator[BandRow],
                               timerValues: TimerValues): Iterator[BandHit] = {
    val batch = rows.toSeq
    val claimed = owner.exists()
    val claimant = if (claimed) -1L else batch.map(_.doc_id).min
    if (!claimed) owner.update(claimant)
    batch.iterator.map(b =>
      BandHit(b.doc_id, b.band, b.bkey, !claimed && b.doc_id == claimant))
  }
}

/** Per-user funnel progress emitted by [[StreamOps.funnelStages]]:
  * stage ∈ 0..3 (0 = no view yet; 1..3 match q41's batch stages),
  * sentinel 0 timestamps for unreached stages (epoch 0 predates every
  * event — Option fields don't survive the state encoder as cleanly).
  */
final case class FunnelStat(user_id: Long, stage: Long,
                            t_view: Long, t_click: Long, t_purchase: Long)

/** Funnel state machine for [[StreamOps.funnelStages]] — one
  * ValueState[FunnelStat] per user; timestamps held as epoch millis.
  */
class FunnelProcessor extends StatefulProcessor[Long, Ev, FunnelStat] {
  @transient private var state: ValueState[FunnelStat] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[FunnelStat]("funnel",
      Encoders.product[FunnelStat], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
                               timerValues: TimerValues): Iterator[FunnelStat] = {
    var cur = Option(state.get()).getOrElse(FunnelStat(key, 0L, 0L, 0L, 0L))
    rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      e.event_type match {
        case "view" if cur.stage == 0L =>
          cur = cur.copy(stage = 1L, t_view = t)
        case "click" if cur.stage == 1L && t > cur.t_view =>
          cur = cur.copy(stage = 2L, t_click = t)
        case "purchase" if cur.stage == 2L && t > cur.t_click =>
          cur = cur.copy(stage = 3L, t_purchase = t)
        case _ => ()
      }
    }
    state.update(cur)
    Iterator.single(cur)
  }
}

/** One first-sighting retention cell ([[StreamOps.retentionCells]]). */
final case class RetCell(user_id: Long, cohort_day: Long, age_days: Long)

/** Per-user retention state: first-active epoch day + seen-age bits. */
final case class RetState(cohort_day: Long, seenMask: Long)

/** Retention state machine for [[StreamOps.retentionCells]]: epoch day
  * = floor(epoch-millis / 86400000) (UTC sessions ⇒ identical to the
  * batch `unix_date(to_date(ts))`), micro-batch rows folded in ts
  * order so the first batch's earliest day seeds the cohort.
  */
class RetentionProcessor extends StatefulProcessor[Long, Ev, RetCell] {
  @transient private var state: ValueState[RetState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[RetState]("retention",
      Encoders.product[RetState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
                               timerValues: TimerValues): Iterator[RetCell] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RetCell]
    var cur = if (state.exists()) state.get() else null
    rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val day = Math.floorDiv(e.ts.getTime, 86400000L)
      if (cur == null) {
        cur = RetState(day, 1L)
        out += RetCell(key, day, 0L)
      } else {
        val age = day - cur.cohort_day
        if (age >= 0 && age < StreamOps.RetentionHorizonDays &&
            ((cur.seenMask >> age) & 1L) == 0L) {
          cur = cur.copy(seenMask = cur.seenMask | (1L << age))
          out += RetCell(key, cur.cohort_day, age)
        }
      }
    }
    state.update(cur)
    out.iterator
  }
}
