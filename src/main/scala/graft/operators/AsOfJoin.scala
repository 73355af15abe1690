package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the latest right row whose timestamp
  * is ≤ the left row's, per key — the temporal-enrichment primitive
  * (market data, slowly-changing dimensions, "state at event time").
  *
  * Spark lacks a native as-of join; per the preference order this is
  * COMPOSED from existing operators rather than a custom plan: tag the
  * two inputs, union them, and run one RANGE-framed window per key —
  * `last(payload, ignoreNulls)` over `[unbounded preceding, current
  * row]` picks exactly the newest right row at-or-before each left
  * row. One hash exchange on the key, sort within partitions, no
  * per-row probing — the formulation that survives a billion-row left
  * side (contrast a theta-join `l.ts >= r.ts`, which explodes to a
  * range join, or a per-key collect, which dies on hot keys).
  *
  * Tie semantics match ASOF (`l.ts >= r.ts`, inclusive): the RANGE
  * frame admits ALL rows with equal timestamp, so a right row tied
  * with a left row is visible to it. Callers must dedupe the right
  * side per (key, ts) — with at most one right row per instant the
  * non-null payload sequence is strictly ts-ordered and `last` is
  * deterministic.
  *
  * Row atomicity: the matched ts and ALL payload columns are packed
  * into ONE struct and filled with a single `last(ignoreNulls)` — so
  * every emitted right-side field comes from the SAME right row.
  * (Filling each column independently would, on a right row carrying
  * a NULL payload value, splice that column from an OLDER row while
  * `asof_ts` came from the newer one — diverging from true ASOF.)
  */
object AsOfJoin {

  /** @param left     probe side (all columns preserved)
    * @param right    build side — MUST be unique per (key, ts)
    * @param key      equi-join key column name (both sides)
    * @param ts       event-time column name (both sides)
    * @param payload  right-side columns to carry; emitted as
    *                 `asof_<name>` (the matched right ts is always
    *                 emitted as `asof_ts`)
    */
  def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
           payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val outPayload = ("asof_ts" +: payload.map("asof_" + _))
    // One struct per right row — never null ON a right row (even if
    // every payload value is), so last(ignoreNulls) picks whole rows.
    val rBase = right.select(
      col(key), col(ts), lit(1).as("__tag"),
      struct((col(ts).as("asof_ts") +:
        payload.map(c => col(c).as("asof_" + c))): _*).as("__asof"))
    val r = leftCols.filterNot(Set(key, ts)).foldLeft(rBase)((df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    val l = left
      .withColumn("__tag", lit(0))
      .withColumn("__asof", lit(null).cast(rBase.schema("__asof").dataType))

    val w = Window.partitionBy(col(key)).orderBy(col(ts))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r)
      .withColumn("__asof", last(col("__asof"), ignoreNulls = true).over(w))
    filled.filter(col("__tag") === 0)
      .select((leftCols.map(col) ++
        outPayload.map(c => col("__asof")(c).as(c))): _*)
  }
}
