package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator queries covering SURVEY.md §2's inventory
  * (O1–O21), each paired with an ANSI-SQL oracle in [[oracle]].
  *
  * Numeric discipline for oracle parity: double aggregates go through
  * `decimal` so Spark and DuckDB produce bit-identical results
  * regardless of accumulation order (double sums are not associative;
  * at 32 shuffle partitions Spark's partial aggregation would differ
  * from DuckDB's sequential sum in the last ulp).
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact decimal sum of a 2-dp double column, surfaced as double. */
  private def dsum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast(DecimalType(28, 2))).cast(DoubleType)

  // O1+O2: parquet scan + projection/cast — pruned scan, no shuffle.
  def q01_scan_project(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast(IntegerType).as("qty_int"))

  // O3: filter/predicate — pushed to the parquet reader.
  def q02_filter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  // O5+O6: shuffle + hash aggregation (reference reducer sum,
  // pageRank_v2.java:183,202-204). Map-side partial agg is automatic.
  def q03_groupby_sum(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_price"),
        count(lit(1)).as("n_rows"))

  // O21 (restored v1 join): small-dim join — `broadcast` hint keeps the
  // plan a BroadcastHashJoin (no shuffle of the fact side) at any scale
  // where the dim fits in an executor (customer ≪ orders always here).
  def q04_join_broadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(dsum("o_totalprice").as("seg_revenue"),
        count(lit(1)).as("n_orders"))

  // O21 at fact⋈fact scale: both sides large → sort-merge join on the
  // shuffle key; AQE handles skew (executed, not assumed: SkewJoinSpec
  // pins `skew=true` on a hot-key fixture with this query's exact
  // shape — join key ≠ grouping key). No broadcast hint on purpose.
  def q05_join_sortmerge(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum("l_quantity").as("sum_qty"),
        count(lit(1)).as("n_lines"))

  // O18: secondary sort → window row_number; deterministic tiebreak on
  // the key column so ties can't make top-1 ambiguous across engines.
  def q06_window_topn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
  }

  // O18: running (prefix) aggregate within a partition-ordered frame.
  // Decimal accumulator: a double running sum is order-sensitive in the
  // last ulp; decimal is associative so Spark/DuckDB agree bit-for-bit.
  def q07_window_running(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (l_orderkey, l_linenumber) is NOT unique in the testdata; adding
    // l_quantity to the ordering makes tied rows interchangeable, so the
    // running-sum multiset is deterministic across engines.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast(DecimalType(28, 2))).over(w)
          .cast(DoubleType).as("running_qty"))
  }

  // Set op: UNION DISTINCT of two key streams (the reference's tagged-
  // value multiplexing, SURVEY.md §2 "set operations" gap filler).
  def q08_union_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(t(s, dir, "supplier").select(col("s_nationkey")))
      .distinct()

  // Exact distinct aggregate (expands to two-phase agg under the hood).
  def q09_count_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))

  // Top-k: global order-by + limit. TakeOrderedAndProject in the plan —
  // O(k) per partition + driver merge, never a full sort at scale.
  def q10_topk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  // O12: math scalars (mod/pow/ceil/floor/abs — reference's Math.pow,
  // %, BigDecimal-ceil at pageRank_v2.java:127,145,219). No `round`:
  // Spark HALF_UP vs DuckDB HALF_EVEN would diverge on ties.
  def q11_math_scalars(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        (col("l_orderkey") % 7).as("mod7"),
        pow(col("l_linenumber"), 2).cast(LongType).as("ln_sq"),
        ceil(col("l_extendedprice")).as("price_ceil"),
        floor(col("l_discount") * 100).as("disc_pct"),
        abs(col("l_discount") - 0.05).as("disc_dev"))

  // O11: string concat/format (reference's "-"-join + tag packing).
  def q12_string_funcs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 5).as("name_pfx"),
        length(col("p_name")).cast(LongType).as("name_len"),
        concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_type"), " ", "_").as("type_snake"))

  // O3 as expression: CASE WHEN dispatch (the reference's tag switch).
  def q13_case_when(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_totalprice") >= 200000, "high")
          .when(col("o_totalprice") >= 50000, "mid")
          .otherwise("low").as("price_band"))
      .groupBy(col("price_band")).agg(count(lit(1)).as("n"))

  // Post-aggregation filter (HAVING).
  def q14_having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"), dsum("l_quantity").as("sum_qty"))
      .filter(col("n_lines") > 50)

  // O4: generator/explode — one row per token (reference's per-outlink
  // emission loop, pageRank_v2.java:136-143).
  def q15_explode_split(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))

  // O7+O11: grouped distinct-collect, deterministic order, string-packed
  // exactly like the reference's "-"-joined adjacency. Arrays are
  // stringified because the checker can't sort list-valued columns.
  def q16_collect_set(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(concat_ws("-", sort_array(collect_set(col("lang")))).as("langs"))

  // Anti join: keys on the left with no match on the right (orders that
  // never shipped a line — non-empty in the testdata, unlike customers).
  def q17_anti_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"))

  // Semi join: EXISTS.
  def q18_semi_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(t(s, dir, "lineitem"),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))

  // Grouping sets: ROLLUP over two dims (NULL-filled subtotal rows).
  def q19_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))

  // Date/time: calendar extraction + truncation on a timestamp column.
  def q20_datetime(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(year(col("o_orderdate")).cast(LongType).as("yr"),
        month(col("o_orderdate")).cast(LongType).as("mo"))
      .groupBy(col("yr"), col("mo"))
      .agg(count(lit(1)).as("n_orders"))

  // JSON extraction from a string column (events.props = {"k": int}).
  // from_json with an explicit schema, parsed into a struct BEFORE the
  // filter: the pushed-down predicate re-derives only the pruned
  // single-field parse (OptimizeJsonExprs), and the projection's parse
  // runs on surviving rows only — vs the previous get_json_object
  // form, which re-parsed the full string per row in both the filter
  // and the project (the one >1s q-query in BENCH_r03).
  def q21_json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(
          StructField("k", LongType)))).as("j"))
      .filter(col("j").getField("k") % 10 === 0)
      .select(col("event_id"), col("j").getField("k").as("k"))

  // Multi-way star join: region → nation → customer → orders.
  def q22_star_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum("o_totalprice").as("revenue"),
        count(lit(1)).as("n_orders"))

  // O18+O19: MR-style secondary sort — the reference's
  // GroupedKey/partitioner design (pageRank.java:80-131) in Spark
  // form: hash-repartition on the primary key, sortWithinPartitions
  // (primary, secondary), then a single mapPartitions pass assigns
  // per-group sequence numbers from the physical order — no Window
  // exchange, exactly the MR shuffle contract. Oracle: ROW_NUMBER.
  def q25_secondary_sort(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      // EXPLICIT reducer count, exactly as an MR job sets it: a keyed
      // repartition with no width is AQE-coalescible, and byte-derived
      // coalescing would run the per-partition sort + sequence pass
      // one-wide at this SF (measured r19: 0.59→0.97 s under
      // advisory-size coalescing). Cores = the MR default for a
      // compute-bound reduce; seq_in_order is per-group, so the width
      // can't change the relation.
      .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        var curKey = Long.MinValue
        var seq = 0L
        it.map { case (ok, ln, qty) =>
          if (ok != curKey) { curKey = ok; seq = 0L }
          seq += 1
          (ok, ln, qty, seq)
        }
      }
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "seq_in_order")
  }

  // Skew-mitigation pattern: salted two-phase aggregation. Phase 1
  // fans each (possibly hot) group key out across 8 salt lanes and
  // partially aggregates; phase 2 merges lanes. With decimal
  // accumulators the result is identical to a direct groupBy — the
  // point is the SHAPE: at 100 TB a single hot l_returnflag would
  // bottleneck one reducer, salting bounds any lane to 1/8 of the hot
  // key. (Spark's partial agg does this implicitly for assoc aggs;
  // the explicit form is the template for when state doesn't fold,
  // e.g. collect-heavy or custom aggregates.)
  def q26_salted_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("salt", col("l_orderkey") % 8)
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_quantity").cast(DecimalType(28, 2))).as("pq"),
        count(lit(1)).as("pn"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pq")).cast(DoubleType).as("sum_qty"),
        sum(col("pn")).as("n_rows"))

  // Grouping sets: CUBE over two dims with grouping-id disambiguation
  // (NULL group values vs real NULLs).
  def q27_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))

  // As-of join (temporal enrichment): each event picks up the most
  // recent at-or-before 'error' event of the same user. Spark side is
  // graft.operators.AsOfJoin (union-tag + RANGE-frame window, one
  // shuffle); the oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — a
  // cross-engine check of genuine as-of semantics, not a restatement
  // of our own formulation.
  def q28_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val err = Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("err_value"))
    graft.operators.AsOfJoin.asof(ev, err, key = "user_id", ts = "ts",
      payload = Seq("err_value"))
  }

  // Range join, bucketized: follow-up activity within 10 minutes after
  // each error event, same user. The naive form is an equi-join on
  // user_id with a range filter — fine until one user dominates; the
  // SCALE form used here buckets time at the range width, explodes the
  // build side to its two covering buckets, equi-joins on
  // (user_id, bucket), then applies the exact range predicate. Any
  // match lies in the error's bucket or the next one, so results are
  // identical to the naive form while candidates stay bounded by
  // bucket occupancy.
  def q29_range_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bucket = (c: org.apache.spark.sql.Column) =>
      floor(unix_timestamp(c) / 600).cast(LongType)
    val probe = ev.select(col("user_id"), col("ts").as("ev_ts"),
        col("value"), bucket(col("ts")).as("bkt"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts").as("err_ts"))
      .withColumn("bkt", explode(array(bucket(col("err_ts")),
        bucket(col("err_ts")) + 1)))
    err.join(probe, Seq("user_id", "bkt"))
      .filter(col("ev_ts") > col("err_ts") &&
        col("ev_ts") <= col("err_ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_follow"),
        sum(col("value").cast(DecimalType(28, 2))).cast(DoubleType)
          .as("follow_value"))
  }

  // Approximate distinct (HLL++): the raw sketch value is not
  // DuckDB-reproducible (different sketch), but Spark's HLL is
  // DETERMINISTIC for a given input (hash-based, order-independent
  // merge) — so the output exposes the exact count plus a
  // within-8%-of-exact boolean, both engine-stable, and the oracle
  // asserts the bound holds (TRUE per group). The gate is 4× the
  // requested rsd=0.02 because rsd is a standard deviation, not a
  // bound — a hard 2% gate could go red on a different scale factor
  // with no real regression. CoreQueriesSpec pins the tight 2% against
  // the fixed test fixture.
  def q30_approx_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast(DoubleType)
          <= col("exact_parts").cast(DoubleType) * 0.08).as("within_8pct"))

  // Pivot (wide aggregation): order counts per status × priority.
  // Explicit value list — at scale an implicit pivot needs a distinct
  // pass over the pivot column first; pinning the values keeps it one
  // aggregation and makes the output schema static.
  def q31_pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))

  // Correlated scalar subqueries through the SQL entry path: orders
  // priced above their customer's average. Catalyst decorrelates both
  // subqueries into one aggregate + join — .explain shows no
  // per-row re-execution. The comparison is decimal-exact
  // (price·count > sum) instead of AVG, whose result scale differs
  // across engines.
  def q32_correlated(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders_v o
      WHERE CAST(o_totalprice AS DECIMAL(28,2)) *
        (SELECT COUNT(*) FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
        > (SELECT SUM(CAST(o_totalprice AS DECIMAL(28,2))) FROM orders_v o2
           WHERE o2.o_custkey = o.o_custkey)""")
  }

  // Window lead/lag navigation: per-user event sequence with the
  // previous value, next type, and inter-event gap. (event_id is the
  // tiebreak — (user_id, ts) alone is not provably unique.)
  def q33_lead_lag(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        (unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
  }

  // Set operations (SURVEY §2.1 lists them absent from the reference —
  // the tagged-value multiplexing in O4 is the closest analogue):
  // customers with orders in BOTH price bands (INTERSECT) minus those
  // with any finished order (EXCEPT). Both engines give set ops
  // distinct semantics; at scale each leg is a pruned scan and the set
  // ops are key-only shuffles (custkey, 8 B) — no payload rides them.
  def q34_set_ops(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val big = o.filter(col("o_totalprice") > 300000.0).select(col("o_custkey"))
    val small = o.filter(col("o_totalprice") < 50000.0).select(col("o_custkey"))
    val finished = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    big.intersect(small).except(finished)
  }

  // Exact grouped percentiles — percentile() sorts within each group
  // (exact, unlike approx_percentile) and interpolates; l_quantity is
  // integral-valued (1..50 as DOUBLE), so every interpolated midpoint
  // is exactly representable and the DuckDB quantile_cont twin is
  // bit-identical regardless of either engine's interpolation formula.
  // Scale: one hash shuffle on the (low-cardinality) group key; the
  // per-group sort is the cost — at 100 TB switch to approx_percentile
  // (q30's sketch rationale) unless exactness is contractual.
  def q35_percentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q1_qty"),
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.75)").as("q3_qty"),
        max(col("l_quantity")).as("max_qty"))

  // Arbitrary GROUPING SETS — the general form under q19's ROLLUP and
  // q27's CUBE: the (rf, ls) detail, the rf marginal, and the grand
  // total, but NOT the ls marginal (the set cube would add). One
  // Expand + one hash aggregation, same single-shuffle shape as
  // rollup/cube; "ALL" sentinels disambiguate the null grouping rows
  // exactly like q27.
  def q36_grouping_sets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))

  // RANGE window frame — peers enter the frame by VALUE distance, not
  // row position (q07 is the ROWS twin): a 10-minute trailing sum of
  // event value per user, ordered by event seconds. RANGE frames are
  // tie-insensitive (all rows with equal `sec` share one frame and one
  // result), so no tiebreak column is needed for determinism; the sum
  // goes through DECIMAL like every double agg (q29's discipline).
  // Scale: one hash shuffle on user_id; the per-partition sort is the
  // cost, same as any windowed query.
  def q37_range_frame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-600L, 0L)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
      .select(col("event_id"), col("user_id"), col("sec"),
        sum(col("value").cast(DecimalType(28, 2))).over(w)
          .cast(DoubleType).as("trailing_10m"))
  }

  // Pure band join — NO equi key: all events (any user) in the
  // 2-minute window after each error event. The only stock plan for
  // an equality-free join condition is a nested loop over
  // |errors|×|events| pairs — O(n·m) predicate evaluations however
  // selective the band is. The session's RangeJoinBinning rule
  // (graft.plans, installed via GraftExtensions) rewrites it to an
  // Expand-to-2-bins + equi-join on floorDiv(sec, 120): candidates
  // are bounded by per-bin occupancy and both sides shuffle by bin —
  // the 100 TB shape. RangeJoinBinningSpec pins rule-on/rule-off row
  // equivalence; PlanHygieneSpec pins the no-nested-loop plan. In a
  // session without the extension the same code still returns
  // identical rows, just on the naive plan.
  def q38_band_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(unix_timestamp(col("ts")).as("sec"), col("value"),
        col("event_id"), col("event_type"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("sec").as("err_sec"))
    ev.select(col("sec"), col("value"))
      .join(err, col("sec") > col("err_sec") &&
        col("sec") <= col("err_sec") + lit(120L))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_near"),
        sum(col("value").cast(DecimalType(28, 2))).cast(DoubleType)
          .as("near_value"))
  }

  // Grouped top-k on the custom physical operator (graft.plans
  // .GroupedTopK → GroupedTopKExec via GroupedTopKStrategy): the 3
  // highest-priced orders per customer, ties broken by orderkey. Same
  // row multiset as row_number().over(window) <= 3, but the plan is
  // partial-heaps → shuffle-by-custkey → final-heaps — NO sort on
  // either side (Spark 4's own WindowGroupLimit pushdown still sorts
  // every partition twice), and at most 3 rows per customer per input
  // partition cross the exchange. GroupedTopKSpec pins the
  // window-equivalence A/B and the sort-free plan shape.
  def q39_grouped_topk(s: SparkSession, dir: String): DataFrame =
    graft.plans.GroupedTopK.of(
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      groupCols = Seq("o_custkey"),
      orderBy = Seq(("o_totalprice", false), ("o_orderkey", true)),
      k = 3)

  // Aggregate-tier custom function: exact distinct customers per order
  // priority via the BitmapDistinct TypedImperativeAggregate. Stock
  // count_distinct expands to a first phase keyed on (group, custkey) —
  // every distinct pair rides the exchange; here partial bitmaps
  // OR-merge map-side and one ≤(domain/8)-byte buffer per group
  // crosses, so shuffle cost is bound by the id-domain width, not the
  // data volume. Oracle-exact (no sketch). BitmapDistinctSpec pins
  // count_distinct equivalence, merge across partitions, null/range
  // edges, and the partial-aggregation plan shape.
  def q40_bitmap_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.BitmapDistinct.of(col("o_custkey")).as("n_custs"))

  /** Ordered-event funnel view → click → purchase per user: earliest
    * view, earliest click strictly after it, earliest purchase
    * strictly after that, plus the reached stage (1–3). Each stage is
    * one filter + min-agg + equi-join on user_id — three user-keyed
    * shuffles that share a partitioning at scale, never a per-user
    * sort or a session collect; partial funnels survive via the
    * left joins. The sequential-pattern shape (event B only counts
    * after event A) that lead/lag (q33) and session windows (q24)
    * don't cover.
    */
  def q41_funnel(s: SparkSession, dir: String): DataFrame =
    funnelOf(graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts")))

  /** Z-bucket width for [[q42_zorder]]: zval div 2¹² ⇒ each bucket is
    * an aligned 2⁶×2⁶ tile of the (part, supp) key plane.
    */
  private val ZBucketShift = 12

  /** lineitem re-written z-clustered on (l_partkey, l_suppkey) via
    * [[graft.sources.ZOrderedWrite]], memoized per (session, sfDir):
    * the one-time layout job whose output [[q42_zorder]] audits. Same
    * rows as the source table (plus the `zval` cluster key), so every
    * lineitem oracle still holds over it.
    */
  private def zorderedLineitem(s: SparkSession, dir: String): DataFrame =
    SharedRelations(s, dir, "zordered_lineitem") {
      graft.sources.ZOrderedWrite.write(s, t(s, dir, "lineitem"),
        "l_partkey", "l_suppkey", 32,
        graft.sources.Layouts.path(s, dir, "zorder_li"))
    }

  // Z-order (Morton) clustering statistics — the layout primitive
  // behind Delta/Iceberg ZORDER BY: interleave the bits of two join/
  // filter dimensions ([[graft.functions.ZOrder]], codegen'd, one
  // static call per row), bucket by the high bits, and report each
  // bucket's row count + per-dimension min/max envelope. Because a
  // z-bucket is an aligned square tile of the key plane, BOTH
  // envelopes are tight (≤ 2⁸ wide here) — the property that makes
  // parquet min/max row-group pruning effective for 2-D predicates
  // after a `repartitionByRange(zval).sortWithinPartitions(zval)`
  // write, where a 1-D layout bounds only its sort dimension. At
  // 100 TB this query IS the layout audit a table-optimize job emits:
  // one narrow scan, one partial-aggregating shuffle of ~|buckets|
  // rows; keys range-reduce (pmod 2³¹) before interleaving because
  // the expression raises on out-of-range keys rather than silently
  // truncating — past ~SF 10.7k l_partkey exceeds 2³¹, and the
  // reduced key still tiles the plane (envelopes stay tight; only
  // bucket identity wraps, which the audit tolerates). The audited
  // table is the OUTPUT of the first-class layout operator
  // ([[zorderedLineitem]] — graft.sources.ZOrderedWrite, written once
  // per session/SF): the audit runs over the layout a table-optimize
  // job actually produced, exactly as it would at 100 TB. The result
  // is layout-independent (buckets derive from key VALUES), so the
  // lineitem oracle is unchanged.
  def q42_zorder(s: SparkSession, dir: String): DataFrame = {
    val z = graft.functions.GraftExpressions.zorder(
      pmod(col("l_partkey"), lit(1L << 31)),
      pmod(col("l_suppkey"), lit(1L << 31)))
    zorderedLineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), z.as("zval"))
      .groupBy(graft.functions.GraftExpressions.floorDiv(
        col("zval"), lit(1L << ZBucketShift)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"),
        max(col("l_suppkey")).as("max_supp"))
  }

  // Ranking-function completion: percent_rank / ntile / cume_dist
  // under one total order — the three distribution-rank functions the
  // q06/q07/q33/q37 window set didn't yet exercise. One window
  // shuffle on the partition key; every output is either an integer
  // (decile) or a single exact-integer division (percent_rank =
  // (rank−1)/(n−1), cume_dist = peers≤/n), so cross-engine parity is
  // bit-exact under the (price desc, key asc) total order.
  def q46_ranks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("decile", ntile(10).over(w).cast(LongType))
      .withColumn("cd", cume_dist().over(w))
  }

  // Cohort retention — the product-analytics matrix behind "day-N
  // retention": users cohort by their first active day, and each
  // (cohort, age) cell counts how many came back. Days are epoch-day
  // int64 (unix_date / DATE subtraction — no timezone arithmetic in
  // the value), the activity relation dedups to (user, day) with a
  // map-side-combining distinct, the user→cohort join is co-keyed
  // with the distinct's own partitioning (no extra exchange at
  // scale), cohort sizes are a broadcast |cohorts|-row relation, and
  // retention is ONE double division of two exact counts. The
  // (cohort, age) aggregation partial-aggregates map-side, so the
  // final exchange moves ~|cohorts|·|ages| short rows — at 100 TB of
  // events the only full-data shuffles are the dedup and the
  // user-keyed join.
  def q44_retention(s: SparkSession, dir: String): DataFrame = {
    val act = graft.Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_date(to_date(ts))").cast(LongType).as("day"))
      .distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = broadcast(first.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size")))
    act.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("age_days"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast(DoubleType) / col("cohort_size").cast(DoubleType))
          .as("retention"))
  }

  // Event-transition matrix — the Markov path-analysis pass over a
  // clickstream: per user, consecutive event pairs under the total
  // (ts, event_id) order, aggregated to (from, to) counts and the
  // row-normalized transition probability. The lead() window shuffles
  // once on user_id (at scale: the events table's natural bucketing
  // key); the (from, to) aggregation partial-aggregates map-side to
  // |event_types|² rows; the row totals derive from the matrix itself
  // (no second pass) and broadcast; probability is one double
  // division of exact counts.
  def q45_transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val m = tr.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
    val totals = broadcast(m.groupBy(col("from_type"))
      .agg(sum(col("c")).as("total")))
    m.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("c"), col("total"),
        (col("c").cast(DoubleType) / col("total").cast(DoubleType)).as("prob"))
  }

  /** Histogram bin width for [[q43_histogram_quantile]] — a power of
    * two, so `x / 4096` is IEEE-exact for every double and the floor
    * is engine-identical.
    */
  private val HistW = 4096L

  // Histogram quantiles — the mergeable-sketch percentile path for
  // 100 TB, where q35's exact `percentile()` cannot go: that
  // aggregate buffers EVERY value of a group in memory and
  // single-sorts it, so a hot group OOMs the executor. Here the only
  // corpus-sized operation is a (group, bin) hash aggregation whose
  // map-side combine collapses each partition to its occupied bins —
  // the exchange moves ~|groups|·|bins| short rows, histograms merge
  // by addition (associative — the sketch property), and the quantile
  // extraction runs on the k·bins relation: a window cumsum + one
  // threshold probe per percentile. Rank thresholds are exact int64
  // ceilings (`(n+3) div 4` etc.), so the reported bin is
  // deterministic — the answer is the true quantile to ±[[HistW]],
  // the explicit precision/memory trade a production sketch
  // (t-digest, KLL) tunes continuously.
  def q43_histogram_quantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        floor(col("l_extendedprice") / lit(HistW.toDouble))
          .cast(LongType).as("bin"))
      .groupBy(col("rf"), col("bin")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("rf")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("cum", sum(col("c")).over(w))
    val n = broadcast(h.groupBy(col("rf")).agg(sum(col("c")).as("n")))
    cum.join(n, Seq("rf"))
      .groupBy(col("rf"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n + 3) DIV 4"), col("bin")))
          .as("p25_bin"),
        min(when(col("cum") >= expr("(n + 1) DIV 2"), col("bin")))
          .as("p50_bin"),
        min(when(col("cum") >= expr("(3 * n + 3) DIV 4"), col("bin")))
          .as("p75_bin"))
      .select(col("rf"), col("n"), col("p25_bin"), col("p50_bin"),
        col("p75_bin"),
        (col("p50_bin") * HistW).as("p50_lo"))
  }

  /** lineitem re-written hive-partitioned by ship month (`l_smonth` =
    * yyyymm int — an INT key on purpose: partition-value inference
    * would read a `yyyy-MM` string back as DATE and silently retype
    * the column) via [[graft.sources.PartitionedWrite]], memoized per
    * (session, sfDir) like the bucketed graph layouts, NOT persisted:
    * pinning the read-back in executor memory would shadow the
    * directory layout and hide the partition pruning q47/q48 exist to
    * exercise. Same rows as the source table
    * plus the derived key, so every lineitem oracle still holds.
    *
    * The within-partition split is sized to the machine:
    * `defaultParallelism / 8` files per month directory (floor 1), 8
    * being the workload's surviving-directory count (q48's dim range
    * keeps ≤ 8 of 83 months), so a pruned scan still engages every
    * core. At local[4] that is 1 — the single-file shape that was
    * already right — and at local[32] it is 4, which un-inverts the
    * r13 sf10 wall (8 tasks on 32 cores read 10× fewer rows SLOWER
    * than the unpruned scan; with the split the same prune is ~32
    * wide).
    */
  private[graft] def partitionedLineitem(s: SparkSession, dir: String)
      : DataFrame = partitionedLineitemTree(s, dir)._2

  /** [[partitionedLineitem]] with its tree's path (q55's index reads
    * the directories, not the relation). */
  private def partitionedLineitemTree(s: SparkSession, dir: String)
      : (String, DataFrame) =
    SharedRelations.memo(s, dir, "part_li") {
      val tree = graft.sources.Layouts.path(s, dir, "part_li")
      (tree, graft.sources.PartitionedWrite.partitionedTable(
        s, t(s, dir, "lineitem"), tree, "l_smonth",
        year(col("l_shipdate")) * 100 + month(col("l_shipdate")),
        splitFiles = math.max(1, s.sparkContext.defaultParallelism / 8)))
    }

  /** The month [[q47_partition_pruned]] probes — mid-corpus, present
    * at every SF (lineitem spans 1995-01..2001-11), shared verbatim
    * with the oracle.
    */
  private val Q47Month = 199803

  // STATIC partition pruning over the first-class partitioned layout
  // ([[partitionedLineitem]] — graft.sources.PartitionedWrite, written
  // once per session/SF): a literal predicate on the partition column
  // resolves at PLAN time, so of the 83 month directories exactly one
  // is ever listed — the other 82 contribute zero I/O, zero tasks. At
  // 100 TB this is the scan-cost lever every time-series warehouse
  // lives on: the query's cost is the month's size, not the corpus's.
  // PartitionedSpec pins the mechanism (PartitionFilters on the scan,
  // numPartitions metric = 1); the result is layout-independent, so
  // the plain lineitem oracle holds.
  def q47_partition_pruned(s: SparkSession, dir: String): DataFrame =
    partitionedLineitem(s, dir)
      .filter(col("l_smonth") === Q47Month)
      .groupBy(col("l_returnflag"))
      .agg(dsum("l_extendedprice").as("rev"),
        count(lit(1)).as("n_rows"))

  // DYNAMIC partition pruning (DPP) — the star-join shape static
  // pruning canNOT express: the fact table is partitioned on the dim
  // key (ship month), the dim side carries a selective filter (urgent
  // orders in the corpus's FINAL year — a ≤8-month set at ANY scale,
  // because the bound is the date range's width, not a frequency
  // threshold that saturates with SF), and the surviving key set is
  // DATA, known only at runtime. Catalyst plants a
  // `dynamicpruningexpression` subquery on the fact scan and reuses
  // the join's broadcast to evaluate it, so the fact side lists ≤8 of
  // 83 directories — at 100 TB the difference between scanning the
  // corpus and scanning the workload's months. PartitionedSpec pins
  // the mechanism (dynamicpruningexpression in the plan, pruned
  // numPartitions); values are layout-independent, so the oracle is
  // the plain two-table SQL.
  def q48_dpp_join(s: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(
      t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("2001-01-01").cast(TimestampType))
        .select((year(col("o_orderdate")) * 100 +
          month(col("o_orderdate"))).as("m"))
        .distinct())
    partitionedLineitem(s, dir)
      .join(dim, col("l_smonth") === col("m"))
      .groupBy(col("l_smonth").cast(LongType).as("ship_month"))
      .agg(dsum("l_extendedprice").as("rev"),
        count(lit(1)).as("n_rows"))
  }

  /** Bloom capacity for [[q49_bloom_join]] — Spark's own runtime-
    * filter default (1M expected items ≈ 1.2 MB filter): a dial, not
    * a limit (size it to the dim's key count at the target SF; the
    * filter broadcasts, so it scales with the DIM, never the fact).
    */
  private val Q49BloomItems = 1000000L

  // Explicit bloom-filter join pruning — runtime ROW-level filtering,
  // the shuffle-side sibling of q48's partition-level DPP: when the
  // selective side of a fact⋈fact join is too big to broadcast as a
  // hash relation but its KEY SET still fits a sketch, build a bloom
  // filter over the dim keys (1-row aggregate, xxhash64 convention —
  // same as Catalyst's InjectRuntimeFilter, which automates exactly
  // this rewrite behind size thresholds) and pre-filter the fact side
  // BEFORE its exchange. might_contain is a superset-pass (false
  // positives at the FPP, never false negatives), so the inner join's
  // output is provably unchanged — the plain two-table SQL is the
  // oracle — while the fact side's shuffle carries ~selectivity·rows
  // instead of the corpus (Duel `bloom` measures the traffic in the
  // forced shuffle-join regime; BloomJoinSpec pins superset-pass
  // equality and the plan shape). At 100 TB this is the difference
  // between shuffling the fact table and shuffling the answer.
  def q49_bloom_join(s: SparkSession, dir: String): DataFrame = {
    val dimPred = col("o_orderpriority") === "1-URGENT" &&
      col("o_totalprice") > 450000.0
    val bloom = t(s, dir, "orders").filter(dimPred)
      .agg(graft.functions.GraftExpressions
        .bloomAgg(col("o_orderkey"), Q49BloomItems).as("bf"))
      .scalar()
    t(s, dir, "lineitem")
      .filter(graft.functions.GraftExpressions
        .bloomMightContain(bloom, col("l_orderkey")))
      .join(t(s, dir, "orders").filter(dimPred),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(dsum("l_extendedprice").as("rev"),
        count(lit(1)).as("n_rows"))
  }

  /** HLL precision (lgConfigK) for [[q50_hll_rollup]] — 2¹⁴ registers
    * ≈ 0.8% typical relative error, an order of magnitude inside the
    * witness tolerance below.
    */
  private val Q50LgK = 14

  /** Witness tolerance for [[q50_hll_rollup]]: |est − exact| ≤ 5%·exact.
    * Deterministic (Datasketches HLL is a pure function of the value
    * set and lgK), so the boolean is a stable oracle column — the g07
    * tolerance-witness pattern for values only Spark can compute.
    */
  private val Q50Tol = 0.05

  /** The MATERIALIZED month-sketch table q50 rolls up from — built
    * once per (session, sfDir) and written as parquet UNDER THE SAME
    * LAYOUT ROOT as the partition tree it sidecars
    * ([[graft.sources.Layouts]] — `<root>/q50_sketches_<digest>`
    * beside `<root>/part_li_<digest>`): the production posture is
    * that each month's sketch lands alongside its partition as it is
    * ingested and no rollup ever re-scans raw ids, so the sketch
    * table is a first-class layout artifact, placed — and
    * re-pointed, via `graft.layout.root` — with the layouts, not a
    * scratch file (r14 verdict: the demo default `target` is wiped
    * by sbt clean, which rebuild-on-miss absorbs; a sibling
    * directory, not a subdirectory of the partition tree, because
    * [[graft.sources.PartitionedWrite]] rewrites its tree with
    * mode=Overwrite and must never take the sketches with it). One
    * row per (month, priority) with the HLL blob as a binary column:
    * sketches serialize losslessly, and the read-back relation is
    * ~|months|·|priorities| rows at ANY corpus size.
    */
  private def monthlySketches(s: SparkSession, dir: String): DataFrame =
    SharedRelations.memo(s, dir, "q50_sketches") {
      val path = graft.sources.Layouts.path(s, dir, "q50_sketches")
      t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 100 +
          month(col("o_orderdate"))).as("m"), col("o_orderpriority"))
        .agg(hll_sketch_agg(col("o_custkey"), lit(Q50LgK)).as("sk"))
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    }

  // Mergeable distinct-count sketches — the INCREMENTAL form of
  // distinct counting that q30's one-shot approx_count_distinct can't
  // give you: per-month HLL sketches are MATERIALIZED once
  // ([[monthlySketches]] — the layout-backed table a production
  // pipeline maintains beside each partition), then ANY rollup — here
  // per-priority — is a cheap union-merge of the persisted sketch
  // rows plus one estimate call, never a re-scan of the corpus. This
  // is the q43-histogram posture applied to distinct counts: the
  // associative sketch IS the scale design (a 100 TB corpus's daily
  // distinct-user dashboards merge 365 sketch rows, not 365 days of
  // raw ids). The estimate is audited in-query against the exact
  // count (one countDistinct pass — the audit tier, priced like
  // s08/g18's; at scale it runs per-landing, not per-rollup), and the
  // oracle checks the exact counts plus the tolerance WITNESS
  // (|est − exact| ≤ 5%·exact as a boolean column, TRUE in the
  // oracle) — the g07 pattern for engine-specific values.
  def q50_hll_rollup(s: SparkSession, dir: String): DataFrame = {
    val merged = monthlySketches(s, dir).groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = t(s, dir, "orders").groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    merged.join(exact, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact") * Q50Tol).as("ok"))
  }

  // Small-file COMPACTION ([[graft.sources.Compaction]]) — the layout-
  // MAINTENANCE verb next to the three layout-creation operators
  // (partition q47/q48, z-order q42, bucketing): first a deliberately
  // over-split month-partitioned lineitem tree is written (splitFiles =
  // every core writes every month — the shape a streaming sink's
  // accumulated micro-batch commits leave behind), then one adaptive
  // pass compacts it (per-directory width = ceil(dirBytes/target),
  // floor 1, one shuffle for the whole tree — at the default 128 MB
  // target every month collapses to a single file at any shipped SF).
  // The entry aggregates the COMPACTED tree per month, and the oracle
  // is the same aggregation over the plain source table — hash
  // equality proves the rewrite lost and duplicated NOTHING through
  // fragment → route → merge, which is the only correctness question a
  // compaction has. CompactionSpec pins the layout side (file counts
  // collapse, adaptive multi-file widths at a small target, partition
  // pruning intact on the compacted tree); both trees are layout
  // artifacts under [[graft.sources.Layouts]], rebuild-on-miss.
  def q51_compaction(s: SparkSession, dir: String): DataFrame =
    compactedLineitem(s, dir)._3
      .groupBy(col("l_smonth").cast(LongType).as("ship_month"))
      .agg(dsum("l_extendedprice").as("rev"), count(lit(1)).as("n_rows"))

  /** [[q51_compaction]]'s trees, built once per (session, sfDir): the
    * over-split tree's path, the compacted tree's path, and the
    * compacted relation. The `compaction` and `fileskip` duels read
    * the same trees. */
  private[graft] def compactedLineitem(s: SparkSession, dir: String)
      : (String, String, DataFrame) =
    SharedRelations.memo(s, dir, "compact_li") {
      val frag = graft.sources.Layouts.path(s, dir, "frag_li")
      val dst = graft.sources.Layouts.path(s, dir, "compact_li")
      graft.sources.PartitionedWrite.partitionedTable(
        s, t(s, dir, "lineitem"), frag, "l_smonth",
        year(col("l_shipdate")) * 100 + month(col("l_shipdate")),
        splitFiles = math.max(8, s.sparkContext.defaultParallelism))
      (frag, dst, graft.sources.Compaction.compact(s, frag, dst, "l_smonth",
        128L * 1024 * 1024))
    }

  // MERGE INTO / CDC upsert ([[graft.operators.MergeInto]]) — the
  // OTHER warehouse-maintenance verb next to q51's compaction: a
  // deterministic changeset is synthesized from the snapshot itself
  // (keys ≡1 mod 10 → update totalprice + 1000; ≡2 → delete; ≡3 →
  // insert under the collision-free negated key with halved price —
  // both arithmetic ops bit-identical across engines) and applied via
  // the broadcast-decomposed merge: snapshot ANTI-JOIN touched keys ∪
  // updates ∪ inserts, the snapshot side never exchanging. The entry
  // returns the full merged relation; the oracle re-derives the merge
  // as set algebra over the same snapshot, so the hash pins every
  // branch — a lost delete, a double-applied update, or a dropped
  // survivor each break it.
  def q52_merge_upsert(s: SparkSession, dir: String): DataFrame = {
    val snap = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
    val m = pmod(col("o_orderkey"), lit(10L))
    val upd = snap.filter(m === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        col("o_orderpriority"), lit("U").as("op"))
    val del = snap.filter(m === 2)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"), lit("D").as("op"))
    val ins = snap.filter(m === 3)
      .select((-col("o_orderkey")).as("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 0.5).as("o_totalprice"),
        lit("5-LOW").as("o_orderpriority"), lit("I").as("op"))
    graft.operators.MergeInto(snap, upd.unionByName(del).unionByName(ins),
      "o_orderkey")
  }

  // SCHEMA EVOLUTION across ingestion epochs — the third maintenance
  // surface after q51's files and q52's rows: a 100 TB corpus
  // accumulates years of parquet whose schema DRIFTED (here
  // o_orderpriority added at epoch 1), and the reader must union the
  // footers instead of trusting one file's schema (Spark's default
  // samples a single footer and silently DROPS columns the sampled
  // epoch predates — the failure mode `mergeSchema` exists for, spec-
  // pinned). Two epochs of orders land as epoch=N partition
  // directories (ingestion batches ARE partitions, so evolution
  // composes with the q47 layout); the entry reads the tree with
  // mergeSchema and returns the full relation — epoch-0 rows carry
  // NULL for the late column, which is exactly what the oracle's
  // UNION with a typed NULL literal computes, so the hash pins the
  // union-of-footers semantics end to end. Scale note: mergeSchema is
  // a footer sweep over every file at PLANNING time (distributed by
  // spark.sql.sources.parallelPartitionDiscovery, but still
  // O(files)) — production pins the merged schema in a catalog and
  // pays the sweep once per ingestion, not per query; the option is
  // the discovery tool.
  def q53_schema_merge(s: SparkSession, dir: String): DataFrame = {
    val rel = SharedRelations.memo(s, dir, "evo_orders") {
      val root = graft.sources.Layouts.path(s, dir, "evo_orders")
      val snap = t(s, dir, "orders")
      val even = pmod(col("o_orderkey"), lit(2L)) === 0
      snap.filter(even)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(root + "/epoch=0")
      snap.filter(!even)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(root + "/epoch=1")
      s.read.option("mergeSchema", "true").parquet(root)
    }
    rel.select(col("epoch").cast(LongType).as("epoch"),
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderpriority"))
  }

  /** The materialized per-partition statistics table q54 serves —
    * ANALYZE as a LAYOUT ARTIFACT, completing the warehouse family
    * (partitioned q47/q48, z-order q42, compaction q51, merge q52,
    * schema q53): one row per `l_smonth` directory of the
    * [[partitionedLineitem]] tree carrying rowcount, min/max bounds
    * for the scan-relevant columns, and a MERGEABLE HLL sketch of
    * `l_partkey` NDV — exactly what a table format keeps per
    * file/partition in its manifests (Delta/Iceberg column stats;
    * the min/max are what data skipping reads INSTEAD of footers,
    * the NDV is what a CBO joins-orders by). Written beside the tree
    * it describes under [[graft.sources.Layouts]] (the q50
    * sidecar posture — rebuild-on-miss, re-pointed with the
    * layouts). Scale shape: one aggregation pass at ingestion per
    * landed partition, |directories| rows forever after — stats
    * queries and merges never re-scan the corpus, because count,
    * min/max, and HLL all merge associatively.
    */
  /** q54's column specs, shared with [[graft.sources.StatsStore]] so
    * the registry's stats table and the incrementally-MAINTAINED
    * sidecar (the post-rewrite hooks on merge/compaction) are one
    * code path — PartitionedSpec pins that a hook-refreshed sidecar
    * equals this from-scratch build. */
  private[graft] val Q54Cols = Seq(
    graft.sources.StatsStore.ColSpec("l_extendedprice", "min_price",
      "max_price"),
    graft.sources.StatsStore.ColSpec("l_shipdate", "min_ship", "max_ship"))
  private[graft] val Q54Ndv =
    Some(graft.sources.StatsStore.NdvSpec("l_partkey", "sk_partkey",
      Q50LgK))

  /** Build-if-cold and return the q54 sidecar's PATH — the index-
    * backed q55 wires the path, not the relation, into the scan. */
  private def partitionStatsPath(s: SparkSession, dir: String): String =
    SharedRelations.memo(s, dir, "q54_stats") {
      val path = graft.sources.Layouts.path(s, dir, "q54_stats")
      graft.sources.StatsStore
        .dirStats(partitionedLineitem(s, dir), "l_smonth", Q54Cols, Q54Ndv)
        .write.mode("overwrite").parquet(path)
      path
    }

  private def partitionStats(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(partitionStatsPath(s, dir))

  // ANALYZE-style per-partition column statistics
  // ([[partitionStats]]) — the registry relation IS the stats table:
  // exact columns (rowcount, min/max price, min/max ship timestamp)
  // hash directly against DuckDB's re-derivation from the raw rows,
  // and the engine-specific NDV estimate is audited in-query against
  // the exact per-month distinct count (the q50/g07 tolerance-witness
  // pattern: `ndv_ok` must be TRUE in both engines — Datasketches HLL
  // is deterministic, so the boolean is stable). The exact-NDV audit
  // pass is the audit tier, priced like q50's; at scale it runs
  // per-landing, not per-query — production reads the stats table
  // alone, which is |directories| rows at ANY corpus size.
  def q54_partition_stats(s: SparkSession, dir: String): DataFrame = {
    val exact = t(s, dir, "lineitem")
      .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .as("l_smonth"))
      .agg(countDistinct(col("l_partkey")).as("ndv_exact"))
    partitionStats(s, dir)
      .withColumn("ndv_est", hll_sketch_estimate(col("sk_partkey")))
      .join(exact, Seq("l_smonth"))
      .select(col("l_smonth").cast(LongType).as("ship_month"),
        col("n_rows"), col("min_price"), col("max_price"),
        col("min_ship"), col("max_ship"), col("ndv_exact"),
        (abs(col("ndv_est") - col("ndv_exact")) <=
          col("ndv_exact") * Q50Tol).as("ndv_ok"))
  }

  // TIME TRAVEL / SCD reconstruction — the READ half of the CDC story
  // whose WRITE half is q52's MERGE: given an append-only change log
  // (op, ts per key — what a CDC connector lands), reconstruct the
  // table AS OF a point in time. The log is synthesized
  // deterministically from orders (epoch 1: every key inserted;
  // epoch 2: keys ≡1 mod 7 updated, +1000; epoch 3: keys ≡2 mod 7
  // deleted) and the entry reconstructs AS OF epoch 2 — updates
  // applied, the later deletes NOT — via last-change-per-key ≤ T:
  // one window over the time-filtered log partitioned by key, keep
  // rn=1, drop 'D' survivors. Scale shape: ONE exchange keyed on the
  // primary key over the log (bounded by |changes ≤ T|, not table ×
  // versions); production compacts the same window incrementally per
  // landed batch (q52 applied repeatedly) and serves snapshots from
  // the compacted tail — this entry is the from-scratch replay that
  // definition must equal, and what a lakehouse runs for point-in-
  // time audits. The window's desc-ts order has no ties by
  // construction (one change per key per epoch), so the relation is
  // deterministic and the DuckDB twin re-derives it bit-exactly.
  def q56_time_travel(s: SparkSession, dir: String): DataFrame = {
    val snap = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val m = pmod(col("o_orderkey"), lit(7L))
    val log = snap
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit("I").as("op"), lit(1L).as("change_ts"))
      .unionByName(snap.filter(m === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("U").as("op"), lit(2L).as("change_ts")))
      .unionByName(snap.filter(m === 2)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit("D").as("op"), lit(3L).as("change_ts")))
    reconstructAsOf(log, "o_orderkey", asOf = 2L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  /** The AS-OF reconstruction q56 registers at T=2, factored so the
    * spec can pin the TIME DIAL itself (T=1 pre-update, T=3
    * post-delete — regimes the fixed-T oracle can't see): keep each
    * key's last change at or before `asOf`, drop keys whose last
    * change is a delete. Requires at most one change per (key, ts) —
    * the CDC-compacted log contract; ties would make rn=1
    * non-deterministic. */
  private[graft] def reconstructAsOf(log: DataFrame, key: String,
      asOf: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col("change_ts").desc)
    log.filter(col("change_ts") <= asOf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .drop("rn")
  }

  // VERSIONED time travel ([[graft.sources.VersionedTable]]) — the
  // lakehouse primitive q52 (MERGE write half) and q56 (AS-OF read
  // half) were each one side of: a REAL versioned table is built from
  // orders (month-partitioned, commit v0), then COMMITTED against:
  // v1 a merge batch (q52's exact changeset — keys ≡1 mod 10 updated,
  // ≡2 deleted, ≡3 inserted under the negated key), v2 an OPTIMIZE
  // (full-table compaction rewrite, relation-identical), v3 a second
  // merge (keys ≡4 updated, ≡5 deleted). The entry reads the table
  // AS OF v1 — a historical snapshot whose files BOTH the optimize
  // and batch 2 logically superseded but whose manifest still names,
  // so the hash additionally pins history-readable-across-OPTIMIZE.
  // The oracle re-derives v1's state as set algebra over orders, so
  // the hash pins the whole machine: append-only commit, manifest
  // file accounting, and historical read. Scale shape: each commit's
  // cost is the affected slice (copy-on-write decomposition, append
  // write); the AS-OF read is one manifest (metadata) + a pruned scan
  // of exactly the live files — never table × versions.
  def q57_versioned_time_travel(s: SparkSession, dir: String): DataFrame = {
    val path = versionedOrders(s, dir)
    // the INDEX-backed read ([[graft.sources.VersionedFileIndex]]):
    // the scan's file universe is v1's manifest via a Catalyst
    // FileIndex, so the oracle hash pins the table-format read path
    // itself (spec-pinned equal to the explicit file-list form)
    graft.sources.VersionedTable.snapshotRelation(s, path, "o_month", 1L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"), col("o_month").cast(LongType).as("o_month"))
  }

  /** Build-if-cold accessor for q57's versioned orders table (v0
    * init, v1 merge, v2 optimize, v3 merge) — shared by q64/q65 and
    * the CDF streaming entry (st14). */
  private[graft] def versionedOrders(s: SparkSession, dir: String): String =
    SharedRelations.memo(s, dir, "vt_orders") {
      val root = graft.sources.Layouts.path(s, dir, "vt_orders")
      val snap0 = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("o_month"))
      val m = pmod(col("o_orderkey"), lit(10L))
      def asOp(df: DataFrame, op: String) = df.withColumn("op", lit(op))
      val b1 = asOp(snap0.filter(m === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0), "U")
        .unionByName(asOp(snap0.filter(m === 2), "D"))
        .unionByName(asOp(snap0.filter(m === 3)
          .withColumn("o_orderkey", -col("o_orderkey"))
          .withColumn("o_totalprice", col("o_totalprice") * 0.5)
          .withColumn("o_orderpriority", lit("5-LOW")), "I"))
      val b2 = asOp(snap0.filter(m === 4)
          .withColumn("o_totalprice", col("o_totalprice") + 500.0), "U")
        .unionByName(asOp(snap0.filter(m === 5), "D"))
      graft.sources.VersionedTable.init(s, root, snap0, "o_month")
      graft.sources.VersionedTable.commitMerge(
        s, root, "o_month", b1, "o_orderkey")
      // an OPTIMIZE commit between the merges (v2): q57's AS-OF-v1
      // read must still serve the PRE-optimize files — history
      // readable across a full-table rewrite is the property that
      // separates a commit log from a directory
      graft.sources.VersionedTable.commitOptimize(
        s, root, "o_month", 128L * 1024 * 1024)
      graft.sources.VersionedTable.commitMerge(
        s, root, "o_month", b2, "o_orderkey")
      root
    }

  /** [[q55_stats_skipping]]'s date window — mid-corpus, present at
    * every SF (lineitem ships 1995-01..2001-11), spanning parts of
    * 4 calendar months so the stats-driven skip keeps 4 of 83
    * directories. Shared verbatim with the oracle.
    */
  private val Q55Lo = "1997-03-10"
  private val Q55Hi = "1997-06-20"

  // STATS-DRIVEN partition skipping — [[partitionStats]] consumed as
  // the zone map it is: the predicate is on l_shipdate, a DATA column
  // the partitioning never declared, so Spark's own partition pruning
  // canNOT engage (q47/q48 prune on the partition column; a data-
  // column predicate lists all 83 directories). The stats table's
  // per-directory [min_ship, max_ship] envelopes identify the
  // directories whose interval intersects the query window, and since
  // r18 the skip runs INSIDE the scan's own planning
  // ([[graft.sources.ZoneMapFileIndex]] in directory grain — the q58
  // posture applied to the operator that pioneered it): the date
  // predicate below is an ordinary filter, the index translates it
  // into an interval probe of the ≤83-row sidecar at plan time
  // (memoized, fail-open), and the non-intersecting directories are
  // never listed (4 of 83 here; PartitionedSpec pins numPartitions).
  // No driver-side collect remains in the query function. The
  // residual exact predicate re-filters inside survivors, so the
  // skip is superset-safe by interval algebra and the relation is
  // layout-independent — the oracle is the plain date-window SQL.
  // This is precisely Delta/Iceberg data skipping: manifest min/max
  // on data columns prune files the engine would otherwise open. At
  // 100 TB the probe reads |directories| stats rows instead of
  // opening |files| footers; staleness degrades to fail-open no-skip
  // — and a production table format versions stats WITH the snapshot
  // (q57/q59 compose exactly that).
  def q55_stats_skipping(s: SparkSession, dir: String): DataFrame = {
    val (tree, _) = partitionedLineitemTree(s, dir)
    val lo = to_timestamp(lit(Q55Lo))
    val hi = to_timestamp(lit(Q55Hi))
    graft.sources.ZoneMapFileIndex.dirRelation(s, tree, "l_smonth",
      partitionStatsPath(s, dir),
      Map("l_shipdate" -> (("min_ship", "max_ship"))))
      .filter(col("l_shipdate") >= lo && col("l_shipdate") <= hi)
      .groupBy(col("l_returnflag"))
      .agg(dsum("l_extendedprice").as("rev"), count(lit(1)).as("n_rows"))
  }

  /** [[q58_file_skipping]]'s window — deliberately INSIDE one calendar
    * month, where directory-grain skipping (q55) bottoms out at "read
    * the whole month" and only file-grain stats can prune further.
    * Shared verbatim with the oracle. */
  private val Q58Lo = "1997-03-05"
  private val Q58Hi = "1997-03-12"

  /** Range-clustered multi-file layout + its per-file stats sidecar:
    * the month-partitioned lineitem tree written through
    * `repartitionByRange(l_smonth, l_shipdate)`, so each directory's
    * files TILE the month by ship date — the write pattern that makes
    * per-file min/max worth keeping (a hash-split directory's files
    * all span the whole month and no file-grain stat can separate
    * them). ~4 files per month at any SF (332 range slices / 83
    * months); the sidecar is |files| rows
    * ([[graft.sources.StatsStore.writeFileStats]]). */
  private[graft] def rangedLineitem(s: SparkSession, dir: String)
      : (String, String) =
    SharedRelations.memo(s, dir, "ranged_li") {
      val tree = graft.sources.Layouts.path(s, dir, "ranged_li")
      val stats = graft.sources.Layouts.path(s, dir, "q58_fstats")
      val li = t(s, dir, "lineitem").withColumn("l_smonth",
        year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
      // range boundaries come from a sample seeded with the RDD id:
      // the file tiling (not the relation) varies with how many RDDs
      // the context created before this write
      li.repartitionByRange(332, col("l_smonth"), col("l_shipdate"))
        .write.mode("overwrite").partitionBy("l_smonth").parquet(tree)
      graft.sources.StatsStore.writeFileStats(s, tree, stats, "l_smonth",
        Seq(graft.sources.StatsStore.ColSpec("l_shipdate", "min_ship",
          "max_ship")))
      (tree, stats)
    }

  // FILE-level stats skipping — q55 one grain finer (the r16 verdict's
  // item 5, Delta's per-file checkpoint stats): the predicate window
  // sits INSIDE one month, so q55's zone map can only say "read all of
  // 1997-03"; the per-file sidecar's [min_ship, max_ship] envelopes
  // identify WHICH of that directory's date-tiled files intersect.
  // The skip runs INSIDE the scan's own planning
  // ([[graft.sources.ZoneMapFileIndex]]): the date predicate below is
  // an ordinary filter, the index translates it into an interval
  // probe of the |files|-row sidecar (exactly what reading a Delta
  // checkpoint costs at plan time) and the non-intersecting files are
  // never planned. The same predicate still runs in the scan as the
  // exact residual, so the skip is superset-safe and the relation
  // layout-independent — the oracle is the plain date-window SQL.
  // FileSkippingSpec pins the within-directory file pruning (scan
  // numFiles metric); the fileskip duel measures rows-decoded against
  // the directory-grain plan.
  def q58_file_skipping(s: SparkSession, dir: String): DataFrame = {
    val (tree, stats) = rangedLineitem(s, dir)
    val lo = to_timestamp(lit(Q58Lo))
    val hi = to_timestamp(lit(Q58Hi))
    graft.sources.ZoneMapFileIndex.relation(s, tree, "l_smonth", stats,
      Map("l_shipdate" -> (("min_ship", "max_ship"))))
      .filter(col("l_shipdate") >= lo && col("l_shipdate") <= hi)
      .groupBy(col("l_returnflag"))
      .agg(dsum("l_extendedprice").as("rev"), count(lit(1)).as("n_rows"))
  }

  // MAINTAINED statistics as the relation — the q54/q55 staleness gap
  // closed and put under the ORACLE gate (StatsStoreSpec pins the
  // mechanism; this pins the values at every SF): a month-partitioned
  // orders tree gets a stats sidecar, a deterministic CDC batch
  // confined to two months (mergecow's shape: updates+inserts in
  // 1998-01, deletes in 1998-06) is applied via copyOnWrite with the
  // DirStatsHook, and the ENTRY IS THE SIDECAR read back — refreshed
  // incrementally (one pruned pass over 2 of ~80 directories, spliced
  // by key), never recomputed from scratch. The oracle re-derives the
  // post-merge stats from first principles (merge as set algebra →
  // group by month), so hash equality proves BOTH splice halves: the
  // 2 recomputed rows are right AND the ~78 carried-forward rows
  // passed through uncorrupted. At 100 TB this is the difference
  // between ANALYZE-after-every-merge (a corpus re-scan) and
  // manifest-style stats that ride along with each commit.
  def q59_maintained_stats(s: SparkSession, dir: String): DataFrame = {
    val statsPath = SharedRelations.memo(s, dir, "mstats_orders") {
      val tree = graft.sources.Layouts.path(s, dir, "mstats_orders")
      val stats = graft.sources.Layouts.path(s, dir, "mstats_side")
      val snap0 = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("o_month"))
      snap0.repartition(col("o_month"))
        .write.mode("overwrite").partitionBy("o_month").parquet(tree)
      val cols = Seq(graft.sources.StatsStore.ColSpec("o_totalprice",
        "min_price", "max_price"))
      graft.sources.StatsStore.writeDirStats(s, tree, stats, "o_month", cols)
      val (mU, mD) = (199801, 199806)
      val m5 = pmod(col("o_orderkey"), lit(5L))
      val mcol = col("o_month")
      def asOp(df: DataFrame, op: String) = df.withColumn("op", lit(op))
      val changes = asOp(snap0.filter(mcol === mU && m5 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0), "U")
        .unionByName(asOp(snap0.filter(mcol === mD && m5 === 2), "D"))
        .unionByName(asOp(snap0.filter(mcol === mU && m5 === 3)
          .withColumn("o_orderkey", -col("o_orderkey"))
          .withColumn("o_totalprice", col("o_totalprice") * 0.5)
          .withColumn("o_orderpriority", lit("5-LOW")), "I"))
        .localCheckpoint(true) // derives from the tree the COW rewrites
      graft.operators.MergeInto.copyOnWrite(s, tree, "o_month", changes,
        "o_orderkey",
        hooks = Seq(graft.sources.StatsStore.DirStatsHook(stats, cols)))
      stats
    }
    s.read.parquet(statsPath)
      .select(col("o_month").cast(LongType).as("o_month"),
        col("n_rows"), col("min_price"), col("max_price"))
  }

  /** [[q60_multicol_versioned]]'s slice — one (month, bucket) leaf of
    * the two-level layout, shared verbatim with the oracle. */
  private val Q60Month = 199801

  // MULTI-COLUMN partitioned VERSIONED table — the r17 verdict's gap
  // ("single-column partitioning only"): real warehouse tables
  // partition on (date, source)-style tuples, and the manifest/
  // pruning machinery must account NESTED directories. A versioned
  // orders table partitioned by (o_month, o_bucket = custkey mod 4)
  // takes a two-month CDC batch (q59's shape: updates+inserts in
  // 1998-01, deletes in 1998-06) as a commit, and the entry reads the
  // post-merge version through the INDEX with predicates on BOTH
  // partition columns — two-level pruning: 1 leaf directory of ~320
  // planned, evaluated inside the Catalyst FileIndex
  // (VersionedTableFormatSpec pins numPartitions on both the 1-col
  // and 2-col filters, plus the hive-escape round-trip per column).
  // The oracle re-derives the merged slice as set algebra, so the
  // hash pins nested-dir manifest accounting end to end. Scale shape:
  // commit cost = the batch's leaf footprint (≤ 8 of ~320 leaves
  // rewritten); the read is one manifest + 1 directory.
  def q60_multicol_versioned(s: SparkSession, dir: String): DataFrame = {
    val path = SharedRelations.memo(s, dir, "vt_mc_orders") {
      val root = graft.sources.Layouts.path(s, dir, "vt_mc_orders")
      val snap0 = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("o_month"),
          pmod(col("o_custkey"), lit(4L)).as("o_bucket"))
      val m5 = pmod(col("o_orderkey"), lit(5L))
      val mcol = col("o_month")
      def asOp(df: DataFrame, op: String) = df.withColumn("op", lit(op))
      val changes = asOp(snap0.filter(mcol === Q60Month && m5 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0), "U")
        .unionByName(asOp(snap0.filter(mcol === 199806 && m5 === 2), "D"))
        .unionByName(asOp(snap0.filter(mcol === Q60Month && m5 === 3)
          .withColumn("o_orderkey", -col("o_orderkey"))
          .withColumn("o_totalprice", col("o_totalprice") * 0.5), "I"))
      graft.sources.VersionedTable.initMulti(s, root, snap0,
        Seq("o_month", "o_bucket"))
      graft.sources.VersionedTable.commitMergeMulti(s, root,
        Seq("o_month", "o_bucket"), changes, "o_orderkey")
      root
    }
    graft.sources.VersionedTable
      .snapshotRelationMulti(s, path, Seq("o_month", "o_bucket"))
      .filter(col("o_month") === Q60Month && col("o_bucket") === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_month").cast(LongType).as("o_month"),
        col("o_bucket").cast(LongType).as("o_bucket"))
  }

  /** Build-if-cold the SCHEMA-EVOLVED versioned orders table q61/q62
    * read: v0 = orders (month-partitioned, no tier column); v1 = an
    * `evolveSchema` merge commit whose changeset CARRIES a new
    * `o_tier` column (updates tier 'gold' for keys ≡1 mod 7, inserts
    * tier 'new' under negated keys ≡3 mod 7) — the q53 × q57
    * composition the r17 verdict asked for, on the real commit log
    * instead of a plain tree. */
  private def evolvedOrders(s: SparkSession, dir: String): String =
    SharedRelations.memo(s, dir, "vt_evo_orders") {
      val root = graft.sources.Layouts.path(s, dir, "vt_evo_orders")
      val snap0 = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("o_month"))
      val m7 = pmod(col("o_orderkey"), lit(7L))
      def asOp(df: DataFrame, op: String) = df.withColumn("op", lit(op))
      val changes = asOp(snap0.filter(m7 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("o_tier", lit("gold")), "U")
        .unionByName(asOp(snap0.filter(m7 === 3)
          .withColumn("o_orderkey", -col("o_orderkey"))
          .withColumn("o_totalprice", col("o_totalprice") * 0.5)
          .withColumn("o_tier", lit("new")), "I"))
      graft.sources.VersionedTable.init(s, root, snap0, "o_month")
      graft.sources.VersionedTable.commitMerge(s, root, "o_month",
        changes, "o_orderkey", evolveSchema = true)
      root
    }

  // SCHEMA EVOLUTION as a COMMIT — q53 proved epoch schema merging on
  // plain trees; this puts the same semantics inside the version log
  // (Delta's schema-evolution-on-merge): the v1 commit's changeset
  // carries `o_tier`, the commit RECORDS the widened schema with the
  // snapshot, and this entry reads v1 — carried rows (including whole
  // untouched partitions' pre-evolution files) serve a typed NULL
  // tier, arriving rows their value. The oracle re-derives the
  // evolved relation with CAST(NULL AS VARCHAR), so the hash pins
  // both halves: the null-widening of every old file AND the merge
  // algebra. Scale shape: evolution costs exactly a merge commit (the
  // affected slice) — never a table rewrite; old files are never
  // touched, the reader's recorded schema serves the nulls.
  def q61_schema_evolution(s: SparkSession, dir: String): DataFrame =
    graft.sources.VersionedTable
      .snapshotRelation(s, evolvedOrders(s, dir), "o_month", 1L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_tier"), col("o_month").cast(LongType).as("o_month"))

  // The OTHER half of evolution correctness: AS-OF v0 — a read BEFORE
  // the evolution — must serve exactly the pre-evolution relation
  // (v0's own recorded schema; VersionedTableFormatSpec pins that the
  // tier column is structurally ABSENT there, not just null). The
  // oracle is the plain orders projection, so the hash pins that no
  // merged row and no evolved value leaks backwards in time.
  def q62_evolution_history(s: SparkSession, dir: String): DataFrame =
    graft.sources.VersionedTable
      .snapshotRelation(s, evolvedOrders(s, dir), "o_month", 0L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_month").cast(LongType).as("o_month"))

  // OPTIMIZE ZORDER BY as a COMMIT — the composition the r17 verdict
  // named as Delta's single most-used maintenance verb, here from two
  // proven parts: [[graft.sources.VersionedTable.commitOptimize]]'s
  // append-only rewrite commit and [[graft.sources.ZOrderedWrite]]'s
  // cluster key. A year-partitioned versioned lineitem table is
  // z-ordered on (l_partkey, l_suppkey) as commit v1, and the entry
  // aggregates the optimized version under a 2-D box predicate — the
  // predicate shape whose row-group pruning the z-layout exists to
  // serve (each file tiles the key plane, so parquet min/max bounds
  // BOTH dims; a 1-D sort bounds only its own column —
  // VersionedTableFormatSpec pins the per-file envelopes, the
  // `vtzorder` duel records the rows-decoded drop). The relation is
  // layout-independent — the oracle is the plain box aggregation —
  // and history still reads the pre-optimize files (v0), so the hash
  // pins OPTIMIZE ZORDER as a genuine commit, not a destructive
  // rewrite.
  def q63_optimize_zorder(s: SparkSession, dir: String): DataFrame = {
    val path = SharedRelations.memo(s, dir, "vt_zli") {
      val root = graft.sources.Layouts.path(s, dir, "vt_zli")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_returnflag"), col("l_extendedprice"),
          year(col("l_shipdate")).as("l_year"))
      graft.sources.VersionedTable.init(s, root, li, "l_year")
      graft.sources.VersionedTable.commitOptimizeZOrder(s, root, "l_year",
        "l_partkey", "l_suppkey", filesPerDir = 4)
      root
    }
    graft.sources.VersionedTable.snapshotRelation(s, path, "l_year")
      .filter(col("l_partkey") <= 400 && col("l_suppkey") <= 20)
      .groupBy(col("l_returnflag"))
      .agg(dsum("l_extendedprice").as("rev"), count(lit(1)).as("n_rows"))
  }

  // CHANGE DATA FEED — the version log's row-level CDC READ
  // ([[graft.sources.VersionedTable.changeFeed]], Delta's
  // `table_changes`): the v0→v1 feed of q57's versioned table, every
  // change event the merge commit produced tagged insert / delete /
  // update_preimage / update_postimage + the producing version. The
  // feed derives from the MANIFEST DIFF — the files only v0 names
  // hold the before-state of each rewritten directory, the files only
  // v1 names the after-state — so it reads exactly the commit's
  // copy-on-write footprint (never the table) and joins before↔after
  // once on the primary key; carried rows (rewritten file, identical
  // payload) emit nothing. The oracle re-derives all four event
  // classes from the changeset definition, so the hash pins the
  // classification AND the carried-row exclusion across every
  // rewritten directory. Scale shape: |changed slice| I/O + one
  // slice-sized exchange; a commit flagged dataChange=false (q57's v2
  // OPTIMIZE) is skipped at metadata cost — the flag is what keeps a
  // CDC consumer O(changes) across compactions.
  def q64_change_feed(s: SparkSession, dir: String): DataFrame = {
    val path = versionedOrders(s, dir)
    graft.sources.VersionedTable.changeFeed(s, path, 0L, 1L, "o_orderkey")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"), col("o_month").cast(LongType).as("o_month"),
        col("change_type"), col("change_version"))
  }

  // INCREMENTAL VIEW MAINTENANCE off the change feed — the reason CDF
  // exists: a downstream aggregate (revenue + row count per month)
  // maintained from v0's base aggregate plus the TELESCOPED deltas of
  // every feed event across v0→v3 (update = post − pre, insert = +,
  // delete = −; the v2 OPTIMIZE contributes nothing via its
  // dataChange=false flag, at metadata cost). Deltas are exact
  // DECIMAL arithmetic, so base + Σdeltas equals the direct aggregate
  // of the FINAL state bit-for-bit — which is precisely what the
  // oracle computes, closed-form over orders. At 100 TB this is the
  // difference between re-aggregating the corpus per refresh and one
  // pass over each commit's changed slice — the materialized-view
  // maintenance loop every warehouse runs on its CDC feeds.
  def q65_cdf_maintenance(s: SparkSession, dir: String): DataFrame = {
    val path = versionedOrders(s, dir)
    val vt = graft.sources.VersionedTable
    // scale 3, not the house scale 2: the v1 inserts carry *0.5 of a
    // 2-dp price — a THREE-decimal value, which a scale-2 cast must
    // ROUND, and Spark (shortest-repr HALF_UP) and DuckDB (exact
    // binary expansion) round a borderline double in opposite
    // directions. At scale 3 every value in play is exact — no
    // rounding ever happens, so the cast is engine-independent.
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(28, 3))
    val base = vt.snapshot(s, path, 0L)
      .groupBy(col("o_month"))
      .agg(sum(dec(col("o_totalprice"))).as("rev0"),
        count(lit(1)).as("n0"))
    val delta = vt.changeFeed(s, path, 0L, 3L, "o_orderkey")
      .withColumn("d_rev", when(
          col("change_type").isin("insert", "update_postimage"),
          dec(col("o_totalprice")))
        .otherwise(-dec(col("o_totalprice"))))
      .withColumn("d_n", when(col("change_type") === "insert", 1L)
        .when(col("change_type") === "delete", -1L).otherwise(0L))
      .groupBy(col("o_month"))
      .agg(sum(col("d_rev")).as("drev"), sum(col("d_n")).as("dn"))
    base.join(delta, Seq("o_month"), "full_outer")
      .select(col("o_month").cast(LongType).as("o_month"),
        (coalesce(col("rev0"), lit(0).cast(DecimalType(38, 3))) +
          coalesce(col("drev"), lit(0).cast(DecimalType(38, 3))))
          .cast(DoubleType).as("rev"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_rows"))
      .filter(col("n_rows") > 0)
  }

  /** The point-lookup key q66 probes — a partkey populated at every
    * SF (TPC-H partkeys are dense from 1). Shared verbatim with the
    * oracle. */
  private val Q66Part = 17L

  /** Build-if-cold the per-file BLOOM sidecar over q58's
    * range-clustered lineitem tree. The tree clusters files by SHIP
    * DATE, so for `l_partkey` every file's min/max envelope spans
    * ~the whole part domain — the regime where zone maps cannot skip
    * a single file and only a membership sketch can. One bloom per
    * (file, l_partkey), constant-size (64Ki expected items — above
    * any file's distinct-partkey count at the oracle SFs and a fixed
    * ~80 KB/file at ANY corpus size, the constant-size-by-
    * construction rule). */
  private[graft] def bloomedLineitem(s: SparkSession, dir: String)
      : (String, String) =
    SharedRelations.memo(s, dir, "q66_bstats") {
      val (tree, _) = rangedLineitem(s, dir)
      val stats = graft.sources.Layouts.path(s, dir, "q66_bstats")
      graft.sources.StatsStore.writeFileStats(s, tree, stats, "l_smonth",
        cols = Nil,
        blooms = Seq(graft.sources.StatsStore.BloomSpec(
          "l_partkey", "bf_partkey", 65536L)))
      (tree, stats)
    }

  // BLOOM-FILTER file skipping — the skipping tier q55/q58 canNOT
  // serve: a POINT LOOKUP on a column the layout doesn't cluster
  // (l_partkey on the ship-date-tiled tree), where every file's
  // min/max envelope spans the whole domain and interval algebra
  // keeps everything. The per-file bloom sidecar answers "does this
  // file possibly contain the key?" at plan time
  // ([[graft.sources.ZoneMapFileIndex]]'s bloom tier): no false
  // negatives, so pruning on "definitely absent" is superset-safe;
  // the equality predicate still runs in the scan as the exact
  // residual, absorbing false positives. This is Delta's bloom
  // filter index / parquet's bloom pages as an index-level skip. At
  // 100 TB a point lookup reads |files| sidecar rows + the ~handful
  // of files that truly contain the key, instead of opening every
  // footer in the partition — the difference between O(table) and
  // O(answer) for needle queries. The bloomskip duel measures rows
  // decoded vs the plain tree; ZoneMapIndexSpec pins numFiles,
  // fail-open on null/absent blooms, and IN-list probing.
  def q66_bloom_skipping(s: SparkSession, dir: String): DataFrame = {
    val (tree, stats) = bloomedLineitem(s, dir)
    graft.sources.ZoneMapFileIndex.relation(s, tree, "l_smonth", stats,
      Map.empty, Map("l_partkey" -> "bf_partkey"))
      .filter(col("l_partkey") === Q66Part)
      .groupBy(col("l_returnflag"))
      .agg(dsum("l_extendedprice").as("rev"), count(lit(1)).as("n_rows"))
  }

  /** DuckDB twin of [[graft.functions.ZOrder.spread]] as a CTE ladder
    * (5 shift/mask steps per dimension; decimal mask literals — every
    * intermediate stays under 2⁶³ for 31-bit inputs, so DuckDB's
    * signed-overflow check never trips).
    */
  private def zorderCte(src: String, a: String, b: String): String = {
    val masks = Seq(
      16 -> "281470681808895",        // 0x0000FFFF0000FFFF
      8 -> "71777214294589695",       // 0x00FF00FF00FF00FF
      4 -> "1085102592571150095",     // 0x0F0F0F0F0F0F0F0F
      2 -> "3689348814741910323",     // 0x3333333333333333
      1 -> "6148914691236517205")     // 0x5555555555555555
    val steps = masks.zipWithIndex.map { case ((sh, m), i) =>
      s"zs${i + 1} AS (SELECT *, ((a$i | (a$i << $sh)) & $m) AS a${i + 1}, " +
        s"((b$i | (b$i << $sh)) & $m) AS b${i + 1} FROM zs$i)"
    }.mkString(",\n")
    s"""zs0 AS (SELECT $a AS dim_a, $b AS dim_b,
       |  $a % 2147483648 AS a0, $b % 2147483648 AS b0 FROM $src),
       |$steps,
       |zvals AS (SELECT dim_a, dim_b, (a5 | (b5 << 1)) AS zval FROM zs5)""".stripMargin
  }

  /** [[q41_funnel]] on any (user_id, event_type, ts) relation — shared
    * with the streaming spec, which pins
    * [[graft.streaming.StreamOps.funnelStages]]' incremental state
    * machine to this batch definition on the same rows.
    */
  private[graft] def funnelOf(ev: DataFrame): DataFrame = {
    def stage(t: String) =
      ev.filter(col("event_type") === t).select(col("user_id"), col("ts"))
    val v = stage("view").groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = stage("click").join(v, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = stage("purchase").join(c, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1L) + when(col("t_click").isNotNull, 1L).otherwise(0L)
          + when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("stage"))
  }

  val oracle: Map[String, String] = Map(
    "q47_partition_pruned" ->
      s"""SELECT l_returnflag,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE year(l_shipdate) * 100 + month(l_shipdate) = $Q47Month
         |GROUP BY l_returnflag""".stripMargin,
    "q48_dpp_join" ->
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
        |    AS ship_month,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |JOIN (SELECT DISTINCT year(o_orderdate) * 100 + month(o_orderdate) AS m
        |      FROM orders
        |      WHERE o_orderpriority = '1-URGENT'
        |        AND o_orderdate >= TIMESTAMP '2001-01-01') d
        |  ON year(l_shipdate) * 100 + month(l_shipdate) = d.m
        |GROUP BY 1""".stripMargin,
    "q49_bloom_join" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000
        |GROUP BY l_returnflag""".stripMargin,
    "q50_hll_rollup" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |  TRUE AS ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // the union-of-footers semantics re-derived: epoch-0 rows carry a
    // typed NULL for the column their files predate.
    "q53_schema_merge" ->
      """SELECT CAST(0 AS BIGINT) AS epoch, o_orderkey, o_custkey,
        |  o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), o_orderkey, o_custkey,
        |  o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin,
    // the merge re-derived as set algebra: survivors (keys not
    // touched by U/D) ∪ updated payloads ∪ inserted payloads —
    // branch-for-branch the same relation MergeInto assembles.
    "q52_merge_upsert" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    o_orderpriority FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM snap WHERE o_orderkey % 10 NOT IN (1, 2)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 1000.0,
        |  o_orderpriority
        |FROM snap WHERE o_orderkey % 10 = 1
        |UNION ALL
        |SELECT -o_orderkey, o_custkey, o_totalprice * 0.5, '5-LOW'
        |FROM snap WHERE o_orderkey % 10 = 3""".stripMargin,
    // the stats table re-derived from the raw rows: exact columns
    // hash directly; the NDV estimate reduces to its tolerance
    // witness, TRUE in the oracle (q50's pattern).
    "q54_partition_stats" ->
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
        |    AS ship_month,
        |  COUNT(*) AS n_rows,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price,
        |  MIN(l_shipdate) AS min_ship,
        |  MAX(l_shipdate) AS max_ship,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_exact,
        |  TRUE AS ndv_ok
        |FROM lineitem
        |GROUP BY 1""".stripMargin,
    // the AS-OF-2 reconstruction in closed form: epoch-3 deletes are
    // invisible, epoch-2 updates win their keys, everything else is
    // the epoch-1 insert — the same set algebra the window derives.
    "q56_time_travel" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice + 1000.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    // v1's state in closed form over orders (q52's algebra + the
    // month): batch-2's later updates/deletes must be invisible, so a
    // leaked v2 file or a lost v0 survivor both break the hash.
    "q57_versioned_time_travel" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    o_orderpriority,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS o_month
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
        |  o_month
        |FROM snap WHERE o_orderkey % 10 NOT IN (1, 2)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 1000.0,
        |  o_orderpriority, o_month
        |FROM snap WHERE o_orderkey % 10 = 1
        |UNION ALL
        |SELECT -o_orderkey, o_custkey, o_totalprice * 0.5, '5-LOW',
        |  o_month
        |FROM snap WHERE o_orderkey % 10 = 3""".stripMargin,
    // the post-merge stats re-derived from first principles: merge as
    // set algebra (mergecow's two-month changeset), then group by
    // month — equality proves the incremental splice end to end.
    "q59_maintained_stats" ->
      """WITH snap AS (SELECT o_orderkey, o_totalprice,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS o_month
        |  FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_totalprice, o_month FROM snap
        |  WHERE NOT (o_month = 199801 AND o_orderkey % 5 = 1)
        |    AND NOT (o_month = 199806 AND o_orderkey % 5 = 2)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1000.0, o_month FROM snap
        |  WHERE o_month = 199801 AND o_orderkey % 5 = 1
        |  UNION ALL
        |  SELECT -o_orderkey, o_totalprice * 0.5, o_month FROM snap
        |  WHERE o_month = 199801 AND o_orderkey % 5 = 3)
        |SELECT o_month, COUNT(*) AS n_rows,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM merged GROUP BY 1""".stripMargin,
    // the two-level-pruned slice of the post-merge version re-derived
    // as set algebra over orders — nested-dir manifest accounting,
    // per-column hive round-trip, and the 2-col index read all pinned
    // by one hash.
    "q60_multicol_versioned" ->
      s"""WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS o_month,
        |    o_custkey % 4 AS o_bucket
        |  FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_month, o_bucket
        |  FROM snap
        |  WHERE NOT (o_month = $Q60Month AND o_orderkey % 5 = 1)
        |    AND NOT (o_month = 199806 AND o_orderkey % 5 = 2)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_month,
        |    o_bucket
        |  FROM snap WHERE o_month = $Q60Month AND o_orderkey % 5 = 1
        |  UNION ALL
        |  SELECT -o_orderkey, o_custkey, o_totalprice * 0.5, o_month,
        |    o_bucket
        |  FROM snap WHERE o_month = $Q60Month AND o_orderkey % 5 = 3)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_month, o_bucket
        |FROM merged WHERE o_month = $Q60Month AND o_bucket = 1""".stripMargin,
    // the evolved v1 relation in closed form: carried rows (keys not
    // ≡1 mod 7) serve a typed NULL tier — including every row of the
    // untouched pre-evolution files — updates and inserts their
    // values; hash equality pins the null-widening AND the merge.
    "q61_schema_evolution" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS o_month
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_tier, o_month
        |FROM snap WHERE o_orderkey % 7 <> 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, 'gold',
        |  o_month
        |FROM snap WHERE o_orderkey % 7 = 1
        |UNION ALL
        |SELECT -o_orderkey, o_custkey, o_totalprice * 0.5, 'new', o_month
        |FROM snap WHERE o_orderkey % 7 = 3""".stripMargin,
    // AS-OF v0 on the SAME evolved table = the plain pre-evolution
    // projection: no merged row, no evolved value, no tier column
    // leaks backwards in time.
    "q62_evolution_history" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |    AS o_month
        |FROM orders""".stripMargin,
    // the v0→v1 feed in closed form: the merge changeset's four event
    // classes re-derived from its definition — hash equality pins the
    // manifest-diff classification and that carried rows (every
    // untouched row of every rewritten directory) emit nothing.
    "q64_change_feed" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    o_orderpriority,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS o_month
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
        |  o_month, 'update_preimage' AS change_type,
        |  CAST(1 AS BIGINT) AS change_version
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
        |FROM snap WHERE o_orderkey % 10 = 3""".stripMargin,
    // the maintained aggregate must equal the direct aggregate of the
    // FINAL (v3) state: v1's merge + v3's merge applied to orders in
    // closed form (the v2 optimize changes nothing), then grouped —
    // exact decimal arithmetic makes base + telescoped deltas
    // bit-equal to this.
    "q65_cdf_maintenance" ->
      """WITH snap AS (SELECT o_orderkey, o_totalprice,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS o_month
        |  FROM orders),
        |final AS (
        |  SELECT o_month,
        |    CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 10 = 4 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS p
        |  FROM snap WHERE o_orderkey % 10 NOT IN (2, 5)
        |  UNION ALL
        |  SELECT o_month, o_totalprice * 0.5 FROM snap
        |  WHERE o_orderkey % 10 = 3)
        |SELECT o_month,
        |  CAST(SUM(CAST(p AS DECIMAL(28,3))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n_rows
        |FROM final GROUP BY 1""".stripMargin,
    // the bloom skip is stats-internal: the oracle is the plain point
    // lookup — hash equality proves the membership prune lost no
    // qualifying row (no false negatives, residual absorbs the false
    // positives).
    "q66_bloom_skipping" ->
      s"""SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_partkey = $Q66Part
        |GROUP BY 1""".stripMargin,
    // the z-ordered OPTIMIZE is relation-preserving: the oracle is the
    // plain 2-D box aggregation over the raw table.
    "q63_optimize_zorder" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_partkey <= 400 AND l_suppkey <= 20
        |GROUP BY 1""".stripMargin,
    // like q55, the file-grain skip is stats-internal: the oracle is
    // the plain date-window aggregation — hash equality proves the
    // per-file prune lost no qualifying row.
    "q58_file_skipping" ->
      s"""SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '$Q58Lo 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '$Q58Hi 00:00:00'
        |GROUP BY 1""".stripMargin,
    // the skip is stats-internal: the oracle is the plain date-window
    // aggregation — hash equality proves the zone-map prune lost no
    // qualifying row.
    "q55_stats_skipping" ->
      s"""SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '$Q55Lo 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '$Q55Hi 00:00:00'
        |GROUP BY 1""".stripMargin,
    // q51 aggregates the COMPACTED tree; the oracle aggregates the
    // plain source — equality proves the fragment→compact rewrite is
    // row-exact.
    "q51_compaction" ->
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
        |    AS ship_month,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY 1""".stripMargin,
    "q41_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  1 + (CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |  LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "q42_zorder" ->
      s"""WITH ${zorderCte("lineitem", "l_partkey", "l_suppkey")}
         |SELECT zval // ${1L << ZBucketShift} AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(dim_a) AS min_part, MAX(dim_a) AS max_part,
         |  MIN(dim_b) AS min_supp, MAX(dim_b) AS max_supp
         |FROM zvals GROUP BY 1""".stripMargin,
    "q46_ranks" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  PERCENT_RANK() OVER w AS pr,
        |  CAST(NTILE(10) OVER w AS BIGINT) AS decile,
        |  CUME_DIST() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "q45_transitions" ->
      """WITH tr AS (SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(c) AS BIGINT) AS total
        |  FROM m GROUP BY 1)
        |SELECT m.from_type, m.to_type, m.c, tot.total,
        |  CAST(c AS DOUBLE) / CAST(total AS DOUBLE) AS prob
        |FROM m JOIN tot USING (from_type)""".stripMargin,
    "q44_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1),
        |sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |  FROM f GROUP BY 1),
        |r AS (SELECT f.cohort_day, act.day - f.cohort_day AS age_days,
        |    CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM act JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT r.cohort_day, r.age_days, r.n_active, sz.cohort_size,
        |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
        |FROM r JOIN sz USING (cohort_day)""".stripMargin,
    "q43_histogram_quantile" ->
      s"""WITH h AS (SELECT l_returnflag AS rf,
         |    CAST(FLOOR(l_extendedprice / $HistW) AS BIGINT) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM lineitem GROUP BY 1, 2),
         |n AS (SELECT rf, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
         |cum AS (SELECT rf, bin,
         |    CAST(SUM(c) OVER (PARTITION BY rf ORDER BY bin) AS BIGINT) AS cum
         |  FROM h)
         |SELECT cum.rf, n.n,
         |  MIN(CASE WHEN cum >= (n + 3) // 4 THEN bin END) AS p25_bin,
         |  MIN(CASE WHEN cum >= (n + 1) // 2 THEN bin END) AS p50_bin,
         |  MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN bin END) AS p75_bin,
         |  MIN(CASE WHEN cum >= (n + 1) // 2 THEN bin END) * $HistW AS p50_lo
         |FROM cum JOIN n ON cum.rf = n.rf
         |GROUP BY 1, 2""".stripMargin,
    "q40_bitmap_distinct" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q39_grouped_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q38_band_join" ->
      """WITH e AS (SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
        |    value, event_type FROM events)
        |SELECT r.event_id AS err_id, COUNT(*) AS n_near,
        |  CAST(SUM(CAST(a.value AS DECIMAL(28,2))) AS DOUBLE) AS near_value
        |FROM e r JOIN e a
        |  ON r.event_type = 'error' AND a.sec > r.sec AND a.sec <= r.sec + 120
        |GROUP BY r.event_id""".stripMargin,
    "q34_set_ops" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice < 50000
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    // FLOOR before the BIGINT cast: the fixture timestamps carry
    // fractional seconds, DuckDB's cast rounds but Spark's
    // unix_timestamp truncates.
    "q37_range_frame" ->
      """SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_10m
        |FROM events""".stripMargin,
    "q36_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())""".stripMargin,
    "q35_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q1_qty,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.75) AS q3_qty,
        |  MAX(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q01_scan_project" ->
      """SELECT l_orderkey, l_partkey, CAST(l_quantity AS INTEGER) AS qty_int
        |FROM lineitem""".stripMargin,
    "q02_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30""".stripMargin,
    "q03_groupby_sum" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q04_join_broadcast" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS seg_revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q05_join_sortmerge" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q06_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q07_window_running" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) OVER (
        |    PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_qty
        |FROM lineitem""".stripMargin,
    "q08_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier""".stripMargin,
    "q09_count_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q10_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q11_math_scalars" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey % 7 AS mod7,
        |  CAST(POW(l_linenumber, 2) AS BIGINT) AS ln_sq,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(FLOOR(l_discount * 100) AS BIGINT) AS disc_pct,
        |  ABS(l_discount - 0.05) AS disc_dev
        |FROM lineitem""".stripMargin,
    "q12_string_funcs" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  SUBSTRING(p_name, 1, 5) AS name_pfx,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  CONCAT_WS('#', p_brand, p_type) AS brand_type,
        |  REGEXP_REPLACE(p_type, ' ', '_', 'g') AS type_snake
        |FROM part""".stripMargin,
    "q13_case_when" ->
      """SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
        |            WHEN o_totalprice >= 50000 THEN 'mid'
        |            ELSE 'low' END AS price_band,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q14_having" ->
      """SELECT l_suppkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 50""".stripMargin,
    "q15_explode_split" ->
      """SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
        |FROM documents WHERE doc_id < 50""".stripMargin,
    "q16_collect_set" ->
      """SELECT source,
        |  ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT lang)), '-') AS langs
        |FROM documents GROUP BY source""".stripMargin,
    "q17_anti_join" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,
    "q18_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)""".stripMargin,
    "q19_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q20_datetime" ->
      """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        |  CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q21_json" ->
      """SELECT event_id,
        |  CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) % 10 = 0""".stripMargin,
    "q22_star_join" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q25_secondary_sort" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity,
        |  ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity)
        |    AS seq_in_order
        |FROM lineitem""".stripMargin,
    "q26_salted_agg" ->
      """WITH p AS (
        |  SELECT l_returnflag, l_orderkey % 8 AS salt,
        |    SUM(CAST(l_quantity AS DECIMAL(28,2))) AS pq, COUNT(*) AS pn
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, CAST(SUM(pq) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(pn) AS BIGINT) AS n_rows
        |FROM p GROUP BY l_returnflag""".stripMargin,
    "q27_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q28_asof_join" ->
      """WITH err AS (
        |  SELECT user_id, ts, MAX(value) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, e.event_type,
        |  r.ts AS asof_ts, r.err_value AS asof_err_value
        |FROM events e ASOF LEFT JOIN err r
        |  ON e.user_id = r.user_id AND e.ts >= r.ts""".stripMargin,
    "q29_range_join" ->
      """SELECT r.event_id AS err_id, COUNT(*) AS n_follow,
        |  CAST(SUM(CAST(e.value AS DECIMAL(28,2))) AS DOUBLE) AS follow_value
        |FROM events r JOIN events e
        |  ON r.event_type = 'error' AND e.user_id = r.user_id
        |  AND e.ts > r.ts AND e.ts <= r.ts + INTERVAL '10 minutes'
        |GROUP BY r.event_id""".stripMargin,
    // q30: exact count cross-engine + Spark's (deterministic) HLL
    // pinned within 8% of it (4× the rsd; see q30_approx_distinct) —
    // the oracle's TRUE column fails the hash compare if the sketch
    // ever drifts outside the bound.
    "q30_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS within_8pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q31_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
        |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q32_correlated" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(28,2)) *
        |  (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |  > (SELECT SUM(CAST(o_totalprice AS DECIMAL(28,2))) FROM orders o2
        |     WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
    "q33_lead_lag" ->
      """SELECT event_id, user_id, ts, value,
        |  LAG(value, 1) OVER w AS prev_value,
        |  LEAD(event_type, 1) OVER w AS next_type,
        |  EPOCH_US(ts) - EPOCH_US(LAG(ts, 1) OVER w) AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_project" -> (q01_scan_project _),
    "q02_filter" -> (q02_filter _),
    "q03_groupby_sum" -> (q03_groupby_sum _),
    "q04_join_broadcast" -> (q04_join_broadcast _),
    "q05_join_sortmerge" -> (q05_join_sortmerge _),
    "q06_window_topn" -> (q06_window_topn _),
    "q07_window_running" -> (q07_window_running _),
    "q08_union_distinct" -> (q08_union_distinct _),
    "q09_count_distinct" -> (q09_count_distinct _),
    "q10_topk" -> (q10_topk _),
    "q11_math_scalars" -> (q11_math_scalars _),
    "q12_string_funcs" -> (q12_string_funcs _),
    "q13_case_when" -> (q13_case_when _),
    "q14_having" -> (q14_having _),
    "q15_explode_split" -> (q15_explode_split _),
    "q16_collect_set" -> (q16_collect_set _),
    "q17_anti_join" -> (q17_anti_join _),
    "q18_semi_join" -> (q18_semi_join _),
    "q19_rollup" -> (q19_rollup _),
    "q20_datetime" -> (q20_datetime _),
    "q21_json" -> (q21_json _),
    "q22_star_join" -> (q22_star_join _),
    "q25_secondary_sort" -> (q25_secondary_sort _),
    "q26_salted_agg" -> (q26_salted_agg _),
    "q27_cube" -> (q27_cube _),
    "q28_asof_join" -> (q28_asof_join _),
    "q29_range_join" -> (q29_range_join _),
    "q30_approx_distinct" -> (q30_approx_distinct _),
    "q31_pivot" -> (q31_pivot _),
    "q32_correlated" -> (q32_correlated _),
    "q33_lead_lag" -> (q33_lead_lag _),
    "q34_set_ops" -> (q34_set_ops _),
    "q35_percentile" -> (q35_percentile _),
    "q36_grouping_sets" -> (q36_grouping_sets _),
    "q37_range_frame" -> (q37_range_frame _),
    "q38_band_join" -> (q38_band_join _),
    "q39_grouped_topk" -> (q39_grouped_topk _),
    "q40_bitmap_distinct" -> (q40_bitmap_distinct _),
    "q41_funnel" -> (q41_funnel _),
    "q42_zorder" -> (q42_zorder _),
    "q43_histogram_quantile" -> (q43_histogram_quantile _),
    "q44_retention" -> (q44_retention _),
    "q45_transitions" -> (q45_transitions _),
    "q46_ranks" -> (q46_ranks _),
    "q47_partition_pruned" -> (q47_partition_pruned _),
    "q48_dpp_join" -> (q48_dpp_join _),
    "q49_bloom_join" -> (q49_bloom_join _),
    "q50_hll_rollup" -> (q50_hll_rollup _),
    "q51_compaction" -> (q51_compaction _),
    "q52_merge_upsert" -> (q52_merge_upsert _),
    "q53_schema_merge" -> (q53_schema_merge _),
    "q54_partition_stats" -> (q54_partition_stats _),
    "q55_stats_skipping" -> (q55_stats_skipping _),
    "q56_time_travel" -> (q56_time_travel _),
    "q57_versioned_time_travel" -> (q57_versioned_time_travel _),
    "q58_file_skipping" -> (q58_file_skipping _),
    "q59_maintained_stats" -> (q59_maintained_stats _),
    "q60_multicol_versioned" -> (q60_multicol_versioned _),
    "q61_schema_evolution" -> (q61_schema_evolution _),
    "q62_evolution_history" -> (q62_evolution_history _),
    "q63_optimize_zorder" -> (q63_optimize_zorder _),
    "q64_change_feed" -> (q64_change_feed _),
    "q65_cdf_maintenance" -> (q65_cdf_maintenance _),
    "q66_bloom_skipping" -> (q66_bloom_skipping _),
  )
}
