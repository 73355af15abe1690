package graft.sources

import graft.{Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the partitioned-layout contracts [[PartitionedWrite]]
  * documents: a literal predicate on the partition column prunes at
  * PLAN time (q47 — `PartitionFilters` on the scan, one directory
  * read), and a selective dim filter prunes at RUNTIME through a join
  * (q48 — `dynamicpruningexpression` planted on the fact scan, pruned
  * directory count measurable in the scan's `numPartitions` metric).
  * These are the mechanisms, not the values — the values are pinned by
  * the DuckDB oracle like every registry entry.
  */
class PartitionedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** Every FileSourceScan in `p`, descending through AQE query-stage
    * wrappers (leaf nodes whose materialized plan hangs off `.plan`,
    * invisible to a plain `collect`) and reused exchanges.
    */
  private def allScans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match {
      case s: FileSourceScanExec => Seq(s)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    here ++ kids.flatMap(allScans)
  }

  /** The (single) FileSourceScan over the partitioned lineitem layout
    * in `df`'s executed plan, after an action settles AQE.
    */
  private def partitionedScan(df: DataFrame): FileSourceScanExec = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = allScans(plan).filter(
      _.relation.partitionSchema.fieldNames.contains("l_smonth"))
    assert(scans.nonEmpty, plan.toString)
    scans.head
  }

  test("q47: static partition pruning — one directory of 83 read") {
    val df = graft.queries.CoreQueries.q47_partition_pruned(spark, dir)
    val scan = partitionedScan(df)
    val filters = scan.partitionFilters.mkString(";")
    assert(filters.contains("l_smonth"), s"no partition filter: $filters")
    assert(scan.metrics("numPartitions").value === 1,
      s"expected 1 month directory, read ${scan.metrics("numPartitions").value}")
    // and the month key never reaches the row-level pushed filters —
    // it is directory metadata, not data
    assert(!scan.dataFilters.mkString(";").contains("l_smonth"),
      scan.dataFilters.mkString(";"))
  }

  test("q55: stats-driven skipping — the zone-map probe prunes directories for a DATA-column predicate") {
    // The predicate is on l_shipdate, which the partitioning never
    // declared — without the stats probe the scan lists all 83
    // directories (pinned below); with it, only the 4 months whose
    // [min_ship, max_ship] envelope intersects the window. Since r18
    // the skip runs INSIDE the scan's planning (ZoneMapFileIndex in
    // directory grain), so there is NO partition filter to pin — the
    // 4-of-83 numPartitions metric is the whole story, and the query
    // function carries no driver-side collect.
    val df = graft.queries.CoreQueries.q55_stats_skipping(spark, dir)
    val scan = partitionedScan(df)
    assert(!scan.partitionFilters.mkString(";").contains("l_smonth"),
      s"unexpected hand-planted partition filter: ${scan.partitionFilters}")
    assert(scan.metrics("numPartitions").value === 4,
      s"expected 4 surviving month directories, read " +
        s"${scan.metrics("numPartitions").value}")
    // the counterfactual: the same date window WITHOUT the probe
    // reads every directory — the skip is the stats table's doing,
    // not the engine's
    val plain = graft.queries.CoreQueries.partitionedLineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-03-10")) &&
        col("l_shipdate") <= to_timestamp(lit("1997-06-20")))
      .groupBy(col("l_returnflag")).count()
    assert(partitionedScan(plain).metrics("numPartitions").value === 83,
      "engine partition pruning unexpectedly engaged on a data column")
  }

  test("q54's statistics merge associatively — two epochs' stats combine to the union corpus's without a re-scan") {
    // The scale claim behind ANALYZE-as-a-layout-artifact: when a new
    // ingestion epoch lands, its partition stats MERGE into the
    // standing table (count by addition, bounds by min/max, NDV by
    // HLL union) — the corpus is never re-scanned. Executed here on
    // a keyed split of lineitem: stats(epoch A) ⊕ stats(epoch B) must
    // equal stats(A ∪ B) column for column. The HLL estimates are
    // exactly equal at this size (sketches in exact/sparse mode);
    // at volume the union is the documented lossless HLL merge.
    import org.apache.spark.sql.functions._
    val li = Tables(spark, dir, "lineitem")
      .withColumn("m", year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
    def statsOf(df: DataFrame) = df.groupBy(col("m"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        hll_sketch_agg(col("l_partkey"), lit(14)).as("sk"))
    val epochA = statsOf(li.filter(pmod(col("l_orderkey"), lit(2L)) === 0))
    val epochB = statsOf(li.filter(pmod(col("l_orderkey"), lit(2L)) === 1))
    val merged = epochA.unionByName(epochB).groupBy(col("m"))
      .agg(sum(col("n_rows")).as("n_rows"),
        min(col("min_price")).as("min_price"),
        max(col("max_price")).as("max_price"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("ndv"))
    val direct = statsOf(li)
      .select(col("m"), col("n_rows"), col("min_price"), col("max_price"),
        hll_sketch_estimate(col("sk")).as("ndv"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(rows(merged) === rows(direct))
  }

  test("q48: dynamic partition pruning — dim filter prunes fact directories at runtime") {
    val df = graft.queries.CoreQueries.q48_dpp_join(spark, dir)
    val scan = partitionedScan(df)
    assert(scan.partitionFilters.mkString(";").contains("dynamicpruning"),
      s"no DPP subquery on the fact scan:\n${scan.partitionFilters.mkString(";")}")
    val read = scan.metrics("numPartitions").value
    // the dim range is the corpus's final year: ≤ 8 order months
    // (2001-01..2001-08) of lineitem's 83 ship months survive
    assert(read >= 1 && read <= 8,
      s"DPP should read <= 8 of 83 month directories, read $read")
  }

  test("partitioned layout is row-identical to the source table") {
    val li = Tables(spark, dir, "lineitem")
    val part = PartitionedWrite.partitionedTable(
      spark, li, "target/part_spec_" + Layouts.pathDigest(dir),
      "l_smonth", year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
    assert(part.schema.fieldNames.contains("l_smonth"))
    // partition-value inference must give the int key back as a
    // numeric type, never DATE/STRING (the q47/q48 predicates and the
    // oracle's yyyymm arithmetic depend on it)
    assert(part.schema("l_smonth").dataType.typeName.matches("integer|long"),
      part.schema("l_smonth").dataType.toString)
    assert(part.count() === li.count())
    assert(part.drop("l_smonth").exceptAll(li).isEmpty &&
      li.exceptAll(part.drop("l_smonth")).isEmpty)
  }

  test("within-partition split: n files per directory, same rows, pruning intact") {
    // The at-scale file-count dial (q48's sf10 wall inversion: a ≤8-
    // directory pruned scan ran 8 tasks on 32 cores): splitFiles = 4
    // must write UP TO 4 files into each month directory, leave the
    // row set identical, and leave static pruning untouched — the salt
    // is routing-only, it never reaches the data or the directory keys.
    val li = Tables(spark, dir, "lineitem")
    val root = "target/part_split_spec_" + Layouts.pathDigest(dir)
    val part = PartitionedWrite.partitionedTable(
      spark, li, root, "l_smonth",
      year(col("l_shipdate")) * 100 + month(col("l_shipdate")),
      splitFiles = 4)
    assert(part.count() === li.count())
    assert(part.drop("l_smonth").exceptAll(li).isEmpty &&
      li.exceptAll(part.drop("l_smonth")).isEmpty)
    // at least one directory actually split (>1 file), none exceed 4
    val fs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("l_smonth="))
    val fileCounts = fs.map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(fs.nonEmpty)
    assert(fileCounts.max > 1, "no directory split despite splitFiles = 4")
    assert(fileCounts.max <= 4, s"directory exceeded the split: ${fileCounts.max}")
    // static pruning still reads exactly one directory
    val probe = part.filter(col("l_smonth") === 199803)
      .agg(count(lit(1)).as("n"))
    val scan = partitionedScan(probe)
    assert(scan.metrics("numPartitions").value === 1,
      s"split layout broke pruning: ${scan.metrics("numPartitions").value}")
  }

  test("Layouts.root honors the graft.layout.root dial and defaults to target") {
    assert(Layouts.root(spark) === "target")
    spark.conf.set("graft.layout.root", "/tmp/graft_layout_root")
    try assert(Layouts.root(spark) === "/tmp/graft_layout_root")
    finally spark.conf.unset("graft.layout.root")
    // the streaming runners' run dirs and d16's shard spill land under
    // the same root as the layouts
    val root = java.nio.file.Files.createTempDirectory("layout_root").toFile
    spark.conf.set("graft.layout.root", root.toString)
    try {
      import spark.implicits._
      val out = graft.queries.StreamQueries.runFileStream(spark,
        Seq(1L, 2L, 3L).toDF("v"), identity)
      assert(out.count() === 3)
      val sh = Seq((8L, "en", 2L, 0L), (16L, "en", 2L, 0L))
        .toDF("doc_id", "lang", "n", "sh")
      graft.queries.DedupQueries.containmentSharded(
        sh, graft.queries.DedupQueries.DefaultMaxPosting, 2, "rootspec")
        .collect()
    } finally spark.conf.unset("graft.layout.root")
    val runs = new java.io.File(root, "streams").listFiles()
    assert(runs != null &&
      runs.exists(r => new java.io.File(r, "out").isDirectory),
      "streaming run dir did not land under the layout root")
    assert(new java.io.File(root, "d16_shards_2_rootspec/docn").isDirectory,
      "d16 shard spill did not land under the layout root")
  }

  test("Layouts.path keeps SF dirs whose sanitized names collide apart") {
    val (a, b) = ("data/sf0.1", "data/sf0_1")
    assert(Layouts.path(spark, a, "part_li") !==
      Layouts.path(spark, b, "part_li"))
    assert(Layouts.path(spark, a, "part_li") ===
      "target/part_li_" + Layouts.pathDigest(a))
    assert(Layouts.tag(a) !== Layouts.tag(b))
    assert(Layouts.tag(a).matches("[A-Za-z0-9_]+"))
  }
}
