package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table support — the storage-layout half of the engine's
  * shuffle discipline (SCALE.md): a table bucketed on its join/agg key
  * is already hash-partitioned ON DISK, so every co-bucketed join and
  * keyed aggregation over it runs with ZERO shuffle exchanges, at any
  * number of executors. At 100 TB this is the difference between a
  * fact⋈fact join that moves both tables across the network every
  * query and one that only ever reads co-located bucket files — you
  * pay one bucketed write, then every downstream keyed op is
  * exchange-free (the layout is reused across queries, where a
  * `repartition` would be re-shuffled per plan).
  *
  * `sortBy` additionally pre-orders rows within each bucket file, so
  * sort-merge joins skip their sort when files-per-bucket is 1 (else
  * the per-partition sort is local, still no exchange).
  *
  * [[graft.BucketingSpec]] pins the contract: a bucketed orders ⋈
  * customer join and a keyed agg execute with no `Exchange` node.
  */
object Bucketing {

  /** Write `df` as a bucketed + in-bucket-sorted parquet table in the
    * session catalog. Bucket count is the scale dial: pick it so one
    * bucket ≈ one task's worth of data at the target SF (e.g. 4096
    * buckets for a 10-TB fact table → ~2.5 GB/bucket).
    *
    * Clears any leftover managed-table LOCATION first: the layout
    * table names are deliberately stable across sessions
    * ([[Layouts.tag]]), so a PREVIOUS JVM's warehouse directory survives
    * into a fresh catalog that has no entry for it — and `saveAsTable`
    * then fails with LOCATION_ALREADY_EXISTS instead of overwriting
    * (caught by the second same-workspace bucketed-verify run, r13).
    * `DROP TABLE` handles the same-session case; the filesystem
    * delete handles the cross-session residue the catalog can't see.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    key: String, moreKeys: String*): Unit = {
    val s = df.sparkSession
    // The residue cleanup below deletes <warehouse.dir>/<name> — the
    // DEFAULT location of an unqualified managed table, which is the
    // only shape this writer creates. A qualified name (db.tbl) or a
    // pre-existing table with a custom LOCATION would make that path
    // someone else's directory: refuse up front rather than delete it
    // (r13 advice). When a live catalog entry exists, also require it
    // to be MANAGED — an external table at this name means the path
    // belongs to data this writer doesn't own.
    require(table.matches("[A-Za-z0-9_]+"),
      s"writeBucketed expects an unqualified [A-Za-z0-9_]+ table name " +
        s"(default-location managed layout tables only), got: '$table'")
    if (s.catalog.tableExists(table))
      require(s.catalog.getTable(table).tableType == "MANAGED",
        s"refusing to overwrite non-managed table '$table'")
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .saveAsTable(table)
  }

  /** [[writeBucketed]] + read-back, with a `repartition(buckets, key)`
    * first so each write task holds exactly one bucket (Spark's
    * repartition hash IS the bucketing hash) → ONE file per bucket,
    * which lets the scan report the in-bucket sort order and
    * downstream sort-merge joins skip their sort on this side. The
    * returned relation scans the bucketed layout: its
    * `outputPartitioning` is `HashPartitioning(key, buckets)`, so
    * every join/agg keyed on `key` plans NO exchange above it — the
    * iterative-graph contract ([[graft.queries.GraphQueries]]
    * `graph_sym`): at 100 TB the per-round frontier join must not
    * move the edge table, and this layout is what guarantees it at
    * any executor count ([[graft.graph.GraphBucketedSpec]] pins the
    * plan; the `bucketedsym` duel measures the shuffle delta).
    */
  def bucketedTable(s: SparkSession, df: DataFrame, table: String,
                    buckets: Int, key: String): DataFrame = {
    writeBucketed(df.repartition(buckets, col(key)), table, buckets, key)
    s.table(table)
  }
}
