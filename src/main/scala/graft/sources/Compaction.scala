package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file COMPACTION over a hive-partitioned directory tree — the
  * layout-MAINTENANCE operator next to the three layout-CREATION
  * operators ([[PartitionedWrite]], [[ZOrderedWrite]], [[Bucketing]]).
  * At 100 TB this is what keeps a streaming warehouse scannable: every
  * micro-batch commit appends a file per task per partition directory,
  * so a month-partitioned sink at 10 commits/hour × 32 tasks grows
  * ~7.7k files/day/directory, and within weeks a full scan pays more
  * in file opens and footer reads than in row decode (the classic
  * small-file problem; Delta/Iceberg ship this verb as OPTIMIZE /
  * rewrite_data_files).
  *
  * One pass, one shuffle, per-directory ADAPTIVE width:
  *  1. Stat the tree driver-side — one filesystem listing per
  *     directory, a per-directory byte total. This is metadata
  *     proportional to |directories| (83 months here), NOT |rows|; at
  *     100 TB it is exactly what a table format's manifest gives for
  *     free.
  *  2. Broadcast the (partition value → ceil(dirBytes / targetBytes),
  *     floor 1) plan and route every row to (partCol, slot) with
  *     slot = hash(row) mod n(part) — a SINGLE full shuffle whose
  *     width adapts per directory: a 40-file 2 MB directory collapses
  *     to one write task, a 10 GB directory fans out to 80, in the
  *     same job. No per-directory rewrite jobs (the naive loop is
  *     |directories| driver-side jobs — serial scheduling overhead at
  *     83 directories, a stall at 83k).
  *  3. `write.partitionBy(partCol)` the routed rows — each shuffle
  *     task writes one file per directory value it holds, so each
  *     directory ends with AT MOST n(part) files (distinct (part,
  *     slot) pairs can hash-collide into one task, which only MERGES
  *     output files — fewer, larger; the same "up to n" contract as
  *     [[PartitionedWrite]]'s within-partition split, in reverse).
  *
  * Row content is untouched — the slot never reaches the data, only
  * the shuffle — so every oracle over the source relation holds
  * verbatim over the compacted one; [[graft.queries.CoreQueries.q51_compaction]]
  * puts that under the driver's hash gate, and CompactionSpec pins the
  * file-count contract (collapse to 1/directory at the default
  * target; multi-file adaptive widths at a small target; partition
  * pruning intact on the compacted tree).
  */
object Compaction {

  /** Per-directory (partition value → planned file count) from one
    * driver-side listing of `srcPath`. Exposed for the spec. Values
    * are hive-UNESCAPED (`%3A` → `:`, etc.) so they compare against
    * the data column's rendering, EXCEPT the null sentinel
    * [[HiveDefaultPartition]], which stays literal — the join side
    * coalesces null to it. */
  def filePlan(s: SparkSession, srcPath: String,
               targetBytes: Long): Map[String, Int] = {
    val root = new Path(srcPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(root).iterator
      .filter(d => d.isDirectory && d.getPath.getName.contains("="))
      .map { d =>
        val bytes = fs.listStatus(d.getPath).iterator
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map(_.getLen).sum
        val v = unescape(d.getPath.getName.split("=", 2)(1))
        v -> math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      }.toMap
  }

  private def unescape(dirValue: String): String =
    if (dirValue == HiveDefaultPartition) dirValue
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(dirValue)

  /** Count of data files per partition directory — the spec's
    * before/after evidence. */
  def fileCounts(s: SparkSession, path: String): Map[String, Int] = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(root).iterator
      .filter(d => d.isDirectory && d.getPath.getName.contains("="))
      .map { d =>
        unescape(d.getPath.getName.split("=", 2)(1)) ->
          fs.listStatus(d.getPath).count(f =>
            f.isFile && !f.getPath.getName.startsWith("_"))
      }.toMap
  }

  /** Hive's directory encoding for a null partition value — what
    * `partitionBy` names the directory and what [[filePlan]] therefore
    * lists for it. */
  private[sources] val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Compact the hive-partitioned tree at `srcPath` (partitioned by
    * `partCol`) into `dstPath`, aiming at `targetBytes` per output
    * file, and return the read-back relation. The routing hash is over
    * ALL source columns, so the rewrite is deterministic given the
    * data (no rand(): a retried task re-routes identically —
    * speculative execution and stage retries stay exactly-once).
    *
    * Two guard rails a general-purpose maintenance operator owes its
    * caller (both r15-verdict/advice items):
    *  - the source read is `mergeSchema`: a tree whose later epochs
    *    ADDED a column (the [[graft.queries.CoreQueries.q53_schema_merge]]
    *    layout) must compact to the union-of-footers schema, not to
    *    whichever single footer Spark happens to sample — the late
    *    column survives, NULL before its epoch (CompactionSpec pins
    *    it). Planning-time footer sweep, same cost note as q53.
    *  - null partition values route null-safely: [[filePlan]] lists a
    *    null directory as `__HIVE_DEFAULT_PARTITION__`, so the plan
    *    join coalesces the cast to that sentinel instead of
    *    null-rejecting (and silently DROPPING) the whole directory.
    *    And because hive's directory encoding can still diverge from
    *    `cast(string)` rendering (URL-escaped strings, zero-padded
    *    numerics), the rewrite ASSERTS output rows == source rows —
    *    a maintenance pass must refuse to lose data, not trust its
    *    join key. The count passes are parquet footer-count scans
    *    (no columns read), noise next to the rewrite itself.
    */
  def compact(s: SparkSession, srcPath: String, dstPath: String,
              partCol: String, targetBytes: Long,
              hooks: Seq[StatsStore.PostRewriteHook] = Nil): DataFrame = {
    val plan = filePlan(s, srcPath, targetBytes)
    val src = s.read.option("mergeSchema", "true").parquet(srcPath)
    val dataCols = src.columns.filter(_ != partCol)
    import scala.jdk.CollectionConverters._
    val planDf = broadcast(s.createDataFrame(
      plan.toSeq.map { case (v, n) => org.apache.spark.sql.Row(v, n) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_pv",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_nf",
          org.apache.spark.sql.types.IntegerType, nullable = false)))))
    // EXPLICIT shuffle width = total planned files: one write task per
    // planned file (modulo hash collisions, which only merge). A bare
    // repartition(cols) lets AQE coalesce the tiny-data exchange to
    // one partition and write 1 file/directory regardless of the plan
    // (measured: the 4 KB-target spec case produced 83/83 files) — a
    // user-specified count pins the width. At extreme tree sizes
    // (≫10⁵ planned files) run compaction per subtree instead of
    // widening one shuffle indefinitely, as table formats do.
    val width = math.max(1, plan.values.sum)
    src
      .join(planDf,
        coalesce(col(partCol).cast("string"),
          lit(HiveDefaultPartition)) === col("_pv"))
      .withColumn("_slot",
        pmod(xxhash64(dataCols.map(col): _*), col("_nf").cast("long")))
      .repartition(width, col(partCol), col("_slot"))
      .drop("_pv", "_nf", "_slot")
      .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(dstPath)
    val out = s.read.parquet(dstPath)
    val (nSrc, nDst) = (src.count(), out.count())
    require(nSrc == nDst,
      s"compaction must be row-preserving: source $srcPath has $nSrc " +
        s"rows but compacted $dstPath has $nDst — a partition value's " +
        s"hive encoding diverged from its cast-to-string rendering")
    // Directory-grain stats are INVARIANT under compaction (same rows,
    // same partitions), but FILE-grain stats are not (new files) —
    // a FileStatsHook here re-derives the per-file sidecar for the
    // compacted tree. Hooks see every partition value (compaction
    // rewrites the whole tree); null arrives as null, not the hive
    // sentinel, matching the rewrite's own join-side convention.
    if (hooks.nonEmpty) {
      val parts: Seq[Any] = plan.keys.toSeq
        .map(v => if (v == HiveDefaultPartition) null else v)
      hooks.foreach(_.afterRewrite(s, dstPath, partCol, parts))
    }
    out
  }
}
