package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** A VERSIONED hive-partitioned table — the commit-log primitive that
  * unites the warehouse family's write half
  * ([[graft.operators.MergeInto.copyOnWrite]]: rewrite only touched
  * directories) with its read half
  * ([[graft.queries.CoreQueries.q56_time_travel]]: reconstruct AS OF a
  * point): every merge batch becomes a numbered COMMIT whose manifest
  * names the exact data files that are live at that version, data
  * files are append-only (a merge writes NEW files for the affected
  * directories and logically retires the old ones — never deletes),
  * and a reader serves any historical version by reading that
  * version's file list. This is the minimal form of what Delta's
  * `_delta_log` / Iceberg's snapshot manifests provide; the layout is
  * deliberately the same shape as the tree [[PartitionedWrite]]
  * produces, plus one `_graft_log/` directory of manifests.
  *
  * Layout (one or MORE partition columns — a (month, source)-style
  * table nests one directory level per column):
  * {{{
  *   table/pc1=v/pc2=w/part-*.parquet    data files, APPEND-ONLY
  *   table/_graft_log/00000000.manifest  one relative file path per line
  *   table/_graft_log/00000000.schema    the version's schema (JSON)
  *   table/_graft_log/00000001.manifest  ...
  * }}}
  *
  * The `.schema` sidecar versions the SCHEMA with the snapshot
  * (Delta's metadata action): a commit may EVOLVE the schema
  * ([[commitMerge]]'s `evolveSchema` — an arriving column widens the
  * relation, carried rows serve null), and every historical read
  * serves its own version's schema. It is written BEFORE the
  * manifest, so a torn commit (schema present, manifest absent) is
  * invisible — the manifest is the sole commit point.
  *
  * Scale shape — why this is the 100 TB design and not a toy:
  *  - a commit lists and diffs ONLY the affected partition
  *    directories (the CDC batch's footprint), so commit cost is
  *    proportional to the changed slice, exactly like copy-on-write —
  *    the unaffected 99.9% of the corpus contributes untouched file
  *    ENTRIES carried forward in the manifest, not I/O;
  *  - a snapshot read is one manifest read (|live files| lines —
  *    metadata-scale) plus a parquet scan of exactly those files with
  *    `basePath` partition discovery, so partition pruning and column
  *    pruning work unchanged on historical versions;
  *  - old versions cost only the retained superseded files, and
  *    [[vacuum]] reclaims them by retention horizon — Delta's VACUUM.
  *
  * Single-writer contract: commits are serialized by the caller (a
  * production log store arbitrates with putIfAbsent; here the manifest
  * write refuses to clobber an existing version, so a lost race fails
  * loudly instead of corrupting the log — and
  * [[commitMergeWithRetry]] turns that loud failure into the
  * optimistic-concurrency retry loop real log stores run). Partition
  * values must render stably through hive's directory encoding — the
  * same contract [[Compaction]] documents; the row-preservation
  * assert in [[commitMerge]] catches a divergence.
  */
object VersionedTable {

  private def fsFor(s: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def logDir(tablePath: String): Path =
    new Path(tablePath, "_graft_log")

  private def manifestPath(tablePath: String, v: Long): Path =
    new Path(logDir(tablePath), f"$v%08d.manifest")

  private def schemaPath(tablePath: String, v: Long): Path =
    new Path(logDir(tablePath), f"$v%08d.schema")

  private def propsPath(tablePath: String, v: Long): Path =
    new Path(logDir(tablePath), f"$v%08d.props")

  private def isDataFile(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  private def dirNameOf(partCols: Seq[String], values: Seq[Any]): String =
    partCols.zip(values).map { case (c, pv) =>
      val seg = if (pv == null) HiveNull
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(String.valueOf(pv))
      s"$c=$seg"
    }.mkString("/")

  /** Data files directly under `dirName` (a RELATIVE path, one or more
    * `col=value` segments), as paths relative to `tablePath` — empty
    * if the directory doesn't exist yet. */
  private def listDir(fs: FileSystem, tablePath: String,
                      dirName: String): Set[String] = {
    val d = new Path(tablePath, dirName)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).iterator
      .filter(f => f.isFile && isDataFile(f.getPath))
      .map(f => s"$dirName/${f.getPath.getName}").toSet
  }

  /** Total data bytes currently under `dirs` — driver-side metadata
    * listing of the affected slice, the sizing input for
    * [[commitWriteWidth]]. */
  private def dirsBytes(fs: FileSystem, tablePath: String,
                        dirs: Seq[String]): Long =
    dirs.iterator.map { d =>
      val p = new Path(tablePath, d)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).iterator
        .filter(f => f.isFile && isDataFile(f.getPath)).map(_.getLen).sum
    }.sum

  /** Exchange width for a commit's data write:
    * ceil(sliceBytes / 128 MB) — the guide §2
    * rule (derive partitioning from data volume, never from a
    * core-count constant) applied to the write half of every commit.
    * Before r19 a commit wrote (upstream task count) files into EVERY
    * affected directory — at local[32] that made each merge commit
    * leave ~3 files per directory and each change-feed read pay ~3×
    * the per-file open cost, while the file count itself scaled with
    * the core count (the r18 scaling block's ratio<1 signature). The
    * 128 MB target matches [[commitOptimize]]'s. */
  private def commitWriteWidth(sliceBytes: Long): Int = {
    val target = 128L * 1024 * 1024
    math.max(1L, (sliceBytes + target - 1) / target)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Every LEAF partition directory of the tree (relative paths),
    * found by descending `col=value`-named directories — depth-
    * agnostic, so single- and multi-column layouts walk alike. */
  private def leafDirs(fs: FileSystem, tablePath: String): Seq[String] = {
    def walk(rel: String): Seq[String] = {
      val here = new Path(tablePath, rel)
      val kids = fs.listStatus(here)
      val subs = kids.iterator
        .filter(d => d.isDirectory && d.getPath.getName.contains("="))
        .map(d => s"$rel/${d.getPath.getName}").toSeq
      val hasData = kids.exists(f => f.isFile && isDataFile(f.getPath))
      (if (hasData) Seq(rel) else Nil) ++ subs.flatMap(walk)
    }
    fsStatusDirs(fs, tablePath).flatMap(walk)
  }

  private def fsStatusDirs(fs: FileSystem, tablePath: String): Seq[String] =
    fs.listStatus(new Path(tablePath)).iterator
      .filter(d => d.isDirectory && d.getPath.getName.contains("="))
      .map(_.getPath.getName).toSeq

  /** Versions present in the log, ascending; empty for a non-table. */
  def versions(s: SparkSession, tablePath: String): Seq[Long] = {
    val fs = fsFor(s, tablePath)
    val ld = logDir(tablePath)
    if (!fs.exists(ld)) Seq.empty
    else fs.listStatus(ld).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong).toSeq.sorted
  }

  /** Latest committed version; -1 for a non-table. */
  def currentVersion(s: SparkSession, tablePath: String): Long =
    versions(s, tablePath).lastOption.getOrElse(-1L)

  /** The live file list (relative paths) of version `v`. */
  def manifest(s: SparkSession, tablePath: String, v: Long): Seq[String] = {
    val fs = fsFor(s, tablePath)
    val in = fs.open(manifestPath(tablePath, v))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toVector
    finally in.close()
  }

  /** The RECORDED schema of version `v` (data columns in file order,
    * partition columns last), or None for tables/versions written
    * before schema logging — readers then fall back to footer
    * inference, the pre-evolution behavior. */
  def schemaOf(s: SparkSession, tablePath: String, v: Long)
      : Option[StructType] = {
    val fs = fsFor(s, tablePath)
    val p = schemaPath(tablePath, v)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(DataType.fromJson(json).asInstanceOf[StructType])
    }
  }

  /** Whether version `v` CHANGED ROWS, or only rearranged them —
    * Delta's per-commit `dataChange` flag. A maintenance rewrite
    * ([[commitOptimize]] / [[commitOptimizeZOrder]]) records `false`;
    * merge commits and any version written before flag logging
    * default to `true` (the safe direction: an unknown commit must be
    * diffed, never skipped). [[changeFeed]] uses this to serve an
    * EMPTY feed across a pure rewrite without reading a single data
    * file — the alternative is a full-table before/after diff that
    * proves row-for-row equality the flag already promises (the spec
    * pins both paths agree). */
  def dataChangeOf(s: SparkSession, tablePath: String, v: Long): Boolean = {
    val fs = fsFor(s, tablePath)
    val p = propsPath(tablePath, v)
    if (!fs.exists(p)) true
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      !txt.linesIterator.contains("dataChange=false")
    }
  }

  /** Record version `v`'s commit properties (currently just the
    * dataChange flag). Written BEFORE the manifest, like the schema —
    * the manifest stays the sole commit point. */
  private def writeProps(fs: FileSystem, tablePath: String, v: Long,
                         dataChange: Boolean): Unit = {
    val dst = propsPath(tablePath, v)
    fs.mkdirs(logDir(tablePath))
    val tmp = new Path(logDir(tablePath), s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"dataChange=$dataChange\n".getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst),
      s"props write lost the rename race for version $v at $dst")
  }

  /** Record version `v`'s schema. Written BEFORE the manifest (the
    * commit point), so it tolerates a torn predecessor: an existing
    * file for an uncommitted version is replaced. */
  private def writeSchema(fs: FileSystem, tablePath: String, v: Long,
                          schema: StructType): Unit = {
    val dst = schemaPath(tablePath, v)
    fs.mkdirs(logDir(tablePath))
    val tmp = new Path(logDir(tablePath), s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst),
      s"schema write lost the rename race for version $v at $dst")
  }

  /** Atomic, non-clobbering manifest write: tmp file + rename, and the
    * rename refuses an existing target — a racing second writer of the
    * same version fails instead of splitting history. */
  private[sources] def writeManifest(fs: FileSystem, tablePath: String,
                                     v: Long, files: Seq[String]): Unit = {
    val dst = manifestPath(tablePath, v)
    require(!fs.exists(dst), s"version $v already committed at $dst")
    fs.mkdirs(logDir(tablePath))
    val tmp = new Path(logDir(tablePath), s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write((files.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, dst),
      s"manifest commit lost the rename race for version $v at $dst")
  }

  /** Create the table: write `df` (which must carry every partition
    * column) as the hive-partitioned tree at `tablePath` and commit it
    * as version 0. Rebuild-on-miss like every [[Layouts]] artifact: an
    * existing tree (and its log) is replaced wholesale. Returns the v0
    * relation. */
  def init(s: SparkSession, tablePath: String, df: DataFrame,
           partCol: String): DataFrame =
    initMulti(s, tablePath, df, Seq(partCol))

  /** Multi-partition-column [[init]]: one nested directory level per
    * column, in order. */
  def initMulti(s: SparkSession, tablePath: String, df: DataFrame,
                partCols: Seq[String]): DataFrame = {
    require(partCols.nonEmpty, "a versioned table needs >= 1 partition column")
    val fs = fsFor(s, tablePath)
    fs.delete(new Path(tablePath), true)
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(tablePath)
    val files = leafDirs(fs, tablePath).flatMap(listDir(fs, tablePath, _))
    val dataCols = df.columns.filterNot(partCols.contains)
    writeSchema(fs, tablePath, 0L,
      StructType((dataCols ++ partCols).map(df.schema(_))))
    writeManifest(fs, tablePath, 0L, files)
    snapshot(s, tablePath, 0L)
  }

  /** Read the table AS OF `version` (default: latest): the manifest's
    * exact file list with `basePath` partition discovery, so the
    * partition column(s) and their pruning work on historical versions
    * exactly as on a plain tree. When the log records the version's
    * schema, the read serves exactly that schema — files written
    * before a schema evolution serve null for the late columns. */
  def snapshot(s: SparkSession, tablePath: String,
               version: Long = -1L): DataFrame = {
    val v = if (version < 0) currentVersion(s, tablePath) else version
    val files = manifest(s, tablePath, v)
    require(files.nonEmpty, s"version $v of $tablePath has no live files")
    schemaOf(s, tablePath, v) match {
      case Some(st) =>
        // manifest-driven read: the explicit-files index serves the
        // recorded schema with no listing job and no footer inference
        // (guide §6 metadata-scale reads — the listing alone was a
        // ~0.5 s Spark job per 240-file slice before r19)
        VersionedFileIndex.filesRelation(s, tablePath, files, st)
      case None =>
        s.read.option("basePath", tablePath)
          .parquet(files.map(f => s"$tablePath/$f"): _*)
    }
  }

  /** The INDEX-backed read ([[VersionedFileIndex]]): same relation as
    * [[snapshot]], but through a Catalyst `FileIndex` whose listing
    * is the manifest — partition pruning evaluates inside the index
    * on historical versions, and wiring a q54-style sidecar
    * (`statsPath` + data column → (min,max) sidecar column names)
    * makes zone-map data skipping automatic for ANY query over the
    * relation. The table-format integration shape (Delta's
    * TahoeFileIndex); [[snapshot]] stays as the dependency-free file-
    * list form. */
  def snapshotRelation(s: SparkSession, tablePath: String, partCol: String,
                       version: Long = -1L,
                       statsPath: Option[String] = None,
                       statsCols: Map[String, (String, String)] = Map.empty)
      : DataFrame =
    VersionedFileIndex.relation(s, tablePath, partCol, version,
      statsPath, statsCols)

  /** Multi-partition-column [[snapshotRelation]]. */
  def snapshotRelationMulti(s: SparkSession, tablePath: String,
                            partCols: Seq[String], version: Long = -1L,
                            statsPath: Option[String] = None,
                            statsCols: Map[String, (String, String)] =
                              Map.empty): DataFrame =
    VersionedFileIndex.relationMulti(s, tablePath, partCols, version,
      statsPath, statsCols)

  /** Row-level CHANGE DATA FEED from `fromV` (exclusive) to `toV`
    * (inclusive) — Delta's `table_changes`: every row-change event the
    * commits in that range produced, tagged
    * `change_type ∈ ('insert' | 'delete' | 'update_preimage' |
    * 'update_postimage')` plus the `change_version` that produced it.
    * A row an update touched emits BOTH images; a row a commit merely
    * carried (rewritten file, identical payload) emits nothing.
    *
    * Derivation is the MANIFEST DIFF, one consecutive version pair at
    * a time: the files only `fromV` names hold the before-state of
    * every rewritten directory, the files only `toV` names the
    * after-state — so the feed reads exactly the CHANGED SLICE (the
    * commit's copy-on-write footprint), never the table, and joins
    * before↔after once on the primary key (one exchange sized by the
    * slice). Commits flagged `dataChange=false` ([[commitOptimize]] /
    * [[commitOptimizeZOrder]]) are skipped without reading ANY data —
    * the flag is the difference between an O(metadata) and an
    * O(table) feed across a compaction, which is why Delta records it
    * per commit (the spec pins the skipped diff is genuinely empty).
    *
    * Events are emitted per COMMIT, not collapsed across the range —
    * a key updated in two commits yields two update pairs, which is
    * what makes the feed a valid incremental-maintenance input
    * (deltas telescope; [[graft.queries.CoreQueries.q65_cdf_maintenance]]).
    * Each step serves its own head version's schema; across a schema
    * evolution the union aligns by name, pre-evolution images serving
    * typed nulls for late columns. */
  def changeFeed(s: SparkSession, tablePath: String, fromV: Long,
                 toV: Long, key: String): DataFrame = {
    val to = if (toV < 0) currentVersion(s, tablePath) else toV
    require(fromV >= 0 && fromV < to,
      s"changeFeed needs 0 <= fromV < toV (got $fromV..$to)")
    val steps = (fromV until to).flatMap { v =>
      if (!dataChangeOf(s, tablePath, v + 1)) None
      else Some(diffFeed(s, tablePath, v, v + 1, key))
    }
    if (steps.isEmpty) {
      // every commit in range was a pure rewrite: empty feed, head
      // version's schema
      val st = schemaOf(s, tablePath, to)
        .getOrElse(snapshot(s, tablePath, to).schema)
      val full = StructType(st.fields ++ Seq(
        StructField("change_type", StringType, nullable = false),
        StructField("change_version", LongType, nullable = false)))
      s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), full)
    } else steps.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** One consecutive pair's feed from the raw manifest diff — the
    * fallback [[changeFeed]] takes when the commit may have changed
    * rows. `fromV = -1` means "before the table existed" (empty
    * before-set, so v0's whole snapshot feeds as inserts — what a CDF
    * STREAM serves as its first batch). Exposed to the spec so the
    * `dataChange=false` skip can be pinned against the diff it
    * avoids (both must be empty). */
  private[sources] def diffFeed(s: SparkSession, tablePath: String,
                                fromV: Long, toV: Long, key: String)
      : DataFrame = {
    val mFrom = if (fromV < 0) Set.empty[String]
      else manifest(s, tablePath, fromV).toSet
    val mTo = manifest(s, tablePath, toV).toSet
    val removed = (mFrom -- mTo).toSeq.sorted
    val added = (mTo -- mFrom).toSeq.sorted
    val st = schemaOf(s, tablePath, toV)
      .getOrElse(snapshot(s, tablePath, toV).schema)
    def slice(files: Seq[String]): DataFrame =
      if (files.isEmpty) s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), st)
      else VersionedFileIndex.filesRelation(s, tablePath, files, st)
    val cols = st.fieldNames.toSeq
    val after = slice(added)
    val before = slice(removed)
      .select(cols.map(c => col(c).as(s"_b_$c")).toIndexedSeq: _*)
    val j = before.join(after, col(s"_b_$key") === col(key), "full_outer")
    // payload-identical (null-safe over every column) = carried row
    val same = cols.map(c => col(s"_b_$c") <=> col(c)).reduce(_ && _)
    def img(prefix: String, ct: String) = struct(
      (cols.map(c => col(prefix + c).as(c)) :+
        lit(ct).as("change_type")).toIndexedSeq: _*)
    val events = when(col(key).isNull, array(img("_b_", "delete")))
      .when(col(s"_b_$key").isNull, array(img("", "insert")))
      .when(!same, array(img("_b_", "update_preimage"),
        img("", "update_postimage")))
      .otherwise(lit(null)) // carried row: explode(null) emits nothing
    j.select(explode(events).as("_ev"), lit(toV).as("change_version"))
      .select(col("_ev.*"), col("change_version"))
  }

  /** Apply a CDC changeset (same contract as
    * [[graft.operators.MergeInto]]: key + op 'U'|'D'|'I' + payload
    * incl. the partition column(s)) as a new COMMIT, and return its
    * version.
    *
    * The merge itself is [[graft.operators.MergeInto.apply]] over the
    * current snapshot FILTERED to the affected partitions — the
    * copy-on-write decomposition — but the write is `Append`: the
    * affected directories gain fresh files holding their merged state
    * while their old files stay on disk for history, and the new
    * manifest = (previous manifest minus every file in an affected
    * directory) + the appended files. A partition whose rows were all
    * deleted simply contributes no new files — no directory delete to
    * get right, the manifest just stops listing it (contrast the
    * resurrect-on-full-delete trap copyOnWrite must handle).
    *
    * `partitionKeyImmutable` is the same production fast path as
    * copyOnWrite's: affected partitions from the changeset alone, no
    * snapshot probe — and the same documented stale-survivor hazard
    * if the caller breaks the contract.
    *
    * `evolveSchema = true` lets the changeset carry columns the
    * snapshot lacks: the commit widens the relation (carried rows
    * serve a typed null), records the evolved schema in the log, and
    * HISTORICAL versions keep serving their own narrower schema —
    * Delta's schema-evolution-on-merge. With the default `false`, an
    * arriving unknown column is an ERROR (fail loudly, never silently
    * drop — the r17 verdict's contract). */
  def commitMerge(s: SparkSession, tablePath: String, partCol: String,
                  changes: DataFrame, key: String,
                  partitionKeyImmutable: Boolean = false,
                  hooks: Seq[StatsStore.PostRewriteHook] = Nil,
                  evolveSchema: Boolean = false): Long =
    commitMergeMulti(s, tablePath, Seq(partCol), changes, key,
      partitionKeyImmutable, hooks, evolveSchema)

  /** Multi-partition-column [[commitMerge]]. Post-rewrite hooks are
    * single-column machinery ([[StatsStore.PostRewriteHook]] carries
    * one `partCol`) — pass them through the single-column entry
    * point. */
  def commitMergeMulti(s: SparkSession, tablePath: String,
                       partCols: Seq[String], changes: DataFrame,
                       key: String,
                       partitionKeyImmutable: Boolean = false,
                       hooks: Seq[StatsStore.PostRewriteHook] = Nil,
                       evolveSchema: Boolean = false): Long = {
    require(partCols.nonEmpty)
    require(hooks.isEmpty || partCols.size == 1,
      "post-rewrite hooks are single-partition-column machinery")
    val fs = fsFor(s, tablePath)
    val v = currentVersion(s, tablePath)
    require(v >= 0, s"$tablePath is not a versioned table (no log)")
    val prev = manifest(s, tablePath, v)
    val snap0 = snapshot(s, tablePath, v)
    // schema evolution: a changeset column the snapshot lacks widens
    // the relation; carried rows serve a typed null. Without the
    // opt-in it is an error — never a silent drop.
    val newCols = changes.columns
      .filterNot(c => c == "op" || snap0.columns.contains(c)).toSeq
    require(evolveSchema || newCols.isEmpty,
      s"changeset carries column(s) ${newCols.mkString(", ")} the " +
        "snapshot lacks — pass evolveSchema = true to widen the schema")
    val snap = if (newCols.isEmpty) snap0
      else snap0.select(snap0.columns.map(col).toIndexedSeq ++
        newCols.map(c => lit(null).cast(changes.schema(c).dataType).as(c)): _*)
    val touched = broadcast(
      changes.filter(col("op").isin("U", "D")).select(col(key)))
    val arriving = changes.filter(col("op").isin("U", "I")).drop("op")
    // cast to the snapshot's partition types — the boxed-equality
    // hazard documented at MergeInto.copyOnWrite
    val partTypes = partCols.map(c => snap.schema(c).dataType)
    def partSel(df: DataFrame) = df.select(
      partCols.zip(partTypes).map { case (c, t) => col(c).cast(t) }
        .toIndexedSeq: _*)
    val parts: Seq[Seq[Any]] = (if (partitionKeyImmutable)
        partSel(changes)
      else partSel(snap.join(touched, Seq(key), "left_semi"))
        .union(partSel(arriving)))
      .distinct().collect().map(_.toSeq).toSeq
    if (parts.isEmpty) return v // empty changeset: no new version
    // single column keeps the isInCollection (→ Catalyst In) shape;
    // multi-column is an OR of per-column conjunctions over the
    // |affected dirs| tuples — bounded by the batch's footprint
    val inAffected = if (partCols.size == 1) {
      val (nullPart, defined) = parts.map(_.head).partition(_ == null)
      ((if (defined.nonEmpty)
          Seq(col(partCols.head).isInCollection(defined)) else Nil) ++
        (if (nullPart.nonEmpty) Seq(col(partCols.head).isNull) else Nil)
      ).reduce(_ || _)
    } else parts.map { tuple =>
      partCols.zip(tuple).map { case (c, pv) =>
        if (pv == null) col(c).isNull else col(c) === lit(pv)
      }.reduce(_ && _)
    }.reduce(_ || _)
    val affectedDirs = parts.map(dirNameOf(partCols, _))
    val before = affectedDirs.flatMap(listDir(fs, tablePath, _)).toSet
    val merged = graft.operators.MergeInto(snap.filter(inAffected),
      changes, key)
    // Append never deletes, and the snapshot scan's file list was
    // resolved at planning, so writing into the directories being read
    // is safe — no localCheckpoint needed (copyOnWrite pays one only
    // because dynamic OVERWRITE deletes the files it reads).
    val dataCols = snap.columns.filterNot(partCols.contains)
    val outCols = dataCols ++ partCols
    // One slice-sized hash exchange on the partition key clusters the
    // merged slice before the write (Iceberg's
    // write.distribution-mode=hash): each affected directory gets
    // ceil(dirBytes/target) files instead of one file per upstream
    // task per directory. Width derives from the slice's on-disk
    // bytes ([[commitWriteWidth]]); the key-hash slot splits a
    // directory that outgrows one target file across tasks.
    val width = commitWriteWidth(dirsBytes(fs, tablePath, affectedDirs))
    val slotsPerDir = (width.toLong + parts.size - 1) / parts.size
    val slot = pmod(xxhash64(col(key)), lit(slotsPerDir))
    merged.select(outCols.map(col).toIndexedSeq: _*)
      .repartition(width, (partCols.map(col) :+ slot).toIndexedSeq: _*)
      .write.mode(SaveMode.Append).partitionBy(partCols: _*)
      .parquet(tablePath)
    val newFiles = affectedDirs.flatMap(listDir(fs, tablePath, _))
      .toSet -- before
    val survivors = prev.filterNot(f =>
      affectedDirs.exists(d => f.startsWith(d + "/")))
    // A maintenance verb must refuse to lose rows: the new version
    // must hold exactly the merged state of the affected slice plus
    // the untouched survivors. Cheap footer-count audit, same
    // rationale as Compaction's.
    val schemaSrc = merged.select(outCols.map(col).toIndexedSeq: _*).schema
    val expected = merged.count()
    val got = if (newFiles.isEmpty) 0L
      else VersionedFileIndex.filesRelation(s, tablePath,
        newFiles.toSeq.sorted, schemaSrc).count()
    require(expected == got,
      s"commit $v+1 on $tablePath: merged slice has $expected rows but " +
        s"the appended files hold $got — partition rendering diverged")
    preCommitHook()
    // schema BEFORE manifest: the manifest is the sole commit point
    writeSchema(fs, tablePath, v + 1, schemaSrc)
    writeManifest(fs, tablePath, v + 1, survivors ++ newFiles)
    // Post-commit maintenance, the copyOnWrite hook contract — but
    // note a plain StatsStore.DirStatsHook is WRONG on a versioned
    // table (a directory read would also aggregate the retired
    // history files still on disk); pass [[statsHook]], which reads
    // through the new version's manifest.
    hooks.foreach(_.afterRewrite(s, tablePath, partCols.head,
      parts.map(_.head)))
    v + 1
  }

  /** APPEND-ONLY ingest commit — the landing verb streaming ingestion
    * runs (Delta's `mode(Append)` write): `df`'s rows land as fresh
    * files in their partition directories and the new manifest is
    * previous ∪ new — NO file is retired, so the commit is
    * append-only by construction and a downstream streaming reader
    * ([[VersionedStreamSource]]) serves exactly the added files as
    * one increment. Contrast [[commitMerge]], which rewrites each
    * affected directory's state (retiring its old files) even for a
    * pure-insert changeset. Schema must match the current snapshot's
    * (evolution goes through commitMerge). Returns the new version;
    * an empty `df` commits nothing and returns the current one. */
  def commitAppend(s: SparkSession, tablePath: String,
                   partCols: Seq[String], df: DataFrame): Long = {
    val fs = fsFor(s, tablePath)
    val v = currentVersion(s, tablePath)
    require(v >= 0, s"$tablePath is not a versioned table (no log)")
    val prev = manifest(s, tablePath, v)
    val snapSchema = schemaOf(s, tablePath, v)
      .getOrElse(snapshot(s, tablePath, v).schema)
    require(df.columns.toSet == snapSchema.fieldNames.toSet,
      s"append schema ${df.columns.sorted.mkString(",")} must match the " +
        s"table's ${snapSchema.fieldNames.sorted.mkString(",")} — evolve " +
        "through commitMerge(evolveSchema = true)")
    val partTypes = partCols.map(c => snapSchema(c).dataType)
    // bounded partition-value probe (the O9 shape): |affected leaf
    // dirs| rows — the batch's footprint, never the table
    val parts: Seq[Seq[Any]] = df.select(
        partCols.zip(partTypes).map { case (c, t) => col(c).cast(t) }
          .toIndexedSeq: _*)
      .distinct().collect().map(_.toSeq).toSeq
    if (parts.isEmpty) return v
    val affectedDirs = parts.map(dirNameOf(partCols, _))
    val before = affectedDirs.flatMap(listDir(fs, tablePath, _)).toSet
    val dataCols = snapSchema.fieldNames.filterNot(partCols.contains)
    val outCols = dataCols ++ partCols
    // Size the landing write like the merge commit's (see
    // commitMergeMulti): the batch isn't on disk yet, so width comes
    // from the optimizer's size estimate, clamped by the launch-time
    // shuffle width as a mis-estimate guard (a deployment ingesting
    // more than shufflePartitions × target per batch raises shuffle
    // partitions anyway). The LAUNCH value, not the session's: a
    // scope that pins the session's width (the streaming runners'
    // state-partition scope pins it as low as 1) must not size a
    // write it wasn't meant for.
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
    val launchWidth = s.sparkContext.getConf.getInt(
      SQLConf.SHUFFLE_PARTITIONS.key, SQLConf.SHUFFLE_PARTITIONS.defaultValue.get)
    val width = math.min(commitWriteWidth(est), math.max(1, launchWidth))
    val slotsPerDir = (width.toLong + parts.size - 1) / parts.size
    val slot = pmod(xxhash64(dataCols.map(col).toIndexedSeq: _*),
      lit(slotsPerDir))
    df.select(outCols.map(col).toIndexedSeq: _*)
      .repartition(width, (partCols.map(col) :+ slot).toIndexedSeq: _*)
      .write.mode(SaveMode.Append).partitionBy(partCols: _*)
      .parquet(tablePath)
    val newFiles = affectedDirs.flatMap(listDir(fs, tablePath, _))
      .toSet -- before
    val expected = df.count()
    val got = if (newFiles.isEmpty) 0L
      else VersionedFileIndex.filesRelation(s, tablePath,
        newFiles.toSeq.sorted,
        StructType(outCols.map(snapSchema(_)))).count()
    require(expected == got,
      s"append commit on $tablePath: batch has $expected rows but the " +
        s"landed files hold $got — partition rendering diverged")
    preCommitHook()
    writeSchema(fs, tablePath, v + 1, snapSchema)
    writeManifest(fs, tablePath, v + 1, prev ++ newFiles)
    v + 1
  }

  /** Test seam: invoked after a merge commit's data write and row
    * audit, immediately before its manifest write — lets a spec
    * interleave a RACING writer at exactly the window where the
    * optimistic-concurrency conflict arises, deterministically
    * (racing two real Spark writes would contend on the shared
    * `_temporary` staging directory instead). Default no-op. */
  private[sources] var preCommitHook: () => Unit = () => ()

  /** [[commitMerge]] under OPTIMISTIC CONCURRENCY: when the commit
    * loses the manifest race to another writer (the loud
    * "already committed" / "lost the rename race" failure), re-read
    * the NOW-current version, re-diff, and re-commit — the
    * retry-with-rebase loop a production log store's putIfAbsent
    * arbitration implies. Safe because a lost attempt's appended data
    * files are never named by any manifest: the retry re-lists the
    * affected directories BEFORE its own append, so the strays stay
    * structurally invisible and [[vacuum]] eventually sweeps them.
    * Only version conflicts retry; any other failure (the
    * row-preservation audit, say) stays loud. */
  def commitMergeWithRetry(s: SparkSession, tablePath: String,
                           partCol: String, changes: DataFrame, key: String,
                           partitionKeyImmutable: Boolean = false,
                           hooks: Seq[StatsStore.PostRewriteHook] = Nil,
                           maxAttempts: Int = 5): Long = {
    var attempt = 1
    while (true) {
      try {
        return commitMerge(s, tablePath, partCol, changes, key,
          partitionKeyImmutable, hooks)
      } catch {
        case e: IllegalArgumentException
            if attempt < maxAttempts &&
              (e.getMessage.contains("already committed") ||
                e.getMessage.contains("lost the rename race")) =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A [[StatsStore.PostRewriteHook]] that is correct on a VERSIONED
    * table: the refresh must aggregate the LIVE file set of the
    * latest version (a plain directory read would also count the
    * retired history files still on disk). Splices like
    * [[StatsStore.refreshDirStats]], reading through [[snapshot]]. */
  def statsHook(statsPath: String, cols: Seq[StatsStore.ColSpec],
                ndv: Option[StatsStore.NdvSpec] = None)
      : StatsStore.PostRewriteHook = new StatsStore.PostRewriteHook {
    def afterRewrite(s: SparkSession, treePath: String, partCol: String,
                     rewrittenParts: Seq[Any]): Unit = {
      if (rewrittenParts.isEmpty) return
      val snap = snapshot(s, treePath)
      val (nullPart, defined) = rewrittenParts.partition(_ == null)
      val pred = (
        (if (defined.nonEmpty) Seq(col(partCol).isInCollection(defined))
         else Nil) ++
        (if (nullPart.nonEmpty) Seq(col(partCol).isNull) else Nil)
      ).reduce(_ || _)
      StatsStore.spliceDirStats(s, statsPath, partCol, rewrittenParts,
        StatsStore.dirStats(snap.filter(pred), partCol, cols, ndv))
    }
  }

  /** OPTIMIZE as a commit — [[Compaction]]'s verb inside the version
    * log: rewrite the CURRENT version's live files into
    * ceil(bytes/target) per directory and commit the result as a new
    * version with the IDENTICAL relation. Because the write is
    * append-only like every commit, time travel across an optimize
    * is free: version N-1 still reads the small files, version N the
    * compacted ones, and [[vacuum]] reclaims the former when the
    * retention horizon passes — exactly Delta's OPTIMIZE +
    * VACUUM lifecycle. Returns the new version. */
  def commitOptimize(s: SparkSession, tablePath: String, partCol: String,
                     targetBytes: Long): Long = {
    val fs = fsFor(s, tablePath)
    val v = currentVersion(s, tablePath)
    require(v >= 0, s"$tablePath is not a versioned table (no log)")
    val live = manifest(s, tablePath, v)
    // per-directory byte totals from the LIVE set only (metadata-
    // scale), the filePlan shape with retired files excluded
    val dirBytes = live.groupBy(f => f.substring(0, f.lastIndexOf('/')))
      .map { case (d, fsn) =>
        d -> fsn.map(f => fs.getFileStatus(new Path(tablePath, f)).getLen).sum
      }
    val plan = dirBytes.map { case (d, b) =>
      d -> math.max(1L, (b + targetBytes - 1) / targetBytes).toInt }
    val snap = snapshot(s, tablePath, v)
    val dataCols = snap.columns.filter(_ != partCol)
    import scala.jdk.CollectionConverters._
    // plan keys are manifest dir names (hive-ESCAPED); the join side
    // compares against the data column's cast-to-string rendering, so
    // unescape like Compaction.filePlan (null sentinel stays literal)
    val planDf = broadcast(s.createDataFrame(
      plan.toSeq.map { case (d, nf) =>
        val pv = d.split("=", 2)(1)
        val un = if (pv == HiveNull) pv
          else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(pv)
        org.apache.spark.sql.Row(un, nf) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_pv",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_nf",
          org.apache.spark.sql.types.IntegerType, nullable = false)))))
    val width = math.max(1, plan.values.sum)
    val affectedDirs = plan.keys.toSeq
    val before = affectedDirs.flatMap(listDir(fs, tablePath, _)).toSet
    snap
      .join(planDf,
        coalesce(col(partCol).cast("string"),
          lit(HiveNull)) === col("_pv"))
      .withColumn("_slot",
        pmod(xxhash64(dataCols.map(col).toIndexedSeq: _*),
          col("_nf").cast("long")))
      .repartition(width, col(partCol), col("_slot"))
      .drop("_pv", "_nf", "_slot")
      .write.mode(SaveMode.Append).partitionBy(partCol).parquet(tablePath)
    commitRewrite(s, fs, tablePath, v, snap, affectedDirs, before,
      Seq(partCol))
  }

  /** OPTIMIZE ZORDER BY as a commit — [[commitOptimize]]'s rewrite
    * routed through [[ZOrderedWrite]]'s cluster key (the composition
    * Delta ships as its single most-used maintenance verb): the
    * CURRENT version's rows are re-binned so that, within each
    * partition directory, files tile the (dimA, dimB) plane as
    * near-square z-ranges — parquet min/max row-group pruning then
    * works for predicates on EITHER or BOTH dims, where a 1-D sort
    * bounds only its own column. Relation-IDENTICAL (the z-value
    * never reaches the data — it exists only in the exchange and the
    * in-task sort), history reads across it, vacuum reclaims the
    * pre-optimize files: a commit like any other.
    *
    * `filesPerDir` sizes the range split (per directory, approximate:
    * range boundaries come from Spark's reservoir sample over the
    * whole table, so per-directory file counts are proportional to
    * row share). At 100 TB pick ≈ one row-group-multiple per file,
    * exactly [[ZOrderedWrite.write]]'s dial. */
  def commitOptimizeZOrder(s: SparkSession, tablePath: String,
                           partCol: String, dimA: String, dimB: String,
                           filesPerDir: Int = 1): Long = {
    val fs = fsFor(s, tablePath)
    val v = currentVersion(s, tablePath)
    require(v >= 0, s"$tablePath is not a versioned table (no log)")
    val live = manifest(s, tablePath, v)
    val affectedDirs = live.map(f => f.substring(0, f.lastIndexOf('/')))
      .distinct
    val snap = snapshot(s, tablePath, v)
    val width = math.max(1, affectedDirs.size * math.max(1, filesPerDir))
    val before = affectedDirs.flatMap(listDir(fs, tablePath, _)).toSet
    // EXPLICIT width: a count-free repartitionByRange is AQE-
    // coalescible on small inputs, which would fold the planned
    // z-tiling into one file (the PartitionedWrite/Compaction lesson).
    // The range boundaries come from a sample seeded with the RDD id,
    // so the tiling (not the relation) varies with how many RDDs the
    // context created before this commit.
    snap.withColumn("_zv", ZOrderedWrite.zvalColumn(snap, dimA, dimB))
      .repartitionByRange(width, col(partCol), col("_zv"))
      .sortWithinPartitions(col(partCol), col("_zv"))
      .drop("_zv")
      .write.mode(SaveMode.Append).partitionBy(partCol).parquet(tablePath)
    commitRewrite(s, fs, tablePath, v, snap, affectedDirs, before,
      Seq(partCol))
  }

  /** Shared tail of the full-rewrite commits ([[commitOptimize]],
    * [[commitOptimizeZOrder]]): collect the appended files, audit row
    * preservation, carry the schema, commit. */
  private def commitRewrite(s: SparkSession, fs: FileSystem,
                            tablePath: String, v: Long, snap: DataFrame,
                            affectedDirs: Seq[String], before: Set[String],
                            partCols: Seq[String]): Long = {
    val newFiles = affectedDirs.flatMap(listDir(fs, tablePath, _))
      .toSet -- before
    val dataCols = snap.columns.filterNot(partCols.contains)
    val expected = snap.count()
    val got = VersionedFileIndex.filesRelation(s, tablePath,
      newFiles.toSeq.sorted,
      StructType((dataCols ++ partCols).map(snap.schema(_)))).count()
    require(expected == got,
      s"optimize on $tablePath must be row-preserving: live $expected " +
        s"rows but rewrote $got")
    writeSchema(fs, tablePath, v + 1,
      StructType((dataCols ++ partCols).map(snap.schema(_))))
    // a pure rewrite rearranges rows without changing any — record it,
    // so the change feed can skip this version without a diff
    writeProps(fs, tablePath, v + 1, dataChange = false)
    writeManifest(fs, tablePath, v + 1, newFiles.toSeq)
    v + 1
  }

  /** Reclaim history older than `keepFrom`: drop every version with
    * version < keepFrom and every data file referenced ONLY by those
    * versions. Snapshots ≥ keepFrom are untouched (their shared files
    * are retained). Returns the deleted data-file paths (relative).
    *
    * CRASH-CONSISTENT ordering (r17 verdict item 7): the dropped
    * manifests are deleted FIRST, the orphaned data files swept
    * SECOND — so the invariant "every manifest that exists is fully
    * readable" holds through a crash at any point. A torn vacuum
    * (manifests gone, some orphans left) re-runs to completion: the
    * orphan sweep keys off the SURVIVING manifests, not the dropped
    * list. (The reverse order would leave manifests naming deleted
    * files — a time-travel read would FileNotFound instead of
    * failing cleanly as "version vacuumed".)
    *
    * The one verb that is inherently O(|physical files|): it must
    * sweep the tree for orphans — production runs it on the same
    * retention cadence Delta's VACUUM does. */
  def vacuum(s: SparkSession, tablePath: String,
             keepFrom: Long): Seq[String] = {
    val fs = fsFor(s, tablePath)
    val all = versions(s, tablePath)
    val (drop, keep) = all.partition(_ < keepFrom)
    require(keep.nonEmpty, s"vacuum would delete every version of " +
      s"$tablePath (keepFrom=$keepFrom, latest=${all.lastOption.orNull})")
    // 1. drop the manifests (and their schema sidecars) — from this
    //    point every existing manifest references only retained files
    drop.foreach { dv =>
      fs.delete(manifestPath(tablePath, dv), false)
      fs.delete(schemaPath(tablePath, dv), false)
      fs.delete(propsPath(tablePath, dv), false)
    }
    // 2. sweep data files no SURVIVING manifest references
    val live = keep.flatMap(manifest(s, tablePath, _)).toSet
    val dirs = leafDirs(fs, tablePath)
    val orphans = dirs.flatMap(listDir(fs, tablePath, _))
      .filterNot(live).sorted
    orphans.foreach(f => fs.delete(new Path(tablePath, f), false))
    // 3. drop now-empty partition directories (leaves first, then any
    //    emptied parents) so the tree stays listable
    dirs.sortBy(-_.length).foreach { d =>
      var p = new Path(tablePath, d)
      while (p.getName.contains("=") && fs.exists(p) &&
          fs.listStatus(p).isEmpty) {
        fs.delete(p, false)
        p = p.getParent
      }
    }
    orphans
  }
}
