package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A Catalyst [[FileIndex]] over one VERSION of a
  * [[VersionedTable]] — the architecture a table format plugs into
  * Spark with (Delta's TahoeFileIndex, Iceberg's SparkScan): the
  * scan's file listing comes from the version's MANIFEST, not a
  * directory walk, so retired history files are structurally
  * invisible to the plan, and the two pruning tiers run INSIDE the
  * index at planning time:
  *
  *  - `partitionFilters` evaluate against each live directory's
  *    partition values — ordinary partition pruning, on a historical
  *    version, over ONE OR MORE partition columns (a
  *    (month, source)-style layout prunes on either or both);
  *  - `dataFilters` consult the (optional) q54-style stats sidecar:
  *    a conjunct of comparisons on a column with recorded [min, max]
  *    envelopes drops directories whose envelope DEFINITIVELY misses
  *    the window — q55's zone-map skip, AUTOMATIC for any query over
  *    the relation instead of hand-written in the query function.
  *    Unsupported predicate shapes prune nothing, a directory absent
  *    from the sidecar (or with null bounds) stays live, and the
  *    null partition directory participates through the sidecar's
  *    own null row — fail-open at every edge (superset-safe by
  *    construction; the residual predicate still runs in the scan).
  *
  * The sidecar probe is a |directories|-row local query at planning
  * time — exactly what reading a format's checkpoint stats costs —
  * MEMOIZED per canonical envelope predicate: Catalyst may call
  * `listFiles` several times per query (and again under AQE
  * re-planning), and the probe is a Spark action; one sidecar job per
  * distinct predicate, not per call ([[probeRuns]] pins it).
  * Instances are per-version immutable ([[refresh]] is a no-op);
  * [[VersionedTable.snapshotRelation]] wires one into a
  * `HadoopFsRelation` so the reader is Spark's own parquet scan with
  * all its pushdown intact.
  */
class VersionedFileIndex(
    s: SparkSession, tablePath: String, partCols: Seq[String], version: Long,
    statsPath: Option[String] = None,
    statsCols: Map[String, (String, String)] = Map.empty)
    extends FileIndex {

  require(partCols.nonEmpty, "a versioned table has >= 1 partition column")

  private val byDir: Seq[(List[String], Array[FileStatus])] =
    VersionedFileIndex.statusesByDir(s, tablePath,
      VersionedTable.manifest(s, tablePath, version))

  /** Per-column partition type by the narrow hive-style inference
    * shared with [[ZoneMapFileIndex]] (int → long → string; the
    * layouts in this repo key on int months and short strings —
    * richer inference belongs to the writer's catalog). */
  private val partTypes: Seq[DataType] =
    partCols.indices.map(i => ZoneMap.inferPartType(byDir.map(_._1(i))))

  override val partitionSchema: StructType =
    StructType(partCols.zip(partTypes).map { case (c, t) =>
      StructField(c, t, nullable = true) })

  private def rowOf(raws: List[String]): InternalRow =
    InternalRow.fromSeq(raws.zip(partTypes).map { case (r, t) =>
      ZoneMap.valueOf(r, t) })

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def refresh(): Unit = () // a version is immutable

  override def sizeInBytes: Long =
    byDir.iterator.flatMap(_._2).map(_.getLen).sum

  override def inputFiles: Array[String] =
    byDir.iterator.flatMap(_._2).map(_.getPath.toString).toArray

  private val probeMemo = scala.collection.concurrent.TrieMap
    .empty[String, Set[List[String]]]
  /** Sidecar Spark actions actually run — the memoization pin. */
  private[graft] val probeRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Directories (as per-column partition-value renderings, nulls
    * preserved) whose sidecar envelope definitively misses
    * `dataFilters`, or None when no sidecar / no supported conjunct.
    * Fail-open per [[ZoneMap.prunedSet]]: a directory the sidecar
    * doesn't list — including the null partition when its row is
    * absent — is never pruned. */
  private def prunedDirs(dataFilters: Seq[Expression])
      : Option[Set[List[String]]] =
    statsPath.flatMap { sp =>
      ZoneMap.envelopePredicate(dataFilters, statsCols).map { pred =>
        probeMemo.getOrElseUpdate(pred.toString, {
          probeRuns.incrementAndGet()
          ZoneMap.prunedSet(s, sp,
            partCols.map(c => col(c).cast("string")), pred)
        })
      }
    }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    // bind each partition column's predicate to its slot
    val slot = partCols.zipWithIndex.toMap
    val partPred = partitionFilters.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And.apply).map { e =>
      Predicate.create(e.transform {
        case a: AttributeReference if slot.contains(a.name) =>
          BoundReference(slot(a.name), partTypes(slot(a.name)),
            nullable = true)
      })
    }
    val pruned = prunedDirs(dataFilters)
    byDir.iterator
      .map { case (raws, files) => (raws, rowOf(raws), files) }
      .filter { case (raws, row, _) =>
        partPred.forall(_.eval(row)) &&
          pruned.forall(p => !p.contains(raws))
      }
      .map { case (_, row, files) =>
        PartitionDirectory(row, files)
      }
      .toSeq
  }
}

/** A Catalyst [[FileIndex]] over an EXPLICIT file list with a KNOWN
  * partition schema — the read primitive behind every manifest-driven
  * slice read ([[VersionedTable.snapshot]], the change feed's
  * before/after slices, commit audits, and the streaming source's
  * per-batch increments).
  *
  * The point is what it does NOT do: no directory listing and no
  * footer schema inference. `spark.read.parquet(file, file, …)` over
  * an N-file manifest slice runs a "listing leaf files" Spark JOB of
  * N tasks per read (measured r19: ~0.5 s per 240-path slice, several
  * times per change-feed query — pure metadata overhead the manifest
  * already paid for), and re-infers the schema from footers the log
  * already records. Here the driver resolves the N `FileStatus`es
  * with one listing per directory (a production manifest stores them
  * inline) and hands Spark a ready listing; partition values
  * parse from the hive directory names against the RECORDED types, so
  * partition pruning still evaluates inside the index.
  */
private[sources] class ExplicitFilesIndex(
    s: SparkSession, tablePath: String, files: Seq[String],
    override val partitionSchema: StructType)
    extends FileIndex {

  private val partTypes: Seq[DataType] =
    partitionSchema.fields.map(_.dataType).toSeq

  /** (partition values, file statuses) per directory, ordered by the
    * relative directory path. */
  private val byDir: Seq[(InternalRow, Array[FileStatus])] =
    VersionedFileIndex.statusesByDir(s, tablePath, files).map {
      case (raws, sts) =>
        InternalRow.fromSeq(raws.zip(partTypes).map {
          case (r, t) => ZoneMap.valueOf(r, t) }) -> sts
    }

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def refresh(): Unit = () // an explicit file list is immutable

  override def sizeInBytes: Long =
    byDir.iterator.flatMap(_._2).map(_.getLen).sum

  override def inputFiles: Array[String] =
    byDir.iterator.flatMap(_._2).map(_.getPath.toString).toArray

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val slot = partitionSchema.fieldNames.zipWithIndex.toMap
    val partPred = partitionFilters.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And.apply).map { e =>
      Predicate.create(e.transform {
        case a: AttributeReference if slot.contains(a.name) =>
          BoundReference(slot(a.name), partTypes(slot(a.name)),
            nullable = true)
      })
    }
    byDir.iterator
      .filter { case (row, _) => partPred.forall(_.eval(row)) }
      .map { case (row, sts) => PartitionDirectory(row, sts) }
      .toSeq
  }
}

/** Companion read API — see [[VersionedTable.snapshotRelation]]. */
object VersionedFileIndex {

  /** (per-column unescaped value renderings, file statuses) per
    * directory of `files` (paths relative to `tablePath`), ordered by
    * the relative directory path (never by the unescaped values,
    * which are null for `__HIVE_DEFAULT_PARTITION__`), each
    * directory's statuses in `files` order. One `listStatus` per
    * directory, keeping the statuses `files` names: driver RPCs scale
    * with directories, not files (a directory may also hold retired
    * history files, which the listing returns and this drops). */
  private[sources] def statusesByDir(s: SparkSession, tablePath: String,
      files: Seq[String]): Seq[(List[String], Array[FileStatus])] = {
    val fs = new Path(tablePath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    files.groupBy(f => f.substring(0, f.lastIndexOf('/'))).toSeq.sortBy(_._1)
      .map { case (dir, fsn) =>
        val raws = dir.split("/").toList.map { seg =>
          val r = seg.split("=", 2)(1)
          if (r == "__HIVE_DEFAULT_PARTITION__") null
          else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(r)
        }
        val listed = fs.listStatus(new Path(tablePath, dir))
          .map(st => st.getPath.getName -> st).toMap
        raws -> fsn.map { f =>
          listed.getOrElse(f.substring(f.lastIndexOf('/') + 1),
            throw new java.io.FileNotFoundException(
              s"$tablePath/$f is in the file list but not on disk"))
        }.toArray
      }
  }

  /** Partition-value types [[ExplicitFilesIndex]] can parse back out
    * of a hive directory name ([[ZoneMap.valueOf]]'s domain). */
  private def pathParseable(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** DataFrame over exactly `files` (paths relative to `tablePath`,
    * hive-partitioned one or more levels deep) serving `fullSchema`
    * (data columns AND partition columns, the recorded-manifest
    * order) — [[ExplicitFilesIndex]] wired into a `HadoopFsRelation`,
    * so the read is Spark's own parquet scan with pushdown intact but
    * with ZERO listing/inference work. Falls back to the plain
    * `spark.read.schema(...).parquet(...)` path when a partition
    * value type isn't path-parseable (exotic layouts keep working,
    * just without the fast path). */
  private[sources] def filesRelation(s: SparkSession, tablePath: String,
                                     files: Seq[String],
                                     fullSchema: StructType): DataFrame = {
    require(files.nonEmpty, s"filesRelation on $tablePath needs >= 1 file")
    val partCols = files.head.substring(0, files.head.lastIndexOf('/'))
      .split("/").toSeq.map(_.split("=", 2)(0))
    val known = partCols.forall(c => fullSchema.fieldNames.contains(c))
    if (!known ||
        !partCols.forall(c => pathParseable(fullSchema(c).dataType))) {
      return s.read.schema(fullSchema).option("basePath", tablePath)
        .parquet(files.map(f => s"$tablePath/$f"): _*)
        .select(fullSchema.fieldNames.map(col).toIndexedSeq: _*)
    }
    val partSchema = StructType(partCols.map(c => fullSchema(c)))
    val dataSchema =
      StructType(fullSchema.filterNot(f => partCols.contains(f.name)))
    val idx = new ExplicitFilesIndex(s, tablePath, files, partSchema)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx, partSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat, Map.empty)(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    ColumnBridge.ofRows(s,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
      .select(fullSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Single-partition-column form of [[relationMulti]]. */
  def relation(s: SparkSession, tablePath: String, partCol: String,
               version: Long = -1L, statsPath: Option[String] = None,
               statsCols: Map[String, (String, String)] = Map.empty)
      : DataFrame =
    relationMulti(s, tablePath, Seq(partCol), version, statsPath, statsCols)

  /** The index-backed DataFrame over version `v` of the table:
    * Spark's parquet scan over a `HadoopFsRelation` whose listing IS
    * the manifest. `stats` optionally wires a q54-style sidecar for
    * automatic zone-map skipping: data column → (min, max) sidecar
    * column names (the sidecar must carry every partition column). */
  def relationMulti(s: SparkSession, tablePath: String,
                    partCols: Seq[String], version: Long = -1L,
                    statsPath: Option[String] = None,
                    statsCols: Map[String, (String, String)] = Map.empty)
      : DataFrame = {
    val v = if (version < 0) VersionedTable.currentVersion(s, tablePath)
      else version
    val idx = new VersionedFileIndex(s, tablePath, partCols, v,
      statsPath, statsCols)
    val first = idx.inputFiles.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"version $v of $tablePath has no live files"))
    // data schema from the version's RECORDED schema when the log has
    // one (schema-evolution commits mix files with and without the
    // late column — the recorded schema serves nulls for the carried
    // files), else from one footer (every file of a non-evolved
    // version shares the writer's schema).
    val dataSchema = VersionedTable.schemaOf(s, tablePath, v)
      .map(st => StructType(st.filterNot(f => partCols.contains(f.name))))
      .getOrElse(s.read.parquet(first).schema)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx, idx.partitionSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat, Map.empty)(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    ColumnBridge.ofRows(s,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
  }
}
