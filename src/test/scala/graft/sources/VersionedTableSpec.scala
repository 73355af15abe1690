package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[VersionedTable]]'s commit-log contract on inline data: every
  * historical version reads exactly its state, commits append (old
  * files retained, untouched files SHARED between manifests and
  * byte-identical on disk), full-deletes just drop out of the
  * manifest, vacuum reclaims precisely the unreferenced files, and
  * the log refuses to clobber a version. q57's registry hash pins the
  * same machine against the set-algebra oracle at every SF.
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ms(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col)
    df.select(cols.toIndexedSeq: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  /** file name → (length, mtime) for one partition directory. */
  private def files(path: String, dir: String): Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path, dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).iterator
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
        && !f.getPath.getName.startsWith("."))
      .map(f => f.getPath.getName -> (f.getLen, f.getModificationTime))
      .toMap
  }

  private def table = (0L until 32L)
    .map(k => (k, s"n$k", k * 1.0, s"p${k % 4}"))
    .toDF("k", "name", "v", "part")

  private def b1 = Seq(
    (1L, "upd", 111.0, "p1", "U"),
    (2L, "del", 0.0, "p2", "D"),
    (101L, "ins1", 101.0, "p1", "I"),
    (109L, "ins9", 109.0, "p9", "I")
  ).toDF("k", "name", "v", "part", "op")

  // batch 2 empties p3 entirely (keys ≡3 mod 4) and touches p1 again
  private def b2 = ((0L until 32L).filter(_ % 4 == 3)
    .map(k => (k, s"n$k", k * 1.0, "p3", "D")) :+
    ((5L, "upd2", 555.0, "p1", "U")))
    .toDF("k", "name", "v", "part", "op")

  test("each commit is a new version and every historical snapshot reads exactly its state") {
    val path = "target/test_vt_basic"
    VersionedTable.init(spark, path, table, "part")
    val v1 = VersionedTable.commitMerge(spark, path, "part", b1, "k")
    val v2 = VersionedTable.commitMerge(spark, path, "part", b2, "k")
    assert((v1, v2) === (1L, 2L))
    assert(VersionedTable.versions(spark, path) === Seq(0L, 1L, 2L))
    // v0 = the original table
    assert(ms(VersionedTable.snapshot(spark, path, 0L)) === ms(table))
    // v1 = merge-on-read of batch 1; v2 = batch 2 applied on top
    val exp1 = graft.operators.MergeInto(table, b1, "k")
    assert(ms(VersionedTable.snapshot(spark, path, 1L)) === ms(exp1))
    val exp2 = graft.operators.MergeInto(exp1, b2, "k")
    assert(ms(VersionedTable.snapshot(spark, path, 2L)) === ms(exp2))
    // default read = latest
    assert(ms(VersionedTable.snapshot(spark, path)) === ms(exp2))
    // the fully-deleted partition is gone at v2 but HISTORY still
    // reads it — the property copy-on-write overwrite cannot give
    assert(VersionedTable.snapshot(spark, path, 2L)
      .filter($"part" === "p3").count() === 0L)
    assert(VersionedTable.snapshot(spark, path, 1L)
      .filter($"part" === "p3").count() === 8L)
  }

  test("commits append: untouched files are shared across manifests and byte-identical; superseded files are retained for history") {
    val path = "target/test_vt_append"
    VersionedTable.init(spark, path, table, "part")
    val p0Before = files(path, "part=p0")
    val p1V0Files = VersionedTable.manifest(spark, path, 0L)
      .filter(_.startsWith("part=p1/")).toSet
    VersionedTable.commitMerge(spark, path, "part", b1, "k")
    // p0 untouched: same physical files (name, length, mtime) AND the
    // same manifest entries carried forward
    assert(files(path, "part=p0") === p0Before)
    val m0 = VersionedTable.manifest(spark, path, 0L).toSet
    val m1 = VersionedTable.manifest(spark, path, 1L).toSet
    assert(m0.filter(_.startsWith("part=p0/")) ===
      m1.filter(_.startsWith("part=p0/")))
    // p1 was rewritten: v1 lists fresh files, none of v0's
    assert(m1.filter(_.startsWith("part=p1/")).intersect(p1V0Files).isEmpty)
    // but v0's p1 files are still on disk — history is readable
    val onDisk = files(path, "part=p1").keySet.map("part=p1/" + _)
    assert(p1V0Files.subsetOf(onDisk),
      s"superseded files were deleted: ${p1V0Files -- onDisk}")
    // the new partition p9 exists only from v1 on
    assert(!m0.exists(_.startsWith("part=p9/")))
    assert(m1.exists(_.startsWith("part=p9/")))
  }

  test("vacuum deletes exactly the files no kept version references, and the kept snapshots still read") {
    val path = "target/test_vt_vacuum"
    VersionedTable.init(spark, path, table, "part")
    VersionedTable.commitMerge(spark, path, "part", b1, "k")
    VersionedTable.commitMerge(spark, path, "part", b2, "k")
    val m2 = VersionedTable.manifest(spark, path, 2L).toSet
    val exp2 = ms(VersionedTable.snapshot(spark, path, 2L))
    val deleted = VersionedTable.vacuum(spark, path, keepFrom = 2L)
    // everything deleted was NOT in v2's manifest; everything in v2's
    // manifest survives on disk
    assert(deleted.toSet.intersect(m2).isEmpty)
    m2.foreach { f =>
      val dir = f.split("/")(0)
      assert(files(path, dir).contains(f.split("/")(1)),
        s"vacuum deleted a live file: $f")
    }
    // old manifests are gone, the kept snapshot is unchanged
    assert(VersionedTable.versions(spark, path) === Seq(2L))
    assert(ms(VersionedTable.snapshot(spark, path, 2L)) === exp2)
    // the fully-deleted partition's directory disappeared with its
    // last orphan (no kept version references p3)
    assert(files(path, "part=p3").isEmpty)
    // refusing to delete every version
    intercept[IllegalArgumentException] {
      VersionedTable.vacuum(spark, path, keepFrom = 99L)
    }
  }

  test("the log refuses to clobber an existing version; an empty changeset commits nothing") {
    val path = "target/test_vt_clobber"
    VersionedTable.init(spark, path, table, "part")
    val none = Seq.empty[(Long, String, Double, String, String)]
      .toDF("k", "name", "v", "part", "op")
    assert(VersionedTable.commitMerge(spark, path, "part", none, "k") === 0L)
    assert(VersionedTable.versions(spark, path) === Seq(0L))
    // a second writer of an existing version must fail loudly
    // (lost-race semantics), not split history
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[IllegalArgumentException] {
      VersionedTable.writeManifest(fs, path, 0L, Seq("part=p0/x.parquet"))
    }
    // and a racing commit that lost to a planted newer manifest fails
    // at the read (the planted version's files don't resolve) rather
    // than committing over it
    val planted = new org.apache.hadoop.fs.Path(path,
      "_graft_log/00000001.manifest")
    val out = fs.create(planted, true)
    out.write("part=p0/bogus.parquet\n".getBytes("UTF-8")); out.close()
    intercept[Exception] {
      VersionedTable.commitMerge(spark, path, "part", b1, "k")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path,
      "_graft_log/00000002.manifest")))
  }

  test("OPTIMIZE is a commit: files collapse, the relation is identical, history still reads, vacuum reclaims the small files") {
    val path = "target/test_vt_optimize"
    // over-split v0: several files per directory
    val wide = table.repartition(8, $"part",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"k"),
        org.apache.spark.sql.functions.lit(4)))
    VersionedTable.init(spark, path, wide, "part")
    val m0 = VersionedTable.manifest(spark, path, 0L)
    assert(m0.groupBy(_.split("/")(0)).values.exists(_.size > 1),
      "setup failed: v0 should be multi-file per directory")
    val exp = ms(VersionedTable.snapshot(spark, path, 0L))
    val v1 = VersionedTable.commitOptimize(spark, path, "part",
      targetBytes = 128L * 1024 * 1024)
    assert(v1 === 1L)
    val m1 = VersionedTable.manifest(spark, path, 1L)
    // every directory collapsed to one file at the default target
    assert(m1.groupBy(_.split("/")(0)).values.forall(_.size === 1),
      s"optimize left multi-file directories: $m1")
    // identical relation; nothing shared with v0 (full rewrite)
    assert(ms(VersionedTable.snapshot(spark, path, 1L)) === exp)
    assert(m1.toSet.intersect(m0.toSet).isEmpty)
    // time travel across the optimize: v0 still reads the small files
    assert(ms(VersionedTable.snapshot(spark, path, 0L)) === exp)
    // vacuum past v0 reclaims exactly the pre-optimize files
    val deleted = VersionedTable.vacuum(spark, path, keepFrom = 1L)
    assert(deleted.toSet === m0.toSet)
    assert(ms(VersionedTable.snapshot(spark, path, 1L)) === exp)
  }

  test("statsHook keeps a sidecar fresh across versioned commits, aggregating the LIVE file set, not retired history") {
    val path = "target/test_vt_statshook"
    val stats = "target/test_vt_statshook_side"
    val cols = Seq(StatsStore.ColSpec("v", "min_v", "max_v"))
    VersionedTable.init(spark, path, table, "part")
    StatsStore.writeDirStats(spark, path, stats, "part", cols)
    // b1 rewrites p1/p2/p9; a plain directory read after the commit
    // would double-count p1's retired v0 file — the hook must not
    VersionedTable.commitMerge(spark, path, "part", b1, "k",
      hooks = Seq(VersionedTable.statsHook(stats, cols)))
    val refreshed = spark.read.parquet(stats)
    val scratch = StatsStore.dirStats(
      VersionedTable.snapshot(spark, path), "part", cols)
    assert(ms(refreshed) === ms(scratch),
      "versioned stats hook diverged from the live-set recomputation")
    // the retired-history hazard, concretely: p1 has BOTH v0 and v1
    // files on disk, but its stats row counts only the live rows
    val p1rows = refreshed.filter($"part" === "p1")
      .select("n_rows").head().getLong(0)
    assert(p1rows === VersionedTable.snapshot(spark, path)
      .filter($"part" === "p1").count())
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.FileSourceScanExec = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case s: FileSourceScanExec => Seq(s); case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(scans)
    }
    df.collect()
    scans(df.queryExecution.executedPlan).head
  }

  test("the index-backed relation serves every version identically, prunes partitions inside the index, and never lists retired files") {
    val path = "target/test_vt_index"
    VersionedTable.init(spark, path, table, "part")
    VersionedTable.commitMerge(spark, path, "part", b1, "k")
    VersionedTable.commitMerge(spark, path, "part", b2, "k")
    (0L to 2L).foreach { v =>
      assert(ms(VersionedTable.snapshotRelation(spark, path, "part", v)) ===
        ms(VersionedTable.snapshot(spark, path, v)),
        s"index-backed read diverged at version $v")
    }
    // partition pruning evaluates INSIDE the index, on a HISTORICAL
    // version: one directory listed of the five live at v1
    val pruned = VersionedTable.snapshotRelation(spark, path, "part", 1L)
      .filter($"part" === "p1")
    val scan = scanOf(pruned)
    assert(scan.metrics("numPartitions").value === 1,
      s"expected 1 directory, read ${scan.metrics("numPartitions").value}")
    // the plan's whole file universe is v1's manifest — retired v0
    // files and later v2 files never appear (compare by the relative
    // dir/file suffix: inputFiles are absolute URIs)
    def rel2(f: String) = f.split("/").takeRight(2).mkString("/")
    val m1 = VersionedTable.manifest(spark, path, 1L).map(rel2).toSet
    val planned = VersionedTable.snapshotRelation(spark, path, "part", 1L)
      .inputFiles.map(rel2).toSet
    assert(planned === m1, "index file universe is not the manifest")
  }

  test("a stats sidecar wired into the index makes zone-map skipping automatic for any data-column predicate") {
    val path = "target/test_vt_index_stats"
    val stats = "target/test_vt_index_stats_side"
    // v spans [(part+1)*10, (part+1)*10+7] per partition — DISJOINT
    // envelopes, so a v-window identifies directories (the shared
    // `table`'s v = k interleaves across partitions, where no zone
    // map can separate anything)
    val disjoint = (0L until 32L)
      .map(k => (k, s"n$k", (k % 4 + 1) * 10.0 + k / 4, s"p${k % 4}"))
      .toDF("k", "name", "v", "part")
    VersionedTable.init(spark, path, disjoint, "part")
    val cols = Seq(StatsStore.ColSpec("v", "min_v", "max_v"))
    StatsStore.writeDirStats(spark, path, stats, "part", cols)
    val rel = VersionedTable.snapshotRelation(spark, path, "part",
      statsPath = Some(stats), statsCols = Map("v" -> (("min_v", "max_v"))))
    // window [20, 27] is exactly p1's envelope
    val q = rel.filter($"v" >= 20.0 && $"v" <= 27.0)
    val scan = scanOf(q)
    assert(scan.metrics("numPartitions").value === 1,
      s"stats skip read ${scan.metrics("numPartitions").value} " +
        "directories, expected 1")
    // superset safety: identical relation to the unassisted read
    val plain = VersionedTable.snapshot(spark, path)
      .filter($"v" >= 20.0 && $"v" <= 27.0)
    assert(ms(q) === ms(plain))
    // an unsupported predicate shape prunes nothing and stays correct
    val odd = rel.filter(($"v" * 2.0) >= 40.0 && ($"v" * 2.0) <= 54.0)
    assert(ms(odd) === ms(VersionedTable.snapshot(spark, path)
      .filter(($"v" * 2.0) >= 40.0 && ($"v" * 2.0) <= 54.0)))
  }

  test("numeric partition values survive type coercion: a Long-typed changeset commits against an Int-inferred tree, full-delete included") {
    val path = "target/test_vt_numpart"
    // directories part=0..3 infer back as INT; the changeset carries
    // LONG part values — the boxed-equality hazard the cast guards
    val t = (0L until 16L).map(k => (k, k * 1.0, k % 4))
      .toDF("k", "v", "part")
    VersionedTable.init(spark, path, t, "part")
    // empty partition 2 entirely (keys ≡2 mod 4), update one row of 1
    val ch = ((0L until 16L).filter(_ % 4 == 2)
      .map(k => (k, 0.0, 2L, "D")) :+ ((1L, 111.0, 1L, "U")))
      .toDF("k", "v", "part", "op")
    val v1 = VersionedTable.commitMerge(spark, path, "part", ch, "k")
    val got = VersionedTable.snapshot(spark, path, v1)
    assert(got.filter($"part" === 2).count() === 0L)
    assert(got.count() === 12L)
    assert(got.filter($"k" === 1L).select("v").head().getDouble(0) === 111.0)
  }

  test("an append sizes its write by the launch-time shuffle width, not a scope's pinned one") {
    val path = "target/test_vt_append_width"
    VersionedTable.init(spark, path, table, "part")
    val launch = spark.sparkContext.getConf.getInt(
      "spark.sql.shuffle.partitions", 200)
    assume(launch > 1, "needs a launch-time shuffle width above 1")
    // 25 rows, but without CBO the filters leave the cross join's
    // estimate at 16e4² bytes, far over the 128 MiB file target
    val r = spark.range(0, 20000).filter($"id" < 5)
    val batch = r.toDF("a").crossJoin(r.toDF("b"))
      .select(($"a" * 100 + $"b" + 1000).as("k"), lit("app").as("name"),
        $"b".cast("double").as("v"), lit("p9").as("part"))
    assert(batch.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(128L * 1024 * 1024))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1") // the streaming runners' state scope
    val v1 = try VersionedTable.commitAppend(spark, path, Seq("part"), batch)
      finally spark.conf.set(key, prev)
    assert(VersionedTable.snapshot(spark, path, v1)
      .filter($"part" === "p9").count() === 25L)
    assert(files(path, "part=p9").size > 1,
      "the pinned session width sized the append's write")
  }
}
