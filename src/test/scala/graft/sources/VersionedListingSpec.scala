package graft.sources

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import graft.TestSpark
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The local filesystem under the `countfs` scheme, counting the two
  * metadata calls a file index build can make per file or per
  * directory. Counters are global: the scheme is this spec's alone. */
class CountingFileSystem extends FilterFileSystem(new CountingFileSystem.Raw) {
  override def getScheme: String = CountingFileSystem.Scheme
  override def getFileStatus(f: Path): FileStatus = {
    CountingFileSystem.fileStatusCalls.incrementAndGet()
    super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.listStatusCalls.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val Scheme = "countfs"
  val fileStatusCalls = new AtomicLong
  val listStatusCalls = new AtomicLong
  /** The wrapped local filesystem, answering for `countfs:///` paths. */
  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }
}

/** Both versioned indexes resolve a manifest's file statuses with one
  * `listStatus` per live directory — metadata RPCs scale with
  * directories, not files. */
class VersionedListingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("building either versioned index over one directory of N files lists it once and stats no file") {
    val path = "target/test_vt_listing"
    // six tasks, one partition value: six files in one directory
    VersionedTable.init(spark, path,
      (0L until 60L).toDF("k").repartition(6).withColumn("part", lit("p0")),
      "part")
    val files = VersionedTable.manifest(spark, path, 0L)
    assert(files.size >= 5 && files.map(f => f.take(f.lastIndexOf('/'))).toSet
      === Set("part=p0"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val implKey = s"fs.${CountingFileSystem.Scheme}.impl"
    hconf.set(implKey, classOf[CountingFileSystem].getName)
    try {
      val counted = s"${CountingFileSystem.Scheme}://" +
        new java.io.File(path).getAbsolutePath
      def calls(build: => Array[String]): (Long, Long, Int) = {
        CountingFileSystem.fileStatusCalls.set(0)
        CountingFileSystem.listStatusCalls.set(0)
        val n = build.length
        (CountingFileSystem.fileStatusCalls.get,
          CountingFileSystem.listStatusCalls.get, n)
      }
      assert(calls(new VersionedFileIndex(spark, counted, Seq("part"), 0L)
        .inputFiles) === (0L, 1L, files.size))
      assert(calls(new ExplicitFilesIndex(spark, counted, files,
        StructType(Seq(StructField("part", StringType)))).inputFiles)
        === (0L, 1L, files.size))
    } finally hconf.unset(implKey)
  }
}
