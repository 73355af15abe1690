package graft

import graft.Recorder.Tally
import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a repartition tallies every row it shuffles, once") {
    val (_, t) = Recorder.sample(spark)(
      spark.range(0, 1000, 1, 4).repartition(3).queryExecution.toRdd.count())
    assert(t.shuffleRecords === 1000L)
    assert(t.shuffleBytes > 0L)
  }

  test("a parquet read tallies the rows it decodes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-recorder")
      .resolve("t").toString
    spark.range(0, 2500, 1, 3).write.parquet(dir)
    val (_, t) = Recorder.sample(spark)(
      spark.read.parquet(dir).queryExecution.toRdd.count())
    assert(t.inputRecords === 2500L)
    assert(t.inputBytes > 0L)
    assert(t.shuffleRecords === 0L)
  }

  test("the median of three samples carries the median-time sample's tally") {
    def tally(n: Long) = Tally(n, 10 * n, 100 * n, 1000 * n)
    val samples = Seq(3.0 -> tally(3), 1.0 -> tally(1), 2.0 -> tally(2))
    assert(Recorder.median(samples) === (2.0 -> tally(2)))
  }
}
