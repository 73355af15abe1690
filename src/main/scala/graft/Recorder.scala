package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.graft.ColumnBridge

/** The one sample recorder behind Bench and Duel: wall time of a body
  * plus the rows and bytes its tasks moved through shuffles and decoded
  * from scans. Those counts are deterministic given the plan and its
  * input files, so they compare across runs on a noisy host where wall
  * time does not, and they are the cost that carries to a cluster.
  * One exception: a layout written through `repartitionByRange` (q58's
  * tree, q63's OPTIMIZE ZORDER, `ZOrderedWrite`) gets its boundaries
  * from Spark's `RangePartitioner.sketch`, which seeds each partition's
  * reservoir sample with the RDD id. The files, and so the rows a later
  * scan of them decodes, then depend on how many RDDs the context
  * created before the write.
  */
object Recorder {

  /** Task-end totals of one sample: shuffle records and bytes written,
    * input records and bytes read. Input bytes count fetched file bytes
    * even where a record-level reader filter keeps the rows of pages it
    * decompressed out of the record count. */
  final case class Tally(shuffleRecords: Long, shuffleBytes: Long,
      inputRecords: Long, inputBytes: Long) {
    def +(o: Tally): Tally = Tally(shuffleRecords + o.shuffleRecords,
      shuffleBytes + o.shuffleBytes, inputRecords + o.inputRecords,
      inputBytes + o.inputBytes)
  }

  private final class Listener extends SparkListener {
    val Seq(sw, sb, ir, ib) = Seq.fill(4)(new AtomicLong)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        sw.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        sb.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        ir.addAndGet(m.inputMetrics.recordsRead)
        ib.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** (seconds, tally) of one run of `body`. Task-end events post
    * asynchronously, so the listener bus is drained before the fresh
    * tally is registered (no earlier job lands in it) and again before
    * it is read; neither drain is timed. */
  def sample(spark: SparkSession)(body: => Any): (Double, Tally) = {
    val sc = spark.sparkContext
    ColumnBridge.drainListenerBus(sc)
    val l = new Listener
    sc.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      ColumnBridge.drainListenerBus(sc)
      (sec, Tally(l.sw.get, l.sb.get, l.ir.get, l.ib.get))
    } finally sc.removeSparkListener(l)
  }

  /** The median-time sample, with its own tally: the reported counts
    * come from the same run as the reported seconds (a converged loop's
    * traffic can shift between samples). */
  def median(samples: Seq[(Double, Tally)]): (Double, Tally) =
    samples.sortBy(_._1).apply(samples.length / 2)

  /** (full, underCount): Join + Window nodes in `df`'s optimized plan
    * and in the plan of its `count()`. Catalyst prunes row-preserving
    * joins and unconsumed windows under count(), so when `underCount <
    * full` a count() sample measures less than the entry's real plan. */
  def countCollapse(df: DataFrame): (Int, Int) = {
    def wide(p: LogicalPlan): Int =
      p.collect { case j: Join => j; case w: Window => w }.size
    (wide(df.queryExecution.optimizedPlan),
      wide(df.groupBy().count().queryExecution.optimizedPlan))
  }
}
