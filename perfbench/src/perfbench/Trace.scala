package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval in seconds since the epoch; a pass has parent 0. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** The traced run's recorder. Spans and counters are kept in memory and
  * written when the run ends. Spark jobs are attributed to the span
  * named by the `perfbench.span` local property at submission, which
  * the harness sets before each phase of each op.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val counts = TrieMap.empty[String, Double]
  /** Open Spark jobs: job id → (span id, parent span, start). */
  private val jobs = TrieMap.empty[Int, (Long, Long, Double)]
  /** Stages of traced jobs → their job's span. */
  private val stages = TrieMap.empty[Int, Long]
  val batchSeconds: ArrayBuffer[Double] = ArrayBuffer.empty

  def newId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = spans.synchronized(spans += s)
  def add(key: String, v: Double): Unit =
    counts.synchronized(counts.update(key, counts.getOrElse(key, 0.0) + v))
  def count(key: String): Double = counts.getOrElse(key, 0.0)
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .foreach { parent =>
          val id = newId()
          jobs.put(e.jobId, (id, parent.toLong, e.time / 1000.0))
          e.stageIds.foreach(stages.put(_, id))
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (id, parent, start) =>
        record(Span(id, parent, "job", s"job ${e.jobId}", start, e.time / 1000.0))
        add("spark.jobs", 1)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.get(si.stageId).foreach { job =>
        val end = si.completionTime.getOrElse(System.currentTimeMillis())
        record(Span(newId(), job, "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
          si.submissionTime.getOrElse(end) / 1000.0, end / 1000.0))
        add("spark.stages", 1)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId)) {
        add("spark.tasks", 1)
        if (e.taskInfo.failed || e.taskInfo.killed) add("tasks.failed", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("executor.run_s", m.executorRunTime / 1e3)
          add("executor.cpu_s", m.executorCpuTime / 1e9)
          add("executor.gc_s", m.jvmGCTime / 1e3)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add("shuffle.read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble)
          add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("scan.input_records", m.inputMetrics.recordsRead.toDouble)
          add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
          add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
          add("output.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        }
      }
  }

  /** Micro-batch progress of the queries an op's session runs. */
  def streamListener(parent: () => Long): StreamingQueryListener =
    new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def s(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        val trigger = s("triggerExecution")
        add("stream.batches", 1)
        add("stream.input_rows", p.numInputRows.toDouble)
        add("stream.trigger_s", trigger)
        add("stream.add_batch_s", s("addBatch"))
        add("stream.planning_s", s("queryPlanning"))
        add("stream.source_s", s("latestOffset") + s("getBatch"))
        add("stream.wal_s", s("walCommit") + s("commitOffsets"))
        add("stream.state_commit_s", p.stateOperators.map(_.commitTimeMs / 1e3).sum)
        // rows written: transformWithState operators report numRowsTotal as 0
        add("stream.state_rows", p.stateOperators.map(_.numRowsUpdated.toDouble).sum)
        batchSeconds.synchronized(batchSeconds += trigger)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
        record(Span(newId(), parent(), "microbatch",
          s"${Option(p.name).getOrElse(p.id.toString)} batch ${p.batchId}",
          start, start + trigger))
      }
    }

  /** Collects the QueryExecution of every action an op's session runs. */
  def queryListener(into: ArrayBuffer[QueryExecution]): QueryExecutionListener =
    new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        into.synchronized(into += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

  /** Planning phases and file-scan facts of executed queries. */
  def planFacts(qes: Seq[QueryExecution]): Unit =
    qes.distinct.foreach { qe =>
      val phases = qe.tracker.phases
      def phase(n: String): Double = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
      add("driver.analysis_s", phase("analysis"))
      add("driver.optimizer_s", phase("optimization"))
      add("driver.planning_s", phase("planning"))
      Tracer.scans(qe).foreach { scan =>
        def metric(n: String): Double = scan.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
        add("scan.files_read", metric("numFiles"))
        add("scan.metadata_s", metric("metadataTime") / 1e3)
        add("scan.files_total", scan.relation.location.inputFiles.length.toDouble)
      }
    }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanKey = "perfbench.span"

  def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collectWithSubqueries(qe.executedPlan) { case f: FileSourceScanExec => f }

  /** Σ over spans of their duration minus the time their children cover,
    * per span kind.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.kind) { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      s.dur - union(ivs)
    }(_ + _)
  }

  /** Length of the union of intervals sorted by start. */
  def union(ivs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var cur: Option[(Double, Double)] = None
    ivs.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => covered += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => covered += cb - ca }
    covered
  }
}
