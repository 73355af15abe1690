package perfbench

import Main._

/** Turns a run's passes and trace into the result JSON the launcher
  * reads: the metrics, every op, and with tracing the spans and the
  * per-kind self times.
  */
object Report {

  def apply(c: Conf, wl: Workload, setup: Seq[(String, Double)], passes: Seq[Pass],
            t: Tracer, rssMb: Double): String = {
    val ops = passes.flatMap(_.ops)
    val untraced = passes.filterNot(_.traced)
    val warm = if (untraced.length > 1) untraced.tail else untraced
    val latencies = warm.flatMap(_.ops).filter(wl.timed)
      .map(o => if (o.ok) o.seconds else Double.PositiveInfinity)
    val failed = ops.count(!_.ok)
    val m = collection.mutable.LinkedHashMap[String, Double](setup: _*)
    m ++= Seq(
      "wall_s" -> passes.head.wall,
      "op_p50_s" -> median(latencies),
      "op_n" -> latencies.length.toDouble,
      "peak_rss_mb" -> rssMb,
      "error_rate" -> failed.toDouble / ops.length)
    val traced = passes.filter(_.traced)
    val spans = t.allSpans
    val self = Tracer.selfTimes(spans)
    if (traced.nonEmpty) m ++= layers(c, traced, untraced.tail, t, spans)
    val fields = Seq(
      "workload" -> Json.str(c.workload),
      "seed" -> c.seed.toString,
      "passes" -> passes.length.toString,
      "attempted" -> ops.length.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "self_s_per_pass" -> Json.obj(self.toSeq.sorted.map { case (k, v) =>
        k -> Json.num(v / math.max(1, traced.length)) }),
      "ops" -> Json.arr(passes.zipWithIndex.flatMap { case (p, i) =>
        p.ops.map(o => Json.obj(Seq(
          "pass" -> (i + 1).toString, "traced" -> p.traced.toString,
          "name" -> Json.str(o.name), "s" -> Json.num(o.seconds),
          "ok" -> o.ok.toString, "detail" -> Json.str(o.detail)) ++
          o.parts.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }))
      }),
      "spans" -> Json.arr(spans.sortBy(_.start).map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end))))))
    Json.obj(fields)
  }

  /** Per-layer metrics, per traced pass. */
  private def layers(c: Conf, traced: Seq[Pass], warm: Seq[Pass], t: Tracer,
                     spans: Seq[Span]): Seq[(String, Double)] = {
    val n = traced.length.toDouble
    def per(k: String): Double = t.count(k) / n
    val wallT = median(traced.map(_.wall))
    val tOps = traced.flatMap(_.ops)
    def part(name: Int => Boolean, key: String): Seq[Double] =
      tOps.filter(o => o.name.startsWith("pass") && name(o.name.drop(4).toInt))
        .flatMap(_.parts.get(key))
    val byParent = spans.groupBy(_.parent)
    val jobs = spans.filter(_.kind == "job").map(j => (j.start, j.end))
    val gap = spans.filter(_.kind == "op").map { op =>
      val inside = jobs.map(j => (math.max(j._1, op.start), math.min(j._2, op.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      op.dur - Tracer.union(inside)
    }.sum
    val lifecycle = spans.filter(_.kind == "build").map { b =>
      val batches = byParent.getOrElse(b.id, Nil).filter(_.kind == "microbatch")
      if (batches.isEmpty) 0.0 else b.dur - batches.map(_.dur).sum
    }.sum
    val filesTotal = t.count("scan.files_total")
    val left = t.count("output.bytes_left")
    Seq(
      "graph.init_pass_s" -> median(part(_ == 1, "compute")),
      "graph.pass_compute_s" -> median(part(_ >= 2, "compute")),
      "graph.checkpoint_pass_s" -> median(part(p => p == 5 || p == 10, "compute")),
      "graphio.state_write_s" -> part(_ => true, "state_write").sum / n,
      "graphio.state_bytes" -> per("graphio.state_bytes"),
      "queries.build_s" -> per("queries.build_s"),
      "driver.analysis_s" -> per("driver.analysis_s"),
      "driver.optimizer_s" -> per("driver.optimizer_s"),
      "driver.planning_s" -> per("driver.planning_s"),
      "driver.gap_s" -> gap / n,
      "spark.jobs" -> per("spark.jobs"),
      "spark.stages" -> per("spark.stages"),
      "spark.tasks" -> per("spark.tasks"),
      "executor.run_s" -> per("executor.run_s"),
      "executor.cpu_s" -> per("executor.cpu_s"),
      "executor.gc_s" -> per("executor.gc_s"),
      "executor.busy_frac" -> per("executor.run_s") / (wallT * c.cpus),
      "tasks.failed" -> per("tasks.failed"),
      "shuffle.write_bytes" -> per("shuffle.write_bytes"),
      "shuffle.write_records" -> per("shuffle.write_records"),
      "shuffle.read_bytes" -> per("shuffle.read_bytes"),
      "shuffle.fetch_wait_s" -> per("shuffle.fetch_wait_s"),
      "scan.input_bytes" -> per("scan.input_bytes"),
      "scan.input_records" -> per("scan.input_records"),
      "scan.files_read" -> per("scan.files_read"),
      "scan.metadata_s" -> per("scan.metadata_s"),
      "scan.file_skip_ratio" ->
        (if (filesTotal > 0) 1 - t.count("scan.files_read") / filesTotal else 0.0),
      "spill.memory_bytes" -> per("spill.memory_bytes"),
      "spill.disk_bytes" -> per("spill.disk_bytes"),
      "stream.batches" -> per("stream.batches"),
      "stream.input_rows" -> per("stream.input_rows"),
      "stream.trigger_s" -> per("stream.trigger_s"),
      "stream.add_batch_s" -> per("stream.add_batch_s"),
      "stream.planning_s" -> per("stream.planning_s"),
      "stream.source_s" -> per("stream.source_s"),
      "stream.wal_s" -> per("stream.wal_s"),
      "stream.state_commit_s" -> per("stream.state_commit_s"),
      "stream.state_rows" -> per("stream.state_rows"),
      "stream.batch_p50_s" -> median(t.batchSeconds.toSeq),
      "stream.lifecycle_s" -> lifecycle / n,
      "output.bytes_written" -> per("output.bytes_written"),
      "output.files" -> per("output.files"),
      "sources.write_amp" -> (if (left > 0) t.count("output.bytes_written") / left else 0.0),
      "trace.overhead_frac" -> (wallT / median(warm.map(_.wall)) - 1))
  }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
