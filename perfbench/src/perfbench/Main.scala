package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, element_at, lit, pmod, split, sum, typedLit, when}

import graft.SparkEntry
import graft.graph.{GraphIO, PageRank}

/** One benchmark run in a fresh JVM: set up (SparkContext, warm-up
  * job, inputs), then run the workload's passes with one closed-loop
  * client issuing one op at a time. With `--trace 1` four passes run,
  * the third traced.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *      --root DIR --data DIR --expected FILE --result FILE --launch-ms T
  * }}}
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cpus: Int, root: Path, data: Path, expected: Path,
                        result: Path, launchMs: Long)

  /** One op as the client saw it; `seconds` is build + materialize, or
    * compute + state write for a PageRank pass.
    */
  final case class Op(name: String, start: Double, end: Double, ok: Boolean,
                      detail: String, parts: Map[String, Double]) {
    def seconds: Double = end - start
  }

  /** A pass's wall time runs from its first op's start to its last op's
    * end. A run's first pass is cold: it pays class loading, JIT and
    * code generation, as a user's first pass in a new process does.
    */
  final case class Pass(wall: Double, ops: Seq[Op], traced: Boolean)

  def clock(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("cpus").toInt, Paths.get(kv("root")),
      Paths.get(kv("data")), Paths.get(kv("expected")), Paths.get(kv("result")),
      kv("launch-ms").toLong)
    val wl = Workload(conf)
    val run = new Run(conf, wl)
    Files.write(conf.result, run.execute().getBytes("UTF-8"))
  }

  /** The session posture of the engine's bench: local[cpus], one shuffle
    * partition per core, with every write dial pointed at the run root.
    */
  def session(c: Conf): SparkSession = {
    val root = c.root.toString
    SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("graft.layout.root", s"$root/ops/setup")
      .config("graft.stream.root", s"$root/ops/setup")
      .config("graft.d16.root", s"$root/ops/setup")
      .getOrCreate()
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.foldLeft((0L, 0L)) {
        case ((b, n), f) => (b + Files.size(f.asInstanceOf[Path]), n + 1)
      } finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

import Main._

/** What a workload does in set-up and in one pass. */
sealed trait Workload {
  /** Passes an untraced run makes per 10 s of `--seconds`, at least one
    * in all, so the work a run measures is fixed by its arguments, not
    * by the speed of the code. This is a chosen count, not a measured
    * rate: on a 4-vCPU host a PageRank job takes about 25 s and a
    * registry pass 13-16 s.
    */
  def passesPer10s: Int
  def prepare(spark: SparkSession, input: Path): Unit
  def pass(run: Run, index: Int): Seq[Op]
  /** Ops whose latency enters `op_p50_s`, which is taken over the warm
    * passes (all but the first) when a run has more than one.
    */
  def timed(op: Op): Boolean = true
}

object Workload {
  /** Read-only registry entries: relational, similarity, text,
    * pipeline and multimodal operators over the parquet tables.
    */
  val Batch: Seq[String] = Seq(
    "q01_scan_project", "q03_groupby_sum", "q05_join_sortmerge",
    "q07_window_running", "q22_star_join", "q28_asof_join", "q49_bloom_join",
    "s03_knn_ivf", "t10_tfidf", "p04_contamination")

  /** The write side: streaming entries (feed writes, query start and
    * stop, state store commits, offset and commit logs); an entry that
    * builds a versioned table from scratch, commits OPTIMIZE ZORDER with
    * per-file stats, then reads it; and one that writes a partitioned
    * table with a stats sidecar, then reads it through the zone-map
    * index that skips directories. The four cost about the same, so the
    * median op is not a coin toss between a cheap entry and a dear one.
    */
  val Writes: Seq[String] = Seq(
    "st02_novelty_stream", "st11_running_stats_update", "q63_optimize_zorder",
    "q55_stats_skipping")

  def apply(c: Conf): Workload = c.workload match {
    case "pagerank_kchain" => new PageRankWorkload(Relabel.of(c.seed, 500))
    case "batch_sf001" => new RegistryWorkload(Batch, c)
    case "writes_sf001" => new RegistryWorkload(Writes, c)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
}

/** A pass runs each entry once, in an order drawn from the seed. Every
  * op gets a new session and its own layout/stream root, so each op
  * pays its entry's table builds and shared-relation caches the way a
  * user's first call does.
  */
final class RegistryWorkload(entries: Seq[String], c: Conf) extends Workload {
  val passesPer10s = 2
  private val order = new scala.util.Random(c.seed).shuffle(entries)
  private val expected: Map[String, Option[Long]] =
    scala.io.Source.fromFile(c.expected.toFile, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split('\t')).map(f => f(0) -> f(1).toLongOption).toMap
  private var dir = ""

  def prepare(spark: SparkSession, input: Path): Unit = {
    Files.createDirectories(input)
    Files.list(c.data).toArray.map(_.asInstanceOf[Path]).foreach { f =>
      Files.copy(f, input.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    dir = input.toString
  }

  def pass(run: Run, index: Int): Seq[Op] =
    order.zipWithIndex.map { case (name, i) => op(run, name, s"$index-$i") }

  private def op(run: Run, name: String, tag: String): Op = {
    val s = run.spark.newSession()
    val opRoot = run.conf.root.resolve("ops").resolve(tag)
    Seq("graft.layout.root", "graft.stream.root", "graft.d16.root")
      .foreach(s.conf.set(_, opRoot.toString))
    val tr = run.tracer
    val Seq(opId, buildId, matId, checkId) = Seq.fill(4)(tr.map(_.newId()).getOrElse(0L))
    val qes = ArrayBuffer.empty[QueryExecution]
    val taps = tr.map { t =>
      val sl = t.streamListener(() => buildId)
      val ql = t.queryListener(qes)
      s.streams.addListener(sl)
      s.listenerManager.register(ql)
      (sl, ql)
    }
    var rows = -1L
    var err = ""
    val t0 = clock()
    var t1 = t0
    var t2 = t0
    try {
      run.phase(buildId)
      val df = SparkEntry.queries(name)(s, dir)
      t1 = clock()
      run.phase(matId)
      rows = df.queryExecution.toRdd.count()
      t2 = clock()
      qes.synchronized(qes += df.queryExecution)
    } catch {
      case NonFatal(e) =>
        err = e.toString.take(300)
        t2 = clock()
        if (t1 == t0) t1 = t2
    } finally run.phase(0L)
    val ok = err.isEmpty && (expected.get(name) match {
      case Some(Some(want)) => rows == want || { err = s"rows $rows, expected $want"; false }
      case Some(None) => rows > 0 || { err = "no rows"; false }
      case None => err = "no expected row count"; false
    })
    val t3 = clock()
    s.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
    tr.foreach { t =>
      Bus.drain(run.spark.sparkContext)
      taps.foreach { case (sl, ql) =>
        s.streams.removeListener(sl)
        s.listenerManager.unregister(ql)
      }
      val base = run.wallBase
      t.record(Span(opId, run.passSpan, "op", name, base + t0, base + t2))
      t.record(Span(buildId, opId, "build", name, base + t0, base + t1))
      t.record(Span(matId, opId, "materialize", name, base + t1, base + t2))
      t.record(Span(checkId, opId, "check", name, base + t2, base + t3))
      t.add("queries.build_s", t1 - t0)
      t.planFacts(qes.synchronized(qes.toList))
      val (bytes, files) = dirBytes(opRoot)
      t.add("output.bytes_left", bytes.toDouble)
      t.add("output.files", files.toDouble)
    }
    run.release(s)
    Op(name, t0, t2, ok, err, Map("build" -> (t1 - t0), "materialize" -> (t2 - t1)))
  }
}

/** The paper's job: read the edge CSV, run compat PageRank for 10
  * passes, write every pass's state with `GraphIO.writeCompatCsv` to
  * `<out><pass>` — what `PageRankCli.run` composes. One op is one pass.
  * The graph is the reference's k-chain at k=500 (250,001 nodes): at
  * k=1000 one job alone takes longer than the run budget allows.
  */
final class PageRankWorkload(relabel: Relabel) extends Workload {
  val Passes = 10
  val Beta = 0.15
  val passesPer10s = 1
  private var edges = ""

  def prepare(spark: SparkSession, input: Path): Unit = {
    Files.createDirectories(input)
    edges = input.resolve("edges.csv").toString
    KChain.writeEdges(edges, relabel)
  }

  override def timed(op: Op): Boolean = op.name != "pass1"

  def pass(run: Run, index: Int): Seq[Op] = {
    val k = relabel.k.toInt
    val out = run.conf.root.resolve("state").resolve(index.toString).resolve("out").toString
    val tr = run.tracer
    val base = run.wallBase
    val ops = ArrayBuffer.empty[Op]
    val masses = ArrayBuffer.empty[Double]
    def ids(): (Long, Long, Long) =
      tr.map(t => (t.newId(), t.newId(), t.newId())).getOrElse((0L, 0L, 0L))
    var (opId, computeId, writeId) = ids()
    val qes = ArrayBuffer.empty[QueryExecution]
    val tap = tr.map(_.queryListener(qes))
    tap.foreach(run.spark.listenerManager.register)
    var last = clock()
    var err = ""
    run.phase(computeId)
    try {
      PageRank.compat(GraphIO.readEdgesCsv(run.spark, edges), k, Passes, Beta,
        onPass = (p: Int, st: PageRank.CompatState) => {
          val a = clock()
          run.phase(writeId)
          GraphIO.writeCompatCsv(st.state, out + p)
          val b = clock()
          masses += st.danglingMass
          ops += Op(s"pass$p", last, b, ok = true, "",
            Map("compute" -> (a - last), "state_write" -> (b - a)))
          tr.foreach { t =>
            t.record(Span(opId, run.passSpan, "op", s"pass$p", base + last, base + b))
            t.record(Span(computeId, opId, "compute", s"pass$p", base + last, base + a))
            t.record(Span(writeId, opId, "state_write", s"pass$p", base + a, base + b))
          }
          val next = ids()
          opId = next._1; computeId = next._2; writeId = next._3
          last = clock()
          run.phase(computeId)
        })
    } catch {
      case NonFatal(e) => err = e.toString.take(300)
    } finally run.phase(0L)
    if (err.isEmpty) err = check(run.spark, out + Passes, masses.toSeq)
    tr.foreach { t =>
      Bus.drain(run.spark.sparkContext)
      tap.foreach(run.spark.listenerManager.unregister)
      t.planFacts(qes.synchronized(qes.toList))
      val (bytes, files) = dirBytes(Paths.get(out).getParent)
      t.add("graphio.state_bytes", bytes.toDouble)
      t.add("output.bytes_left", bytes.toDouble)
      t.add("output.files", files.toDouble)
    }
    run.release(run.spark)
    // a job whose output is wrong or incomplete fails every pass
    val end = ops.lastOption.map(_.end).getOrElse(last)
    val all = ops.toSeq ++
      (ops.length + 1 to Passes).map(p => Op(s"pass$p", end, end, ok = false, err, Map.empty))
    if (err.isEmpty) all else all.map(_.copy(ok = false, detail = err))
  }

  /** Checks each pass's dangling mass against the chain recurrence to
    * 1e-12 relative, and every node's final contribution exactly. The
    * recurrence carries the engine's own dangling masses forward, which
    * makes each contribution bit-exact: every non-sink node has exactly
    * one in-edge.
    */
  private def check(spark: SparkSession, last: String, masses: Seq[Double]): String = {
    val k = relabel.k.toInt
    val n = k.toDouble * k.toDouble
    if (masses.length != Passes) return s"${masses.length} passes completed"
    var c = KChain.initContribs(k, n)
    var want = k * (1.0 / n)
    for (p <- 0 until Passes) {
      val got = masses(p)
      if (math.abs(got - want) > 1e-12 * math.abs(want))
        return s"pass ${p + 1}: dangling mass $got, expected $want"
      if (p < Passes - 1) {
        want = KChain.nextDangling(c, got, n, Beta)
        c = KChain.nextContribs(c, got, n, Beta)
      }
    }
    val f = split(col("value"), ",", -1)
    val node = element_at(f, 1).cast("long")
    val orig = pmod(lit(relabel.aInv) * (node - 1 - relabel.b), lit(relabel.n)) + 1
    val pos = ((orig - 1) % k + 1).cast("int")
    val bad = when(node === 0 || element_at(f, 3).cast("double") =!= element_at(typedLit(c.toSeq), pos), 1)
      .otherwise(0)
    val r = spark.read.text(last).agg(count(lit(1)), sum(bad)).head()
    val (rows, wrong) = (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
    if (rows != relabel.n) s"final state has $rows rows, expected ${relabel.n}"
    else if (wrong != 0) s"$wrong nodes hold a wrong final contribution"
    else ""
  }
}

/** One run: set-ups, passes, metrics. */
final class Run(val conf: Conf, wl: Workload) {
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  var passSpan: Long = 0L
  /** Epoch seconds at nanoTime 0, so spans share Spark's clock. */
  val wallBase: Double = System.currentTimeMillis() / 1e3 - clock()

  def phase(span: Long): Unit =
    spark.sparkContext.setLocalProperty(Tracer.SpanKey,
      if (span == 0L) null else span.toString)

  /** Drops what an op cached so the next op starts from an empty cache. */
  def release(s: SparkSession): Unit = {
    s.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Launch to ready, and its parts: JVM start and class loading up to
    * `main`, the SparkContext, a warm-up job, the inputs.
    */
  private def setup(): Seq[(String, Double)] = {
    val t0 = clock()
    val jvm = System.currentTimeMillis() / 1e3 - conf.launchMs / 1e3
    spark = session(conf)
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = clock()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val t2 = clock()
    wl.prepare(spark, conf.root.resolve("input"))
    val t3 = clock()
    Seq("setup_s" -> (jvm + t3 - t0), "setup.jvm_s" -> jvm, "setup.session_s" -> (t1 - t0),
      "setup.warmup_s" -> (t2 - t1), "setup.inputs_s" -> (t3 - t2))
  }

  def execute(): String = {
    val setupTimes = setup()
    val passes = math.max(1, math.round(conf.seconds * wl.passesPer10s / 10.0).toInt)
    // a traced run: cold, warm, traced, warm; the traced pass sits between
    // the two warm ones it is priced against
    val plan = if (conf.trace) Seq(false, false, true, false) else Seq.fill(passes)(false)
    val t = new Tracer
    val done = plan.zipWithIndex.map { case (traced, i) =>
      if (traced) {
        tracer = Some(t)
        spark.sparkContext.addSparkListener(t.sparkListener)
      }
      passSpan = if (traced) t.newId() else 0L
      val ops = wl.pass(this, i + 1)
      val (start, end) = (ops.head.start, ops.map(_.end).max)
      if (traced) {
        t.record(Span(passSpan, 0L, "pass", s"pass ${i + 1}", wallBase + start, wallBase + end))
        Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t.sparkListener)
        tracer = None
      }
      Pass(end - start, ops, traced)
    }
    val rss = peakRssMb()
    spark.stop()
    Report(conf, wl, setupTimes, done, t, rss)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
}

/** Prints the DuckDB oracle SQL of every registry entry the workloads
  * run, as JSON {entry: sql or null}; `perfbench/oracle_counts.py`
  * turns it into `expected_rows.tsv`.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val entries = (Workload.Batch ++ Workload.Writes).sorted
    val sql = SparkEntry.oracleSql
    Files.write(Paths.get(args(0)), Json.obj(entries.map { e =>
      e -> sql.get(e).map(Json.str).getOrElse("null")
    }).getBytes("UTF-8"))
  }
}
