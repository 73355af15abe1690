package graft

import graft.graph.{GraphIO, PageRank}
import org.apache.spark.sql.SparkSession

/** End-to-end CLI driver — the Spark rebuild of the reference's real
  * entry point (`hadoop jar … prJava.PageRank_v2 <in> <out> <k>
  * <iters>`, pageRank_v2.java:45-54, Makefile:47-48,131):
  *
  * {{{
  * sbt "runMain graft.PageRankCli <in> <out> <k> <iters> [danglingMass]"
  * }}}
  *
  *  - `<in>` is either a raw edge CSV (`src,dst` per line) or a prior
  *    run's compat-state dir (`node,U,contrib,adj-` rows) — dispatched
  *    by field count exactly like the reference mapper
  *    (pageRank_v2.java:118). State input resumes the iteration; the
  *    optional `danglingMass` arg re-injects the mass the previous run
  *    reported (the reference threaded it as a Hadoop counter between
  *    jobs, pageRank_v2.java:79,83,94 — here it's a plain double, no
  *    fixed-point encoding and none of the reference's decode bug,
  *    SURVEY.md §0.2.4).
  *  - Every completed pass writes its state to `<out><pass>`
  *    (per-iteration output dirs, pageRank_v2.java:96-98) and logs the
  *    pass's dangling mass plus its reference counter encoding
  *    ⌈D·10⁸⌉ (pageRank_v2.java:218-222).
  *  - Resuming from `<out>N` continues the GLOBAL pass numbering: the
  *    resumed run writes `<out>N+1`, `<out>N+2`, … (offset derived
  *    from the state-dir's trailing digits), so a prior run's
  *    per-iteration dirs are never renumbered or clobbered.
  *  - `<iters>` is the number of passes THIS invocation runs (edge
  *    input: pass 1 is the 1/N init pass); the final line on stdout is
  *    one JSON object with the closing dangling mass, which feeds the
  *    next resume.
  */
object PageRankCli {

  private val Usage =
    "Usage: graft.PageRankCli <edges.csv|state-dir> <out> <k> <iters> [danglingMass]"

  /** Trailing digits of a state-dir path (`…/out7` → 7): the pass its
    * state came from, used as this run's pass-numbering offset. A path
    * whose BASENAME has no digit suffix — or is all digits, which is a
    * name, not a suffix (`123`, `/data/123`) — offsets from 0.
    */
  private[graft] def passOffsetOf(in: String): Int = {
    val name = in.stripSuffix("/").split('/').last
    val digits = name.reverse.takeWhile(_.isDigit).reverse
    if (digits.isEmpty || digits.length == name.length) 0
    else
      try digits.toInt
      catch { case _: NumberFormatException => 0 }
  }

  /** The CLI body, factored from [[main]] so specs can drive it on a
    * shared session: runs `iters` passes from `in` (edges or state),
    * writing each pass's state to `<out><globalPass>`, and finishes
    * with the one-line JSON summary on stdout (the value a follow-up
    * resume feeds from). Input-kind detection and the pass offset are
    * computed exactly once here.
    */
  def run(spark: SparkSession, in: String, out: String, k: Long,
          iters: Int, mass0: Double = 0.0): PageRank.CompatState = {
    val onPass = (pass: Int, st: PageRank.CompatState) => {
      GraphIO.writeCompatCsv(st.state, out + pass)
      // the reference's per-iteration mass log (pageRank_v2.java:84)
      System.err.println(
        s"[pagerank] pass=$pass out=$out$pass " +
          s"danglingMass=${st.danglingMass} counter=${st.counterValue}")
    }
    val isState = GraphIO.looksLikeCompatState(spark, in)
    val off = if (isState) passOffsetOf(in) else 0
    val fin =
      if (isState)
        PageRank.compatSteps(
          PageRank.CompatState(GraphIO.readCompatCsv(spark, in), mass0),
          k, iters, onPass = onPass, passOffset = off)
      else
        PageRank.compat(GraphIO.readEdgesCsv(spark, in), k, iters,
          onPass = onPass)
    println(s"""{"passes":$iters,"lastPass":${off + iters},"danglingMass":${fin.danglingMass},"counter":${fin.counterValue}}""")
    fin
  }

  private def usageError(msg: String): Nothing = {
    // reference arg check (pageRank_v2.java:47-51), minus the stack
    // trace on malformed numbers
    System.err.println(s"error: $msg")
    System.err.println(Usage)
    sys.exit(2)
  }

  private def parseOr[A](raw: String, what: String)(f: String => A): A =
    try f(raw)
    catch {
      case _: NumberFormatException =>
        usageError(s"$what must be a number, got '$raw'")
    }

  def main(args: Array[String]): Unit = {
    if (args.length < 4 || args.length > 5) usageError("expected 4-5 arguments")
    val in = args(0)
    val out = args(1)
    val k = parseOr(args(2), "<k>")(_.toLong)
    val iters = parseOr(args(3), "<iters>")(_.toInt)
    val mass0 =
      if (args.length == 5) parseOr(args(4), "[danglingMass]")(_.toDouble)
      else 0.0
    if (k <= 0) usageError("<k> must be positive")
    if (iters < 1) usageError("<iters> must be >= 1")

    val spark = Runtime.session()
    spark.sparkContext.setLogLevel("WARN")

    run(spark, in, out, k, iters, mass0)
    spark.stop()
  }
}
