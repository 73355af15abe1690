package graft

import org.apache.spark.sql.functions._

/** Instrumentation main for the g14 pathology (r9 verdict item 2):
  * runs [[graft.graph.GraphOps.ssspFromSym]] over the derived graph at
  * a given SF for each Δ on the command line, printing round count and
  * wall time per Δ. `GRAFT_SSSP_LOG=1` additionally traces every round.
  *
  *   sbt "runMain graft.SsspProbe /root/testdata/sf0.1 5 20 1000000"
  */
object SsspProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val deltas = args.tail.map(_.toLong).toSeq
    val spark = Runtime.session()
    spark.sparkContext.setLogLevel("WARN")
    val e = graft.queries.GraphQueries.derivedEdges(spark, sfDir)
    val sym = e.union(e.select(col("dst"), col("src"))).toDF("src", "dst")
      .distinct().persist()
    val symW = sym.select(col("src"), col("dst"),
      (lit(1L) + (col("src") + col("dst")) % 9L).as("w"))
    println(s"[probe] nodes=${sym.select("src").distinct().count()} " +
      s"symEdges=${sym.count()}")
    val source = sym.agg(min(col("src"))).head().getLong(0)
    deltas.foreach { d =>
      val t0 = System.nanoTime()
      val out = graft.graph.GraphOps.ssspFromSym(symW, source, delta = d)
      val n = out.count()
      val maxD = out.agg(max(col("dist"))).head().getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] delta=$d%-8d rows=$n maxDist=$maxD time=$sec%.1fs")
      org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(out)
    }
    spark.stop()
  }
}
