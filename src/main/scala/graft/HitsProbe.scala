package graft

/** Instrumentation main for g20's stopping rule (r15 verdict item 4):
  * runs [[graft.queries.GraphQueries.hitsConverged]] over the derived
  * graph at each SF dir on the command line with the given budget and
  * tolerance, printing the stopped round count and wall time — the
  * measurement behind the shipped G20MaxRounds/G20Tol pair (the
  * criterion must FIRE at the driver's sf0.01 oracle gate, not just at
  * sf0.001, or the entry only ever exercises the budget branch there).
  *
  *   sbt "runMain graft.HitsProbe 40 20000 /root/testdata/sf0.001 /root/testdata/sf0.01"
  */
object HitsProbe {
  def main(args: Array[String]): Unit = {
    val maxRounds = args(0).toInt
    val tolFp = args(1).toLong
    val dirs = args.drop(2).toSeq
    val spark = Runtime.session()
    spark.sparkContext.setLogLevel("WARN")
    dirs.foreach { dir =>
      val t0 = System.nanoTime()
      val (res, rounds) = graft.queries.GraphQueries
        .hitsConverged(spark, dir, maxRounds, tolFp)
      val n = res.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] dir=$dir tol=$tolFp budget=$maxRounds " +
        f"stopped=$rounds nodes=$n time=$sec%.1fs")
      graft.queries.GraphQueries.clearCheckpointMemos(spark)
      graft.queries.SharedRelations.evict(spark)
    }
    spark.stop()
  }
}
