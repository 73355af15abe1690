package graft

/** Plan-hygiene dump: formatted physical plans for the queries named
  * on the command line (or a representative default set). Used to
  * audit the properties that matter at 100 TB — filter pushdown into
  * the parquet scan (`PushedFilters`), column pruning (`ReadSchema`),
  * broadcast vs shuffle joins, exchange counts, whole-stage codegen
  * coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q01_scan_project", "q02_filter", "q03_groupby_sum",
        "q04_join_broadcast", "q05_join_sortmerge", "q22_star_join",
        "d03_minhash_lsh", "d06_neardup_clusters", "d07_simhash_hamming",
        "d08_embed_neardup", "d11_repeated_spans", "s02_knn_lsh",
        "s05_knn_pq", "t05_fingerprint", "t06_repetition",
        "p04_contamination", "q23_event_windows")
    val spark = Runtime.session()
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_EXPLAIN_EXEC=true: EXECUTE each query first (the full
    // optimized plan, `toRdd.count()` — no count-side pruning), then
    // print the plan. With AQE, the pre-execution explain only shows
    // the initial plan (`isFinalPlan=false`); the re-optimized final
    // plan — AQEShuffleRead coalescing, runtime join-strategy changes
    // — exists only after execution (guide §7.2), which is what a
    // runtime-behavior claim must be evidenced with.
    val exec = sys.env.get("GRAFT_EXPLAIN_EXEC").contains("true")
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          if (exec) df.queryExecution.toRdd.count()
          df.explain("formatted")
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
