package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every operator module's registry; each key
  * has a matching DuckDB oracle in `oracleSql` (or a deliberate omission
  * for non-SQL-expressible operators → rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Iterative PageRank over the orders-derived graph — the reference's
    * core computation (SURVEY.md §0.1) on the driver's testdata.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("g04_pagerank")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.CoreQueries.queries ++
      graft.queries.GraphQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.DedupQueries.queries ++
      graft.queries.SimilarityQueries.queries ++
      graft.queries.MultimodalQueries.queries ++
      graft.queries.StreamQueries.queries ++
      graft.queries.PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.CoreQueries.oracle ++
      graft.queries.GraphQueries.oracle ++
      graft.queries.TextQueries.oracle ++
      graft.queries.DedupQueries.oracle ++
      graft.queries.SimilarityQueries.oracle ++
      graft.queries.MultimodalQueries.oracle ++
      graft.queries.StreamQueries.oracle ++
      graft.queries.PipelineQueries.oracle

  /** An entry's family: its leading letters, not one char, so the `st`
    * streaming entries are a family apart from `s` similarity. */
  def family(name: String): String = name.takeWhile(!_.isDigit)

  /** `run` over the entries `keep` selects, in name order, with the
    * shared relations evicted at every family boundary. Families share
    * no relations across a boundary, so this bounds executor memory to
    * one family's working set without losing within-family reuse.
    */
  def byFamily[A](spark: SparkSession, keep: String => Boolean)(
      run: (String, (SparkSession, String) => DataFrame) => A): Seq[A] = {
    var fam = ""
    queries.toSeq.sortBy(_._1).filter { case (name, _) => keep(name) }
      .map { case (name, fn) =>
        if (fam.nonEmpty && family(name) != fam) {
          graft.queries.SharedRelations.evict(spark)
          // The evict drops block-manager entries but their heap garbage
          // lingers until the next major GC — measured shading g04/g08
          // medians 2-3x after the d family. One explicit collection per
          // boundary keeps each family's run clean.
          System.gc()
        }
        fam = family(name)
        run(name, fn)
      }
  }
}
