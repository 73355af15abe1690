package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph inputs the specs generate rather than read. */
object GraphFixtures {

  /** k disjoint chains of k nodes, tails → sink 0 — the reference's
    * synthetic fixture family (pageRank_v2.java:32-43, FIXTURES.md A.2).
    * Generated distributed via `spark.range` (no driver-side
    * materialization).
    */
  def kChainEdges(spark: SparkSession, k: Long): DataFrame = {
    // node ids 1..k²; edge i→i+1 within a chain, tail (c*k+k)→0
    spark.range(1, k * k + 1).toDF("src")
      .select(col("src"),
        when(col("src") % k === 0, lit(0L)).otherwise(col("src") + 1).as("dst"))
  }
}
