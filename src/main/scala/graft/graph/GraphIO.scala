package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph sources/sinks for the reference's edge-list format.
  *
  * Reference input (pageRank_v2.java:34,117,153): CSV `src,dst`, one
  * directed edge per line, non-negative int64 node ids, node 0 the
  * dangling sink. Output (pageRank_v2.java:64,217): CSV
  * `node,U,contrib,adj1-adj2-…-`.
  */
object GraphIO {

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** Edge CSV scan. Schema declared up-front so the reader never
    * type-infers (an extra pass over 100 TB) and malformed rows fail
    * fast instead of silently nulling.
    */
  def readEdgesCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(edgeSchema).option("mode", "FAILFAST").csv(path)

  /** Compat CSV sink: `node,U,contrib,adj-` rows, `-`-joined adjacency
    * with trailing dash (pageRank_v2.java:207-217). Expects columns
    * (node LONG, contrib DOUBLE, adj ARRAY<LONG>).
    */
  def compatRows(state: DataFrame): DataFrame = {
    state.select(
      col("node"),
      lit("U").as("flag"),
      col("contrib"),
      when(size(col("adj")) > 0,
        concat(concat_ws("-", col("adj")), lit("-")))
        .otherwise(lit("")).as("adjlist"))
  }

  def writeCompatCsv(state: DataFrame, path: String): Unit =
    compatRows(state)
      .select(concat_ws(",", col("node"), col("flag"), col("contrib"), col("adjlist")))
      .write.mode("overwrite").text(path)

  /** Inverse of [[writeCompatCsv]]: parse `node,U,contrib,adj1-adj2-…-`
    * state rows (the reference's iteration-input branch,
    * pageRank_v2.java:118-126) back to (node LONG, contrib DOUBLE,
    * adj ARRAY<LONG>). Java `Double.toString` output round-trips
    * through `parseDouble` exactly, so write→read is bit-exact.
    * All-columnar (split/element_at/filter) — no UDF, stays in codegen.
    */
  def readCompatCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(split(col("value"), ",", -1).as("f"))
      .select(
        element_at(col("f"), 1).cast(LongType).as("node"),
        element_at(col("f"), 3).cast(DoubleType).as("contrib"),
        filter(split(coalesce(element_at(col("f"), 4), lit("")), "-", -1),
          x => x =!= "").cast("array<long>").as("adj"))

  /** The reference mapper's input dispatch (pageRank_v2.java:118): a
    * line with exactly 2 comma-fields is a raw edge, anything else is
    * iteration state. One-row peek — O(1) regardless of input size.
    */
  def looksLikeCompatState(spark: SparkSession, path: String): Boolean =
    spark.read.text(path).limit(1).collect()
      .headOption.exists(_.getString(0).split(",", -1).length != 2)
}
