package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor amplifier for the driver's parquet testdata: replicates
  * the FACT tables (orders, lineitem, events, documents, embeddings)
  * `factor`× with disjoint surrogate-key ranges, keeping the dimension
  * tables (region, nation, customer, supplier, part) as-is — the same
  * shape real SF scaling has (facts grow, dims grow sublinearly). Used
  * for the sf1 bench datapoint (SCALE.md): the driver ships sf≤0.1, and
  * /root/testdata is read-only, so the ×10 variant is generated into
  * the build dir.
  *
  * Key discipline: replica i offsets each table's OWN primary key by
  * i·(max(key)+1) so replicas never collide, while foreign keys into
  * the dims (o_custkey, l_partkey, l_suppkey, user_id) are left
  * untouched — joins stay valid and fan-out grows linearly. Document
  * text gets a per-replica suffix (and n_chars tracks it) so the corpus
  * doesn't become 10 exact copies — dedup queries then see realistic
  * near-dup pressure instead of a degenerate all-duplicates corpus;
  * embeddings are replicated verbatim, which IS the degenerate case on
  * purpose: identical vectors stress the LSH/IVF bucket-occupancy
  * ceilings the d08/s-family designs claim to bound.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "target/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = Runtime.session()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, factor)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String,
               factor: Int): Unit = {
    val dims = Seq("region", "nation", "customer", "supplier", "part")
    dims.foreach { t =>
      Tables(spark, src, t).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    }
    replicate(Tables(spark, src, "orders"), "o_orderkey", factor)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    // lineitem keys follow the SAME orderkey span as orders so the
    // l_orderkey → o_orderkey join stays consistent per replica
    val orderSpan = span(Tables(spark, src, "orders"), "o_orderkey")
    replicate(Tables(spark, src, "lineitem"), "l_orderkey", factor,
      spanOverride = Some(orderSpan))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    replicate(Tables(spark, src, "events"), "event_id", factor)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    replicate(Tables(spark, src, "documents"), "doc_id", factor,
      keepReplica = true)
      .withColumn("text",
        when(col("replica") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" r"), col("replica"))))
      .withColumn("n_chars",
        when(col("replica") === 0, col("n_chars"))
          .otherwise(col("n_chars") + lit(2) +
            length(col("replica").cast("string"))))
      .drop("replica")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    replicate(Tables(spark, src, "embeddings"), "vec_id", factor)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  private def span(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** `factor` copies of `df`, replica i shifting `key` by i·span.
    * Keeps the transient `replica` column only when the caller still
    * needs it (documents' text perturbation).
    */
  private def replicate(df: DataFrame, key: String, factor: Int,
                        spanOverride: Option[Long] = None,
                        keepReplica: Boolean = false): DataFrame = {
    val sp = spanOverride.getOrElse(span(df, key))
    val copies = df.sparkSession.range(factor.toLong)
      .select(col("id").cast("int").as("replica"))
    val shifted = df.crossJoin(broadcast(copies))
      .withColumn(key, col(key) + col("replica").cast("long") * lit(sp))
    if (keepReplica) shifted else shifted.drop("replica")
  }
}
