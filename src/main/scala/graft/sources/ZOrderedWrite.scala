package graft.sources

import graft.functions.GraftExpressions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** First-class z-ordered (Morton-clustered) parquet write — the layout
  * operator behind Delta/Iceberg `ZORDER BY`, promoted out of the
  * `Duel zorder` harness (r10 verdict item 5): cluster rows so that
  * files are near-square tiles of a 2-D key plane, making parquet
  * min/max row-group pruning effective for predicates on EITHER or
  * BOTH dimensions — where a 1-D sort layout bounds only its own sort
  * column.
  *
  * Mechanics (each step load-bearing):
  *  1. both dims NORMALIZE to a common 16-bit width via
  *     `floorDiv(c · 65535, max)` — bit-balance is required: with raw
  *     keys of unequal width the interleave exhausts the narrow dim's
  *     bits early and every file spans nearly its whole domain
  *     (measured 1.73× prune vs ~12× normalized — SCALE.md "z-order
  *     needs bit-balanced dims");
  *  2. `zorder(a, b)` interleaves the normalized bits (codegen'd
  *     [[graft.functions.ZOrder]], one static call per row);
  *  3. `repartitionByRange(nFiles, zval)` + `sortWithinPartitions` —
  *     range boundaries come from Spark's reservoir sample, so files
  *     are near-equal row counts regardless of key skew; at 100 TB
  *     `nFiles` is the scale dial (pick ≈ one row-group-multiple per
  *     file).
  *
  * The two dim maxima are one 2-scalar driver aggregate (the only
  * driver action; everything else is a distributed write). The
  * written schema is the input's plus `zval` — keeping the cluster
  * key queryable costs 8 bytes/row and lets audits ([[graft.queries
  * .CoreQueries.q42_zorder]] reads this layout) bucket by it without
  * recomputation. ZOrderedWriteSpec pins the file-envelope contract:
  * per-file (dimA × dimB) normalized bounding area is ≥ 4× tighter
  * than the same data 1-D-sorted; the `Duel zorder` records the
  * resulting scan-row prune at sf0.1 (~12× on a 2-D box, ~8× on a
  * dim-2-only band where 1-D prunes nothing).
  */
object ZOrderedWrite {

  /** Normalized dim width: 16 bits per dim (31 available) keeps the
    * interleave exact while bit-balancing arbitrary key domains.
    */
  val NormBits = 16
  private val NormMax = (1L << NormBits) - 1

  private def norm(c: org.apache.spark.sql.Column, mx: Long) =
    GraftExpressions.floorDiv(c * lit(NormMax), lit(math.max(mx, 1L)))

  /** Write `df` z-clustered on `(dimA, dimB)` into `path` as `nFiles`
    * parquet files; returns the written relation re-read from disk.
    *
    * Input contract (enforced): both dims must be NON-NEGATIVE
    * integral columns — the normalize-then-interleave treats values
    * as unsigned bit patterns, so a negative key would z-sort AFTER
    * every positive one and silently wreck locality; the one-pass
    * min/max probe below rejects that loudly instead. Degenerate
    * domains are fine: a dim whose max is 0 (all zeros) or an empty
    * input normalizes to the constant-0 lane — the layout collapses
    * to a 1-D sort on the other dim, which is the correct limit.
    * Exactly TWO dims by signature: 16 normalized bits per dim is
    * the 2-D sweet spot (31 interleaved bits stay in a positive
    * int); a 3-dim request should re-derive the width (10 bits/dim),
    * not reuse this.
    */
  /** The z-cluster key for `df`'s (dimA, dimB): one 2-scalar driver
    * aggregate for the dim maxima (the normalize step), then the
    * codegen'd interleave — shared by [[write]] and
    * [[VersionedTable.commitOptimizeZOrder]] so OPTIMIZE ZORDER is a
    * composition of the proven layout operator, not a re-derivation.
    * Enforces the non-negative integral-dims contract. */
  private[sources] def zvalColumn(df: DataFrame, dimA: String,
                                  dimB: String): org.apache.spark.sql.Column = {
    val r = df.agg(max(col(dimA).cast("long")), max(col(dimB).cast("long")),
      min(col(dimA).cast("long")), min(col(dimB).cast("long"))).head()
    // empty input: nulls from the aggregate — key by a constant 0
    // z-value rather than NPE on getLong
    val (mxA, mxB) = (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1))
    Seq((dimA, 2), (dimB, 3)).foreach { case (d, i) =>
      require(r.isNullAt(i) || r.getLong(i) >= 0L,
        s"z-order dim '$d' has negative values (min=${r.getLong(i)}): " +
          "the interleave treats keys as unsigned — shift or clamp first")
    }
    GraftExpressions.zorder(
      norm(col(dimA).cast("long"), mxA), norm(col(dimB).cast("long"), mxB))
  }

  def write(spark: SparkSession, df: DataFrame, dimA: String, dimB: String,
            nFiles: Int, path: String): DataFrame = {
    // range boundaries come from a sample seeded with the RDD id: the
    // file tiling (not the relation) varies with how many RDDs the
    // context created before this write
    df.withColumn("zval", zvalColumn(df, dimA, dimB))
      .repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
