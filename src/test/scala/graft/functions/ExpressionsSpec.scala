package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def refPolyHash(s: String): Long =
    s.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % 2147483647L)

  test("PolyHash matches the reference fold and the HOF formulation") {
    import spark.implicits._
    val inputs = Seq("", "a", "spark graft", "the quick brown fox 123",
      "x" * 600)
    val df = inputs.toDF("s")
    val got = df.select(GraftExpressions.polyHash(col("s"))).as[Long].collect()
    assert(got.toSeq === inputs.map(refPolyHash))
    // equivalence with the higher-order-function form it replaced
    val hof = df.selectExpr(
      "aggregate(transform(filter(split(s, ''), ch -> ch <> ''), " +
        "ch -> CAST(ascii(ch) AS BIGINT)), CAST(0 AS BIGINT), " +
        "(acc, x) -> (acc * 31 + x) % 2147483647)").as[Long].collect()
    assert(got.toSeq === hof.toSeq)
  }

  test("DotProduct handles float and double arrays, left-to-right fold") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5, -1.0, 2.0)))
      .toDF("f", "d")
    val got = df.select(
      GraftExpressions.dot(col("f"), col("d")),
      GraftExpressions.dot(col("f"), col("f")),
      GraftExpressions.dot(col("d"), col("d"))).collect().head
    assert(got.getDouble(0) === (0.5 - 2.0 + 6.0))
    assert(got.getDouble(1) === 14.0)
    assert(got.getDouble(2) === (0.25 + 1.0 + 4.0))
  }

  test("DotProduct rejects non-numeric-array inputs at analysis") {
    import spark.implicits._
    val df = Seq(("x", Array(1.0))).toDF("s", "d")
    val err = intercept[Exception] {
      df.select(GraftExpressions.dot(col("s"), col("d"))).collect()
    }
    assert(err.getMessage.contains("graft_dot"))
  }

  test("ZOrder matches the per-bit definition and clusters tiles") {
    import spark.implicits._
    // brute-force bit interleave as the independent definition
    def ref(a: Long, b: Long): Long =
      (0 until 31).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 0L), (0L, 255L),
      (12345L, 54321L), (ZOrder.MaxKey, ZOrder.MaxKey))
    val df = cases.toDF("a", "b")
    val got = df.select(GraftExpressions.zorder(col("a"), col("b")))
      .as[Long].collect()
    assert(got.toSeq === cases.map { case (a, b) => ref(a, b) })
    // locality: keys in one aligned 2^8-tile share zval >> 16
    assert(ZOrder.interleave(256L, 512L) >> 16 ===
      ZOrder.interleave(256L + 255L, 512L + 255L) >> 16)
    // out-of-range raises instead of truncating
    val err = intercept[Exception] {
      Seq((ZOrder.MaxKey + 1, 0L)).toDF("a", "b")
        .select(GraftExpressions.zorder(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.contains("graft_zorder") ||
      err.getCause != null)
  }

  test("Sq8Encode matches the unrolled least/greatest/floor form bit for bit") {
    import spark.implicits._
    val lo = Array(0.0, -1.0, 2.0, 5.0)
    val rng = Array(10.0, 2.0, 0.0, 0.5)
    val df = Seq(
      (1L, Seq(0.0f, -1.0f, 99.0f, 5.1f)),   // lows / dead dim / interior
      (2L, Seq(10.0f, 1.0f, -3.0f, 9.0f)),   // highs / above-range clamp
      (3L, Seq(-5.0f, 3.0f, 0.0f, 4.0f))     // below-range clamp
    ).toDF("id", "v")
    val viaExpr = df.select(col("id"),
      GraftExpressions.sq8(col("v"), lo, rng).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaUnrolled = df.select(col("id"), array((0 until 4).map { i =>
      val x = element_at(col("v"), i + 1).cast("double")
      if (rng(i) == 0.0) lit(0.0)
      else least(lit(255.0), greatest(lit(0.0),
        floor((x - lit(lo(i))) * lit(255.0) / lit(rng(i)))))
    }: _*).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(viaExpr === viaUnrolled)
    // spot values: clamps engage, dead dim is 0
    assert(viaExpr(2L) === Seq(255.0, 255.0, 0.0, 255.0))
    assert(viaExpr(3L) === Seq(0.0, 255.0, 0.0, 0.0))
    // and the generated code stays bounded at ANY dimensionality:
    // a 4096-dim encode plans and runs (the unrolled form at this
    // width would be ~800k lines of Java)
    val wideLo = Array.fill(4096)(0.0)
    val wideRng = Array.fill(4096)(1.0)
    val wide = Seq((1L, Seq.fill(4096)(0.5f))).toDF("id", "v")
      .select(GraftExpressions.sq8(col("v"), wideLo, wideRng).as("c"))
      .head().getSeq[Double](0)
    assert(wide.length === 4096 && wide.forall(_ === 127.0))
  }

  test("Sq8Encode encodes a NULL array element as the defined 0.0 sentinel") {
    import spark.implicits._
    val lo = Array(0.0, 0.0)
    val rng = Array(10.0, 10.0)
    // containsNull=true input: slot 0 null, slot 1 live
    val df = Seq(Tuple1(Seq[Option[Double]](None, Some(5.0))))
      .toDF("v").select(col("v").cast("array<double>").as("v"))
    val got = df.select(GraftExpressions.sq8(col("v"), lo, rng))
      .head().getSeq[Double](0)
    assert(got === Seq(0.0, 127.0),
      "null slot must encode as the sentinel, not the slot's garbage bytes")
  }

  test("UriDecode reconciles input_file_name renderings with raw file names") {
    import spark.implicits._
    val cases = Seq(
      "part=a%20b/f-1.parquet" -> "part=a b/f-1.parquet",   // escaped space
      "part=a%2525b/f.parquet" -> "part=a%25b/f.parquet",   // hive-escaped %
      "part=199703/f.parquet" -> "part=199703/f.parquet",   // untouched
      "part=a+b/f.parquet" -> "part=a+b/f.parquet"          // literal + kept
    )
    val got = cases.map(_._1).toDF("s")
      .select(GraftExpressions.uriDecode(col("s"))).as[String].collect()
    assert(got.toSeq === cases.map(_._2))
  }

  test("SQL registration exposes graft_polyhash and graft_dot") {
    val r = spark.sql(
      "SELECT graft_polyhash('spark graft') AS h, " +
        "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect().head
    assert(r.getLong(0) === refPolyHash("spark graft"))
    assert(r.getDouble(1) === 11.0)
  }
}
