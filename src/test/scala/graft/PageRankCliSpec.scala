package graft

import java.nio.file.{Files, Paths}

import graft.graph.{GraphFixtures, GraphIO, PageRank}
import org.scalatest.funsuite.AnyFunSuite

/** CLI-driver behavior: pass-numbering offsets on resume and
  * prior-output preservation (pageRank_v2.java:96-98 writes one dir
  * per global pass; a resumed run must continue that numbering, not
  * renumber from 1 and clobber).
  */
class PageRankCliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pass offset derives from the state-dir's digit suffix") {
    assert(PageRankCli.passOffsetOf("/tmp/x/out3") === 3)
    assert(PageRankCli.passOffsetOf("/tmp/x/out12/") === 12)
    assert(PageRankCli.passOffsetOf("/tmp/x/state") === 0)
    // an all-digit name is a name, not a pass suffix
    assert(PageRankCli.passOffsetOf("123") === 0)
  }

  test("resumed run continues numbering and leaves prior dirs intact") {
    val tmp = Files.createTempDirectory("graft-cli").toString
    val edgesCsv = s"$tmp/edges"
    GraphFixtures.kChainEdges(spark, 3)
      .select(org.apache.spark.sql.functions.concat_ws(",",
        org.apache.spark.sql.functions.col("src"),
        org.apache.spark.sql.functions.col("dst")))
      .coalesce(1).write.text(edgesCsv)
    val out = s"$tmp/out"

    def dirLines(p: String): Seq[String] =
      spark.read.text(p).as[String].collect().toSeq.sorted

    val first = PageRankCli.run(spark, edgesCsv, out, 3, 2)
    assert(Files.exists(Paths.get(out + "1")))
    assert(Files.exists(Paths.get(out + "2")))
    val snap1 = dirLines(out + "1")
    val snap2 = dirLines(out + "2")

    val resumed =
      PageRankCli.run(spark, out + "2", out, 3, 2, first.danglingMass)
    // continued numbering: out3/out4 created, out1/out2 untouched
    assert(Files.exists(Paths.get(out + "3")))
    assert(Files.exists(Paths.get(out + "4")))
    assert(dirLines(out + "1") === snap1)
    assert(dirLines(out + "2") === snap2)

    // and the resumed chain is the uninterrupted run, bit-exact
    // (state CSV round-trips exactly; see PageRankSpec)
    val full = PageRank.compat(GraphFixtures.kChainEdges(spark, 3), 3, 4)
    def toMap(st: org.apache.spark.sql.DataFrame) =
      st.select("node", "contrib", "adj")
        .as[(Long, Double, Seq[Long])].collect()
        .map { case (n, c, a) => n -> (c, a.toSet) }.toMap
    assert(toMap(resumed.state) === toMap(full.state))
    assert(resumed.danglingMass === full.danglingMass)
  }
}
