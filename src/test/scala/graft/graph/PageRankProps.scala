package graft.graph

import graft.TestSpark
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** The compat array kernel against the DataFrame pass it replaced
  * ([[GraphFixtures.compatReference]]) on random small graphs: every
  * pass's state and mass must be bit-identical, at any shuffle width.
  * Each case runs Spark jobs, so the case count is small.
  */
object PageRankProps extends Properties("compat-kernel") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val node = Gen.choose(0L, 12L)

  /** Random edges over a few ids (so duplicate edges, self-loops, node
    * 0 with out-edges and in-degree > 1 are common), plus one of each
    * for certain: a repeated edge, a self-loop, an edge out of the
    * sink, and two edges into a target-only node.
    */
  private val graphs: Gen[Seq[(Long, Long)]] = for {
    m <- Gen.choose(1, 30)
    base <- Gen.listOfN(m, Gen.zip(node, node))
    a <- node
    b <- node
    sinkOnly <- Gen.choose(100L, 105L)
  } yield base ++ Seq(base.head, (a, a), (0L, b), (1L, sinkOnly), (2L, sinkOnly))

  property("the kernel equals the DataFrame pass, bit for bit, every pass") =
    forAllNoShrink(graphs, Gen.choose(1, 6), Gen.choose(1, 7), Gen.choose(2L, 5L)) {
      (edges, passes, width, k) =>
        val s = TestSpark.spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", width.toString)
        import s.implicits._
        val (kernel, reference) =
          GraphFixtures.kernelAndReference(edges.toDF("src", "dst"), k, passes)
        kernel.size == passes && kernel == reference
    }
}
