package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins the session memo's contract: one build per (session, dir,
  * name), and an eviction that releases and forgets exactly the
  * evicted session's entries.
  */
class SharedRelationsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("memo builds once per key; evict releases only its own session's entries, which then rebuild") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val builds = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(s: org.apache.spark.sql.SparkSession, tag: String, dir: String,
            name: String): String =
      SharedRelations.pinned(s, dir, name) {
        builds(s"$tag/$dir/$name") += 1
        s"$tag/$dir/$name"
      }(released += _)
    def layout(s: org.apache.spark.sql.SparkSession, tag: String): String =
      SharedRelations.memo(s, "d1", "layout") {
        builds(s"$tag/layout") += 1
        s"$tag/layout"
      }

    for (_ <- 1 to 2) {
      get(a, "a", "d1", "x"); get(a, "a", "d2", "x"); get(a, "a", "d1", "y")
      get(b, "b", "d1", "x"); layout(a, "a"); layout(b, "b")
    }
    assert(builds.toMap === Map("a/d1/x" -> 1, "a/d2/x" -> 1,
      "a/d1/y" -> 1, "b/d1/x" -> 1, "a/layout" -> 1, "b/layout" -> 1))
    val relA = SharedRelations(a, "d1", "rel")(a.range(10).toDF("n"))
    val relB = SharedRelations(b, "d1", "rel")(b.range(11).toDF("n"))
    assert(relA.count() === 10L && relB.count() === 11L)

    SharedRelations.evict(a)
    assert(released.sorted.toSeq === Seq("a/d1/x", "a/d1/y", "a/d2/x"))
    assert(!org.apache.spark.sql.graft.ColumnBridge.isCached(relA))
    assert(org.apache.spark.sql.graft.ColumnBridge.isCached(relB),
      "evicting one session must leave another session's relations cached")
    get(a, "a", "d1", "x"); layout(a, "a")
    get(b, "b", "d1", "x"); layout(b, "b")
    assert(builds("a/d1/x") === 2 && builds("a/layout") === 2,
      "an evicted entry must rebuild on the next call")
    assert(builds("b/d1/x") === 1 && builds("b/layout") === 1,
      "evicting one session must leave another session's entries alone")
    assert(released.size === 3)
    SharedRelations.evict(b)
    SharedRelations.evict(a)
    assert(released.sorted.toSeq ===
      Seq("a/d1/x", "a/d1/x", "a/d1/y", "a/d2/x", "b/d1/x"))
    assert(!org.apache.spark.sql.graft.ColumnBridge.isCached(relB))
  }
}
