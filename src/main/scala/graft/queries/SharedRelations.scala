package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session's memo of everything built once per (session, sfDir)
  * and reused across queries: the persisted base relations several
  * query families derive from (the orders-derived edge list, the
  * shingle relation, the normalized embedding table — the
  * Spark-native analogue of a materialized view in the catalog), the
  * on-disk layouts under [[graft.sources.Layouts]] (partition trees,
  * stats sidecars, versioned tables, bucketed catalog tables), and
  * the converged graph results with their checkpoint RDDs.
  *
  * Keys hold the session reference, so a stopped session's entries are
  * never served to a new one. Long-lived drivers (Bench between query
  * families, a service-style entry point between workloads) call
  * [[evict]] to release the session's entries; the next call
  * rebuilds.
  */
object SharedRelations {
  private val store =
    TrieMap.empty[(SparkSession, String, String), (Any, () => Unit)]
  private val hooks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `build` once per (session, dir, name); evicting drops the entry
    * and frees nothing — for an artifact whose files ARE the
    * materialization (a layout tree, a sidecar path). */
  def memo[A](s: SparkSession, dir: String, name: String)(build: => A): A =
    pinned(s, dir, name)(build)(_ => ())

  /** [[memo]] for a value that holds executor resources: evicting `s`
    * runs `release` on it. */
  def pinned[A](s: SparkSession, dir: String, name: String)(build: => A)
               (release: A => Unit): A =
    store.getOrElseUpdate((s, dir, name), {
      val a = build
      (a, () => release(a))
    })._1.asInstanceOf[A]

  /** A base relation, persisted `MEMORY_AND_DISK` until eviction. */
  def apply(s: SparkSession, dir: String, name: String)
           (build: => DataFrame): DataFrame =
    pinned(s, dir, name)(build.persist(StorageLevel.MEMORY_AND_DISK))(
      _.unpersist(false))

  /** Register a cleanup to run when `s` is evicted — for state that
    * is not one memo entry (the iterative loops' parked pins and
    * resumable checkpoints). Hooks run once and are dropped.
    */
  def onEvict(s: SparkSession)(f: () => Unit): Unit =
    store.put((s, "", "onEvict#" + hooks.incrementAndGet()), ((), f))

  /** Release every entry memoized for `s` and run its hooks, then clear
    * the session cache wholesale — the latter also drops stray
    * non-shared persists (e.g. the trailing per-pass caches of the
    * iterative PageRank loops), so a long run's executor memory stays
    * bounded by one family's working set.
    */
  def evict(s: SparkSession): Unit = {
    store.keys.filter(_._1 eq s).foreach { k =>
      store.remove(k).foreach(_._2())
    }
    s.catalog.clearCache()
  }
}
