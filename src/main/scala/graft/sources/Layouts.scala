package graft.sources

import org.apache.spark.sql.SparkSession

/** Where the engine's on-disk artifacts live and what they are called.
  * One root holds all of them: the hive-partitioned and z-ordered
  * rewrites ([[PartitionedWrite]], [[ZOrderedWrite]]), the derived
  * tables and stats sidecars beside them (q50's month sketches, q54's
  * partition stats), the versioned tables, the streaming runners'
  * run dirs (`<root>/streams/run_N`) and d16's shard spills
  * (`<root>/d16_shards_…`). One dial for all of them
  * (`graft.layout.root` conf / `GRAFT_LAYOUT_ROOT` env, default
  * `target`): the default keeps local runs self-contained; on a
  * cluster point it at the warehouse mount (any URI Hadoop's
  * FileSystem API mounts), where the partition tree and its sketch
  * sidecar land TOGETHER — the production posture q50's scaladoc
  * describes (a sketch row materialized as each partition is
  * ingested, rollups never re-scanning raw ids).
  *
  * Every per-corpus artifact under the root is rebuild-on-miss: it is
  * memoized per (session, corpus) by
  * [[graft.queries.SharedRelations.memo]] and rewritten when the memo
  * is cold (a fresh session, or after `SharedRelations.evict`), so a
  * wiped root — `sbt clean` at the demo scale — costs one rebuild
  * pass, never correctness.
  */
object Layouts {
  def root(s: SparkSession): String =
    s.conf.getOption("graft.layout.root")
      .orElse(sys.env.get("GRAFT_LAYOUT_ROOT"))
      .getOrElse("target")

  /** `<root>/<rel>`: an artifact that is not per-corpus (a streaming
    * run dir) or that carries its own [[tag]] (a d16 spill). */
  def under(s: SparkSession, rel: String): String = root(s) + "/" + rel

  /** `<root>/<name>_<digest>` — the per-corpus artifact `name` built
    * from the SF dir `dir`. */
  def path(s: SparkSession, dir: String, name: String): String =
    under(s, name + "_" + pathDigest(dir))

  /** Catalog- and filesystem-safe tag for `dir`: the path with every
    * non-identifier char collapsed to `_` — readable — plus its
    * [[pathDigest]], because the sanitization alone is lossy
    * (`data/sf0.1` and `data/sf0_1` collapse together) and two inputs
    * sharing a bucketed table or a spill dir would silently corrupt
    * each other's results.
    */
  def tag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9_]", "_").replaceAll("_+", "_")
      .stripPrefix("_") + "_" + pathDigest(dir)

  /** First 8 hex chars of SHA-256 of a raw path — what keeps two
    * distinct SF dirs from ever sharing an artifact. */
  def pathDigest(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
}
