package graft

/** One shared local session for all suites (avoids per-suite JVM-wide
  * SparkContext churn; `getOrCreate` makes suites order-independent),
  * built by [[Runtime.session]] so the specs exercise the plans the
  * mains run. The warehouse dir is a static conf: SparkConf reads
  * `spark.*` system properties, so setting one here reaches it.
  */
object TestSpark {
  lazy val spark = {
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = Runtime.session()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
