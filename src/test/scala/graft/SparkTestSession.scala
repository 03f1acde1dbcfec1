package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A second session on the shared context whose only graft setup is
    * `withExtensions(new GraftExtensions)` — the SQL install path.
    * The equivalent `--conf spark.sql.extensions=graft.GraftExtensions`
    * is a STATIC conf: it only applies when the SparkContext itself is
    * created with it, which a test sharing a context can't do.
    */
  lazy val withGraftExtensions: SparkSession = {
    val base = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
