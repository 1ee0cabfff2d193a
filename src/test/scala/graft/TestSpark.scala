package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as in Harness.session: drains reuse the codegen cache
      .config("spark.sql.artifact.isolation.enabled", "false")
      // and the fork-free local filesystem the mains register
      .config(Fs.nioLocalConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Drop caches a query left behind (several queries persist() shared
    * frames internally — the harness mains do this between queries;
    * suites that execute such queries through the shared session must
    * too, or persisted corpus-scale frames accumulate for the rest of
    * the test JVM). */
  def housekeeping(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
