package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: Bench, Verify, Scratch, GenScale and
  * the test suites all build their session here, so the conf policy has a
  * single home.
  */
object GraftSession {
  def apply(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // Load-bearing for oracle parity: the NTZ→LTZ casts in Q.events and
      // the date literals are value-identity re-tags only under UTC.
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); set once here, not as a
      // side effect of building a query (VERDICT r3 #6).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
