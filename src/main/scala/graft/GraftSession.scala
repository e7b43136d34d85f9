package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the defaults every graft entrypoint shares.
  *
  * Local mode is a stand-in for a multi-executor cluster: shuffle
  * partitioning, AQE, and broadcast thresholds are configured as they
  * would be on a real deployment, so plans exercised here carry over.
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the registry carries 100+ distinct query plans; the default
      // 100-entry generated-class cache (janino output) thrashes on a
      // full sweep, re-paying multi-second compiles per pass. Static
      // conf — must be set before the first session is built.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // a reliable operators.materialize pin is deleted when its frame
      // is collected, the lifetime a local pin has; without it the
      // files stay in the checkpoint dir for the whole session
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  def local(cpus: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a graft session always carries the SQL surface (clean_name,
    // haversine, dot/l2norm/cosine, content key, hyperplane sigs)
    GraftFunctions.register(spark)
    spark
  }
}
