package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the defaults every graft entrypoint shares.
  *
  * Local mode is a stand-in for a multi-executor cluster: shuffle
  * partitioning, AQE, and broadcast thresholds are configured as they
  * would be on a real deployment, so plans exercised here carry over.
  *
  * Local file system: `file:` paths go through [[NioLocalFileSystem]]
  * (FileSystem API: parquet writes, sink markers, reliable pins) and
  * [[NioLocalFs]] (FileContext API: the state store, the offset and
  * commit logs). Spark's jars ship no libhadoop, so Hadoop's own local
  * file system forks `chmod` on every create and mkdirs and `readlink`
  * twice per FileContext rename. JFR counted 2,301 such processes
  * (1,624 `readlink`, 677 `chmod`) in one 8 s `cdc_upsert` benchmark
  * run of 10 cycles, each a 500-change micro-batch, its watermark tick
  * and a read: state store 1,628, offset/commit logs 402, snapshot
  * writes 219, sink markers 41, other checkpoint files 11. With these
  * classes it counted none. Checksums, `.crc` files and permission
  * bits are unchanged.
  * The master is always `local[n]`, so executors load the classes from
  * the driver's classpath; a `local-cluster` master would also need
  * them on `spark.executor.extraClassPath`.
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
      // in-process `file:` file systems; see "Local file system" above
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)

  def local(cpus: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a graft session always carries the SQL surface (clean_name,
    // haversine, dot/l2norm/cosine, content key, hyperplane sigs)
    GraftFunctions.register(spark)
    spark
  }
}
