package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

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

  /** The session memo: every trained or derived artifact (LR weights,
    * BPE merges, k-means anchors, PQ codebooks, contaminated ids, corpus
    * row counts) is computed once per session and reused by every
    * query built in it. Training is a fixed cost per (corpus, params);
    * re-running it per query build repays that cost for nothing. The
    * session is the reuse scope: a new session recomputes, which is
    * right when the directory contents may have changed between
    * sessions, and a collected session's entries go with it (weak
    * keys). Three rules:
    *  1. A value must not reference its session. A `Dataset` does, so
    *     it would pin the weak key forever; frames go through
    *     [[memoFrame]], which keeps the collected rows.
    *  2. A key names its family and every training input, since all
    *     families share one map: `rows|$dir/$name`, `anchors|…`,
    *     `pqcodebook|…`, `lr|$dir`, `lr_ngram|$dir`, `bpe|…|k=`,
    *     `contam_ids|$dir`.
    *  3. `compute` runs outside the map's lock, forced through a per-key
    *     holder, so a compute may itself call `memo` (trained anchors
    *     inside a derived artifact) without a recursive-update error or
    *     a deadlock. Concurrent callers of one key wait for one compute;
    *     a compute that throws leaves the key unset.
    * A hit starts no Spark job. [[clearMemos]] drops a session's
    * entries, so the next use recomputes under the session's current
    * configuration.
    */
  def memo[V](spark: SparkSession, key: String)(compute: => V): V = {
    val perSession = memos.synchronized {
      memos.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Memo]())
    }
    perSession.computeIfAbsent(key, _ => new Memo(() => compute)).get.asInstanceOf[V]
  }

  /** [[memo]] for a frame: the value kept is the collected rows and
    * schema (bounded artifacts: k·dim cells, an id set), and a hit
    * rebuilds a `LocalRelation` from them — zero jobs, and the local
    * table broadcasts for free.
    */
  def memoFrame(spark: SparkSession, key: String)(df: => DataFrame): DataFrame = {
    val (schema, rows) = memo[(StructType, Array[Row])](spark, key) {
      val d = df
      (d.schema, d.collect())
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Drops every memoized artifact of `spark`. */
  def clearMemos(spark: SparkSession): Unit = memos.synchronized { memos.remove(spark) }

  private val memos = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Memo]]()

  /** One key's value, computed on first `get`; the thunk is dropped
    * once it has run, so it does not keep its captures alive. */
  private final class Memo(private var compute: () => Any) {
    private var value: Any = _
    def get: Any = synchronized {
      if (compute != null) {
        value = compute()
        compute = null
      }
      value
    }
  }
}
