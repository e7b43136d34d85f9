package graft

/** Benchmark main: times every registered query at the given scale
  * factor and prints ONE JSON line with total + per-query seconds.
  * Progress goes to stderr so stdout stays machine-parseable.
  */
object Bench {

  /** 1-minute load average, or -1 where /proc is unavailable. */
  private def load1m(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** The bench must not RECORD a dirty window and adjudicate it
    * afterward (rounds 17 and 18 both lost their raw headline to host
    * load): sample the load BEFORE starting, auto-wait while it is
    * above the limit, and stamp the telemetry into the artifact so it
    * is self-certifying. If the window never clears, proceed (the
    * driver's run must still produce a number) but mark the artifact
    * `load_dirty` — the reader adjudicates from the stamp, not from
    * forensics. Dials: SPARK_GRAFT_LOAD_LIMIT (default 1.0),
    * SPARK_GRAFT_LOAD_WAIT_S (default 300; 0 disables the wait).
    */
  private def awaitQuietWindow(): (Double, Double, Long) = {
    val limit = sys.env.getOrElse("SPARK_GRAFT_LOAD_LIMIT", "1.0").toDouble
    val maxWaitS = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_S", "300").toLong
    val start = load1m()
    var now = start
    var waited = 0L
    while (now > limit && waited < maxWaitS) {
      System.err.println(f"[bench] 1-min load $now%.2f > $limit%.2f — waiting (${waited}s/${maxWaitS}s)")
      Thread.sleep(10000)
      waited += 10
      now = load1m()
    }
    (start, now, waited)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val limit = sys.env.getOrElse("SPARK_GRAFT_LOAD_LIMIT", "1.0").toDouble
    val (loadStart, loadAtRun, loadWaited) = awaitQuietWindow()
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/shuffle/parquet/broadcast-machinery warmup so the
    // alphabetically-first query doesn't absorb one-time JIT,
    // classloading and reader-init cost
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    locally {
      import org.apache.spark.sql.functions.broadcast
      val region = spark.read.parquet(s"$sfDir/region.parquet")
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      nation.join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name").count()
        .write.format("noop").mode("overwrite").save()
    }
    // optional args: bench only the named queries (local iteration).
    // Unknown names fail fast — a typo must not masquerade as a clean
    // (empty) run with exit 0.
    val wanted = args.toSet
    val unknown = wanted.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(registered: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")})")
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => wanted(n) }
    // two full passes, per-query MIN: this container's host load
    // swings single-query wall-times 2-3x minute to minute (40-69%
    // kernel time during stalls with the suite idle — see SCALE.md);
    // the min of two spaced samples strips most scheduler weather
    // while staying an honest cold-cache-free measurement of the plan
    def timeOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        pass: Int): (Double, Boolean) = {
      // clear the previous query's broadcast/shuffle garbage so its
      // collection doesn't land inside this query's timing
      System.gc()
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets Catalyst prune every
      // unreferenced projection, so projection-heavy queries would be
      // timed without computing their output columns
      // a red query must be diagnosable from the bench log alone:
      // carry the exception class (and first message line) to stderr
      val (ok, msg) = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); (true, "ok")
      } catch {
        case e: Throwable =>
          val m = Option(e.getMessage).map(_.linesIterator.next()).getOrElse("")
          (false, s"ERR ${e.getClass.getName}: $m")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name%-24s $secs%8.2f s  (p$pass, $msg)")
      (secs, ok)
    }
    val ordered = selected.toSeq.sortBy(_._1)
    val pass1 = ordered.map { case (n, f) => timeOnce(n, f, 1) }
    // cold-honesty between passes: evict anything any query persisted
    // so pass 2 measures the plan, not a warm cache read — the
    // per-query MIN must be the min of two COLD measurements
    spark.catalog.clearCache()
    val pass2 = ordered.map { case (n, f) => timeOnce(n, f, 2) }
    // per-query MIN over SUCCESSFUL passes only: a query that throws
    // fast must not have its failure wall-time reported as a valid
    // measurement. Both passes failed => no number, an explicit error.
    val results = ordered.map(_._1).zip(pass1.zip(pass2)).map {
      case (n, ((a, okA), (b, okB))) =>
        val good = Seq(a -> okA, b -> okB).collect { case (t, true) => t }
        n -> (if (good.nonEmpty) Some(good.min) else None)
    }
    def num(v: Double, decimals: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    val errors = results.collect { case (n, None) => n }
    val timed = results.collect { case (n, Some(t)) => n -> t }
    val total = timed.map(_._2).sum
    // The driver keeps only the LAST ~2000 chars of stdout: at 88+
    // queries the full per-query map no longer fits on one line, so
    // stdout carries a compact, always-parseable summary and the full
    // per-query map goes to stderr (above) and to bench_queries.json.
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + num(v, 2) }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the self-certifying window stamp: load at invocation, at run
    // start (post-wait), seconds waited, and at finish — a dirty
    // artifact says so itself instead of needing a post-hoc interleave
    val loadEnd = load1m()
    val loadJson =
      s""""load_start":${num(loadStart, 2)},"load_at_run":${num(loadAtRun, 2)},""" +
        s""""load_waited_s":$loadWaited,"load_end":${num(loadEnd, 2)},""" +
        s""""load_dirty":${loadAtRun > limit}"""
    val fullJson =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","passes":2,"n_queries":${results.size},"errors":$errJson,$loadJson,"queries":$qs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_queries.json"),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] full per-query JSON written to bench_queries.json")
    // stop BEFORE the final println: log4j's console appender writes
    // WARN lines to stdout, and the driver keeps only the last ~2000
    // chars — a shutdown warning after the JSON would displace it
    spark.stop()
    println(s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","passes":2,"n_queries":${results.size},"errors":$errJson,$loadJson,"sf":"$sfDir"}""")
  }
}
