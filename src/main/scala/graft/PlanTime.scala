package graft

/** Developer tooling (like [[Explain]]): splits each registered
  * query's wall time into DRIVER-side plan work (DataFrame
  * construction + analysis + optimization + physical planning +
  * first-fragment codegen trigger) vs cluster execution, so a slow
  * bench row can be attributed to plan size instead of guessed at.
  *
  * Usage: tools/run.sh graft.PlanTime [sfDir] [cpus] [queryName...]
  */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = args.drop(1).headOption.getOrElse("32").toInt
    val wanted = args.drop(2).toSet
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
    sel.foreach { case (name, fn) =>
      System.gc()
      spark.sparkContext.setJobDescription(s"$name:construct")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      // force analysis + optimization + physical planning (no execution)
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"$name:exec")
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      spark.sparkContext.setJobDescription(null)
      println(f"[plantime] $name%-28s construct ${(t1 - t0) / 1e9}%7.2f  plan ${(t2 - t1) / 1e9}%7.2f  exec ${(t3 - t2) / 1e9}%7.2f  total ${(t3 - t0) / 1e9}%7.2f")
    }
    spark.stop()
  }
}
