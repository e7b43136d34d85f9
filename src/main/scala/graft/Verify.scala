package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names for fast local runs
    val only: Set[String] = if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // coalesce(1) keeps the driver's per-query dump a single file, but
    // it also caps the WRITE stage at one thread — at the sf1.0 slice
    // the pair queries emit 10^8 rows and the single-file write (not
    // the query) dominates. Local big-SF runs set SPARK_GRAFT_NO_COALESCE=1;
    // the checker reads <name>/*.parquet either way.
    val noCoalesce = sys.env.get("SPARK_GRAFT_NO_COALESCE").contains("1")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name))
        try {
          val df = fn(spark, sfDir)
          (if (noCoalesce) df else df.coalesce(1))
            .write.mode("overwrite").parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
