package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.GraftSession

/** Entry point behind `perfbench/run.py`, which builds the classes,
  * lays out the working directory and passes every path.
  *
  *   bench --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *         --expected FILE --result FILE --record FILE [--commit SHA] [--source SHA]
  *   record-expected --data DIR --work DIR --expected FILE
  */
object Main {

  private def flags(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  private def loadavg(): String =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim).getOrElse("unavailable")

  def main(args: Array[String]): Unit = args.toList match {
    case "bench" :: rest => bench(flags(rest))
    case "record-expected" :: rest => recordExpected(flags(rest))
    case _ => throw new IllegalArgumentException("usage: bench ... | record-expected ...")
  }

  private def bench(f: Map[String, String]): Unit = {
    val trace = f("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val ctx = Ctx(f("workload"), f("seed").toLong, f("seconds").toInt, trace, f("data"), f("work"),
      f("expected"), Runtime.getRuntime.availableProcessors)
    require(ctx.seconds > 0, "--seconds must be positive")
    val loadStart = loadavg()
    val outcome = ctx.workload match {
      case "cdc_upsert" => new CdcWorkload(ctx).run()
      case w if Workloads.QueryWorkloads.contains(w) => new QueryWorkload(ctx, Workloads.QueryWorkloads(w)).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val stamp = Json.Obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> ctx.trace,
      "nproc" -> ctx.nproc, "master" -> s"local[${ctx.nproc}]", "inputs" -> "sf0.01 tables in perfbench/data",
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "git_commit" -> f.get("commit"), "source_sha256" -> f.get("source"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}")
    val named: Seq[(String, String)] =
      if (trace) Layers.Metrics.map(m => m.name -> m.unit) else Run.EndToEnd
    val values = if (trace) outcome.layers else outcome.endToEnd
    val metrics = named.collect { case (n, unit) if values.contains(n) =>
      n -> Json.Obj("value" -> values(n), "unit" -> unit)
    }
    val result = Json.Obj(
      "correct" -> (outcome.failed == 0 && metrics.size == named.size),
      "attempted" -> outcome.attempted.max(1L),
      "failed" -> outcome.failed,
      "metrics" -> Json.Obj(metrics: _*))
    val record = Json.Obj(
      "stamp" -> stamp,
      "end_to_end" -> outcome.endToEnd,
      "per_layer" -> outcome.layers,
      "attempted" -> outcome.attempted,
      "failures" -> outcome.failures,
      "detail" -> outcome.detail)
    Files.write(Paths.get(f("record")), Json.render(record).getBytes(UTF_8))
    Files.write(Paths.get(f("result")), Json.render(result).getBytes(UTF_8))
  }

  /** Runs every query of both query workloads twice, in two orders, in
    * one session; writes the fingerprints when both passes agree.
    */
  private def recordExpected(f: Map[String, String]): Unit = {
    val names = (Workloads.Resolve ++ Workloads.Lookup).distinct
    val queries = Workloads.resolveQueries(names)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    val passes = Seq(1, 2).map { pass =>
      Workloads.roundOrder(names, 0L, pass).map { n =>
        val df = queries.toMap.apply(n)(spark, f("data"))
        n -> Fingerprint.of(df.columns.toSeq, df.collect())
      }.toMap
    }
    spark.stop()
    val unstable = names.filter(n => passes(0)(n) != passes(1)(n))
    require(unstable.isEmpty, s"results differ between two passes: ${unstable.mkString(", ")}")
    Expected.write(f("expected"), Seq(
      "Expected row count and order-insensitive fingerprint (perfbench/src/perfbench/Fingerprint.scala)",
      "of each query's result on perfbench/data. Written by: python3 perfbench/run.py --record-expected"),
      passes(0))
  }
}
