package perfbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** The benchmark's own tests. No Spark session is started.
  * Run with: python3 perfbench/run.py --self-test
  */
object SelfTest {

  private def feedBytes(seed: Long): Array[Byte] =
    Workloads.cdcEvents(seed, batches = 4).map(_.toString).mkString("\n").getBytes("UTF-8")

  private val tests: Seq[(String, String => Unit)] = Seq(
    "the same seed gives byte-identical CDC feeds" -> { _ =>
      assert(java.util.Arrays.equals(feedBytes(7), feedBytes(7)))
      assert(!java.util.Arrays.equals(feedBytes(7), feedBytes(8)))
    },
    "the same seed gives the same query orders" -> { _ =>
      val a = (0 to 5).map(Workloads.roundOrder(Workloads.Resolve, 7, _))
      val b = (0 to 5).map(Workloads.roundOrder(Workloads.Resolve, 7, _))
      assert(a == b)
      assert(a.forall(_.sorted == Workloads.Resolve.sorted))
      assert(a.distinct.size > 1, "rounds of one seed should not all share one order")
      assert(Workloads.roundOrder(Workloads.Lookup, 8, 1) != Workloads.roundOrder(Workloads.Lookup, 7, 1))
    },
    "the feed stays inside its key space and commit order" -> { _ =>
      val ev = Workloads.cdcEvents(3, batches = 2)
      assert(ev.size == 2 * Workloads.BatchSize)
      assert(ev.map(_.user_id).forall(k => k >= 0 && k < Workloads.FeedKeys))
      assert(ev.map(_.ts.getTime).sliding(2).forall { case Seq(a, b) => a <= b })
    },
    "median and percentile are exact on fixed samples" -> { _ =>
      assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
      assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
      assert(Stats.median(Seq(5.0)) == 5.0)
      val ten = (1 to 10).map(_.toDouble).reverse
      assert(Stats.percentile(ten, 90) == 9.0)
      assert(Stats.percentile(ten, 50) == 5.0)
      assert(Stats.percentile(ten, 100) == 10.0)
      assert(Stats.percentile(ten, 1) == 1.0)
      assert(Stats.percentile((1 to 20).map(_.toDouble), 90) == 18.0)
      assert(Stats.percentile(Seq(7.0), 90) == 7.0)
      assert(scala.util.Try(Stats.median(Nil)).isFailure)
    },
    "job spans are merged before their time is summed" -> { _ =>
      assert(Layers.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (21L, 22L))) == 25L)
      assert(Layers.covered(Nil) == 0L)
    },
    "the fingerprint ignores row order and sees every row" -> { _ =>
      val a = Row(1L, "x", 0.5, Map("b" -> 1, "a" -> 2))
      val b = Row(2L, null, -0.0, Seq(1, 2))
      val cols = Seq("k", "s", "d", "m")
      assert(Fingerprint.of(cols, Array(a, b)) == Fingerprint.of(cols, Array(b, a)))
      assert(Fingerprint.of(cols, Array(a, b)) != Fingerprint.of(cols, Array(a, b, b)))
      assert(Fingerprint.of(cols, Array(a)) != Fingerprint.of(cols.reverse, Array(a)))
      assert(Fingerprint.canon(Row(Map("b" -> 1, "a" -> 2))) == Fingerprint.canon(Row(Map("a" -> 2, "b" -> 1))))
    },
    "an unknown query name fails fast" -> { _ =>
      val e = scala.util.Try(Workloads.resolveQueries(Seq("q1_agg", "q_no_such_query")))
      assert(e.isFailure && e.failed.get.isInstanceOf[IllegalArgumentException])
      assert(e.failed.get.getMessage.contains("q_no_such_query"))
      assert(Workloads.resolveQueries(Workloads.Resolve ++ Workloads.Lookup).size == 24)
    },
    "BENCHMARK.json names exactly the metrics the benchmark emits, and workloads it has" -> { path =>
      val root = new ObjectMapper().readTree(new File(path))
      def names(key: String) = root.get(key).elements.asScala.map(_.get("name").asText).toSeq
      assert(names("end_to_end") == Run.EndToEnd.map(_._1))
      assert(names("per_layer") == Layers.Metrics.map(_.name))
      assert(names("workloads").toSet.subsetOf(Workloads.QueryWorkloads.keySet + "cdc_upsert"))
    })

  def main(args: Array[String]): Unit = {
    val benchmarkJson = args.headOption.getOrElse("BENCHMARK.json")
    val failed = tests.filterNot { case (name, body) =>
      try { body(benchmarkJson); println(s"[ ok ] $name"); true }
      catch { case NonFatal(e) => println(s"[FAIL] $name: $e"); false }
    }
    println(s"${tests.size - failed.size}/${tests.size} passed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
