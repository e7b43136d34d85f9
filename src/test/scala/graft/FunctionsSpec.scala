package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Geo, Hashing, Text}
import graft.plans.VectorExpressions

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cleanName strips suffixes, stall numbers, punctuation") {
    val got = Seq("Al-Amin Restaurant Pte. Ltd. Stall 12", "Kopi Corner #03-21 (Unit 4B)")
      .toDF("s").select(Text.cleanName($"s")).as[String].collect()
    assert(got === Array("al amin restaurant", "kopi corner"))
  }

  test("haversine is zero at identity and symmetric") {
    val df = Seq((1.35, 103.8, 1.39, 103.85)).toDF("a", "b", "c", "d")
    val Array((zero, ab, ba)) = df.select(
      Geo.haversineKm($"a", $"b", $"a", $"b"),
      Geo.haversineKm($"a", $"b", $"c", $"d"),
      Geo.haversineKm($"c", $"d", $"a", $"b")).as[(Double, Double, Double)].collect()
    assert(zero === 0.0)
    assert(math.abs(ab - ba) < 1e-12)
    assert(ab > 6.0 && ab < 8.0) // ~7.1 km
  }

  test("shingles: fewer tokens than k yields empty, not descending garbage") {
    val got = Seq("a b", "a b c d").toDF("s")
      .select(Hashing.shingles(split($"s", " "), 3)).as[Seq[String]].collect()
    assert(got(0).isEmpty)
    assert(got(1) === Seq("a b c", "b c d"))
  }

  test("minhash is deterministic and order-insensitive on sets") {
    val df = Seq(Seq("x y z", "p q r"), Seq("p q r", "x y z")).toDF("sh")
    val mh = df.select(Hashing.minhash($"sh", 0)).as[String].collect()
    assert(mh(0) === mh(1))
  }

  test("cosine of identical vectors is 1") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val Array(c) = df.select(round(VectorExpressions.cosineNative(
      $"a", VectorExpressions.normNative($"a"), $"b", VectorExpressions.normNative($"b")), 9))
      .as[Double].collect()
    assert(c === 1.0)
  }

  test("simhash hamming of identical token arrays is 0") {
    val df = Seq(("spark query join", "spark query join")).toDF("a", "b")
    val h = df.select(
      Hashing.simhash32(split($"a", " ")),
      Hashing.simhash32(split($"b", " "))).as[(Long, Long)].collect()
    assert(h(0)._1 === h(0)._2)
  }
}
