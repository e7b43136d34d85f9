package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plans.VectorExpressions

/** The nearest-anchor decision ([[NearestAnchor]]) over both anchor
  * layouts: equal rounded scores go to the lowest cell, the ranked cut's
  * top-1 is the argmax, a −0.0 score ties a 0.0 score, and the
  * two-level [[HierAssign]] path equals the flat argmax. Anchor rows are
  * created in descending cell order so no test passes by input order.
  */
class NearestAnchorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One layout: its score and how to build its anchor table from
    * (cell, vector) rows.
    */
  private case class Case(name: String, layout: NearestAnchor.Layout,
      table: Seq[(Long, Array[Double])] => DataFrame)

  private def floatTable(rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.map { case (cell, v) => (cell, v.map(_.toFloat)) }.toDF("cell", "c_emb")
      .withColumn("c_nrm", VectorExpressions.normNative(col("c_emb")))
  }

  private def unitTable(rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.map { case (cell, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      (cell, v.map(_ / n))
    }.toDF("cell", "c")
  }

  private val cases = Seq(
    Case("float", NearestAnchor.FloatAnchors, floatTable),
    Case("unit", NearestAnchor.UnitAnchors, unitTable))

  private def corpus(vs: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    NearestAnchor.normed(vs.map { case (id, v) => (id, v.map(_.toFloat)) }.toDF("vec_id", "embedding"))
  }

  private def score(c: Case): Column = c.layout.score(col("embedding"), col("nrm"))

  /** vec_id → cell of the argmax. */
  private def argmax(e: DataFrame, anchors: DataFrame, s: Column): Map[Long, Long] =
    NearestAnchor.assign(e, anchors, "vec_id", s).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val x = Array(1.0, 0.0, 0.0, 0.0)

  for (c <- cases) {
    test(s"${c.name} layout: equal rounded scores go to the lowest cell") {
      // cells 1 and 4 score x at cos 1 − 5e-11 and 1: equal once
      // rounded to 6 decimals, so the lower cell wins although its raw
      // score is lower; cell 2 and 6 are an exact tie below them
      val anchors = c.table(Seq(
        6L -> Array(0.0, 1.0, 0.0, 0.0),
        4L -> Array(1.0, 0.0, 0.0, 0.0),
        2L -> Array(0.0, 1.0, 0.0, 0.0),
        1L -> Array(1.0, 1e-5, 0.0, 0.0)))
      val e = corpus(Seq(1L -> x, 2L -> Array(0.0, 1.0, 0.0, 0.0)))
      assert(argmax(e, anchors, score(c)) === Map(1L -> 1L, 2L -> 2L))
      val ranked = NearestAnchor.rankedCells(
        e.select(col("vec_id").as("probe_id"), col("embedding"), col("nrm")),
        anchors, "probe_id", score(c), k = 4)
        .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
      assert((1 to 4).map(i => ranked((1L, i))) === Seq(1L, 4L, 2L, 6L))
    }

    test(s"${c.name} layout: the ranked cut's top-1 is the argmax") {
      val rnd = new scala.util.Random(7)
      def vec() = Array.fill(8)(math.round(rnd.nextGaussian() * 4) / 4.0)
      val anchors = c.table((0L until 12L).reverse.map(_ -> vec()))
      val e = corpus((0L until 200L).map(_ -> vec()))
      val top1 = NearestAnchor.nearestCells(e, anchors, "vec_id", score(c), k = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val best = argmax(e, anchors, score(c))
      assert(best.size === 200)
      assert(top1 === best)
    }

    test(s"${c.name} layout: a -0.0 score ties a 0.0 score and the lower cell wins") {
      // score × 0.0 keeps the score's sign: cell 0 scores x at −0.0,
      // cell 3 at +0.0 — and the reverse for y
      val anchors = c.table(Seq(
        3L -> Array(1.0, 1.0, 0.0, 0.0),
        0L -> Array(-1.0, 1.0, 0.0, 0.0)))
      val y = Array(-1.0, 0.0, 0.0, 0.0)
      val e = corpus(Seq(1L -> x, 2L -> y))
      val zero = score(c) * lit(0.0)
      val signs = e.crossJoin(anchors).select(col("vec_id"), col("cell"), zero.as("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(java.lang.Double.compare(signs((1L, 0L)), -0.0) === 0, "setup: x·cell0 is not -0.0")
      assert(java.lang.Double.compare(signs((1L, 3L)), 0.0) === 0, "setup: x·cell3 is not 0.0")
      assert(argmax(e, anchors, zero) === Map(1L -> 0L, 2L -> 0L))
      val top1 = NearestAnchor.nearestCells(e, anchors, "vec_id", zero, k = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(top1 === Map(1L -> 0L, 2L -> 0L))
    }

    test(s"${c.name} layout: the two-level assignment equals the flat argmax") {
      val rnd = new scala.util.Random(11)
      def vec() = Array.fill(8)(math.round(rnd.nextGaussian() * 4) / 4.0)
      val anchors = c.table((0L until 9L).reverse.map(_ -> vec()))
      val e = corpus((0L until 120L).map(_ -> vec()))
      val hier = HierAssign.assign(e, anchors, c.layout, groups = 3, route = 3)
        .collect().map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("cell"), r.getAs[Double]("ccos")))
        .toMap
      val flat = NearestAnchor.assignCorpus(e, anchors, c.layout)
        .collect().map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("cell"), r.getAs[Double]("ccos")))
        .toMap
      assert(flat.size === 120)
      assert(hier === flat)
    }
  }
}
