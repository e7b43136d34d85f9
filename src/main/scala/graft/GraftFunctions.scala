package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.plans.{TextExpressions, VectorExpressions}

/** SQL-surface registration: exposes the graft operators to
  * `spark.sql(...)` users.
  *
  * Scalar helpers (`graft_clean_name`, `graft_haversine_km`) register
  * as SQL UDFs (`CREATE FUNCTION … RETURN expr`) so they inline into
  * the plan and stay codegen'd. The native kernels ([[natives]]: the
  * one table, also read by [[GraftExtensions]]) register directly
  * into the function registry.
  */
object GraftFunctions {

  /** One native SQL function: its name, the expression class it
    * builds (the `DESCRIBE FUNCTION` class) and its builder.
    */
  final case class Native(name: String, cls: Class[_], build: Seq[Expression] => Expression)

  /** The `i`-th argument of `fn` as an int literal. A column or a
    * NULL fails with the function named.
    */
  private def intArg(fn: String, what: String, args: Seq[Expression], i: Int): Int =
    (if (args(i).foldable) args(i).eval() else null) match {
      case n: Number => n.intValue()
      case _ => throw new IllegalArgumentException(
        s"$fn $what must be literals (non-null numbers), got ${args(i).sql}")
    }

  private def native(name: String, cls: Class[_], usage: String, n: Int)(
      build: Seq[Expression] => Expression): Native =
    Native(name, cls, { args =>
      require(args.length == n, s"$name($usage) takes $n arguments")
      build(args)
    })

  val natives: Seq[Native] = Seq(
    native("graft_dot", classOf[VectorExpressions.Dot], "a, b", 2)(a =>
      VectorExpressions.Dot(a(0), a(1))),
    native("graft_l2norm", classOf[VectorExpressions.L2Norm], "a", 1)(a =>
      VectorExpressions.L2Norm(a(0))),
    native("graft_long_dot", classOf[VectorExpressions.LongDot], "a, b", 2)(a =>
      VectorExpressions.LongDot(a(0), a(1))),
    native("graft_cosine", classOf[VectorExpressions.Cosine], "a, b", 2)(a =>
      VectorExpressions.Cosine(a(0), a(1))),
    // the plane table is materialized at plan time, hence literals
    native("graft_hyperplane_sigs", classOf[VectorExpressions.HyperplaneSigs],
      "vec, bands, bitsPerBand, dim", 4) { a =>
      val what = "bands/bitsPerBand/dim"
      val Seq(bands, bits, dim) = (1 to 3).map(intArg("graft_hyperplane_sigs", what, a, _))
      VectorExpressions.HyperplaneSigs(
        a(0), graft.functions.Vectors.hyperplaneWeights(bands * bits, dim), bits)
    },
    native("graft_char_entropy", classOf[TextExpressions.CharEntropy], "text", 1)(a =>
      TextExpressions.CharEntropy(a(0))),
    native("graft_char_distinct", classOf[TextExpressions.CharDistinct], "text", 1)(a =>
      TextExpressions.CharDistinct(a(0))),
    // md5 char k-grams, window-min w
    native("graft_winnow_fingerprints", classOf[TextExpressions.WinnowFingerprints],
      "text, k, w", 3) { a =>
      val Seq(k, w) = (1 to 2).map(intArg("graft_winnow_fingerprints", "k/w", a, _))
      TextExpressions.WinnowFingerprints(a(0), k, w)
    },
    // content-defined chunk md5s over a token array
    native("graft_chunk_hashes", classOf[TextExpressions.ChunkHashes], "tokens, k, div", 3) { a =>
      val Seq(k, div) = (1 to 2).map(intArg("graft_chunk_hashes", "k/div", a, _))
      TextExpressions.ChunkHashes(a(0), k, div)
    })

  def register(spark: SparkSession): Unit = {
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_clean_name(s STRING)
        |RETURNS STRING RETURN
        |trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  lower(s), '\\b(pte|ltd|private|limited|sdn|bhd)\\b', ''),
        |  '\\b(stall|unit)\\s*[0-9]+[a-z]?\\b|#[0-9]+(-[0-9]+)?', ''),
        |  '[^a-z0-9 ]', ' '), ' +', ' '))""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_haversine_km(
        |  lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE)
        |RETURNS DOUBLE RETURN
        |2.0 * 6371.0 * asin(sqrt(
        |  pow(sin(radians(lat2 - lat1) / 2), 2) +
        |  cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2)))""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_content_key(s STRING)
        |RETURNS STRING RETURN md5(cast(s AS BINARY))""".stripMargin)
    val reg = spark.sessionState.functionRegistry
    natives.foreach(f => reg.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))
  }
}
