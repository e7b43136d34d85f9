package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registered SQL functions evaluate") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT graft_clean_name('Al-Amin Pte. Ltd. Stall 12') cn,
        |       round(graft_haversine_km(1.35, 103.8, 1.39, 103.85), 1) d,
        |       graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) dp,
        |       round(graft_l2norm(array(3.0F, 4.0F)), 6) nm
        |""".stripMargin).collect()(0)
    assert(row.getString(0) === "al amin")
    assert(row.getDouble(1) === 7.1)
    assert(row.getDouble(2) === 11.0)
    assert(row.getDouble(3) === 5.0)
  }

  test("graft_long_dot: exact integer dot, codegen and interpreted agree, mismatch raises") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT graft_long_dot(array(127L, -127L, 3L), array(127L, 127L, 0L)) d,
        |       graft_long_dot(CAST(array() AS ARRAY<BIGINT>),
        |                      CAST(array() AS ARRAY<BIGINT>)) z
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) === 127L * 127 - 127L * 127)
    assert(row.getLong(1) === 0L)
    // interpreted path: direct Expression.eval never goes through
    // whole-stage codegen (a df.select would), so this genuinely pins
    // the kernel's interpreted call against the codegen result above
    import graft.plans.VectorExpressions
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def arr(xs: Seq[Long]) = Literal.create(xs, ArrayType(LongType))
    assert(VectorExpressions.LongDot(arr(Seq(1L, 2L, 3L)), arr(Seq(4L, 5L, 6L)))
      .replacement.eval(null) === 32L)
    assert(VectorExpressions.LongDot(arr(Seq(127L, -127L, 3L)), arr(Seq(127L, 127L, 0L)))
      .replacement.eval(null) === 0L)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_long_dot(array(1L), array(1L, 2L))").collect()
    }
    assert(err.getMessage != null)
  }

  test("cosine, content key and hyperplane signatures evaluate from SQL") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT round(graft_cosine(array(1.0F, 0.0F), array(1.0F, 1.0F)), 6) cs,
        |       graft_content_key('abc') ck,
        |       graft_hyperplane_sigs(array(0.5F, -0.25F), 2, 4, 2) sigs
        |""".stripMargin).collect()(0)
    assert(math.abs(row.getDouble(0) - 1.0 / math.sqrt(2)) < 1e-6)
    assert(row.getString(1) === "900150983cd24fb0d6963f7d28e17f72") // md5("abc")
    val sigs = row.getSeq[Long](2)
    assert(sigs.length === 2 && sigs.forall(s => s >= 0 && s < 16))
    // deterministic: same input, same signatures
    val again = spark.sql(
      "SELECT graft_hyperplane_sigs(array(0.5F, -0.25F), 2, 4, 2) s").collect()(0).getSeq[Long](0)
    assert(again === sigs)
  }

  test("SQL functions usable over tables") {
    GraftFunctions.register(spark)
    sources.Tables.documents(spark, TestSpark.Sf).createOrReplaceTempView("docs")
    val n = spark.sql(
      "SELECT count(*) FROM docs WHERE graft_clean_name(text) <> ''").collect()(0).getLong(0)
    assert(n > 0)
  }

  /** One sample call per native function, with its expected value. */
  private val samples: Map[String, (String, Any)] = Map(
    "graft_dot" -> ("graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))", 11.0),
    "graft_l2norm" -> ("graft_l2norm(array(3.0D, 4.0D))", 5.0),
    "graft_long_dot" -> ("graft_long_dot(array(2L, 3L), array(4L, 5L))", 23L),
    "graft_cosine" -> ("graft_cosine(array(2.0F, 0.0F), array(3.0F, 0.0F))", 1.0),
    "graft_hyperplane_sigs" -> ("size(graft_hyperplane_sigs(array(0.5F, -0.25F), 3, 4, 2))", 3),
    "graft_char_entropy" -> ("round(graft_char_entropy('abab'), 9)", 1.0),
    "graft_char_distinct" -> ("graft_char_distinct('café ca')", 5L),
    "graft_winnow_fingerprints" -> ("size(graft_winnow_fingerprints('abcdef', 7, 1))", 0),
    "graft_chunk_hashes" ->
      ("graft_chunk_hashes(split('a b', ' '), 2, 1) = array(md5(cast('a b' AS BINARY)))", true))

  test("register exposes every native function of the one table, and each evaluates from SQL") {
    GraftFunctions.register(spark)
    assert(samples.keySet === GraftFunctions.natives.map(_.name).toSet)
    val reg = spark.sessionState.functionRegistry
    GraftFunctions.natives.foreach { f =>
      assert(reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(f.name)), f.name)
    }
    samples.foreach { case (name, (call, want)) =>
      assert(spark.sql(s"SELECT $call v").collect()(0).get(0) === want, name)
    }
  }

  private def nullLiteralFails(sql: String, fn: String, what: String): Unit = {
    GraftFunctions.register(spark)
    val err = intercept[Exception](spark.sql(sql).collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage)).toSeq
    assert(msgs.exists(_.contains(s"$fn $what must be literals")),
      s"no function-named literal error in: ${msgs.mkString(" | ")}")
    assert(!Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[NullPointerException]))
  }

  test("graft_chunk_hashes: a NULL literal argument fails with the function-named error") {
    nullLiteralFails("SELECT graft_chunk_hashes(split('a b c', ' '), NULL, 2)",
      "graft_chunk_hashes", "k/div")
  }

  test("graft_winnow_fingerprints: a NULL literal argument fails with the function-named error") {
    nullLiteralFails("SELECT graft_winnow_fingerprints('abcdef', 3, NULL)",
      "graft_winnow_fingerprints", "k/w")
  }

  test("graft_hyperplane_sigs: a NULL literal argument fails with the function-named error") {
    nullLiteralFails("SELECT graft_hyperplane_sigs(array(0.5F, -0.25F), 2, NULL, 2)",
      "graft_hyperplane_sigs", "bands/bitsPerBand/dim")
  }
}
