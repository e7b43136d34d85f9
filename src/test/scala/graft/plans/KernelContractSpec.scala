package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.BpeTrainer

/** The native-kernel contract, table-driven over every kernel that
  * reaches codegen through `StaticInvoke` ([[Kernel]]): over a
  * `spark.range`-derived frame (so the projection runs inside
  * whole-stage codegen, not over a LocalTableScan), the codegen result
  * equals the interpreted one (`NO_CODEGEN`, whole-stage off) on empty
  * arrays, NULL input, multi-byte UTF-8 and k greater than the input
  * length; a length mismatch raises the function-named message on both
  * paths; and the SQL-facing type checks fail at analysis, naming the
  * function. The higher-order-function forms of dot, norm and cosine
  * that the kernels replaced are kept here as their references.
  */
class KernelContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TextExpressions._
  import VectorExpressions._

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def interpreted[A](body: => A): A = withConfs(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")(body)

  /** Column `v` of a `spark.range` frame: row i holds `values(i)`. */
  private def frame(values: Column): DataFrame =
    spark.range(0, 64).select(col("id"))
      .filter(col("id") < size(values))
      .select(col("id"), element_at(values, col("id").cast("int") + 1).as("v"))

  private val words = typedLit(Seq[Option[Seq[String]]](
    Some(Seq("a", "b", "c", "d", "e", "f", "a", "b", "c")), Some(Seq.empty), None,
    Some(Seq("café", "李记", "ümlaut", "café", "李记")), Some(Seq("x")),
    Some(Seq("nasi", "lemak", "nasi", "lemak", "nasi"))))

  private val texts = typedLit(Seq[Option[String]](
    Some("the quick brown fox jumps over the lazy dog"), Some(""), None,
    Some("café 李记 ümlaut 😀 café 李记"), Some("ab"),
    Some("mail a.b@c.io or call +65 9123 4567, card 4111 1111 1111 1111")))

  private val floats = typedLit(Seq[Option[(Seq[Float], Seq[Float])]](
    Some((Seq(1.0f, 2.0f, 3.0f), Seq(0.5f, -0.25f, 4.0f))), Some((Seq.empty, Seq.empty)), None,
    Some((Seq(0.1f, 0.2f, 0.3f), Seq(0.3f, 0.2f, 0.1f))),
    Some((Seq(-1e-3f, 7.5f, 1e6f), Seq(3.25f, -2.0f, 0.125f)))))

  private val doubles = typedLit(Seq[Option[(Seq[Double], Seq[Double])]](
    Some((Seq(1.0, 2.0, 3.0), Seq(0.5, -0.25, 4.0))), Some((Seq.empty, Seq.empty)), None,
    Some((Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)))))

  private val longs = typedLit(Seq[Option[(Seq[Long], Seq[Long])]](
    Some((Seq(1L, 2L, 3L), Seq(4L, -5L, 6L))), Some((Seq.empty, Seq.empty)), None,
    Some((Seq(127L, -127L, 3L), Seq(127L, 127L, 0L)))))

  private val scalars = typedLit(Seq[Option[(Long, Long, Long)]](
    Some((0L, 0L, 0L)), None, Some((250000L, 1000000L, 3L)), Some((-9000000L, 0L, 1L)),
    Some((5000000L, 5000000L, 5000000L))))

  private val sigTab = Array(0L, 120000L, 500000L, 880000L, 1000000L)
  private val mmrCands = typedLit(Seq[Option[Seq[(Long, Long)]]](
    Some(Seq((3L, 900000L), (1L, 800000L), (2L, 800000L))), Some(Seq.empty), None,
    Some(Seq((7L, 100L)))))
  private val mmrPairs = typedLit(Seq[Option[Seq[(Long, Long, Long)]]](
    Some(Seq((1L, 3L, 990000L), (2L, 3L, -5L), (1L, 2L, 10L))), None, None, None))

  private val f = col("v")

  // an empty pair's cosine is 0/0, which fails under ANSI division
  private def nonEmpty(pairs: Column): DataFrame =
    frame(pairs).filter(size(f("_1")) > 0 || f.isNull)

  private def cosine(a: Column, b: Column): Column =
    Kernel.column(Cosine(Kernel.expr(a), Kernel.expr(b)))

  /** The higher-order-function references of dot, norm and cosine
    * (whose lambdas keep their projection out of whole-stage codegen).
    */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
      (acc, v) => acc + v)
  private def normHof(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** kernel name → (input frame, kernel output columns). */
  private val kernels: Seq[(String, DataFrame, Seq[Column])] = Seq(
    ("chunkHashesCompute", frame(words), Seq(chunkHashesNative(f, 2, 2), chunkHashesNative(f, 7, 1))),
    ("shinglesCompute", frame(words), Seq(shinglesNative(f, 3), shinglesNative(f, 12))),
    ("minhashCompute", frame(words), Seq(minhashNative(shinglesNative(f, 2), "7:"))),
    ("winnowFingerprintsCompute", frame(texts),
      Seq(winnowFingerprintsNative(f, 3, 2), winnowFingerprintsNative(f, 64, 4))),
    ("charEntropyCompute", frame(texts), Seq(charEntropyNative(f))),
    ("charDistinctCompute", frame(texts), Seq(charDistinctNative(f))),
    ("multiScrubCompute", frame(texts), Seq(multiScrubNative(f,
      Seq("[a-z.]+@[a-z.]+" -> "<EMAIL>", "\\+65 [0-9]{4} [0-9]{4}" -> "<PHONE>",
        "[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}" -> "<CARD>")))),
    ("ngramBucketMicrosCompute", frame(words), Seq(ngramBucketMicrosNative(f, 8))),
    ("mergePairCompute", frame(words), Seq(BpeTrainer.applyMerges(f,
      Seq(BpeTrainer.Merge(0, "a", "b", 2), BpeTrainer.Merge(1, "ab", "c", 2),
        BpeTrainer.Merge(2, "café", "李记", 2))))),
    ("lrSigmoidVecCompute", frame(longs), Seq(lrSigmoidVecNative(f("_1"),
      Array(100L, 2000000L, -3000000L, 1L), sigTab, 4000000))),
    // the 4-feature model's 3-slot vector (TextOps.lrPm)
    ("lrSigmoidVecCompute (3 slots)", frame(scalars), Seq(lrSigmoidVecNative(
      when(f.isNotNull, array(f("_1"), f("_2"), f("_3"))),
      Array(-2000000L, 3L, -1L, 2L), sigTab, 4000000))),
    ("dotCompute", frame(floats), Seq(dotNative(f("_1"), f("_2")))),
    ("dotCompute (double)", frame(doubles), Seq(dotNative(f("_1"), f("_2")))),
    ("l2NormCompute", frame(floats), Seq(normNative(f("_1")))),
    ("l2NormCompute (double)", frame(doubles), Seq(normNative(f("_2")))),
    ("graft_cosine", nonEmpty(floats), Seq(cosine(f("_1"), f("_2")))),
    ("widenedDotCompute", frame(floats), Seq(
      widenedDotNative(f("_1"), f("_2").cast("array<double>")),
      widenedDotNative(f("_1").cast("array<double>"), f("_2")))),
    ("longDotCompute", frame(longs), Seq(longDotNative(f("_1"), f("_2")))),
    ("hyperplaneSigsCompute", frame(floats).filter(size(f("_1")) === 3 || f.isNull),
      Seq(hyperplaneSigsNative(f("_1"), 3, 4, 3))),
    ("mmrSelectCompute", frame(mmrCands).join(frame(mmrPairs).withColumnRenamed("v", "p"), "id"),
      Seq(mmrSelect(f, col("p"), 400000L), mmrSelect(f, col("p"), 1000000L))))

  private def run(df: DataFrame, outs: Seq[Column]): Seq[Row] =
    df.select(col("id") +: outs: _*).orderBy("id").collect().toSeq

  for ((name, df, outs) <- kernels)
    test(s"$name: whole-stage codegen equals the interpreted path") {
      val q = df.select(col("id") +: outs: _*)
      q.collect()
      val plan = TestSpark.planNodes(q.queryExecution.executedPlan)
      assert(plan.exists {
        case w: WholeStageCodegenExec => w.toString.contains("static_invoke")
        case _ => false
      }, s"no kernel call inside a codegen stage:\n${q.queryExecution.executedPlan}")
      val codegen = run(df, outs)
      val interp = interpreted(run(df, outs))
      assert(codegen.nonEmpty)
      assert(codegen === interp)
      assert(codegen.exists(r => (1 until r.length).forall(r.isNullAt)), "no NULL-input row")
    }

  test("dot, norm, cosine and widened dot equal their HOF references bit for bit") {
    for (in <- Seq(floats, doubles); path <- Seq(false, true)) {
      def rows = nonEmpty(in).select(
        dotNative(f("_1"), f("_2")), dotHof(f("_1"), f("_2")),
        normNative(f("_1")), normHof(f("_1")),
        cosine(f("_1"), f("_2")), dotHof(f("_1"), f("_2")) / (normHof(f("_1")) * normHof(f("_2"))),
        widenedDotNative(f("_1").cast("array<double>"), f("_2")), dotHof(f("_1"), f("_2")))
        .collect()
      val got = if (path) interpreted(rows) else rows
      assert(got.count(!_.isNullAt(0)) >= 2)
      for (r <- got; i <- 0 until 8 by 2)
        assert(r.get(i) === r.get(i + 1), s"column $i of $r")
    }
  }

  private def causes(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).flatMap(e => Option(e.getMessage)).toSeq

  private val mismatched = typedLit(Seq(
    (Seq(1.0f, 2.0f), Seq(1.0f), Seq(1L, 2L), Seq(3L))))

  for ((fn, out) <- Seq[(String, Column)](
      "graft_dot" -> dotNative(f("_1"), f("_2")),
      "graft_widened_dot" -> widenedDotNative(f("_1"), f("_2").cast("array<double>")),
      "graft_long_dot" -> longDotNative(f("_3"), f("_4")),
      "graft_hyperplane_sigs" -> hyperplaneSigsNative(f("_1"), 1, 4, 3)))
    test(s"$fn: a length mismatch raises the function-named message on both paths") {
      for (path <- Seq("codegen", "interpreted")) {
        def go() = frame(mismatched).select(out).collect()
        val err = intercept[Exception](if (path == "codegen") go() else interpreted(go()))
        assert(causes(err).exists(_.contains(s"$fn: vector length mismatch")),
          s"$path: ${causes(err).mkString(" | ")}")
      }
    }

  for ((fn, sql) <- Seq(
      "graft_dot" -> "graft_dot(array(1.0F), array(1.0D))",
      "graft_l2norm" -> "graft_l2norm(array(1, 2))",
      "graft_char_entropy" -> "graft_char_entropy(42)"))
    test(s"$fn: a wrong input type fails at analysis and names the function") {
      graft.GraftFunctions.register(spark)
      val err = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $sql v"))
      assert(err.getMessage.contains(fn), err.getMessage)
    }
}
