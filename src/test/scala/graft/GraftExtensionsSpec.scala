package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  /** Records every function the extension injects. */
  private class Recording extends SparkSessionExtensions {
    val names = Seq.newBuilder[String]
    val classes = Seq.newBuilder[String]
    override def injectFunction(f: (FunctionIdentifier, org.apache.spark.sql.catalyst.expressions
        .ExpressionInfo, Seq[Expression] => Expression)): Unit = {
      names += f._1.funcName
      classes += f._2.getClassName
      super.injectFunction(f)
    }
  }

  private def build(name: String, args: Expression*): Expression =
    GraftFunctions.natives.find(_.name == name).get.build(args)

  /** The interpreted evaluation of a SQL function's kernel call. */
  private def eval(e: Expression): Any = e match {
    case r: RuntimeReplaceable => eval(r.replacement)
    case other => other.eval(null)
  }

  test("extensions install without error") {
    // a full with-extensions session can't coexist with the shared test
    // session in one JVM; exercise the injection wiring directly
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("SQL builder expressions evaluate identically to the native compute kernels") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.TextExpressions

    val s = "the quick brown fox jumps over the lazy dog again " * 3
    val textLit = Literal(UTF8String.fromString(s))

    val winnowViaSql = eval(build("graft_winnow_fingerprints", textLit, Literal(24), Literal(8)))
      .asInstanceOf[ArrayData]
    val winnowDirect =
      TextExpressions.winnowFingerprintsCompute(UTF8String.fromString(s), 24, 8)
    assert(winnowViaSql.numElements() === winnowDirect.numElements())
    assert((0 until winnowViaSql.numElements()).forall(i =>
      winnowViaSql.getUTF8String(i) == winnowDirect.getUTF8String(i)))
    assert(winnowViaSql.numElements() > 0)

    val entropyViaSql = eval(TextExpressions.CharEntropy(textLit))
    assert(entropyViaSql === TextExpressions.charEntropyCompute(UTF8String.fromString(s)))
    val distinctViaSql = eval(TextExpressions.CharDistinct(textLit))
    assert(distinctViaSql === TextExpressions.charDistinctCompute(UTF8String.fromString(s)))

    // literal-argument guards fail loudly, not silently
    intercept[IllegalArgumentException](
      build("graft_winnow_fingerprints", textLit, Literal(24)))
  }

  test("the extension injects exactly the native table, each under its own expression class") {
    val ext = new Recording
    new GraftExtensions().apply(ext)
    val names = ext.names.result()
    assert(names === GraftFunctions.natives.map(_.name))
    assert(names.toSet === Set("graft_dot", "graft_l2norm", "graft_long_dot", "graft_cosine",
      "graft_hyperplane_sigs", "graft_char_entropy", "graft_char_distinct",
      "graft_winnow_fingerprints", "graft_chunk_hashes"))
    val classes = names.zip(ext.classes.result()).toMap
    assert(classes("graft_cosine") === classOf[graft.plans.VectorExpressions.Cosine].getName)
    assert(classes("graft_dot") === classOf[graft.plans.VectorExpressions.Dot].getName)
    assert(classes.values.toSet.size === names.size, s"shared ExpressionInfo classes: $classes")
  }
}
