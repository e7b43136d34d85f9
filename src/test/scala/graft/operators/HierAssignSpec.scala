package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Bit-equality contract of the two-level (anchor-of-anchors)
  * assignment vs the flat broadcast layouts it replaces at scale —
  * exact mode (route = groups): every leaf reachable, the broadcast
  * ceiling removed, identical rounded scores and ties.
  */
class HierAssignSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("two-level float assignment reproduces the flat IVF pipeline bit for bit") {
    assert(rows(AnnOps.annIvfHier(spark, sf)) === rows(AnnOps.annIvf(spark, sf)))
  }

  test("two-level semdedup reproduces flat semdedup bit for bit") {
    assert(rows(DedupOps.semDedupHier(spark, sf)) === rows(DedupOps.semDedup(spark, sf)))
  }

  test("two-level unit-anchor assignment reproduces flat annIvfWith over the trained layout") {
    val anchors = AnnOps.trainedAnchors(spark, sf)
    val flat = AnnOps.annIvfWith(spark, sf, anchors)
    val hier = AnnOps.annIvfWith(spark, sf, anchors, hierarchical = true)
    assert(rows(hier) === rows(flat))
  }

  test("the REGISTERED trained two-level query is bit-identical to the flat trained query") {
    // q_ann_ivf_hier_kmeans composes the two proven scale answers
    // (trained anchors + broadcast-free assignment); exact mode makes
    // it ≡ q_ann_ivf_kmeans, which is what lets its oracle be the
    // flat trained pipeline's unrolled-Lloyd SQL
    assert(rows(AnnOps.annIvfHierKmeans(spark, sf)) === rows(AnnOps.annIvfKmeans(spark, sf)))
  }

  test("the trained anchor table is memoized per (session, dir, params)") {
    // one Lloyd training job per session: the memo stores collected
    // rows (a DataFrame value would pin the weak session key through
    // its back-reference) and rebuilds a LocalRelation per call, so
    // the contract is train-ONCE, not reference equality — pin it by
    // counting executions of the train block itself
    var trains = 0
    def call() = graft.GraftSession.memoFrame(spark, "hierassign-memo-spec") {
      trains += 1
      AnnOps.trainedAnchors(spark, sf)
    }
    val first = rows2(call())
    val second = rows2(call())
    assert(trains === 1, "second call re-ran the train block")
    assert(first === second)
    // and the rebuilt frame is local: reuse costs zero Spark jobs
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    assert(call().queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  private def rows2(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet
}
