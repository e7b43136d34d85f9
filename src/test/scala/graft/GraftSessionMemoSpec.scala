package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnnOps

/** The session memo's contract: one compute per (session, key), a
  * compute may nest further memo calls, and [[GraftSession.clearMemos]]
  * makes every artifact (trained anchors included) recompute.
  */
class GraftSessionMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  test("a key computes once per session; a new session computes again") {
    var computes = 0
    def call(s: org.apache.spark.sql.SparkSession) =
      GraftSession.memo(s, "memo-spec|once") { computes += 1; 42L }
    assert(call(spark) === 42L)
    assert(call(spark) === 42L)
    assert(computes === 1)
    assert(call(spark.newSession()) === 42L)
    assert(computes === 2)
  }

  test("a memo call nested inside a compute returns") {
    // a chain of nested keys in one session's map: holding a bin lock
    // across the nested computes would throw `Recursive update` or hang
    // as soon as two of them share a bin
    def chain(i: Int): Int =
      if (i == 64) 0
      else GraftSession.memo(spark, s"memo-spec|nested|$i")(chain(i + 1) + 1)
    assert(Await.result(Future(chain(0)), 60.seconds) === 64)
  }

  test("after clearMemos the trained anchors retrain; a hit starts no job") {
    AnnOps.trainedAnchors(spark, sf)
    assert(TestSpark.jobsStartedBy(AnnOps.trainedAnchors(spark, sf)) === 0)
    GraftSession.clearMemos(spark)
    assert(TestSpark.jobsStartedBy(AnnOps.trainedAnchors(spark, sf)) > 0,
      "clearMemos left the trained anchors in place")
  }
}
