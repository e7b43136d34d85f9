package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the single-pass multi-pattern scrub against the chained
  * `regexp_replace` form the ORACLE keeps: equivalence on every
  * non-overlapping cross-kind input (the decorated corpus class and
  * the practical scrub case), per-kind counts equal to the per-kind
  * `regexp_extract_all` counts, and the ONE divergence boundary —
  * cross-kind OVERLAP — pinned explicitly so the semantics difference
  * is documented behavior, not drift.
  */
class PiiScrubSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Both formulations over a one-column frame of probe strings. */
  private def bothForms(probes: Seq[String]) = {
    import spark.implicits._
    val kinds = PiiOps.ScrubKinds
    val chained = kinds.foldLeft(col("raw")) { case (acc, (re, tag)) =>
      regexp_replace(acc, re, tag)
    }
    val extractCounts = kinds.zipWithIndex.map { case ((re, _), i) =>
      size(regexp_extract_all(col("raw"), lit(re), lit(0))).cast("long").as(s"x$i")
    }
    probes.toDF("raw")
      .withColumn("_scrub", graft.plans.TextExpressions.multiScrubNative(col("raw"), kinds))
      .select(col("raw") +: chained.as("chained") +:
        col("_scrub.redacted").as("single") +:
        (extractCounts ++ kinds.indices.map(i =>
          col("_scrub.counts").getItem(i).as(s"c$i"))): _*)
      .collect()
  }

  test("single pass ≡ the chained oracle form on non-overlapping cross-kind inputs") {
    val probes = Seq(
      // the decorated-corpus shape itself
      "Customer#000000001 reach user1@mail.example or call +65 9000007919 id " +
        "T0000031B ip 10.1.7.13 card 0000002654435761",
      // kind adjacency: spans back to back with single separators
      "a@b +65 1234567 S1234567A 1.2.3.4",
      // repeated same-kind spans
      "a@b c@d e@f", "+65 1234567 +99 87654321",
      // near-misses that must survive untouched
      "S123456A 1.2.3 +65 123456 plain text", "",
      // ip at string edges
      "1.2.3.4", "x 255.255.255.255")
    bothForms(probes).foreach { r =>
      assert(r.getAs[String]("single") === r.getAs[String]("chained"),
        s"redaction drift on '${r.getAs[String]("raw")}'")
      PiiOps.ScrubKinds.indices.foreach(i =>
        assert(r.getAs[Long](s"c$i") === r.getAs[Long](s"x$i"),
          s"count drift (kind $i) on '${r.getAs[String]("raw")}'"))
    }
  }

  test("the decorated corpus never reaches the divergence boundary (forms equal on real rows)") {
    import spark.implicits._
    val raws = PiiOps.piiRedact(spark, TestSpark.Sf)
      .select($"raw").as[String].collect().toSeq
    assert(raws.nonEmpty)
    bothForms(raws).foreach { r =>
      assert(r.getAs[String]("single") === r.getAs[String]("chained"))
      PiiOps.ScrubKinds.indices.foreach(i =>
        assert(r.getAs[Long](s"c$i") === r.getAs[Long](s"x$i")))
    }
  }

  test("containment is pinned: a span inside a higher-priority span redacts once, counts once") {
    // an IP-lookalike INSIDE an email (and an NRIC-lookalike in a
    // local part): both forms redact identically (the email wins the
    // whole region — leftmost == highest priority here), but the
    // COUNT semantics differ by design: the chained form's
    // regexp_extract_all counts per-kind matches INDEPENDENTLY on the
    // original (ip=1 even though no ip span survives), while the
    // single pass counts WINNING spans — the honest scrub telemetry
    // (a region redacted as an email is not separately an IP leak).
    // The decorated corpus has no containment (previous test + the
    // both-SF hash gates prove it), so the registered queries see no
    // drift; this pin makes the boundary documented behavior.
    Seq("1.2.3.4@mail.com" -> 3, "S1234567A@x.y" -> 2).foreach { case (probe, kind) =>
      val r = bothForms(Seq(probe)).head
      assert(r.getAs[String]("single") === r.getAs[String]("chained"))
      assert(r.getAs[String]("single") === "<EMAIL>")
      assert(r.getAs[Long](s"x$kind") === 1L, "independent count sees the contained span")
      assert(r.getAs[Long](s"c$kind") === 0L, "winning-span count does not")
      assert(r.getAs[Long]("c0") === 1L)
    }
  }

  test("the divergence boundary is pinned: cross-kind OVERLAP resolves leftmost, not by kind") {
    // "+65 9999999a@b": the phone span and the email span OVERLAP on
    // the digit run. The chained form rewrites emails FIRST
    // ("9999999a@b" is a valid email), which destroys the phone's
    // digits; the single pass takes the LEFTMOST match (the phone at
    // position 0), then the remaining email. Both are reasonable
    // scrub semantics; the registered oracle keeps the chained form,
    // so if the corpus ever produced such an overlap the hash gate
    // would fail loudly rather than silently switching semantics.
    val r = bothForms(Seq("+65 9999999a@b")).head
    assert(r.getAs[String]("chained") === "+65 <EMAIL>")
    assert(r.getAs[String]("single") === "<PHONE><EMAIL>")
  }

  test("one evaluation site: the scrub struct stays materialized under CollapseProject") {
    val plan = PiiOps.piiRedact(spark, TestSpark.Sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("multiscrubcompute"))
    // exactly one evaluation site (the audit-marker contract): the
    // multi-referenced non-cheap struct must not be inlined per field
    val sites = "multiscrubcompute".r
      .findAllIn(plan.toLowerCase).size
    assert(sites <= 2, s"scrub expression appears at $sites plan sites")
  }
}
