package graft

import org.scalatest.funsuite.AnyFunSuite

/** The evaluation-site audit as a REGRESSION GATE: every registered
  * query executes at sf0.001 and its expensive-marker multi-site
  * counts must stay within the adjudicated whitelist below. Each
  * whitelisted entry has a reviewed justification (two-input
  * pipelines, survivor-bounded recomputes, per-row-cheap band-key
  * hashes — see SCALE.md "round-13 evaluation audit"); a NEW
  * multi-site plan, or a whitelisted one growing MORE sites, fails
  * here before it can ship a q_winnow_dedup-style plan-cost bomb
  * again. Entries are exact ceilings, not patterns — tightening a
  * plan should tighten the whitelist in the same commit.
  */
class AuditBaselineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** query → marker → max allowed evaluation sites. */
  private val Adjudicated: Map[String, Map[String, Int]] = Map(
    "q_ann_lsh" -> Map("hyperplanesigscompute" -> 2),      // probe × corpus two-input
    "q_boilerplate" -> Map("shinglepostingsgen" -> 2),     // agg-consumer re-eval beats barrier (measured)
    "q_cdc_incremental_view" -> Map("md5(" -> 3),          // base/delta two-input + op tags
    "q_chunk_dedup" -> Map("chunkhashescompute" -> 2),     // df agg + join side
    "q_contamination" -> Map("shinglepostingsgen" -> 2, "md5(" -> 2), // bench × train
    "q_dedup_incremental" -> Map("shinglepostingsgen" -> 3, "md5(" -> 2), // old/new/pair inputs
    "q_dedup_minhash" -> Map("shinglescompute" -> 2, "md5(" -> 3), // survivor-bounded verify
    "q_heavy_hitters" -> Map("md5(" -> 2),                 // sketch build + readout probe
    "q_lm_bigram" -> Map("shinglescompute" -> 3),          // model build + doc scoring
    "q_lsh_bucket_stats" -> Map("md5(" -> 3),              // per-row-cheap band keys
    "q_minhash_est_error" -> Map("shinglescompute" -> 2, "shinglepostingsgen" -> 2, "md5(" -> 6), // minhash baseline + est path
    "q_minhash_recall" -> Map("shinglepostingsgen" -> 2, "md5(" -> 4), // truth + found pipelines
    "q_scd2_incremental" -> Map("md5(" -> 2),              // base/delta op tags
    // the shared-watermark slice feeds TWO per-table compactions
    // (parent window on user_id, child window on user_id × type), so
    // the per-row-cheap op tag evaluates once per table branch —
    // re-running one md5 per row beats materializing the slice, the
    // q_scd2_incremental two-branch adjudication shape
    "q_cdc_txn_snapshot" -> Map("md5(" -> 2),
    // funnel readout: the flagged single-scan frame feeds TWO
    // consumers (the 5-stage count aggregation and the survivor-
    // bounded cap-count branch), so its two content hashes evaluate
    // once per consumer — re-running the cheap projection beats a
    // barrier, the same documented trade as q_contamination
    "q_curate_funnel" -> Map("md5(" -> 2),
    // train × bench two-input over the SHARED banding machinery: the
    // band build (shingles + md5 band keys) and the per-doc bench
    // flag evaluate once per side of the asymmetric candidate join,
    // plus the survivor-bounded exact-Jaccard verify — the
    // q_dedup_minhash adjudication shape with the two-branch flag
    "q_contam_fuzzy" -> Map("shinglescompute" -> 2, "md5(" -> 5),
    // base-state + delta two-input over ONE per-row-cheap projection
    // (normalized hash + bench flag): the base branch feeds both the
    // survivor pipeline and the dedup hash-state consumer, the delta
    // branch its own — the stored-state recomputation priced in-plan,
    // the q_cdc_incremental_view adjudication shape
    "q_curate_incremental" -> Map("md5(" -> 4))

  test("no registered query exceeds the adjudicated multi-site whitelist") {
    val offenders = AuditEval.sweep(spark, TestSpark.Sf).flatMap {
      case (name, Left(err)) => Some(s"$name ERRORED: $err")
      case (name, Right(hits)) =>
        val allowed = Adjudicated.getOrElse(name, Map.empty)
        val over = hits.filter { case (m, c) => c > allowed.getOrElse(m, 1) }
        if (over.nonEmpty)
          Some(s"$name: ${over.map { case (m, c) =>
            s"$m=$c (allowed ${allowed.getOrElse(m, 1)})" }.mkString(", ")}")
        else None
    }
    assert(offenders.isEmpty,
      "un-adjudicated multi-site evaluation:\n  " + offenders.mkString("\n  "))
  }
}
