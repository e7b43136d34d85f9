package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-independence proofs: the suite's results must not depend on
  * HOW Spark executes them. The docs claim every operator is
  * deterministic and reshuffle-stable — this spec TESTS it by
  * re-running representative queries under hostile execution configs
  * (AQE off, an odd shuffle width, broadcasts disabled so every
  * broadcast join degrades to shuffle) and requiring bit-identical
  * result SETS. A query that silently depends on partition count,
  * broadcast planning, or adaptive re-planning fails here before it
  * ships — the local stand-in for "same answer on a 1000-executor
  * cluster".
  */
class ConfParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  // the hard cases: probabilistic signatures, iterative training,
  // interval self-joins, bounded top-k cuts, stateful history builds
  private val Probes = Seq(
    "q_winnow_dedup", "q_dedup_minhash", "q_session_overlap",
    "q_ann_ivf_pq", "q_textrank", "q_scd2_incremental",
    "q_bootstrap_ci", "q_group_topn",
    // round-14 hard cases: iterative GD training (per-step gradient
    // sums are fp — the 6-decimal rounding choreography must absorb
    // partial-aggregation order changes) and a real-codec decode
    "q_quality_lr", "q_png_features",
    // round-15 hard cases: the adaptive-nprobe dial (count-derived
    // in-plan parameter must not depend on partition layout), the
    // five-stage composed pipeline (windows + anti-joins + the
    // trained-weight literals under a hostile retrain), the rank-only
    // fusion, and the per-task-amortized multi-frame codec
    "q_ann_ivf_filtered", "q_curate_e2e", "q_hybrid_rank", "q_gif_frames",
    "q_hybrid_rank_ivf", "q_curate_funnel",
    // round-16 hard cases: the inter-frame codec (sequential per-blob
    // decode state must be invariant to partition layout), the A/V
    // demux, the fully-composed trained vector layout, and the three
    // IVM queries (midpoint splits, insert-only top-N merges,
    // df-state merges and seeded session windows must not depend on
    // the partitioning that computed them)
    "q_rle_frames", "q_rle_seek", "q_avi_demux", "q_curate_incremental",
    "q_contam_incremental", "q_ann_ivf_hier_pq", "q_sessionize_incremental",
    // round-17 hard cases: the motion-compensated codec (sequential
    // reference-frame decode state must be invariant to partition
    // layout) and the drift readout (histogram merges + the smoothed
    // PSI must not depend on how shards arrive)
    "q_mc_frames", "q_mc_seek", "q_drift_psi", "q_avro_roundtrip",
    "q_wht_frames", "q_rice_frames",
    // round-18 hard cases: the closed-loop GOP codec (sequential
    // reconstruction state per blob must be invariant to partition
    // layout) and the 132-weight n-gram training loop (the LrGradAgg
    // gradient must be order/partition-free; retrained per variant)
    "q_gop_frames", "q_gop_seek", "q_quality_lr_ngram",
    "q_quality_lr_ngram_score", "q_cdc_txn_snapshot", "q_hybrid_mmr",
    // round-19 hard cases: the as-of union-window carry (partition
    // layout must not reorder the last-ignore-nulls pick), the
    // register-max sketch algebra, the five-table backoff mixture
    // with its corpus z-flag, and the compaction-composed IVF layout
    "q_scd2_lookup", "q_hll_overlap", "q_lm_trigram", "q_ann_ivf_compacted",
    // round-19 second wave: the heaviest-cell pick + locality-bounded
    // reassignment (a count-derived in-plan maintenance decision),
    // the continuation-count model (four derived tables off one gram
    // aggregate), and the layout-model stats audit (min/max footer
    // stats must not depend on how partitions deliver rows)
    "q_ivf_rebalance", "q_lm_kneser", "q_zorder_skipping")

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
      .map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
      .toSeq.sorted
  }

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("results are identical with AQE off, an odd shuffle width, and no broadcast joins") {
    // the session memo (LR weights, BPE merges, k-means anchors, PQ
    // codebooks, contaminated ids, row counts) would otherwise hand the
    // hostile run the BASELINE's artifacts and make the training-loop
    // probes vacuous — every variant must retrain from scratch under
    // its own config
    def fresh(n: String): Seq[String] = {
      GraftSession.clearMemos(spark)
      rows(SparkEntry.queries(n)(spark, sf))
    }
    val baseline = Probes.map(n => n -> fresh(n)).toMap
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Probes.foreach { n =>
        val hostile = fresh(n)
        assert(hostile === baseline(n), s"$n diverged under hostile execution config")
        assert(hostile.nonEmpty, s"$n returned no rows — parity is vacuous")
      }
    }
  }
}
