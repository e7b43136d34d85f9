package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Reusable tiered fuzzy entity-resolution join — the generic form of
  * the reference's halal-register matcher (halalService.ts:103-177),
  * usable on any pair of DataFrames.
  *
  * Tier ladder (lower wins), mirroring the reference:
  *   1. exact cleaned-name match + auxiliary-key confirmation (postal)
  *   2. exact cleaned-name match
  *   3. token-set Jaccard ≥ `threshold`
  * One best match per left row, preferring lower tier, then aux-key
  * confirmation, then similarity, then lowest right key.
  *
  * Scale shape: NAME-LEVEL evaluation. Token sets — hence Jaccard and
  * the exact-name tiers — are pure functions of the cleaned name, and
  * a row pair is a candidate iff its NAME pair shares a df-kept bigram
  * (or the names are equal): rows of name x carry exactly x's bigrams.
  * So blocking, the hot-key cap (row-weighted: a bigram's df counts
  * rows, aggregated from the name stream weighted by group size) and
  * similarity verification all run over DISTINCT names — entity names
  * are template-heavy, so that set is orders of magnitude smaller than
  * the row-pair space. Rows fan back out only for the per-row aux
  * confirmation and the one-best-match-per-left pick. Tier-3 matches
  * are guaranteed only when both names have ≥ 2 distinct tokens — the
  * reference's ≥ 2-matching-words rule (halalService.ts:138,151) — and
  * when at least one shared bigram survives the cap; the exact tiers
  * ride the name-equality union, so single-token names can never be
  * dropped. Works unchanged on a 1000-executor cluster.
  */
object FuzzyJoin {

  /** @param left      entities to resolve; `leftKey` must be unique
    * @param right     register to resolve against
    * @param threshold tier-3 Jaccard threshold (≥ 0.5 implies ≥ 2
    *                  shared tokens on ≥ 2-token names, which bigram
    *                  blocking covers)
    * @param dfCap     blocking keys hotter than this are dropped from
    *                  candidate generation (bounds the worst key at
    *                  ~cap²/2 pairs)
    */
  def resolve(
      left: DataFrame, leftKey: String, leftName: Column, leftAux: Column,
      right: DataFrame, rightKey: String, rightName: Column, rightAux: Column,
      threshold: Double = 0.5, dfCap: Int = DfCap): DataFrame = {
    require(threshold >= 0.5, "bigram blocking only covers tier 3 for threshold >= 0.5")

    // one exchange per side, keyed on the cleaned name: the groupBy
    // below AND the row fan-out join both need exactly this
    // distribution, so both consumers attach to a single reused
    // shuffle instead of each re-running the cleanName regexp chain
    // over the full row set (measured ~0.5 s per re-execution per
    // side at sf0.1)
    // r19 widen barriers REMOVED (r20): the sides already pay the
    // lcn/rcn-keyed exchange right here, so the extra key-keyed
    // exchange below the cleanName projection was a second full-row
    // shuffle for nothing — paired interleave read the no-widen plan
    // at 0.55x/0.69x (local[32]/local[8]) on q_fuzzy_resolve and flat
    // on q_fuzzy_resolve_worded
    val l = left.select(col(leftKey).as("lk"), leftName.as("_lnm"), leftAux.as("laux"))
      .select(col("lk"), Text.cleanName(col("_lnm")).as("lcn"), col("laux"))
      .transform(repartByKey(_, col("lcn")))
    val r = right.select(col(rightKey).as("rk"), rightName.as("_rnm"), rightAux.as("raux"))
      .select(col("rk"), Text.cleanName(col("_rnm")).as("rcn"), col("raux"))
      .transform(repartByKey(_, col("rcn")))

    val lnames = l.groupBy(col("lcn")).agg(count(lit(1)).as("lgrp"))
      .withColumn("ltoks", array_distinct(split(col("lcn"), " ")))
    val rnames = r.groupBy(col("rcn")).agg(count(lit(1)).as("rgrp"))
      .withColumn("rtoks", array_distinct(split(col("rcn"), " ")))

    // exact Jaccard over the tiny distinct-name-pair set; name pairs
    // that can reach no tier are pruned before rows fan out
    val namePairs = nameCandidates(lnames, rnames, dfCap)
      .join(lnames.select(col("lcn"), col("ltoks")), "lcn")
      .join(rnames.select(col("rcn"), col("rtoks")), "rcn")
      .withColumn("inter", size(array_intersect(col("ltoks"), col("rtoks"))))
      .withColumn("jac",
        col("inter") / size(array_union(col("ltoks"), col("rtoks"))).cast("double"))
      .filter(col("lcn") === col("rcn") || col("jac") >= threshold)
      .select(col("lcn"), col("rcn"), col("jac"))

    // ---- best-match pick at (name, aux) ALTITUDE. Every ordering key
    // of the reference's pick — tier, aux confirmation, similarity,
    // lowest right key — is a function of (lcn, laux, rcn): within one
    // right name, an aux-matching row strictly dominates every
    // non-matching row (tier 1 < 2 for exact names; aux desc within
    // tier 3), so each (name pair, left aux) needs exactly ONE right
    // candidate row — min rk among aux-matching rows if any, else min
    // rk overall. The pick then aggregates over distinct (lcn, laux)
    // and rows fan out ONLY for the final per-row emission
    // (output-bound). The row-pair fan-out this replaces scored 31M
    // rows into a per-left-row window for a 200k-row answer at the
    // sf1.0 slice — all of it duplicate work across rows sharing
    // (name, aux).
    val rbest = r.groupBy(col("rcn"), col("raux")).agg(min(col("rk")).as("rk_aux"))
    val rany = r.groupBy(col("rcn")).agg(min(col("rk")).as("rk_any"))
    val lkeys = l.select(col("lcn"), col("laux")).distinct()
    val cand = namePairs
      .join(lkeys, "lcn")
      .join(rbest.withColumnRenamed("raux", "laux"), Seq("rcn", "laux"), "left")
      .join(rany, "rcn")
      .withColumn("aux_match", when(col("rk_aux").isNotNull, 1).otherwise(0))
      .withColumn("rk", coalesce(col("rk_aux"), col("rk_any")))
      .withColumn("tier",
        when(col("lcn") === col("rcn") && col("aux_match") === 1, 1)
          .when(col("lcn") === col("rcn"), 2)
          .when(col("jac") >= threshold, 3))
      .filter(col("tier").isNotNull)
    // argmin by the reference's preference order as a codegen'd
    // min(struct) — (tier, aux desc, jac desc, rk) is total (rk is a
    // right key, unique across names), payload fields ride behind
    val best = cand.groupBy(col("lcn"), col("laux"))
      .agg(min(struct(col("tier"), negate(col("aux_match")).as("na"),
        negate(col("jac")).as("nj"), col("rk"),
        col("aux_match"), col("jac"))).as("b"))
      .select(col("lcn"), col("laux"), col("b.tier").as("tier"),
        col("b.aux_match").as("aux_match"), col("b.jac").as("jac"), col("b.rk").as("rk"))
    l.join(best, Seq("lcn", "laux"))
      .select(col("lk"), col("rk"), col("tier"), col("aux_match"), round(col("jac"), 6).as("jac"))
  }

  /** The one NAME-LEVEL blocker: distinct (lcn, rcn) name pairs that
    * share a df-kept token bigram, plus every equal-name pair (so
    * single-token names, which have no bigram, still reach the exact
    * tiers). `lnames` carries (lcn, lgrp, ltoks) and `rnames`
    * (rcn, rgrp, rtoks): one row per distinct cleaned name with its
    * row count and token set. The cap is ROW-weighted over both sides
    * — a bigram's df sums the group sizes of the names holding it,
    * identical to exploding every row's bigrams — with the strict `>`
    * and broadcast anti-join of [[dfCapped]].
    */
  private[operators] def nameCandidates(lnames: DataFrame, rnames: DataFrame,
      dfCap: Int): DataFrame = {
    val lnb = lnames.select(col("lcn"), col("lgrp"),
      explode(FuzzyOps.bigramsOf(col("ltoks"))).as("c"))
    val rnb = rnames.select(col("rcn"), col("rgrp"),
      explode(FuzzyOps.bigramsOf(col("rtoks"))).as("c"))
    val hot = lnb.select(col("c"), col("lgrp").as("g"))
      .union(rnb.select(col("c"), col("rgrp").as("g")))
      .groupBy("c").agg(sum(col("g")).as("df"))
      .filter(col("df") > dfCap).select("c")
    lnb.join(broadcast(hot), Seq("c"), "left_anti")
      .join(rnb.join(broadcast(hot), Seq("c"), "left_anti"), "c")
      .select(col("lcn"), col("rcn"))
      .union(lnames.select(col("lcn")).join(rnames.select(col("rcn")),
        col("lcn") === col("rcn")).select(col("lcn"), col("rcn")))
      .distinct()
  }
}
