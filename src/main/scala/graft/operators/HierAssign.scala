package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-level (anchor-of-anchors) IVF coarse assignment — the scale
  * path past the flat broadcast's ceiling. Flat assignment crossJoins
  * the corpus against a BROADCAST anchor table; with corpus-adaptive
  * cell counts (`semCells`) the anchor table grows with the corpus
  * and past ~10⁸ vectors it no longer fits in a broadcast — the seam
  * the SemDeDup scale note names, and the faiss IVF two-level answer:
  *
  *   1. a SMALL top-level "super anchor" set (the `groups` lowest-id
  *      leaf anchors — the same deterministic-init discipline as the
  *      leaves themselves) is the ONLY table broadcast against the
  *      corpus;
  *   2. each LEAF anchor is routed to its nearest super (a tiny
  *      K × G self-assignment, same 6-decimal/lowest-id decision
  *      contract as every assignment in this repo);
  *   3. each vector takes its `route` nearest supers (bounded
  *      [[graft.plans.TopKAgg]], map-side combinable) and resolves against ONLY
  *      the leaves routed under them through a GROUP-KEYED JOIN —
  *      deliberately not broadcast-hinted: the leaf table is
  *      corpus-derived at scale (AQE still broadcasts it while
  *      small), and the per-vector candidate work drops from K to
  *      ~route · K / G.
  *
  * Exactness: candidate scores are the SAME rounded cosines as flat
  * assignment, so the result is bit-identical to flat whenever each
  * vector's true nearest leaf lies under one of its `route` nearest
  * supers — GUARANTEED at route = groups (every leaf reachable),
  * data-dependent below it. The registered queries
  * (q_ann_ivf_hier / q_semdedup_hier, whose oracles are the flat
  * pipelines' own SQL) run route = groups: what the two-level shape
  * buys at scale is dropping the LEAF-TABLE BROADCAST, and that is
  * bought in exact mode too. route < groups is the nprobe-like
  * recall/cost knob for corpora with real cluster structure — on
  * THIS repo's near-orthogonal synthetic embeddings super-routing
  * carries no locality signal (measured: route = 3 of 4 still
  * diverges), so exact mode is the only hash-stable setting here.
  */
object HierAssign {

  /** Default fan-out: G = ⌈√K⌉ supers keeps both the broadcast (G)
    * and the per-group leaf lists (~K/G) at √K — the balanced
    * two-level split.
    */
  def defaultGroups(cells: Int): Int =
    math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)

  /** Two-level assignment of the corpus `e` (vec_id, embedding, nrm)
    * to `cents` (cell plus the columns of `layout`): each leaf anchor
    * routes to its nearest super, each vector takes its `route`
    * nearest supers and resolves against their leaves. Every stage is
    * the [[NearestAnchor]] decision over `layout`'s score, so
    * candidate scores are bit-identical to the flat assignment.
    * Returns (vec_id, cell, ccos) — the flat assignment's schema.
    */
  def assign(e: DataFrame, cents: DataFrame, layout: NearestAnchor.Layout,
      groups: Int, route: Int): DataFrame = {
    val g: String => Column = c => col("g_" + c)
    val supers = cents.filter(col("cell") < groups)
      .select(col("cell").as("grp") +: layout.cols.map(c => col(c).as("g_" + c)): _*)
    // leaf → nearest super: K × G rows, the only pass that sees every
    // leaf against every super
    val (leafEmb, leafNrm) = layout.asVector(col)
    val leafGrp = NearestAnchor.assign(cents, supers, "cell",
        layout.score(g, leafEmb, leafNrm), cell = "grp", carry = layout.cols)
      .select(col("grp") +: col("cell") +: layout.cols.map(col): _*)
    // vector → `route` nearest supers; only (vec_id, grp) rides out
    val vgrp = NearestAnchor.nearestCells(e, supers, "vec_id",
      layout.score(g, col("embedding"), col("nrm")), route, cell = "grp")
    // resolve against the routed leaves: the grp-keyed join (no
    // broadcast hint — see the object doc), then the flat argmax
    NearestAnchor.argmax(vgrp.join(e, "vec_id").join(leafGrp, "grp"), "vec_id",
      layout.score(col("embedding"), col("nrm")))
  }
}
