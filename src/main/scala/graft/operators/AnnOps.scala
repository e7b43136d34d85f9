package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Vectors
import graft.sources.Tables

/** §2.H — similarity search over the embedding column.
  *
  * `annTopK` is the exact baseline: a small probe set broadcast against
  * the corpus, ranked per probe — correct at any corpus size because
  * the probe side is tiny and the corpus streams through one pass.
  *
  * `annLsh` is the 100 TB path: random-hyperplane LSH buckets corpus
  * vectors so each probe only scores its bucket cohort; candidates are
  * verified with exact cosine before ranking (LSH prunes, never
  * invents). Recall is tunable via bands × bits.
  */
object AnnOps {
  private val K = 5
  private[operators] val NProbes = 10
  private[graft] val Dim = 64
  private val LshBands = 8
  private val LshBits = 8

  /** Bounded per-probe top-k by `ord` DESCENDING, `vec_id` ascending
    * tie-break — the [[graft.plans.TopKAgg]] replacement for
    * `row_number().over(Window.partitionBy(probe_id).orderBy(ord.desc,
    * vec_id))`. `payload` names the columns to carry (must start with
    * `vec_id`, the tie-break). Map-side combinable: every partition
    * keeps a ≤ k heap per probe, so the shuffle carries
    * |partitions| × |probes| × k rows regardless of corpus size —
    * the window form funnelled ALL scored rows into |probes|
    * partitions for a full sort, the one shape that concentrates at
    * 100× scale. Ordering note: `-cos` keeps doubles bit-consistent
    * with the window's `desc` (Double.compare semantics on ±0.0 agree
    * after negation) — EXCEPT NaN, where negation is identity and
    * asc/desc disagree. Under Spark 4's default ANSI mode a ZERO-NORM
    * vector cannot reach here at all — cos = 0/0 trips the
    * DIVIDE_BY_ZERO guard and the query fails loudly, the engine
    * itself enforcing the no-degenerate-corpus invariant
    * (PipelineInvariantsSpec pins the invariant at both gate SFs AND
    * forces a zero-norm vector to prove the loud failure). A NaN
    * cosine can still arise from a NaN-VALUED embedding element (NaN
    * propagates through dot and norm; NaN is not a zero divisor), so
    * `ord` is pinned through nanvl to −∞: a NaN-poisoned vector ranks
    * LAST, deterministically, instead of floating to rank 1 under the
    * old window's desc-NaN-first. NOTE: the DuckDB oracles rank by a
    * plain `ORDER BY cos DESC`, which would put a NaN FIRST — safe
    * under the pinned invariant rather than mirrored into ~20 oracle
    * windows, and NOT latent: PipelineInvariantsSpec forces a
    * NaN-element vector through this ranking and proves it agrees
    * with the NaN-pinned mini-oracle (`ORDER BY CASE WHEN isnan(cos)
    * THEN -1e308 ELSE cos END DESC`) — the exact CASE to mirror into
    * the oracle ORDER BYs should a degenerate corpus ever need to
    * pass the hash gate.
    */
  private[graft] def probeTopKDesc(df: DataFrame, ord: Column, k: Int,
      payload: Seq[String]): DataFrame = {
    require(payload.headOption.contains("vec_id"), "tie-break must lead the payload")
    val ordSafe = nanvl(ord, lit(Double.NegativeInfinity))
    val item = struct((negate(ordSafe).as("_o") +: payload.map(c => col(c).as(c))): _*)
    df.groupBy(col("probe_id"))
      .agg(graft.plans.TopKAgg.topK(item, k).as("_tk"))
      .select(col("probe_id"), posexplode(col("_tk")).as(Seq("_pos", "_it")))
      .select((col("probe_id") +: payload.map(c => col("_it." + c).as(c)) :+
        (col("_pos") + 1).cast("long").as("rnk")): _*)
  }

  /** Exact brute-force top-k cosine per probe vector. */
  def annTopK(spark: SparkSession, dir: String): DataFrame =
    exactCosineTopK(spark, dir, K)

  /** The exact arm at a caller-chosen k — [[annTopK]]'s body,
    * parameterized so the hybrid lexical+vector fusion can take a
    * deeper candidate list without duplicating the plan. One
    * streaming pass of the corpus against the broadcast probe set,
    * bounded per-probe top-k.
    */
  private[operators] def exactCosineTopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id"))) // corpus side parallel despite single-row-group input
    val probes = e.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"), col("nrm").as("probe_nrm"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("probe_emb"), col("probe_nrm"), col("embedding"), col("nrm")), 6))
    probeTopKDesc(scored, col("cos"), k, Seq("vec_id", "cos"))
      .orderBy("probe_id", "rnk")
  }

  /** LSH-bucketed ANN: corpus vectors hashed into md5-derived
    * hyperplane band buckets; probes scored only against bucket
    * cohorts, exact-cosine verified. The banding is bit-for-bit
    * reproducible in SQL (integer quantization + integer planes — see
    * [[graft.plans.VectorExpressions.HyperplaneSigsExpr]]), so even
    * this probabilistic pipeline is hash-checked against the oracle.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id"))) // single-row-group input otherwise scans on one core
    val banded = e.select(col("vec_id"),
      posexplode(VectorExpressions.hyperplaneSigsNative(col("embedding"), LshBands, LshBits, Dim))
        .as(Seq("band", "sig")))
    val probeBanded = banded.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("band"), col("sig"))
    // candidate ids only through the bucket join; embeddings re-attach
    // after distinct so vectors never travel with the (band, sig) keys
    val cand = banded.join(probeBanded, Seq("band", "sig"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
      .distinct()
    val scored = cand
      .join(e.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .join(broadcast(e.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"), col("nrm").as("probe_nrm"))), "probe_id")
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("probe_emb"), col("probe_nrm"), col("embedding"), col("nrm")), 6))
    probeTopKDesc(scored, col("cos"), K, Seq("vec_id", "cos"))
      .orderBy("probe_id", "rnk")
  }

  /** Per-dimension embedding statistics per label — the vector-corpus
    * profiling pass (centroids, spread) a curation pipeline runs before
    * clustering. One posexplode + one keyed aggregation.
    */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("v").cast("double")), 6).as("mean"),
        round(min(col("v").cast("double")), 6).as("mn"),
        round(max(col("v").cast("double")), 6).as("mx"))
      .orderBy("label", "dim")

  private[operators] val IvfCells = 16
  private[operators] val IvfProbeCells = 4

  /** Deterministic lowest-id float anchors: (cell, c_emb, c_nrm).
    * `e` must carry (vec_id, embedding, nrm).
    */
  private def ivfAnchors(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))

  /** Nearest-anchor cell per corpus vector → (vec_id, cell). The
    * assignment DECISION discipline — cosine rounded to 6 decimals,
    * ties to the lowest cell — is the oracle-portability contract
    * every deterministic-anchor IVF query shares; it lives HERE so it
    * cannot drift between them. The window input is the slim (vec_id,
    * cell, ccos) triple, never the embedding.
    */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame = {
    import graft.plans.VectorExpressions
    // argmax as a codegen'd min(struct(-ccos, cell)) aggregate: the
    // broadcast crossJoin emits each vector's |cells| scored rows
    // inside one partition, so the partial aggregate collapses them to
    // ONE row per vector before the exchange — n rows shuffled instead
    // of n × |cells| into a per-vector sort window
    e.crossJoin(broadcast(cents))
      .withColumn("ccos", round(VectorExpressions.cosineNative(
        col("c_emb"), col("c_nrm"), col("embedding"), col("nrm")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(negate(col("ccos")).as("nc"), col("cell").as("cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"))
  }

  /** Probe → its [[IvfProbeCells]] nearest cells, same decision
    * discipline as [[assignCells]]. `probes` must carry (probe_id,
    * p_emb, p_nrm, ...); `carry` names the probe columns to keep
    * beside (probe_id, cell) for the downstream scoring join.
    */
  private def nearestProbeCells(probes: DataFrame, cents: DataFrame,
      carry: Seq[String]): DataFrame = {
    import graft.plans.VectorExpressions
    // bounded top-nprobe aggregate (input is |probes| × |cells| rows —
    // small, but kept window-free so the whole ANN family shares one
    // rank discipline); `carry` columns are probe-constant, first()
    // re-attaches them
    probes.crossJoin(broadcast(cents))
      .withColumn("ccos", round(VectorExpressions.cosineNative(
        col("c_emb"), col("c_nrm"), col("p_emb"), col("p_nrm")), 6))
      .groupBy(col("probe_id"))
      .agg(graft.plans.TopKAgg.topK(
          struct(negate(col("ccos")).as("nc"), col("cell").as("cell")), IvfProbeCells).as("_tk"),
        carry.map(c => first(col(c)).as(c)): _*)
      .select((col("probe_id") +: carry.map(col)) :+ explode(col("_tk.cell")).as("cell"): _*)
  }

  /** [[nearestProbeCells]] with the rank kept: ALL [[IvfCells]] cells
    * per probe in centroid-cosine order (same (−ccos, cell) decision
    * struct), each carrying its 1-based `cell_rnk`. The filtered path
    * cuts this ranked list per probe at its label's adaptive nprobe —
    * the k of the bounded aggregate is |cells|, still a constant
    * independent of corpus size.
    */
  private def rankedProbeCells(probes: DataFrame, cents: DataFrame,
      carry: Seq[String]): DataFrame = {
    import graft.plans.VectorExpressions
    probes.crossJoin(broadcast(cents))
      .withColumn("ccos", round(VectorExpressions.cosineNative(
        col("c_emb"), col("c_nrm"), col("p_emb"), col("p_nrm")), 6))
      .groupBy(col("probe_id"))
      .agg(graft.plans.TopKAgg.topK(
          struct(negate(col("ccos")).as("nc"), col("cell").as("cell")), IvfCells).as("_tk"),
        carry.map(c => first(col(c)).as(c)): _*)
      .select(col("probe_id") +: carry.map(col) :+
        posexplode(col("_tk.cell")).as(Seq("_pos", "cell")): _*)
      .select((col("probe_id") +: carry.map(col)) :+ col("cell") :+
        (col("_pos") + 1).cast("int").as("cell_rnk"): _*)
  }

  /** The per-label adaptive-nprobe dial for FILTERED search — the
    * corpus-adaptive rule the preflight's cell×label table motivates
    * (q_dedup_embedding discipline: the rule is computed from counts
    * IN-PLAN, and the oracle recomputes the same rule from the same
    * counts, so the dial itself passes the hash gate).
    *
    * Rule: np(label) = the smallest np in [[IvfProbeCells]]..[[IvfCells]]
    * with np² · n_label ≥ [[IvfProbeCells]]² · n_total — i.e. nprobe
    * scaled by 1/√selectivity (the cost/recall compromise between the
    * fixed unfiltered nprobe and the full 1/selectivity candidate-
    * budget-conservation rule, which at 10 evenly-spread labels would
    * cap at |cells| and degrade to per-label exact scan), clamped to
    * all cells as the safety. PURE INTEGER arithmetic — the minimum
    * over an exploded candidate range under a long-multiplication
    * predicate — so DuckDB reproduces it bit-exactly; no sqrt, no
    * rounding boundary (the q_dsir_weights/q_bootstrap_ci discipline).
    *
    * 100 TB: one keyed count over the corpus (map-side combinable,
    * |labels| rows out) + a |labels| × |range| literal explode — the
    * dial's cost is one cheap aggregation regardless of corpus size,
    * and the resulting candidate work stays ≈ √(1/sel) × the
    * unfiltered budget instead of growing with the corpus.
    */
  private[operators] def filteredNprobeDial(e: DataFrame): DataFrame = {
    // grand total as a scalar aggregate OVER the per-label counts —
    // the counts' exchange is reused (classBalance discipline), no
    // second corpus scan just to count rows
    val counts = e.groupBy(col("label").as("p_label")).agg(count(lit(1)).as("n_label"))
    val tot = counts.agg(sum(col("n_label")).as("n_total"))
    counts
      .crossJoin(broadcast(tot))
      .select(col("p_label"), col("n_label"), col("n_total"),
        explode(sequence(lit(IvfProbeCells), lit(IvfCells))).as("i"))
      .filter(col("i").cast("long") * col("i") * col("n_label") >=
        lit(IvfProbeCells.toLong * IvfProbeCells) * col("n_total") ||
        col("i") === lit(IvfCells))
      .groupBy(col("p_label")).agg(min(col("i")).cast("int").as("np"))
  }

  /** IVF-style ANN — the other classic scale path beside LSH: the
    * corpus is coarse-quantized into [[IvfCells]] cells (nearest
    * anchor by cosine), and each probe searches only its
    * [[IvfProbeCells]] nearest cells — ~nprobe/k of the corpus per
    * query. Anchors are DETERMINISTIC (the lowest-id vectors) so the
    * whole pipeline is oracle-checkable; [[Kmeans.anchors]] is the
    * Lloyd-refined production layout, wired through [[annIvfWith]] —
    * it changes the centroid table, not the plan: one broadcast
    * assignment pass over the corpus, a keyed cell join, per-probe
    * top-k. Assignment ships only (vec_id, cell) through its
    * shuffle — embeddings re-attach by key afterwards.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfAssigned(spark, dir, assignCells)

  /** [[annIvf]] with the corpus assignment routed through the
    * two-level [[HierAssign]] path (broadcast supers → grp-keyed leaf
    * join) instead of the flat anchor broadcast — the layout that
    * survives a corpus-adaptive anchor table outgrowing a broadcast.
    * Candidate scores share the flat pass's exact rounding/ties, so
    * the output is bit-identical to [[annIvf]] at current scales
    * (spec-pinned; the registered oracle IS the flat pipeline's SQL).
    */
  def annIvfHier(spark: SparkSession, dir: String): DataFrame =
    annIvfAssigned(spark, dir, (e, cents) => {
      val g = HierAssign.defaultGroups(IvfCells)
      // route = groups: exact by construction (see HierAssign doc) —
      // the registered configuration removes the leaf-table BROADCAST
      // (the actual scale ceiling), not the per-vector candidate count
      HierAssign.assignFloat(e, cents, g, g)
        .select(col("vec_id"), col("cell"))
    })

  /** [[annIvf]]'s pipeline at a caller-chosen k — the vector arm of
    * the IVF-backed hybrid fusion reuses the plan unchanged.
    */
  private[operators] def ivfTopK(spark: SparkSession, dir: String, k: Int): DataFrame =
    annIvfAssigned(spark, dir, assignCells, k)

  private def annIvfAssigned(spark: SparkSession, dir: String,
      assignFn: (DataFrame, DataFrame) => DataFrame, k: Int = K): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id"))) // single-row-group input otherwise scans on one core
    ivfSearchOver(e, assignFn, k)
  }

  /** The flat-IVF search core over an explicit (vec_id, embedding,
    * nrm) corpus: deterministic lowest-id anchors FROM that corpus,
    * assignment, probe-cell cut, candidate scoring, bounded per-probe
    * top-k. Shared by [[annIvfAssigned]] and the compaction-composed
    * [[annIvfCompacted]] (where the corpus is the post-compaction
    * live set).
    */
  private def ivfSearchOver(e: DataFrame,
      assignFn: (DataFrame, DataFrame) => DataFrame, k: Int = K): DataFrame = {
    import graft.plans.VectorExpressions
    val cents = ivfAnchors(e)
    val assigned = assignFn(e, cents).join(e, "vec_id")
    val probeCells = nearestProbeCells(
      e.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("nrm").as("p_nrm")),
      cents, Seq("p_emb", "p_nrm"))
    val scored = assigned.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("p_emb"), col("p_nrm"), col("embedding"), col("nrm")), 6))
    probeTopKDesc(scored, col("cos"), k, Seq("vec_id", "cos"))
      .orderBy("probe_id", "rnk")
  }

  /** §2.H q_ann_ivf_compacted — VECTOR-INDEX DELETE MAINTENANCE: the
    * CDC family composed with ANN. The events change feed is read as
    * the vector store's changelog (user_id = vec_id — the entity
    * whose embedding the row upserts/deletes); op-aware compaction
    * decides MEMBERSHIP: a key whose newest change at the head of the
    * feed is a `d` tombstone LEAVES the index ([[CdcOps.cdcCompact]]'s
    * newest-wins rule; a later re-insert resurrects it; base vectors
    * with no change history stay — the base-snapshot + changelog
    * shape). The IVF layout is then built over the LIVE corpus —
    * anchors, assignment, probe set and candidates all
    * post-compaction, so a tombstoned vector can neither be returned
    * NOR serve as an anchor/probe: deletes change the layout, not
    * just the result filter. The oracle recomputes cut+compact+search
    * end to end; AnnIvfCompactedSpec plants a tombstoned nearest
    * neighbor and pins its absence (and the naive uncompacted
    * search's inclusion) plus resurrection.
    *
    * 100 TB shape: the tombstone head is ONE keyed window over the
    * feed (the cdcLatest shuffle) and membership is ONE keyed
    * anti-join on vec_id — the index never rebuilds more than the
    * [[annIvf]] pipeline itself; no per-delete rescan, no post-filter
    * that silently under-fills k.
    */
  def annIvfCompacted(spark: SparkSession, dir: String): DataFrame =
    annIvfCompactedFrom(CdcOps.changeFeed(spark, dir),
      Tables.embeddings(spark, dir))

  private[graft] def annIvfCompactedFrom(feed: DataFrame, emb: DataFrame): DataFrame = {
    import graft.plans.VectorExpressions
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    val dead = feed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "d")
      .select(col("user_id").as("vec_id"))
    val live = emb.select(col("vec_id"), col("embedding"))
      .join(dead, Seq("vec_id"), "left_anti")
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    ivfSearchOver(live, assignCells)
  }

  /** [[annIvf]] with an externally supplied anchor table (cell,
    * c: unit-norm array<double>) — e.g. Lloyd-refined
    * [[Kmeans.anchors]], the production cell layout. The registered
    * query keeps the deterministic lowest-id anchors so its pipeline
    * stays oracle-checkable bit for bit; this variant swaps ONLY the
    * centroid table — the plan is identical (broadcast assignment
    * pass, keyed cell join, per-probe top-k).
    */
  def annIvfWith(spark: SparkSession, dir: String, anchors: DataFrame,
      roundCcos: Boolean = false, hierarchical: Boolean = false): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    // cosine against a unit-norm double anchor: dot / ‖x‖ through the
    // codegen'd widened dot (float corpus × double anchors — the
    // interpreted zip_with/aggregate form this replaces ran at
    // corpus × |anchors| volume). `roundCcos` pins the assignment
    // score to 6 decimals so the argmax decision is reproducible by
    // an external SQL engine.
    def anchorCos(emb: Column, nrm: Column): Column = {
      val c = VectorExpressions.widenedDotNative(emb, col("c")) / nrm
      if (roundCcos) round(c, 6) else c
    }
    // per-vector argmax via codegen'd min(struct) — see [[assignCells]];
    // `hierarchical` swaps ONLY this stage for the two-level
    // [[HierAssign]] routing (same scores, same decision contract)
    val assignedIds =
      if (hierarchical) {
        val g = HierAssign.defaultGroups(IvfCells)
        HierAssign.assignUnit(e, anchors, g, g, roundCcos)
          .select(col("vec_id"), col("cell"))
      }
      else
        e.crossJoin(broadcast(anchors))
          .withColumn("ccos", anchorCos(col("embedding"), col("nrm")))
          .groupBy(col("vec_id"))
          .agg(min(struct(negate(col("ccos")).as("nc"), col("cell").as("cell"))).as("best"))
          .select(col("vec_id"), col("best.cell").as("cell"))
    val assigned = assignedIds.join(e, "vec_id")
    val probeCells = e.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
      .crossJoin(broadcast(anchors))
      .withColumn("ccos", anchorCos(col("p_emb"), col("p_nrm")))
      .groupBy(col("probe_id"))
      .agg(graft.plans.TopKAgg.topK(
          struct(negate(col("ccos")).as("nc"), col("cell").as("cell")), IvfProbeCells).as("_tk"),
        first(col("p_emb")).as("p_emb"), first(col("p_nrm")).as("p_nrm"))
      .select(col("probe_id"), col("p_emb"), col("p_nrm"), explode(col("_tk.cell")).as("cell"))
    val scored = assigned.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("p_emb"), col("p_nrm"), col("embedding"), col("nrm")), 6))
    probeTopKDesc(scored, col("cos"), K, Seq("vec_id", "cos"))
      .orderBy("probe_id", "rnk")
  }

  /** §2.H q_ann_ivf_filtered — FILTERED vector search, the
    * FAISS-IDSelector shape every production vector store needs (the
    * most common query after plain top-k: "nearest neighbors WHERE
    * metadata predicate"): IVF search under a per-probe label
    * predicate (candidates must carry the probe's own `label`). The
    * predicate is applied to the cell-bounded CANDIDATE stream —
    * after the (cheap, slim) cell equi-join, before any cosine is
    * computed — never as a post-filter on the top-k (which would
    * return < k rows whenever the unfiltered top-k is predicate-poor)
    * and never by re-ranking the whole corpus. Same plan shape as
    * [[annIvf]]: broadcast assignment, keyed cell join, bounded
    * per-probe top-k; the label filter only THINS the scored stream.
    *
    * nprobe is ADAPTIVE per label via [[filteredNprobeDial]]: cells
    * are still ranked by unfiltered centroid distance, but each probe
    * reads rank ≤ np(its label), np scaled by 1/√selectivity from the
    * same label counts [[annIvfFilteredPreflight]] publishes — the
    * dial that closed the measured 0.62 recall @ sf0.01 (fixed
    * nprobe=4) to 0.92/1.00 @ sf0.01/sf0.1, back in the unfiltered
    * ≥0.85 band ([[annFilteredRecall]] is the oracle-checked proof).
    *
    * 100 TB: selectivity multiplies, it never adds — the filtered scan
    * touches ≈ √(1/sel) × nprobe/cells × sel of the corpus, LESS work
    * than the unfiltered query whenever sel < 1. The oracle mirrors
    * the same dial + cells + predicate, so the hash gate checks the
    * adaptive pipeline exactly.
    */
  def annIvfFiltered(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id"))) // single-row-group input otherwise scans on one core
    val slim = e.select(col("vec_id"), col("embedding"), col("nrm"))
    val cents = ivfAnchors(slim)
    val assigned = assignCells(slim, cents).join(e, "vec_id")
    val probeCells = rankedProbeCells(
      e.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          col("nrm").as("p_nrm"), col("label").as("p_label")),
      cents, Seq("p_emb", "p_nrm", "p_label"))
      .join(broadcast(filteredNprobeDial(e)), "p_label")
      .filter(col("cell_rnk") <= col("np"))
      .drop("cell_rnk", "np")
    val scored = assigned.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("probe_id") && col("label") === col("p_label"))
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("p_emb"), col("p_nrm"), col("embedding"), col("nrm")), 6))
    probeTopKDesc(scored, col("cos"), K, Seq("vec_id", "cos"))
      .orderBy("probe_id", "rnk")
  }

  /** §2.H q_ann_ivf_filtered_preflight — the go/no-go telemetry for
    * FILTERED search (the preflight-family member the filtered path
    * was missing): per (cell, label), the candidate population and
    * its within-cell share. This is the selectivity × cell-correlation
    * audit that decides the nprobe dial BEFORE queries are served —
    * and whose label totals (sum of n over cells) are exactly the
    * counts [[filteredNprobeDial]] consumes in the registered
    * filtered query: a
    * label spread evenly across cells (share ≈ global selectivity
    * everywhere) keeps filtered recall at the unfiltered level, while
    * a label CONCENTRATED in few cells means unfiltered cell routing
    * will miss it and nprobe must rise (or the index must partition by
    * the label). One assignment pass + one keyed aggregation; output
    * bounded by cells × labels, never corpus-sized.
    */
  def annIvfFilteredPreflight(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    val slim = e.select(col("vec_id"), col("embedding"), col("nrm"))
    val counts = assignCells(slim, ivfAnchors(slim))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("n"))
    val cellTot = counts.groupBy("cell").agg(sum(col("n")).as("n_cell"))
    counts.join(cellTot, "cell")
      .select(col("cell"), col("label"), col("n"), col("n_cell"),
        round(col("n") / col("n_cell").cast("double"), 6).as("share"))
      .orderBy("cell", "label")
  }

  /** §2.H q_ann_filtered_recall — the recall audit for the FILTERED
    * path, so the "cells are ranked by unfiltered centroid distance"
    * caveat is itself an oracle-checked measurement, not a SCALE.md
    * footnote: recall@K of [[annIvfFiltered]] against the exact
    * brute-force top-K under the SAME per-probe label predicate
    * (the [[annRecall]] discipline — composes the two registered
    * pipelines unchanged, exact search only over the bounded probe
    * sample). This is the number the nprobe-vs-selectivity dial is
    * tuned against — with [[filteredNprobeDial]] live it reads
    * 0.92 @ sf0.01 / 1.00 @ sf0.1 mean recall (vs 0.62/0.90 at the
    * old fixed nprobe), inside the unfiltered ≥0.85 band.
    */
  def annFilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    val probes = e.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"), col("label").as("p_label"))
    // exact filtered truth: one streaming pass against broadcast
    // probes, predicate applied before scoring, bounded top-k
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id") && col("label") === col("p_label"))
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("p_emb"), col("p_nrm"), col("embedding"), col("nrm")), 6))
    val exact = probeTopKDesc(scored, col("cos"), K, Seq("vec_id", "cos"))
      .select(col("probe_id"), col("vec_id"))
    val approx = annIvfFiltered(spark, dir).select(col("probe_id"), col("vec_id"))
    val hits = exact.join(approx, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall", round(col("n_hits") / col("n_exact").cast("double"), 6))
      .select(col("probe_id"), col("n_exact"), col("n_hits"), col("recall"))
      .orderBy("probe_id")
  }

  private[operators] val IvfKmeansIters = 2

  /** The Lloyd-refined IVF end to end — [[annIvfWith]] fed
    * [[Kmeans.anchors]] in portable mode (means and assignment dots
    * pinned to 6 decimals), `roundCcos` on. Registered so the refined
    * layout is ORACLE-checkable, not just spec-checked: the DuckDB
    * mirror unrolls the same two Lloyd rounds (same init, same
    * rounding, same ties) and must reproduce the anchor table — and
    * therefore the search results — exactly.
    */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(spark, dir, trainedAnchors(spark, dir), roundCcos = true)

  /** §2.H q_ann_ivf_hier_kmeans — the TRAINED hierarchical layout:
    * [[annIvfKmeans]]'s Lloyd-refined portable-mode anchors routed
    * through the two-level [[HierAssign]] assignment (broadcast
    * supers → grp-keyed leaf join) instead of the flat anchor
    * broadcast. This composes the two scale answers the registered
    * family proved separately — q_ann_ivf_hier removed the leaf-table
    * BROADCAST (exact mode: bit-identical to flat), q_ann_ivf_kmeans
    * made the anchor table TRAINED — into the actual billion-vector
    * shape: a corpus-adaptive trained anchor table that no longer
    * needs to fit in a broadcast. Exact mode (route = groups) keeps
    * candidate scores and ties bit-identical to the flat trained
    * path, so the oracle IS q_ann_ivf_kmeans' unrolled-Lloyd SQL and
    * the composition itself passes the hash gate; HierAssignSpec pins
    * ≡ flat on the executed plans.
    */
  /** §2.H q_ann_ivf_hier_pq — the FULL billion-vector layout, every
    * trained/scale answer composed at once: Lloyd-refined cell
    * anchors ([[trainedAnchors]] — corpus-adaptive), routed through
    * the two-level [[HierAssign]] assignment (no leaf-anchor
    * broadcast — the past-the-ceiling path), candidates scored by
    * TRAINED product-quantized codes ([[pqParts]] with
    * [[PqKmeansIters]] codebook rounds — the compressed posting scan
    * that never touches raw vectors until the end), then the exact
    * rerank over the bounded survivor set. This is faiss
    * IVFx,PQy-with-HNSW-coarse in the suite's portable-mode
    * discipline: every stage's decision is rounded/tie-broken the
    * same way on both engines, so the WHOLE composition passes the
    * hash gate — the oracle stitches the three existing mirrors
    * (unrolled cell Lloyd, unrolled PQ Lloyd, the ADC/rerank chain)
    * with zero new SQL semantics. Exact-mode hier keeps assignment
    * bit-identical to flat trained, which is what makes the flat
    * oracle valid (the hash gate itself re-proves hier ≡ flat on
    * real data every run).
    */
  def annIvfHierPq(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val (e, codes, lut) = pqParts(spark, dir, trainIters = PqKmeansIters)
    val anchors = trainedAnchors(spark, dir)
    val g = HierAssign.defaultGroups(IvfCells)
    val assigned = HierAssign.assignUnit(e, anchors, g, g, roundCcos = true)
      .select(col("vec_id"), col("cell"))
    // probe cells: portable round-6 top-IvfProbeCells against the
    // trained anchors (probes are few — the flat broadcast is right)
    val probeCells = e.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"))
      .crossJoin(broadcast(anchors))
      .withColumn("ccos",
        round(VectorExpressions.widenedDotNative(col("p_emb"), col("c")) / col("p_nrm"), 6))
      .groupBy(col("probe_id"))
      .agg(graft.plans.TopKAgg.topK(
        struct(negate(col("ccos")).as("nc"), col("cell").as("cell")), IvfProbeCells).as("_tk"))
      .select(col("probe_id"), explode(col("_tk.cell")).as("cell"))
    val cand = assigned.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    val scored = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("probe_id", "m", "code"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("pdotq")).as("qdot")) // exact long sum — order-free
      .join(e.select(col("vec_id"), col("nrm")), "vec_id")
      .join(broadcast(e.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("nrm").as("p_nrm"))), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        round(col("qdot").cast("double") / lit(1e6) / (col("nrm") * col("p_nrm")), 6)
          .as("qcos"))
    sq8Rerank(scored, e, PqRerank)
  }

  def annIvfHierKmeans(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(spark, dir, trainedAnchors(spark, dir),
      roundCcos = true, hierarchical = true)

  /** The session's ONE Lloyd-trained anchor table per (dir, params) —
    * shared by q_ann_ivf_kmeans and q_semdedup_kmeans (both consume
    * the identical portable-mode layout), trained on first use
    * ([[Kmeans.memoized]]).
    */
  private[graft] def trainedAnchors(spark: SparkSession, dir: String): DataFrame =
    trainedAnchorsK(spark, dir, IvfCells)

  /** [[trainedAnchors]] with an explicit cell count — the SemDeDup
    * path trains k = cells(n) (corpus-adaptive occupancy), the IVF
    * path keeps [[IvfCells]]; both memoize per (session, dir, k).
    */
  private[graft] def trainedAnchorsK(spark: SparkSession, dir: String, k: Int): DataFrame =
    Kmeans.memoized(spark,
        s"$dir|anchors|k=$k|iters=$IvfKmeansIters|portable=true") {
      val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      Kmeans.anchors(e, k, IvfKmeansIters, portable = true)
    }

  private[operators] val Sq8Rerank = 20

  /** SQ8-quantized ANN search — the "go" path the [[quantStats]]
    * profile exists to authorize (its go/no-go check previously had no
    * consumer). Per vector: symmetric int8 quantization with the SAME
    * scale formula as the profile (`max|x|/127`, floored at 1e-30);
    * candidate generation runs INTEGER dot products over the quantized
    * arrays — exact integer arithmetic, so the scores are reproducible
    * bit for bit by any engine — rescaled by the two scale factors and
    * the exact norms into an approximate cosine (rounded to 6 decimals
    * because it feeds the top-[[Sq8Rerank]] DECISION); the candidate
    * set is then re-ranked with the exact float cosine and cut to
    * top-[[K]].
    *
    * 100 TB: the int8 arrays are 4× smaller than the float corpus (and
    * SIMD-friendly on a real cluster), candidate generation is one
    * streaming pass against broadcast probes with only (probe_id,
    * vec_id, qcos) ever entering the shuffle, and the exact re-rank
    * touches [[Sq8Rerank]] rows per probe — the expensive float math
    * runs on a bounded candidate set, not the corpus.
    */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = sq8Corpus(spark, dir)
    val probes = e.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("qs").as("p_qs"),
        col("nrm").as("p_nrm"), col("qv").as("p_qv"))
    // slim (probe_id, vec_id, qcos) before the rank window: no arrays
    // in the rank shuffle
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), sq8Qcos.as("qcos"))
    sq8Rerank(scored, e)
  }

  /** Corpus with the SQ8 search artifacts attached: (vec_id,
    * embedding, qs = the [[quantStats]] scale, nrm = exact float norm,
    * qv = the int8-quantized array as longs).
    */
  private def sq8Corpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val qsCol = greatest(array_max(transform(col("embedding"),
      x => abs(x.cast("double")))), lit(1e-30)) / lit(127.0)
    // PORTABILITY ASSUMPTION: round(x/qs, 0) relies on Spark's HALF_UP
    // and DuckDB's half-away-from-zero agreeing on exact .5 ties of the
    // float quotient. A quotient landing exactly on .5 requires
    // x/(max|x|/127) to be representable as k + 0.5 — never observed at
    // any shipped scale (qcos hash-matches at sf0.001/0.01/0.1). If a
    // corpus ever trips it, bias the quotient by a sub-ulp epsilon
    // IDENTICALLY here and in the sq8 oracle SQL before re-verifying.
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("qs", qsCol)
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .withColumn("qv", transform(col("embedding"),
        x => round(x.cast("double") / col("qs"), 0).cast("long")))
      .transform(repartByKey(_, col("vec_id"))) // single-row-group input otherwise scans on one core
  }

  /** Approximate cosine from the two quantized sides: integer dot
    * (engine-exact; codegen'd [[graft.plans.VectorExpressions.LongDotExpr]]
    * so the corpus scan stays inside whole-stage codegen) rescaled by
    * the scales and exact norms, rounded to 6 decimals because it
    * feeds the top-[[Sq8Rerank]] DECISION. Expects (qv, qs, nrm) and
    * (p_qv, p_qs, p_nrm) in scope.
    */
  private def sq8Qcos: Column = {
    val dotq = graft.plans.VectorExpressions.longDotNative(col("qv"), col("p_qv"))
    round(dotq.cast("double") * col("qs") * col("p_qs")
      / (col("nrm") * col("p_nrm")), 6)
  }

  /** Shared quantized-search tail: cut `scored` (probe_id, vec_id,
    * qcos) to the top-`rerank` per probe, re-rank with the exact float
    * cosine, keep top-[[K]] — float math touches only the bounded
    * candidate set. `rerank` defaults to [[Sq8Rerank]]; coarser codes
    * (PQ) pass a larger budget, the standard precision dial.
    */
  private def sq8Rerank(scored: DataFrame, e: DataFrame,
      rerank: Int = Sq8Rerank): DataFrame = {
    import graft.plans.VectorExpressions
    // both cuts are bounded top-k aggregates (map-side combinable):
    // the candidate cut sees the corpus-sized scored stream, the final
    // cut sees ≤ rerank rows per probe
    val cand = probeTopKDesc(scored, col("qcos"), rerank, Seq("vec_id", "qcos"))
      .select(col("probe_id"), col("vec_id"), col("qcos"))
    val rescored = cand
      .join(e.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .join(broadcast(e.filter(col("vec_id") < NProbes).select(col("vec_id").as("probe_id"),
        col("embedding").as("p_emb"), col("nrm").as("p_nrm"))), "probe_id")
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("p_emb"), col("p_nrm"), col("embedding"), col("nrm")), 6))
    probeTopKDesc(rescored, col("cos"), K, Seq("vec_id", "qcos", "cos"))
      .orderBy("probe_id", "rnk")
  }

  /** IVF × SQ8 — the production composition of the suite's two scale
    * paths (the FAISS IVF-SQ layout): coarse cells bound WHICH vectors
    * a probe scans (~nprobe/k of the corpus), int8 dots bound WHAT the
    * scan costs per vector (4× smaller rows, integer arithmetic), and
    * the exact re-rank confines float math to [[Sq8Rerank]] candidates
    * per probe. Cell assignment and probe-cell selection are identical
    * to [[annIvf]] (deterministic lowest-id anchors, exact cosine
    * rounded at the decision), so the whole composed pipeline stays
    * oracle-checkable.
    */
  def annIvfSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = sq8Corpus(spark, dir)
    val cents = ivfAnchors(e)
    val assigned = assignCells(e, cents)
      .join(e.select(col("vec_id"), col("qs"), col("nrm"), col("qv")), "vec_id")
    val probeCells = nearestProbeCells(
      e.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          col("qs").as("p_qs"), col("nrm").as("p_nrm"), col("qv").as("p_qv")),
      cents, Seq("p_qs", "p_nrm", "p_qv"))
    val scored = assigned.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), sq8Qcos.as("qcos"))
    sq8Rerank(scored, e)
  }

  private[operators] val PqM = 8
  private[operators] val PqSub = Dim / PqM
  private[operators] val PqK = 16
  private[operators] val PqRerank = 40

  /** Product-quantized ANN — the third compression rung beside SQ8:
    * the vector is split into [[PqM]] = 8 subvectors of [[PqSub]] = 8
    * dims; each subvector is replaced by the id of its nearest entry
    * in a per-subspace codebook of [[PqK]] = 16 codewords, so a
    * vector costs M·log₂(K) = 32 bits instead of 256 bytes — far
    * below SQ8's 64 bytes. Search is the classic ADC scan: per probe
    * ONE M×K lookup table of subvector dots, a corpus pass that SUMS
    * M table lookups per vector, exact re-rank confined to the
    * [[PqRerank]] = 40 candidates (shared [[sq8Rerank]] tail — PQ's
    * coarser codes take a 2× rerank budget over SQ8's 20, the
    * standard precision dial for lossier codes).
    *
    * Oracle portability: codebooks are DETERMINISTIC (the subvectors
    * of the lowest-[[PqK]] ids — the [[ivfAnchors]] discipline; the
    * Lloyd-refined codebook is a centroid-table swap, as
    * [[annIvfKmeans]] demonstrates for IVF); encode argmin runs on the
    * 6-decimal-rounded squared L2 with ties to the lowest code; and
    * the ADC tables are INTEGERS — each dot is scaled by 1e6 and
    * rounded to a long, so the per-vector sum of M lookups is exact
    * integer arithmetic, order-free under any shuffle or grouping (the
    * same reasoning as the SQ8 integer dot, and the same half-up tie
    * assumption documented at [[sq8Corpus]]).
    *
    * 100 TB: codes are 32 bits/vector (the corpus fits ~64× fewer
    * bytes than float32), the LUT join broadcasts M·K·nprobes rows,
    * only (vec_id, m, code) and the slim (probe_id, vec_id, qdot)
    * aggregate ever enter a shuffle, and float math touches the
    * re-rank candidates only.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqImpl(spark, dir, trainIters = 0)

  /** [[annPq]] with per-subspace Lloyd-TRAINED codebooks — the step
    * that turns the deterministic seed codebook into the production
    * PQ layout (FAISS trains exactly this way: plain L2 k-means per
    * subspace). Same [[Kmeans]] portability discipline as
    * [[annIvfKmeans]]: lowest-id init, squared-L2 assignment rounded
    * to 6 decimals with ties to the lowest code, per-(m, code, dim)
    * means rounded to 6 decimals, empty codes keep their previous
    * codeword — so the DuckDB oracle unrolls the identical recursion
    * and the whole trained pipeline stays hash-checkable. The search
    * plan is IDENTICAL to [[annPq]] (codebook-table swap only).
    */
  def annPqKmeans(spark: SparkSession, dir: String): DataFrame =
    annPqImpl(spark, dir, trainIters = PqKmeansIters)

  private[operators] val PqKmeansIters = 2

  /** Per-subspace Lloyd refinement of the seed codebook. `subd` is
    * the exploded (vec_id, m, sub: array<double>) frame; returns
    * (m, code, c_sub: array<double>). Each round is one broadcast
    * join over the n·M subvector rows plus a (m, code, dim)-keyed
    * mean onto M·K·dim cells — no corpus-sized shuffle, the
    * [[Kmeans.anchorsTrace]] shape in subvector space. The M·K = 128
    * codeword table is pinned per round so corpus lineage never
    * re-executes.
    */
  private def pqCodebook(subd: DataFrame, iters: Int): DataFrame = {
    val cached = subd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = cached.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("code"), col("sub").as("c_sub"))
      .transform(materialize)
    for (_ <- 0 until iters) {
      val d2 = round(aggregate(zip_with(col("sub"), col("c_sub"), (a, b) =>
          (a - b) * (a - b)), lit(0.0), (acc, v) => acc + v), 6)
      // argmin as a codegen'd min(struct) partial aggregate — the
      // [[assignCells]] discipline in (vec_id, m) subvector space
      val asg = cached.join(broadcast(cur), "m")
        .select(col("vec_id"), col("m"), col("code"), d2.as("d2"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d2"), col("code"))).as("best"))
        .select(col("vec_id"), col("m"), col("best.code").as("code"))
      val means = asg.join(cached, Seq("vec_id", "m"))
        .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("dim", "v")))
        .groupBy("m", "code", "dim").agg(round(avg(col("v")), 6).as("mv"))
        .groupBy("m", "code")
        .agg(array_sort(collect_list(struct(col("dim"), col("mv")))).as("dm"))
        .select(col("m"), col("code"), transform(col("dm"), s => s.getField("mv")).as("mc"))
      cur = cur.as("p").join(means, Seq("m", "code"), "left")
        .select(col("m"), col("code"), coalesce(col("mc"), col("p.c_sub")).as("c_sub"))
        .transform(materialize)
    }
    cached.unpersist() // codebooks are checkpointed; the cache is training-local
    cur
  }

  /** Shared PQ machinery for [[annPqImpl]] and [[annIvfPq]]: the
    * normalized corpus `e`, the per-(vec_id, m) nearest-codeword codes
    * against the seed (or Lloyd-trained) codebook, and the probes'
    * integer ADC lookup table (probe_id, m, code, pdotq).
    */
  private def pqParts(spark: SparkSession, dir: String,
      trainIters: Int): (DataFrame, DataFrame, DataFrame) = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id"))) // single-row-group input otherwise scans on one core
    // (id, m, sub): the M 8-dim subvectors, sliced once per row behind
    // the posexplode Generate barrier
    def subs(df: DataFrame, id: String): DataFrame = df.select(col(id),
      posexplode(array((0 until PqM).map(m =>
        slice(col("embedding"), m * PqSub + 1, PqSub)): _*)).as(Seq("m", "sub")))
    // seed codebook: subvectors of the lowest-PqK ids (float, exactly
    // as stored — q_ann_pq's bit-contract); training widens to double
    // and refines, a pure codebook-table swap for the search below
    val cb =
      if (trainIters == 0)
        subs(e.filter(col("vec_id") < PqK), "vec_id")
          .select(col("m"), col("vec_id").as("code"), col("sub").as("c_sub"))
      else
        // session-memoized: the trained codebook is a fixed cost per
        // (dir, iters); train once, reuse across invocations
        Kmeans.memoized(spark, s"$dir|pqcodebook|iters=$trainIters") {
          pqCodebook(subs(e, "vec_id").select(col("vec_id"), col("m"),
            transform(col("sub"), x => x.cast("double")).as("sub")), trainIters)
        }
    // encode: nearest codeword per (vec_id, m) by rounded squared L2,
    // ties to the lowest code — the assignCells decision discipline
    val d2 = round(aggregate(zip_with(col("sub"), col("c_sub"), (a, b) =>
        (a.cast("double") - b.cast("double")) * (a.cast("double") - b.cast("double"))),
      lit(0.0), (acc, v) => acc + v), 6)
    val codes = subs(e, "vec_id").join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("code"), d2.as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code").as("code"))
    // probe ADC table: integer-scaled subvector dots, (probe_id, m,
    // code, pdotq) — M·K rows per probe, broadcast
    val pdotq = round(aggregate(zip_with(col("sub"), col("c_sub"), (a, b) =>
        a.cast("double") * b.cast("double")),
      lit(0.0), (acc, v) => acc + v) * lit(1e6), 0).cast("long")
    val lut = subs(e.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding")), "probe_id")
      .join(broadcast(cb), "m")
      .select(col("probe_id"), col("m"), col("code"), pdotq.as("pdotq"))
    (e, codes, lut)
  }

  private def annPqImpl(spark: SparkSession, dir: String, trainIters: Int): DataFrame = {
    val (e, codes, lut) = pqParts(spark, dir, trainIters)
    val scored = codes.join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("pdotq")).as("qdot")) // exact long sum — order-free
      .join(e.select(col("vec_id"), col("nrm")), "vec_id")
      .join(broadcast(e.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("nrm").as("p_nrm"))), "probe_id")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(col("qdot").cast("double") / lit(1e6) / (col("nrm") * col("p_nrm")), 6)
          .as("qcos"))
    sq8Rerank(scored, e, PqRerank)
  }

  /** IVF × PQ — the FAISS IVF-ADC layout, the production composition
    * the suite was still missing beside [[annIvfSq8]]: coarse cells
    * bound WHICH vectors a probe scans (~nprobe/k of the corpus,
    * exactly [[annIvf]]'s routing), PQ codes bound WHAT the scan costs
    * per vector (32 BITS each — the ADC sum of M integer table
    * lookups), and the exact re-rank confines float math to
    * [[PqRerank]] candidates per probe. Cell assignment, probe-cell
    * selection, codebook, encode and LUT are IDENTICAL to the
    * standalone pipelines (shared helpers), so the composition stays
    * oracle-checkable bit for bit.
    *
    * 100 TB: this is the layout a billion-vector deployment actually
    * runs — the candidate stream entering the ADC aggregation is
    * nprobe/k of the corpus (not all of it, [[annPq]]'s one concession
    * to exhaustiveness), codes are 32 bits/vector, the LUT and cell
    * tables broadcast, and only slim id/code/long-dot rows ever ride
    * a shuffle.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val (e, codes, lut) = pqParts(spark, dir, trainIters = 0)
    val cents = ivfAnchors(e)
    val assigned = assignCells(e, cents)
    val probeCells = nearestProbeCells(
      e.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          col("nrm").as("p_nrm")),
      cents, Seq.empty)
    val cand = assigned.join(broadcast(probeCells.select("probe_id", "cell")), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    val scored = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("probe_id", "m", "code"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("pdotq")).as("qdot")) // exact long sum — order-free
      .join(e.select(col("vec_id"), col("nrm")), "vec_id")
      .join(broadcast(e.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("nrm").as("p_nrm"))), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        round(col("qdot").cast("double") / lit(1e6) / (col("nrm") * col("p_nrm")), 6)
          .as("qcos"))
    sq8Rerank(scored, e, PqRerank)
  }

  /** Number of heaviest cells [[ivfRebalance]] splits per maintenance
    * pass. A production system gates the pass on a skew ratio; the
    * registered query pins the MECHANISM with a fixed split count so
    * the maintenance path executes (and hash-checks) at every SF —
    * the gate corpus is near-balanced, so a ratio trigger would leave
    * the split arm dead code at the gate scales.
    */
  private[operators] val RebalSplit = 2

  /** §2.H q_ivf_rebalance — VECTOR-INDEX SKEW MAINTENANCE, the third
    * leg of the index-lifecycle family (inserts: IvfAssignStream;
    * deletes: [[annIvfCompacted]]; skew: here). A hot IVF cell
    * degrades every probe that visits it — candidate volume is
    * nprobe/k of the CORPUS only while cells stay balanced
    * ([[ivfCellStats]] is the detector; this is the repair). The
    * [[RebalSplit]] heaviest cells (ties to the lower cell id) are
    * split in place: the member FARTHEST from the cell's anchor
    * (lowest rounded cosine, ties to the lowest vec_id — the
    * deterministic farthest-point heuristic) seeds a child cell
    * (id = parent + [[IvfCells]]), and ONLY that cell's members
    * re-decide between parent anchor and seed (same rounded-cosine
    * decision discipline as [[assignCells]]; ties stay with the
    * parent). Output is the post-maintenance layout — (cell, parent,
    * n_before, n_after) for every parent and child — so the hash gate
    * carries the repair decision itself: which cells split, who
    * seeded them, and exactly how membership moved.
    *
    * 100 TB shape: the repair touches ONLY the hot cells' members —
    * one keyed semi-join on [[RebalSplit]] cell ids, one broadcast of
    * [[RebalSplit]] anchors + seeds — plus the keyed count profile
    * the detector already maintains; members of cold cells are never
    * read, and no corpus-wide reassignment happens (the locality that
    * makes in-place split viable where a full re-cluster is not).
    */
  def ivfRebalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    val cents = ivfAnchors(e)
    val asg = assignCells(e, cents)
    val counts = asg.groupBy("cell").agg(count(lit(1)).as("n_before"))
    // the RebalSplit heaviest cells — a 16-row frame, driver-bounded
    val hot = counts.orderBy(col("n_before").desc, col("cell")).limit(RebalSplit)
      .select(col("cell"))
    // hot members with their anchor cosine (keyed semi-join — cold
    // cells' embeddings are never touched)
    val withA = asg.join(broadcast(hot), "cell").join(e, "vec_id")
      .join(broadcast(cents.join(broadcast(hot), "cell")), "cell")
      .withColumn("cos_a", round(VectorExpressions.cosineNative(
        col("c_emb"), col("c_nrm"), col("embedding"), col("nrm")), 6))
      .select("cell", "vec_id", "embedding", "nrm", "cos_a")
    val seeds = withA.groupBy("cell")
      .agg(min(struct(col("cos_a").as("ca"), col("vec_id").as("vec_id"))).as("s"))
      .select(col("cell"), col("s.vec_id").as("seed_id"))
    val seedEmb = seeds.join(
      e.select(col("vec_id").as("seed_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm")),
      "seed_id")
    val moved = withA.join(broadcast(seedEmb), "cell")
      .withColumn("cos_b", round(VectorExpressions.cosineNative(
        col("b_emb"), col("b_nrm"), col("embedding"), col("nrm")), 6))
      .groupBy("cell")
      .agg(first(col("seed_id")).as("seed_id"),
        sum(when(col("cos_b") > col("cos_a"), 1L).otherwise(0L)).as("n_moved"))
    val parents = counts.join(broadcast(moved), Seq("cell"), "left")
      .select(col("cell"), col("cell").as("parent"), lit(-1L).as("seed_id"),
        col("n_before"),
        (col("n_before") - coalesce(col("n_moved"), lit(0L))).as("n_after"))
    val children = moved
      .select((col("cell") + lit(IvfCells)).as("cell"), col("cell").as("parent"),
        col("seed_id"), lit(0L).as("n_before"), col("n_moved").as("n_after"))
    parents.unionByName(children)
      .select(col("cell").cast("int").as("cell"), col("parent").cast("int").as("parent"),
        col("seed_id"), col("n_before"), col("n_after"))
      .orderBy("cell")
  }

  /** Cell-occupancy profile of the IVF layout — the ANN counterpart of
    * [[CoreOps.skewProfile]]'s join-key pre-flight: per cell the member
    * count, corpus share, and balance factor (n·k/total; 1.0 = even).
    * A degenerate coarse quantizer (one cell swallowing the corpus)
    * silently destroys nprobe pruning — probes search ~everything —
    * and this is the check that catches it BEFORE committing the
    * layout. Empty cells are reported as zero rows, not dropped: they
    * waste a probe's nprobe budget. The corpus total is a one-row
    * scalar aggregate broadcast-crossJoined (the tfidf/lm_score shape
    * — never a partition-less window).
    */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id"))) // single-row-group input otherwise scans on one core
    val cents = ivfAnchors(e)
    val counts = assignCells(e, cents)
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val withZero = cents.select(col("cell")).join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_members"))
    val total = withZero.agg(sum(col("n_members")).as("tot"))
    withZero.crossJoin(broadcast(total))
      .select(col("cell"), col("n_members"),
        round(col("n_members") / col("tot").cast("double"), 6).as("share"),
        round(col("n_members") * lit(IvfCells) / col("tot").cast("double"), 6).as("balance"))
      .orderBy("cell")
  }

  /** Symmetric int8 scalar quantization profile — the storage-side
    * prep for ANN at corpus scale (4× smaller vectors, SIMD-friendly
    * dot products): per vector, the scale (max|x|/127) and the
    * reconstruction error of round(x/scale)·scale. The quantized
    * bytes themselves are a storage concern; the queryable artifact
    * is this per-vector quality profile, which decides whether SQ8 is
    * safe for a given corpus before committing the layout.
    */
  def quantStats(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("x", col("v").cast("double"))
    val scales = ex.groupBy("vec_id")
      .agg((greatest(max(abs(col("x"))), lit(1e-30)) / lit(127.0)).as("qs"))
    val err = col("x") - round(col("x") / col("qs"), 0) * col("qs")
    ex.join(scales, "vec_id")
      .groupBy("vec_id")
      .agg(
        round(min(col("qs")), 6).as("qscale"),
        round(sqrt(avg(pow(err, 2))), 6).as("rmse"),
        round(max(abs(err)), 6).as("max_err"))
  }

  /** ANN recall probe — the index-tuning dial, completing the
    * telemetry family (q_ivf_cell_stats audits the LAYOUT, this
    * audits the ANSWERS): recall@K of the IVF search against the
    * exact brute-force top-K, per probe. At 100 TB nobody can afford
    * exact search over the corpus, but everyone can afford it over a
    * deterministic PROBE SAMPLE — this is exactly that measurement,
    * and nprobe/cells are re-dialed until sampled recall clears the
    * product bar. Composes the two registered pipelines unchanged, so
    * the measurement can never drift from what the search actually
    * returns.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = annTopK(spark, dir).select(col("probe_id"), col("vec_id"))
    val approx = annIvf(spark, dir).select(col("probe_id"), col("vec_id"))
    val hits = exact.join(approx, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    // denominator = the probe's ACTUAL exact-neighbor count, not the
    // constant K: on a slice with < K non-probe vectors a perfect
    // approximate result must read recall 1.0, or the dial gets tuned
    // against a bound it can never reach
    exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall", round(col("n_hits") / col("n_exact").cast("double"), 6))
      .select(col("probe_id"), col("n_exact"), col("n_hits"), col("recall"))
      .orderBy("probe_id")
  }

  /** k-NN label prediction — classification by retrieval (Fix &
    * Hodges 1951; the label-propagation readout every embedding-store
    * evaluation runs): each probe's label is predicted as the
    * majority label of its [[K]] nearest non-self neighbors by exact
    * cosine (vote ties to the lexicographically smallest label), and
    * compared against the probe's own label. Composes the registered
    * exact top-k pipeline's shapes unchanged: broadcast probes, one
    * scored pass, the bounded top-k aggregate, then two keyed
    * aggregations whose output is |probes| × |labels| at most — the
    * argmax vote is a codegen'd min(struct), never a window.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    val probes = e.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("nrm").as("probe_nrm"), col("label").as("true_label"))
    val scored = e.crossJoin(broadcast(probes.drop("true_label")))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("probe_emb"), col("probe_nrm"), col("embedding"), col("nrm")), 6))
    val votes = probeTopKDesc(scored, col("cos"), K, Seq("vec_id", "label"))
      .groupBy("probe_id", "label").agg(count(lit(1)).as("n_votes"))
    votes.groupBy("probe_id")
      .agg(min(struct(negate(col("n_votes")).as("nv"),
        col("label").as("pred_label"))).as("b"))
      .select(col("probe_id"), col("b.pred_label").as("pred_label"),
        negate(col("b.nv")).as("n_votes"))
      .join(broadcast(probes.select(col("probe_id"), col("true_label"))), "probe_id")
      .withColumn("correct", (col("pred_label") === col("true_label")).cast("int"))
      .orderBy("probe_id")
  }

  /** Label purity per IVF cell — the cluster-quality audit against
    * ground-truth labels (is the embedding space's coarse structure
    * label-coherent before trusting cluster-level curation
    * decisions?): per non-empty cell, membership, distinct labels,
    * the majority label and its share. Same deterministic assignment
    * as [[ivfCellStats]]; two keyed aggregations over the slim
    * (cell, label) frame, majority via codegen'd min(struct), output
    * ≤ |cells| rows.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    val asg = assignCells(e.select(col("vec_id"), col("embedding"), col("nrm")), ivfAnchors(e))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
    val counts = asg.groupBy("cell", "label").agg(count(lit(1)).as("n"))
    val tot = counts.groupBy("cell")
      .agg(sum(col("n")).as("n_members"), count(lit(1)).as("n_labels"))
    val maj = counts.groupBy("cell")
      .agg(min(struct(negate(col("n")).as("nn"), col("label").as("maj_label"))).as("m"))
      .select(col("cell"), col("m.maj_label").as("maj_label"),
        negate(col("m.nn")).as("n_majority"))
    tot.join(maj, "cell")
      .withColumn("purity", round(col("n_majority") / col("n_members").cast("double"), 6))
      .select(col("cell"), col("n_members"), col("n_labels"),
        col("maj_label"), col("n_majority"), col("purity"))
      .orderBy("cell")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_knn_classify" -> (knnClassify _),
    "q_cluster_purity" -> (clusterPurity _),
    "q_ann_topk" -> (annTopK _),
    "q_ann_recall" -> (annRecall _),
    "q_ann_lsh" -> (annLsh _),
    "q_ann_ivf" -> (annIvf _),
    "q_ann_ivf_compacted" -> (annIvfCompacted _),
    "q_ann_ivf_filtered" -> (annIvfFiltered _),
    "q_ann_filtered_recall" -> (annFilteredRecall _),
    "q_ann_ivf_filtered_preflight" -> (annIvfFilteredPreflight _),
    "q_ann_ivf_hier" -> (annIvfHier _),
    "q_ann_ivf_kmeans" -> (annIvfKmeans _),
    "q_ann_ivf_hier_kmeans" -> (annIvfHierKmeans _),
    "q_ann_ivf_hier_pq" -> (annIvfHierPq _),
    "q_ann_sq8" -> (annSq8 _),
    "q_ann_ivf_sq8" -> (annIvfSq8 _),
    "q_ann_ivf_pq" -> (annIvfPq _),
    "q_ann_pq" -> (annPq _),
    "q_ann_pq_kmeans" -> (annPqKmeans _),
    "q_ivf_cell_stats" -> (ivfCellStats _),
    "q_ivf_rebalance" -> (ivfRebalance _),
    "q_quant_stats" -> (quantStats _),
    "q_embedding_stats" -> (embeddingStats _))

  /** Cosine of `$a` and `$b` (embedding column expressions), identical
    * fold shape to the native expression and the other ANN oracles.
    */
  /** `l / max(‖l‖, 1e-30)` over a double list — [[Kmeans.unitOf]]'s
    * SQL mirror (same epsilon, same index-ordered sum).
    */
  private[operators] def sqlUnit(l: String): String =
    s"""list_transform($l, x -> x /
       |        greatest(sqrt(list_sum(list_transform($l, y -> y * y))), 1e-30))""".stripMargin

  /** Portable-mode assignment dot: `round(Σ a·b, 6)` over double lists. */
  private[operators] def sqlDotR6(a: String, b: String): String =
    s"round(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), 6)"

  /** One unrolled portable Lloyd round: assignment to `a${i-1}`,
    * per-(cell, dim) 6-decimal mean, renormalize, empty cells keep the
    * previous anchor — [[Kmeans.anchorsTrace]] in SQL.
    */
  private[operators] def sqlLloydRound(i: Int): String = {
    val prev = s"a${i - 1}"
    s"""asg$i AS (
       |  SELECT nd.vec_id, cell, ${sqlDotR6("nv", "c")} dot
       |  FROM nd CROSS JOIN $prev
       |  QUALIFY row_number() OVER (PARTITION BY nd.vec_id ORDER BY dot DESC, cell) = 1
       |), m$i AS (
       |  SELECT cell, t.i AS dim, round(avg(nv[t.i + 1]), 6) m
       |  FROM asg$i JOIN nd USING (vec_id), range(0, $Dim) t(i)
       |  GROUP BY cell, t.i
       |), a$i AS (
       |  SELECT $prev.cell,
       |         CASE WHEN mc IS NULL THEN $prev.c ELSE ${sqlUnit("mc")} END c
       |  FROM $prev LEFT JOIN (SELECT cell, list(m ORDER BY dim) mc
       |                        FROM m$i GROUP BY cell) g$i
       |    ON $prev.cell = g$i.cell
       |)""".stripMargin
  }

  /** One per-subspace PQ Lloyd round in SQL: squared-L2 assignment
    * (rounded 6, ties to the lowest code) over the double subvector
    * frame `subd`, per-(m, code, dim) means rounded 6, empty codes
    * keep the previous codeword — [[pqCodebook]]'s loop body.
    */
  private def sqlPqLloydRound(i: Int): String = {
    val prev = s"pcb${i - 1}"
    s"""pasg$i AS (
       |  SELECT s.vec_id, s.m, code,
       |    round(list_sum(list_transform(range(1, $PqSub + 1),
       |      i -> (s.sub[i] - c.c_sub[i]) * (s.sub[i] - c.c_sub[i]))), 6) d2
       |  FROM subd s JOIN $prev c USING (m)
       |  QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY d2, code) = 1
       |), pm$i AS (
       |  SELECT a.m, code, t.i AS dim, round(avg(s.sub[t.i + 1]), 6) mv
       |  FROM pasg$i a JOIN subd s ON a.vec_id = s.vec_id AND a.m = s.m,
       |       range(0, $PqSub) t(i)
       |  GROUP BY a.m, code, t.i
       |), pcb$i AS (
       |  SELECT p.m, p.code, CASE WHEN g.mc IS NULL THEN p.c_sub ELSE g.mc END c_sub
       |  FROM $prev p LEFT JOIN (SELECT m, code, list(mv ORDER BY dim) mc
       |                          FROM pm$i GROUP BY m, code) g
       |    ON p.m = g.m AND p.code = g.code
       |)""".stripMargin
  }

  private[operators] def sqlCos(a: String, b: String): String =
    s"""round(
       |      list_sum(list_transform(range(1, len($a) + 1),
       |               i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |      / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
       |               i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
       |       * sqrt(list_sum(list_transform(range(1, len($b) + 1),
       |               i -> $b[i]::DOUBLE * $b[i]::DOUBLE)))), 6)""".stripMargin

  // q_ann_ivf_hier's oracle IS the flat pipeline's SQL: the two-level
  // routing is bit-identical to flat assignment at these scales (the
  // point the CORRECTNESS gate then proves end to end); same contract
  // for the TRAINED two-level layout vs the flat trained pipeline
  val oracle: Map[String, String] = oracleBase +
    ("q_ann_ivf_hier" -> oracleBase("q_ann_ivf")) +
    ("q_ann_ivf_hier_kmeans" -> oracleBase("q_ann_ivf_kmeans")) +
    // the full composed layout: trained cells (unrolled Lloyd) +
    // trained PQ codebooks (unrolled subspace Lloyd) + the ADC/rerank
    // chain — each piece verbatim from its existing mirror; the FLAT
    // assignment here is what makes the hash gate re-prove hier ≡
    // flat on real data every run
    ("q_ann_ivf_hier_pq" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))) nrm
         |  FROM embeddings
         |), nd AS (
         |  SELECT vec_id,
         |    ${sqlUnit("list_transform(embedding, x -> x::DOUBLE)")} nv
         |  FROM e
         |), a0 AS (
         |  SELECT vec_id::BIGINT cell, nv c FROM nd WHERE vec_id < $IvfCells
         |), ${(1 to IvfKmeansIters).map(sqlLloydRound).mkString(", ")},
         |ms AS (SELECT unnest(range(0, $PqM)) m),
         |sub AS (
         |  SELECT vec_id, m, list_slice(embedding, m * $PqSub + 1, m * $PqSub + $PqSub) sub
         |  FROM e, ms
         |), subd AS (
         |  SELECT vec_id, m, list_transform(sub, x -> x::DOUBLE) sub FROM sub
         |), pcb0 AS (
         |  SELECT m, vec_id code, sub c_sub FROM subd WHERE vec_id < $PqK
         |), ${(1 to PqKmeansIters).map(sqlPqLloydRound).mkString(", ")},
         |cb AS (SELECT m, code, c_sub FROM pcb$PqKmeansIters),
         |enc AS (
         |  SELECT s.vec_id, s.m, code,
         |    round(list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> (s.sub[i]::DOUBLE - c.c_sub[i])
         |         * (s.sub[i]::DOUBLE - c.c_sub[i]))), 6) d2
         |  FROM sub s JOIN cb c USING (m)
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY d2, code) = 1
         |), lut AS (
         |  SELECT s.vec_id probe_id, s.m, c.code,
         |    CAST(round(list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> s.sub[i]::DOUBLE * c.c_sub[i])) * 1000000.0, 0) AS BIGINT) pdotq
         |  FROM sub s JOIN cb c USING (m)
         |  WHERE s.vec_id < $NProbes
         |), asg AS (
         |  SELECT e.vec_id, cell,
         |    round(list_sum(list_transform(range(1, len(embedding) + 1),
         |          i -> embedding[i]::DOUBLE * c[i])) / nrm, 6) ccos
         |  FROM e CROSS JOIN a$IvfKmeansIters
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |                             ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT e.vec_id probe_id, cell,
         |    round(list_sum(list_transform(range(1, len(embedding) + 1),
         |          i -> embedding[i]::DOUBLE * c[i])) / nrm, 6) ccos
         |  FROM e CROSS JOIN a$IvfKmeansIters WHERE e.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |                             ORDER BY ccos DESC, cell) <= $IvfProbeCells
         |), adc AS (
         |  SELECT pc.probe_id, asg.vec_id, sum(pdotq) qdot
         |  FROM asg JOIN pc USING (cell)
         |       JOIN enc ON enc.vec_id = asg.vec_id
         |       JOIN lut ON lut.probe_id = pc.probe_id
         |              AND lut.m = enc.m AND lut.code = enc.code
         |  WHERE asg.vec_id <> pc.probe_id
         |  GROUP BY 1, 2
         |), cand AS (
         |  SELECT a.probe_id, a.vec_id,
         |    round(a.qdot::DOUBLE / 1000000.0 / (c.nrm * p.nrm), 6) qcos
         |  FROM adc a JOIN e c ON c.vec_id = a.vec_id
         |             JOIN e p ON p.vec_id = a.probe_id
         |  QUALIFY row_number() OVER (PARTITION BY a.probe_id
         |                             ORDER BY qcos DESC, a.vec_id) <= $PqRerank
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, cand.qcos,
         |         ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, qcos, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin)

  private lazy val oracleBase: Map[String, String] = Map(
    "q_ivf_cell_stats" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), counts AS (SELECT cell, count(*) n FROM asg GROUP BY cell),
         |cz AS (
         |  SELECT cents.cell, coalesce(n, 0) n_members
         |  FROM cents LEFT JOIN counts ON cents.cell = counts.cell
         |), t AS (SELECT sum(n_members) tot FROM cz)
         |SELECT cell, n_members,
         |       round(n_members / tot::DOUBLE, 6) AS "share",
         |       round(n_members * $IvfCells / tot::DOUBLE, 6) balance
         |FROM cz CROSS JOIN t ORDER BY cell""".stripMargin,
    // the repair decision replayed end to end: assignment, heaviest-2
    // pick, farthest-member seeds, the parent-vs-seed re-decision —
    // same rounded-cosine discipline, same tie rules
    "q_ivf_rebalance" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), counts AS (SELECT cell, count(*) n_before FROM asg GROUP BY cell),
         |hot AS (
         |  SELECT cell FROM counts
         |  QUALIFY row_number() OVER (ORDER BY n_before DESC, cell) <= $RebalSplit
         |), wa AS (
         |  SELECT asg.cell, asg.vec_id, me.embedding,
         |         ${sqlCos("c_emb", "me.embedding")} cos_a
         |  FROM asg JOIN hot USING (cell) JOIN cents USING (cell)
         |       JOIN e me ON me.vec_id = asg.vec_id
         |), seeds AS (
         |  SELECT cell, vec_id seed_id FROM wa
         |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY cos_a, vec_id) = 1
         |), moved AS (
         |  SELECT wa.cell, any_value(seeds.seed_id) seed_id,
         |         sum(CASE WHEN ${sqlCos("se.embedding", "wa.embedding")} > wa.cos_a
         |             THEN 1 ELSE 0 END) n_moved
         |  FROM wa JOIN seeds USING (cell) JOIN e se ON se.vec_id = seeds.seed_id
         |  GROUP BY wa.cell
         |)
         |SELECT CAST(counts.cell AS INT) cell, CAST(counts.cell AS INT) parent,
         |       CAST(-1 AS BIGINT) seed_id, CAST(n_before AS BIGINT) n_before,
         |       CAST(n_before - coalesce(n_moved, 0) AS BIGINT) n_after
         |FROM counts LEFT JOIN moved ON counts.cell = moved.cell
         |UNION ALL
         |SELECT CAST(cell + $IvfCells AS INT), CAST(cell AS INT),
         |       CAST(seed_id AS BIGINT), CAST(0 AS BIGINT), CAST(n_moved AS BIGINT)
         |FROM moved
         |ORDER BY cell""".stripMargin,
    "q_ann_ivf_sq8" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (
         |  SELECT vec_id, qs, nrm,
         |         list_transform(embedding,
         |           x -> CAST(round(x::DOUBLE / qs, 0) AS BIGINT)) qv
         |  FROM (SELECT vec_id, embedding,
         |          greatest(list_max(list_transform(embedding,
         |            x -> abs(x::DOUBLE))), 1e-30) / 127.0 qs,
         |          sqrt(list_sum(list_transform(embedding,
         |            y -> y::DOUBLE * y::DOUBLE))) nrm
         |        FROM e)
         |), cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT p.vec_id probe_id, cell, ${sqlCos("c_emb", "p.embedding")} ccos
         |  FROM e p CROSS JOIN cents WHERE p.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY ccos DESC, cell) <= $IvfProbeCells
         |), cand AS (
         |  SELECT pc.probe_id, asg.vec_id,
         |    round(list_sum(list_transform(range(1, len(c.qv) + 1),
         |            i -> c.qv[i] * p.qv[i]))::DOUBLE
         |          * c.qs * p.qs / (c.nrm * p.nrm), 6) qcos
         |  FROM asg JOIN pc USING (cell)
         |       JOIN q c ON c.vec_id = asg.vec_id
         |       JOIN q p ON p.vec_id = pc.probe_id
         |  WHERE asg.vec_id <> pc.probe_id
         |  QUALIFY row_number() OVER (PARTITION BY pc.probe_id
         |                             ORDER BY qcos DESC, asg.vec_id) <= $Sq8Rerank
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, cand.qcos,
         |         ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, qcos, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_ann_sq8" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (
         |  SELECT vec_id, qs, nrm,
         |         list_transform(embedding,
         |           x -> CAST(round(x::DOUBLE / qs, 0) AS BIGINT)) qv
         |  FROM (SELECT vec_id, embedding,
         |          greatest(list_max(list_transform(embedding,
         |            x -> abs(x::DOUBLE))), 1e-30) / 127.0 qs,
         |          sqrt(list_sum(list_transform(embedding,
         |            y -> y::DOUBLE * y::DOUBLE))) nrm
         |        FROM e)
         |), cand AS (
         |  SELECT p.vec_id probe_id, c.vec_id,
         |    round(list_sum(list_transform(range(1, len(c.qv) + 1),
         |            i -> c.qv[i] * p.qv[i]))::DOUBLE
         |          * c.qs * p.qs / (c.nrm * p.nrm), 6) qcos
         |  FROM q c CROSS JOIN q p
         |  WHERE p.vec_id < $NProbes AND c.vec_id <> p.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
         |                             ORDER BY qcos DESC, c.vec_id) <= $Sq8Rerank
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, cand.qcos,
         |         ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, qcos, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_ann_ivf_pq" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))) nrm
         |  FROM embeddings
         |), ms AS (SELECT unnest(range(0, $PqM)) m),
         |sub AS (
         |  SELECT vec_id, m, list_slice(embedding, m * $PqSub + 1, m * $PqSub + $PqSub) sub
         |  FROM e, ms
         |), cb AS (
         |  SELECT m, vec_id code, sub c_sub FROM sub WHERE vec_id < $PqK
         |), enc AS (
         |  SELECT s.vec_id, s.m, code,
         |    round(list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> (s.sub[i]::DOUBLE - c.c_sub[i]::DOUBLE)
         |         * (s.sub[i]::DOUBLE - c.c_sub[i]::DOUBLE))), 6) d2
         |  FROM sub s JOIN cb c USING (m)
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY d2, code) = 1
         |), lut AS (
         |  SELECT s.vec_id probe_id, s.m, c.code,
         |    CAST(round(list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> s.sub[i]::DOUBLE * c.c_sub[i]::DOUBLE)) * 1000000.0, 0) AS BIGINT) pdotq
         |  FROM sub s JOIN cb c USING (m)
         |  WHERE s.vec_id < $NProbes
         |), cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT p.vec_id probe_id, cell, ${sqlCos("c_emb", "p.embedding")} ccos
         |  FROM e p CROSS JOIN cents WHERE p.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY ccos DESC, cell) <= $IvfProbeCells
         |), adc AS (
         |  SELECT pc.probe_id, asg.vec_id, sum(pdotq) qdot
         |  FROM asg JOIN pc USING (cell)
         |       JOIN enc ON enc.vec_id = asg.vec_id
         |       JOIN lut ON lut.probe_id = pc.probe_id
         |              AND lut.m = enc.m AND lut.code = enc.code
         |  WHERE asg.vec_id <> pc.probe_id
         |  GROUP BY 1, 2
         |), cand AS (
         |  SELECT a.probe_id, a.vec_id,
         |    round(a.qdot::DOUBLE / 1000000.0 / (c.nrm * p.nrm), 6) qcos
         |  FROM adc a JOIN e c ON c.vec_id = a.vec_id
         |             JOIN e p ON p.vec_id = a.probe_id
         |  QUALIFY row_number() OVER (PARTITION BY a.probe_id
         |                             ORDER BY qcos DESC, a.vec_id) <= $PqRerank
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, cand.qcos,
         |         ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, qcos, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_ann_pq" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))) nrm
         |  FROM embeddings
         |), ms AS (SELECT unnest(range(0, $PqM)) m),
         |sub AS (
         |  SELECT vec_id, m, list_slice(embedding, m * $PqSub + 1, m * $PqSub + $PqSub) sub
         |  FROM e, ms
         |), cb AS (
         |  SELECT m, vec_id code, sub c_sub FROM sub WHERE vec_id < $PqK
         |), enc AS (
         |  SELECT s.vec_id, s.m, code,
         |    round(list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> (s.sub[i]::DOUBLE - c.c_sub[i]::DOUBLE)
         |         * (s.sub[i]::DOUBLE - c.c_sub[i]::DOUBLE))), 6) d2
         |  FROM sub s JOIN cb c USING (m)
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY d2, code) = 1
         |), lut AS (
         |  SELECT s.vec_id probe_id, s.m, c.code,
         |    CAST(round(list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> s.sub[i]::DOUBLE * c.c_sub[i]::DOUBLE)) * 1000000.0, 0) AS BIGINT) pdotq
         |  FROM sub s JOIN cb c USING (m)
         |  WHERE s.vec_id < $NProbes
         |), adc AS (
         |  SELECT lut.probe_id, enc.vec_id, sum(pdotq) qdot
         |  FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.code
         |  GROUP BY 1, 2
         |), cand AS (
         |  SELECT a.probe_id, a.vec_id,
         |    round(a.qdot::DOUBLE / 1000000.0 / (c.nrm * p.nrm), 6) qcos
         |  FROM adc a JOIN e c ON c.vec_id = a.vec_id
         |             JOIN e p ON p.vec_id = a.probe_id
         |  WHERE a.vec_id <> a.probe_id
         |  QUALIFY row_number() OVER (PARTITION BY a.probe_id
         |                             ORDER BY qcos DESC, a.vec_id) <= $PqRerank
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, cand.qcos,
         |         ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, qcos, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_ann_pq_kmeans" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))) nrm
         |  FROM embeddings
         |), ms AS (SELECT unnest(range(0, $PqM)) m),
         |sub AS (
         |  SELECT vec_id, m, list_slice(embedding, m * $PqSub + 1, m * $PqSub + $PqSub) sub
         |  FROM e, ms
         |), subd AS (
         |  SELECT vec_id, m, list_transform(sub, x -> x::DOUBLE) sub FROM sub
         |), pcb0 AS (
         |  SELECT m, vec_id code, sub c_sub FROM subd WHERE vec_id < $PqK
         |), ${(1 to PqKmeansIters).map(sqlPqLloydRound).mkString(", ")},
         |cb AS (SELECT m, code, c_sub FROM pcb$PqKmeansIters),
         |enc AS (
         |  SELECT s.vec_id, s.m, code,
         |    round(list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> (s.sub[i]::DOUBLE - c.c_sub[i])
         |         * (s.sub[i]::DOUBLE - c.c_sub[i]))), 6) d2
         |  FROM sub s JOIN cb c USING (m)
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY d2, code) = 1
         |), lut AS (
         |  SELECT s.vec_id probe_id, s.m, c.code,
         |    CAST(round(list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> s.sub[i]::DOUBLE * c.c_sub[i])) * 1000000.0, 0) AS BIGINT) pdotq
         |  FROM sub s JOIN cb c USING (m)
         |  WHERE s.vec_id < $NProbes
         |), adc AS (
         |  SELECT lut.probe_id, enc.vec_id, sum(pdotq) qdot
         |  FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.code
         |  GROUP BY 1, 2
         |), cand AS (
         |  SELECT a.probe_id, a.vec_id,
         |    round(a.qdot::DOUBLE / 1000000.0 / (c.nrm * p.nrm), 6) qcos
         |  FROM adc a JOIN e c ON c.vec_id = a.vec_id
         |             JOIN e p ON p.vec_id = a.probe_id
         |  WHERE a.vec_id <> a.probe_id
         |  QUALIFY row_number() OVER (PARTITION BY a.probe_id
         |                             ORDER BY qcos DESC, a.vec_id) <= $PqRerank
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, cand.qcos,
         |         ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, qcos, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_quant_stats" ->
      """WITH ex AS (
        |  SELECT vec_id, embedding[t.i + 1]::DOUBLE x
        |  FROM embeddings, range(0, 64) t(i)
        |), s AS (
        |  SELECT vec_id, greatest(max(abs(x)), 1e-30) / 127.0 qs
        |  FROM ex GROUP BY vec_id
        |)
        |SELECT vec_id,
        |       round(min(qs), 6) qscale,
        |       round(sqrt(avg(pow(x - round(x / qs, 0) * qs, 2))), 6) rmse,
        |       round(max(abs(x - round(x / qs, 0) * qs)), 6) max_err
        |FROM ex JOIN s USING (vec_id)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_ann_ivf_filtered_preflight" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, e.label, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), counts AS (
         |  SELECT cell, label, count(*) n FROM asg GROUP BY cell, label
         |), wt AS (
         |  SELECT cell, label, n,
         |         CAST(sum(n) OVER (PARTITION BY cell) AS BIGINT) n_cell
         |  FROM counts
         |)
         |SELECT cell, label, n, n_cell,
         |       round(n / CAST(n_cell AS DOUBLE), 6) AS "share"
         |FROM wt ORDER BY cell, label""".stripMargin,
    // exact-filtered truth vs the IVF-filtered mirror, same label
    // predicate on both arms — the filtered twin of q_ann_recall.
    // `dial` recomputes the Spark side's integer adaptive-nprobe rule
    // (smallest np in [nprobe..cells] with np²·n_label ≥ nprobe²·n_total)
    // from the same label counts, so the dial is hash-checked too.
    "q_ann_filtered_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |p AS (SELECT vec_id probe_id, embedding probe_emb, label p_label
         |      FROM e WHERE vec_id < $NProbes),
         |xs AS (
         |  SELECT p.probe_id, e.vec_id, ${sqlCos("p.probe_emb", "e.embedding")} cos
         |  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id AND e.label = p.p_label
         |), exact AS (
         |  SELECT probe_id, vec_id FROM xs
         |  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) <= $K
         |),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |lab AS (
         |  SELECT label, count(*) n_label, (SELECT count(*) FROM e) n_total
         |  FROM e GROUP BY 1
         |), dial AS (
         |  SELECT label, min(t.i) np
         |  FROM lab, range($IvfProbeCells, ${IvfCells + 1}) t(i)
         |  WHERE t.i * t.i * n_label >= ${IvfProbeCells * IvfProbeCells} * n_total
         |     OR t.i = $IvfCells
         |  GROUP BY label
         |),
         |asg AS (
         |  SELECT e.vec_id, e.label, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT p.vec_id probe_id, p.label p_label, cell, ${sqlCos("c_emb", "p.embedding")} ccos
         |  FROM e p CROSS JOIN cents JOIN dial ON dial.label = p.label
         |  WHERE p.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY ccos DESC, cell) <= dial.np
         |), cand AS (
         |  SELECT pc.probe_id, asg.vec_id
         |  FROM asg JOIN pc USING (cell)
         |  WHERE asg.vec_id <> pc.probe_id AND asg.label = pc.p_label
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |), approx AS (
         |  SELECT probe_id, vec_id FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) <= $K
         |), h AS (
         |  SELECT exact.probe_id, count(*) n
         |  FROM exact JOIN approx USING (probe_id, vec_id) GROUP BY 1
         |)
         |SELECT pr.probe_id, CAST(pr.n_exact AS BIGINT) n_exact,
         |       CAST(coalesce(n, 0) AS BIGINT) n_hits,
         |       round(coalesce(n, 0) / pr.n_exact::DOUBLE, 6) recall
         |FROM (SELECT probe_id, count(*) n_exact FROM exact GROUP BY 1) pr
         |     LEFT JOIN h USING (probe_id)
         |ORDER BY probe_id""".stripMargin,
    // the IVF mirror + the same per-probe label predicate on the
    // candidate stream (before scoring), exactly as the Spark plan;
    // `dial` mirrors the integer per-label adaptive-nprobe rule
    "q_ann_ivf_filtered" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |lab AS (
         |  SELECT label, count(*) n_label, (SELECT count(*) FROM e) n_total
         |  FROM e GROUP BY 1
         |), dial AS (
         |  SELECT label, min(t.i) np
         |  FROM lab, range($IvfProbeCells, ${IvfCells + 1}) t(i)
         |  WHERE t.i * t.i * n_label >= ${IvfProbeCells * IvfProbeCells} * n_total
         |     OR t.i = $IvfCells
         |  GROUP BY label
         |),
         |asg AS (
         |  SELECT e.vec_id, e.label, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT p.vec_id probe_id, p.label p_label, cell, ${sqlCos("c_emb", "p.embedding")} ccos
         |  FROM e p CROSS JOIN cents JOIN dial ON dial.label = p.label
         |  WHERE p.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY ccos DESC, cell) <= dial.np
         |), cand AS (
         |  SELECT pc.probe_id, asg.vec_id
         |  FROM asg JOIN pc USING (cell)
         |  WHERE asg.vec_id <> pc.probe_id AND asg.label = pc.p_label
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT p.vec_id probe_id, cell, ${sqlCos("c_emb", "p.embedding")} ccos
         |  FROM e p CROSS JOIN cents WHERE p.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY ccos DESC, cell) <= $IvfProbeCells
         |), cand AS (
         |  SELECT pc.probe_id, asg.vec_id
         |  FROM asg JOIN pc USING (cell)
         |  WHERE asg.vec_id <> pc.probe_id
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    // the cut+compact+search composition end to end: the SAME md5 op
    // rule and newest-wins head window as the CDC oracles decide the
    // dead set; the live corpus then runs the q_ann_ivf chain verbatim
    // (anchors, probes and candidates all post-compaction)
    "q_ann_ivf_compacted" ->
      s"""WITH dead AS (
         |  SELECT user_id AS vec_id FROM (
         |    SELECT user_id,
         |      CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0 THEN 'd'
         |           WHEN event_type = 'signup' THEN 'c'
         |           ELSE 'u' END AS op
         |    FROM events
         |    QUALIFY row_number() OVER (PARTITION BY user_id
         |              ORDER BY epoch_ns(ts) DESC, event_id DESC) = 1)
         |  WHERE op = 'd'
         |), e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id NOT IN (SELECT vec_id FROM dead)
         |),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT p.vec_id probe_id, cell, ${sqlCos("c_emb", "p.embedding")} ccos
         |  FROM e p CROSS JOIN cents WHERE p.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY ccos DESC, cell) <= $IvfProbeCells
         |), cand AS (
         |  SELECT pc.probe_id, asg.vec_id
         |  FROM asg JOIN pc USING (cell)
         |  WHERE asg.vec_id <> pc.probe_id
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_ann_ivf_kmeans" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |nd AS (
         |  SELECT vec_id,
         |    ${sqlUnit("list_transform(embedding, x -> x::DOUBLE)")} nv
         |  FROM e
         |), a0 AS (
         |  SELECT vec_id::BIGINT cell, nv c FROM nd WHERE vec_id < $IvfCells
         |), ${(1 to IvfKmeansIters).map(sqlLloydRound).mkString(", ")},
         |corpus AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))) nrm
         |  FROM e
         |), asg AS (
         |  SELECT corpus.vec_id, cell,
         |    round(list_sum(list_transform(range(1, len(embedding) + 1),
         |          i -> embedding[i]::DOUBLE * c[i])) / nrm, 6) ccos
         |  FROM corpus CROSS JOIN a$IvfKmeansIters
         |  QUALIFY row_number() OVER (PARTITION BY corpus.vec_id
         |                             ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT corpus.vec_id probe_id, cell,
         |    round(list_sum(list_transform(range(1, len(embedding) + 1),
         |          i -> embedding[i]::DOUBLE * c[i])) / nrm, 6) ccos
         |  FROM corpus CROSS JOIN a$IvfKmeansIters WHERE corpus.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY corpus.vec_id
         |                             ORDER BY ccos DESC, cell) <= $IvfProbeCells
         |), cand AS (
         |  SELECT pc.probe_id, asg.vec_id
         |  FROM asg JOIN pc USING (cell)
         |  WHERE asg.vec_id <> pc.probe_id
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |${Vectors.sqlHyperplaneSigsCte("e", LshBands, LshBits, Dim)},
         |cand AS (
         |  SELECT DISTINCT p.vec_id probe_id, c.vec_id
         |  FROM sigs c JOIN sigs p ON c.band = p.band AND c.sig = p.sig
         |  WHERE p.vec_id < $NProbes AND c.vec_id <> p.vec_id
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id,
         |    round(
         |      list_sum(list_transform(range(1, len(pe.embedding) + 1),
         |               i -> pe.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(range(1, len(pe.embedding) + 1),
         |               i -> pe.embedding[i]::DOUBLE * pe.embedding[i]::DOUBLE)))
         |       * sqrt(list_sum(list_transform(range(1, len(ce.embedding) + 1),
         |               i -> ce.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE)))), 6) cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |)
         |SELECT probe_id, vec_id, cos,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
         |FROM scored QUALIFY rnk <= $K ORDER BY probe_id, rnk""".stripMargin,
    "q_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |p AS (SELECT vec_id probe_id, embedding probe_emb FROM e WHERE vec_id < $NProbes),
         |xs AS (
         |  SELECT p.probe_id, e.vec_id, ${sqlCos("p.probe_emb", "e.embedding")} cos
         |  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id
         |), exact AS (
         |  SELECT probe_id, vec_id FROM xs
         |  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) <= $K
         |),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT p.vec_id probe_id, cell, ${sqlCos("c_emb", "p.embedding")} ccos
         |  FROM e p CROSS JOIN cents WHERE p.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY ccos DESC, cell) <= $IvfProbeCells
         |), cand AS (
         |  SELECT pc.probe_id, asg.vec_id
         |  FROM asg JOIN pc USING (cell)
         |  WHERE asg.vec_id <> pc.probe_id
         |), scored AS (
         |  SELECT cand.probe_id, cand.vec_id, ${sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |), approx AS (
         |  SELECT probe_id, vec_id FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) <= $K
         |), h AS (
         |  SELECT exact.probe_id, count(*) n
         |  FROM exact JOIN approx USING (probe_id, vec_id) GROUP BY 1
         |)
         |SELECT pr.probe_id, CAST(pr.n_exact AS BIGINT) n_exact,
         |       CAST(coalesce(n, 0) AS BIGINT) n_hits,
         |       round(coalesce(n, 0) / pr.n_exact::DOUBLE, 6) recall
         |FROM (SELECT probe_id, count(*) n_exact FROM exact GROUP BY 1) pr
         |     LEFT JOIN h USING (probe_id)
         |ORDER BY probe_id""".stripMargin,
    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id probe_id, embedding probe_emb FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    round(
        |      list_sum(list_transform(range(1, len(p.probe_emb) + 1),
        |               i -> p.probe_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(range(1, len(p.probe_emb) + 1),
        |               i -> p.probe_emb[i]::DOUBLE * p.probe_emb[i]::DOUBLE)))
        |       * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |               i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) cos
        |  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id
        |)
        |SELECT probe_id, vec_id, cos,
        |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) rnk
        |FROM scored QUALIFY rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    "q_embedding_stats" ->
      """SELECT label, CAST(t.i AS INT) dim, count(*) n,
        |  round(avg(embedding[t.i + 1]::DOUBLE), 6) mean,
        |  round(min(embedding[t.i + 1]::DOUBLE), 6) mn,
        |  round(max(embedding[t.i + 1]::DOUBLE), 6) mx
        |FROM embeddings, range(0, 64) t(i)
        |GROUP BY label, t.i ORDER BY label, dim""".stripMargin,
    "q_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |nn AS (
         |  SELECT p.vec_id probe_id, c.label,
         |         ${sqlCos("p.embedding", "c.embedding")} cos, c.vec_id
         |  FROM e p JOIN e c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < $NProbes
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
         |                             ORDER BY cos DESC, c.vec_id) <= $K
         |), v AS (
         |  SELECT probe_id, label, count(*) n_votes FROM nn GROUP BY probe_id, label
         |), pred AS (
         |  SELECT probe_id, label pred_label, n_votes FROM v
         |  QUALIFY row_number() OVER (PARTITION BY probe_id
         |                             ORDER BY n_votes DESC, label) = 1
         |)
         |SELECT probe_id, pred_label, n_votes, e.label true_label,
         |       CAST(pred_label = e.label AS INT) correct
         |FROM pred JOIN e ON e.vec_id = pred.probe_id
         |ORDER BY probe_id""".stripMargin,
    "q_cluster_purity" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT e.vec_id, cell, e.label, ${sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), counts AS (
         |  SELECT cell, label, count(*) n FROM asg GROUP BY cell, label
         |), tot AS (
         |  SELECT cell, sum(n) n_members, count(*) n_labels FROM counts GROUP BY cell
         |), maj AS (
         |  SELECT cell, label maj_label, n n_majority FROM counts
         |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) = 1
         |)
         |SELECT cell, CAST(n_members AS BIGINT) n_members, n_labels,
         |       maj_label, n_majority,
         |       round(n_majority / n_members::DOUBLE, 6) purity
         |FROM tot JOIN maj USING (cell) ORDER BY cell""".stripMargin)
}
