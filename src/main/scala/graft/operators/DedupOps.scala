package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Hashing
import graft.sources.Tables

/** §2.G — the deduplication suite over `documents` / `embeddings`.
  *
  * Design rules for 100 TB:
  *   - Pair generation in every REGISTERED query is *blocked* (shingle
  *     inverted index, hyperplane-LSH band buckets, simhash band
  *     buckets) — never an unblocked cross join over the corpus. The
  *     single all-pairs form ([[dedupEmbeddingAllPairs]]) exists only
  *     as the recall baseline the test suite compares against.
  *   - Hot blocking keys are df-capped: a shingle shared by d docs
  *     yields d²/2 candidate pairs, so keys with document frequency
  *     above the cap are dropped from blocking (standard near-dup
  *     practice; the cap is mirrored in the oracle SQL).
  *   - All signatures are built on md5 (identical hex in Spark and
  *     DuckDB), so even the probabilistic pipelines (MinHash-LSH,
  *     SimHash) are *bit-for-bit reproducible* in the oracle: the SQL
  *     mirrors the algorithm, not just its intent.
  *   - Candidates found by LSH are verified with the exact measure
  *     before output, so LSH only prunes, never invents.
  *   - Where the blocking key IS the similarity unit (the shingle
  *     suites), verification is ARITHMETIC: the aggregated per-pair
  *     co-count is already |sh1 ∩ sh2|, so shingle arrays never ride
  *     the pair shuffle; only pairs where BOTH docs dropped hot
  *     shingles fall back to exact array verification.
  */
object DedupOps {

  private[graft] val ShingleK = 3
  private[operators] val JaccardThreshold = 0.6

  /** Blocking keys with document frequency above this are dropped from
    * candidate generation (NOT from verification sets): a shingle
    * shared by d docs contributes d²/2 candidate pairs, so one
    * boilerplate phrase in a web-scale corpus would otherwise go
    * quadratic. 1000 never binds on testdata (max df 25 at sf0.1);
    * pairs whose every shared shingle is hotter than the cap are the
    * documented recall cost.
    */
  private[operators] val DfCap = 1000

  private def toks(c: Column): Column = split(c, " ")

  private[graft] def shingleSet(c: Column): Column =
    array_distinct(Hashing.shingles(toks(c), ShingleK))

  /** Exact dedup: md5 content key, keep the lowest doc_id per group. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), Hashing.contentKey(col("text")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("h"))
  }

  private[operators] val WinnowK = 24        // char k-gram width (~4 words)
  private[operators] val WinnowW = 8         // winnowing window (in grams)
  private[operators] val WinnowMinShared = 2 // pair evidence threshold
  private[operators] val WinnowDfCap = 200   // boilerplate fingerprint cap

  /** Substring-level duplication candidates via WINNOWING fingerprints
    * (Schleimer et al. 2003, the MOSS selector) — the dedup axis the
    * doc-level family cannot see: two documents that are globally
    * different but share one long pasted passage (the exact-substring
    * duplication of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"). Per document: md5 char
    * [[WinnowK]]-gram hashes, the lexicographic MIN of each
    * [[WinnowW]]-gram sliding window is a selected fingerprint
    * (distinct per doc). The classic guarantee: ANY shared substring
    * of length ≥ k + w − 1 (31 chars here) contains a full common
    * hash window on both sides, so its min is a SHARED fingerprint —
    * detection is structural, not probabilistic (spec-pinned with a
    * planted passage). Pairs sharing ≥ [[WinnowMinShared]] distinct
    * fingerprints are reported with the evidence count.
    *
    * 100 TB shape: fingerprint density is ~1/w of gram count, so the
    * inverted index is O(corpus chars / w); candidate generation is
    * the df-capped self-join discipline of [[dedupNgram]] (a
    * boilerplate fingerprint shared by d docs is d² pair work and
    * zero signal); per-doc gram work is O(len · w) inside one scan,
    * no window functions, no pair-side text.
    */
  def winnowDedup(spark: SparkSession, dir: String): DataFrame = {
    val fp = winnowPostings(Tables.documents(spark, dir))
    val hot = fp.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > WinnowDfCap).select("s")
    val kept = fp.join(broadcast(hot), Seq("s"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.k") < col("b.k"))
      .groupBy(col("a.k").as("d1"), col("b.k").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
  }

  /** Winnow fingerprint postings `(k = doc_id, s = fingerprint)`,
    * distinct per doc — the shared input of [[winnowDedup]] and
    * [[winnowPreflight]]. The whole selector (md5 char k-grams →
    * sliding window-min → distinct) evaluates as ONE codegen'd node
    * ([[graft.plans.TextExpressions.WinnowFingerprintsExpr]]) and is
    * projected ONCE below a [[repartByKey]] barrier, so exchange
    * reuse shares the single evaluation across every consumer (the
    * df aggregation and both self-join sides) — the r12 formulation
    * re-ran an interpreted per-char md5 HOF pipeline per consumer
    * (615 s of the 702 s bench at sf0.1).
    */
  private def winnowPostings(docs: DataFrame): DataFrame = {
    val minLen = WinnowK + WinnowW - 1
    docs
      .select(col("doc_id"), col("text"))
      // isnotnull(doc_id) EXPLICITLY, even though the pair join would
      // infer it: the inferred predicate is pushed below the exchanges
      // only on the join branches, making their exchange subtrees
      // canonically different from the df-aggregation branch's — four
      // separate scan stages instead of one reused exchange
      // (PlanGuardsSpec pins the one-evaluation contract)
      .filter(col("doc_id").isNotNull && length(col("text")) >= minLen)
      // parallelism barrier BELOW the md5 loop: per-doc gram hashing is
      // CPU-bound at ~1 md5 per char, so its parallelism must not be
      // hostage to the input's file/row-group layout (the bench corpus
      // is one row group = one scan task). Payload is the raw doc
      // rows — one linear pass, hash-balanced on the unique key. A
      // deployment whose corpus is already thousands of splits can
      // drop this and let the scan parallelize the loop.
      .transform(repartByKey(_, col("doc_id")))
      .select(col("doc_id").as("k"),
        graft.plans.TextExpressions
          .winnowPostingsNative(col("text"), WinnowK, WinnowW).as("s"))
      // shared barrier ABOVE the generator, keyed on the fingerprint:
      // every consumer reuses the one exchange AND is already aligned
      // on s — the df aggregation and the pair self-join plan with no
      // further shuffle of the postings
      .transform(repartByKey(_, col("s")))
  }

  /** Pair-stage pre-flight for [[winnowDedup]] — the go/no-go twin of
    * [[lshBucketStats]] for the winnow axis: the fingerprint
    * document-frequency histogram in power-of-two bands, split at the
    * df-cap, with the EXACT candidate-pair bound Σ df·(df−1)/2 per
    * band. The kept-band bound is exactly the self-join's pre-aggregation
    * row count (spec-pinned), so a pipeline reads this before paying
    * for the pair stage; the dropped-band bound is the quadratic work
    * the cap saved. Band = ⌊log2 df⌋ via binary-digit length — exact
    * integer arithmetic on both engines, no float log.
    */
  def winnowPreflight(spark: SparkSession, dir: String): DataFrame =
    winnowPreflightFrame(winnowPostings(Tables.documents(spark, dir)))

  private[operators] def winnowPreflightFrame(postings: DataFrame): DataFrame =
    postings.groupBy("s").agg(count(lit(1)).as("df"))
      .withColumn("band", (length(conv(col("df"), 10, 2)) - 1).cast("long"))
      .withColumn("kept", col("df") <= WinnowDfCap)
      .groupBy("band", "kept")
      .agg(
        count(lit(1)).as("n_fp"),
        sum(col("df")).as("n_postings"),
        sum(expr("df * (df - 1) DIV 2")).as("pair_bound"))
      .orderBy("band", "kept")

  /** n-gram (3-token shingle) Jaccard near-dup pairs: df-capped
    * inverted-index blocking generates candidates, whose measure is
    * recovered ARITHMETICALLY — the blocking key IS the shingle, so
    * the aggregated per-pair co-count is already |sh1 ∩ sh2|. Shingle
    * arrays never ride the pair shuffle: only pairs where BOTH docs
    * touched a dropped hot shingle (a dropped shared shingle is hot
    * on both sides by definition) fall back to exact full-set
    * verification; that set is empty below the cap.
    */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    dedupNgramFrame(Tables.documents(spark, dir).select(col("doc_id"), col("text")), DfCap)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))

  /** Shared pair-intersection engine behind [[dedupNgramFrame]] and
    * [[dedupContainmentFrame]]: df-capped inverted-index candidates
    * with EXACT `inter = |sh1 ∩ sh2|` per (d1 < d2) pair — arithmetic
    * co-count for pairs where at most one side touched a dropped hot
    * shingle (a dropped SHARED shingle is hot on both sides by
    * definition, so the kept co-count is the full intersection), exact
    * array verification only where both sides are tainted. Returns
    * (d1, d2, inter, n1, n2): every set-overlap measure — Jaccard,
    * containment, overlap coefficient — is arithmetic over these, so
    * shingle arrays never ride the pair shuffle.
    */
  private def pairCoCounts(docs: DataFrame, dfCap: Int): DataFrame = {
    // the winnowPostings discipline: a doc-keyed parallelism barrier
    // BELOW the shingle generator (gram work never hostage to file
    // layout), the streamed generator itself (no per-doc array, and no
    // InferFiltersFromGenerate guards for predicate pushdown to
    // substitute into the scan — the array+filter shape re-ran the
    // shingle transform 3× per row there, 4× slower end-to-end at the
    // sf1.0 slice), and a SHARED s-keyed barrier above it that every
    // consumer reuses, already aligned for the df aggregation and the
    // pair self-join. isnotnull(doc_id) EXPLICITLY below both
    // exchanges so no consumer's inferred predicate breaks canonical
    // equality (PlanGuardsSpec pins one evaluation site).
    // r20: the posting index is pinned — ONE evaluation of the
    // shingle generator. Its consumers (the df aggregate, the
    // anti-joined kept stream feeding BOTH self-join sides, the
    // tainted lookup, the per-doc meta counts) prune and filter
    // differently, so each re-ran the scan + shingle explode without
    // the pin (r20 stage profile:
    // 4-5 full-width re-executions at ~1-1.8 s each inside one
    // query). Materializing the inverted index is the established
    // state shape here — contamIncremental pins its posting indexes
    // the same way, and a deployment keeps exactly this index between
    // runs.
    val ex = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .transform(repartByKey(_, col("doc_id")))
      .select(col("doc_id").as("k"),
        graft.plans.TextExpressions
          .shinglePostingsNative(toks(col("text")), ShingleK).as("s"))
      .transform(repartByKey(_, col("s")))
      .transform(materialize)
    // hot keys via aggregation + broadcast anti-join — the hot set is
    // tiny, so no per-key window sort of the exploded shingle stream
    val hot = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("s")
    val kept = ex.join(broadcast(hot), Seq("s"), "left_anti")
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.k") < col("b.k"))
      .groupBy(col("a.k").as("d1"), col("b.k").as("d2"))
      .agg(count(lit(1)).as("inter"))
    val tainted = ex.join(broadcast(hot), Seq("s")).select(col("k")).distinct()
    // per-doc distinct-shingle count ≡ size(shingleSet): the postings
    // are distinct per doc by construction, so n is a count aggregate
    // over the SAME shared exchange — no second shingle evaluation
    val meta = ex.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .withColumnRenamed("k", "doc_id")
      .join(tainted.withColumnRenamed("k", "doc_id").withColumn("tf", lit(1)),
        Seq("doc_id"), "left")
    val m = pairs
      .join(meta.select(col("doc_id").as("d1"), col("n").as("n1"), col("tf").as("tf1")), "d1")
      .join(meta.select(col("doc_id").as("d2"), col("n").as("n2"), col("tf").as("tf2")), "d2")
    val clean = m.filter(col("tf1").isNull || col("tf2").isNull)
    // exact verification arrays ONLY for the both-tainted pairs — a
    // semi-filtered recompute over that tiny survivor set, never a
    // corpus-wide array table (the verifyPairs discipline); the set is
    // empty below the cap, so the recompute usually scans nothing
    val dirtyPairs = m.filter(col("tf1").isNotNull && col("tf2").isNotNull)
    val dirtyIds = dirtyPairs
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    val dArr = docs.join(dirtyIds, Seq("doc_id"), "left_semi")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), shingleSet(col("text")).as("sh"))
    val dirty = dirtyPairs
      .join(dArr.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(dArr.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
    clean.select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"))
      .union(dirty.select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2")))
  }

  /** Frame-based core of [[dedupNgram]]: `docs` must carry
    * (doc_id, text). Exposed within the package so specs can feed
    * synthetic hot-key corpora.
    */
  private[operators] def dedupNgramFrame(docs: DataFrame, dfCap: Int): DataFrame =
    pairCoCounts(docs, dfCap)
      .withColumn("jac",
        col("inter") / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("d1"), col("d2"), col("jac"))

  private[operators] val ContainmentThreshold = 0.8

  /** Containment near-dup — the ASYMMETRIC overlap measure Jaccard
    * misses on size-mismatched pairs: a 100-shingle excerpt fully
    * embedded in a 2000-shingle page has Jaccard ≈ 0.05 but
    * containment C(excerpt→page) = |S_a ∩ S_b| / |S_a| = 1.0. The
    * standard quote/excerpt/mirror-fragment detector a curation
    * pipeline runs beside symmetric near-dup. Directed: one row per
    * (src, dst) with C(src→dst) ≥ [[ContainmentThreshold]].
    *
    * 100 TB: identical cost shape to [[dedupNgram]] — the pair engine
    * is shared ([[pairCoCounts]]), containment is arithmetic over
    * (inter, n_src), and the two directions of a pair are derived from
    * ONE undirected co-count row, not generated twice.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    dedupContainmentFrame(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")), DfCap)
      .select(col("src"), col("dst"), round(col("cont"), 6).as("cont"))

  /** Frame-based core of [[dedupContainment]] (spec entry point). */
  private[operators] def dedupContainmentFrame(docs: DataFrame, dfCap: Int): DataFrame =
    // both directions from ONE evaluation of the pair engine: a
    // two-element explode, not a union of two selects over the same
    // subtree (which would run the co-count pipeline twice)
    pairCoCounts(docs, dfCap)
      .select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst"),
          (col("inter") / col("n1").cast("double")).as("cont")),
        struct(col("d2").as("src"), col("d1").as("dst"),
          (col("inter") / col("n2").cast("double")).as("cont")))).as("x"))
      .select(col("x.src").as("src"), col("x.dst").as("dst"), col("x.cont").as("cont"))
      .filter(col("cont") >= ContainmentThreshold)

  /** Qualifying pair EDGES only — the [[dedupNgramFrame]] pipeline
    * minus the presentation sort/rounding, for consumers (connected
    * components) that treat the pairs as an unordered edge set.
    */
  private[operators] def dedupNgramEdges(spark: SparkSession, dir: String): DataFrame =
    dedupNgramFrame(Tables.documents(spark, dir).select(col("doc_id"), col("text")), DfCap)
      .select(col("d1"), col("d2"))

  private[graft] val Bands = 4
  private[graft] val Rows = 2

  /** MinHash + LSH banding: md5-string minhashes → band keys → bucket
    * join for candidates → exact-Jaccard verification. The oracle SQL
    * reproduces the identical signatures, so this probabilistic
    * pipeline is still hash-checked end to end.
    */
  /** (doc_id, band, key) rows of the minhash banding over `docs` —
    * the blocking structure [[dedupMinhash]] joins on and
    * [[lshBucketStats]] audits. Minhash via a streamed shingle
    * generator → keyed min-aggregation: the 8-seed md5 mins (the
    * dominant compute, ~8 digests per posting row) run codegen'd on
    * flat rows, and the doc-keyed repartition spreads the corpus
    * across cores regardless of file layout. The band rows end at a
    * (band, key)-keyed barrier: the candidate self-join's two sides
    * and the bucket-stats aggregation all REUSE that one exchange —
    * without it, each consumer re-ran the whole signature aggregation
    * (the r13 audit found the 8-md5-per-posting agg executing twice
    * in q_dedup_minhash's final plan).
    */
  /** Per-doc minhash signature columns (doc_id, mh0..mh7): the 8-seed
    * md5 mins over the streamed shingle postings — the shared
    * signature stage under [[minhashBandRows]] and
    * [[minhashEstError]]. Docs with no 3-token shingle produce no
    * posting rows and are absent, mirroring the oracles'
    * `len(sh) > 0`.
    */
  private[operators] def minhashSigs(docs: DataFrame): DataFrame = {
    val exploded = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .transform(repartByKey(_, col("doc_id")))
      .select(col("doc_id"),
        graft.plans.TextExpressions
          .shinglePostingsNative(toks(col("text")), ShingleK).as("s"))
    val mhCols = (0 until Bands * Rows).map(j =>
      min(md5(concat(lit(s"$j:"), col("s")).cast("binary"))).as(s"mh$j"))
    exploded.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
  }

  /** The [[Bands]] band keys of a signature row, in band order. */
  private def bandKeyCols: Seq[Column] = (0 until Bands).map(b =>
    md5(concat_ws("|", col(s"mh${b * Rows}"), col(s"mh${b * Rows + 1}")).cast("binary")))

  private[operators] def minhashBandRows(docs: DataFrame): DataFrame =
    minhashSigs(docs)
      .select(col("doc_id"), posexplode(array(bandKeyCols: _*)).as(Seq("band", "key")))
      .transform(repartByKey(_, col("band"), col("key")))

  /** Frame-based core of [[dedupMinhash]]: band-blocked candidates →
    * exact-Jaccard verify over `docs` (doc_id, text).
    */
  private[operators] def dedupMinhashFrame(docs: DataFrame): DataFrame = {
    // r20: ONE evaluation of the 8-md5-per-posting signature
    // aggregation — the self-join's two sides rename doc_id, so their
    // exchanges never canonicalize equal and the signature stage ran
    // once per side; the band rows are slim (doc_id, band, key)
    val bandRows = minhashBandRows(docs).transform(materialize)
    val cand = bandRows.as("a").join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    // verifyPairs dedupes the per-band repeats before the shingle join
    verifyPairs(cand, docs)
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashFrame(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** 1-in-[[RecallSampleMod]] deterministic content-hash sample. */
  private[operators] val RecallSampleMod = 2

  /** MinHash recall probe — the QUALITY side of the banding dial,
    * paired with [[lshBucketStats]] (the COST side): on a
    * deterministic content-hash sample of the corpus, the minhash-LSH
    * verified pairs are compared against the blocked-exact ngram
    * truth, reporting truth/found/hit counts, recall, and the extras
    * minhash reaches that df-capped blocking cannot (a hot-gram
    * telemetry in its own right). Sampling is the point: at 100 TB
    * the exact truth is affordable over a sample, never the corpus,
    * and bands × rows get re-dialed until sampled recall clears the
    * bar — the same discipline as q_ann_recall on the vector side.
    */
  def minhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .filter(graft.functions.Hashing.hex32(col("text")) % RecallSampleMod === 0)
    val truth = dedupNgramFrame(docs, DfCap)
      .select(col("d1"), col("d2")).withColumn("t", lit(1))
    val found = dedupMinhashFrame(docs)
      .select(col("d1"), col("d2")).withColumn("f", lit(1))
    truth.join(found, Seq("d1", "d2"), "full_outer")
      .agg(
        count(col("t")).as("n_truth"),
        count(col("f")).as("n_found"),
        coalesce(sum(when(col("t").isNotNull && col("f").isNotNull, 1L)), lit(0L)).as("n_hit"))
      .select(
        col("n_truth"), col("n_found"), col("n_hit"),
        when(col("n_truth") > 0,
          round(col("n_hit") / col("n_truth").cast("double"), 6)).as("recall"),
        (col("n_found") - col("n_hit")).as("n_extra"))
  }

  /** MinHash estimator-quality audit — the third dial of the banding
    * instrument cluster beside [[minhashRecall]] (completeness) and
    * [[lshBucketStats]] (cost): per LSH candidate pair, the
    * signature-estimated Jaccard (matching components / [[Bands]]·
    * [[Rows]]) against the exact shingle Jaccard, with the absolute
    * error. An 8-hash signature estimates Jaccard with σ =
    * √(j(1−j)/8) ≈ 0.17 — this query MEASURES the realized error on
    * this corpus, the audit a deployment runs before trusting
    * signature-only (verify-free) dedup at a tighter threshold.
    *
    * Plan: the signature aggregation evaluates ONCE — band keys AND
    * signature columns ride the same (band, key)-barriered rows into
    * the self-join, so the estimate needs no second signature join;
    * the exact-Jaccard stage shingles only candidate survivors (the
    * [[verifyPairs]] semi-join discipline). 100 TB: identical blocked
    * cost shape to [[dedupMinhash]] plus 8 hex columns riding the
    * band shuffle.
    */
  def minhashEstError(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val sigCols = (0 until Bands * Rows).map(c => col(s"mh$c"))
    val br = minhashSigs(docs)
      .select(col("doc_id") +: sigCols :+
        posexplode(array(bandKeyCols: _*)).as(Seq("band", "key")): _*)
      .transform(repartByKey(_, col("band"), col("key")))
      // r20: the dedupMinhashFrame materialization rationale — one
      // evaluation of the signature aggregation for the self-join's
      // two differently-renamed sides
      .transform(materialize)
    val nMatch = (0 until Bands * Rows).map(j =>
      when(col(s"a.mh$j") === col(s"b.mh$j"), 1L).otherwise(0L)).reduce(_ + _)
    val cand = br.as("a").join(br.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"), nMatch.as("n_match"))
      .groupBy("d1", "d2") // per-band repeats carry identical sigs
      .agg(max(col("n_match")).as("n_match"))
      // r20: pinned — the survivor-shingle checkpoint below is a
      // separate execution (the verifyPairs rationale)
      .transform(materialize)
    val ids = cand.select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    // the verifyPairs parallelism barrier (see there): the broadcast
    // semi join folds into the single-row-group scan task, which
    // otherwise shingles every candidate doc serially (r19 stage
    // profile: two ~1.6 s single-task stages in this query)
    val d = docs.join(ids, Seq("doc_id"), "left_semi")
      .filter(col("doc_id").isNotNull)
      .transform(repartByKey(_, col("doc_id")))
      .select(col("doc_id"), shingleSet(col("text")).as("sh"))
      // r20: the verifyPairs materialization rationale — one shingle
      // evaluation for the two differently-renamed join sides
      .transform(materialize)
    cand
      .join(d.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(d.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("jac",
        size(array_intersect(col("sh1"), col("sh2"))) /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .select(col("d1"), col("d2"), col("n_match"),
        round(col("n_match") / lit((Bands * Rows).toDouble), 6).as("est"),
        round(col("jac"), 6).as("jac"),
        round(abs(col("n_match") / lit((Bands * Rows).toDouble) - col("jac")), 6)
          .as("abs_err"))
  }

  /** LSH band-bucket pre-flight — the dedup-side member of the
    * go/no-go telemetry family (q_skew_profile before the salted
    * join, q_ivf_cell_stats before IVF search): audits what the
    * minhash banding geometry will DO to a corpus before the pair
    * join launches. Per band: bucket count, multi-doc bucket count,
    * the largest bucket, and Σ C(size, 2) — the EXACT number of
    * candidate pairs that band's self-join will emit. One banding
    * pass and one tiny aggregation, never touching pairs: at 100 TB
    * a pair_bound exploding past ~corpus size says the bands × rows
    * dial is too coarse for this corpus's shingle distribution and
    * must be re-dialed BEFORE anyone pays for the join.
    */
  def lshBucketStats(spark: SparkSession, dir: String): DataFrame = {
    val buckets = minhashBandRows(Tables.documents(spark, dir))
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("sz"))
    buckets.groupBy(col("band").cast("long").as("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_multi_buckets"),
        max(col("sz")).as("max_bucket"),
        sum(expr("sz * (sz - 1) DIV 2")).as("pair_bound"))
      .orderBy("band")
  }

  /** Exact-Jaccard verification of candidate pairs (d1, d2) against
    * `docs` (doc_id, text): join both sides' 3-token shingle sets,
    * keep jac ≥ the suite-wide threshold — [[dedupMinhash]]'s verify
    * stage factored for reuse, notably by the streaming near-dup
    * connector, whose foreachBatch runs exactly this over each
    * micro-batch of [[graft.streaming.NearDupStream]] candidates (the
    * LSH stage prunes, never invents; the verify stage is shared, so
    * stream and batch accept the SAME pairs — NearDupConnectorE2ESpec
    * proves the composition). Input pairs may repeat (one per shared
    * band); output is distinct.
    */
  def verifyPairs(cands: DataFrame, docs: DataFrame): DataFrame = {
    // the distinct is the shared barrier: the id derivation and the
    // two shingle joins below all reuse its exchange, so the candidate
    // subtree (the band self-join) evaluates once.
    // r20: the distinct is CHECKPOINTED, not just barriered — the
    // survivor-shingle checkpoint below runs as its own execution, and
    // exchange reuse never crosses executions, so without pinning the
    // pairs the candidate pipeline ran once inside that job and again
    // in the main query (measured 1.7x WORSE on q_contam_fuzzy with
    // only `d` pinned)
    val pairs = cands.select(col("d1"), col("d2")).distinct().transform(materialize)
    // shingle ONLY the docs that appear in some candidate pair: the
    // verification set is near-dup-density-bounded, so the shingle
    // arrays of the full corpus are never materialized (the previous
    // shape shingled everything, and AQE then BROADCAST the whole
    // shingled corpus to the pair join — a plan that cannot exist at
    // 100 TB). The semi join's id set is tiny and broadcasts; the
    // text scan prunes to survivors before any shingle work.
    val ids = pairs.select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    // NO filter on the shingle column: a `size(sh) > 0`-style guard is
    // semantically redundant here (a doc with no shingles cannot be a
    // band candidate, and an empty-vs-empty pair yields jac = NaN,
    // which the ≥ threshold drops) and predicate pushdown would
    // substitute it below the semi join — re-evaluating the shingle
    // transform twice per row over the FULL corpus in the scan stage
    // parallelism barrier BETWEEN the semi join and the shingle
    // projection: the id set broadcasts, so the semi join folds into
    // the text SCAN stage — and the bench corpus is one row group =
    // one scan task, which made this single task shingle every
    // surviving doc serially (r19 stage profile: a 1-task ~1.5 s stage
    // inside every verify consumer). The survivors-only shuffle is
    // tiny (the verification set is near-dup-density-bounded); the
    // shingle work then runs at the session's full width.
    val d = docs.join(ids, Seq("doc_id"), "left_semi")
      .filter(col("doc_id").isNotNull)
      .transform(repartByKey(_, col("doc_id")))
      .select(col("doc_id"), shingleSet(col("text")).as("sh"))
      // r20: the d1- and d2-side projections rename doc_id differently,
      // so the two join inputs never canonicalize equal and the shingle
      // stage ran twice; the survivor set is near-dup-density-bounded,
      // so pinning it is cheap at any scale
      .transform(materialize)
    pairs
      .join(d.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(d.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("jac",
        size(array_intersect(col("sh1"), col("sh2"))) /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
  }

  /** SimHash geometry: a 64-bit fingerprint held as [[SimBands]] ×
    * [[SimBandBits]]-bit band values. 16-bit bands give 65 536
    * blocking values per band, so band buckets SHRINK as the corpus
    * grows — the 16-bit-signature/4-bit-band geometry this replaced
    * had ≤ 16 values per band, i.e. buckets of ~n/16 docs and an
    * effectively quadratic bucket join at 100× scale.
    */
  private[operators] val SimBands = 4
  private[operators] val SimBandBits = 16
  private[operators] val SimHammingMax = 3

  /** 64-bit SimHash over the 3-token shingle set (token-level simhash
    * degenerates on shared-vocabulary corpora); candidate pairs from
    * 16-bit band blocking — pigeonhole: ≤ [[SimHammingMax]] = 3
    * differing bits can touch at most 3 of the 4 bands, so every
    * qualifying pair collides on ≥ 1 exact band (completeness proved
    * by SimhashBandSpec) — then verified by exact hamming ≤ 3.
    * Vote bits come from two 32-bit chunks of the shingle md5 (hex
    * chars 1-8 and 9-16), keeping the signature engine-portable.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupSimhashFrame(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Per-doc 64-bit SimHash as four 16-bit band values (doc_id, b0..b3);
    * docs with no 3-token shingle are dropped (mirrored by the oracle's
    * `len(toks) >= 3`). Exposed within the package so SimhashBandSpec
    * can pin the vote/pack arithmetic against a JVM reference.
    */
  private[operators] def simhashBands(docs: DataFrame): DataFrame = {
    // Votes via the streamed shingle generator → keyed sums:
    // per-shingle md5 runs codegen'd exactly once (the fold-over-array
    // form re-evaluates the hash array per bit, interpreted; the
    // explode-of-array form re-evaluates the shingle transform in the
    // scan filter through InferFiltersFromGenerate substitution), and
    // the doc-keyed barrier parallelizes the corpus regardless of file
    // layout. Integer sums are order-free, so results are identical.
    val exploded = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .transform(repartByKey(_, col("doc_id")))
      .select(col("doc_id"),
        graft.plans.TextExpressions
          .shinglePostingsNative(toks(col("text")), ShingleK).as("s"))
      .withColumn("h1", conv(substring(md5(col("s").cast("binary")), 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(md5(col("s").cast("binary")), 9, 8), 16, 10).cast("long"))
    val voteCols = (0 until SimBands * SimBandBits).map { g =>
      val (src, sh) = if (g < 32) (col("h1"), g) else (col("h2"), g - 32)
      sum(shiftright(src, sh).bitwiseAND(1L) * 2L - 1L).as(s"v$g")
    }
    // band values stay in [0, 65535]: no sign-bit hazard anywhere, in
    // either engine, unlike a single packed 64-bit signature
    def bandVal(i: Int): Column =
      (0 until SimBandBits).map(j =>
        when(col(s"v${SimBandBits * i + j}") >= 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    exploded.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id") +: (0 until SimBands).map(i => bandVal(i).as(s"b$i")): _*)
  }

  private[operators] def dedupSimhashFrame(docs: DataFrame): DataFrame = {
    val d = simhashBands(docs)
    // (band, bv)-keyed barrier: both self-join sides reuse ONE
    // evaluation of the whole fingerprint pipeline (shingle generator
    // + 2 md5/shingle + 64 vote sums — the r13 audit found it running
    // twice), and the band bucket join is aligned on the exchange keys
    val banded = d.select(col("doc_id") +: (0 until SimBands).map(i => col(s"b$i")) :+
      explode(array((0 until SimBands).map(i =>
        struct(lit(i).as("band"), col(s"b$i").as("bv"))): _*)).as("bk"): _*)
      .select(col("doc_id") +: (0 until SimBands).map(i => col(s"b$i")) :+
        col("bk.band").as("band") :+ col("bk.bv").as("bv"): _*)
      .transform(repartByKey(_, col("band"), col("bv")))
    val ham = (0 until SimBands).map(i =>
      bit_count(col(s"a.b$i").bitwiseXOR(col(s"b.b$i")))).reduce(_ + _)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"), ham.as("hamming"))
      .filter(col("hamming") <= SimHammingMax)
      .distinct()
  }

  // private[graft]: the streaming twin (streaming/EmbDedupStream) and
  // its specs reference the batch tuning rather than duplicating it
  private[graft] val EmbBands = 24
  /** FLOOR on bits per band; the effective value is corpus-adaptive
    * ([[graft.functions.Vectors.adaptiveBits]], 2^bits ∝ n).
    */
  private[graft] val EmbBits = 6
  /** Target expected band-bucket occupancy the adaptive rule holds. */
  private[graft] val EmbBucketTarget = 50
  private[graft] val EmbCosThreshold = 0.5

  /** Embedding cosine near-dup pairs: random-hyperplane LSH prefilter
    * (md5-derived integer planes, 24 bands × 6 bits) generates
    * candidate pairs through a keyed band-bucket join; candidates are
    * exact-cosine verified at ≥ 0.5. The banding is bit-for-bit
    * mirrored in the oracle SQL, so the probabilistic pipeline is
    * still hash-checked end to end.
    *
    * Band geometry: at τ = 0.5 the per-bit collision probability of a
    * qualifying pair is only ~0.67 vs 0.5 for random pairs, so bands
    * must be short (6 bits) and numerous (24) for recall ≈ 1 — the
    * narrow LSH gap is intrinsic to low thresholds. At production
    * thresholds (τ ≥ 0.9, per-bit ≥ 0.85) the same machinery takes
    * 16-bit bands and prunes ~1000×; bands/bits are the recall dial.
    * [[dedupEmbeddingAllPairs]] is the O(n²) correctness baseline the
    * recall spec checks against — never the registered query.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id"))) // single-row-group input otherwise scans on one core
    // corpus-adaptive banding: the round-10 three-point curve caught
    // this query super-linear (e ≈ 1.5 over sf0.1 → sf1.0) — with
    // STATIC bits, bucket occupancy grows ∝ n and the bucket
    // self-join ∝ n². Sizing 2^bits ∝ n (constant ~[[EmbBucketTarget]]
    // expected occupancy) restores linear candidate volume; the
    // oracle computes the identical rule from count(*)
    // (Vectors.sqlHyperplaneSigsCteAdaptive). The count is the
    // session-memoized corpus statistic (one metadata-cheap job per
    // (session, dir) — the same class of statistic AQE reads, never
    // re-run per query build), and the bits pass through the SQL
    // plane-pool guard so a corpus past the mirror's ceiling fails
    // loudly instead of hash-diverging.
    val bits = graft.functions.Vectors.adaptiveBitsSqlSafe(
      Tables.rowCount(spark, dir, "embeddings"), EmbBits, EmbBucketTarget)
    dedupEmbeddingFrame(e, bits)
  }

  /** Banded-LSH + exact-verify core of [[dedupEmbedding]]: `e` must
    * carry (vec_id, embedding, nrm). `bits` is the per-band signature
    * width — passed in so the recall probe can run the PRODUCTION
    * banding over a sample.
    */
  private[graft] def dedupEmbeddingFrame(e: DataFrame, bits: Int): DataFrame = {
    import graft.plans.VectorExpressions
    // (band, sig)-keyed barrier above the signature projection: both
    // self-join sides reuse ONE evaluation of the hyperplane sigs
    // (bands × bits dots per vector — the r13 audit found it running
    // twice), and the bucket join is already aligned on the exchange
    // keys; isnotnull(vec_id) explicit for canonical symmetry
    val banded = e.filter(col("vec_id").isNotNull)
      .select(col("vec_id"),
        posexplode(VectorExpressions.hyperplaneSigsNative(
          col("embedding"), EmbBands, bits, AnnOps.Dim)).as(Seq("band", "sig")))
      .transform(repartByKey(_, col("band"), col("sig")))
      // r20: the self-join sides rename vec_id, so their exchanges
      // never canonicalize equal and the bands × bits signature dots
      // ran once per side — pin the slim (vec_id, band, sig) rows once
      .transform(materialize)
    // candidate ids only through the keyed bucket join; embeddings
    // re-attach after distinct so vectors never ride the shuffle
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .distinct()
    verifyEmbPairs(cand, e)
  }

  /** Shared exact-verify stage of the embedding near-dup family —
    * candidate `(v1, v2)` pairs re-scored with the exact float cosine
    * and cut at [[EmbCosThreshold]]. `emb` carries (vec_id, embedding
    * [, nrm]); norms attach here when absent. Callers pass DISTINCT
    * pairs (no dedup inside, so the registered batch plan gains no
    * extra exchange); the streaming connector distincts its per-batch
    * candidates before calling. Shared by [[dedupEmbeddingFrame]] and
    * the streaming twin's foreachBatch — one verify implementation, so
    * stream and batch can never drift on the measure.
    */
  def verifyEmbPairs(cands: DataFrame, emb: DataFrame): DataFrame = {
    import graft.plans.VectorExpressions
    // r20: pinned for the same reason as verifyPairs' distinct — the
    // survivor-embedding checkpoint below is a separate execution, so
    // an unpinned candidate subtree would run twice
    val pairs = cands.select(col("v1"), col("v2")).transform(materialize)
    // attach vectors ONLY for ids that appear in some candidate pair
    // (the verifyPairs discipline): the id set is near-dup-bounded and
    // broadcasts, so the corpus-wide vector table (and its norms) is
    // never materialized into the pair join
    val ids = pairs.select(explode(array(col("v1"), col("v2"))).as("vec_id")).distinct()
    val needed = emb.join(ids, Seq("vec_id"), "left_semi")
      .filter(col("vec_id").isNotNull)
    val e =
      (if (needed.columns.contains("nrm")) needed
       else needed.withColumn("nrm", VectorExpressions.normNative(col("embedding"))))
        // r20: one evaluation of the semi join + norms for the two
        // differently-renamed attach sides; the survivor set is
        // near-dup-density-bounded (the verifyPairs rationale)
        .transform(materialize)
    pairs
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1")), "v1")
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2")), "v2")
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("e1"), col("n1"), col("e2"), col("n2")), 6))
      .filter(col("cos") >= EmbCosThreshold)
      .select(col("v1"), col("v2"), col("cos"))
  }

  /** Recall-sample SIZE target: the sample modulus scales with the
    * corpus (`mod = max(2, ceil(n / target))`) so the probe's
    * brute-force truth stays ~Θ(target²) at ANY corpus size — a
    * constant modulus made the registered probe Θ(n²), against the
    * suite's no-quadratic design. The identical rule is computed in
    * the oracle from `count(*)` (the adaptiveBits discipline).
    */
  private[operators] val EmbRecallTarget = 20000

  /** Deterministic 1-in-mod vec_id sample modulus for a corpus of n. */
  private[operators] def embRecallMod(n: Long): Long =
    math.max(2L, math.ceil(n.toDouble / EmbRecallTarget).toLong)

  /** Sampled recall of the adaptive-banded embedding dedup — the
    * measured dial for the round-10 corpus-adaptive bits rule, the
    * [[minhashRecall]] pattern in vector space: truth = brute-force
    * all-pairs cosine ≥ τ over the sample (quadratic, which is why it
    * runs on a sample), found = the PRODUCTION banding (bits from the
    * FULL corpus count, so the probe measures the deployed
    * configuration) restricted to the same sample. Chance-aligned
    * threshold-edge pairs are exactly where sign-LSH is weakest, so
    * recall here is the honest lower bound a pipeline operator reads
    * before trusting the banded pass at a new scale.
    */
  def embDedupRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val n = Tables.rowCount(spark, dir, "embeddings")
    val bits = graft.functions.Vectors.adaptiveBitsSqlSafe(n, EmbBits, EmbBucketTarget)
    val e = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % embRecallMod(n) === 0)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
      // r20: the sample feeds both brute-force truth sides AND the
      // production banding — four differently-renamed consumers that
      // each re-ran the scan + norm; the sample is Θ(target) rows by
      // the modulus rule, cheap to pin at any corpus size
      .transform(materialize)
    val truth = e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2")),
        col("v1") < col("v2"))
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("e1"), col("n1"), col("e2"), col("n2")), 6))
      .filter(col("cos") >= EmbCosThreshold)
      .select(col("v1"), col("v2")).withColumn("t", lit(1))
    val found = dedupEmbeddingFrame(e, bits)
      .select(col("v1"), col("v2")).withColumn("f", lit(1))
    truth.join(found, Seq("v1", "v2"), "full_outer")
      .agg(
        count(col("t")).as("n_truth"),
        count(col("f")).as("n_found"),
        coalesce(sum(when(col("t").isNotNull && col("f").isNotNull, 1L)), lit(0L)).as("n_hit"))
      .select(
        col("n_truth"), col("n_found"), col("n_hit"),
        when(col("n_truth") > 0,
          round(col("n_hit") / col("n_truth").cast("double"), 6)).as("recall"),
        (col("n_found") - col("n_hit")).as("n_extra"))
  }

  /** O(n²) all-pairs baseline for [[dedupEmbedding]] — test-only: the
    * recall spec proves the LSH candidates cover every qualifying pair
    * on testdata. Not registered; a BNLJ over the corpus is exactly
    * the plan the registered query exists to avoid.
    */
  def dedupEmbeddingAllPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("a.embedding"), col("a.nrm"), col("b.embedding"), col("b.nrm")), 6))
      .filter(col("cos") >= EmbCosThreshold)
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"), col("cos"))
  }

  /** Expected cell occupancy target for [[semDedup]]: cells scale as
    * `max(16, ceil(n / target))`, so the within-cell pair pass stays
    * Θ(target · n) — linear — at any corpus size. The oracle computes
    * the identical rule from `count(*)` (the adaptiveBits discipline).
    */
  private[operators] val SemCellTarget = 128

  private[operators] def semCells(n: Long): Long =
    math.max(16L, math.ceil(n.toDouble / SemCellTarget).toLong)

  /** [[semDedup]]'s own near-dup cut: SEMANTIC duplication is judged
    * within a cluster (both members already share a nearest centroid),
    * so the cut sits below the global pairwise [[EmbCosThreshold]] —
    * cluster-conditional similarity is the paper's ε, a dial, not the
    * absolute near-dup threshold.
    */
  private[operators] val SemCosThreshold = 0.4

  /** Shared nearest-anchor assignment of [[semDedup]] and
    * [[prototypes]]: `e` carries (vec_id, embedding, nrm); returns the
    * slim (vec_id, cell, ccos) triple. Cells = [[semCells]] of the
    * memoized corpus count; per-vector argmax is a codegen'd
    * min(struct) partial aggregate — n rows shuffled, never
    * n × |cells| into per-vector sorts.
    */
  private def semAssign(spark: SparkSession, dir: String, e: DataFrame): DataFrame = {
    import graft.plans.VectorExpressions
    val cells = semCells(Tables.rowCount(spark, dir, "embeddings"))
    val cents = e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    // materialized ONCE: every caller fans the slim triple out 2-3
    // ways (pair sides, stats, both rank directions), and without the
    // pin each consumer re-runs the n x |cells| assignment cosine
    // pass — the expensive stage of the whole family; ~24 bytes/vector.
    e.crossJoin(broadcast(cents))
      .withColumn("ccos", round(VectorExpressions.cosineNative(
        col("c_emb"), col("c_nrm"), col("embedding"), col("nrm")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(negate(col("ccos")).as("nc"), col("cell").as("cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        negate(col("best.nc")).as("ccos"))
      .transform(materialize)
  }

  /** SemDeDup — cluster-then-pair SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are coarse-clustered (nearest
    * deterministic lowest-id anchor by 6-decimal cosine, ties to the
    * lowest cell — the [[AnnOps]] IVF assignment discipline), pairwise
    * cosine runs ONLY within a cell, and of each near-dup pair
    * (cos ≥ [[SemCosThreshold]]) the vector with the LOWER
    * (centroid-cosine, id) keep-priority survives — the paper's
    * keep-the-edge-example policy (low centroid similarity = the
    * least prototypical copy), made deterministic by the id tiebreak.
    * Output: one row per REMOVED vector with its keeper and the
    * cosine to it — bounded by n, never by pair volume.
    *
    * 100 TB shape: the corpus-adaptive cell count pins expected
    * occupancy at [[SemCellTarget]], so within-cell pair volume is
    * Θ(target · n) — linear, the published reason SemDeDup clusters
    * before pairing. Assignment broadcasts the anchor table and ships
    * only the slim (vec_id, cell, ccos) triple through its shuffle;
    * embeddings re-attach by key for the verify. Cell skew shows up in
    * the [[AnnOps.ivfCellStats]] pre-flight and splits under AQE's
    * skew-join handling; past ~10⁸ vectors the anchor table outgrows a
    * broadcast and assignment becomes a two-level (anchor-of-anchors)
    * keyed join — the faiss IVF-HNSW seam, out of scope here.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    semPairs(semAssign(spark, dir, e), e)
  }

  /** [[semDedup]] with the assignment routed through the two-level
    * [[HierAssign]] path — the layout for the corpus-adaptive anchor
    * table PAST the broadcast ceiling the flat [[semAssign]] doc
    * names: only the √cells super anchors broadcast; leaves resolve
    * through a grp-keyed join. Bit-identical to [[semDedup]] at
    * current scales (same rounded scores, same ties — spec-pinned,
    * and the registered oracle is the flat pipeline's SQL).
    */
  def semDedupHier(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    val cells = semCells(Tables.rowCount(spark, dir, "embeddings"))
    val cents = e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    // route = groups: exact by construction (see HierAssign doc)
    val g = HierAssign.defaultGroups(cells.toInt)
    semPairs(materialize(HierAssign.assignFloat(e, cents, g, g)), e)
  }

  /** Shared pair/verify/keeper stage of the SemDeDup family: `asg` is
    * a (vec_id, cell, ccos) assignment (any anchor layout), `e` the
    * (vec_id, embedding, nrm) corpus. Ordered candidate pairs — a
    * dominates b when a's keep-priority (ccos, id) is lower — go ids
    * only through the cell join; embeddings re-attach by key for the
    * exact-cosine verify; one row per removed vector carries its
    * lowest-(ccos, id) dominator.
    */
  private def semPairs(asg: DataFrame, e: DataFrame): DataFrame = {
    import graft.plans.VectorExpressions
    val a = asg.select(col("cell"), col("vec_id").as("a_id"), col("ccos").as("a_ccos"))
    val b = asg.select(col("cell").as("b_cell"), col("vec_id").as("b_id"),
      col("ccos").as("b_ccos"))
    val cand = a.join(b,
        col("cell") === col("b_cell") && col("a_id") =!= col("b_id") &&
          struct(col("a_ccos"), col("a_id")) < struct(col("b_ccos"), col("b_id")))
      .select(col("cell"), col("a_id"), col("a_ccos"), col("b_id"))
    cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("e1"), col("nrm").as("n1")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("e2"), col("nrm").as("n2")), "b_id")
      .withColumn("cos", round(VectorExpressions.cosineNative(
        col("e1"), col("n1"), col("e2"), col("n2")), 6))
      .filter(col("cos") >= SemCosThreshold)
      .groupBy(col("b_id").as("removed"))
      .agg(min(struct(col("a_ccos"), col("a_id").as("kept_by"),
        col("cos").as("cos"), col("cell").as("cell"))).as("k"))
      .select(col("removed"), col("k.cell").as("cell"),
        col("k.kept_by").as("kept_by"), col("k.cos").as("cos"))
  }

  /** [[semDedup]] with an externally supplied UNIT-NORM double anchor
    * table (cell, c) — e.g. Lloyd-refined [[Kmeans.anchors]], the
    * layout the SemDeDup paper actually clusters with. Swaps ONLY the
    * assignment's centroid table (the [[AnnOps.annIvfWith]]
    * discipline): dot / ‖x‖ against unit anchors with the decision
    * rounded to 6 decimals, argmax via the same codegen'd min(struct),
    * the same one-time checkpoint, the same shared [[semPairs]] tail.
    */
  def semDedupWith(spark: SparkSession, dir: String, anchors: DataFrame): DataFrame = {
    import graft.plans.VectorExpressions
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    // codegen'd widened dot (float corpus × double anchors) — the
    // interpreted HOF form here was the r13 slice bench's 4.4×
    // overhead vs the deterministic-anchor twin; accumulation order
    // and widening are bit-identical, so scores (and the oracle) are
    // unchanged
    val asg = e.crossJoin(broadcast(anchors))
      .withColumn("ccos", round(
        VectorExpressions.widenedDotNative(col("embedding"), col("c")) / col("nrm"), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(negate(col("ccos")).as("nc"), col("cell").as("cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        negate(col("best.nc")).as("ccos"))
      .transform(materialize)
    semPairs(asg, e)
  }

  /** SemDeDup over the Lloyd-refined cluster layout — the paper's
    * actual pipeline (k-means the corpus, dedup within clusters):
    * [[Kmeans.anchors]] in portable mode (means and dots pinned to 6
    * decimals) keeps even the trained layout oracle-reproducible, so
    * the WHOLE kmeans-then-dedup composition is hash-checked.
    */
  def semDedupKmeans(spark: SparkSession, dir: String): DataFrame =
    // trained with CORPUS-ADAPTIVE k = semCells(n) — the same
    // occupancy pin as the deterministic-anchor path. The r13 slice
    // bench caught the fixed-k=16 layout going quadratic (cells hold
    // n/16 members, so the within-cell pair join grows as n²/16:
    // 11.2 s at the slice vs 3.1 s for the adaptive twin); with
    // occupancy pinned at ~SemCellTarget the pair volume stays
    // Θ(target · n) at any corpus size. Memoized per (session, dir,
    // k), so the layout still trains once.
    semDedupWith(spark, dir, AnnOps.trainedAnchorsK(spark, dir,
      semCells(Tables.rowCount(spark, dir, "embeddings")).toInt))

  private[operators] val ProtoK = 3

  /** Prototypicality profile per cluster — the SSL-prototypes
    * data-pruning metric (Sorscher et al. 2022, "Beyond neural scaling
    * laws"): an example's cosine to its cluster centroid measures how
    * PROTOTYPICAL (easy, redundant) it is; pruning keeps the
    * low-centroid-cosine edge examples when data is abundant. Per
    * cell: membership count, mean centroid-cosine, and the
    * [[ProtoK]] most prototypical ("proto" — prune candidates) and
    * least prototypical ("edge" — keep candidates) members, ranked on
    * the ROUNDED 6-decimal ccos (id tiebreak) so the cut is
    * engine-portable.
    *
    * 100 TB shape: one broadcast assignment pass (shared
    * [[semAssign]]), then a keyed aggregation over the slim (vec_id,
    * cell, ccos) triple — stats map-side-combine to one row per cell,
    * and both rank directions run through the mergeable bounded
    * top-k aggregate (≤ k heap per partition per cell), never a
    * per-cell sort window. Output is |cells| × (2k) rows — bounded by
    * the cell table, not the corpus.
    */
  def prototypes(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{TopKAgg, VectorExpressions}
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))
    val asg = semAssign(spark, dir, e)
    // the mean over a DOUBLE column is summation-order-dependent at
    // the 6th decimal (partition merge order flips the rounded value
    // run to run): sum the 6-decimal ccos EXACTLY as decimal, then
    // divide — deterministic on any engine, any partitioning
    val stats = asg.groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("ccos").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("mean_ccos"))
    def ranked(role: String, key: Column) = asg
      .groupBy(col("cell"))
      .agg(TopKAgg.topK(struct(key.as("k"), col("vec_id").as("vec_id"),
        col("ccos").as("ccos")), ProtoK).as("tk"))
      .select(col("cell"), posexplode(col("tk")).as(Seq("pos", "it")))
      .select(col("cell"), lit(role).as("role"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("it.vec_id").as("vec_id"), col("it.ccos").as("ccos"))
    ranked("proto", negate(col("ccos")))
      .union(ranked("edge", col("ccos")))
      .join(stats, "cell")
      .select(col("cell"), col("role"), col("rnk"), col("vec_id"),
        col("ccos"), col("n_members"), col("mean_ccos"))
      .orderBy("cell", "role", "rnk")
  }

  /** Duplicate-cluster resolution: connected components over the
    * near-dup pair graph, labeled by the component's minimum doc_id —
    * the canonicalization step that turns pairwise dedup output into
    * keep/drop decisions.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupNgramEdges(spark, dir))
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"))

  /** Min-label connected components with POINTER DOUBLING: each round
    * first takes the min over neighbor labels, then replaces every
    * label with its label's label — halving the distance to the
    * component minimum, so convergence is O(log diameter) rounds, not
    * O(diameter) (a web-crawl dup chain of diameter 10⁶ converges in
    * ~20 rounds). The pair input is pinned once through `materialize`
    * (reliable when the session has a checkpoint dir, like every pin in
    * `graft.operators`). Per-round lineage truncation is the ONE
    * exception to that helper: it is LAZY (`checkpoint(false)` /
    * `localCheckpoint(false)`, see `truncate`) so each round pays one
    * job, and reliable mode adds a persist queue. Cluster deployments
    * should `sc.setCheckpointDir(...)`; CheckpointModeSpec proves both
    * modes converge to identical labels. THROWS if the round cap is
    * hit before convergence — silently emitting unconverged labels
    * would mislabel deep chains.
    */
  private[operators] def connectedComponents(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    // r19 optimization: LAZY checkpoints — the marked plan still
    // truncates to the materialized RDD for every later consumer, but
    // materialization now happens inside the FIRST action that needs
    // it instead of a dedicated eager job, so each round pays ONE job
    // (the convergence count materializes that round's checkpoint) and
    // the init label table materializes inside round 1's count. The
    // loop ran 2 jobs/round + 2 init jobs before; job-count telemetry
    // and label equality are pinned by CheckpointModeSpec/DedupOps
    // specs. r20 (ADVICE): in RELIABLE mode a bare lazy checkpoint
    // leaves the RDD unpersisted, so after the convergence count
    // ReliableRDDCheckpointData.doCheckpoint launched a SECOND job
    // re-running the round's join from lineage to write the checkpoint
    // files — persist() first so the count's computed blocks feed the
    // checkpoint write, then drop the cache once the files exist (the
    // caller-side unpersist below). localCheckpoint needs neither: it
    // IS the persist.
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    // reliable mode: the persist handles queue up so a LATER round can
    // drop each round's cache once its checkpoint files exist —
    // unpersisting is a caller concern because checkpoint(false)
    // returns a wrapper Dataset that no longer owns the cache entry
    val persistedQ = scala.collection.mutable.Queue.empty[DataFrame]
    def truncate(df: DataFrame): DataFrame =
      if (reliable) { df.persist(); persistedQ += df; df.checkpoint(false) }
      else df.localCheckpoint(false)
    // materialize the (expensive) upstream pair query exactly once —
    // every loop round reads this pinned RDD, never the lineage.
    // The pair input stays EAGER: both loop arms (edges, labels) read
    // it, and the first lazy consumer would otherwise race the other
    // into recomputing the whole pair pipeline.
    val p = materialize(pairs.toDF("pa", "pb"))
    val edges = p.union(p.select(col("pb"), col("pa"))).toDF("ea", "eb")
    var labels = truncate(edges.select(col("ea").as("id")).distinct()
      .select(col("id"), col("id").as("lab")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val prop = edges.join(labels, col("ea") === col("id"))
        .select(col("eb").as("id"), col("lab"))
      val merged = labels.union(prop).groupBy("id").agg(min("lab").as("lab"))
      // pointer jump: lab ← lab(lab); labels always contain every
      // vertex id, and lab is always some vertex id, so the inner
      // self-join is total. The aliased projection gives the two join
      // sides distinct attribute sets without a materialization.
      val next = merged
        .join(merged.select(col("id").as("jid"), col("lab").as("jlab")),
          col("lab") === col("jid"))
        .select(col("id"), col("jlab").as("lab"))
      // ONE job per round: the count both materializes the lazily
      // checkpointed (new lab, old lab) table and reads the
      // convergence delta from it
      val stepped = truncate(
        next.join(labels.select(col("id"), col("lab").as("old")), "id"))
      changed = stepped.filter(col("lab") =!= col("old")).count()
      // the count materialized this round's checkpoint files — every
      // EARLIER round's cached blocks are dead weight now (keep only
      // the newest entry: its files exist too, but its blocks feed
      // the next round's first read for free)
      while (persistedQ.size > 1) persistedQ.dequeue().unpersist(false)
      labels = stepped.select(col("id"), col("lab"))
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds ($changed labels still moving)")
    // converged: the final labels live in checkpoint files — drop the
    // last round's cache too rather than leak it past the call
    persistedQ.dequeueAll(_ => true).foreach(_.unpersist(false))
    labels
  }

  /** Cluster resolution keeping the BEST member — what a production
    * pipeline actually does with dup clusters: not "keep the lowest
    * id" but "keep the highest-quality copy and drop the rest". Each
    * near-dup cluster ([[dedupClusters]]) joins the quality scores
    * ([[TextOps.textQuality]]) and elects argmax(quality, min doc_id)
    * as its representative. The election is a per-cluster window over
    * the (tiny) clustered subset — the corpus-sized work is all in the
    * upstream pair generation, already blocked and df-capped; ordering
    * on the ROUNDED score keeps the pick engine-portable.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir)
    val quality = TextOps.textQuality(spark, dir).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc"),
        col("quality").as("keep_quality"), col("n_members"))
  }

  /** Incremental near-dup detection — the daily-ingest shape: a NEW
    * slice of the corpus (content-hash 20% here, the day's arrivals in
    * production) is checked against the existing corpus AND earlier
    * new arrivals, but old×old pairs are never generated — the cost
    * scales with |new|·df, not |corpus|². Same df-capped shingle
    * index and arithmetic co-count verification as [[dedupNgram]];
    * the inverted index over the old corpus is exactly what a
    * deployment would keep materialized between ingests.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the pairCoCounts discipline: doc-keyed parallelism barrier below
    // the streamed shingle generator, shared s-keyed barrier above it;
    // the is_new flag (1 md5/doc) is computed below the barriers and
    // rides the postings
    val ex = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .transform(repartByKey(_, col("doc_id")))
      .select(col("doc_id").as("k"),
        (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 10 >= 8).as("is_new"),
        graft.plans.TextExpressions
          .shinglePostingsNative(toks(col("text")), ShingleK).as("s"))
      .transform(repartByKey(_, col("s")))
      // r20: ONE evaluation of the shingle generator (the pairCoCounts
      // materialization rationale — this query's 5 differently-pruned
      // consumers re-ran the explode at ~1-1.8 s each), and exactly
      // the index a deployment keeps materialized between ingests
      .transform(materialize)
    val hot = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > DfCap).select("s")
    val kept = ex.join(broadcast(hot), Seq("s"), "left_anti")
    // each new doc vs old docs (any) and earlier new docs (lower id)
    val pairs = kept.filter(col("is_new")).as("a")
      .join(kept.as("b"),
        col("a.s") === col("b.s") && (!col("b.is_new") || col("b.k") < col("a.k")))
      .groupBy(col("a.k").as("new_id"), col("b.k").as("other_id"))
      .agg(count(lit(1)).as("inter"))
    val tainted = ex.join(broadcast(hot), Seq("s")).select(col("k")).distinct()
    // distinct-posting count per doc ≡ size(shingleSet) — aggregated
    // over the shared exchange, no second shingle evaluation
    val meta = ex.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .withColumnRenamed("k", "doc_id")
      .join(tainted.withColumnRenamed("k", "doc_id").withColumn("tf", lit(1)),
        Seq("doc_id"), "left")
    val m = pairs
      .join(meta.select(col("doc_id").as("new_id"), col("n").as("n1"), col("tf").as("tf1")), "new_id")
      .join(meta.select(col("doc_id").as("other_id"), col("n").as("n2"), col("tf").as("tf2")), "other_id")
    val clean = m.filter(col("tf1").isNull || col("tf2").isNull)
      .withColumn("jac",
        col("inter") / (col("n1") + col("n2") - col("inter")).cast("double"))
    // both-tainted verification arrays: semi-filtered recompute over
    // the survivor ids only, never a corpus-wide array table
    val dirtyPairs = m.filter(col("tf1").isNotNull && col("tf2").isNotNull)
    val dirtyIds = dirtyPairs
      .select(explode(array(col("new_id"), col("other_id"))).as("doc_id")).distinct()
    val dArr = docs.join(dirtyIds, Seq("doc_id"), "left_semi")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), shingleSet(col("text")).as("sh"))
    val dirty = dirtyPairs
      .join(dArr.select(col("doc_id").as("new_id"), col("sh").as("sh1")), "new_id")
      .join(dArr.select(col("doc_id").as("other_id"), col("sh").as("sh2")), "other_id")
      .withColumn("jac",
        size(array_intersect(col("sh1"), col("sh2"))) /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
    clean.select(col("new_id"), col("other_id"), col("jac"))
      .union(dirty.select(col("new_id"), col("other_id"), col("jac")))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("new_id"), col("other_id"), round(col("jac"), 6).as("jac"))
  }

  /** Window length for the content-defined chunk boundary hash. */
  private[operators] val ChunkK = 4
  /** Boundary divisor: a window starts a new chunk when its 32-bit
    * md5 hash ≡ 0 (mod this) — expected chunk length ≈ this many
    * tokens.
    */
  private[operators] val ChunkDiv = 16

  /** Content-defined chunking dedup — the PARTIAL-overlap granularity
    * the rest of the suite lacks: exact dedup sees identical whole
    * documents, shingle-Jaccard sees near-identical ones, but a page
    * that embeds a shared section (quoted article, license block,
    * template body) inside otherwise-distinct text matches neither.
    * Rolling-window chunking (the rsync/LBFS idea): a chunk boundary
    * falls wherever the [[ChunkK]]-token window's hash ≡ 0 mod
    * [[ChunkDiv]], so boundaries depend only on LOCAL content and
    * re-synchronize inside any sufficiently long shared run — the same
    * section chunks identically in every document containing it, at
    * any offset. Chunks are md5'd and matched exactly across
    * documents; per document: chunk count, chunks shared with ≥ 1
    * other doc, and the shared fraction (the "how much of this page is
    * copied" curation signal).
    *
    * 100 TB: per-token work is a per-doc window (bounded by document
    * length — the q_pack_shards boundedness argument), the chunk table
    * is ~n_tokens/[[ChunkDiv]] rows keyed by content hash, and the
    * cross-doc match is one groupBy on that hash — no pair explosion
    * at any step (a chunk shared by d docs costs d rows, not d²).
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupFrame(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Frame-based core of [[chunkDedup]]: `docs` must carry
    * (doc_id, text). Exposed within the package so specs can feed
    * synthetic corpora with known boundary structure.
    */
  private[operators] def chunkDedupFrame(docs: DataFrame): DataFrame = {
    val base = repartByKey(docs, col("doc_id"))
      .select(col("doc_id"), toks(col("text")).as("toks"))
    // the whole per-document chunk pipeline (window hashes → boundary
    // flags → chunk slices → chunk md5s) evaluates as ONE native
    // Catalyst expression, plans/TextExpressions.ChunkHashesExpr.
    // Chunking stays token-explode-free: the only generated rows are
    // the ~|toks|/ChunkDiv chunk hashes, so the shuffle carries chunk
    // rows, never token rows (at web scale a ~16× smaller exchange
    // and no per-doc sort). The earlier array-expression formulation
    // (see SCALE.md's CollapseProject-trap entries) had the same
    // runtime shape but its plan was the bottleneck: analysis +
    // janino compilation of the giant nested-lambda projection
    // measured ~5 s per fresh session at sf0.1 vs ~2 s of compute —
    // paid on every full-registry bench pass (108 queries overflow
    // the 100-entry codegen cache) and by every first-time user.
    // a repeated section WITHIN one doc yields two chunk rows with the
    // same hash — explode, not explode∘distinct, preserves that
    val perChunk = base.select(col("doc_id"),
      explode(graft.plans.TextExpressions.chunkHashesNative(
        col("toks"), ChunkK, ChunkDiv)).as("chunk_hash"))
    val shared = perChunk.groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("chunk_hash"), lit(1).as("sh"))
    perChunk.join(shared, Seq("chunk_hash"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), count(col("sh")).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared") / col("n_chunks").cast("double"), 4))
  }

  /** Per-source exact-duplicate telemetry — the dedup dashboard a
    * crawl pipeline tracks per domain: how many documents each source
    * contributed, how many distinct contents, and the excess
    * (dup_rate = what fraction of the source's volume dedup would
    * delete). One two-phase distinct aggregation keyed on (source,
    * content key) — no pair generation at all, so this stays a single
    * bounded shuffle at any corpus size.
    */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame =
    dupRateBySourceFrame(
      Tables.documents(spark, dir).select(col("source"), col("text")))

  /** Frame-based core of [[dupRateBySource]]: `docs` must carry
    * (source, text). Exposed within the package because the shipped
    * corpus has no exact duplicates at sf0.01 — the spec feeds a
    * synthetic corpus with KNOWN dups so the excess/rate arithmetic is
    * pinned somewhere the all-zeros default scale cannot.
    */
  private[operators] def dupRateBySourceFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), Hashing.contentKey(col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"))
      .withColumn("dup_excess", col("n_docs") - col("n_distinct"))
      .withColumn("dup_rate",
        round(col("dup_excess") / col("n_docs").cast("double"), 6))
      .orderBy("source")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk_dedup" -> (chunkDedup _),
    "q_dup_rate_by_source" -> (dupRateBySource _),
    "q_dedup_containment" -> (dedupContainment _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_ngram" -> (dedupNgram _),
    "q_winnow_dedup" -> (winnowDedup _),
    "q_winnow_preflight" -> (winnowPreflight _),
    "q_dedup_minhash" -> (dedupMinhash _),
    "q_lsh_bucket_stats" -> (lshBucketStats _),
    "q_minhash_recall" -> (minhashRecall _),
    "q_minhash_est_error" -> (minhashEstError _),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_dedup_embedding" -> (dedupEmbedding _),
    "q_semdedup" -> (semDedup _),
    "q_semdedup_hier" -> (semDedupHier _),
    "q_semdedup_kmeans" -> (semDedupKmeans _),
    "q_prototypes" -> (prototypes _),
    "q_emb_dedup_recall" -> (embDedupRecall _),
    "q_dedup_clusters" -> (dedupClusters _),
    "q_dedup_keep_best" -> (dedupKeepBest _),
    "q_dedup_incremental" -> (dedupIncremental _))

  /** SQL fragment: distinct 3-token shingle list of `text`. */
  private[operators] val sqlShingles =
    """list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
      |                             i -> array_to_string(toks[i:i+2], ' ')))""".stripMargin

  /** SQL CTE chain `d, g, f` → winnow fingerprint postings
    * `f(doc_id, s)`, distinct per doc — ONE definition for the two
    * oracles that consume it (q_winnow_dedup, q_winnow_preflight),
    * mirroring [[winnowPostings]]. */
  private val sqlWinnowFps =
    s"""d AS (
       |  SELECT doc_id, text FROM documents WHERE length(text) >= ${WinnowK + WinnowW - 1}
       |), g AS (
       |  SELECT doc_id, list_transform(range(1, length(text) - ${WinnowK - 2}),
       |                                i -> md5(substring(text, i, $WinnowK))) g
       |  FROM d
       |), f AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(1, len(g) - ${WinnowW - 2}),
       |           j -> list_min(g[j:j + ${WinnowW - 1}])))) s
       |  FROM g
       |)""".stripMargin

  private def mh(j: Int) = s"list_min(list_transform(sh, s -> md5('$j:' || s)))"

  /** SQL: minhash banding over a preceding `t(doc_id, sh)` CTE →
    * `bands(doc_id, band, bkey)` — ONE definition for the three
    * oracles that block on it (q_dedup_minhash, q_minhash_recall,
    * q_lsh_bucket_stats), mirroring [[minhashBandRows]]; re-dialing
    * Bands × Rows or the band-key derivation is one edit per engine,
    * not three hand-synced SQL copies.
    */
  private[operators] val sqlBandCtes =
    s"""m AS (
       |  SELECT doc_id, sh,
       |         md5(${mh(0)} || '|' || ${mh(1)}) b0,
       |         md5(${mh(2)} || '|' || ${mh(3)}) b1,
       |         md5(${mh(4)} || '|' || ${mh(5)}) b2,
       |         md5(${mh(6)} || '|' || ${mh(7)}) b3
       |  FROM t WHERE len(sh) > 0
       |), bands AS (
       |  SELECT doc_id, 0 band, b0 bkey FROM m UNION ALL
       |  SELECT doc_id, 1, b1 FROM m UNION ALL
       |  SELECT doc_id, 2, b2 FROM m UNION ALL
       |  SELECT doc_id, 3, b3 FROM m
       |)""".stripMargin

  /** SQL: 16-bit SimHash band `i` (bits 16i..16i+15 of the 64-bit
    * fingerprint) — per-bit majority vote over the h1/h2 32-bit md5
    * chunk arrays, mirroring [[dedupSimhash]]'s vote/sign/pack
    * arithmetic term for term. Generated, not hand-written: 64 vote
    * terms drift when maintained by hand.
    */
  private def sqlSimhashBand(i: Int): String =
    (0 until SimBandBits).map { j =>
      val g = SimBandBits * i + j
      val (arr, sh) = if (g < 32) ("h1", g) else ("h2", g - 32)
      s"CASE WHEN CAST(list_sum(list_transform($arr, x -> ((x >> $sh) & 1) * 2 - 1)) AS BIGINT) >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", "\n     + ", ")::BIGINT")

  /** SQL: hamming distance over the four 16-bit band values. */
  private val sqlSimhashHam =
    (0 until SimBands).map(i => s"bit_count(xor(a.b$i, b.b$i))").mkString(" + ")

  /** SQL: the near-dup pair graph → transitive closure (`reach`),
    * shared by the clusters and keep-best oracles. Callers prepend
    * `WITH RECURSIVE` and aggregate reach to min-label components.
    */
  private val sqlClusterCtes =
    s"""t AS (
       |  SELECT doc_id, $sqlShingles sh
       |  FROM (SELECT doc_id, string_split(text, ' ') toks FROM documents)
       |), ex AS (SELECT doc_id k, unnest(sh) s FROM t),
       |kept AS (SELECT k, s FROM ex QUALIFY count(*) OVER (PARTITION BY s) <= $DfCap),
       |cand AS (
       |  SELECT DISTINCT a.k d1, b.k d2 FROM kept a JOIN kept b ON a.s = b.s AND a.k < b.k
       |), dup AS (
       |  SELECT d1, d2 FROM cand JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2
       |  WHERE len(list_intersect(t1.sh, t2.sh))
       |        / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE >= $JaccardThreshold
       |), ed AS (
       |  SELECT d1 a, d2 b FROM dup UNION ALL SELECT d2, d1 FROM dup
       |), verts AS (SELECT DISTINCT a id FROM ed),
       |reach AS (
       |  SELECT id src, id dst FROM verts
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN ed e ON r.dst = e.a
       |)""".stripMargin

  // q_semdedup_hier's oracle IS the flat pipeline's SQL (two-level
  // routing bit-identical at these scales — the HierAssign contract)
  val oracle: Map[String, String] = oracleBase +
    ("q_semdedup_hier" -> oracleBase("q_semdedup"))

  private lazy val oracleBase: Map[String, String] = Map(
    "q_dup_rate_by_source" ->
      """SELECT source,
        |       count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_distinct,
        |       count(*) - count(DISTINCT md5(text)) AS dup_excess,
        |       round((count(*) - count(DISTINCT md5(text)))
        |             / count(*)::DOUBLE, 6) AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_chunk_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') toks FROM documents
         |), tok AS (
         |  SELECT doc_id, pos, toks[pos + 1] AS tok,
         |         CASE WHEN pos + $ChunkK <= len(toks) AND
         |                   ('0x' || substr(md5(array_to_string(
         |                      toks[pos + 1 : pos + $ChunkK], ' ')), 1, 8))::BIGINT
         |                     % $ChunkDiv = 0
         |              THEN 1 ELSE 0 END AS flag
         |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM t)
         |), wc AS (
         |  SELECT doc_id, pos, tok,
         |         sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) chunk
         |  FROM tok
         |), ch AS (
         |  SELECT doc_id, chunk, md5(string_agg(tok, ' ' ORDER BY pos)) chunk_hash
         |  FROM wc GROUP BY doc_id, chunk
         |), sh AS (
         |  SELECT chunk_hash FROM ch GROUP BY chunk_hash
         |  HAVING count(DISTINCT doc_id) >= 2
         |)
         |SELECT ch.doc_id, count(*) AS n_chunks,
         |       CAST(count(sh.chunk_hash) AS BIGINT) AS n_shared,
         |       round(count(sh.chunk_hash) / count(*)::DOUBLE, 4) AS shared_frac
         |FROM ch LEFT JOIN sh USING (chunk_hash)
         |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH t AS (
         |  SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT % 10 >= 8 is_new, $sqlShingles sh
         |  FROM (SELECT doc_id, text, string_split(text, ' ') toks FROM documents)
         |), ex AS (SELECT doc_id k, is_new, unnest(sh) s FROM t),
         |hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) > $DfCap),
         |kept AS (SELECT * FROM ex WHERE s NOT IN (SELECT s FROM hot)),
         |cand AS (
         |  SELECT DISTINCT a.k new_id, b.k other_id
         |  FROM kept a JOIN kept b ON a.s = b.s AND (NOT b.is_new OR b.k < a.k)
         |  WHERE a.is_new
         |)
         |SELECT new_id, other_id,
         |       round(len(list_intersect(t1.sh, t2.sh))
         |             / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE, 6) jac
         |FROM cand JOIN t t1 ON t1.doc_id = new_id JOIN t t2 ON t2.doc_id = other_id
         |WHERE len(list_intersect(t1.sh, t2.sh))
         |      / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE >= $JaccardThreshold
         |ORDER BY new_id, other_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, md5(text) AS h FROM documents
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlShingles sh
         |  FROM (SELECT doc_id, string_split(text, ' ') toks FROM documents)
         |), ex AS (SELECT doc_id k, unnest(sh) s FROM t),
         |kept AS (SELECT k, s FROM ex QUALIFY count(*) OVER (PARTITION BY s) <= $DfCap),
         |cand AS (
         |  SELECT DISTINCT a.k d1, b.k d2 FROM kept a JOIN kept b ON a.s = b.s AND a.k < b.k
         |), pairs AS (
         |  SELECT d1, d2, len(list_intersect(t1.sh, t2.sh)) inter,
         |         len(t1.sh) n1, len(t2.sh) n2
         |  FROM cand JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2
         |), dirs AS (
         |  SELECT d1 src, d2 dst, inter / n1::DOUBLE cont FROM pairs
         |  UNION ALL
         |  SELECT d2, d1, inter / n2::DOUBLE FROM pairs
         |)
         |SELECT src, dst, round(cont, 6) cont FROM dirs
         |WHERE cont >= $ContainmentThreshold ORDER BY src, dst""".stripMargin,
    "q_dedup_ngram" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlShingles sh
         |  FROM (SELECT doc_id, string_split(text, ' ') toks FROM documents)
         |), ex AS (SELECT doc_id k, unnest(sh) s FROM t),
         |kept AS (SELECT k, s FROM ex QUALIFY count(*) OVER (PARTITION BY s) <= $DfCap),
         |cand AS (
         |  SELECT DISTINCT a.k d1, b.k d2 FROM kept a JOIN kept b ON a.s = b.s AND a.k < b.k
         |)
         |SELECT d1, d2,
         |       round(len(list_intersect(t1.sh, t2.sh))
         |             / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE, 6) jac
         |FROM cand JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2
         |WHERE len(list_intersect(t1.sh, t2.sh))
         |      / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE >= $JaccardThreshold
         |ORDER BY d1, d2""".stripMargin,
    "q_winnow_dedup" ->
      s"""WITH $sqlWinnowFps, kept AS (
         |  SELECT doc_id k, s FROM f QUALIFY count(*) OVER (PARTITION BY s) <= $WinnowDfCap
         |)
         |SELECT a.k d1, b.k d2, CAST(count(*) AS BIGINT) n_shared
         |FROM kept a JOIN kept b ON a.s = b.s AND a.k < b.k
         |GROUP BY a.k, b.k HAVING count(*) >= $WinnowMinShared""".stripMargin,
    "q_winnow_preflight" ->
      s"""WITH $sqlWinnowFps, dfs AS (
         |  SELECT s, count(*) df FROM f GROUP BY s
         |)
         |SELECT CAST(length(printf('%b', df)) - 1 AS BIGINT) band,
         |       df <= $WinnowDfCap kept,
         |       CAST(count(*) AS BIGINT) n_fp,
         |       CAST(sum(df) AS BIGINT) n_postings,
         |       CAST(sum(df * (df - 1) // 2) AS BIGINT) pair_bound
         |FROM dfs GROUP BY 1, 2 ORDER BY band, kept""".stripMargin,
    "q_minhash_est_error" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlShingles sh
         |  FROM (SELECT doc_id, string_split(text, ' ') toks FROM documents)
         |), m AS (
         |  SELECT doc_id, sh,
         |         ${(0 until Bands * Rows).map(j => s"${mh(j)} mh$j").mkString(", ")}
         |  FROM t WHERE len(sh) > 0
         |), bands AS (
         |  ${(0 until Bands).map(b =>
              s"SELECT doc_id, $b band, md5(mh${b * Rows} || '|' || mh${b * Rows + 1}) bkey FROM m")
              .mkString(" UNION ALL\n  ")}
         |), cand AS (
         |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), p AS (
         |  SELECT d1, d2,
         |    ${(0 until Bands * Rows).map(j =>
              s"(CASE WHEN m1.mh$j = m2.mh$j THEN 1 ELSE 0 END)").mkString(" + ")} n_match,
         |    len(list_intersect(m1.sh, m2.sh))
         |      / len(list_distinct(list_concat(m1.sh, m2.sh)))::DOUBLE jac
         |  FROM cand JOIN m m1 ON m1.doc_id = d1 JOIN m m2 ON m2.doc_id = d2
         |)
         |SELECT d1, d2, CAST(n_match AS BIGINT) n_match,
         |  round(n_match / ${(Bands * Rows).toDouble}, 6) est,
         |  round(jac, 6) jac,
         |  round(abs(n_match / ${(Bands * Rows).toDouble} - jac), 6) abs_err
         |FROM p ORDER BY d1, d2""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlShingles sh
         |  FROM (SELECT doc_id, string_split(text, ' ') toks FROM documents)
         |), $sqlBandCtes, cand AS (
         |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |)
         |SELECT d1, d2,
         |       round(len(list_intersect(t1.sh, t2.sh))
         |             / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE, 6) jac
         |FROM cand JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2
         |WHERE len(list_intersect(t1.sh, t2.sh))
         |      / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE >= $JaccardThreshold
         |ORDER BY d1, d2""".stripMargin,
    "q_minhash_recall" ->
      s"""WITH smp AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % $RecallSampleMod = 0
         |), t AS (
         |  SELECT doc_id, $sqlShingles sh
         |  FROM (SELECT doc_id, string_split(text, ' ') toks FROM smp)
         |), ex AS (SELECT doc_id k, unnest(sh) s FROM t),
         |kept AS (SELECT k, s FROM ex QUALIFY count(*) OVER (PARTITION BY s) <= $DfCap),
         |candN AS (
         |  SELECT DISTINCT a.k d1, b.k d2 FROM kept a JOIN kept b ON a.s = b.s AND a.k < b.k
         |), truth AS (
         |  SELECT d1, d2
         |  FROM candN JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2
         |  WHERE len(list_intersect(t1.sh, t2.sh))
         |        / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE >= $JaccardThreshold
         |), $sqlBandCtes, candM AS (
         |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), found AS (
         |  SELECT d1, d2
         |  FROM candM JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2
         |  WHERE len(list_intersect(t1.sh, t2.sh))
         |        / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE >= $JaccardThreshold
         |), j AS (
         |  SELECT tr.d1 IS NOT NULL it, f.d1 IS NOT NULL fnd
         |  FROM truth tr FULL OUTER JOIN found f ON tr.d1 = f.d1 AND tr.d2 = f.d2
         |)
         |SELECT CAST(coalesce(sum(CASE WHEN it THEN 1 ELSE 0 END), 0) AS BIGINT) n_truth,
         |       CAST(coalesce(sum(CASE WHEN fnd THEN 1 ELSE 0 END), 0) AS BIGINT) n_found,
         |       CAST(coalesce(sum(CASE WHEN it AND fnd THEN 1 ELSE 0 END), 0) AS BIGINT) n_hit,
         |       CASE WHEN coalesce(sum(CASE WHEN it THEN 1 ELSE 0 END), 0) > 0
         |            THEN round(coalesce(sum(CASE WHEN it AND fnd THEN 1 ELSE 0 END), 0)
         |                       / sum(CASE WHEN it THEN 1 ELSE 0 END)::DOUBLE, 6) END recall,
         |       CAST(coalesce(sum(CASE WHEN fnd THEN 1 ELSE 0 END), 0)
         |            - coalesce(sum(CASE WHEN it AND fnd THEN 1 ELSE 0 END), 0) AS BIGINT) n_extra
         |FROM j""".stripMargin,
    "q_lsh_bucket_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlShingles sh
         |  FROM (SELECT doc_id, string_split(text, ' ') toks FROM documents)
         |), $sqlBandCtes, b AS (
         |  SELECT band, bkey, count(*) sz FROM bands GROUP BY band, bkey
         |)
         |SELECT CAST(band AS BIGINT) band,
         |       CAST(count(*) AS BIGINT) n_buckets,
         |       CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) n_multi_buckets,
         |       CAST(max(sz) AS BIGINT) max_bucket,
         |       CAST(sum(sz * (sz - 1) // 2) AS BIGINT) pair_bound
         |FROM b GROUP BY band ORDER BY band""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlClusterCtes
         |SELECT src doc_id, min(dst) cluster_id FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $sqlClusterCtes,
         |clus AS (SELECT src doc_id, min(dst) cluster_id FROM reach GROUP BY src),
         |q AS (
         |  SELECT doc_id,
         |    round(0.5 * least(1.0, length(text) / 400.0)
         |      + 0.25 * (len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w IN ('the', 'a')))
         |                / greatest(len(string_split_regex(trim(text), '\\s+')), 1)::DOUBLE)
         |      + 0.25 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
         |                      / greatest(length(text), 1)::DOUBLE), 6) quality
         |  FROM documents
         |)
         |SELECT cluster_id, doc_id keep_doc, quality keep_quality, n_members
         |FROM (
         |  SELECT c.cluster_id, c.doc_id, q.quality,
         |         CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) n_members,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY q.quality DESC, c.doc_id) rn
         |  FROM clus c JOIN q USING (doc_id)
         |)
         |WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH tt AS (
        |  SELECT doc_id, string_split(text, ' ') toks FROM documents
        |), h AS (
        |  SELECT doc_id,
        |         list_transform($sqlShingles,
        |                        t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) h1,
        |         list_transform($sqlShingles,
        |                        t -> ('0x' || substr(md5(t), 9, 8))::BIGINT) h2
        |  FROM tt WHERE len(toks) >= 3
        |), s AS (
        |  SELECT doc_id,
        |    ${sqlSimhashBand(0)} b0,
        |    ${sqlSimhashBand(1)} b1,
        |    ${sqlSimhashBand(2)} b2,
        |    ${sqlSimhashBand(3)} b3
        |  FROM h
        |), banded AS (
        |  SELECT doc_id, b0, b1, b2, b3, band,
        |         CASE band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END bv
        |  FROM s, (VALUES (0), (1), (2), (3)) bands(band)
        |)
        |SELECT DISTINCT a.doc_id d1, b.doc_id d2,
        |       CAST($sqlSimhashHam AS INT) hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        |WHERE $sqlSimhashHam <= $SimHammingMax
        |ORDER BY d1, d2""".stripMargin,
    "q_emb_dedup_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % (SELECT greatest(2, CAST(ceil(count(*) / $EmbRecallTarget.0) AS BIGINT))
         |                  FROM embeddings) = 0
         |),
         |${graft.functions.Vectors.sqlHyperplaneSigsCteAdaptive(
             "e", EmbBands, AnnOps.Dim, EmbBits, EmbBucketTarget, cntSrc = "embeddings")},
         |cosp AS (
         |  SELECT a.vec_id v1, b.vec_id v2,
         |    round(
         |      list_sum(list_transform(range(1, len(a.embedding) + 1),
         |               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |               i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
         |       * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
         |               i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 6) cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |), truth AS (
         |  SELECT v1, v2 FROM cosp WHERE cos >= $EmbCosThreshold
         |), cand AS (
         |  SELECT DISTINCT a.vec_id v1, b.vec_id v2
         |  FROM sigs a JOIN sigs b
         |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
         |), found AS (
         |  SELECT c.v1, c.v2 FROM cand c JOIN cosp p ON p.v1 = c.v1 AND p.v2 = c.v2
         |  WHERE p.cos >= $EmbCosThreshold
         |), j AS (
         |  SELECT tr.v1 IS NOT NULL it, f.v1 IS NOT NULL fnd
         |  FROM truth tr FULL OUTER JOIN found f ON tr.v1 = f.v1 AND tr.v2 = f.v2
         |)
         |SELECT CAST(coalesce(sum(CASE WHEN it THEN 1 ELSE 0 END), 0) AS BIGINT) n_truth,
         |       CAST(coalesce(sum(CASE WHEN fnd THEN 1 ELSE 0 END), 0) AS BIGINT) n_found,
         |       CAST(coalesce(sum(CASE WHEN it AND fnd THEN 1 ELSE 0 END), 0) AS BIGINT) n_hit,
         |       CASE WHEN coalesce(sum(CASE WHEN it THEN 1 ELSE 0 END), 0) > 0 THEN
         |         round(coalesce(sum(CASE WHEN it AND fnd THEN 1 ELSE 0 END), 0)
         |               / coalesce(sum(CASE WHEN it THEN 1 ELSE 0 END), 0)::DOUBLE, 6)
         |       END recall,
         |       CAST(coalesce(sum(CASE WHEN fnd THEN 1 ELSE 0 END), 0)
         |            - coalesce(sum(CASE WHEN it AND fnd THEN 1 ELSE 0 END), 0) AS BIGINT) n_extra
         |FROM j""".stripMargin,
    "q_dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |${graft.functions.Vectors.sqlHyperplaneSigsCteAdaptive(
             "e", EmbBands, AnnOps.Dim, EmbBits, EmbBucketTarget)},
         |cand AS (
         |  SELECT DISTINCT a.vec_id v1, b.vec_id v2
         |  FROM sigs a JOIN sigs b
         |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
         |), p AS (
         |  SELECT v1, v2,
         |    round(
         |      list_sum(list_transform(range(1, len(ea.embedding) + 1),
         |               i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(range(1, len(ea.embedding) + 1),
         |               i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE)))
         |       * sqrt(list_sum(list_transform(range(1, len(eb.embedding) + 1),
         |               i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)))), 6) cos
         |  FROM cand JOIN e ea ON ea.vec_id = v1 JOIN e eb ON eb.vec_id = v2
         |)
         |SELECT v1, v2, cos FROM p WHERE cos >= $EmbCosThreshold ORDER BY v1, v2""".stripMargin,
    "q_semdedup" -> {
      def cos(x: String, y: String): String =
        s"""round(
           |      list_sum(list_transform(range(1, len($x) + 1),
           |               i -> $x[i]::DOUBLE * $y[i]::DOUBLE))
           |      / (sqrt(list_sum(list_transform(range(1, len($x) + 1),
           |               i -> $x[i]::DOUBLE * $x[i]::DOUBLE)))
           |       * sqrt(list_sum(list_transform(range(1, len($y) + 1),
           |               i -> $y[i]::DOUBLE * $y[i]::DOUBLE)))), 6)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |nc AS (SELECT greatest(16, CAST(ceil(count(*) / $SemCellTarget.0) AS BIGINT)) cells
         |       FROM e),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e, nc WHERE vec_id < cells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${cos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), cand AS (
         |  SELECT a.cell, a.vec_id a_id, a.ccos a_ccos, b.vec_id b_id,
         |         ${cos("ea.embedding", "eb.embedding")} cos
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |       AND (a.ccos, a.vec_id) < (b.ccos, b.vec_id)
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |)
         |SELECT b_id removed, cell, a_id kept_by, cos
         |FROM cand WHERE cos >= $SemCosThreshold
         |QUALIFY row_number() OVER (PARTITION BY b_id ORDER BY a_ccos, a_id) = 1
         |ORDER BY removed""".stripMargin
    },
    "q_semdedup_kmeans" -> {
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |nd AS (
         |  SELECT vec_id,
         |    ${AnnOps.sqlUnit("list_transform(embedding, x -> x::DOUBLE)")} nv
         |  FROM e
         |), kc AS (
         |  SELECT greatest(16, CAST(ceil(count(*) / $SemCellTarget.0) AS BIGINT)) cells FROM e
         |), a0 AS (
         |  SELECT vec_id::BIGINT cell, nv c FROM nd
         |  WHERE vec_id < (SELECT cells FROM kc)
         |), ${(1 to AnnOps.IvfKmeansIters).map(AnnOps.sqlLloydRound).mkString(", ")},
         |corpus AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))) nrm
         |  FROM e
         |), asg AS (
         |  SELECT corpus.vec_id, cell,
         |    round(list_sum(list_transform(range(1, len(embedding) + 1),
         |          i -> embedding[i]::DOUBLE * c[i])) / nrm, 6) ccos
         |  FROM corpus CROSS JOIN a${AnnOps.IvfKmeansIters}
         |  QUALIFY row_number() OVER (PARTITION BY corpus.vec_id
         |                             ORDER BY ccos DESC, cell) = 1
         |), cand AS (
         |  SELECT a.cell, a.vec_id a_id, a.ccos a_ccos, b.vec_id b_id,
         |         ${AnnOps.sqlCos("ea.embedding", "eb.embedding")} cos
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |       AND (a.ccos, a.vec_id) < (b.ccos, b.vec_id)
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |)
         |SELECT b_id removed, cell, a_id kept_by, cos
         |FROM cand WHERE cos >= $SemCosThreshold
         |QUALIFY row_number() OVER (PARTITION BY b_id ORDER BY a_ccos, a_id) = 1
         |ORDER BY removed""".stripMargin
    },
    "q_prototypes" -> {
      def cos(x: String, y: String): String =
        s"""round(
           |      list_sum(list_transform(range(1, len($x) + 1),
           |               i -> $x[i]::DOUBLE * $y[i]::DOUBLE))
           |      / (sqrt(list_sum(list_transform(range(1, len($x) + 1),
           |               i -> $x[i]::DOUBLE * $x[i]::DOUBLE)))
           |       * sqrt(list_sum(list_transform(range(1, len($y) + 1),
           |               i -> $y[i]::DOUBLE * $y[i]::DOUBLE)))), 6)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |nc AS (SELECT greatest(16, CAST(ceil(count(*) / $SemCellTarget.0) AS BIGINT)) cells
         |       FROM e),
         |cents AS (SELECT vec_id cell, embedding c_emb FROM e, nc WHERE vec_id < cells),
         |asg AS (
         |  SELECT e.vec_id, cell, ${cos("c_emb", "e.embedding")} ccos
         |  FROM e CROSS JOIN cents
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, cell) = 1
         |), st AS (
         |  SELECT cell, count(*) n_members,
         |         round(sum(CAST(ccos AS DECIMAL(18,6)))::DOUBLE / count(*), 6) mean_ccos
         |  FROM asg GROUP BY cell
         |), pr AS (
         |  SELECT cell, 'proto' AS "role",
         |         row_number() OVER (PARTITION BY cell ORDER BY ccos DESC, vec_id) rnk,
         |         vec_id, ccos
         |  FROM asg QUALIFY rnk <= $ProtoK
         |), ed AS (
         |  SELECT cell, 'edge' AS "role",
         |         row_number() OVER (PARTITION BY cell ORDER BY ccos, vec_id) rnk,
         |         vec_id, ccos
         |  FROM asg QUALIFY rnk <= $ProtoK
         |)
         |SELECT cell, "role", rnk, vec_id, ccos, n_members, mean_ccos
         |FROM (SELECT * FROM pr UNION ALL SELECT * FROM ed) u JOIN st USING (cell)
         |ORDER BY cell, "role", rnk""".stripMargin
    })
}
