package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** §2.K — corpus-curation operators beyond the reference's surface:
  * the sampling/splitting/profiling passes a training-data pipeline
  * runs over a 100 TB document store.
  *
  * All bucketing decisions hash with md5 (content-derived,
  * engine-portable, reshuffle-stable): the same document lands in the
  * same split on any engine, any partitioning, any run — the property
  * that makes corpus splits reproducible.
  */
object CorpusOps {

  /** Stable 32-bit content bucket from md5. */
  private[operators] def bucket(c: org.apache.spark.sql.Column, mod: Int) =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long") % mod

  /** Deterministic stratified sampling: ~30% per language stratum,
    * selected by content hash (not rand()) so the sample is
    * reproducible and join-stable.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(bucket(col("text"), 10) < 3)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  private val GroupSampleK = 3

  /** §2.K q_group_sample — fixed-k inspection sample PER GROUP (the
    * "show me 3 docs from every source" audit every curation review
    * starts with), deterministic and reshuffle-stable: rank key =
    * md5 of the doc id under a query-scoped salt, the k smallest keys
    * per source win, ties broken by doc_id. Delivered as the bounded
    * top-k aggregate ([[graft.plans.TopKAgg]]), NOT a row_number
    * window: every partition keeps a ≤ k heap per group, so the
    * shuffle carries |partitions| × |groups| × k slim rows while the
    * window form would funnel the whole corpus into |groups|
    * partitions for a full sort — the one shape that concentrates at
    * 100× scale. The rate-based sibling ([[stratifiedSample]]) scales
    * output WITH the corpus; this one keeps the human-readable
    * contract: k rows per group at ANY corpus size.
    */
  def groupSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopKAgg
    val key = md5(concat(lit("gs:"), col("doc_id").cast("string")).cast("binary"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"), key.as("rk"))
      .groupBy("source")
      .agg(TopKAgg.topK(struct(col("rk"), col("doc_id"), col("n_chars")), GroupSampleK).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "it")))
      .select(col("source"), col("it.doc_id").as("doc_id"),
        col("it.n_chars").as("n_chars"), (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("source", "rnk")
  }

  /** Deterministic train/val/test split assignment (80/10/10) by
    * content hash; emits the assignment, not a sampled subset.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        when(bucket(col("text"), 10) < 8, "train")
          .when(bucket(col("text"), 10) < 9, "val")
          .otherwise("test").as("split"))

  /** Document-length histogram per language: fixed-width 100-char
    * buckets — the profile pass before length filtering.
    */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), (floor(col("n_chars") / 100) * 100).as("bucket_lo"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy("lang", "bucket_lo")

  /** Exact dedup after text normalization (lowercase + whitespace
    * collapse): catches trivially-reformatted duplicates that byte
    * dedup misses; representative = lowest doc_id.
    */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(norm.cast("binary")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("h"))
  }

  /** Label-distribution profile of the embedding corpus. ONE scan:
    * the grand total is a scalar aggregate over the per-label counts,
    * broadcast-crossed back in — the counts' shuffle exchange is
    * planned once and REUSED by the total branch (ReusedExchange),
    * so no second scan and no single-partition window anywhere.
    */
  def classBalance(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.embeddings(spark, dir)
      .groupBy("label")
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("tot"))
    counts.crossJoin(broadcast(total))
      .select(col("label"), col("n"),
        round(col("n") / col("tot").cast("double"), 6).as("frac"))
      .orderBy("label")
  }

  /** PSI ≥ 0.2 is the conventional "significant shift" alert line. */
  private val PsiAlert = 0.2

  /** §2.K q_drift_psi — distribution-drift telemetry between corpus
    * snapshots: the population-stability index per monitored feature
    * between the doc_id-midpoint halves ([[Ivm.midpointSplit]] — base
    * = the previous snapshot, delta = the newly ingested slice), the
    * monitoring pass a production corpus pipeline runs between
    * snapshots before retraining on the new mix. Features are
    * deterministic integer/categorical bins (char-length, token
    * count, scaled mean word length, lang, source); proportions are
    * Laplace-smoothed over the feature's observed bin inventory (no
    * log-of-zero on one-sided bins), and each bin's PSI contribution
    * is DECIDED in integer nano-units before the per-feature sum —
    * a last-ulp ln() divergence between engines cannot move the
    * rounded-6 result (the established micro-unit discipline).
    *
    * 100 TB: two histogram aggregations (map-side partial combine —
    * the only shuffle is features × bins wide) + one keyed join on
    * (feature, bin); output bounded by the fixed bin inventories, so
    * the readout is a driver-sized monitoring artifact at any corpus
    * size.
    */
  def driftPsi(spark: SparkSession, dir: String): DataFrame =
    driftPsiFrom(Tables.documents(spark, dir))

  /** The ONE (doc → feature, bin) projection — integer DIV bins
    * (engine-exact, no float binning) capped to a fixed top bin —
    * shared by the batch pass and the streaming monitor (DriftStream)
    * so the two surfaces cannot drift on what a bin is.
    */
  private[graft] def driftBins(d: DataFrame): DataFrame = d
    .withColumn("ntok", size(split(col("text"), " ")))
    .select(explode(array(
      struct(lit("len_chars").as("feature"),
        expr("CAST(least(n_chars DIV 64, 15) AS STRING)").as("bin")),
      struct(lit("n_tokens").as("feature"),
        expr("CAST(least(ntok DIV 8, 15) AS STRING)").as("bin")),
      struct(lit("mean_word_len_x4").as("feature"),
        expr("CAST(least((n_chars * 4) DIV ntok, 31) AS STRING)").as("bin")),
      struct(lit("lang").as("feature"), coalesce(col("lang"), lit("?")).as("bin")),
      struct(lit("source").as("feature"), coalesce(col("source"), lit("?")).as("bin"))
    )).as("fb"))
    .select(col("fb.feature").as("feature"), col("fb.bin").as("bin"))

  /** The PSI readout over two (feature, bin, count) histograms — the
    * serving half shared by the batch pass (midpoint halves) and the
    * streaming monitor (stored base histogram × live ingest
    * histogram). Expects columns (feature, bin, n_b) and
    * (feature, bin, n_d).
    */
  private[graft] def psiOf(histB: DataFrame, histD: DataFrame): DataFrame = {
    val joined = histB.join(histD, Seq("feature", "bin"), "full_outer")
      .na.fill(0L, Seq("n_b", "n_d"))
    // per-feature totals + observed bin inventory: a tiny frame
    // (features × bins rows), so feature-keyed windows are free
    val wf = Window.partitionBy(col("feature"))
    val pA = (col("n_b") + lit(1)).cast("double") /
      (col("tot_b") + col("n_bins")).cast("double")
    val pB = (col("n_d") + lit(1)).cast("double") /
      (col("tot_d") + col("n_bins")).cast("double")
    joined
      .withColumn("tot_b", sum(col("n_b")).over(wf))
      .withColumn("tot_d", sum(col("n_d")).over(wf))
      .withColumn("n_bins", count(lit(1)).over(wf))
      .withColumn("nano",
        round((pA - pB) * log(pA / pB) * lit(1e9), 0).cast("long"))
      .groupBy("feature")
      .agg(max(col("n_bins")).cast("long").as("n_bins"),
        max(col("tot_b")).cast("long").as("n_base"),
        max(col("tot_d")).cast("long").as("n_delta"),
        round(sum(col("nano")) / lit(1e9), 6).as("psi"))
      .withColumn("drifted", col("psi") >= PsiAlert)
      .orderBy("feature")
  }

  /** The drift pass over an explicit document frame — the spec plants
    * a known-PSI shift and pins shard-merge invariance. */
  private[graft] def driftPsiFrom(documents: DataFrame): DataFrame = {
    val docs = documents
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    val (base, delta) = Ivm.midpointSplit(docs, "doc_id")
    psiOf(
      driftBins(base).groupBy("feature", "bin").agg(count(lit(1)).as("n_b")),
      driftBins(delta).groupBy("feature", "bin").agg(count(lit(1)).as("n_d")))
  }

  private[graft] val ContamK = 8
  private[graft] val ContamDfCap = 1000

  /** The ONE contamination posting projection — bench flag (the
    * content-hash 5% slice) + the K-gram generator — shared by the
    * batch pass, the IVM ([[contamIncrementalFrom]]) and the ingest
    * gate (streaming ContamStream), so the three surfaces cannot
    * drift on what a "posting" is.
    */
  private[graft] def contamPostingsOf(d: DataFrame): DataFrame = d
    .select(col("doc_id"), (bucket(col("text"), 20) === 0).as("is_bench"),
      graft.plans.TextExpressions
        .shinglePostingsNative(split(col("text"), " "), ContamK).as("g"))

  /** Benchmark-contamination detection — the standard decontamination
    * pass of an LLM training pipeline: flag training documents that
    * share a K-token n-gram with the held-out benchmark slice. The
    * benchmark here is a deterministic 5% content-hash slice; grams
    * join through a df-capped inverted index (a boilerplate gram
    * shared by d docs is d² join work and zero signal), exactly the
    * dedup suite's blocking discipline.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    // streamed shingle generator above a doc-keyed parallelism barrier
    // (the single-row-group local scan would otherwise shingle the
    // corpus on one core); the is_bench flag (one md5 per doc) is
    // computed below the barrier and rides the postings. Deliberately
    // NO g-keyed barrier above the generator: the hot-df aggregation
    // partial-aggregates map-side and the anti-join is a broadcast, so
    // re-running the cheap generator per consumer beats shuffling the
    // raw gram stream unaggregated (measured ~50% slower with the
    // barrier at the sf1.0 slice); the train⋈bench join below is on g
    // but both sides are post-anti-join slivers, not the raw stream
    val grams = contamPostingsOf(
      repartByKey(Tables.documents(spark, dir).select("doc_id", "text")
        .filter(col("doc_id").isNotNull && col("text").isNotNull), col("doc_id")))
    val hot = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > ContamDfCap).select("g")
    val kept = grams.join(broadcast(hot), Seq("g"), "left_anti")
    val bench = kept.filter(col("is_bench")).select(col("g"), col("doc_id").as("bench_id"))
    val train = kept.filter(!col("is_bench")).select(col("doc_id"), col("g"))
    train.join(bench, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_grams"),
        countDistinct(col("bench_id")).as("n_bench"))
  }

  /** §2.K q_contam_fuzzy — NEAR-DUPLICATE benchmark contamination,
    * the fuzzy sibling of [[contamination]]'s exact K-gram pass: a
    * lightly rephrased eval document thins the exact 8-gram evidence
    * at every edit (and boilerplate grams are df-capped away
    * entirely), while the pair-level Jaccard verdict stays one clean
    * score with the nearest bench doc attached — so real
    * decontamination runs both passes (spec pins the threshold
    * behavior: a light rephrase is caught, a heavy one correctly
    * passes). This one reuses the dedup
    * suite's machinery wholesale — [[DedupOps.minhashBandRows]] for
    * banding, [[DedupOps.verifyPairs]] for the exact-Jaccard verify —
    * with ONE asymmetry: candidates are (train, bench) band-key
    * collisions only, never train×train or bench×bench, so the
    * candidate volume is bounded by the bench slice's bucket
    * membership (5% of the corpus), strictly below the full dedup
    * join. Output: per flagged TRAIN doc, how many bench docs it
    * nears (jac ≥ the suite threshold), the max Jaccard, and the
    * nearest bench doc (jac desc, id asc — deterministic).
    *
    * 100 TB shape: identical blocked cost to q_dedup_minhash minus
    * the train×train quadrant; the is_bench flag rides a slim keyed
    * join onto the 4-rows-per-doc band stream; verify shingles only
    * candidate survivors (the verifyPairs semi-join discipline).
    */
  def contamFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), (bucket(col("text"), 20) === 0).as("is_bench"))
    contamFuzzyFrame(d)
  }

  /** Frame-based core of [[contamFuzzy]] over (doc_id, text,
    * is_bench) — factored for the spec's planted-rephrase test.
    */
  private[operators] def contamFuzzyFrame(d: DataFrame): DataFrame = {
    val docs = d.select(col("doc_id"), col("text"))
    val flags = d.select(col("doc_id"), col("is_bench"))
    // r20: the train- and bench-side filters are differently-pruned
    // consumers, so the 8-md5-per-posting signature aggregation ran
    // once per side — pin the slim flagged band rows once (the
    // dedupMinhashFrame materialization rationale)
    val flagged = DedupOps.minhashBandRows(docs).join(flags, "doc_id")
      .transform(materialize)
    val train = flagged.filter(!col("is_bench"))
      .select(col("band"), col("key"), col("doc_id").as("d1"))
    val bench = flagged.filter(col("is_bench"))
      .select(col("band"), col("key"), col("doc_id").as("d2"))
    val cand = train.join(bench, Seq("band", "key")).select(col("d1"), col("d2"))
    DedupOps.verifyPairs(cand, docs)
      .groupBy(col("d1").as("doc_id"))
      .agg(
        count(lit(1)).as("n_bench_near"),
        max(col("jac")).as("max_jac"),
        min(struct(negate(col("jac")).as("nj"), col("d2").as("d2"))).as("_best"))
      .select(col("doc_id"), col("n_bench_near"), col("max_jac"),
        col("_best.d2").as("nearest_bench"))
      .orderBy("doc_id")
  }

  /** Per-language resampling weights toward a uniform target mixture:
    * weight = target_share / actual_share — the multiplier a sampler
    * applies per document of that language. One aggregation; the
    * totals are a scalar aggregate over the per-lang counts,
    * broadcast-crossed back in (the counts' exchange is reused — no
    * second scan, no single-partition window).
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("tot"), count(lit(1)).as("n_langs"))
    counts.crossJoin(broadcast(totals))
      .select(col("lang"), col("n"),
        round(col("n") / col("tot").cast("double"), 6).as("actual_frac"),
        round(col("tot") / (col("n_langs") * col("n")).cast("double"), 6).as("weight"))
      .orderBy("lang")
  }

  private val ShardBudget = 2048L
  private val PackBucketWidth = 256L

  /** Token-budget shard assignment — the packing pass that turns a
    * curated corpus into fixed-budget training shards: documents are
    * laid out in a deterministic order (doc_id within language) and a
    * document starts a new shard whenever the running token estimate
    * crosses the budget. The rule `shard = tokens_before_doc DIV
    * budget` is a pure function of the running sum, so the layout is
    * reproducible on any engine and any partitioning.
    *
    * Scale shape: the running sum is computed RANGE-BUCKETED, never
    * as one window partition per language (~5 languages would put
    * ~20 TB of a 100 TB corpus through single partitions). Because
    * `bkt = doc_id DIV width` is monotone in doc_id, ordering by
    * (lang, bkt, doc_id) is the same total order as (lang, doc_id),
    * so: (1) each (lang, bkt) partition computes its local running
    * sum independently — thousands of parallel window partitions;
    * (2) per-bucket totals aggregate to a TINY table (|corpus|/width
    * rows) whose exclusive prefix sum per language yields each
    * bucket's starting offset; (3) global cum = bucket offset +
    * local cum, exact integer arithmetic, bit-identical to the
    * single-window layout ([[packShardsSingleWindow]], equality
    * proven in CorpusOpsSpec). The offsets join key (lang, bkt)
    * matches the window's partitioning, so no extra shuffle of the
    * corpus side; the offsets table is NOT broadcast-hinted (it is
    * corpus-derived — AQE may still choose to broadcast it when
    * small). At extreme scale `width` grows with the corpus so the
    * offset table stays bounded.
    */
  def packShards(spark: SparkSession, dir: String): DataFrame =
    packShardsBucketed(spark, dir, PackBucketWidth)

  private[operators] def packShardsBucketed(
      spark: SparkSession, dir: String, bucketWidth: Long): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        ceil(col("n_chars") / 4.0).cast("long").as("est_tokens"))
      .withColumn("bkt", expr(s"doc_id DIV $bucketWidth"))
    val local = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = d.withColumn("local_cum", sum(col("est_tokens")).over(local))
    // per-bucket totals → exclusive prefix sum per language: the only
    // single-partition-per-language work left runs over |corpus|/width
    // rows, not the corpus
    val off = Window.partitionBy(col("lang")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withLocal.groupBy(col("lang"), col("bkt"))
      .agg(sum(col("est_tokens")).as("bkt_total"))
      .withColumn("offset", coalesce(sum(col("bkt_total")).over(off), lit(0L)))
      .select(col("lang"), col("bkt"), col("offset"))
    withLocal.join(offsets, Seq("lang", "bkt"))
      .withColumn("cum_tokens", col("offset") + col("local_cum"))
      .withColumn("shard",
        expr(s"(cum_tokens - est_tokens) DIV $ShardBudget"))
      .select(col("doc_id"), col("lang"), col("est_tokens"),
        col("cum_tokens"), col("shard"))
  }

  /** The one-window-partition-per-language reference layout the
    * bucketed implementation must reproduce bit-for-bit — kept for
    * the CorpusOpsSpec equality proof only; never registered.
    */
  private[operators] def packShardsSingleWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        ceil(col("n_chars") / 4.0).cast("long").as("est_tokens"))
      .withColumn("cum_tokens", sum(col("est_tokens")).over(w))
      .withColumn("shard",
        expr(s"(cum_tokens - est_tokens) DIV $ShardBudget"))
  }

  private val SourceCap = 20
  private val CapBucketWidth = 256L

  /** Per-domain document cap — the web-curation pass that stops one
    * domain from dominating the corpus: within each source, keep the
    * [[SourceCap]] highest-quality documents (quality evaluated on
    * the ROUNDED [[TextOps.qualityCol]] score with doc_id tiebreak,
    * so the cut is engine-portable).
    *
    * Scale shape: top-N per key is computed HIERARCHICALLY, never as
    * one window partition per domain (a mega-domain would put its
    * whole slice through one partition): a first window over
    * (source, doc-id-range-bucket) keeps each bucket's local top-N —
    * thousands of balanced partitions — and only those ≤ N-per-bucket
    * survivors reach the per-source window, a `width`-fold reduction.
    * Correct because every global top-N document is inside its own
    * bucket's top-N; [[sourceCapSingleWindow]] is the reference
    * layout the spec proves equal. Like the shard packer, `width`
    * grows with the corpus so the survivor set stays bounded.
    */
  def sourceCap(spark: SparkSession, dir: String): DataFrame =
    sourceCapBucketed(spark, dir, CapBucketWidth)

  private[operators] def sourceCapBucketed(
      spark: SparkSession, dir: String, bucketWidth: Long): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.qualityCol.as("quality"))
      .withColumn("bkt", expr(s"doc_id DIV $bucketWidth"))
    val local = Window.partitionBy(col("source"), col("bkt"))
      .orderBy(col("quality").desc, col("doc_id"))
    val global = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    d.withColumn("lrn", row_number().over(local)).filter(col("lrn") <= SourceCap)
      .withColumn("rnk", row_number().over(global)).filter(col("rnk") <= SourceCap)
      .select(col("source"), col("doc_id"), col("quality"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("source", "rnk")
  }

  /** One-window-partition-per-source reference layout for the spec's
    * equality proof — never registered.
    */
  private[operators] def sourceCapSingleWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.qualityCol.as("quality"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= SourceCap)
      .select(col("source"), col("doc_id"), col("quality"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("source", "rnk")
  }

  private val TfidfK = 3

  /** Top-k TF-IDF terms per document — the keyword-extraction pass of
    * a curation pipeline (and the classic inverted-index statistic):
    * `score = tf · ln(N / df)`, ranked on the ROUNDED score (term
    * tiebreak) so the cut is engine-portable. Scale shape: two keyed
    * aggregations, a keyed join on term — the df table is
    * corpus-derived and therefore NOT broadcast-hinted (AQE may still
    * choose to when small) — and a per-document window over that
    * document's own terms (bounded by document length). The corpus
    * row count joins in as a one-row broadcast literal.
    */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = repartByKey(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df").cast("double")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TfidfK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rnk").cast("long").as("rnk"))
  }

  /** Sample size for [[weightedSample]]. */
  private val WeightedK = 200

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each document draws key = u^(1/w) with u an md5-derived uniform
    * in (0, 1] and w a length-derived weight; the k largest keys ARE a
    * weighted sample without replacement. Deterministic (no rand()),
    * engine-portable, reshuffle-stable — the reproducibility property
    * every corpus-sampling decision in this repo carries.
    *
    * Scale: orderBy(...).limit(k) plans a distributed TakeOrdered —
    * each partition keeps its local top-k, the driver merges k·p rows,
    * never a global sort or a single-partition window. The same keys
    * also support distributed bottom-k-per-group via groupBy when the
    * sample is per-stratum.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(1.152921504606846976e18) // 2^60
    val w = lit(1.0) + log(lit(1.0) + col("n_chars"))
    val keyed = Tables.documents(spark, dir)
      .withColumn("es_key", pow(u, lit(1.0) / w))
      .withColumn("weight", round(w, 4))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(WeightedK)
    // rank the ≤WeightedK post-limit rows with NO window at all: the
    // tiny frame collapses to one array row, array_sort fixes the
    // (es_key desc, doc_id) order via the negated leading field, and
    // posexplode's position is the rank — same single-partition cost
    // a global window would pay on k rows, zero WindowExec warnings
    keyed
      .agg(array_sort(collect_list(struct((-col("es_key")).as("nk"),
        col("doc_id"), col("lang"), col("n_chars"), col("weight")))).as("a"))
      .select(posexplode(col("a")).as(Seq("p", "s")))
      .select(col("s.doc_id").as("doc_id"), col("s.lang").as("lang"),
        col("s.n_chars").as("n_chars"), col("s.weight").as("weight"),
        (col("p") + 1).cast("long").as("sample_rank"))
  }

  private[operators] val DsirBuckets = 128
  private val DsirTarget  = "src1"

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every
    * document by log p_target(x) − log p_raw(x) under bag-of-hashed-
    * n-gram multinomials — unigrams + bigrams hashed into
    * [[DsirBuckets]] buckets, add-0.5 smoothing — where the target
    * distribution is fit on the [[DsirTarget]] source's documents and
    * the raw distribution on the whole corpus. High-weight documents
    * look like the target domain and get up-sampled by the curation
    * sampler.
    *
    * Engine-portability: the per-bucket log ratio is rounded to
    * integer MICRO-units once (one `round` per bucket, 128 values),
    * and each document sums LONGS — an order-independent exact sum,
    * immune to float-addition reordering across partitions/engines —
    * then divides back at the output boundary.
    *
    * Scale shape: one corpus pass builds both bucket histograms in a
    * single 128-group aggregate (map-side partial combine: each task
    * emits ≤ 128 rows regardless of input size); the 128-row ratio
    * table is BROADCAST back onto the feature stream; the per-doc sum
    * is one keyed aggregation. Everything is linear in corpus size;
    * no vocabulary-sized state ever exists (that is the point of the
    * paper's hashed features).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    // the explode pass (the dominant cost) feeds TWO consumers — the
    // 128-bucket histogram and the final per-doc join — so the slim
    // (doc_id, source, b) frame is materialized exactly once (the dt
    // discipline at TextOps.pmiPairs); without this the plan pays the
    // full tokenize+shingle+explode scan twice
    val feats = {
      val toks = split(col("text"), " ")
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          explode(concat(toks, Hashing.shingles(toks, 2))).as("f"))
        .select(col("doc_id"), col("source"),
          bucket(col("f"), DsirBuckets).as("b"))
        .transform(materialize)
    }
    val cnt = feats.groupBy("b").agg(
      count(lit(1)).as("cr"),
      count(when(col("source") === DsirTarget, 1)).as("ct"))
    val tot = cnt.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    // all 128 buckets, so never-seen buckets still carry smoothed mass
    val ratio = spark.range(DsirBuckets).select(col("id").as("b"))
      .join(cnt, Seq("b"), "left").na.fill(0L, Seq("cr", "ct"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        round((log((col("ct") + 0.5) / (col("tt") + DsirBuckets * 0.5)) -
          log((col("cr") + 0.5) / (col("tr") + DsirBuckets * 0.5))) * 1e6, 0)
          .cast("long").as("li"))
    // no presentation sort: the output is O(corpus) rows and the
    // driver's checker row-sorts before hashing
    feats.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("li")) / 1e6, 6).as("logw"))
  }

  private[operators] val BootB = 64
  private val CiLoRank = math.ceil(0.025 * BootB).toInt // 2
  private val CiHiRank = math.ceil(0.975 * BootB).toInt // 63

  /** Poisson(1) inverse-CDF thresholds as exact uint32 bounds:
    * resample weight w = #{k : u32 ≥ t_k}, u32 the md5-derived
    * uniform. The SAME Scala doubles print into the oracle SQL, so
    * the weights are engine-exact by construction.
    */
  private[operators] val PoisThresholds: Seq[Long] = {
    var p = math.exp(-1.0)
    var cum = p
    val b = Seq.newBuilder[Long]
    b += math.floor(cum * 4294967296.0).toLong
    for (k <- 1 to 7) { p = p / k; cum += p; b += math.floor(cum * 4294967296.0).toLong }
    b.result()
  }

  /** §2.K q_bootstrap_ci — distributed uncertainty quantification for
    * corpus statistics: a 95 % Poisson-bootstrap confidence interval
    * for the per-language mean document length. The POISSON bootstrap
    * (Chamandy et al. 2012 — "Estimating Uncertainty for Massive Data
    * Streams", the standard bootstrap at map-reduce scale) replaces
    * multinomial resampling (which needs n known and a global draw)
    * with i.i.d. Poisson(1) weights per (row, resample) — every
    * weight is a pure function of (doc_id, b) through md5, so the
    * whole procedure is deterministic, reshuffle-stable and
    * engine-portable like every sampling pass here. [[BootB]] = 64
    * resamples; per-resample means are EXACT-integer-sum ratios
    * (identical doubles on any engine, so the rank order — tie-broken
    * on b — is bit-stable); the CI is the (2.5 %, 97.5 %) order
    * statistic of the resample means.
    *
    * 100 TB: the fan-out is B rows per doc but the aggregation is
    * map-side combined onto |langs|·B cells — the shuffle carries
    * partitions × |langs| × B partial sums, constant in corpus size;
    * the rank window sees B rows per lang.
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val w = PoisThresholds.map(t =>
      when(col("u") >= lit(t), 1L).otherwise(0L)).reduce(_ + _)
    val means = docs
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u", Hashing.hex32(
        concat(col("doc_id").cast("string"), lit(":"), col("b").cast("string"))))
      .select(col("lang"), col("b"), w.as("w"), col("n_chars"))
      .groupBy("lang", "b")
      .agg(sum(col("w") * col("n_chars")).as("swx"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0) // a degenerate all-zero resample (P ≈ e^-n) drops out
      .select(col("lang"), col("b"), (col("swx") / col("sw").cast("double")).as("mean_b"))
    val rw = Window.partitionBy("lang").orderBy("mean_b", "b")
    val ci = means.withColumn("rnk", row_number().over(rw))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_resamples"),
        min(when(col("rnk") === CiLoRank, col("mean_b"))).as("ci_lo"),
        min(when(col("rnk") === CiHiRank, col("mean_b"))).as("ci_hi"))
    val point = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), avg(col("n_chars")).as("mean"))
    point.join(ci, "lang")
      .select(col("lang"), col("n_docs"), round(col("mean"), 4).as("mean"),
        round(col("ci_lo"), 4).as("ci_lo"), round(col("ci_hi"), 4).as("ci_hi"),
        col("n_resamples"))
      .orderBy("lang")
  }

  /** §2.K q_curate_e2e — the COMPOSED curation pipeline as one
    * registered query, the proof the suite's stages compose in ONE
    * DAG: exact (normalized) dedup → trained-LR quality keep →
    * benchmark-doc + contamination drop → per-source cap → shard
    * assignment, all on a SINGLE scan of the document table.
    *
    * Stage plumbing, deliberately artifact-shaped:
    *  - the ONE corpus projection carries every per-doc input
    *    (normalized hash, the three LR features, the bench flag,
    *    n_chars) — stages after it are window/filter/join nodes over
    *    that scan, never a re-read;
    *  - the LR weights arrive as SCALAR LITERALS from the memoized
    *    trained artifact ([[TextOps.lrWeights]] — 4 micro-unit longs, the
    *    bounded driver state the training family already owns);
    *  - the contaminated-id set is a BOUNDED side artifact
    *    (materialized once, like the trainer's
    *    feature frame) and joins back broadcast-anti — the e2e plan
    *    itself reads the parquet exactly once (spec-asserted);
    *  - the per-source cap uses the hierarchical two-window layout of
    *    [[sourceCapBucketed]] (ranked on the trained p_quality, not
    *    the rule score — the pipeline consumes its own upstream);
    *  - the final packing window runs over the CAP-BOUNDED survivor
    *    set (≤ |sources| × [[SourceCap]] rows by construction), so the
    *    per-lang running sum is safe at any corpus size.
    *
    * The oracle recomposes the identical stages (shared unrolled-LR
    * prefix, the dedup/contamination mirrors, the same rank cuts), so
    * the WHOLE pipeline passes the hash gate end to end.
    */
  /** ONE materialized contaminated-id artifact per (session, dir) —
    * repeated q_curate_e2e calls (two verify SFs, bench passes,
    * parity probes) reuse it instead of pinning a FRESH checkpoint
    * each call (the accumulating-retention pattern advice #4 removed
    * from the LR memo). Cleared — with its blocks unpersisted — by
    * [[resetArtifactCaches]], which the parity spec's retrain reset
    * reaches via [[TextOps.resetTrainedCaches]].
    */
  private val contamMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def contamIdsMemoized(spark: SparkSession, dir: String): DataFrame =
    contamMemo.computeIfAbsent(s"${spark.hashCode()}|$dir", { _ =>
      materialize(contamination(spark, dir).select("doc_id"))
    })

  /** Drop the memoized derived-artifact frames and release their
    * block-manager storage. */
  private[graft] def resetArtifactCaches(): Unit = {
    contamMemo.values().forEach(df => df.unpersist(blocking = false))
    contamMemo.clear()
  }

  /** The curation stages' per-doc projection — ONE copy shared by the
    * batch pipeline, its funnel, and the streaming ingest gate
    * ([[graft.streaming.CurateStream]]): normalized-content hash, the
    * three LR features, the benchmark-slice flag.
    */
  private[graft] def curateBase(d: DataFrame,
      extra: org.apache.spark.sql.Column*): DataFrame = d.select(
    col("doc_id") +: col("source") +: col("lang") +: col("n_chars") +:
    md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary")).as("h") +:
    TextOps.lrX1m.as("x1m") +: TextOps.lrX2m.as("x2m") +: TextOps.lrX3m.as("x3m") +:
    (bucket(col("text"), 20) === 0).as("is_bench") +: extra: _*)

  /** The dedup window shared by the pipeline and its funnel. */
  private def curateDedupW =
    Window.partitionBy(col("h")).orderBy(col("doc_id"))

  /** The per-source cap over a survivor frame carrying `p_quality` —
    * the hierarchical two-window cut, ONE copy so the pipeline and
    * its funnel cannot drift (the assignCells discipline).
    */
  private def curateCapped(survivors: DataFrame): DataFrame = {
    val local = Window.partitionBy(col("source"), expr(s"doc_id DIV $CapBucketWidth"))
      .orderBy(col("p_quality").desc, col("doc_id"))
    val global = Window.partitionBy(col("source"))
      .orderBy(col("p_quality").desc, col("doc_id"))
    survivors
      .withColumn("lrn", row_number().over(local)).filter(col("lrn") <= SourceCap)
      .withColumn("src_rnk", row_number().over(global)).filter(col("src_rnk") <= SourceCap)
  }

  def curateE2e(spark: SparkSession, dir: String): DataFrame = {
    val w = TextOps.lrWeights(spark, dir)
    val contamIds = contamIdsMemoized(spark, dir)
    val base = curateBase(Tables.documents(spark, dir))
    val survivors = base
      .withColumn("dup_rn", row_number().over(curateDedupW)).filter(col("dup_rn") === 1)
      .withColumn("p_quality", TextOps.lrPm(w) / lit(1e6))
      .filter(col("p_quality") >= 0.5 && !col("is_bench"))
      .join(broadcast(contamIds), Seq("doc_id"), "left_anti")
    val capped = curateCapped(survivors)
    val pack = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    capped
      .withColumn("est_tokens", ceil(col("n_chars") / 4.0).cast("long"))
      .withColumn("cum_tokens", sum(col("est_tokens")).over(pack))
      .withColumn("shard", expr(s"(cum_tokens - est_tokens) DIV $ShardBudget"))
      .select(col("doc_id"), col("source"), col("lang"), col("p_quality"),
        col("src_rnk").cast("long").as("src_rnk"),
        col("est_tokens"), col("cum_tokens"), col("shard"))
      .orderBy("doc_id")
  }

  /** §2.K q_contam_incremental — IVM for the DECONTAMINATION PASS:
    * q_contamination maintained from the delta slice alone, the
    * inverted-index economics a real decontam system runs on (the
    * gram index is the stored artifact; a nightly ingest must not
    * re-shingle years of corpus). The corpus splits at the doc_id
    * midpoint; the stored state is the base slice's POSTING INDEX
    * ((gram, doc_id, is_bench) — per-doc-distinct, exactly what the
    * batch generator emits), its df table, and the base contamination
    * RESULT. The update:
    *
    *  - delta postings + df deltas: O(|delta|) shingling, one keyed
    *    df merge touching only delta grams;
    *  - the hot (df-capped boilerplate) set is INSERT-ONLY — df only
    *    grows, so grams can become hot, never un-hot: newly-hot =
    *    touched grams whose merged df crosses the cap;
    *  - affected docs = docs holding a TOUCHED gram (one keyed lookup
    *    into the index). Every other base doc's row is provably
    *    unchanged — none of its grams gained df, bench postings, or
    *    hotness — and passes through from the stored result;
    *  - affected base docs + delta docs re-evaluate against the
    *    merged kept index. The df cap BOUNDS this: every kept gram's
    *    posting list is ≤ cap and a newly-hot gram's list is ≈ cap at
    *    crossing, so the re-evaluation set is ≤ |delta grams| · cap —
    *    never corpus-shaped. The subtle retroactive case falls out
    *    correctly: a delta arrival pushing a gram over the cap
    *    REMOVES that gram's evidence from base docs (boilerplate
    *    discovered late is still boilerplate), and those docs are in
    *    the affected set precisely because the gram is touched.
    *
    * ORACLE = q_contamination's full-corpus SQL verbatim, so the hash
    * gate proves incremental ≡ full — cross-boundary contamination
    * (a delta bench doc flagging a base train doc), late boilerplate
    * demotion, and delta-internal evidence included.
    */
  def contamIncremental(spark: SparkSession, dir: String): DataFrame =
    contamIncrementalFrom(Tables.documents(spark, dir))._2

  /** The incremental decontamination over an explicit document frame —
    * returns (affected doc ids, output) so the spec can pin that the
    * pass-through path really carries unchanged rows.
    */
  private[graft] def contamIncrementalFrom(documents: DataFrame): (DataFrame, DataFrame) = {
    val docs = repartByKey(documents.select("doc_id", "text")
        .filter(col("doc_id").isNotNull && col("text").isNotNull), col("doc_id"))
    val (baseSlice, deltaSlice) = Ivm.midpointSplit(docs, "doc_id")
    def postings(d: DataFrame): DataFrame = contamPostingsOf(d)
    // MATERIALIZE the two posting indexes once: the batch query deliberately re-runs the cheap generator per
    // consumer (3 consumers), but the incremental split has ~7 —
    // measured 15.6 s at the sf1.0 slice unmaterialized vs 6.7 s
    // materialized (batch: 2.3 s; the gap is the in-plan recomputation
    // of the stored state, priced here but free in deployment where
    // the base index is READ, not re-shingled). The delta index is
    // built once and appended.
    val basePost = materialize(postings(baseSlice))
    val deltaPost = materialize(postings(deltaSlice))

    // stored df state + the delta's df update, merged on touched grams only
    val baseDf = basePost.groupBy("g").agg(count(lit(1)).as("df_b"))
    val deltaDf = deltaPost.groupBy("g").agg(count(lit(1)).as("df_d"))
    val baseHot = baseDf.filter(col("df_b") > ContamDfCap).select("g")
    val newlyHot = deltaDf.join(baseDf, Seq("g"), "left")
      .filter(col("df_d") + coalesce(col("df_b"), lit(0L)) > ContamDfCap)
      .select("g")
    val hotAll = baseHot.union(newlyHot).distinct()

    // the stored base RESULT (what the previous run shipped)
    val baseKept = basePost.join(baseHot, Seq("g"), "left_anti")
    def evidence(kept: DataFrame): DataFrame =
      kept.filter(!col("is_bench")).select(col("doc_id"), col("g"))
        .join(kept.filter(col("is_bench")).select(col("g"), col("doc_id").as("bench_id")), "g")
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_grams"),
          countDistinct(col("bench_id")).as("n_bench"))
    val baseResult = evidence(baseKept)

    // affected = docs holding a touched gram that is NOT already hot
    // in the base — an already-hot gram was excluded from evidence
    // before the delta and stays excluded (hotness is insert-only),
    // so it cannot change any doc's row; dropping those grams here is
    // what keeps the affected set cap-BOUNDED (a non-hot gram's base
    // posting list is ≤ the df cap by definition; a hot gram's list
    // is the corpus-shaped one we must never walk). Everything not
    // affected passes through the stored result untouched.
    val touchedLive = deltaDf.select("g").join(baseHot, Seq("g"), "left_anti")
    val affected = basePost.join(touchedLive, Seq("g"))
      .select("doc_id").distinct()
      .union(deltaPost.select("doc_id").distinct()).distinct()
    val unchanged = baseResult.join(affected, Seq("doc_id"), "left_anti")

    // re-evaluate the affected docs against the merged kept index.
    // Only the TRAIN side restricts to affected docs; the bench side
    // must see the WHOLE kept bench slice (an affected train doc's
    // evidence can come from an untouched base bench doc) — but the
    // bench slice is 5% of the index and the hot anti-join runs on
    // these two bounded streams, never the full index
    val merged = basePost.unionByName(deltaPost)
    val trainEval = merged.filter(!col("is_bench"))
      .join(affected, Seq("doc_id"))
      .join(hotAll, Seq("g"), "left_anti")
      .select(col("doc_id"), col("g"))
    val benchKept = merged.filter(col("is_bench"))
      .join(hotAll, Seq("g"), "left_anti")
      .select(col("g"), col("doc_id").as("bench_id"))
    val reEvaluated = trainEval.join(benchKept, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_grams"),
        countDistinct(col("bench_id")).as("n_bench"))
    (affected, unchanged.unionByName(reEvaluated))
  }

  /** §2.K q_curate_incremental — IVM for the CURATED CORPUS: the
    * composed pipeline ([[curateE2e]]) maintained from the delta
    * slice alone, never re-curating the base — the nightly-ingest
    * economics the suite already proves for dimensions
    * (q_scd2_incremental) and aggregate views
    * (q_cdc_incremental_view), applied to the training-corpus
    * artifact itself. The corpus splits at the doc_id midpoint (the
    * midpointCut discipline); the base slice's outputs are the STORED
    * STATE a deployment holds between runs, and the update touches:
    *
    *  - dedup: the state is the base slice's DISTINCT HASH set (the
    *    q_dedup_incremental state shape — a hash seen in base always
    *    owns the min doc_id, so any delta re-occurrence is a dup
    *    regardless of what later stages did to the base winner);
    *    delta work = delta-internal min-id window + one keyed
    *    anti-join against the state;
    *  - quality / bench / decontam: per-doc decisions (trained-LR
    *    literals, content-hash bench flag, the bounded contaminated-id
    *    artifact) — delta rows only, embarrassingly incremental;
    *  - per-source cap: top-N is INSERT-ONLY MERGEABLE —
    *    topN(full) = topN(topN(base) ∪ delta), and every final
    *    winner's rank is unchanged by the rows topN(base) dropped
    *    (anything it dropped is beaten by N retained rows, so it
    *    ranks below every winner) — so the stored state is just the
    *    base's CAPPED layout (≤ |sources|·cap rows) and the merge
    *    re-ranks a bounded frame, never the corpus;
    *  - shard pack: delta doc_ids all sort after base doc_ids, but a
    *    delta doc can EVICT a base doc from the cap and shift every
    *    later running sum in that language — so the pack recomputes,
    *    honestly, over the merged CAPPED set: bounded input, corpus-
    *    independent cost (the stage was designed cap-bounded in
    *    curateE2e for exactly this reason).
    *
    * The ORACLE is q_curate_e2e's full-corpus recomposition verbatim,
    * so the hash gate proves incremental ≡ full — dedup ownership
    * across the boundary, cap evictions, and shifted shard layouts
    * included. CurateIncrementalSpec additionally pins result ≡ the
    * registered batch query on executed plans and that real cap
    * evictions occur at both gate SFs (the merge is not a no-op).
    */
  def curateIncremental(spark: SparkSession, dir: String): DataFrame =
    curateIncrementalFrom(Tables.documents(spark, dir),
      TextOps.lrWeights(spark, dir), contamIdsMemoized(spark, dir))._2

  /** The incremental pipeline over an explicit document frame —
    * returns (the base slice's stored capped state, the maintained
    * output) so the spec can pin evictions and plant cross-boundary
    * duplicates on a controlled frame.
    */
  private[graft] def curateIncrementalFrom(docs: DataFrame, w: Array[Long],
      contamIds: DataFrame): (DataFrame, DataFrame) = {
    val all = curateBase(docs)
    val (base, delta) = Ivm.midpointSplit(all, "doc_id")

    // the stored state, computed here from the base slice exactly as
    // the previous run's pipeline left it
    def survivorsOf(d: DataFrame): DataFrame = d
      .withColumn("dup_rn", row_number().over(curateDedupW)).filter(col("dup_rn") === 1)
      .withColumn("p_quality", TextOps.lrPm(w) / lit(1e6))
      .filter(col("p_quality") >= 0.5 && !col("is_bench"))
      .join(broadcast(contamIds), Seq("doc_id"), "left_anti")
    val stateCols = Seq("doc_id", "source", "lang", "n_chars", "p_quality")
    val baseCapped = curateCapped(survivorsOf(base))
      .select(stateCols.map(col): _*)
    val baseHashes = base.select(col("h")).distinct()

    // the increment: delta-only corpus-scale work
    val deltaSurvivors = survivorsOf(delta)
      .join(baseHashes, Seq("h"), "left_anti")
      .select(stateCols.map(col): _*)

    // bounded-state merge: re-cap topN(base) ∪ delta, repack
    val capped = curateCapped(baseCapped.unionByName(deltaSurvivors))
    val pack = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = capped
      .withColumn("est_tokens", ceil(col("n_chars") / 4.0).cast("long"))
      .withColumn("cum_tokens", sum(col("est_tokens")).over(pack))
      .withColumn("shard", expr(s"(cum_tokens - est_tokens) DIV $ShardBudget"))
      .select(col("doc_id"), col("source"), col("lang"), col("p_quality"),
        col("src_rnk").cast("long").as("src_rnk"),
        col("est_tokens"), col("cum_tokens"), col("shard"))
      .orderBy("doc_id")
    (baseCapped, out)
  }

  /** §2.K q_curate_funnel — the ATTRITION telemetry of the composed
    * pipeline (the preflight-family discipline applied to
    * [[curateE2e]]): one row per stage with the surviving document
    * count and the kept fraction — the funnel a curation operator
    * reads to see WHERE the corpus is going before shipping the
    * composed output. Stage semantics and order mirror curateE2e
    * EXACTLY (dedup → quality → bench drop → decontaminate → cap);
    * the first five counts come from ONE aggregation over a flagged
    * single-scan frame (conditional sums over cumulative stage
    * flags), the cap count from the same two-window survivor frame
    * the e2e query ships. Output is 6 rows regardless of corpus size.
    */
  def curateFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = TextOps.lrWeights(spark, dir)
    val contamIds = contamIdsMemoized(spark, dir)
    val base = curateBase(Tables.documents(spark, dir))
    // p_quality evaluated ONCE; the q flag derives from the column
    val flagged = base
      .withColumn("d", row_number().over(curateDedupW) === 1)
      .withColumn("p_quality", TextOps.lrPm(w) / lit(1e6))
      .withColumn("q", col("p_quality") >= 0.5)
      .join(broadcast(contamIds.withColumn("_contam", lit(true))), Seq("doc_id"), "left")
      .withColumn("c", coalesce(col("_contam"), lit(false)))
    val survivors = flagged
      .filter(col("d") && col("q") && !col("is_bench") && !col("c"))
    val nCapped = curateCapped(survivors)
      .groupBy().agg(count(lit(1)).as("n5"))
    def n(cond: org.apache.spark.sql.Column) = sum(when(cond, 1L).otherwise(0L))
    flagged.groupBy().agg(
        count(lit(1)).as("n0"),
        n(col("d")).as("n1"),
        n(col("d") && col("q")).as("n2"),
        n(col("d") && col("q") && !col("is_bench")).as("n3"),
        n(col("d") && col("q") && !col("is_bench") && !col("c")).as("n4"))
      .crossJoin(nCapped)
      .selectExpr(
        """stack(6,
          |  CAST(0 AS BIGINT), 'total', n0,
          |  CAST(1 AS BIGINT), 'after_dedup', n1,
          |  CAST(2 AS BIGINT), 'after_quality', n2,
          |  CAST(3 AS BIGINT), 'after_bench_drop', n3,
          |  CAST(4 AS BIGINT), 'after_decontam', n4,
          |  CAST(5 AS BIGINT), 'after_cap', n5
          |) AS (stage_idx, stage, n_docs)""".stripMargin,
        "n0")
      .select(col("stage_idx"), col("stage"), col("n_docs"),
        round(col("n_docs") / col("n0").cast("double"), 6).as("kept_frac"))
      .orderBy("stage_idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curate_e2e" -> (curateE2e _),
    "q_curate_incremental" -> (curateIncremental _),
    "q_curate_funnel" -> (curateFunnel _),
    "q_bootstrap_ci" -> (bootstrapCi _),
    "q_dsir_weights" -> (dsirWeights _),
    "q_weighted_sample" -> (weightedSample _),
    "q_source_cap" -> (sourceCap _),
    "q_tfidf_terms" -> (tfidfTerms _),
    "q_pack_shards" -> (packShards _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_group_sample" -> (groupSample _),
    "q_train_test_split" -> (trainTestSplit _),
    "q_length_histogram" -> (lengthHistogram _),
    "q_dedup_normalized" -> (dedupNormalized _),
    "q_class_balance" -> (classBalance _),
    "q_contamination" -> (contamination _),
    "q_drift_psi" -> (driftPsi _),
    "q_contam_incremental" -> (contamIncremental _),
    "q_contam_fuzzy" -> (contamFuzzy _),
    "q_mixture_weights" -> (mixtureWeights _))

  private val sqlBucket = "('0x' || substr(md5(text), 1, 8))::BIGINT % 10"

  /** The composed pipeline's shared oracle CTE chain (through the
    * `surv` survivor set) — ONE copy serving q_curate_e2e and its
    * funnel telemetry: the unrolled-LR prefix scores every doc, the
    * q_dedup_normalized mirror picks representatives, the
    * q_contamination mirror flags grams-overlap docs, then the same
    * p_quality/bench/decontam filters.
    */
  private def curateStagesSql: String =
    s"""${TextOps.sqlLrPrefix},
       |lrsc AS MATERIALIZED (
       |  SELECT doc_id, ${TextOps.sqlPmExpr} / 1000000.0 p_quality
       |  FROM f CROSS JOIN ws${TextOps.LrSteps} CROSS JOIN sig
       |), nh AS (
       |  SELECT doc_id, source, lang, n_chars,
       |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) h,
       |         ('0x' || substr(md5(text), 1, 8))::BIGINT % 20 = 0 is_bench
       |  FROM documents
       |), keep1 AS MATERIALIZED (
       |  SELECT * FROM nh
       |  QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
       |), ct AS (
       |  SELECT doc_id, string_split(text, ' ') toks,
       |         ('0x' || substr(md5(text), 1, 8))::BIGINT % 20 = 0 is_bench
       |  FROM documents
       |), cg AS MATERIALIZED (
       |  SELECT doc_id, is_bench,
       |         unnest(list_distinct(list_transform(
       |           range(1, greatest(len(toks) - ${ContamK - 1}, 0) + 1),
       |           i -> array_to_string(toks[i:i+${ContamK - 1}], ' ')))) gram
       |  FROM ct
       |), chot AS (
       |  SELECT gram FROM cg GROUP BY gram HAVING count(*) > $ContamDfCap
       |), ckept AS MATERIALIZED (
       |  SELECT * FROM cg WHERE gram NOT IN (SELECT gram FROM chot)
       |), contam AS MATERIALIZED (
       |  SELECT DISTINCT t.doc_id
       |  FROM (SELECT doc_id, gram FROM ckept WHERE NOT is_bench) t
       |  JOIN (SELECT gram FROM ckept WHERE is_bench) b USING (gram)
       |), surv AS MATERIALIZED (
       |  SELECT k.doc_id, k.source, k.lang, k.n_chars, s.p_quality
       |  FROM keep1 k JOIN lrsc s USING (doc_id)
       |  WHERE s.p_quality >= 0.5 AND NOT k.is_bench
       |    AND k.doc_id NOT IN (SELECT doc_id FROM contam)
       |)""".stripMargin

  /** The full-corpus recomposition of the pipeline's OUTPUT (stage
    * chain → source cap → pack) — one copy serving q_curate_e2e AND
    * q_curate_incremental: the incremental query's whole claim is
    * producing this exact result from the delta slice alone, so its
    * oracle must BE the full recomposition, never a parallel copy
    * that could drift.
    */
  private def curateOutputSql: String =
    s"""WITH $curateStagesSql, capped AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |                               ORDER BY p_quality DESC, doc_id) src_rnk
       |  FROM surv QUALIFY src_rnk <= $SourceCap
       |), packed AS (
       |  SELECT doc_id, source, lang, p_quality, src_rnk,
       |         CAST(ceil(n_chars / 4.0) AS BIGINT) est_tokens,
       |         CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT))
       |           OVER (PARTITION BY lang ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_tokens
       |  FROM capped
       |)
       |SELECT doc_id, source, lang, p_quality, CAST(src_rnk AS BIGINT) src_rnk,
       |       est_tokens, cum_tokens,
       |       (cum_tokens - est_tokens) // $ShardBudget AS shard
       |FROM packed ORDER BY doc_id""".stripMargin

  /** The full-corpus decontamination SQL — one copy serving
    * q_contamination AND q_contam_incremental (the curateOutputSql
    * discipline: an incremental query's oracle must BE the full
    * recomposition, never a copy that could drift).
    */
  private def contaminationSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') toks,
       |         ('0x' || substr(md5(text), 1, 8))::BIGINT % 20 = 0 is_bench
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, is_bench,
       |         unnest(list_distinct(list_transform(
       |           range(1, greatest(len(toks) - ${ContamK - 1}, 0) + 1),
       |           i -> array_to_string(toks[i:i+${ContamK - 1}], ' ')))) gram
       |  FROM t
       |), hot AS (
       |  SELECT gram FROM g GROUP BY gram HAVING count(*) > $ContamDfCap
       |), kept AS (
       |  SELECT * FROM g WHERE gram NOT IN (SELECT gram FROM hot)
       |), bench AS (SELECT gram, doc_id bench_id FROM kept WHERE is_bench),
       |train AS (SELECT doc_id, gram FROM kept WHERE NOT is_bench)
       |SELECT doc_id,
       |       CAST(count(DISTINCT gram) AS BIGINT) n_grams,
       |       CAST(count(DISTINCT bench_id) AS BIGINT) n_bench
       |FROM train JOIN bench USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // the composed pipeline, stage for stage, then the per-source
    // rank cut and per-lang packing window
    "q_curate_e2e" -> curateOutputSql,
    // incremental ≡ full IS the claim: the oracle recomputes from the
    // whole corpus while the query maintains from the delta slice
    "q_curate_incremental" -> curateOutputSql,
    // the same stage chain, counted: cumulative survivors per stage +
    // kept fraction vs the raw corpus
    "q_curate_funnel" ->
      s"""WITH $curateStagesSql, n5 AS (
         |  SELECT count(*) n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY source
         |                                 ORDER BY p_quality DESC, doc_id) src_rnk
         |    FROM surv QUALIFY src_rnk <= $SourceCap)
         |), funnel AS (
         |  SELECT CAST(0 AS BIGINT) stage_idx, 'total' stage,
         |         (SELECT count(*) FROM nh) n_docs
         |  UNION ALL SELECT 1, 'after_dedup', (SELECT count(*) FROM keep1)
         |  UNION ALL SELECT 2, 'after_quality',
         |    (SELECT count(*) FROM keep1 k JOIN lrsc s USING (doc_id)
         |     WHERE s.p_quality >= 0.5)
         |  UNION ALL SELECT 3, 'after_bench_drop',
         |    (SELECT count(*) FROM keep1 k JOIN lrsc s USING (doc_id)
         |     WHERE s.p_quality >= 0.5 AND NOT k.is_bench)
         |  UNION ALL SELECT 4, 'after_decontam', (SELECT count(*) FROM surv)
         |  UNION ALL SELECT 5, 'after_cap', (SELECT n FROM n5)
         |)
         |SELECT stage_idx, stage, CAST(n_docs AS BIGINT) n_docs,
         |       round(n_docs / (SELECT count(*) FROM nh)::DOUBLE, 6) kept_frac
         |FROM funnel ORDER BY stage_idx""".stripMargin,
    "q_bootstrap_ci" -> {
      val wSql = PoisThresholds.map(t =>
        s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
         |rs AS (
         |  SELECT lang, b, $wSql w, n_chars
         |  FROM (SELECT doc_id, lang, n_chars, b,
         |          ('0x' || substr(md5(doc_id::VARCHAR || ':' || b::VARCHAR), 1, 8))::BIGINT u
         |        FROM d, (SELECT unnest(range(0, $BootB)) b))
         |), m AS (
         |  SELECT lang, b, sum(w * n_chars) / sum(w)::DOUBLE mean_b
         |  FROM rs GROUP BY lang, b HAVING sum(w) > 0
         |), r AS (
         |  SELECT lang, mean_b,
         |         row_number() OVER (PARTITION BY lang ORDER BY mean_b, b) rnk
         |  FROM m
         |), ci AS (
         |  SELECT lang, count(*) n_resamples,
         |         min(CASE WHEN rnk = $CiLoRank THEN mean_b END) ci_lo,
         |         min(CASE WHEN rnk = $CiHiRank THEN mean_b END) ci_hi
         |  FROM r GROUP BY lang
         |), p AS (
         |  SELECT lang, count(*) n_docs, avg(n_chars) pmean FROM d GROUP BY lang
         |)
         |SELECT lang, CAST(n_docs AS BIGINT) n_docs,
         |  round(pmean, 4) "mean", round(ci_lo, 4) ci_lo, round(ci_hi, 4) ci_hi,
         |  CAST(n_resamples AS BIGINT) n_resamples
         |FROM p JOIN ci USING (lang) ORDER BY lang""".stripMargin
    },
    "q_dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') ts FROM documents),
         |feats AS (
         |  SELECT doc_id, source, ('0x' || substr(md5(f), 1, 8))::BIGINT % $DsirBuckets b
         |  FROM (
         |    SELECT doc_id, source, unnest(ts) f FROM tok
         |    UNION ALL
         |    SELECT doc_id, source,
         |           unnest(list_transform(range(1, greatest(len(ts) - 1, 0) + 1),
         |                                 i -> array_to_string(ts[i:i+1], ' '))) f
         |    FROM tok
         |  )
         |),
         |cnt AS (SELECT b, count(*) cr,
         |               count(CASE WHEN source = '$DsirTarget' THEN 1 END) ct
         |        FROM feats GROUP BY b),
         |tot AS (SELECT sum(cr) tr, sum(ct) tt FROM cnt),
         |ratio AS (
         |  SELECT r.range b,
         |         CAST(round((ln((coalesce(ct, 0) + 0.5) / (tt + ${DsirBuckets * 0.5})) -
         |                     ln((coalesce(cr, 0) + 0.5) / (tr + ${DsirBuckets * 0.5}))) * 1e6)
         |              AS BIGINT) li
         |  FROM range(0, $DsirBuckets) r LEFT JOIN cnt ON r.range = cnt.b, tot
         |)
         |SELECT doc_id, count(*) n_feats, round(sum(li) / 1e6, 6) logw
         |FROM feats JOIN ratio USING (b)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      s"""WITH k AS (
         |  SELECT doc_id, lang, n_chars,
         |         pow((('0x' || substr(md5(text), 1, 15))::BIGINT + 1) / 1.152921504606846976e18,
         |             1.0 / (1.0 + ln(1.0 + n_chars))) AS es_key,
         |         round(1.0 + ln(1.0 + n_chars), 4) AS weight
         |  FROM documents
         |), top AS (
         |  SELECT * FROM k ORDER BY es_key DESC, doc_id LIMIT $WeightedK
         |)
         |SELECT doc_id, lang, n_chars, weight,
         |       row_number() OVER (ORDER BY es_key DESC, doc_id) AS sample_rank
         |FROM top ORDER BY sample_rank""".stripMargin,
    "q_source_cap" ->
      s"""WITH q AS (
         |  SELECT doc_id, source, ${TextOps.SqlQuality} quality FROM documents
         |)
         |SELECT source, doc_id, quality,
         |       row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) rnk
         |FROM q QUALIFY rnk <= $SourceCap ORDER BY source, rnk""".stripMargin,
    "q_tfidf_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) tf FROM tok GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) df FROM tf GROUP BY term),
         |n AS (SELECT count(*) n_docs FROM documents),
         |s AS (
         |  SELECT doc_id, term, tf, df,
         |         round(tf * ln(n_docs / df::DOUBLE), 6) score
         |  FROM tf JOIN df USING (term), n
         |)
         |SELECT doc_id, term, tf, df, score,
         |       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) rnk
         |FROM s QUALIFY rnk <= $TfidfK ORDER BY doc_id, rnk""".stripMargin,
    "q_pack_shards" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(ceil(n_chars / 4.0) AS BIGINT) est_tokens FROM documents
         |), c AS (
         |  SELECT doc_id, lang, est_tokens,
         |         CAST(sum(est_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_tokens
         |  FROM d
         |)
         |SELECT doc_id, lang, est_tokens, cum_tokens,
         |       (cum_tokens - est_tokens) // $ShardBudget AS shard
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_group_sample" ->
      s"""SELECT source, doc_id, n_chars, rnk FROM (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5('gs:' || CAST(doc_id AS VARCHAR)), doc_id) rnk
         |  FROM documents)
         |WHERE rnk <= $GroupSampleK
         |ORDER BY source, rnk""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE $sqlBucket < 3 ORDER BY doc_id""".stripMargin,
    "q_train_test_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN $sqlBucket < 8 THEN 'train'
         |       WHEN $sqlBucket < 9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_length_histogram" ->
      """SELECT lang, CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
        |  count(*) n, round(avg(n_chars), 4) avg_chars
        |FROM documents GROUP BY lang, bucket_lo ORDER BY lang, bucket_lo""".stripMargin,
    "q_dedup_normalized" ->
      """WITH n AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) h
        |  FROM documents
        |)
        |SELECT doc_id, h FROM n
        |QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "q_class_balance" ->
      """SELECT label, count(*) n,
        |  round(count(*) / (SELECT count(*) FROM embeddings)::DOUBLE, 6) frac
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    // the PSI recomputed end to end: same midpoint halves, same
    // integer-DIV bins, same Laplace smoothing over the observed bin
    // inventory, contributions decided in integer nano-units before
    // the per-feature sum — so binning, smoothing and the drift
    // verdict itself are all inside the hash gate
    "q_drift_psi" ->
      s"""WITH d AS (
         |  SELECT doc_id, n_chars, len(string_split(text, ' ')) ntok,
         |         coalesce(lang, '?') lang, coalesce(source, '?') source
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), cut AS (
         |  SELECT CAST(min(doc_id) + (max(doc_id) - min(doc_id)) // 2 AS BIGINT) cut_id
         |  FROM d
         |), f AS (
         |  SELECT doc_id, 'len_chars' feature, CAST(least(n_chars // 64, 15) AS VARCHAR) bin FROM d
         |  UNION ALL SELECT doc_id, 'n_tokens', CAST(least(ntok // 8, 15) AS VARCHAR) FROM d
         |  UNION ALL SELECT doc_id, 'mean_word_len_x4',
         |    CAST(least((n_chars * 4) // ntok, 31) AS VARCHAR) FROM d
         |  UNION ALL SELECT doc_id, 'lang', lang FROM d
         |  UNION ALL SELECT doc_id, 'source', source FROM d
         |), h AS (
         |  SELECT feature, bin,
         |         count(*) FILTER (WHERE doc_id <= cut_id) n_b,
         |         count(*) FILTER (WHERE doc_id > cut_id) n_d
         |  FROM f, cut GROUP BY feature, bin
         |), t AS (
         |  SELECT feature, n_b, n_d,
         |         sum(n_b) OVER (PARTITION BY feature) tot_b,
         |         sum(n_d) OVER (PARTITION BY feature) tot_d,
         |         count(*) OVER (PARTITION BY feature) n_bins
         |  FROM h
         |), c AS (
         |  SELECT feature, n_bins, tot_b, tot_d,
         |         CAST(round((CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + n_bins AS DOUBLE)
         |                   - CAST(n_d + 1 AS DOUBLE) / CAST(tot_d + n_bins AS DOUBLE))
         |           * ln((CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + n_bins AS DOUBLE))
         |              / (CAST(n_d + 1 AS DOUBLE) / CAST(tot_d + n_bins AS DOUBLE)))
         |           * 1e9) AS BIGINT) nano
         |  FROM t
         |)
         |SELECT feature, CAST(max(n_bins) AS BIGINT) n_bins,
         |       CAST(max(tot_b) AS BIGINT) n_base,
         |       CAST(max(tot_d) AS BIGINT) n_delta,
         |       round(sum(nano) / 1e9, 6) psi,
         |       round(sum(nano) / 1e9, 6) >= $PsiAlert AS drifted
         |FROM c GROUP BY feature ORDER BY feature""".stripMargin,
    "q_contam_fuzzy" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${DedupOps.sqlShingles} sh,
         |         ('0x' || substr(md5(text), 1, 8))::BIGINT % 20 = 0 is_bench
         |  FROM (SELECT doc_id, text, string_split(text, ' ') toks FROM documents)
         |), ${DedupOps.sqlBandCtes},
         |fb AS (SELECT bands.doc_id, band, bkey, is_bench FROM bands JOIN t USING (doc_id)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
         |  FROM fb a JOIN fb b ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE NOT a.is_bench AND b.is_bench
         |), v AS MATERIALIZED (
         |  SELECT d1, d2,
         |         round(len(list_intersect(t1.sh, t2.sh))
         |               / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE, 6) jac
         |  FROM cand JOIN t t1 ON t1.doc_id = d1 JOIN t t2 ON t2.doc_id = d2
         |  WHERE len(list_intersect(t1.sh, t2.sh))
         |        / len(list_distinct(list_concat(t1.sh, t2.sh)))::DOUBLE >= ${DedupOps.JaccardThreshold}
         |), agg AS (
         |  SELECT d1 doc_id, CAST(count(*) AS BIGINT) n_bench_near, max(jac) max_jac
         |  FROM v GROUP BY d1
         |), best AS (
         |  SELECT d1 doc_id, d2 nearest_bench FROM v
         |  QUALIFY row_number() OVER (PARTITION BY d1 ORDER BY jac DESC, d2) = 1
         |)
         |SELECT doc_id, n_bench_near, max_jac, nearest_bench
         |FROM agg JOIN best USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_contamination" -> contaminationSql,
    // incremental ≡ full IS the claim: the oracle recomputes the
    // whole-corpus decontamination while the query maintains the
    // stored gram index from the delta slice
    "q_contam_incremental" -> contaminationSql,
    "q_mixture_weights" ->
      """SELECT lang, count(*) n,
        |  round(count(*) / (SELECT count(*) FROM documents)::DOUBLE, 6) actual_frac,
        |  round((SELECT count(*) FROM documents)
        |        / ((SELECT count(DISTINCT lang) FROM documents) * count(*))::DOUBLE, 6) weight
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
}
