package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Text
import graft.sources.Tables

/** §2.C — fuzzy entity resolution, from the reference's
  * src/services/halalService.ts.
  *
  * The reference resolves each merchant against the halal register with
  * a tier ladder: exact cleaned-name (+postal confirmation) first, then
  * a word-overlap similarity match with postal-preference tie-breaking
  * (halalService.ts:103-177). Here the two "registers" are derived
  * decorations of the part table so the join has genuine dup groups.
  *
  * Scale design, uniform across the suite:
  *   - Candidate pairs come ONLY from keyed equi-joins: sorted
  *     token-bigram inverted index for similarity tiers, cleaned-name
  *     equality for exact tiers, deletion-neighborhood signatures for
  *     edit-distance vocab joins. Never a cross join.
  *   - Hot blocking keys are df-capped ([[DfCap]]): a key shared
  *     by d rows yields d²/2 candidates, so one stop-phrase bigram in
  *     a web-scale corpus would otherwise go quadratic. The cap is
  *     mirrored in the oracle SQL and only prunes candidate
  *     generation, never the measure of a found pair.
  *   - Two verification strategies, both array-free on the pair
  *     shuffle. (a) ARITHMETIC co-counts ([[tokenJaccardJoin]]): the
  *     bigram bucket join is aggregated to a per-pair co-count `nc`,
  *     and since two rows sharing `inter` tokens share exactly
  *     C(inter, 2) sorted bigrams, `inter` (hence Jaccard) is
  *     recovered by inverting the binomial; only pairs where BOTH
  *     sides touched a dropped hot key (a dropped shared bigram is
  *     hot on both sides by definition) can be undercounted — they
  *     are bounded by nc + min(hd1, hd2), pruned when even the bound
  *     cannot pass, and exact-verified otherwise. (b) NAME-LEVEL
  *     canonicalization ([[fuzzyResolve]]/[[fuzzyResolveWorded]], via
  *     [[FuzzyJoin]]): similarity is a pure function of the cleaned
  *     name pair, and rows of name x carry exactly x's bigrams, so
  *     blocking, the (row-weighted) cap and scoring all run over
  *     DISTINCT names; rows fan back out only for per-row
  *     confirmation signals and the best-match pick.
  *   - Exact tiers are additionally fed by a cleaned-name equi-join,
  *     so single-token names (which have no bigram) can never be
  *     dropped. Tier-3 pairs are only guaranteed when both names have
  *     ≥ 2 distinct tokens (the reference's ≥ 2-matching-words rule).
  */
object FuzzyOps {

  /** Distinct tokens in CANONICAL (sorted) order: every downstream
    * consumer is a pure function of the token SET (the gram generators
    * sort internally; similarity uses intersect/union), and the sorted
    * array makes set equality = array equality — so the distinct-set
    * grouping in [[tokenJaccardFrame]] collapses same-set rows
    * regardless of token order, and the oracle mirrors the grouping
    * with `list_sort(list_distinct(...))`.
    */
  private def tokensOf(c: Column): Column = array_sort(array_distinct(split(c, " ")))

  /** All sorted token bigrams of one row's distinct-token array,
    * computed per row with no join: sort, then pair each token with
    * every later one. One explode downstream turns these into blocking
    * keys — a shuffle-and-self-join cheaper than the exploded-token
    * equi-join it replaces.
    */
  private[operators] def bigramsOf(toks: Column): Column = {
    val st = array_sort(toks)
    flatten(transform(st, (t, i) =>
      transform(slice(st, i + lit(2), size(st)), u => concat_ws(" ", t, u))))
  }

  /** All sorted token TRIGRAMS of one row's distinct-token array —
    * the stronger blocking key for the `inter ≥ 3` stratum of
    * [[tokenJaccardJoin]]: two rows sharing at most 2 tokens produce
    * ZERO trigram collisions, so the (at corpus scale, dominant)
    * low-overlap candidate mass never reaches the pair aggregation.
    */
  private[operators] def trigramsOf(toks: Column): Column = {
    val st = array_sort(toks)
    flatten(flatten(transform(st, (t, i) =>
      transform(slice(st, i + lit(2), size(st)), (u, j) =>
        transform(slice(st, i + j + lit(3), size(st)), v => concat_ws(" ", t, u, v))))))
  }

  /** Inverse of `nc = C(inter, 2)`: two rows sharing `inter` tokens
    * share exactly C(inter, 2) sorted bigrams, so the shared-token
    * count is recovered arithmetically from the bigram co-count —
    * no token arrays ever ride the pair shuffle.
    */
  private[operators] def interFromNc(nc: Column): Column =
    round((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * nc)) / lit(2.0), 0).cast("int")

  /** Largest `inter` consistent with an UPPER BOUND on the co-count:
    * C(inter, 2) ≤ ncUb ⟹ inter ≤ ⌊(1 + √(1+8·ncUb)) / 2⌋. Used to
    * bound the true intersection of a pair whose kept co-count may
    * undercount by up to min(hd1, hd2) dropped hot bigrams.
    */
  private[operators] def interUbFromNc(ncUb: Column): Column =
    floor((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * ncUb)) / lit(2.0)).cast("int")

  /** Inverse of `nc = C(inter, 3)` for the trigram-blocked stratum.
    * Exact for inter ≥ 3 (the only values a trigram collision can
    * produce): ∛(i(i−1)(i−2)) ∈ (i−1.5, i−1) for every i ≥ 3, so
    * round(∛(6·nc)) + 1 recovers i with margin on both sides.
    */
  private[operators] def interFromNc3(nc: Column): Column =
    (round(cbrt(lit(6.0) * nc), 0) + lit(1)).cast("int")

  /** Largest `inter` consistent with an upper bound on the trigram
    * co-count: C(i, 3) ≤ ncUb ⟹ (i−2)³ < 6·ncUb ⟹ i < ∛(6·ncUb) + 2.
    */
  private[operators] def interUbFromNc3(ncUb: Column): Column =
    floor(cbrt(lit(6.0) * ncUb) + lit(2.0)).cast("int")

  /** Co-gram counts for pairs within one keyed token-array frame
    * `base(key, toks, cnt)`, blocked on `gramsOf(toks)` keys —
    * `cnt` is the row multiplicity the key stands for (1 for a plain
    * row frame; the member count when rows are distinct-set reps).
    *
    * Returns `(pairs(k1, k2, nc), keptCnt(k, kc))`: per ordered pair,
    * the number of SHARED gram keys that survived the df-cap; per
    * row, the number of its grams that were KEPT (callers derive the
    * dropped-hot count hd = C(n_toks, arity) − kc). A dropped shared
    * gram is hot and counts toward BOTH rows, so `nc` is exact
    * whenever min(hd1, hd2) = 0, and in general
    * `nc ≤ true co-count ≤ nc + min(hd1, hd2)` — callers prune
    * with the bound and verify only pairs that could pass.
    */
  private[operators] def selfPairCounts(
      base: DataFrame, key: String, cap: Int,
      gramsOf: Column => Column = bigramsOf): (DataFrame, DataFrame) = {
    // df is row-WEIGHTED: `base` rows are distinct token sets carrying
    // their row multiplicity in `cnt`, so sum(cnt) per gram key is
    // exactly the row-level document frequency the cap contract (and
    // the oracle SQL) is defined over.
    //
    // r20 shape — ONE evaluation of the gram stream. The r19 plan
    // evaluated this explode in three subtrees (the hot-df aggregate,
    // the kept-grams exchange feeding both self-join sides, the
    // hot-touch count), and the r19 stage profile showed the query is
    // pure map-side CPU (~113 s task time at sf0.1/local[32] with
    // < 1 MB shuffled): regenerating C(t,3) concatenated trigram
    // strings per consumer IS the cost. Now a single groupBy(c) pays
    // the explode once and carries, per gram, the row-weighted df AND
    // a (cap+1)-BOUNDED member-id list through the mergeable
    // [[graft.plans.TopKAgg]] (the ANN family's bounded aggregate):
    // a gram with more than cap+1 members is necessarily hot
    // (cnt >= 1 per member), so a truncated list is never read, and
    // the aggregation buffer stays O(cap) per gram at any corpus
    // size. Pairs then come from exploding each kept gram's sorted
    // member list — no self-join, no broadcast hot set, no anti-join.
    // (The r19 negative result — a raw c-keyed exchange of the gram
    // stream read 1.22x WORSE — barriered the stream but still ran
    // every consumer above it; this folds all consumers into the one
    // partial-aggregated pass instead.)
    val bg = base.select(col(key).as("k"), explode(gramsOf(col("toks"))).as("c"),
      col("cnt"))
    val byGram = bg.groupBy(col("c")).agg(
      sum(col("cnt")).as("df"),
      graft.plans.TopKAgg.topK(struct(col("k").as("k")), cap + 1).as("_ksT"))
    // kept grams: member lists are complete (<= df <= cap members)
    // and ascending-sorted (TopKAgg's eval contract), so pairing each
    // member with every later one enumerates exactly the k1 < k2
    // pairs the old self-join produced, counted per pair as before
    val kept = byGram.filter(col("df") <= cap)
      .select(col("_ksT").getField("k").as("ks"))
    val pairs = kept
      .select(explode(flatten(transform(col("ks"), (a, i) =>
        transform(slice(col("ks"), i + lit(2), size(col("ks"))),
          b => struct(a.as("k1"), b.as("k2")))))).as("p"))
      .groupBy(col("p.k1").as("k1"), col("p.k2").as("k2"))
      .agg(count(lit(1)).as("nc"))
    // per-row KEPT-gram count; callers recover the dropped-hot count
    // arithmetically as C(n_toks, arity) − kc — every gram of a row
    // is kept xor hot, and the combinatorial total is a pure function
    // of the row's (distinct) token count, so the hot grams' member
    // lists are never materialized anywhere
    val keptCnt = kept.select(explode(col("ks")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("kc"))
    (pairs, keptCnt)
  }

  /** halalService.ts:249-257 — name normalization over decorated names. */
  def cleanNameQ(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        concat(col("p_name"),
          when(col("p_partkey") % 2 === 0, lit(" Pte. Ltd. Stall 12"))
            .otherwise(lit(" #03-21 (Unit 4B)"))).as("raw"))
      .withColumn("cleaned", Text.cleanName(col("raw")))

  /** halalService.ts:107-116 — exact tier: equal cleaned names across
    * two differently-decorated sides.
    */
  def fuzzyJoinExact(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val a = p.select(col("p_partkey").as("k1"),
      Text.cleanName(concat(col("p_name"), lit(" Pte Ltd"))).as("cn"))
    val b = p.select(col("p_partkey").as("k2"),
      Text.cleanName(concat(col("p_name"), lit(" #01-77"))).as("cn"))
    // no presentation orderBy: the exact tier is output-bound (31.2M
    // pairs at the sf1.0 slice), the checker row-sorts before hashing,
    // and every in-repo consumer is order-insensitive — a range sort
    // here is the token-jaccard lesson (round 10) applied to the
    // other large pair output
    a.join(b, Seq("cn")).filter(col("k1") < col("k2"))
      .select(col("k1"), col("k2"), col("cn"))
  }

  /** halalService.ts:119-164 — word-overlap (Jaccard) similarity join
    * over name+type token sets: ≥ 2 shared tokens (the reference's
    * matching-words rule, halalService.ts:138,151) AND Jaccard ≥ 0.5.
    * Candidates from df-capped sorted-gram blocking in two LOSSLESS
    * strata (see [[tokenJaccardFrame]]); similarity recovered
    * arithmetically or verified exactly on the full token sets.
    */
  def tokenJaccardJoin(spark: SparkSession, dir: String): DataFrame = {
    // repartition barrier: consumers share one evaluation of the token
    // pipeline via exchange reuse (and the single-row-group local scan
    // stops serializing the plan on one core)
    // r19: the token projection sits ABOVE the barrier — below it the
    // single-row-group scan task ran lower/split/distinct/sort for the
    // whole table serially (stage profile: a 1-task 1.5 s stage);
    // the exchange payload is the raw name/type columns either way.
    val base = Tables.part(spark, dir)
      .select(col("p_partkey").as("k"),
        concat(lower(col("p_name")), lit(" "), lower(col("p_type"))).as("nm"))
      .transform(repartByKey(_, col("k")))
      .select(col("k"), tokensOf(col("nm")).as("toks"))
    tokenJaccardFrame(base, DfCap)
  }

  /** Frame-based core of [[tokenJaccardJoin]]: `base` must carry
    * (k, toks). Exposed within the package so specs can drive
    * synthetic hot-key corpora through the df-cap bound/fallback
    * paths that test scales below sf0.1 never reach.
    *
    * Two lossless strata keep the pair aggregation small:
    *   - `inter ≥ 3`: TRIGRAM blocking. Any pair sharing ≥ 3 tokens
    *     shares C(inter, 3) ≥ 1 sorted trigrams, while the dominant
    *     low-overlap mass (pairs sharing ≤ 2 tokens — every pair of
    *     rows that merely co-mention two common words) collides on
    *     ZERO trigram keys and never enters the join.
    *   - `inter = 2`: jac ≥ 0.5 forces 3·inter ≥ n1 + n2, i.e.
    *     n1 + n2 ≤ 6 — both rows hold ≤ 4 tokens. Bigram blocking
    *     runs over that slice only, keeping just its inter = 2 pairs
    *     (inter ≥ 3 already found above), so the strata are disjoint
    *     and their union is exactly the inter ≥ 2 ∧ jac ≥ 0.5 result.
    *
    * CONTRACT NOTE (df-cap exemption): pairs of rows with IDENTICAL
    * token sets are emitted unconditionally (jac 1.0, ≥ 2 tokens) —
    * they never touch the gram-blocking index, so the df-cap cannot
    * drop them even when every gram of a duplicated set is hot
    * (> cap identical rows). Identical-content pairs are the pairs a
    * dedup consumer can least afford to lose, the emission cost is
    * exactly the (irreducible) output volume, and the oracle mirrors
    * the stratum with an unconditional identical-set candidate branch.
    * Pairs of DIFFERENT sets still require ≥ 1 kept gram — the
    * bounded-loss blocking contract is unchanged for them.
    */
  private[operators] def tokenJaccardFrame(base: DataFrame, cap: Int): DataFrame = {
    // DISTINCT-SET altitude (the [[FuzzyJoin]] canonicalization story
    // applied to whole token sets): candidate generation, the df-cap
    // and the similarity are all pure functions of the token SET, so
    // both strata run over DISTINCT sets — with the df-cap
    // row-WEIGHTED (each set carries its row count) so the row-level
    // hot-key contract is unchanged — and row pairs fan back out
    // through two membership joins at the end. Corpus-adaptive: on
    // near-unique content the set table ≈ the row table and this is
    // the old plan plus one cheap window; on duplicate-heavy content
    // (short name+type vocabularies, boilerplate mirrors) the
    // quadratic pair-bucket work collapses onto the distinct sets and
    // the (irreducible) output volume is produced by two codegen'd
    // fan-out joins instead of riding the pair aggregation. Measured
    // at sf0.1: the row-level plan aggregated 13M bucket-join rows
    // into 11.9M groups; the set-level core aggregates ~65k.
    // ONE aggregation builds the whole set layer: rep id, row count
    // AND the member list (sorted, so intra-set pair order is free).
    // Carrying `ks` in the set row keeps every downstream consumer —
    // reps, membership fan-out, intra-set pairs — derived from this
    // single groupBy subtree instead of re-referencing `base` through
    // a window (measured: the window formulation re-expanded the
    // scan+window subplan ~20×, and pure stage-scheduling overhead
    // dominated the core at ~3.4 s over ~360 sets). Member lists are
    // bounded by the same quantity that bounds the OUTPUT (an m-row
    // identical-content group emits C(m,2) pairs by contract), so the
    // collect_list cannot be the thing that breaks first at scale.
    // r20: the set layer is pinned — ONE evaluation. Its consumers
    // (both strata's gram explodes, each stratum's meta and
    // dirty-verify joins, the two membership fan-outs, the intra-set
    // pairs) prune different columns, so without the pin each
    // consumer re-ran the scan + tokenize + set aggregation (r20 stage
    // profile: 21 single-task root stages and ~6 re-executions of the
    // groupBy at 2-2.7 s each inside one query). The table is the
    // DISTINCT token-set layer — bounded far below the corpus (65k
    // bucket rows vs 13M at sf0.1) with member lists bounded by the
    // output contract — so pinning it is the cheap side of the trade
    // at any scale.
    val sets = base.groupBy(col("toks")).agg(
      min(col("k")).as("sid"), count(lit(1)).as("cnt"),
      sort_array(collect_list(col("k"))).as("ks"))
      .transform(materialize)
    val setrep = sets.select(col("sid").as("k"), col("toks"), col("cnt"))
    val members = sets.select(col("sid"), explode(col("ks")).as("k"))
    // set-level strata: exactly the old row-level logic, one altitude up
    val tri = coPairJac(setrep, cap, trigramsOf, interFromNc3, interUbFromNc3, minInter = 3)
    val small = coPairJac(setrep.filter(size(col("toks")) <= 4), cap,
        bigramsOf, interFromNc, interUbFromNc, minInter = 2)
      .filter(col("inter") === 2)
    val setPairs = tri.union(small)
      .filter(col("inter") >= 2 && col("jac") >= 0.5)
    // fan-out 1: cross-set row pairs — every member of sid1 against
    // every member of sid2. Distinct sets are disjoint row
    // populations, so least/greatest restores k1 < k2 losslessly.
    val cross = setPairs
      .join(members.select(col("sid").as("k1"), col("k").as("m1")), "k1")
      .join(members.select(col("sid").as("k2"), col("k").as("m2")), "k2")
      .select(least(col("m1"), col("m2")).as("k1"),
        greatest(col("m1"), col("m2")).as("k2"), col("jac"))
    // fan-out 2: intra-set row pairs — identical token sets are
    // jac 1.0 by definition; inter = |toks| must still clear the
    // ≥ 2 shared-tokens contract. `ks` is sorted, so pairing each
    // member with every later one yields k1 < k2 with no join at all.
    val intra = sets.filter(col("cnt") >= 2 && size(col("toks")) >= 2)
      .select(explode(flatten(transform(col("ks"), (a, i) =>
        transform(slice(col("ks"), i + lit(2), size(col("ks"))),
          b => struct(a.as("k1"), b.as("k2")))))).as("p"))
      .select(col("p.k1").as("k1"), col("p.k2").as("k2"), lit(1.0).as("jac"))
    // no presentation orderBy: at sf0.1 the output is 11.9M rows, and a
    // range sort adds a wide exchange plus the range-partitioner
    // sampling pass over the full pair pipeline — pure waste when the
    // driver's checker row-sorts before hashing and every in-repo
    // consumer (CC, resolve) is order-insensitive
    cross.union(intra)
      .select(col("k1"), col("k2"), round(col("jac"), 6).as("jac"))
  }

  /** Blocked co-gram pair evaluation shared by the [[tokenJaccardFrame]]
    * strata: every pair of `base` rows sharing ≥ 1 kept `gramsOf` key
    * comes back as (k1, k2, inter, jac) with EXACT inter/jac. Clean
    * pairs (at most one side touched a dropped hot gram) recover
    * `inter` arithmetically from the co-count via `interOf` — token
    * arrays never ride the pair shuffle; dirty pairs are bounded by
    * `interUbOf(nc + min(hd1, hd2))`, pruned when even the bound
    * cannot reach `minInter` or jac 0.5, and exact-verified on full
    * token arrays otherwise (empty below the cap).
    */
  private def coPairJac(base: DataFrame, cap: Int, gramsOf: Column => Column,
      interOf: Column => Column, interUbOf: Column => Column, minInter: Int): DataFrame = {
    // minInter doubles as the gram ARITY: the ≥3 stratum blocks on
    // token trigrams, the =2 stratum on token bigrams (the stratum
    // design ties the two — a pair must share minInter tokens to
    // collide on one arity-sized gram)
    val arity = minInter
    val (pairs, keptCnt) = selfPairCounts(base, "k", cap, gramsOf)
    // per-row meta: token count + dropped-hot-gram count, the latter
    // recovered arithmetically (hd = C(n, arity) − kept-gram count —
    // grams are all C(n, arity) combos of the row's distinct tokens,
    // and each is kept xor hot). Scalars only — joins of the pair
    // table against this stay array-free.
    val nL = col("n").cast("long")
    val totalGrams =
      if (arity == 3) ((nL * (nL - 1) * (nL - 2)) / 6).cast("long")
      else ((nL * (nL - 1)) / 2).cast("long")
    val meta = base.select(col("k"), size(col("toks")).as("n"))
      .join(keptCnt, Seq("k"), "left").na.fill(0L, Seq("kc"))
      .withColumn("hd", totalGrams - col("kc"))
    val m = pairs
      .join(meta.select(col("k").as("k1"), col("n").as("n1"), col("hd").as("hd1")), "k1")
      .join(meta.select(col("k").as("k2"), col("n").as("n2"), col("hd").as("hd2")), "k2")
    val clean = m.filter(least(col("hd1"), col("hd2")) === 0)
      .withColumn("inter", interOf(col("nc")))
      .withColumn("jac",
        col("inter") / (col("n1") + col("n2") - col("inter")).cast("double"))
    val dirty = m.filter(least(col("hd1"), col("hd2")) > 0)
      .withColumn("iub",
        least(interUbOf(col("nc") + least(col("hd1"), col("hd2"))),
          least(col("n1"), col("n2"))))
      .filter(col("iub") >= minInter &&
        col("iub") / (col("n1") + col("n2") - col("iub")).cast("double") >= 0.5)
      .join(base.select(col("k").as("k1"), col("toks").as("toks1")), "k1")
      .join(base.select(col("k").as("k2"), col("toks").as("toks2")), "k2")
      .withColumn("inter", size(array_intersect(col("toks1"), col("toks2"))))
      .withColumn("jac", col("inter") / size(array_union(col("toks1"), col("toks2"))).cast("double"))
    clean.select(col("k1"), col("k2"), col("inter"), col("jac"))
      .union(dirty.select(col("k1"), col("k2"), col("inter"), col("jac")))
  }

  /** halalService.ts:194-247 — per-word edit-distance similarity over
    * the name vocabulary. Contract: `lev ≤ 2 AND sim ≥ 0.6` — the
    * explicit distance bound is what makes deletion-neighborhood
    * blocking ([[Text.delNbh2]]) LOSSLESS: signature index grows
    * linearly with the vocab (≈ L²/2 keys per word), no vocab² scan.
    */
  def levenshteinPairs(spark: SparkSession, dir: String): DataFrame = {
    val cand = editCands(vocabOf(spark, dir))
    cand
      .withColumn("maxlen", greatest(length(col("t1")), length(col("t2"))))
      .withColumn("lev", levenshtein(col("t1"), col("t2")))
      .withColumn("sim", (col("maxlen") - col("lev")) / col("maxlen").cast("double"))
      .filter(col("lev") <= 2 && col("sim") >= 0.6)
      .select(col("t1"), col("t2"), round(col("sim"), 6).as("sim"))
  }

  private def vocabOf(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(explode(split(lower(col("p_name")), " ")).as("t"))
      .distinct()

  /** Distinct vocab pairs (t1 < t2) sharing a ≤2-deletion signature —
    * a superset of all pairs within Levenshtein distance 2. Signature
    * keys are df-capped like every other blocking key.
    */
  private[operators] def editCands(vocab: DataFrame): DataFrame = {
    val (_, kept) = dfCapped(
      vocab.select(col("t"), explode(Text.delNbh2(col("t"))).as("sig")), "sig", DfCap)
    kept.as("a").join(kept.as("b"),
        col("a.sig") === col("b.sig") && col("a.t") < col("b.t"))
      .select(col("a.t").as("t1"), col("b.t").as("t2"))
      .distinct()
  }

  /** halalService.ts:194-227 isWordSimilar — abbreviation dictionary
    * first (broadcast equi-join), edit-distance fallback
    * (deletion-signature blocked, `editsim ≥ 0.6 AND lev ≤ 2`).
    */
  def wordSimilar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dict = Seq(
      ("restaurant", "rest"), ("restaurant", "resto"), ("kitchen", "kitch"),
      ("house", "hse"), ("corner", "cnr"), ("centre", "ctr"),
      ("international", "intl"), ("company", "co"), ("private", "pte"),
      ("limited", "ltd")).toDF("full", "abbrev")
    val vocab = vocabOf(spark, dir)
    val candAbbrev = broadcast(dict)
      .join(vocab.as("v1"), col("v1.t") === col("full"))
      .join(vocab.as("v2"), col("v2.t") === col("abbrev"))
      .select(least(col("full"), col("abbrev")).as("t1"),
        greatest(col("full"), col("abbrev")).as("t2"))
      .distinct()
    val cand = editCands(vocab).union(candAbbrev).distinct()
    cand
      .join(candAbbrev.withColumn("is_abbrev", lit(1)), Seq("t1", "t2"), "left")
      .withColumn("maxlen", greatest(length(col("t1")), length(col("t2"))))
      .withColumn("lev", levenshtein(col("t1"), col("t2")))
      .withColumn("editsim", (col("maxlen") - col("lev")) / col("maxlen").cast("double"))
      .withColumn("sim_rule",
        when(col("is_abbrev") === 1, "abbrev")
          .when(col("editsim") >= 0.6 && col("lev") <= 2, "edit"))
      .filter(col("sim_rule").isNotNull)
      .select(col("t1"), col("t2"), col("sim_rule"), round(col("editsim"), 6).as("editsim"))
  }

  /** halalService.ts:103-177 — the full tiered resolve: for each left
    * entity pick the single best right match by
    * (tier, postal-analog confirmation, similarity, key) preference.
    * Tier 1 = exact clean name + size match ("postal" confirmation),
    * tier 2 = exact clean name, tier 3 = Jaccard ≥ 0.5.
    * Candidates = df-capped bigram blocking ∪ cleaned-name equi-join
    * (so exact tiers survive single-token names); similarity verified
    * exactly on the full token sets.
    */
  def fuzzyResolve(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    FuzzyJoin.resolve(
      p, "p_partkey", concat(col("p_name"), lit(" Pte Ltd")), col("p_size"),
      p, "p_partkey", concat(col("p_name"), lit(" "), lower(col("p_type"))), col("p_size"),
      threshold = 0.5)
      .withColumnRenamed("aux_match", "size_match")
  }

  /** The reference's word-matching dictionary, halalService.ts:205-216:
    * full ↔ abbreviation plus abbreviation ↔ abbreviation of the same
    * entry. Materialized as "a|b" strings in both orders so membership
    * is one array_contains.
    */
  private[operators] val WordDict: Seq[(String, Seq[String])] = Seq(
    "restaurant" -> Seq("rest", "resto"), "kitchen" -> Seq("kitchn", "kitch"),
    "food" -> Seq("fd"), "house" -> Seq("hse"), "corner" -> Seq("cnr"),
    "centre" -> Seq("center", "ctr"), "international" -> Seq("intl"),
    "company" -> Seq("co"), "private" -> Seq("pte", "pvt"), "limited" -> Seq("ltd"))

  private val DictPairs: Seq[String] = WordDict.flatMap { case (full, abbrevs) =>
    val grp = full +: abbrevs
    for (a <- grp; b <- grp if a != b) yield s"$a|$b"
  }.distinct

  /** halalService.ts:227-240 genericWords — words that cannot carry a
    * match on their own.
    */
  private val GenericWords: Seq[String] = Seq(
    "western", "food", "kitchen", "restaurant", "cafe", "stall", "house", "corner",
    "snack", "delight", "express", "garden", "center", "place", "shop", "store",
    "pte", "ltd", "private", "limited", "trading", "enterprise", "company")

  /** halalService.ts:119-147 — the similar tier with the reference's
    * FUZZY matching-word count: a left word matches if some right word
    * contains it, is contained by it, is its dictionary
    * abbreviation/variant, or is within 80% edit similarity
    * (isWordSimilar). Accepts the reference's strict bar:
    * sim ≥ 0.95 ∧ matching ≥ 3 ∧ ≥ 2 non-generic matches; prefers
    * postal-analog confirmation then similarity (halalService.ts:146).
    * Words are the reference's "significant" tokens (length > 2,
    * halalService.ts:119). Candidates still come from the exact-token
    * bigram index — fuzzy matching widens the overlap COUNT, not the
    * candidate set (a qualifying pair at sim ≥ 0.95 shares nearly all
    * words, hence many exact bigrams) — and the whole evaluation runs
    * at NAME level (see the class doc): the word-match lambda touches
    * each distinct cleaned-name pair once, rows fan out only for the
    * per-row size confirmation and the best-match pick.
    */
  def fuzzyResolveWorded(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val sigToks = (c: Column) => filter(tokensOf(c), t => length(t) > 2)
    val genericLit = lit(GenericWords.toArray)
    val dictLit = lit(DictPairs.toArray)
    val editSim = (w: Column, h: Column) =>
      (greatest(length(w), length(h)) - levenshtein(w, h)) /
        greatest(length(w), length(h)).cast("double")
    val left = p.select(col("p_partkey").as("lk"), col("p_size").as("lsize"),
      Text.cleanName(concat(col("p_name"), lit(" Centre Pte Ltd"))).as("lcn"))
    val right = p.select(col("p_partkey").as("rk"), col("p_size").as("rsize"),
      Text.cleanName(concat(col("p_name"), lit(" Center #01-77"))).as("rcn"))

    // NAME-LEVEL evaluation: the token sets — hence the word-match
    // count, nspecific and sim — are pure functions of the cleaned
    // name, and a row pair is a candidate iff its NAME pair shares a
    // kept bigram (or the names are equal). So candidates, the df-cap
    // and the reference's word-match lambda all run over DISTINCT
    // names (64 at sf0.1, vs 6.3M row pairs), and rows only fan back
    // out for the per-row size_match and the final best-match pick.
    // The cap stays row-level (see [[FuzzyJoin.nameCandidates]]).
    val lnames = left.groupBy(col("lcn")).agg(count(lit(1)).as("lgrp"))
      .withColumn("ltoks", sigToks(col("lcn")))
    val rnames = right.groupBy(col("rcn")).agg(count(lit(1)).as("rgrp"))
      .withColumn("rtoks", sigToks(col("rcn")))

    // the reference's fuzzy word-match scoring (halalService.ts:119-147)
    // over the tiny distinct-name-pair set
    val verdicts = FuzzyJoin.nameCandidates(lnames, rnames, DfCap)
      .join(lnames.select(col("lcn"), col("ltoks")), "lcn")
      .join(rnames.select(col("rcn"), col("rtoks")), "rcn")
      .withColumn("matched", filter(col("ltoks"), w =>
        exists(col("rtoks"), h =>
          h.contains(w) || w.contains(h) ||
            array_contains(dictLit, concat(w, lit("|"), h)) ||
            editSim(w, h) >= 0.8)))
      .select(col("lcn"), col("rcn"),
        size(col("matched")).cast("long").as("wm"),
        size(filter(col("matched"), w => !array_contains(genericLit, w)))
          .cast("long").as("nspecific"),
        round(size(col("matched")) /
          greatest(size(col("ltoks")), size(col("rtoks"))).cast("double"), 6).as("sim"))
      .filter(col("sim") >= 0.95 && col("wm") >= 3 && col("nspecific") >= 2)

    // best-match pick at (name, size) altitude — the [[FuzzyJoin]]
    // discipline: within one right name an aux-matching row strictly
    // dominates (size_match leads the order, sim is name-level), so
    // each (name pair, left size) needs one candidate row (min rk in
    // the matching stratum, else min rk overall); the pick aggregates
    // over distinct (lcn, lsize) and rows fan out only for the final
    // output-bound emission
    val rbest = right.groupBy(col("rcn"), col("rsize")).agg(min(col("rk")).as("rk_aux"))
    val rany = right.groupBy(col("rcn")).agg(min(col("rk")).as("rk_any"))
    val lkeys = left.select(col("lcn"), col("lsize")).distinct()
    val cand = verdicts
      .join(lkeys, "lcn")
      .join(rbest.withColumnRenamed("rsize", "lsize"), Seq("rcn", "lsize"), "left")
      .join(rany, "rcn")
      .withColumn("size_match", when(col("rk_aux").isNotNull, 1).otherwise(0))
      .withColumn("rk", coalesce(col("rk_aux"), col("rk_any")))
    val best = cand.groupBy(col("lcn"), col("lsize"))
      .agg(min(struct(negate(col("size_match")).as("ns"), negate(col("sim")).as("nj"),
        col("rk"), col("size_match"), col("sim"), col("wm"), col("nspecific"))).as("b"))
      .select(col("lcn"), col("lsize"), col("b.rk").as("rk"), col("b.wm").as("wm"),
        col("b.nspecific").as("nspecific"), col("b.sim").as("sim"),
        col("b.size_match").as("size_match"))
    left.join(best, Seq("lcn", "lsize"))
      .select(col("lk"), col("rk"), col("wm"), col("nspecific"), col("sim"), col("size_match"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_clean_name" -> (cleanNameQ _),
    "q_fuzzy_join_exact" -> (fuzzyJoinExact _),
    "q_token_jaccard_join" -> (tokenJaccardJoin _),
    "q_levenshtein_pairs" -> (levenshteinPairs _),
    "q_word_similar" -> (wordSimilar _),
    "q_fuzzy_resolve" -> (fuzzyResolve _),
    "q_fuzzy_resolve_worded" -> (fuzzyResolveWorded _))

  private val cn = Text.sqlCleanName _

  private val sqlDictList = DictPairs.map(s => s"'$s'").mkString("[", ", ", "]")
  private val sqlGenericList = GenericWords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Shared SQL: the three candidate strata of [[tokenJaccardFrame]] —
    * capped-trigram candidates (lossless for inter ≥ 3),
    * capped-bigram candidates over the ≤ 4-token slice (where every
    * qualifying inter = 2 pair lives, since jac ≥ 0.5 ⟹ n1 + n2 ≤ 6),
    * plus the UNCONDITIONAL identical-set stratum (min_inter = 1):
    * `toks` is canonical (sorted), so list equality is set equality,
    * mirroring the Spark intra-set fan-out's df-cap exemption. Strata
    * overlap (an identical-set pair usually also shares kept grams) —
    * consumers dedupe with a final DISTINCT over the output columns.
    * Expects `base(k, toks)` in scope; emits tok/…/cand CTE bodies.
    */
  private def sqlSelfCands(cap: Int): String =
    s"""tok AS (SELECT k, unnest(toks) t FROM base),
       |tri AS (SELECT a.k, a.t || ' ' || b.t || ' ' || c.t c
       |        FROM tok a JOIN tok b ON a.k = b.k AND a.t < b.t
       |                   JOIN tok c ON b.k = c.k AND b.t < c.t),
       |tkept AS (SELECT k, c FROM tri QUALIFY count(*) OVER (PARTITION BY c) <= $cap),
       |stok AS (SELECT k, unnest(toks) t FROM base WHERE len(toks) <= 4),
       |scmb AS (SELECT a.k, a.t || ' ' || b.t c FROM stok a JOIN stok b ON a.k = b.k AND a.t < b.t),
       |skept AS (SELECT k, c FROM scmb QUALIFY count(*) OVER (PARTITION BY c) <= $cap),
       |cand AS (
       |  SELECT DISTINCT k1, k2, 3 min_inter
       |  FROM (SELECT a.k k1, b.k k2 FROM tkept a JOIN tkept b ON a.c = b.c AND a.k < b.k)
       |  UNION
       |  SELECT DISTINCT a.k k1, b.k k2, 2 min_inter
       |  FROM skept a JOIN skept b ON a.c = b.c AND a.k < b.k
       |  UNION
       |  SELECT a.k k1, b.k k2, 1 min_inter
       |  FROM base a JOIN base b ON a.toks = b.toks AND a.k < b.k
       |  WHERE len(a.toks) >= 2)""".stripMargin

  /** Shared SQL: two-sided capped-bigram ∪ exact-cleaned-name
    * candidates. Expects `lt(lk, lcn, ltoks)` / `rt(rk, rcn, rtoks)`.
    */
  private def sqlTwoSideCands(cap: Int): String =
    s"""ltok AS (SELECT lk, unnest(ltoks) t FROM lt),
       |lcmb AS (SELECT a.lk, a.t || ' ' || b.t c FROM ltok a JOIN ltok b ON a.lk = b.lk AND a.t < b.t),
       |rtok AS (SELECT rk, unnest(rtoks) t FROM rt),
       |rcmb AS (SELECT a.rk, a.t || ' ' || b.t c FROM rtok a JOIN rtok b ON a.rk = b.rk AND a.t < b.t),
       |hot AS (
       |  SELECT c FROM (SELECT c FROM lcmb UNION ALL SELECT c FROM rcmb)
       |  GROUP BY c HAVING count(*) > $cap
       |), cand AS (
       |  SELECT DISTINCT lk, rk FROM (
       |    SELECT a.lk, b.rk FROM lcmb a JOIN rcmb b USING (c)
       |    WHERE c NOT IN (SELECT c FROM hot)
       |    UNION
       |    SELECT lk, rk FROM lt JOIN rt ON lcn = rcn
       |  )
       |)""".stripMargin

  /** SQL: deletion-signature edit candidates. Expects `vocab(t)`;
    * emits sigs/skept/ecand.
    */
  private def sqlEditCands(cap: Int): String =
    s"""sigs AS (SELECT t, unnest(${Text.sqlDelNbh2("t")}) sig FROM vocab),
       |skept AS (SELECT t, sig FROM sigs QUALIFY count(*) OVER (PARTITION BY sig) <= $cap),
       |ecand AS (SELECT DISTINCT a.t t1, b.t t2 FROM skept a JOIN skept b ON a.sig = b.sig AND a.t < b.t)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_clean_name" ->
      s"""WITH d AS (
         |  SELECT p_partkey,
         |         p_name || CASE WHEN p_partkey % 2 = 0 THEN ' Pte. Ltd. Stall 12'
         |                        ELSE ' #03-21 (Unit 4B)' END AS raw
         |  FROM part
         |)
         |SELECT p_partkey, raw, ${cn("raw")} AS cleaned FROM d ORDER BY p_partkey""".stripMargin,
    "q_fuzzy_join_exact" ->
      s"""WITH a AS (SELECT p_partkey k1, ${cn("p_name || ' Pte Ltd'")} cn FROM part),
         |     b AS (SELECT p_partkey k2, ${cn("p_name || ' #01-77'")} cn FROM part)
         |SELECT k1, k2, a.cn AS cn FROM a JOIN b USING (cn) WHERE k1 < k2 ORDER BY k1, k2""".stripMargin,
    "q_token_jaccard_join" ->
      s"""WITH base AS (
         |  SELECT p_partkey k,
         |         list_sort(list_distinct(string_split(lower(p_name) || ' ' || lower(p_type), ' '))) toks
         |  FROM part
         |), ${sqlSelfCands(DfCap)},
         |v AS (
         |  SELECT k1, k2, min_inter,
         |         len(list_intersect(b1.toks, b2.toks)) inter,
         |         len(list_intersect(b1.toks, b2.toks))
         |           / len(list_distinct(list_concat(b1.toks, b2.toks)))::DOUBLE jac
         |  FROM cand JOIN base b1 ON b1.k = k1 JOIN base b2 ON b2.k = k2
         |)
         |SELECT DISTINCT k1, k2, round(jac, 6) jac FROM v
         |WHERE jac >= 0.5
         |  AND ((min_inter = 3 AND inter >= 2) OR (min_inter = 2 AND inter = 2)
         |       OR min_inter = 1)
         |ORDER BY k1, k2""".stripMargin,
    "q_levenshtein_pairs" ->
      s"""WITH vocab AS (SELECT DISTINCT unnest(string_split(lower(p_name), ' ')) t FROM part),
         |${sqlEditCands(DfCap)}
         |SELECT t1, t2,
         |       round((greatest(length(t1), length(t2)) - levenshtein(t1, t2))
         |             / greatest(length(t1), length(t2))::DOUBLE, 6) sim
         |FROM ecand
         |WHERE levenshtein(t1, t2) <= 2
         |  AND (greatest(length(t1), length(t2)) - levenshtein(t1, t2))
         |      / greatest(length(t1), length(t2))::DOUBLE >= 0.6
         |ORDER BY t1, t2""".stripMargin,
    "q_word_similar" ->
      s"""WITH vocab AS (SELECT DISTINCT unnest(string_split(lower(p_name), ' ')) t FROM part),
         |${sqlEditCands(DfCap)},
         |dict(yfull, yabbrev) AS (VALUES
         |  ('restaurant','rest'), ('restaurant','resto'), ('kitchen','kitch'),
         |  ('house','hse'), ('corner','cnr'), ('centre','ctr'),
         |  ('international','intl'), ('company','co'), ('private','pte'),
         |  ('limited','ltd')),
         |acand AS (
         |  SELECT DISTINCT least(yfull, yabbrev) t1, greatest(yfull, yabbrev) t2
         |  FROM dict JOIN vocab v1 ON v1.t = yfull JOIN vocab v2 ON v2.t = yabbrev
         |), allc AS (SELECT t1, t2 FROM ecand UNION SELECT t1, t2 FROM acand),
         |lab AS (
         |  SELECT c.t1, c.t2,
         |         (greatest(length(c.t1), length(c.t2)) - levenshtein(c.t1, c.t2))
         |           / greatest(length(c.t1), length(c.t2))::DOUBLE editsim,
         |         levenshtein(c.t1, c.t2) lev,
         |         a.t1 IS NOT NULL isab
         |  FROM allc c LEFT JOIN acand a ON a.t1 = c.t1 AND a.t2 = c.t2
         |)
         |SELECT t1, t2,
         |       CASE WHEN isab THEN 'abbrev'
         |            WHEN editsim >= 0.6 AND lev <= 2 THEN 'edit' END sim_rule,
         |       round(editsim, 6) editsim
         |FROM lab
         |WHERE isab OR (editsim >= 0.6 AND lev <= 2)
         |ORDER BY t1, t2""".stripMargin,
    "q_fuzzy_resolve" ->
      s"""WITH l AS (
         |  SELECT p_partkey lk, p_size lsize, ${cn("p_name || ' Pte Ltd'")} lcn FROM part
         |), lt AS (SELECT lk, lsize, lcn, list_distinct(string_split(lcn, ' ')) ltoks FROM l),
         |r AS (
         |  SELECT p_partkey rk, p_size rsize, ${cn("p_name || ' ' || lower(p_type)")} rcn FROM part
         |), rt AS (SELECT rk, rsize, rcn, list_distinct(string_split(rcn, ' ')) rtoks FROM r),
         |${sqlTwoSideCands(DfCap)},
         |scored AS (
         |  SELECT lk, rk,
         |         len(list_intersect(ltoks, rtoks)) inter,
         |         len(list_distinct(list_concat(ltoks, rtoks))) uni,
         |         len(list_intersect(ltoks, rtoks)) / len(list_distinct(list_concat(ltoks, rtoks)))::DOUBLE jac,
         |         CASE WHEN lsize = rsize THEN 1 ELSE 0 END size_match,
         |         CASE WHEN lcn = rcn AND lsize = rsize THEN 1
         |              WHEN lcn = rcn THEN 2
         |              WHEN len(list_intersect(ltoks, rtoks)) / len(list_distinct(list_concat(ltoks, rtoks)))::DOUBLE >= 0.5 THEN 3
         |         END tier
         |  FROM cand JOIN lt USING (lk) JOIN rt USING (rk)
         |)
         |SELECT lk, rk, tier, size_match, round(jac, 6) jac
         |FROM scored
         |WHERE tier IS NOT NULL
         |QUALIFY row_number() OVER (PARTITION BY lk ORDER BY tier, size_match DESC, jac DESC, rk) = 1
         |ORDER BY lk""".stripMargin,
    "q_fuzzy_resolve_worded" ->
      s"""WITH l AS (
         |  SELECT p_partkey lk, p_size lsize, ${cn("p_name || ' Centre Pte Ltd'")} lcn FROM part
         |), lt AS (SELECT lk, lsize, lcn,
         |            list_filter(list_distinct(string_split(lcn, ' ')), t -> length(t) > 2) ltoks
         |          FROM l),
         |r AS (
         |  SELECT p_partkey rk, p_size rsize, ${cn("p_name || ' Center #01-77'")} rcn FROM part
         |), rt AS (SELECT rk, rsize, rcn,
         |            list_filter(list_distinct(string_split(rcn, ' ')), t -> length(t) > 2) rtoks
         |          FROM r),
         |${sqlTwoSideCands(DfCap)},
         |scored AS (
         |  SELECT lk, rk,
         |         list_filter(ltoks, w -> len(list_filter(rtoks, h ->
         |           contains(h, w) OR contains(w, h)
         |           OR list_contains($sqlDictList, w || '|' || h)
         |           OR (greatest(length(w), length(h)) - levenshtein(w, h))
         |              / greatest(length(w), length(h))::DOUBLE >= 0.8)) > 0) matched,
         |         len(ltoks) ln, len(rtoks) rn,
         |         CASE WHEN lsize = rsize THEN 1 ELSE 0 END size_match
         |  FROM cand JOIN lt USING (lk) JOIN rt USING (rk)
         |), m AS (
         |  SELECT lk, rk,
         |         CAST(len(matched) AS BIGINT) wm,
         |         CAST(len(list_filter(matched, w -> NOT list_contains($sqlGenericList, w))) AS BIGINT) nspecific,
         |         round(len(matched) / greatest(ln, rn)::DOUBLE, 6) sim,
         |         size_match
         |  FROM scored
         |)
         |SELECT lk, rk, wm, nspecific, sim, size_match
         |FROM m
         |WHERE sim >= 0.95 AND wm >= 3 AND nspecific >= 2
         |QUALIFY row_number() OVER (PARTITION BY lk ORDER BY size_match DESC, sim DESC, rk) = 1
         |ORDER BY lk""".stripMargin)
}
