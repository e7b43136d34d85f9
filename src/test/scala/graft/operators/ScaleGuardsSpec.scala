package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Guards for the scale-critical behaviors of round 2: LSH recall vs
  * the exact baseline, df-capped blocking on hot keys, connected-
  * component convergence on deep chains, and single-token-name safety
  * in the fuzzy resolver.
  */
class ScaleGuardsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf01 = "/root/testdata/sf0.01"

  // --- LSH prefilter recall ------------------------------------------------

  test("embedding LSH dedup equals the all-pairs baseline at sf0.01 (candidates ⊇ truth)") {
    val lsh = DedupOps.dedupEmbedding(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = DedupOps.dedupEmbeddingAllPairs(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty, "baseline should find at least one pair at sf0.01")
    assert(lsh === full)
  }

  // --- df-capped blocking --------------------------------------------------

  private val Planted = "unique alpha beta gamma delta epsilon zeta eta theta"

  /** 40 docs that all share one boilerplate sentence (a hot shingle
    * with df 40) plus two genuine near-dup pairs, (0, 1) and (2, 3),
    * that share distinctive content; `doc1` is doc 1's content ahead
    * of the boilerplate (by default doc 0's).
    */
  private def boilerCorpus(doc1: String = Planted) = {
    import spark.implicits._
    val boiler = "all rights reserved worldwide"
    (0 until 40).map { i =>
      val body =
        if (i == 0) s"$Planted $boiler"
        else if (i == 1) s"$doc1 $boiler"
        else if (i == 2 || i == 3) s"other kappa lambda mu nu xi omicron pi rho $boiler"
        else s"filler${i}a filler${i}b filler${i}c filler${i}d $boiler"
      (i.toLong, body)
    }.toDF("doc_id", "text")
  }

  /** With the cap the hot shingle is dropped from blocking: the
    * boilerplate-only pairs disappear while true dups survive via
    * their cold shingles.
    */
  test("df-cap drops hot blocking keys but keeps true dups reachable via cold shingles") {
    val docs = boilerCorpus()

    val capped = DedupOps.dedupNgramFrame(docs, dfCap = 10)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // true dups (0,1) and (2,3) share 6+ cold shingles each → survive
    assert(capped.contains((0L, 1L)) && capped.contains((2L, 3L)))
    // filler docs share ONLY boilerplate shingles (df 40 > cap) → no
    // candidate blowup: none of the 36×35/2 filler pairs appear
    assert(capped.forall { case (a, b) => a <= 3 && b <= 3 })

    val uncapped = DedupOps.dedupNgramFrame(docs, dfCap = Int.MaxValue)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
  }

  /** The incremental pass reads the same capped index: every doc
    * holds the hot boilerplate shingle, so every candidate pair is
    * both-tainted and its measure comes from the exact-verify branch.
    * "psi" makes doc 1 a near-dup (Jaccard 9/14) that is_new flags, so
    * the planted pair (0, 1) is new-anchored; (2, 3) stays old×old.
    */
  test("incremental dedup under the df-cap equals the capped ngram pairs restricted to new-anchored pairs") {
    import spark.implicits._
    val docs = boilerCorpus(doc1 = s"$Planted psi")
    def unordered(a: Long, b: Long): (Long, Long) = if (a < b) (a, b) else (b, a)
    val isNew = docs
      .selectExpr("doc_id", "conv(substring(md5(cast(text AS BINARY)), 1, 8), 16, 10) % 10 >= 8")
      .as[(Long, Boolean)].collect().toMap
    val restricted = DedupOps.dedupNgramFrame(docs, dfCap = 10).collect()
      .map(r => (unordered(r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      .filter { case ((a, b), _) => isNew(a) || isNew(b) }
    assert(restricted.get((0L, 1L)).contains(9.0 / 14), s"planted pair not new-anchored: $restricted")
    val incr = DedupOps.dedupIncrementalFrame(docs, dfCap = 10).collect()
      .map(r => (unordered(r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(incr === restricted)
  }

  // --- connected components ------------------------------------------------

  test("connected components labels a 60-node chain correctly (diameter >> round cap)") {
    import spark.implicits._
    // path 100-101-...-159 plus a separate triangle 500-501-502
    val chain = (100L until 159L).map(i => (i, i + 1))
    val tri = Seq((500L, 501L), (501L, 502L), (500L, 502L))
    val labels = DedupOps.connectedComponents((chain ++ tri).toDF("d1", "d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((100L to 159L).forall(labels(_) == 100L))
    assert((500L to 502L).forall(labels(_) == 500L))
  }

  test("connected components fails loudly when the round cap is too low") {
    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    assertThrows[IllegalStateException] {
      DedupOps.connectedComponents(chain, maxRounds = 2).collect()
    }
  }

  // --- single-token names in the fuzzy resolver ----------------------------

  test("resolve matches exact tiers for names that clean to a single token") {
    import spark.implicits._
    val l = Seq((1L, "Acme Pte Ltd", "11111"), (2L, "Zen Garden House", "22222"))
      .toDF("id", "name", "postal")
    val r = Seq((10L, "ACME Private Limited", "11111"), (20L, "Zen Garden Hse #01-02", "33333"))
      .toDF("id", "name", "postal")
    val out = FuzzyJoin.resolve(
        l, "id", col("name"), col("postal"),
        r, "id", col("name"), col("postal"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // "Acme Pte Ltd" cleans to the single token "acme" — no bigram
    // exists, yet tier 1 (exact name + postal) must still find it
    assert(out.contains((1L, 10L, 1)))
  }

  // --- deletion-neighborhood blocking is lossless for lev ≤ 2 --------------

  test("deletion signatures cover every vocab pair within levenshtein 2") {
    import spark.implicits._
    val words = Seq("kitchen", "kitchn", "centre", "center", "cntre", "abc", "a",
      "ab", "ba", "yellow", "yellw", "mellow", "stall", "small", "smalls")
    def lev(s: String, t: String): Int = {
      val d = Array.tabulate(s.length + 1, t.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to s.length; j <- 1 to t.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1))
      d(s.length)(t.length)
    }
    val want = (for {
      a <- words; b <- words if a < b && lev(a, b) <= 2
    } yield (a, b)).toSet
    val got = FuzzyOps.editCands(words.toDF("t"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(want.subsetOf(got), s"missing: ${want diff got}")
  }

  // --- worded resolve: fuzzy word-match rules ------------------------------

  test("worded resolve accepts self-pairs via dictionary word match (centre↔center)") {
    val rows = FuzzyOps.fuzzyResolveWorded(spark, sf01).collect()
    assert(rows.nonEmpty)
    // every accepted match satisfies the reference's strict bar
    assert(rows.forall { r =>
      val wm = r.getLong(2); val nspec = r.getLong(3); val sim = r.getDouble(4)
      wm >= 3 && nspec >= 2 && sim >= 0.95
    })
    // names are "<p_name> centre" vs "<p_name> center": only the
    // 2-word p_name can match exactly, so wm ≥ 3 is reachable ONLY via
    // the dictionary rule (centre↔center: editsim 0.667 < 0.8, not a
    // substring) — any accepted self-pair proves the fuzzy rule fired
    assert(rows.exists(r => r.getLong(0) == r.getLong(1)))
  }

  // --- native expression validation ---------------------------------------

  test("graft_dot rejects mixed element types at analysis time") {
    import graft.plans.VectorExpressions
    val df = spark.range(1)
      .withColumn("f", array(lit(1.0f), lit(2.0f)))
      .withColumn("d", array(lit(1.0), lit(2.0)))
    assertThrows[org.apache.spark.sql.AnalysisException] {
      df.select(VectorExpressions.dotNative(col("f"), col("d"))).collect()
    }
  }

  test("graft_dot raises on length mismatch instead of truncating") {
    import graft.plans.VectorExpressions
    val df = spark.range(1)
      .withColumn("a", array(lit(1.0f), lit(2.0f)))
      .withColumn("b", array(lit(1.0f)))
    val ex = intercept[Exception] {
      df.select(VectorExpressions.dotNative(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).exists(c => c.getMessage != null && c.getMessage.contains("length mismatch")))
  }

  test("token-jaccard strata find the inter = 2 pairs trigram blocking cannot see") {
    import spark.implicits._
    val docs = Seq(
      // 3-token rows sharing exactly 2 tokens: jac = 2/4 = 0.5
      // qualifies but the pair shares ZERO trigrams — only the
      // small-row bigram stratum can find it
      (1L, Seq("aa", "bb", "cc")), (2L, Seq("aa", "bb", "dd")),
      // 5-token rows sharing 2 tokens: jac = 2/8 < 0.5 — correctly
      // absent whether or not any stratum generates the candidate
      (3L, Seq("aa", "bb", "e1", "e2", "e3")), (4L, Seq("aa", "bb", "f1", "f2", "f3")))
      .toDF("k", "toks")
    val out = FuzzyOps.tokenJaccardFrame(docs, cap = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((1L, 2L, 0.5)))
  }

  test("token-jaccard df-cap: hot-only pairs dropped, undercounted pairs still exact via fallback") {
    import spark.implicits._
    // all rows here are ≤ 4 tokens except (20, 21), so the small-row
    // bigram stratum sees docs 1-6, 10, 11, 40, 41 — within it the
    // (stop1, stop2) bigram has df 12 > cap 3 and is dropped
    val docs = Seq(
      // boilerplate-only docs: every shared bigram is hot → never
      // candidates in the small stratum, and no shared trigram exists
      (1L, Seq("stop1", "stop2", "ua")), (2L, Seq("stop1", "stop2", "ub")),
      (3L, Seq("stop1", "stop2", "uc")), (4L, Seq("stop1", "stop2", "ud")),
      (5L, Seq("stop1", "stop2", "ue")), (6L, Seq("stop1", "stop2", "uf")),
      // near-dup pair (3 of 5 tokens shared, jac 0.6): found CLEAN by
      // the trigram stratum (shared trigram (stop1,stop2,w1) df 2 stays
      // under the cap → inter = 3 arithmetic); the small stratum ALSO
      // reaches it through the dirty bounded-UB fallback (both sides
      // dropped the hot bigram, exact verify runs on full arrays) but
      // discards it there as inter ≠ 2 — no duplicate row
      (10L, Seq("stop1", "stop2", "w1", "w2")), (11L, Seq("stop1", "stop2", "w1", "w3")),
      // low-overlap pair: 3 shared of 6 tokens → one shared trigram,
      // clean arithmetic inter = 3 → jac 1/3 < 0.5, rejected without
      // token arrays ever shuffling
      (20L, Seq("stop1", "stop2", "x", "d1a", "d1b", "d1c")),
      (21L, Seq("stop1", "stop2", "x", "d2a", "d2b", "d2c")),
      // dirty-EMIT pair: inter = 2 ({stop2, s}), jac 0.5. The shared
      // bigram (s, stop2) is kept (df 2), but BOTH sides also dropped
      // a hot gram — 40 the (stop1,stop2) boilerplate, 41 the (s,z)
      // gram made hot by donors 50-53 — so min(hd) > 0 forces the
      // small stratum's bounded-UB fallback to exact-verify and EMIT
      (40L, Seq("stop1", "stop2", "s")), (41L, Seq("stop2", "s", "z")),
      (50L, Seq("s", "z", "u50")), (51L, Seq("s", "z", "u51")),
      (52L, Seq("s", "z", "u52")), (53L, Seq("s", "z", "u53")),
      // identical-set pair whose EVERY gram is hot: the df-cap
      // exemption contract — identical sets ride the unconditional
      // intra stratum, so the cap cannot drop them
      (60L, Seq("stop1", "stop2")), (61L, Seq("stop1", "stop2")))
      .toDF("k", "toks")
    // documented bounded losses at this cap: 41 vs each (s,z) donor
    // and the donors pairwise (jac 0.5 via {s,z}) share ONLY the hot
    // (s,z) gram → never candidates; same for (60|61) vs docs 1-6
    // (jac 2/3 via the hot boilerplate bigram only)
    val out = FuzzyOps.tokenJaccardFrame(docs, cap = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(out === Seq((10L, 11L, 0.6), (40L, 41L, 0.5), (60L, 61L, 1.0)))
  }

  test("no registered query plans a buffer-every-value Percentile outside the declared exact pair") {
    // `percentile` sorts EVERY per-group value inside its aggregation
    // buffer — the one aggregate shape that cannot ride to 100 TB.
    // Exactly two queries are allowed to carry it: q_quantiles (the
    // declared exact-truth operator) and q_quantiles_sketch (whose
    // OUTPUT is the sketch-vs-exact comparison). Everything else must
    // use QuantileSketch / approx_percentile; round 9 moved
    // q_value_outliers_robust's exact audit out of the registry, and
    // this guard keeps it (and every future query) out.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    val allowed = Set("q_quantiles", "q_quantiles_sketch")
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allowed)
      .filter { name =>
        val plan = graft.SparkEntry.queries(name)(spark, TestSpark.Sf)
          .queryExecution.optimizedPlan
        plan.exists(_.expressions.exists(_.exists {
          case _: Percentile => true
          case _ => false
        }))
      }
    assert(offenders.isEmpty,
      s"exact Percentile planned outside the declared pair: ${offenders.mkString(", ")}")
  }

  test("count-min sketch readout never undercounts a heavy hitter") {
    val rows = TextOps.heavyHitters(spark, sf01).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 20)
    // CMS collisions add, never subtract: every estimate bounds the
    // true count from above
    rows.foreach { case (t, n, est) => assert(est >= n, s"undercount for '$t'") }
    // and the top token's bucket in a 4x64 sketch of a shared-vocab
    // corpus certainly collides with something: est is a real estimate,
    // not an echo of the exact count everywhere
    assert(rows.exists { case (_, n, est) => est > n })
  }

  test("hyperplane signatures match a driver-side recomputation") {
    import graft.plans.VectorExpressions
    import graft.functions.Vectors
    val bands = 4; val bits = 6; val dim = 64
    val rows = graft.sources.Tables.embeddings(spark, sf01)
      .filter(col("vec_id") < 3)
      .select(col("vec_id"),
        VectorExpressions.hyperplaneSigsNative(col("embedding"), bands, bits, dim).as("sigs"),
        col("embedding"))
      .collect()
    val w = Vectors.hyperplaneWeights(bands * bits, dim)
    rows.foreach { r =>
      val emb = r.getSeq[Float](2)
      val q = emb.map(x => math.floor(x.toDouble * 1e6).toLong)
      val expect = (0 until bands).map { b =>
        (0 until bits).map { j =>
          val s = q.indices.map(i => q(i) * w(b * bits + j)(i)).sum
          if (s >= 0) 1L << j else 0L
        }.sum
      }
      assert(r.getSeq[Long](1) === expect)
    }
  }
}
