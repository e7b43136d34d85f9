package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Consistency between dedup operators that claim overlapping truth:
  * the suites must agree wherever their semantics intersect.
  */
class CrossOperatorConsistencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def unordered(a: Long, b: Long): (Long, Long) = if (a < b) (a, b) else (b, a)

  test("incremental dedup equals the full ngram pair set restricted to new-anchored pairs") {
    import spark.implicits._
    val isNew = graft.sources.Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "conv(substring(md5(cast(text AS BINARY)), 1, 8), 16, 10) % 10 >= 8 AS n")
      .as[(Long, Boolean)].collect().toMap
    val full = DedupOps.dedupNgram(spark, sf).collect()
      .map(r => (unordered(r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val restricted = full.filter { case ((a, b), _) => isNew(a) || isNew(b) }
    val incr = DedupOps.dedupIncremental(spark, sf).collect()
      .map(r => (unordered(r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(incr === restricted)
    assert(incr.nonEmpty)
  }

  test("containment dominates jaccard: every high-jaccard ngram pair appears in both directions") {
    // C(a→b) = |∩|/|S_a| ≥ |∩|/|union| = J, so any ngram pair with
    // jac ≥ the containment threshold must be emitted by the
    // containment query in BOTH directions, with cont ≥ jac
    val thr = DedupOps.ContainmentThreshold
    val ngram = DedupOps.dedupNgram(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter(_._2 >= thr)
    val cont = DedupOps.dedupContainment(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(ngram.nonEmpty)
    ngram.foreach { case ((a, b), jac) =>
      assert(cont.get((a, b)).exists(_ >= jac - 1e-6), s"missing $a->$b (jac $jac)")
      assert(cont.get((b, a)).exists(_ >= jac - 1e-6), s"missing $b->$a (jac $jac)")
    }
  }

  test("dup-rate-by-source: exact excess and rate on a corpus with planted duplicates") {
    import spark.implicits._
    // srcA: 5 docs, 2 sharing content (excess 1); srcB: 4 docs all the
    // same (excess 3); srcC: 2 distinct docs (excess 0)
    val docs = Seq(
      ("srcA", "one"), ("srcA", "two"), ("srcA", "three"), ("srcA", "two"), ("srcA", "four"),
      ("srcB", "same"), ("srcB", "same"), ("srcB", "same"), ("srcB", "same"),
      ("srcC", "x"), ("srcC", "y")).toDF("source", "text")
    val out = DedupOps.dupRateBySourceFrame(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out("srcA") === ((5L, 4L, 1L, 0.2)))
    assert(out("srcB") === ((4L, 1L, 3L, 0.75)))
    assert(out("srcC") === ((2L, 2L, 0L, 0.0)))
  }

  test("quality-percentile keeps roughly the top half per language, never below the threshold") {
    import spark.implicits._
    val kept = TextOps.qualityPercentile(spark, sf).collect()
    assert(kept.nonEmpty)
    kept.foreach(r => assert(r.getDouble(2) >= r.getDouble(3))) // quality >= thr
    val total = graft.sources.Tables.documents(spark, sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    kept.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val frac = rows.length.toDouble / total(lang)
      // a median cut keeps ~half; score ties at the sketch bin can
      // push it above, the interpolation slightly below
      assert(frac > 0.3 && frac < 0.8, s"$lang kept $frac")
    }
  }

  test("bigram LM: n_bigrams = n_tokens - 1 per doc, and unigram/bigram agree on doc coverage") {
    val uni = TextOps.lmScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bi = TextOps.lmBigram(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bi.nonEmpty)
    // same whitespace tokenization on both rungs of the ladder
    bi.foreach { case (doc, nb) => assert(nb === uni(doc) - 1, s"doc $doc") }
    assert(uni.keySet.filter(uni(_) >= 2) === bi.keySet)
  }

  test("lsh bucket stats pair_bound equals the band join's actual pre-verify candidate count") {
    // the pre-flight's whole value is that its bound is EXACT for the
    // join it gates: Σ C(bucket,2) per band must equal the number of
    // (d1 < d2) pairs the band self-join emits before verification
    val stats = DedupOps.lshBucketStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(stats.nonEmpty)
    val bandRows = DedupOps.minhashBandRows(
        graft.sources.Tables.documents(spark, sf)).collect()
      .map(r => (r.getInt(1), r.getString(2), r.getLong(0)))
    val byBucket = bandRows.groupBy(t => (t._1, t._2)).view.mapValues(_.size).toMap
    for (band <- byBucket.keys.map(_._1).toSeq.distinct) {
      val sizes = byBucket.collect { case ((b, _), n) if b == band => n.toLong }.toSeq
      val (nBuckets, nMulti, maxB, bound) = stats(band.toLong)
      assert(nBuckets === sizes.size, s"band $band bucket count")
      assert(nMulti === sizes.count(_ > 1), s"band $band multi buckets")
      assert(maxB === sizes.max, s"band $band max bucket")
      assert(bound === sizes.map(n => n * (n - 1) / 2).sum, s"band $band pair bound")
    }
  }

  test("minhash recall probe equals driver-side recall over the content sample") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(graft.functions.Hashing.hex32(col("text")) % DedupOps.RecallSampleMod === 0)
    val truth = DedupOps.dedupNgramFrame(docs, DfCap).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = DedupOps.dedupMinhashFrame(docs).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "sample must contain qualifying pairs at sf0.01")
    val row = DedupOps.minhashRecall(spark, sf).collect().head
    assert(row.getLong(0) === truth.size.toLong)
    assert(row.getLong(1) === found.size.toLong)
    assert(row.getLong(2) === truth.intersect(found).size.toLong)
    assert(row.getDouble(3) ===
      BigDecimal(truth.intersect(found).size.toDouble / truth.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(row.getLong(4) === (found -- truth).size.toLong)
  }

  test("ann recall probe equals driver-side recall of ivf against exact top-k") {
    val exact = AnnOps.annTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val approx = AnnOps.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byProbe = exact.groupBy(_._1)
    val expected = byProbe.view
      .mapValues(hits => hits.count(approx.contains).toLong).toMap
    val probe = AnnOps.annRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(probe.map(_._1).toSet === expected.keySet)
    probe.foreach { case (id, nExact, nHits, recall) =>
      assert(nExact === byProbe(id).length.toLong, s"probe $id n_exact")
      assert(nHits === expected(id), s"probe $id n_hits")
      assert(recall ===
        BigDecimal(nHits.toDouble / nExact)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"probe $id recall")
    }
    // the probe must exercise a real measurement, not a degenerate one
    assert(probe.map(_._4).sum > 0.0)
  }

  test("minhash-LSH pairs are a subset of the ngram pairs with identical jaccard (below the cap)") {
    val ngram = DedupOps.dedupNgram(spark, sf).collect()
      .map(r => (unordered(r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val mh = DedupOps.dedupMinhash(spark, sf).collect()
      .map(r => (unordered(r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(mh.nonEmpty)
    // a minhash band collision implies a shared shingle (the shared
    // argmin), so with no hot keys at sf0.01 every minhash pair must
    // be an ngram candidate too — with the same exact measure
    mh.foreach { case (pair, jac) =>
      assert(ngram.contains(pair), s"minhash pair $pair missing from ngram")
      assert(ngram(pair) === jac)
    }
  }
}
