package graft.operators

import java.security.MessageDigest

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Random-frame fuzz for the incremental decontamination against an
  * INDEPENDENT driver-side replica of the FULL contamination
  * semantics (plain Scala: split-keeping-empties tokenization, 8-gram
  * windows, per-doc-distinct postings, df cap, bench = md5 bucket,
  * train×bench evidence) — not the Spark pipeline and not the DuckDB
  * mirror, so a bug shared between the query and its oracle cannot
  * hide. Frames draw from a small vocabulary so cross-doc gram
  * collisions actually occur, and two engineered frames push a shared
  * gram over the df cap with the midpoint cut INSIDE the crossing.
  */
class ContamFuzzIvmSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val K = 8        // gram width (ContamK)
  private val Cap = 1000   // df cap (DfCap)

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(577L + i)))

  private def isBench(t: String): Boolean = {
    val d = MessageDigest.getInstance("MD5")
      .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 20 == 0
  }

  /** The independent reference: full-corpus contamination. */
  private def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
    val grams = docs.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val gs = if (toks.length < K) Set.empty[String]
        else toks.sliding(K).map(_.mkString(" ")).toSet
      (id, isBench(t), gs)
    }
    val df = grams.flatMap(_._3).groupBy(identity).map { case (g, xs) => g -> xs.size }
    val kept = grams.map { case (id, b, gs) => (id, b, gs.filter(df(_) <= Cap)) }
    val benchGrams = kept.filter(_._2).flatMap { case (id, _, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSet }
    kept.filterNot(_._2).flatMap { case (id, _, gs) =>
      val hits = gs.filter(benchGrams.contains)
      if (hits.isEmpty) None
      else Some(id -> ((hits.size.toLong, hits.flatMap(benchGrams).size.toLong)))
    }.toMap
  }

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] =
    CorpusOps.contamIncrementalFrom(docs.toDF("doc_id", "text"))._2
      .select($"doc_id", $"n_grams", $"n_bench")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu")

  private val frameGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(30, 90)
    rows <- Gen.listOfN(n, for {
      len <- Gen.choose(4, 20) // some docs too short for any gram
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
      // a third of the docs carry one of two shared phrases, so
      // cross-doc gram collisions (and bench/train straddles — bench
      // membership stays hash-random) actually occur
      shared <- Gen.choose(0, 5)
    } yield (if (shared == 0) vocab.take(K) ++ toks
             else if (shared == 1) vocab.takeRight(K) ++ toks
             else toks).mkString(" "))
  } yield rows.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }

  test("incremental ≡ an independent full-semantics replica on random frames") {
    samples(frameGen, 12).foreach { docs =>
      val got = run(docs)
      val want = reference(docs)
      assert(got === want, s"n=${docs.size}")
      // the fuzz must do real work somewhere across the sample set —
      // checked per frame would flake; vocab overlap makes most
      // frames nonempty, assert this one isn't trivially empty-only
    }
    // sanity: at least one sampled frame produced contamination
    assert(samples(frameGen, 12).exists(d => reference(d).nonEmpty),
      "every sampled frame was contamination-free — the generator is too sparse")
  }

  test("df-cap crossing at the midpoint: over-cap boilerplate demotes, under-cap stays") {
    // a shared gram carried by `m` docs; the doc_id midpoint falls
    // inside the block, so the crossing (when m > Cap) happens in the
    // DELTA — the retroactive-demotion path — while m ≤ Cap keeps the
    // evidence. The reference recomputes from scratch either way.
    def frame(m: Int): Seq[(Long, String)] = {
      val gram = "alpha beta gamma delta eps zeta eta theta"
      val bench = (1L, s"$gram iota mu") // hashes into the bench slice
      assert(isBench(bench._2), "the bench candidate wording drifted")
      bench +: (2 to m + 1).map(i => (i.toLong, s"$gram filler$i"))
    }
    Seq(Cap - 5, Cap + 5).foreach { m =>
      val docs = frame(m)
      assert(run(docs) === reference(docs), s"m=$m")
    }
  }
}
