package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.planNodes

/** Plan-shape regression guards: the properties `.explain` reviews
  * manually, pinned in CI. A pass that silently loses column pruning,
  * turns a broadcast dim join into a shuffle, or plans a cartesian
  * product is a 100 TB incident a correctness hash can't catch.
  */
class PlanGuardsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  private def nodes(df: DataFrame): Seq[SparkPlan] =
    planNodes(df.queryExecution.executedPlan)

  /** Builds `build` and returns it with the executed plans of every
    * `localCheckpoint`/`checkpoint` execution that building it ran.
    * `operators.materialize` pins eagerly: the pinned lineage runs as
    * its own execution while the query is built, and the query's
    * `executedPlan` only scans the pinned rows.
    */
  private def withPinnedPlans(build: => DataFrame): (DataFrame, Seq[SparkPlan]) = {
    var df: DataFrame = null
    val pins = TestSpark.executedPlans { df = build }.collect {
      case (f, p) if f == "localCheckpoint" || f == "checkpoint" => p
    }
    (df, pins)
  }

  /** `nodes` of the built query plus the nodes of every pin it ran. */
  private def queryNodes(build: => DataFrame): Seq[SparkPlan] = {
    val (df, pins) = withPinnedPlans(build)
    nodes(df) ++ pins.flatMap(planNodes)
  }

  test("q1_agg scan is column-pruned to the referenced lineitem columns") {
    val scans = nodes(Queries.q1Agg(spark, sf)).collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val widths = scans.map(_.requiredSchema.fieldNames.length)
    // 7 referenced columns (flag, status, qty, price, discount, tax,
    // shipdate) out of 16 — a 16-wide read schema means pruning died
    assert(widths.forall(_ <= 7),
      s"lineitem read schema widths $widths exceed the 7 referenced columns")
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val scans = nodes(Queries.q1Agg(spark, sf)).collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("LessThanOrEqual"))),
      "shipdate predicate not pushed to the scan")
  }

  test("events loader: pruning and pushdown survive the ts-normalize projection") {
    // Tables.events wraps the scan in a Project (dtype-normalized
    // ts_ns) — a seam that could silently block column pruning and
    // predicate pushdown for every event query; pin both through it
    import org.apache.spark.sql.functions.col
    val df = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"))
    val scans = nodes(df).collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // referenced: ts (pre-normalize), user_id, event_type — never all 6
    assert(scans.forall(_.requiredSchema.fieldNames.length <= 3),
      s"events read schema not pruned: ${scans.map(_.requiredSchema.fieldNames.toSeq)}")
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("EqualTo(event_type"))),
      "event_type predicate not pushed through the normalize projection")
  }

  test("star join plans every dimension as a broadcast join, no cartesian product") {
    val df = graft.operators.CoreOps.joinAggNation(spark, sf)
    df.write.format("noop").mode("overwrite").save() // let AQE finalize
    val ns = nodes(df)
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]), "cartesian product planned")
    val broadcasts = ns.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(broadcasts >= 2, s"expected ≥2 broadcast dim joins, saw $broadcasts")
  }

  test("bloom semi join keeps the bloom filter BELOW the left-semi join") {
    // the _bf_tag trick exists to stop PushDownLeftSemiAntiJoin from
    // hoisting the semi join under the bloom filter (which would feed
    // it the unpruned probe); a Spark upgrade that constant-folds the
    // tag would silently undo it — pin the executed shape
    val df = graft.operators.CoreOps.bloomSemiJoin(spark, sf)
    df.write.format("noop").mode("overwrite").save() // let AQE finalize
    val semis = nodes(df).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.nonEmpty, "no left-semi join in the executed plan")
    // the membership predicate (a forall over xxhash64 positions) may
    // surface as a FilterExec or be absorbed into the bitmap
    // crossJoin's condition — either way it must sit in the semi
    // join's LEFT (probe) subtree
    val bloomBelow = semis.exists(j =>
      planNodes(j.children.head).exists { p =>
        val self = p.simpleString(10000)
        self.contains("xxhash64") && self.contains("forall")
      })
    assert(bloomBelow,
      "bloom membership filter is not below the semi join — the pushdown descent re-enabled")
  }

  test("no partition-less window over a corpus-derived frame in ANY registered query") {
    import org.apache.spark.sql.execution.window.WindowExec
    // a Window.partitionBy() moves its whole input through ONE
    // partition — the classic silent scale-killer. No whitelist and
    // no limit-bounded escape hatch: every window in every registered
    // query must be keyed, forever. Global totals are scalar
    // aggregates broadcast-crossed back (CorpusOps.classBalance);
    // tiny top-k frames rank via sorted-array posexplode position
    // (CorpusOps.weightedSample) — neither plans a WindowExec. A
    // pinned intermediate's window runs in the pin's own execution,
    // so those plans are walked too.
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filter { name =>
        queryNodes(SparkEntry.queries(name)(spark, sf)).exists {
          case w: WindowExec => w.partitionSpec.isEmpty
          case _ => false
        }
      }
    assert(offenders.isEmpty,
      s"partition-less windows found in: ${offenders.mkString(", ")}")
  }

  test("winnow/ngram fingerprint projections evaluate ONCE (exchange reuse below the pair fan-out)") {
    // the r12 winnowDedup regression: the expensive fingerprint
    // transform sat ABOVE its repartition barrier, so every consumer
    // (df agg, both self-join sides) re-ran it — 615 s at sf0.1. The
    // contract is ONE evaluation per query. It is met either below a
    // shared exchange that every consumer reuses, or inside a pinned
    // materialization (`operators.materialize`): the pin runs the
    // transform once in its own localCheckpoint/checkpoint execution
    // while the query is built, and its consumers read the pinned
    // rows. So count EVALUATIONS of the transform across the final
    // executed plan AND every pin execution the query ran: walk
    // without descending into reused exchanges (a ReusedExchange
    // shares the evaluation), dedupe by node identity, require
    // exactly one site — a Generate (the winnow postings generator)
    // or a Project (the ngram shingle transform). An evaluation in a
    // pin counts as the one site; a pin plus any re-evaluation in the
    // final plan counts as two.
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec}
    def evalSites(build: => DataFrame, marker: String): Int = {
      val (df, pins) = withPinnedPlans(build)
      // execute THIS QueryExecution (df.write builds a fresh one whose
      // AQE plan never finalizes) so the walk sees runtime stage reuse
      df.queryExecution.toRdd.count()
      def w(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: w(a.executedPlan)
        case q: QueryStageExec => q +: w(q.plan)
        case r: ReusedExchangeExec => Seq(r) // shared evaluation — stop
        case other => other +: other.children.flatMap(w)
      }
      (df.queryExecution.executedPlan +: pins).flatMap(w)
        .collect {
          case p: ProjectExec
              if p.projectList.exists(_.toString.toLowerCase.contains(marker)) => p
          case g: GenerateExec
              if g.generator.toString.toLowerCase.contains(marker) => g
        }
        .map(System.identityHashCode).distinct.size
    }
    val winnow = evalSites(SparkEntry.queries("q_winnow_dedup")(spark, sf), "winnowpostingsgen")
    assert(winnow == 1, s"winnow fingerprint generator evaluated at $winnow sites, expected 1")
    // the ngram postings generator must be the ONE corpus-wide shingle
    // evaluation; the dirty-path shingleSet recompute is bounded to
    // both-tainted survivors and is AQE-pruned entirely on this corpus
    // (hot set empty below the cap)
    val ngram = evalSites(SparkEntry.queries("q_dedup_ngram")(spark, sf), "shinglepostingsgen")
    assert(ngram == 1, s"ngram shingle generator evaluated at $ngram sites, expected 1")
  }

  // exchanges whose INPUT rows still carry the blob payload column —
  // the "blob bytes never ride an exchange" contract counts these,
  // not the slim presentation sort over decoded feature rows
  private def blobShuffles(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    df.collect() // finalize AQE
    nodes(df).count {
      case s: ShuffleExchangeLike => s.child.output.exists(_.name == "text")
      case _ => false
    }
  }

  test("media feature extraction is shuffle-free (blob bytes never ride an exchange)") {
    // the multimodal contract, r20 form: decode happens inside a
    // scan-side mapPartitions boundary and emits one slim row per
    // blob. Cheap single-pass walks (BMP, WAV, RLE, WHT, Rice, AVI
    // demux) carry NO width barrier after the r20 paired adjudication
    // — their blob frames are UNCONDITIONALLY exchange-free at any
    // width (the only remaining exchange is the presentation sort
    // over slim decoded-feature rows).
    Seq("q_bmp_features", "q_wav_features", "q_rle_frames", "q_wht_frames")
      .foreach { name =>
        val n = blobShuffles(SparkEntry.queries(name)(spark, sf))
        assert(n === 0, s"$name plans $n blob-carrying shuffle(s), expected 0")
      }
    // expensive codec walks (GIF LZW, GOP recursion, ...) keep the
    // CONDITIONAL widen barrier: it repartitions the blob frame only
    // when the scan's estimated splits are below HALF the session
    // width, and is a no-op on any layout with enough splits. With
    // the width forced to 1 the blob frame must be exchange-free,
    // proving no unconditional exchange ever carries blob bytes; at
    // the normal width at most the one widen barrier may appear.
    Seq("q_gif_frames", "q_gop_frames").foreach { name =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        val n = blobShuffles(SparkEntry.queries(name)(spark, sf))
        assert(n === 0, s"$name plans $n blob-carrying shuffle(s) at width 1")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      val n = blobShuffles(SparkEntry.queries(name)(spark, sf))
      assert(n <= 1, s"$name plans $n blob-carrying shuffle(s), expected <= 1 (the widen barrier)")
    }
  }

  test("widen is a no-op on a multi-split layout at a realistic width (r19 ADVICE)") {
    // The 100 TB contract must hold from the HEADROOM rule, not just
    // at width 1: with the scan's estimated split count >= width/2,
    // the widened codec paths must plan ZERO blob-carrying shuffles
    // even though the session width exceeds 1. Simulate a multi-split
    // layout by shrinking maxPartitionBytes until documents.parquet
    // estimates >= width/2 splits (the probe is
    // bytes/maxPartitionBytes — no physical planning, so this conf is
    // all it reads).
    val prevWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
      val n = blobShuffles(SparkEntry.queries("q_gif_frames")(spark, sf))
      assert(n === 0,
        s"q_gif_frames plans $n blob-carrying shuffle(s) on a multi-split layout at width 4")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevWidth)
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
    }
  }

  test("heavy pair pipelines plan no cartesian product") {
    for (q <- Seq("q_token_jaccard_join", "q_dedup_ngram", "q_dedup_minhash")) {
      val ns = queryNodes(SparkEntry.queries(q)(spark, sf))
      assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
        s"$q plans a cartesian product")
    }
  }
}
