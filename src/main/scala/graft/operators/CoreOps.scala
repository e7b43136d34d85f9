package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.sources.{AvroCodec, Codecs, Tables}

/** §2.E — core SQL analytics: star joins, windowed top-N, JSON
  * extraction, CSV round-trip (the reference's dataManager.ts
  * export/import, src/services/dataManager.ts:190-240).
  */
object CoreOps {

  /** Star join: revenue per nation. Dimensions (nation) are broadcast;
    * the two fact tables join on their natural keys so Catalyst plans
    * shuffled hash/sort-merge joins keyed on custkey/orderkey, and the
    * final rollup is a partial-agg + single shuffle on n_name.
    */
  def joinAggNation(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount")
    val n = Tables.nation(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Top-N per group: 3 priciest orders per priority class. The group
    * key has FIVE values, so a rank window would funnel the whole
    * orders table into five partitions for a full sort — the bounded
    * top-k aggregate ([[graft.plans.TopKAgg]]) keeps a ≤ 3 heap per
    * priority per scan partition and shuffles |partitions| × 5 × 3
    * rows instead.
    */
  def groupTopN(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopKAgg
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .groupBy(col("o_orderpriority"))
      .agg(TopKAgg.topK(struct(negate(col("price")).as("np"),
        col("o_orderkey").as("o_orderkey"), col("price").as("price")), 3).as("tk"))
      .select(col("o_orderpriority"), posexplode(col("tk")).as(Seq("pos", "it")))
      .select(col("o_orderpriority"), col("it.o_orderkey").as("o_orderkey"),
        col("it.price").as("price"), (col("pos") + 1).cast("long").as("rn"))
      .orderBy("o_orderpriority", "rn")
  }

  /** JSON field extraction + aggregation over events.props. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // conditional width barrier (r19, kept in r20 — paired flat at
      // both widths): the per-row JSON parse otherwise runs inside
      // the single-row-group scan task
      .transform(widen(_, col("event_id")))
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("value"))
      .groupBy("event_type")
      .agg(
        sum(col("k")).as("sum_k"),
        count(lit(1)).as("n"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy("event_type")

  /** dataManager.ts:190-240 — CSV export/import round-trip with quoted
    * values; proves the codec preserves the data exactly.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_csv").toString
    Codecs.exportCsv(Tables.nation(spark, dir), tmp, singleFile = true)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    Codecs.importCsv(spark, tmp, schema).orderBy("n_nationkey")
  }

  /** dataManager.ts:303-305 — JSON export/import round-trip. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_json").toString
    Codecs.exportJson(Tables.region(spark, dir), tmp, singleFile = true)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    Codecs.importJson(spark, tmp, schema)
      .select("r_regionkey", "r_name")
      .orderBy("r_regionkey")
  }

  /** ORC export/import round-trip — the Hive/Trino-ecosystem
    * interchange path beside CSV and JSON: supplier goes out as ORC
    * and comes back type-preserved (no schema argument — ORC carries
    * its own), proven against the parquet-derived oracle by hash
    * equality. `s_acctbal` re-rounds at the output boundary only.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_orc").toString
    Codecs.exportOrc(Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal")), tmp)
    Codecs.importOrc(spark, tmp)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal"), 2).as("acctbal"))
      .orderBy("s_suppkey")
  }

  /** §2.E q_avro_roundtrip — Avro export/import round-trip, the
    * Kafka-ecosystem wire format beside CSV/JSON/ORC: customer goes
    * out as self-describing Avro containers (one per partition, via
    * the public Avro Java library — see [[graft.sources.AvroCodec]])
    * and comes back type-preserved with no schema argument, proven
    * against the parquet-derived oracle by hash equality.
    * `c_acctbal` re-rounds at the output boundary only, the ORC
    * discipline.
    */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_avro").toString
    AvroCodec.exportAvro(Tables.customer(spark, dir), tmp)
    AvroCodec.importAvro(spark, tmp)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        round(col("c_acctbal"), 2).as("acctbal"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Hierarchical totals via ROLLUP (subtotals + grand total). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Pivoted event counts: one column per event type per user cohort. */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(spark, dir)
      .select((col("user_id") % 10).as("cohort"), col("event_type"))
      .groupBy("cohort")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy("cohort")
  }

  /** Per-user running value total in event order — the cumulative
    * metric window every event-analytics surface ships.
    */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 2).as("running_value"))
  }

  /** Sliding event-time window via a RANGE frame: per user, each
    * event's count/sum over the trailing hour BY VALUE (all peers at
    * equal timestamps included, rows at gaps excluded) — the frame
    * semantics a ROWS window cannot express. One keyed window shuffle.
    */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(-3600L, 0L)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns DIV 1000000000").as("ts_s"), col("value"))
      .withColumn("n_trailing_hour", count(lit(1)).over(w))
      .withColumn("sum_trailing_hour", round(sum(col("value")).over(w), 2))
      .select(col("user_id"), col("event_id"), col("ts_s"),
        col("n_trailing_hour"), col("sum_trailing_hour"))
  }

  /** Full CUBE with grouping_id — every subtotal combination plus the
    * bitmask identifying which dimensions each row aggregates over
    * (the OLAP cross-tab beyond [[rollupAgg]]'s hierarchy).
    */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("sum_price"), col("n"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Exact interpolated quantiles of event value per type. */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"))
      .orderBy("event_type")

  /** Quantile qs for [[quantilesSketch]] — shared with its oracle. */
  private val SketchQs = Seq(0.5, 0.9, 0.95)

  /** The scale-safe quantile operator: [[QuantileSketch]]'s mergeable
    * equi-width histogram estimate next to the exact `percentile` as
    * the audit column — the same audit pattern as [[approxDistinct]]
    * (HLL vs exact) and q_heavy_hitters (count-min vs exact). At
    * 100 TB only the sketch side survives: two bounded passes and a
    * ≤ 256-rows-per-key cum-sum, vs `percentile`'s buffer-every-value
    * sort aggregate, which [[quantiles]] keeps for test-scale truth.
    */
  def quantilesSketch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val rng = QuantileSketch.keyRange(e, "event_type", "value")
    val hist = QuantileSketch.histogram(e, "event_type", "value", rng)
    val est = QuantileSketch.estimates(hist, rng, SketchQs)
    val exact = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("e50"),
        expr("percentile(value, 0.9)").as("e90"),
        expr("percentile(value, 0.95)").as("e95"))
      .select(col("event_type"), explode(array(
        struct(lit(0.5).as("q"), col("e50").as("p_exact")),
        struct(lit(0.9).as("q"), col("e90").as("p_exact")),
        struct(lit(0.95).as("q"), col("e95").as("p_exact")))).as("x"))
      .select(col("event_type"), col("x.q").as("q"), col("x.p_exact").as("p_exact"))
    est.join(exact, Seq("event_type", "q"))
      .select(col("event_type"), col("q"),
        round(col("est"), 4).as("p_sketch"),
        round(col("p_exact"), 4).as("p_exact"))
      .orderBy("event_type", "q")
  }

  /** Semi join: customers that have at least one order (EXISTS). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  /** Anti join: customers with no event activity (NOT EXISTS) — the
    * inactive-entity report.
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.events(spark, dir).select("user_id"),
        col("c_custkey") === col("user_id"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** Correlated-aggregate semantics: customers above their nation's
    * average balance — a partial-aggregated groupBy broadcast-joined
    * back, never a window: the nation key has 25 values, so a window
    * would funnel the whole customer table into 25 partitions, while
    * the aggregate map-side-combines to one row per nation before any
    * exchange and the join back is a broadcast.
    */
  def aboveNationAvg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val nav = c.groupBy(col("c_nationkey"))
      .agg(avg(col("c_acctbal")).as("nation_avg"))
    c.join(broadcast(nav), "c_nationkey")
      .filter(col("c_acctbal") > col("nation_avg"))
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal"), 2).as("acctbal"),
        round(col("nation_avg"), 4).as("nation_avg"))
  }

  /** HyperLogLog registers: m = 2^10 buckets over a 60-bit md5 hash.
    * Kept as named constants so the Spark plan and the DuckDB oracle
    * are generated from the SAME numbers.
    */
  private[graft] val HllM = 1024
  private[graft] val HllRegBits = 51 // 60-bit hash minus 10 bucket bits → ≤ 50-bit w, rho ∈ [1, 51]
  private[graft] val HllTwoPow51 = 2251799813685248L
  /** alpha_m · m² · 2^51 — the estimate numerator, one Scala double whose
    * shortest-repr literal is embedded identically in both engines.
    */
  /** The engine-portable 60-bit hash every HLL consumer feeds on
    * (batch register builds here, the streaming fold in
    * [[graft.streaming.HllStream]]): first 15 hex chars of the md5 of
    * the value's binary rendering. Shared so stream ≡ batch is exact
    * by construction.
    */
  private[graft] def hash60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  private[graft] val HllC: Double =
    0.7213 / (1 + 1.079 / HllM) * HllM.toDouble * HllM * HllTwoPow51

  /** Approximate distinct count — the 100 TB cardinality operator: a
    * HyperLogLog sketch (m = 1024 registers, ±3.25 % standard error)
    * built from an md5 hash so the estimate is engine-portable and the
    * DuckDB oracle hash-matches it bit for bit. All register math is
    * INTEGER (the 2^-M_j sum is scaled by 2^51 into a bigint), so no
    * float-summation-order drift exists; the only float ops are one
    * division and the small-range ln correction, identical expressions
    * on both engines.
    *
    * Scale: registers are a groupBy max — m·|groups| rows, mergeable
    * across shards by max (the property HllSketchSpec proves); the
    * exact countDistinct column is the test-scale audit, exactly like
    * q_heavy_hitters' exact side.
    */
  /** The shared HLL register pipeline: input (key, h) with `h` a
    * 60-bit md5-derived hash, output (key, est) — keyed register max,
    * all-integer scaled sum, the standard small-range correction.
    * Used by [[approxDistinct]] (keyed by event_type) and
    * [[profileApprox]] (keyed by column name).
    */
  private def hllEstimate(keyed: DataFrame, key: String): DataFrame =
    hllFromRegs(hllRegisters(keyed, Seq(key)), Seq(key))

  /** The register build half of the pipeline: input (keys…, h),
    * output (keys…, bucket, rho) — the sparse register table, ≤ m rows
    * per key, mergeable across shards AND across keys by max (the
    * property [[hllOverlap]]'s union sketch is built on).
    */
  private[graft] def hllRegisters(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed
      .withColumn("bucket", expr(s"h % $HllM"))
      .withColumn("w", expr(s"h DIV $HllM"))
      .withColumn("rho",
        when(col("w") === 0, HllRegBits).otherwise(lit(HllRegBits) - length(bin(col("w")))))
      .groupBy((keys :+ "bucket").map(col): _*).agg(max("rho").as("rho"))

  /** The estimate half: a register table (keys…, bucket, rho) → one
    * (keys…, est) row per key group — integer scaled sum, small-range
    * correction, identical expressions on both engines.
    */
  private[graft] def hllFromRegs(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($HllRegBits - rho AS INT))")).as("s_present"),
        count(lit(1)).as("nb"))
      .withColumn("v", lit(HllM.toLong) - col("nb"))
      .withColumn("s", col("s_present") + col("v") * lit(HllTwoPow51))
      .withColumn("e_raw", lit(HllC) / col("s"))
      .withColumn("est",
        when(col("e_raw") <= lit(2.5 * HllM) && col("v") > 0,
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("v")))
          .otherwise(col("e_raw")))
      .select(keys.map(col) :+ col("est"): _*)

  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val h = hash60(col("user_id").cast("string"))
    val sketch = hllEstimate(e.select(col("event_type"), h.as("h")), "event_type")
    val exact = e.groupBy("event_type").agg(countDistinct(col("user_id")).as("n_exact"))
    sketch.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        round(col("est"), 2).as("hll_est"),
        round((col("est") - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
      .orderBy("event_type")
  }

  /** Columns [[profileApprox]] sketches. Restricted to integer/string
    * columns on purpose: the HLL hash runs over the STRING rendering
    * of each value, and double→string rendering is not engine-portable
    * (Spark and the oracle may print different shortest forms), while
    * int and string renderings are identical everywhere. Distinctness
    * of the rendering equals distinctness of the value for these types.
    */
  private val ProfileApproxCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** [[profile]]'s documented 100 TB degrade path, implemented: the
    * per-column distinct-count profile as ONE Expand-free pass —
    * unpivot the columns into (column, value) rows, hash, and run the
    * [[hllEstimate]] register pipeline keyed by column name. The
    * shuffle is bounded at m registers per column regardless of data
    * volume, where [[profile]]'s exact multi-countDistinct Expand
    * multiplies the shuffle by |columns| × |distinct values|. The
    * exact countDistinct (grouped, so itself Expand-free here) rides
    * along as the test-scale audit, mirroring [[approxDistinct]].
    */
  def profileApprox(spark: SparkSession, dir: String): DataFrame = {
    // (column, value)-keyed barrier above the unpivot: both consumers
    // (the HLL register build and the exact audit) reuse ONE evaluation
    // of the explode instead of each re-running it inside the
    // single-row-group scan task (r19 stage profile: two serial
    // 1.75 s / 0.94 s single-task stages); the hash + register work
    // then runs at session width.
    val unpiv = Tables.orders(spark, dir)
      .select(explode(array(ProfileApproxCols.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("v"))): _*)).as("x"))
      .select(col("x.column").as("column"), col("x.v").as("v"))
      .filter(col("v").isNotNull)
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("column"), col("v"))
    val h = hash60(col("v"))
    val sketch = hllEstimate(unpiv.select(col("column"), h.as("h")), "column")
    val exact = unpiv.groupBy("column").agg(countDistinct(col("v")).as("n_exact"))
    sketch.join(exact, "column")
      .select(col("column"), col("n_exact"),
        round(col("est"), 2).as("hll_est"),
        round((col("est") - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
      .orderBy("column")
  }

  /** §2.E q_hll_overlap — HLL SET ALGEBRA over the per-type user
    * sketches: for every event_type pair, the UNION distinct-user
    * estimate from the pairwise register MAX (exact for HLL —
    * merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B), the shard-merge
    * property [[HllSketchSpec]] proves, applied across KEYS instead of
    * shards) and the INTERSECTION estimate via inclusion–exclusion
    * (est_a + est_b − est_union — signed: I–E over sketches can go
    * negative on small overlaps, and the signed error vs exact is part
    * of the output). The standard 100 TB segment-overlap workload:
    * audience overlap, cross-surface reach, dedup planning — answered
    * from sketches a thousandth the data size.
    *
    * The exact countDistinct columns ride along as the test-scale
    * audit (the [[approxDistinct]] discipline): n per type, exact
    * intersection from the deduped (type, user) self-join, exact union
    * by |A|+|B|−|A∩B|.
    *
    * 100 TB shape: events stream ONCE into the register build (keyed
    * groupBy max, map-side combined, ≤ m·|types| rows) and once into
    * the exact audit (which a production run drops); every pair
    * operation — the |types|² pair frame, the register-max union
    * sketch, the I–E arithmetic — runs on SKETCH-sized frames, never
    * on events. Adding a segment never reshuffles the corpus: its
    * registers merge in.
    */
  def hllOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val h = hash60(col("user_id").cast("string"))
    // the register table is SKETCH-sized (≤ m·|types| rows) and has
    // TWO consumers (per-type estimates + the pairwise union merge) —
    // pinned so the corpus md5/register scan runs ONCE, not once per
    // consumer (also keeps the evaluation-site audit at one md5)
    val regs = hllRegisters(e.select(col("event_type"), h.as("h")), Seq("event_type"))
      .transform(materialize)
    val perType = hllFromRegs(regs, Seq("event_type"))
    val pairs = perType.select(col("event_type").as("type_a"), col("est").as("est_a"))
      .crossJoin(perType.select(col("event_type").as("type_b"), col("est").as("est_b")))
      .filter(col("type_a") < col("type_b"))
    // union sketch per pair: each type's registers contribute to every
    // pair they belong to; bucket-wise MAX is the HLL merge
    val pairKeys = pairs.select("type_a", "type_b")
    val uRegs = regs.join(broadcast(pairKeys),
        regs("event_type") === pairKeys("type_a") ||
          regs("event_type") === pairKeys("type_b"))
      .groupBy("type_a", "type_b", "bucket").agg(max("rho").as("rho"))
    val uEst = hllFromRegs(uRegs, Seq("type_a", "type_b"))
      .withColumnRenamed("est", "est_u")
    // exact audit: deduped (type, user) → per-type counts + pair
    // intersections (absent pair = zero overlap)
    val xt = e.select("event_type", "user_id").distinct()
    val nx = xt.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ni = xt.select(col("event_type").as("type_a"), col("user_id"))
      .join(xt.select(col("event_type").as("type_b"), col("user_id")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_inter"))
    val interEst = col("est_a") + col("est_b") - col("est_u")
    val interExact = coalesce(col("n_inter"), lit(0L))
    val unionExact = col("na") + col("nb") - interExact
    pairs
      .join(uEst, Seq("type_a", "type_b"))
      .join(broadcast(nx.select(col("event_type").as("type_a"), col("n").as("na"))), "type_a")
      .join(broadcast(nx.select(col("event_type").as("type_b"), col("n").as("nb"))), "type_b")
      .join(ni, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        col("na").as("n_exact_a"), col("nb").as("n_exact_b"),
        unionExact.as("n_union_exact"), interExact.as("n_inter_exact"),
        round(col("est_u"), 2).as("hll_union"),
        round(interEst, 2).as("hll_inter"),
        round((col("est_u") - unionExact) / unionExact, 4).as("err_union"),
        round(interEst - interExact, 2).as("err_inter"))
      .orderBy("type_a", "type_b")
  }

  /** The skew mitigation [[skewProfile]] motivates, exercised end to
    * end: events joined to a per-type dim on event_type — 5 values,
    * the extreme-skew key the profile flags — through
    * [[Salting.saltedJoin]] (deterministic 8-way salt on event_id, dim
    * replicated per salt). The oracle is the PLAIN join: the hash
    * match proves the salt is semantics-free, which is the entire
    * contract of the mitigation.
    */
  def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("event_type", "event_id", "value")
    val dim = e.groupBy("event_type").agg(avg(col("value")).as("type_avg"))
    Salting.saltedJoin(e, dim, "event_type", col("event_id"), buckets = 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(avg(abs(col("value") - col("type_avg"))), 4).as("mad"))
      .orderBy("event_type")
  }

  /** (column, is-numeric) inventory [[profile]] scans — the timestamp
    * column is excluded because min/max rendering is not
    * engine-portable.
    */
  private val ProfileCols = Seq(
    ("o_orderkey", true), ("o_custkey", true), ("o_orderstatus", false),
    ("o_totalprice", true), ("o_orderpriority", false))

  /** Table profiling — the ANALYZE-TABLE surface: one row per column
    * with row/null/exact-distinct counts and typed min/max. ONE pass
    * over the fact table: all per-column aggregates ride a single
    * aggregation (Catalyst plans the multi-countDistinct via one
    * Expand), then the single result row unpivots via explode —
    * no per-column rescan. At 100 TB the exact multi-distinct Expand
    * multiplies the shuffle by |columns|; the documented degrade path
    * is the [[approxDistinct]] HLL registers per column instead.
    */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val aggs = count(lit(1)).as("n") +: ProfileCols.flatMap { case (c, num) =>
      Seq(
        count(col(c)).as(s"${c}_nn"),
        countDistinct(col(c)).as(s"${c}_nd"),
        (if (num) min(col(c)).cast("double") else lit(null).cast("double")).as(s"${c}_minn"),
        (if (num) max(col(c)).cast("double") else lit(null).cast("double")).as(s"${c}_maxn"),
        (if (num) lit(null).cast("string") else min(col(c))).as(s"${c}_mins"),
        (if (num) lit(null).cast("string") else max(col(c))).as(s"${c}_maxs"))
    }
    // parallelism barrier below the multi-distinct aggregation: the
    // exact multi-countDistinct plans an Expand that multiplies every
    // row |distinct-columns|+1 times, and the bench corpus is one row
    // group = one scan task — without the barrier that single task ran
    // the whole ×10 Expand + partial aggregation serially (r19 stage
    // profile: 1.9 s of the query's 2.6 s in one task). The shuffle
    // moves the table once, narrow; the Expand then runs at full width.
    val one = Tables.orders(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("o_orderkey"))
      .agg(aggs.head, aggs.tail: _*)
    val rows = ProfileCols.map { case (c, _) =>
      struct(
        lit(c).as("column"), col("n").as("n_rows"),
        (col("n") - col(s"${c}_nn")).as("n_null"),
        col(s"${c}_nd").as("n_distinct"),
        col(s"${c}_minn").as("min_num"), col(s"${c}_maxn").as("max_num"),
        col(s"${c}_mins").as("min_str"), col(s"${c}_maxs").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*")).orderBy("column")
  }

  /** The bloom-accelerated semi join registered end to end: customers
    * with orders, probe side pruned by the broadcast bitmap BEFORE the
    * join shuffle ([[BloomFilter.semiJoin]]). The oracle is the plain
    * EXISTS — the hash match proves the prefilter is semantics-free
    * (no false negatives), which is the entire contract of runtime
    * join pruning.
    */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame =
    BloomFilter.semiJoin(
        Tables.customer(spark, dir), "c_custkey",
        Tables.orders(spark, dir), "o_custkey")
      .select(col("c_custkey"), col("c_name"))

  /** Join-key skew profile — the pre-flight check before choosing a
    * skew mitigation (salting, AQE skew-join, broadcast): per
    * candidate join key of the events feed, the cardinality, the
    * heaviest key's share, and the top-frequency histogram head. One
    * keyed count plus a tiny top-k — the profile a planner consults
    * before committing a 100 TB shuffle, run here over the natural
    * fact keys (user_id: uniform-ish; event_type: 5 values, extreme).
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def profileKey(keyCol: String): DataFrame = {
      val counts = e.groupBy(col(keyCol).cast("string").as("key_value"))
        .agg(count(lit(1)).as("n"))
      val stats = counts.agg(
        count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
        max(col("n")).as("max_freq"))
      // rank the 3 post-limit rows with NO window: collapse to one
      // sorted array row (negated leading field = n desc) and take
      // posexplode's position as the rank — zero WindowExec warnings
      val top = counts.orderBy(col("n").desc, col("key_value")).limit(3)
        .agg(array_sort(collect_list(struct((-col("n")).as("nn"),
          col("key_value"), col("n")))).as("a"))
        .select(posexplode(col("a")).as(Seq("p", "s")))
        .select(col("s.key_value").as("key_value"), col("s.n").as("n"),
          (col("p") + 1).cast("long").as("rnk"))
      top.crossJoin(broadcast(stats))
        .select(lit(keyCol).as("join_key"), col("rnk"), col("key_value"),
          col("n").as("freq"), col("n_keys"), col("n_rows"),
          round(col("max_freq") / col("n_rows").cast("double"), 6).as("max_share"))
    }
    profileKey("event_type").unionByName(profileKey("user_id"))
      .orderBy("join_key", "rnk")
  }

  /** Per-type z-score outliers over the events feed — the anomaly
    * monitoring pass a pipeline runs on every metric stream: one keyed
    * aggregation for (mean, sample stddev) per event_type, the tiny
    * stats table broadcast back, |z| ≥ 3 flagged. The z-score is
    * rounded to 6 decimals BEFORE the threshold comparison (it is the
    * keep DECISION), so the cut reproduces across engines despite the
    * distributed float summation behind mean/stddev.
    */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame =
    valueOutliersFrame(Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value")))

  /** Frame-based core of [[valueOutliers]] (`e` carries event_type,
    * event_id, value) — exposed so the degenerate-group guard is
    * pinned by spec on a corpus that actually contains a constant
    * group (the shipped testdata has none at any scale).
    */
  private[operators] def valueOutliersFrame(e: DataFrame): DataFrame = {
    val stats = e.groupBy("event_type")
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      // sd = 0 (a constant group) would divide to NULL here but ±inf in
      // DuckDB — degenerate groups are an explicit no-outlier case,
      // filtered identically on both sides
      .filter(col("sd") > 0)
    e.join(broadcast(stats), "event_type")
      .withColumn("z", round((col("value") - col("mu")) / col("sd"), 6))
      .filter(abs(col("z")) >= 3.0)
      .select(col("event_type"), col("event_id"),
        round(col("value"), 6).as("value"), col("z"))
  }

  /** Robust (median/MAD) outliers — [[valueOutliers]]'s z-score uses
    * mean and stddev, which the outliers themselves inflate (masking);
    * the median absolute deviation is breakdown-resistant: robust z =
    * (v − median) / (1.4826 · MAD), flagged at |rz| ≥ 3.5 (the
    * standard consistency constant and cut).
    *
    * The whole path rides [[QuantileSketch]]: median and MAD are each
    * two bounded passes (per-key min/max/count, then a ≤ 256-rows-per-
    * key histogram) — nothing buffers a group's values, so the plan
    * survives 100× where exact `percentile` OOMs its aggregation
    * buffer. The exact-median AUDIT (sketch decides, exact attests)
    * lives in [[valueOutliersRobustAuditedFrame]], exercised at TEST
    * scale by OutlierGuardSpec only: exact `percentile` is the one
    * shape that cannot ride to 100 TB, so it is not in the registered
    * query's plan (and was 4× the local cost, BENCH_r08). Sketch
    * median and MAD are rounded to 6 decimals at the sketch/usage
    * boundary and the robust z again at the threshold DECISION, so
    * the cut reproduces across engines. Groups with MAD = 0 (≥ 50 %
    * identical values) are an explicit no-outlier case: Spark would
    * divide to NULL but DuckDB to ±inf, so both sides filter them
    * identically.
    */
  def valueOutliersRobust(spark: SparkSession, dir: String): DataFrame =
    valueOutliersRobustFrame(Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value")))

  /** Frame-based core of [[valueOutliersRobust]] — see
    * [[valueOutliersFrame]] for why it is exposed.
    */
  private[operators] def valueOutliersRobustFrame(e: DataFrame): DataFrame = {
    val ev = e.select(col("event_type"), col("value"))
    val rng = QuantileSketch.keyRange(ev, "event_type", "value")
    val hist = QuantileSketch.histogram(ev, "event_type", "value", rng)
    val med = QuantileSketch.estimates(hist, rng, Seq(0.5))
      .select(col("event_type"), round(col("est"), 6).as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("adev"))
    val rng2 = QuantileSketch.keyRange(dev, "event_type", "adev")
    val hist2 = QuantileSketch.histogram(dev, "event_type", "adev", rng2)
    val mad = QuantileSketch.estimates(hist2, rng2, Seq(0.5))
      .select(col("event_type"), round(col("est"), 6).as("mad"))
    val stats = med.join(mad, "event_type").filter(col("mad") > 0)
    e.join(broadcast(stats), "event_type")
      .withColumn("rz",
        round((col("value") - col("med")) / (lit(1.4826) * col("mad")), 6))
      .filter(abs(col("rz")) >= 3.5)
      .select(col("event_type"), col("event_id"),
        round(col("value"), 6).as("value"), col("rz"))
  }

  /** [[valueOutliersRobustFrame]] plus the EXACT median/MAD audit
    * column `rz_exact` — TEST-SCALE ONLY, never registered: exact
    * `percentile` buffers every per-key value in its aggregation
    * buffer, the one shape that cannot ride to 100 TB. The audit
    * discipline (sketch decides, exact attests) is enforced by
    * OutlierGuardSpec over corpora small enough to buffer.
    */
  private[operators] def valueOutliersRobustAuditedFrame(e: DataFrame): DataFrame = {
    val medX = e.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med_x"))
    val madX = e.join(broadcast(medX), "event_type")
      .groupBy("event_type")
      .agg(percentile(abs(col("value") - col("med_x")), lit(0.5)).as("mad_x"))
    // rz_exact from the RAW value (re-joined on the entity key), not
    // the 6-decimal display rounding the flagged frame carries — the
    // audit is only an attestation if it is actually exact
    valueOutliersRobustFrame(e)
      .drop("value")
      .join(e.select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type", "event_id"))
      .join(broadcast(medX), "event_type")
      .join(broadcast(madX), "event_type")
      .withColumn("rz_exact",
        when(col("mad_x") > 0,
          round((col("value") - col("med_x")) / (lit(1.4826) * col("mad_x")), 6)))
      .select(col("event_type"), col("event_id"),
        round(col("value"), 6).as("value"), col("rz"), col("rz_exact"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_approx_distinct" -> (approxDistinct _),
    "q_hll_overlap" -> (hllOverlap _),
    "q_bloom_semi_join" -> (bloomSemiJoin _),
    "q_value_outliers" -> (valueOutliers _),
    "q_value_outliers_robust" -> (valueOutliersRobust _),
    "q_skew_profile" -> (skewProfile _),
    "q_profile" -> (profile _),
    "q_semi_join" -> (semiJoin _),
    "q_anti_join" -> (antiJoin _),
    "q_above_nation_avg" -> (aboveNationAvg _),
    "q_join_agg_nation" -> (joinAggNation _),
    "q_group_topn" -> (groupTopN _),
    "q_json_extract" -> (jsonExtract _),
    "q_csv_roundtrip" -> (csvRoundtrip _),
    "q_orc_roundtrip" -> (orcRoundtrip _),
    "q_avro_roundtrip" -> (avroRoundtrip _),
    "q_json_roundtrip" -> (jsonRoundtrip _),
    "q_rollup" -> (rollupAgg _),
    "q_cube" -> (cubeAgg _),
    "q_sliding_window" -> (slidingWindow _),
    "q_pivot" -> (pivotEvents _),
    "q_running_total" -> (runningTotal _),
    "q_quantiles" -> (quantiles _),
    "q_quantiles_sketch" -> (quantilesSketch _),
    "q_salted_join" -> (saltedJoinAgg _),
    "q_profile_approx" -> (profileApprox _))

  val oracle: Map[String, String] = Map(
    "q_value_outliers_robust" ->
      s"""WITH v AS (
        |  SELECT event_type, value::DOUBLE v FROM events WHERE value IS NOT NULL
        |), ${QuantileSketch.sqlSketchCtes("event_type", "0.5::DOUBLE")},
        |med AS (SELECT event_type, round(est, 6) med FROM sel),
        |v2 AS (
        |  SELECT e.event_type, abs(value - med) v
        |  FROM events e JOIN med USING (event_type) WHERE value IS NOT NULL
        |), ${QuantileSketch.sqlSketchCtes("event_type", "0.5::DOUBLE", sfx = "2")},
        |mad AS (SELECT event_type, round(est, 6) mad FROM sel2),
        |s AS (
        |  SELECT event_type, med, mad
        |  FROM med JOIN mad USING (event_type)
        |  WHERE mad > 0
        |)
        |SELECT e.event_type, event_id,
        |       round(value, 6) AS value,
        |       round((value - med) / (1.4826 * mad), 6) rz
        |FROM events e JOIN s USING (event_type)
        |WHERE abs(round((value - med) / (1.4826 * mad), 6)) >= 3.5
        |ORDER BY event_type, event_id""".stripMargin,
    "q_value_outliers" ->
      """WITH s AS (
        |  SELECT event_type, avg(value) mu, stddev_samp(value) sd
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_type, event_id,
        |       round(value, 6) AS value,
        |       round((value - mu) / sd, 6) z
        |FROM events e JOIN s USING (event_type)
        |WHERE sd > 0 AND abs(round((value - mu) / sd, 6)) >= 3.0
        |ORDER BY event_type, event_id""".stripMargin,
    // the whole set-algebra pipeline recomputed: per-type registers,
    // pairwise register-MAX union sketches, inclusion–exclusion
    // intersections, and the exact audits — the same named constants
    "q_hll_overlap" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM events
         |), r AS (
         |  SELECT event_type, h % $HllM AS bucket,
         |         max(CASE WHEN h // $HllM = 0 THEN $HllRegBits
         |                  ELSE $HllRegBits - length(bin(h // $HllM)) END) AS rho
         |  FROM h GROUP BY event_type, bucket
         |), e1 AS (
         |  SELECT event_type,
         |         CASE WHEN ($HllC / s) <= ${2.5 * HllM} AND v > 0
         |              THEN ${HllM.toDouble} * ln(${HllM.toDouble} / v)
         |              ELSE $HllC / s END AS est
         |  FROM (
         |    SELECT event_type,
         |           CAST(sum(1::BIGINT << ($HllRegBits - rho)) AS BIGINT)
         |             + ($HllM - count(*)) * $HllTwoPow51 AS s,
         |           $HllM - count(*) AS v
         |    FROM r GROUP BY event_type)
         |), pr AS (
         |  SELECT a.event_type type_a, a.est est_a, b.event_type type_b, b.est est_b
         |  FROM e1 a JOIN e1 b ON a.event_type < b.event_type
         |), ur AS (
         |  SELECT type_a, type_b, bucket, max(rho) rho
         |  FROM r JOIN pr ON r.event_type = pr.type_a OR r.event_type = pr.type_b
         |  GROUP BY type_a, type_b, bucket
         |), ue AS (
         |  SELECT type_a, type_b,
         |         CASE WHEN ($HllC / s) <= ${2.5 * HllM} AND v > 0
         |              THEN ${HllM.toDouble} * ln(${HllM.toDouble} / v)
         |              ELSE $HllC / s END AS est_u
         |  FROM (
         |    SELECT type_a, type_b,
         |           CAST(sum(1::BIGINT << ($HllRegBits - rho)) AS BIGINT)
         |             + ($HllM - count(*)) * $HllTwoPow51 AS s,
         |           $HllM - count(*) AS v
         |    FROM ur GROUP BY type_a, type_b)
         |), xt AS (SELECT DISTINCT event_type, user_id FROM events),
         |nx AS (SELECT event_type, count(*) n FROM xt GROUP BY event_type),
         |ni AS (
         |  SELECT a.event_type type_a, b.event_type type_b, count(*) n_inter
         |  FROM xt a JOIN xt b
         |    ON a.user_id = b.user_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2
         |)
         |SELECT pr.type_a, pr.type_b,
         |  CAST(na.n AS BIGINT) n_exact_a,
         |  CAST(nb.n AS BIGINT) n_exact_b,
         |  CAST(na.n + nb.n - coalesce(ni.n_inter, 0) AS BIGINT) n_union_exact,
         |  CAST(coalesce(ni.n_inter, 0) AS BIGINT) n_inter_exact,
         |  round(est_u, 2) hll_union,
         |  round(est_a + est_b - est_u, 2) hll_inter,
         |  round((est_u - (na.n + nb.n - coalesce(ni.n_inter, 0)))
         |        / (na.n + nb.n - coalesce(ni.n_inter, 0)), 4) err_union,
         |  round((est_a + est_b - est_u) - coalesce(ni.n_inter, 0), 2) err_inter
         |FROM pr
         |JOIN ue USING (type_a, type_b)
         |JOIN nx na ON na.event_type = pr.type_a
         |JOIN nx nb ON nb.event_type = pr.type_b
         |LEFT JOIN ni ON ni.type_a = pr.type_a AND ni.type_b = pr.type_b
         |ORDER BY type_a, type_b""".stripMargin,
    "q_approx_distinct" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM events
         |), r AS (
         |  SELECT event_type, h % $HllM AS bucket,
         |         max(CASE WHEN h // $HllM = 0 THEN $HllRegBits
         |                  ELSE $HllRegBits - length(bin(h // $HllM)) END) AS rho
         |  FROM h GROUP BY event_type, bucket
         |), s AS (
         |  SELECT event_type,
         |         CAST(sum(1::BIGINT << ($HllRegBits - rho)) AS BIGINT)
         |           + ($HllM - count(*)) * $HllTwoPow51 AS s,
         |         $HllM - count(*) AS v
         |  FROM r GROUP BY event_type
         |), est AS (
         |  SELECT event_type,
         |         CASE WHEN ($HllC / s) <= ${2.5 * HllM} AND v > 0
         |              THEN ${HllM.toDouble} * ln(${HllM.toDouble} / v)
         |              ELSE $HllC / s END AS est
         |  FROM s
         |), ex AS (
         |  SELECT event_type, count(DISTINCT user_id) AS n_exact
         |  FROM events GROUP BY event_type
         |)
         |SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
         |       round(est, 2) AS hll_est,
         |       round((est - n_exact) / n_exact, 4) AS rel_err
         |FROM est JOIN ex USING (event_type)
         |ORDER BY event_type""".stripMargin,
    "q_profile" -> {
      val selects = ProfileCols.map { case (c, num) =>
        val (minN, maxN) = if (num) (s"min($c)::DOUBLE", s"max($c)::DOUBLE")
          else ("NULL::DOUBLE", "NULL::DOUBLE")
        val (minS, maxS) = if (num) ("NULL::VARCHAR", "NULL::VARCHAR")
          else (s"min($c)", s"max($c)")
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(*) - count($c) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $minN AS min_num, $maxN AS max_num,
           |  $minS AS min_str, $maxS AS max_str
           |FROM orders""".stripMargin
      }
      selects.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q_skew_profile" ->
      """WITH c1 AS (
        |  SELECT CAST(event_type AS VARCHAR) key_value, count(*) n FROM events GROUP BY 1
        |), s1 AS (
        |  SELECT CAST(count(*) AS BIGINT) n_keys, CAST(sum(n) AS BIGINT) n_rows,
        |         max(n) max_freq FROM c1
        |), t1 AS (
        |  SELECT row_number() OVER (ORDER BY n DESC, key_value) rnk, key_value, n freq
        |  FROM c1 ORDER BY n DESC, key_value LIMIT 3
        |), c2 AS (
        |  SELECT CAST(user_id AS VARCHAR) key_value, count(*) n FROM events GROUP BY 1
        |), s2 AS (
        |  SELECT CAST(count(*) AS BIGINT) n_keys, CAST(sum(n) AS BIGINT) n_rows,
        |         max(n) max_freq FROM c2
        |), t2 AS (
        |  SELECT row_number() OVER (ORDER BY n DESC, key_value) rnk, key_value, n freq
        |  FROM c2 ORDER BY n DESC, key_value LIMIT 3
        |)
        |SELECT 'event_type' AS join_key, rnk, key_value, freq, n_keys, n_rows,
        |       round(max_freq / n_rows::DOUBLE, 6) AS max_share
        |FROM t1, s1
        |UNION ALL
        |SELECT 'user_id', rnk, key_value, freq, n_keys, n_rows,
        |       round(max_freq / n_rows::DOUBLE, 6)
        |FROM t2, s2
        |ORDER BY join_key, rnk""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_bloom_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_above_nation_avg" ->
      """WITH w AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |         avg(c_acctbal) OVER (PARTITION BY c_nationkey) nation_avg
        |  FROM customer
        |)
        |SELECT c_custkey, c_nationkey, round(c_acctbal, 2) acctbal,
        |       round(nation_avg, 4) nation_avg
        |FROM w WHERE c_acctbal > nation_avg ORDER BY c_custkey""".stripMargin,
    "q_join_agg_nation" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_group_topn" ->
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY round(o_totalprice, 2) DESC, o_orderkey) AS rn
        |FROM orders QUALIFY rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n,
        |  round(avg(value), 4) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    // the oracle reads the ORIGINAL parquet — hash equality proves the
    // Avro container round-trip preserved every value and type
    "q_avro_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) acctbal,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_json_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag, l_linestatus) AS INT) gid,
        |  round(sum(l_extendedprice), 2) sum_price, count(*) n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_sliding_window" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s,
        |  count(*) OVER w AS n_trailing_hour,
        |  round(sum(value) OVER w, 2) AS sum_trailing_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT user_id % 10 AS cohort,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY cohort ORDER BY cohort""".stripMargin,
    "q_running_total" ->
      """SELECT user_id, event_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_quantiles_sketch" -> {
      s"""WITH v AS (
         |  SELECT event_type, value::DOUBLE v FROM events WHERE value IS NOT NULL
         |), ${QuantileSketch.sqlSketchCtes("event_type",
               "0.5::DOUBLE, 0.9::DOUBLE, 0.95::DOUBLE")}, ex AS (
         |  SELECT event_type, 0.5::DOUBLE q, quantile_cont(v, 0.5) p FROM v GROUP BY 1
         |  UNION ALL
         |  SELECT event_type, 0.9::DOUBLE, quantile_cont(v, 0.9) FROM v GROUP BY 1
         |  UNION ALL
         |  SELECT event_type, 0.95::DOUBLE, quantile_cont(v, 0.95) FROM v GROUP BY 1
         |)
         |SELECT sel.event_type, sel.q,
         |       round(est, 4) p_sketch, round(p, 4) p_exact
         |FROM sel JOIN ex ON sel.event_type = ex.event_type AND sel.q = ex.q
         |ORDER BY sel.event_type, sel.q""".stripMargin
    },
    "q_salted_join" ->
      """WITH d AS (SELECT event_type, avg(value) type_avg FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) n,
        |       round(avg(abs(value - type_avg)), 4) mad
        |FROM events e JOIN d USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q_profile_approx" -> {
      val ctes = ProfileApproxCols.zipWithIndex.map { case (c, i) =>
        s"""h_$i AS (
           |  SELECT ('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT AS h
           |  FROM orders WHERE $c IS NOT NULL
           |), r_$i AS (
           |  SELECT h % $HllM AS bucket,
           |         max(CASE WHEN h // $HllM = 0 THEN $HllRegBits
           |                  ELSE $HllRegBits - length(bin(h // $HllM)) END) AS rho
           |  FROM h_$i GROUP BY bucket
           |), s_$i AS (
           |  SELECT CAST(sum(1::BIGINT << ($HllRegBits - rho)) AS BIGINT)
           |           + ($HllM - count(*)) * $HllTwoPow51 AS s,
           |         $HllM - count(*) AS v
           |  FROM r_$i
           |), e_$i AS (
           |  SELECT CASE WHEN ($HllC / s) <= ${2.5 * HllM} AND v > 0
           |              THEN ${HllM.toDouble} * ln(${HllM.toDouble} / v)
           |              ELSE $HllC / s END AS est
           |  FROM s_$i
           |), x_$i AS (
           |  SELECT count(DISTINCT CAST($c AS VARCHAR)) AS n_exact
           |  FROM orders WHERE $c IS NOT NULL
           |)""".stripMargin
      }
      val selects = ProfileApproxCols.zipWithIndex.map { case (c, i) =>
        s"""SELECT '$c' AS "column", CAST(n_exact AS BIGINT) AS n_exact,
           |       round(est, 2) AS hll_est,
           |       round((est - n_exact) / n_exact, 4) AS rel_err
           |FROM e_$i CROSS JOIN x_$i""".stripMargin
      }
      s"""WITH ${ctes.mkString(",\n")}
         |${selects.mkString("\nUNION ALL\n")}
         |ORDER BY "column"""".stripMargin
    })
}
