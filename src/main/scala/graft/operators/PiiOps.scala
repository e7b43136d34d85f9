package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** §2.K — PII detection / redaction: the scrub pass every
  * training-data pipeline runs before text leaves curation. Spans are
  * found with anchored character-class regexes (codegen'd, single
  * projection pass — the operator is embarrassingly parallel and
  * scan-bound at 100 TB, exactly like the reference's name-cleaning
  * pass in src/services/externalData.ts:463-487 which strips
  * parenthesised/bracketed spans by regex).
  *
  * Five span kinds, the production-scrub core set: email, phone,
  * an NRIC-style national id (`[STFG]\d{7}[A-Z]`), IPv4, and a
  * 16-digit card number accepted only when its Luhn checksum holds —
  * detection is regex + pure integer arithmetic, so the DuckDB oracle
  * verifies the checksum too (a lookalike digit run with a bad check
  * digit is NOT PII and must survive the scrub).
  *
  * The synthetic corpus carries no real PII, so — like the fuzzy
  * suite's decorated names — each row is decorated ([[decoratedRaw]],
  * ONE copy shared by both queries) with deterministic spans derived
  * from its key, including a card whose Luhn validity alternates with
  * key parity so the checksum branch does real work on half the rows.
  * The operator then detects and redacts those spans; counts and the
  * redacted text are oracle-checked bit-for-bit. Patterns stay in the
  * RE2 ∩ java.util.regex dialect (character classes + bounded
  * repetition, no lookaround) so Spark and DuckDB agree.
  */
object PiiOps {

  private[operators] val EmailRe = "[A-Za-z0-9.]+@[A-Za-z0-9.]+"
  private[operators] val PhoneRe = "\\+[0-9]{2} [0-9]{7,8}"
  private[operators] val NricRe = "[STFG][0-9]{7}[A-Z]"
  private[operators] val IpRe =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private[operators] val CardRe = "[0-9]{16}"

  /** Luhn weighted digit sum of the first `n` digits of `digits`,
    * positions 1-based from the LEFT of a 16-digit card (odd left
    * positions are the doubled ones: they sit at even distance from
    * the rightmost check digit). Pure integer fold — bit-exact in any
    * engine, the q_dsir_weights discipline.
    */
  private[operators] def luhnSum(digits: Column, n: Int): Column =
    aggregate(sequence(lit(1), lit(n)), lit(0), (acc, i) => {
      val d = digits.substr(i, lit(1)).cast("int")
      val dd = d * 2
      acc + when(pmod(i, lit(2)) === 1, when(dd > 9, dd - 9).otherwise(dd)).otherwise(d)
    })

  /** Luhn validity of a full 16-digit card string. */
  private[operators] def luhnOk(card: Column): Column =
    pmod(luhnSum(card, 16), lit(10)) === 0

  /** The decorated contact frame BOTH queries scan — factored so the
    * detect and telemetry passes cannot drift. Spans, all key-derived:
    * `Customer#k reach userK@mail.example or call +65 9XXXXXXX id
    * S1234567A ip 10.a.b.c card DDDDDDDDDDDDDDDC` where the card's
    * check digit C is Luhn-valid iff k is even.
    */
  private def decoratedRaw: Column = {
    val k = col("c_custkey")
    // every MULTIPLIED key term uses the 1e9-reduced key: the raw
    // k * 2654435761 overflows Long for k ≳ 3.5e9 — Spark would wrap
    // silently (negative base15) while DuckDB raises on BIGINT
    // overflow, an engine divergence at exactly the corpus scales the
    // suite advertises. kr * 2654435761 ≤ 2.66e18 stays in range on
    // both engines; for k < 1e9 (every tested SF) kr ≡ k so the
    // decorated values are unchanged, and 4 | 1e9 and 256 | 1e9 keep
    // even the small-mod derivations identical under the reduction.
    val kr = pmod(k, lit(1000000000L))
    val base15 = lpad((kr * 2654435761L % 1000000000000000L).cast("string"), 15, "0")
    val check = pmod(lit(10) - pmod(luhnSum(base15, 15), lit(10)) + pmod(kr, lit(2)), lit(10))
    concat(
      col("c_name"), lit(" reach user"), k,
      lit("@mail.example or call +65 9"),
      lpad((kr * 7919 % 10000000).cast("string"), 7, "0"),
      lit(" id "), lit("STFG").substr((pmod(kr, lit(4)) + 1).cast("int"), lit(1)),
      lpad((kr * 31 % 10000000).cast("string"), 7, "0"),
      lit("ABCDEFGHIJKLMNOPQRSTUVWXYZ").substr((pmod(kr, lit(26)) + 1).cast("int"), lit(1)),
      lit(" ip 10."), pmod(kr, lit(256)).cast("string"),
      lit("."), pmod(kr * 7, lit(256)).cast("string"),
      lit("."), pmod(kr * 13, lit(256)).cast("string"),
      lit(" card "), base15, check.cast("string"))
  }

  /** The Luhn-VERIFIED card matches of `raw` — materialized ONCE as
    * an intermediate column by both consumers: Spark's subexpression
    * elimination skips lambda-bearing higher-order functions
    * (ArrayFilter/ArrayAggregate), so referencing this expression
    * twice would run the extraction + 16-step fold twice per row.
    */
  private def validCards(raw: Column): Column =
    filter(regexp_extract_all(raw, lit(CardRe), lit(0)), luhnOk _)

  /** The ordered (pattern → tag) kind-priority list — ONE copy
    * driving the single-pass scrub in both queries (and PiiScrubSpec's
    * equivalence probes against the chained form the oracle keeps).
    */
  private[operators] val ScrubKinds: Seq[(String, String)] = Seq(
    EmailRe -> "<EMAIL>", PhoneRe -> "<PHONE>", NricRe -> "<ID>", IpRe -> "<IP>")

  /** Per-kind span counts out of the single-pass scrub struct —
    * `scrub` is the materialized [[ScrubKinds]]-ordered struct,
    * `cards` the pre-materialized Luhn-valid array column. */
  private def spanCounts(scrub: Column, cards: Column): Seq[(String, Column)] =
    Seq("emails", "phones", "ids", "ips").zipWithIndex.map { case (kind, i) =>
      kind -> scrub.getField("counts").getItem(i)
    } :+ ("cards" -> size(cards).cast("long"))

  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val counts = spanCounts(col("_scrub"), col("_cards"))
    // the four regex kinds rewrite AND count in ONE string walk (the
    // codegen'd single-pass multiScrubCompute kernel — the 5-deep nested
    // regexp_replace chain plus 4 extract_all counting scans walked
    // each decorated string nine times); valid cards are then
    // replaced EXACTLY (string replace of each verified match — a
    // blanket [0-9]{16} regexp_replace would also scrub the
    // checksum-failing lookalikes the counts exclude)
    val redacted = aggregate(col("_cards"), col("_scrub").getField("redacted"),
      (acc, c) => replace(acc, c, lit("<CARD>")))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), decoratedRaw.as("raw"))
      // conditional width barrier (r19, KEPT after the r20 paired
      // adjudication: removing it read 1.22x/1.12x at local[32]/[8]):
      // the single-row-group bench scan otherwise runs the whole
      // single-pass scrub on one core; a no-op with enough splits
      .transform(widen(_, col("c_custkey")))
      .withColumn("_cards", validCards(col("raw")))
      .withColumn("_scrub", graft.plans.TextExpressions.multiScrubNative(col("raw"), ScrubKinds))
      .select(col("c_custkey") +: col("raw") +:
        counts.map { case (kind, c) => c.as(s"n_$kind") } :+ redacted.as("redacted"): _*)
  }

  /** §2.K q_pii_stats — the PII telemetry a pipeline reads BEFORE
    * paying for redaction (the preflight-family discipline applied to
    * the scrub pass): per nation, how many records carry each PII
    * kind, total spans, and the hit rate — the numbers that decide
    * whether a source needs the scrub at all and which kinds
    * dominate. Same decorated frame and the same detectors as
    * [[piiRedact]] (one copy of each, including the Luhn gate), one
    * scan + one keyed aggregation; output bounded by |nations|.
    */
  def piiStats(spark: SparkSession, dir: String): DataFrame = {
    val counts = spanCounts(col("_scrub"), col("_cards"))
    val total = counts.map(_._2).reduce(_ + _)
    Tables.customer(spark, dir)
      .select(col("c_nationkey"), decoratedRaw.as("raw"))
      // same conditional width barrier as piiRedact (r19; kept in r20)
      .transform(widen(_, col("c_nationkey")))
      .withColumn("_cards", validCards(col("raw")))
      .withColumn("_scrub", graft.plans.TextExpressions.multiScrubNative(col("raw"), ScrubKinds))
      .select(col("c_nationkey") +:
        counts.map { case (kind, c) => c.as(s"n_$kind") } :+ total.as("nt"): _*)
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_records"),
        sum(when(col("n_emails") > 0, 1L).otherwise(0L)).as("n_with_email"),
        sum(when(col("n_phones") > 0, 1L).otherwise(0L)).as("n_with_phone"),
        sum(when(col("n_ids") > 0, 1L).otherwise(0L)).as("n_with_id"),
        sum(when(col("n_ips") > 0, 1L).otherwise(0L)).as("n_with_ip"),
        sum(when(col("n_cards") > 0, 1L).otherwise(0L)).as("n_with_card"),
        sum(col("nt")).as("n_spans"),
        round(avg(when(col("nt") > 0, 1.0).otherwise(0.0)), 6).as("pii_rate"))
      .orderBy("c_nationkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pii_redact" -> (piiRedact _),
    "q_pii_stats" -> (piiStats _))

  // the decorated frame + Luhn fold, mirrored once and interpolated
  // into both oracles ($-spliced constants — EmailRe/PhoneRe/... have
  // no quotes or DuckDB escape hazards, so one copy serves both
  // engines). The card CTE exploits the construction (exactly one
  // 16-digit run per row) to verify the checksum on a scalar instead
  // of a nested lambda.
  private def decorSql(keyCols: String): String =
    s"""b AS (
       |  -- kr: the 1e9-reduced key — raw k * 2654435761 overflows
       |  -- BIGINT for k >= ~3.5e9 (DuckDB raises, Spark wraps); the
       |  -- reduction keeps both engines in range and is value-identical
       |  -- for every k < 1e9 (see decoratedRaw)
       |  SELECT $keyCols,
       |         lpad(CAST(c_custkey % 1000000000 * 2654435761 % 1000000000000000 AS VARCHAR), 15, '0') base15,
       |         c_custkey k,
       |         c_custkey % 1000000000 kr
       |  FROM customer
       |), d0 AS (
       |  SELECT *, CAST((10 - list_sum(list_transform(range(1, 16), i ->
       |           CASE WHEN i % 2 = 1 THEN
       |             CASE WHEN 2 * CAST(substr(base15, CAST(i AS INT), 1) AS INT) > 9
       |                  THEN 2 * CAST(substr(base15, CAST(i AS INT), 1) AS INT) - 9
       |                  ELSE 2 * CAST(substr(base15, CAST(i AS INT), 1) AS INT) END
       |           ELSE CAST(substr(base15, CAST(i AS INT), 1) AS INT) END)) % 10
       |           + kr % 2) % 10 AS VARCHAR) chk
       |  FROM b
       |), d AS (
       |  SELECT $keyCols,
       |         c_name || ' reach user' || CAST(k AS VARCHAR) ||
       |           '@mail.example or call +65 9' ||
       |           lpad(CAST(kr * 7919 % 10000000 AS VARCHAR), 7, '0') ||
       |           ' id ' || substr('STFG', CAST(kr % 4 + 1 AS INT), 1) ||
       |           lpad(CAST(kr * 31 % 10000000 AS VARCHAR), 7, '0') ||
       |           substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(kr % 26 + 1 AS INT), 1) ||
       |           ' ip 10.' || CAST(kr % 256 AS VARCHAR) ||
       |           '.' || CAST(kr * 7 % 256 AS VARCHAR) ||
       |           '.' || CAST(kr * 13 % 256 AS VARCHAR) ||
       |           ' card ' || base15 || chk AS raw
       |  FROM d0
       |), cardv AS (
       |  SELECT *, regexp_extract(raw, '$CardRe') card,
       |         list_sum(list_transform(range(1, 17), i ->
       |           CASE WHEN i % 2 = 1 THEN
       |             CASE WHEN 2 * CAST(substr(regexp_extract(raw, '$CardRe'), CAST(i AS INT), 1) AS INT) > 9
       |                  THEN 2 * CAST(substr(regexp_extract(raw, '$CardRe'), CAST(i AS INT), 1) AS INT) - 9
       |                  ELSE 2 * CAST(substr(regexp_extract(raw, '$CardRe'), CAST(i AS INT), 1) AS INT) END
       |           ELSE CAST(substr(regexp_extract(raw, '$CardRe'), CAST(i AS INT), 1) AS INT) END)) % 10 = 0 luhn_ok
       |  FROM d
       |), h AS (
       |  SELECT *,
       |         len(regexp_extract_all(raw, '$EmailRe')) ne,
       |         len(regexp_extract_all(raw, '$PhoneRe')) np,
       |         len(regexp_extract_all(raw, '$NricRe')) ni,
       |         len(regexp_extract_all(raw, '$IpRe')) nip,
       |         CASE WHEN luhn_ok THEN 1 ELSE 0 END nc
       |  FROM cardv
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_pii_stats" ->
      s"""WITH ${decorSql("c_nationkey, c_name")}
         |SELECT c_nationkey,
         |  CAST(count(*) AS BIGINT) n_records,
         |  CAST(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) n_with_email,
         |  CAST(sum(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT) n_with_phone,
         |  CAST(sum(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT) n_with_id,
         |  CAST(sum(CASE WHEN nip > 0 THEN 1 ELSE 0 END) AS BIGINT) n_with_ip,
         |  CAST(sum(CASE WHEN nc > 0 THEN 1 ELSE 0 END) AS BIGINT) n_with_card,
         |  CAST(sum(ne + np + ni + nip + nc) AS BIGINT) n_spans,
         |  round(avg(CASE WHEN ne + np + ni + nip + nc > 0 THEN 1.0 ELSE 0.0 END), 6)::DOUBLE pii_rate
         |FROM h GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_pii_redact" ->
      s"""WITH ${decorSql("c_custkey, c_name")}
         |SELECT c_custkey, raw,
         |  CAST(ne AS BIGINT) n_emails,
         |  CAST(np AS BIGINT) n_phones,
         |  CAST(ni AS BIGINT) n_ids,
         |  CAST(nip AS BIGINT) n_ips,
         |  CAST(nc AS BIGINT) n_cards,
         |  CASE WHEN luhn_ok THEN replace(base_red, card, '<CARD>') ELSE base_red END redacted
         |FROM (
         |  SELECT *, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |           raw, '$EmailRe', '<EMAIL>', 'g'),
         |           '$PhoneRe', '<PHONE>', 'g'),
         |           '$NricRe', '<ID>', 'g'),
         |           '$IpRe', '<IP>', 'g') base_red
         |  FROM h
         |) ORDER BY c_custkey""".stripMargin)
}
