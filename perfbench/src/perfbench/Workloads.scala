package perfbench

import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** What each workload runs. Query workloads draw from the public
  * registry (`SparkEntry.queries`); the CDC workload's feed is made
  * here from the seed. Why each set was chosen is in WORKLOADS.md.
  */
object Workloads {

  type Query = (SparkSession, String) => DataFrame

  /** Fuzzy entity resolution, dedup and their near-duplicate relatives:
    * shuffle-, checkpoint- and exec-heavy.
    */
  val Resolve: Seq[String] = Seq(
    "q_fuzzy_resolve", "q_fuzzy_join_exact", "q_token_jaccard_join",
    "q_dedup_keep_best", "q_dedup_ngram", "q_minhash_recall",
    "q_contam_incremental", "q_session_overlap")

  /** The interactive search, filter, sort, geo and classify surface:
    * short queries where driver time and scans dominate.
    */
  val Lookup: Seq[String] = Seq(
    "q_search_multifield", "q_code_extract", "q_filter_category", "q_sort_multikey", "q_search_dispatch",
    "q_geo_radius", "q_geo_knn", "q_geo_fallback", "q_format_distance",
    "q_keyword_classify", "q_flag_exclusion", "q_enrich", "q_hours_rules", "q_clean_name",
    "q1_agg", "q_join_agg_nation")

  val QueryWorkloads: Map[String, Seq[String]] = Map("resolve" -> Resolve, "lookup" -> Lookup)

  /** Looks every name up in the registry before anything runs, so a
    * typo fails the run at once instead of reading as an empty round.
    */
  def resolveQueries(names: Seq[String]): Seq[(String, Query)] = {
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.map(n => n -> registry(n))
  }

  /** The order of one round's queries: a shuffle keyed by seed and round. */
  def roundOrder(names: Seq[String], seed: Long, round: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + round).shuffle(names)

  // CDC feed shape: fixed-size micro-batches of changes over a fixed key space.
  val FeedKeys = 1000
  val BatchSize = 500
  val FeedBatches = 60 // far more than a run consumes; a run stops early if it runs out
  val EventTypes: IndexedSeq[String] = IndexedSeq("signup", "view", "click", "purchase", "error")

  /** One row of the `events` table the change feed is derived from. */
  case class FeedEvent(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
      value: Double, props: String)

  private val FeedStart = Instant.parse("2024-01-01T00:00:00Z")

  /** The seeded events behind the CDC feed, in commit order. Changes are
    * 1 to 10 ms apart, so the whole feed spans well under the stream's
    * one-hour tombstone retention and no change arrives behind the
    * watermark. `CdcOps.changeFeed` tags each one `c`, `u` or `d`.
    */
  def cdcEvents(seed: Long, batches: Int = FeedBatches): IndexedSeq[FeedEvent] = {
    val rnd = new java.util.Random(seed)
    var micros = 0L
    (0 until batches * BatchSize).map { i =>
      micros += 1000 + rnd.nextInt(9000)
      FeedEvent(
        event_id = i.toLong,
        ts = Timestamp.from(FeedStart.plus(micros, ChronoUnit.MICROS)),
        user_id = rnd.nextInt(FeedKeys).toLong,
        event_type = EventTypes(rnd.nextInt(EventTypes.size)),
        value = rnd.nextInt(100000) / 100.0,
        props = s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }
}
