package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.LongAccumulator

import graft.operators.CorpusOps

/** Streaming DECONTAMINATION gate — the missing member of the
  * ingest-gate family (CurateStream, MediaStream, IvfAssignStream):
  * `q_contamination`'s benchmark-overlap pass applied as documents
  * ARRIVE, maintaining the df-capped gram index as keyed state
  * instead of rebuilding it per snapshot. Postings come from the
  * EXACT batch projection ([[CorpusOps.contamPostingsOf]] — bench
  * flag + K-gram generator, one shared copy), so what counts as
  * evidence cannot drift between the batch, the IVM and the stream.
  *
  * Per-gram keyed state rides the `q_contam_incremental` insert-only
  * hot-set discipline: df only GROWS, so hotness is monotone — a
  * live gram stores its holder ids (each side bounded by the df cap
  * by definition), a gram crossing the cap emits ONE `hot` tombstone,
  * drops its holder lists, and stops producing evidence forever
  * (state shrinks to a counter). Evidence pairs are emitted exactly
  * once, when the LATER of the two docs arrives; the emission set is
  * arrival-order-independent within a batch (all cross-side pairs
  * minus already-stored ones).
  *
  * The gate is DEAD-LETTER-FREE — contamination is telemetry plus a
  * retroactive exclusion list, never an ingest rejection (a train
  * doc flagged today may be un-flagged tomorrow when its only shared
  * gram goes hot): the stream emits evidence/tombstone EVENTS, and
  * [[readout]] — the serving aggregation over the event sink —
  * reproduces the batch query's exact per-doc verdict, demotions
  * included. Two named accumulators carry the per-batch alarm
  * telemetry (evidence emitted, grams gone hot).
  *
  * 100 TB: state cardinality = distinct live grams — the same
  * cardinality the batch inverted index pays — with each entry
  * bounded by the cap and hot entries collapsed to one counter;
  * bench docs are ~5% so the bench lists stay tiny in practice.
  */
object ContamStream {

  /** One posting (the shared projection's row, typed). */
  case class Posting(g: String, doc_id: Long, is_bench: Boolean)

  /** One gate event: `kind` = "ev" (an arriving posting linked train
    * doc `doc_id` to bench doc `bench_id` through gram `g`) or "hot"
    * (gram `g` crossed the df cap — all its evidence is retroactively
    * void; ids are −1).
    */
  case class ContamEvent(kind: String, g: String, doc_id: Long, bench_id: Long)

  /** Per-gram state: postings seen, hotness, and (while live) the
    * holder ids per side. Lists are cleared at the hot crossing. */
  case class GramState(df: Long, hot: Boolean,
      bench: List[Long], train: List[Long])

  /** The one key-batch decision (factored for the spec's direct
    * drive): pair arrivals against the stored opposite side, emit the
    * tombstone on a cap crossing, never emit once hot.
    */
  private[streaming] def gramStep(g: String, rows: Seq[Posting],
      state: GroupState[GramState], evAcc: Option[LongAccumulator],
      hotAcc: Option[LongAccumulator]): Iterator[ContamEvent] = {
    val st = state.getOption.getOrElse(GramState(0L, hot = false, Nil, Nil))
    val newDf = st.df + rows.size
    if (st.hot) {
      state.update(st.copy(df = newDf))
      Iterator.empty
    } else if (newDf > graft.operators.DfCap) {
      // the cap crossing: boilerplate discovered mid-stream — void
      // everything this gram ever said and stop paying for its lists
      state.update(GramState(newDf, hot = true, Nil, Nil))
      hotAcc.foreach(_.add(1L))
      Iterator.single(ContamEvent("hot", g, -1L, -1L))
    } else {
      var bench = st.bench
      var train = st.train
      val out = Seq.newBuilder[ContamEvent]
      rows.foreach { r =>
        if (r.is_bench) {
          train.foreach(t => out += ContamEvent("ev", g, t, r.doc_id))
          bench ::= r.doc_id
        } else {
          bench.foreach(b => out += ContamEvent("ev", g, r.doc_id, b))
          train ::= r.doc_id
        }
      }
      state.update(GramState(newDf, hot = false, bench, train))
      val res = out.result()
      evAcc.foreach(_.add(res.size.toLong))
      res.iterator
    }
  }

  /** Gate a STREAMING frame with the documents schema (doc_id, text,
    * …): returns the event stream ([[ContamEvent]] columns). Assumes
    * the production ingest contract the sibling gates assume:
    * insert-only, unique doc_ids (a re-upload would double-count df).
    */
  def events(docs: DataFrame): DataFrame = eventsCounting(docs)._1

  /** [[events]] plus the alarm telemetry: cumulative evidence-row and
    * hot-crossing counts on named accumulators (per-batch rates read
    * straight off their deltas).
    */
  def eventsCounting(docs: DataFrame): (DataFrame, LongAccumulator, LongAccumulator) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val evAcc = spark.sparkContext.longAccumulator("contam_stream_evidence")
    val hotAcc = spark.sparkContext.longAccumulator("contam_stream_hot_grams")
    val out = CorpusOps.contamPostingsOf(
        docs.filter(col("doc_id").isNotNull && col("text").isNotNull))
      .select(col("g"), col("doc_id").cast("long").as("doc_id"), col("is_bench"))
      .as[Posting]
      .groupByKey(_.g)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[Posting], state: GroupState[GramState]) =>
          gramStep(g, rows.toSeq, state, Some(evAcc), Some(hotAcc))
      }
    (out.toDF(), evAcc, hotAcc)
  }

  /** The serving aggregation over the event sink: void every gram
    * with a hot tombstone, then the batch query's exact per-doc
    * distinct counts — so `readout(sink) ≡ q_contamination(corpus)`
    * at every micro-batch boundary, retroactive demotion included.
    */
  def readout(events: DataFrame): DataFrame = {
    // single scan, no self-join: hotness rides a g-keyed window over
    // the same pass that carries the evidence (one shuffle on g —
    // exactly what the anti-join would have cost, minus the second
    // read of the sink)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    events
      .withColumn("is_hot",
        max(when(col("kind") === "hot", 1).otherwise(0)).over(wg))
      .filter(col("kind") === "ev" && col("is_hot") === 0)
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_grams"),
        countDistinct(col("bench_id")).as("n_bench"))
  }
}
