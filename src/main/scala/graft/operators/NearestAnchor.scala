package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{TopKAgg, VectorExpressions}
import graft.sources.Tables

/** The nearest-anchor decision of the vector family — IVF cells, the
  * SQ8/PQ compositions, SemDeDup, prototypes, k-means, kNN cell
  * routing. Every member rests on it: score each vector against every
  * anchor, take the highest score, ties to the LOWEST cell id. Both
  * layouts' scores are rounded to 6 decimals, so the DuckDB oracle's
  * `row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cell)`
  * reproduces the decision bit for bit.
  *
  * The order is one ascending struct key, (−score, cell) ([[key]]):
  *   - the argmax is a `min(key)` aggregate — a broadcast crossJoin
  *     emits each vector's |anchors| scored rows inside one partition,
  *     so the partial aggregate collapses them to ONE row per vector
  *     before any exchange (a struct buffer is not hash-mutable, so
  *     Spark plans it as a Sort plus SortAggregate);
  *   - the ranked cut is the mergeable bounded [[TopKAgg]] over the
  *     same key, so its top-1 IS the argmax;
  *   - Spark compares doubles with 0.0 = −0.0, so a −0.0 score ties a
  *     0.0 score and the lower cell wins, as in the oracle.
  * NearestAnchorSpec pins all three over both layouts.
  *
  * This file is the only main source that negates a cell score:
  * `tools/precommit.sh` fails on `negate(col("ccos"))` anywhere else.
  */
object NearestAnchor {

  /** An anchor table's layout: its vector columns beside `cell`, and
    * the rounded score of a vector (`emb`, `nrm`) against one anchor.
    * `a` reads an anchor column by its layout name, so a renamed copy
    * of the table (the super anchors of [[HierAssign]]) scores through
    * the same constructor.
    */
  sealed abstract class Layout(val cols: Seq[String]) {
    def score(a: String => Column, emb: Column, nrm: Column): Column

    /** The score against the anchor columns under their own names. */
    final def score(emb: Column, nrm: Column): Column = score(col _, emb, nrm)

    /** The anchor itself as an (`emb`, `nrm`) vector, for routing one
      * anchor table onto another.
      */
    def asVector(a: String => Column): (Column, Column)
  }

  /** Float anchors (cell, c_emb: array<float>, c_nrm: double) — the
    * lowest-id corpus vectors — scored by cosine.
    */
  object FloatAnchors extends Layout(Seq("c_emb", "c_nrm")) {
    def score(a: String => Column, emb: Column, nrm: Column): Column =
      round(VectorExpressions.cosineNative(a("c_emb"), a("c_nrm"), emb, nrm), 6)
    def asVector(a: String => Column): (Column, Column) = (a("c_emb"), a("c_nrm"))
  }

  /** Unit-norm double anchors (cell, c: array<double>) — the
    * [[Kmeans.anchors]] layout — scored as the codegen'd widened
    * float × double dot ÷ the vector's norm.
    */
  object UnitAnchors extends Layout(Seq("c")) {
    def score(a: String => Column, emb: Column, nrm: Column): Column =
      round(VectorExpressions.widenedDotNative(emb, a("c")) / nrm, 6)
    def asVector(a: String => Column): (Column, Column) = (a("c"), lit(1.0))
  }

  /** The decision order as an ascending sort key: higher `score`
    * first, then the `tie` columns ascending.
    */
  def key(score: Column, tie: Column*): Column =
    struct(negate(score).as("nc") +: tie: _*)

  /** Per `id` of the already-paired `rows`, the `cell` with the highest
    * `score`: (id, carry…, cell, ccos). `carry` columns are constant
    * per id; `first` re-attaches them.
    */
  def argmax(rows: DataFrame, id: String, score: Column, cell: String = "cell",
      carry: Seq[String] = Nil): DataFrame =
    rows.withColumn("ccos", score)
      .groupBy(col(id))
      .agg(min(key(col("ccos"), col(cell).as(cell))).as("best"),
        carry.map(c => first(col(c)).as(c)): _*)
      .select((col(id) +: carry.map(col)) ++
        Seq(col("best." + cell).as(cell), negate(col("best.nc")).as("ccos")): _*)

  /** [[argmax]] of `rows` against every anchor of the broadcast
    * `anchors` table.
    */
  def assign(rows: DataFrame, anchors: DataFrame, id: String, score: Column,
      cell: String = "cell", carry: Seq[String] = Nil): DataFrame =
    argmax(rows.crossJoin(broadcast(anchors)), id, score, cell, carry)

  /** A corpus (vec_id, embedding, nrm) assigned to `anchors` of
    * `layout`: (vec_id, cell, ccos).
    */
  def assignCorpus(e: DataFrame, anchors: DataFrame, layout: Layout): DataFrame =
    assign(e, anchors, "vec_id", layout.score(col("embedding"), col("nrm")))

  /** Per `id`, its `k` best cells against the broadcast `anchors` in
    * decision order, as the array `_tk` of [[key]] structs.
    */
  private def topCells(rows: DataFrame, anchors: DataFrame, id: String, score: Column,
      k: Int, cell: String, carry: Seq[String]): DataFrame =
    rows.crossJoin(broadcast(anchors))
      .withColumn("ccos", score)
      .groupBy(col(id))
      .agg(TopKAgg.topK(key(col("ccos"), col(cell).as(cell)), k).as("_tk"),
        carry.map(c => first(col(c)).as(c)): _*)

  /** Per `id`, its `k` nearest cells: (id, carry…, cell), one row per
    * cell.
    */
  def nearestCells(rows: DataFrame, anchors: DataFrame, id: String, score: Column, k: Int,
      cell: String = "cell", carry: Seq[String] = Nil): DataFrame =
    topCells(rows, anchors, id, score, k, cell, carry)
      .select((col(id) +: carry.map(col)) :+ explode(col("_tk." + cell)).as(cell): _*)

  /** [[nearestCells]] with the rank kept: (id, carry…, cell, cell_rnk),
    * `cell_rnk` 1-based in decision order.
    */
  def rankedCells(rows: DataFrame, anchors: DataFrame, id: String, score: Column, k: Int,
      carry: Seq[String] = Nil): DataFrame =
    topCells(rows, anchors, id, score, k, "cell", carry)
      .select(col(id) +: carry.map(col) :+
        posexplode(col("_tk.cell")).as(Seq("_pos", "cell")): _*)
      .select((col(id) +: carry.map(col)) :+ col("cell") :+
        (col("_pos") + 1).cast("int").as("cell_rnk"): _*)

  /** The normed corpus every vector query starts from: `df` (vec_id,
    * embedding, …) with its L2 norm `nrm`, spread by vec_id — the
    * single-row-group input otherwise scans on one core.
    */
  def normed(df: DataFrame): DataFrame =
    df.withColumn("nrm", VectorExpressions.normNative(col("embedding")))
      .transform(repartByKey(_, col("vec_id")))

  /** [[normed]] over the embeddings table: (vec_id, embedding,
    * extra…, nrm).
    */
  def corpus(spark: SparkSession, dir: String, extra: String*): DataFrame =
    normed(Tables.embeddings(spark, dir).select((col("vec_id") +: col("embedding") +:
      extra.map(col)): _*))

  /** The deterministic lowest-id float anchors of a normed corpus `e`:
    * the `n` lowest vec_ids as (cell, c_emb, c_nrm).
    */
  def lowestIdAnchors(e: DataFrame, n: Long): DataFrame =
    e.filter(col("vec_id") < n)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
}
