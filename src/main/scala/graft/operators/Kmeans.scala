package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd-iterated spherical k-means — the anchor
  * refinement that turns [[AnnOps.annIvf]]'s seed cells (lowest-id
  * vectors) into a production-shaped IVF layout. No reference
  * counterpart (the reference has no vector path); the design is the
  * standard spherical Lloyd recursion.
  *
  * Determinism without RNG:
  *   - init = the k lowest-id vectors, the same seed the registered
  *     IVF query uses directly;
  *   - assignment ties break to the lowest cell id;
  *   - each round: one broadcast assignment pass over the corpus
  *     (argmax cosine), then a per-(cell, dim) mean over NORMALIZED
  *     vectors, re-normalized — the spherical Lloyd update, which
  *     never increases the quantization cost Σ(1 − cos);
  *   - empty cells keep their previous anchor.
  *
  * 100 TB shape: each iteration is one broadcast-join scan of the
  * corpus plus a (cell, dim)-keyed aggregation onto k·dim cells —
  * no corpus-sized shuffle. The argmax ships one slim (vec_id,
  * cell, dot) row per vector through its exchange; the mean
  * aggregates exploded scalars; the k-row anchor table is
  * pinned per round ([[iterate]]) so corpus lineage never re-executes.
  */
object Kmeans {

  /** `x / ‖x‖` as array<double>, zero-safe. */
  private def unitOf(arr: Column): Column = {
    val n = greatest(sqrt(aggregate(arr, lit(0.0), (acc, x) => acc + x * x)), lit(1e-30))
    transform(arr, x => x / n)
  }

  private def unitDouble(emb: Column): Column =
    unitOf(transform(emb, x => x.cast("double")))

  /** Nearest anchor per vector: (vec_id, cell, dot) with dot = cosine
    * (both sides unit-norm), ties to the lowest cell — the
    * [[NearestAnchor]] decision. `portable` rounds the dot to 6
    * decimals BEFORE the argmax so the decision is reproducible across
    * engines (the fold itself is order-fixed, but another engine's list
    * sum may differ in the low bits).
    */
  private def assign(nd: DataFrame, anchors: DataFrame,
      portable: Boolean = false): DataFrame = {
    val dotRaw = graft.plans.VectorExpressions.widenedDotNative(col("nv"), col("c"))
    val dot = if (portable) round(dotRaw, 6) else dotRaw
    NearestAnchor.assign(nd, anchors, "vec_id", dot)
      .select(col("vec_id"), col("cell"), col("ccos").as("dot"))
  }

  /** Anchor tables after 0, 1, …, `iters` Lloyd iterations — element 0
    * is the deterministic lowest-id init. Each frame carries
    * (cell: long, c: unit-norm array<double>). The full trace is
    * exposed so monotonicity of the quantization cost is checkable
    * per step; production callers take [[anchors]] (= the last).
    * The normalized corpus is the loop's training set: read twice per
    * round (assignment + mean), so [[iterate]] keeps it cached.
    */
  def anchorsTrace(e: DataFrame, k: Int, iters: Int,
      portable: Boolean = false): Seq[DataFrame] = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val nd = e.select(col("vec_id"), unitDouble(col("embedding")).as("nv"))
    // portable mode pins the per-(cell, dim) mean to 6 decimals: the
    // ONLY engine-order-sensitive float op in the recursion is this
    // distributed avg (everything else is an index-ordered fold), so
    // rounding it makes the whole anchor table oracle-reproducible
    val mean = if (portable) round(avg(col("v")), 6) else avg(col("v"))
    val trace = Seq.newBuilder[DataFrame]
    val last = iterate(iters, Seq(nd))(_ => materialize(nd.filter(col("vec_id") < k)
        .select(col("vec_id").cast("long").as("cell"), col("nv").as("c")))) { (_, cur) =>
      trace += cur
      val members = assign(nd, cur, portable).select(col("vec_id"), col("cell"))
        .join(nd, "vec_id")
      Some(materialize(lloydStep(cur, members, Seq("cell"), "nv", "c", mean, unitOf)))
    }
    (trace += last).result()
  }

  /** One Lloyd mean step, shared by [[anchorsTrace]] and the PQ
    * codebook ([[AnnOps]]): per `keys` cell of the `members` rows, the
    * per-dim `mean` (an aggregate over the exploded value `v`) of
    * their `vec` vectors, collected in dim order and `finish`ed. A cell
    * of `cur` with no member keeps its previous anchor `c`. A
    * (keys, dim)-keyed aggregation onto |cells|·dim rows: no
    * corpus-sized shuffle.
    */
  private[operators] def lloydStep(cur: DataFrame, members: DataFrame, keys: Seq[String],
      vec: String, c: String, mean: Column, finish: Column => Column = identity): DataFrame = {
    val ks = keys.map(col)
    val means = members
      .select(ks :+ posexplode(col(vec)).as(Seq("dim", "v")): _*)
      .groupBy(ks :+ col("dim"): _*).agg(mean.as("mean"))
      .groupBy(ks: _*)
      .agg(array_sort(collect_list(struct(col("dim"), col("mean")))).as("dm"))
      .select(ks :+ transform(col("dm"), s => s.getField("mean")).as("mc"): _*)
    cur.as("p").join(means, keys, "left")
      .select(ks :+ when(col("mc").isNull, col(s"p.$c")).otherwise(finish(col("mc"))).as(c): _*)
  }

  /** Lloyd-refined anchors: (cell, c) after `iters` iterations from
    * the deterministic lowest-id init. `portable = true` rounds the
    * per-round mean and assignment dot (6 decimals) so an external SQL
    * engine unrolling the same recursion reproduces the table exactly.
    */
  def anchors(e: DataFrame, k: Int, iters: Int,
      portable: Boolean = false): DataFrame =
    anchorsTrace(e, k, iters, portable).last

  /** Mean spherical quantization cost `avg(1 − cos)` of `e` under its
    * best assignment to `anchors` — the quantity each Lloyd iteration
    * is guaranteed not to increase. One row: (cost).
    */
  def cost(e: DataFrame, anchors: DataFrame): DataFrame = {
    val nd = e.select(col("vec_id"), unitDouble(col("embedding")).as("nv"))
    assign(nd, anchors).agg(avg(lit(1.0) - col("dot")).as("cost"))
  }
}
