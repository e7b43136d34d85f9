package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

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
  * no corpus-sized shuffle. The argmax ships only the slim
  * (vec_id, cell, dot) triple through its window; the mean
  * aggregates exploded scalars; the k-row anchor table is
  * pinned per round so corpus lineage never re-executes.
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
    * (both sides unit-norm), ties to the lowest cell. `portable` rounds
    * the dot to 6 decimals BEFORE the argmax so the decision is
    * reproducible across engines (the fold itself is order-fixed, but
    * another engine's list sum may differ in the low bits).
    */
  private def assign(nd: DataFrame, anchors: DataFrame,
      portable: Boolean = false): DataFrame = {
    val dotRaw = graft.plans.VectorExpressions.widenedDotNative(col("nv"), col("c"))
    val dot = if (portable) round(dotRaw, 6) else dotRaw
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cell"))
    nd.crossJoin(broadcast(anchors))
      .withColumn("dot", dot)
      .select(col("vec_id"), col("cell"), col("dot"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("dot"))
  }

  /** Anchor tables after 0, 1, …, `iters` Lloyd iterations — element 0
    * is the deterministic lowest-id init. Each frame carries
    * (cell: long, c: unit-norm array<double>). The full trace is
    * exposed so monotonicity of the quantization cost is checkable
    * per step; production callers take [[anchors]] (= the last).
    */
  def anchorsTrace(e: DataFrame, k: Int, iters: Int,
      portable: Boolean = false): Seq[DataFrame] = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    // the normalized corpus is read 2× per round (assignment + mean);
    // persist it for the duration of the recursion, the standard
    // iterative-algorithm discipline (at cluster scale this is the
    // cached training set every Lloyd implementation keeps)
    val nd = e.select(col("vec_id"), unitDouble(col("embedding")).as("nv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = nd.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long").as("cell"), col("nv").as("c"))
      .transform(materialize)
    val trace = Seq.newBuilder[DataFrame]
    trace += cur
    for (_ <- 0 until iters) {
      val asg = assign(nd, cur, portable).select(col("vec_id"), col("cell"))
      // portable mode pins the per-(cell, dim) mean to 6 decimals: the
      // ONLY engine-order-sensitive float op in the recursion is this
      // distributed avg (everything else is an index-ordered fold), so
      // rounding it makes the whole anchor table oracle-reproducible
      val mean = if (portable) round(avg(col("v")), 6) else avg(col("v"))
      val means = asg.join(nd, "vec_id")
        .select(col("cell"), posexplode(col("nv")).as(Seq("dim", "v")))
        .groupBy("cell", "dim").agg(mean.as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"), transform(col("dm"), s => s.getField("m")).as("mc"))
      cur = cur.as("p").join(means, Seq("cell"), "left")
        .select(col("cell"),
          when(col("mc").isNull, col("p.c")).otherwise(unitOf(col("mc"))).as("c"))
        .transform(materialize)
      trace += cur
    }
    nd.unpersist() // anchors are checkpointed; the cache is round-local
    trace.result()
  }

  /** Lloyd-refined anchors: (cell, c) after `iters` iterations from
    * the deterministic lowest-id init. `portable = true` rounds the
    * per-round mean and assignment dot (6 decimals) so an external SQL
    * engine unrolling the same recursion reproduces the table exactly.
    */
  def anchors(e: DataFrame, k: Int, iters: Int,
      portable: Boolean = false): DataFrame =
    anchorsTrace(e, k, iters, portable).last

  /** Session-scoped memoized trained artifacts (anchor tables, PQ
    * codebooks) keyed by (session, key). Training is a fixed cost per
    * corpus, but a production pipeline trains ONCE per (corpus,
    * params) and reuses the layout across every consumer — re-running
    * Lloyd per query invocation repays that fixed cost for nothing.
    * The cached VALUE is the collected rows + schema (k·dim cells —
    * driver-bounded, tiny), NOT the trainer's DataFrame: a Dataset
    * strongly references its SparkSession, so a frame value would pin
    * the weak key forever and the whole point of the WeakHashMap (a
    * closed session's entries are collectable, a new session
    * re-trains — the [[graft.sources.Tables.rowCount]] discipline)
    * would silently fail. A hit rebuilds a LocalRelation from the
    * rows — zero jobs, and the local table broadcasts for free. The
    * key must encode every training input (dir, family, k, iters,
    * portable).
    */
  private val trainCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[
        String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]]()

  def memoized(spark: org.apache.spark.sql.SparkSession, key: String)(
      train: => DataFrame): DataFrame = {
    val perSession = trainCache.synchronized {
      var m = trainCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[
          String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]()
        trainCache.put(spark, m)
      }
      m
    }
    val (schema, rows) = perSession.computeIfAbsent(key, _ => {
      val df = train
      (df.schema, df.collect())
    })
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Mean spherical quantization cost `avg(1 − cos)` of `e` under its
    * best assignment to `anchors` — the quantity each Lloyd iteration
    * is guaranteed not to increase. One row: (cost).
    */
  def cost(e: DataFrame, anchors: DataFrame): DataFrame = {
    val nd = e.select(col("vec_id"), unitDouble(col("embedding")).as("nv"))
    assign(nd, anchors).agg(avg(lit(1.0) - col("dot")).as("cost"))
  }
}
