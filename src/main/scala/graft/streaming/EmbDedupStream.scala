package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sign-LSH near-dup candidate generation over embedding
  * vectors — the streaming twin of the candidate stage of
  * [[graft.operators.DedupOps.dedupEmbedding]], completing the pattern
  * [[NearDupStream]] proves for MinHash: the adaptive banding is the
  * same keyed-bucket shape, so the same owner-star state discipline
  * applies unchanged.
  *
  * Band keys are bit-for-bit the batch Column pipeline's (band, sig)
  * keys ([[graft.plans.VectorExpressions.hyperplaneSigsCompute]]): the
  * vector is floor-quantized to integers, projected onto the SAME
  * md5-derived integer hyperplanes
  * ([[graft.functions.Vectors.hyperplaneWeights]]), and the sign of an
  * integer dot decides each bit — no FP accumulation hazard, so a
  * bucket here IS the batch pipeline's bucket (spec-pinned).
  *
  * `bits` is the per-band signature width. The BATCH side derives it
  * from the corpus count (`Vectors.adaptiveBits`, 2^bits ∝ n); a
  * stream has no final count, so the deployment passes the width sized
  * for the EXPECTED corpus — the same dial, decided up front. State
  * and output are linear in bucket membership (owner-star, see
  * [[NearDupStream]]); exact cosine verification runs downstream via
  * the batch pipeline's own [[graft.operators.DedupOps.verifyEmbPairs]].
  */
object EmbDedupStream {

  // the batch pipeline's own tuning — referenced, not duplicated
  private[graft] def Bands: Int = graft.operators.DedupOps.EmbBands
  private[graft] def Dim: Int = graft.operators.AnnOps.Dim

  /** One streamed vector. */
  case class Vec(vec_id: Long, embedding: Array[Float])
  /** One vector's membership in one band bucket. */
  case class BucketMember(bucket: String, vec_id: Long)
  /** Keyed state: the bucket's first-arrival owner. */
  case class Owner(bucket: String, owner_id: Long)
  /** Emitted candidate: `vec_id` collided with the bucket owner. */
  case class Cand(bucket: String, owner_id: Long, vec_id: Long)

  // plane tables are deterministic in (bands × bits, dim) — cache per
  // width so the per-vector hot path never re-derives md5 planes
  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()

  private def weightsFor(bits: Int): Array[Array[Long]] =
    weightCache.computeIfAbsent(bits,
      _ => graft.functions.Vectors.hyperplaneWeights(Bands * bits, Dim))

  /** JVM-side mirror of the batch
    * [[graft.plans.VectorExpressions.hyperplaneSigsCompute]] band keys:
    * `band:sig` strings over the identical integer arithmetic
    * (floor(x·10⁶) quantization, integer plane dots, sign bits packed
    * low-to-high). Band index is part of the key, so the Bands keys of
    * one vector are distinct by construction.
    */
  private[graft] def bandKeys(embedding: Array[Float], bits: Int): Seq[String] = {
    require(embedding.length == Dim,
      s"embedding length ${embedding.length} != $Dim")
    val w = weightsFor(bits)
    val q = new Array[Long](Dim)
    var i = 0
    while (i < Dim) { q(i) = math.floor(embedding(i).toDouble * 1e6).toLong; i += 1 }
    (0 until Bands).map { b =>
      var sig = 0L
      var j = 0
      while (j < bits) {
        val plane = w(b * bits + j)
        var s = 0L
        var k = 0
        while (k < Dim) { s += q(k) * plane(k); k += 1 }
        if (s >= 0) sig |= 1L << j
        j += 1
      }
      s"$b:$sig"
    }
  }

  /** The streaming candidate generator — one keyed-state record per
    * band bucket, candidates emitted against the bucket owner. Within
    * a trigger batch arrivals are ordered by vec_id, so a fresh
    * bucket's owner is the batch's lowest id (deterministic under
    * replay of the same batches).
    */
  def candidates(spark: SparkSession, vecs: Dataset[Vec], bits: Int): Dataset[Cand] = {
    import spark.implicits._
    vecs.flatMap(v => bandKeys(v.embedding, bits).map(k => BucketMember(k, v.vec_id)))
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, batch: Iterator[BucketMember], state: GroupState[Owner]) => {
          val arrivals = batch.map(_.vec_id).toSeq.distinct.sorted
          state.getOption match {
            case Some(o) =>
              arrivals.filter(_ != o.owner_id).map(v => Cand(key, o.owner_id, v)).iterator
            case None =>
              val owner = arrivals.head
              state.update(Owner(key, owner))
              arrivals.drop(1).map(v => Cand(key, owner, v)).iterator
          }
        })
  }
}
