package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.plans.VectorExpressions

/** Streaming IVF index maintenance — coarse assignment at INGEST.
  * A production vector index is not rebuilt per snapshot: vectors
  * are assigned to their cell as they ARRIVE, and the cell files /
  * posting lists grow incrementally (faiss `add` on an already-
  * trained index). This is that shape for the repo's IVF family:
  * the TRAINED anchor table arrives as the pretrained bounded
  * artifact (collected (cell, unit-norm centroid) rows, as
  * [[graft.GraftSession.memoFrame]] keeps them — the
  * lrWeights/CurateStream serve contract; training stays a batch
  * job, exactly like faiss `train` → `add`), and each arriving
  * vector is scored against every anchor with the SAME arithmetic
  * as the batch assignment: the batch kernels themselves
  * ([[graft.plans.VectorExpressions.widenedDotCompute]] over the
  * float vector and the double anchor, ÷
  * [[graft.plans.VectorExpressions.l2NormCompute]]), rounded to 6
  * decimals (portable mode), argmax with ties to the LOWEST cell —
  * the [[graft.operators.NearestAnchor]] decision. IvfAssignStreamSpec
  * pins stream ≡ the batch Column pipeline BIT-FOR-BIT across
  * micro-batch boundaries (the NearDupStream band-key discipline).
  *
  * Assignment is STATELESS (one row in → one row out), so the
  * stream needs no keyed state, restarts replay nothing, and the
  * cost is |anchors| dots per vector — identical to the batch
  * broadcast pass, paid incrementally. [[occupancy]] adds the
  * index-health telemetry on top: cumulative per-cell counts (a
  * Complete-mode aggregation, one counter per cell), the signal
  * that decides when a skewed or overfull cell forces a re-train —
  * spec-proven ≡ the batch cell histogram on the same corpus.
  *
  * 100 TB: at corpus-adaptive anchor counts past the broadcast
  * ceiling the batch side routes through HierAssign; the stream
  * twin would route the same two levels (supers are ≤ √K — always
  * shippable). Not built until needed: the registered IVF family's
  * cell counts keep the flat artifact tiny.
  */
object IvfAssignStream {

  case class Vec(vec_id: Long, embedding: Array[Float])
  case class Assigned(vec_id: Long, cell: Long, ccos: Double)

  /** Spark `round(_, 6)` on the driver/executor JVM (HALF_UP). */
  private def r6(v: Double): Double =
    BigDecimal.valueOf(v).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Assign a STREAMING (or batch — the code path is identical)
    * vector frame to the trained cells. `anchors` is the collected
    * (cell, unit-norm double centroid) artifact, e.g.
    * `AnnOps.trainedAnchors(...).collect()`.
    */
  def assigned(vecs: Dataset[Vec],
      anchors: Array[(Long, Array[Double])]): Dataset[Assigned] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // lowest-cell-first order makes the strict-> fold's tie behavior
    // exactly the batch min(struct(-ccos, cell)) contract; the anchors
    // become ArrayData once, on the driver
    val sorted = anchors.sortBy(_._1)
      .map { case (cell, c) => (cell, UnsafeArrayData.fromPrimitiveArray(c): ArrayData) }
    vecs.mapPartitions { rows =>
      rows.map { v =>
        val emb = UnsafeArrayData.fromPrimitiveArray(v.embedding)
        val nrm = VectorExpressions.l2NormCompute(emb, true)
        var bestCell = -1L
        var bestC = Double.NegativeInfinity
        sorted.foreach { case (cell, c) =>
          val ccos = r6(VectorExpressions.widenedDotCompute(emb, c, true, false) / nrm)
          if (ccos > bestC) { bestC = ccos; bestCell = cell }
        }
        Assigned(v.vec_id, bestCell, bestC)
      }
    }
  }

  /** Cumulative per-cell occupancy out of the assignment stream —
    * run with OutputMode.Complete; each trigger emits the full cell
    * histogram so far.
    */
  def occupancy(assigned: Dataset[Assigned]): DataFrame =
    assigned.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
}
