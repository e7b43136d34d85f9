package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Kernel

/** Byte-pair-encoding tokenizer TRAINING on Spark — the
  * tokenizer-construction workload a training-data pipeline runs
  * before any token count is meaningful (Sennrich et al. 2016,
  * word-level BPE: the GPT-2/SentencePiece family's core loop).
  *
  * The classic formulation works on WORD TYPES with counts, not the
  * token stream: at 100 TB the corpus collapses to a word-type frame
  * (|types| ≪ |tokens|, Heaps' law), and each merge round is
  *   1. one distributed aggregation — adjacent symbol-pair counts,
  *      weighted by word frequency, map-side combined to |pair types|
  *      rows, and
  *   2. one scalar argmax (count desc, pair asc — the deterministic
  *      tie-break that makes training reproducible on any engine),
  *      collected to the driver as the round's ONE merge rule
  *      (k rules total — the same bounded-driver-state contract as
  *      the Kmeans anchor collect), and
  *   3. one codegen'd projection applying the merge to every word's
  *      symbol array (the [[mergePairCompute]] kernel — a sequential
  *      in-array scan, never an explode/re-group of the corpus).
  * State between rounds is the word-type frame, cut per round
  * ([[iterate]]'s lazy cut, materialized by the next round's collect)
  * so no round re-reads lineage.
  *
  * Training is DETERMINISTIC: greedy argmax with a total order, so
  * BpeSpec pins the distributed loop against an independent
  * driver-side reference implementation, merge list and final
  * vocabulary both.
  */
object BpeTrainer {

  /** One learned merge rule: `(a, b) → a+b`, with its support. */
  case class Merge(rank: Int, a: String, b: String, count: Long)

  /** Merge one adjacent symbol pair (a, b) → ab, left-to-right with
    * no re-scan of the just-merged token — the standard BPE apply
    * order (a run "aaa" under merge (a,a) becomes ["aa", "a"]).
    */
  def mergePairCompute(arr: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (i + 1 < n && cur == a && arr.getUTF8String(i + 1) == b) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  private def mergePairNative(arr: Column, a: String, b: String): Column =
    Kernel.column(Kernel.call(this, "mergePairCompute",
      ArrayType(StringType, containsNull = false),
      Seq(Kernel.expr(arr), Literal(a), Literal(b))))

  /** Word-type counts of a document frame (doc_id, text): one explode
    * + one keyed aggregation — the only corpus-sized pass in training.
    */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) > 0)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** A space never occurs inside a symbol (symbols are substrings
    * of SPACE-split words), so it is a safe pair separator — and,
    * unlike the NUL byte it replaces, it keeps this file text-
    * diffable and makes the trainer's (count desc, pair asc) argmax
    * tie-break byte-identical to the q_bpe_* oracles' space-joined
    * pair ordering and BpeSpec's reference (both already compared
    * "a b" strings).
    */
  private val Sep = " "

  /** Train up to `nMerges` BPE rules over a (word, n) frame. Returns
    * the merge list in training order; stops early when no adjacent
    * pair has support ≥ 2 (merging a count-1 pair encodes nothing).
    */
  def train(spark: SparkSession, wordCounts: DataFrame, nMerges: Int): Seq[Merge] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    iterate(nMerges)(cut => cut(wordCounts.select(split(col("word"), "").as("syms"), col("n")))) {
      (cut, state) =>
        // adjacent-pair supports, weighted by word count: one explode of
        // the zipped (syms[i], syms[i+1]) stream, map-side combined to
        // |pair types| rows; the argmax is a TakeOrdered over that
        // bounded frame and a ONE-row collect (k rows of driver state
        // over the whole training — the Kmeans anchor-collect contract).
        // The collect is the round's action: it materializes `state`'s cut.
        val len1 = greatest(size(col("syms")) - 1, lit(0))
        val top = state
          .select(col("n"), explode(zip_with(
            slice(col("syms"), lit(1), len1),
            slice(col("syms"), lit(2), len1),
            (a, b) => concat(a, lit(Sep), b))).as("p"))
          .groupBy("p").agg(sum(col("n")).as("c"))
          .filter(col("c") >= 2)
          .orderBy(col("c").desc, col("p"))
          .limit(1)
          .collect()
        top.headOption.map { t =>
          val Array(a, b) = t.getString(0).split(Sep, 2)
          merges += Merge(merges.length, a, b, t.getLong(1))
          cut(state.select(mergePairNative(col("syms"), a, b).as("syms"), col("n")))
        }
    }
    merges.toSeq
  }

  /** Distributed encoder: the [[mergePairCompute]] chain applying the
    * learned rules in rank order to a symbol-array column — the same
    * codegen'd pass the trainer folds each round, so trained-then-
    * encoded corpora are consistent by construction.
    */
  def applyMerges(syms: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(syms)((c, m) => mergePairNative(c, m.a, m.b))

  /** The session's ONE trained merge list per (dir-tagged word frame,
    * k) — q_bpe_merges and q_bpe_encode both consume the identical
    * rules without re-running the k training rounds twice per session
    * ([[graft.GraftSession.memo]], driver state bounded at k rules per
    * entry).
    */
  def trainMemoized(spark: SparkSession, key: String, wordCounts: => DataFrame,
      nMerges: Int): Seq[Merge] =
    graft.GraftSession.memo(spark, s"bpe|$key|k=$nMerges")(train(spark, wordCounts, nMerges))

  /** Driver-side encoder: apply the learned rules in rank order to one
    * word (the per-record application a serving tokenizer runs; the
    * distributed form is the same [[mergePairCompute]] chain the trainer
    * uses). Symbols start as single characters (code points).
    */
  def encodeWord(word: String, merges: Seq[Merge]): Seq[String] = {
    var syms = word.codePoints().toArray.toSeq
      .map(cp => new String(Character.toChars(cp)))
    merges.foreach { m =>
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == m.a && syms(i + 1) == m.b) {
          out += m.a + m.b
          i += 2
        } else {
          out += syms(i)
          i += 1
        }
      }
      syms = out.result()
    }
    syms
  }
}
