package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-stable hashing helpers for dedup / fingerprinting.
  *
  * md5 hex output is identical in Spark and DuckDB, so every dedup
  * signature (exact hash, shingles, MinHash "permutations", LSH band
  * keys) is built on md5 strings — the DuckDB oracle can reproduce the
  * exact same values, making the whole dedup suite hash-matchable.
  * Engine-native hashes (murmur3 etc.) are deliberately avoided in
  * anything oracle-checked.
  */
object Hashing {

  /** Exact-content key. */
  def contentKey(c: Column): Column = md5(c.cast("binary"))

  /** k-gram shingles over a token array: contiguous k-token windows
    * joined by single spaces.
    *
    * Evaluates as ONE native Catalyst node
    * (plans/TextExpressions.shinglesCompute). Two earlier formulations
    * died of measured diseases: `transform(sequence(...), i =>
    * slice(toks, i, k))` re-computes the whole token expression per
    * window index (O(L²)/doc in the interpreted evaluator), and the
    * k-shifted-slice `zip_with` reduction that replaced it fixed the
    * runtime but left a k-deep lambda tree whose analysis + janino
    * compilation dominated fresh-session latency — duplicated into
    * every consumer's plan, multiple seconds per dedup query.
    */
  def shingles(toks: Column, k: Int): Column =
    graft.plans.TextExpressions.shinglesNative(toks, k)

  /** MinHash signature value for one "permutation": the minimum md5 hex
    * string of (seed ‖ shingle). Lexicographic min over hex strings is
    * a valid uniform min-hash and is engine-portable.
    */
  def minhash(shingleArr: Column, seed: Int): Column =
    graft.plans.TextExpressions.minhashNative(shingleArr, s"$seed:")

  /** LSH band key: md5 over the concatenation of `rows` minhash values
    * for band `band`.
    */
  def bandKey(shingleArr: Column, band: Int, rows: Int): Column = {
    val parts = (0 until rows).map(r => minhash(shingleArr, band * rows + r))
    md5(concat_ws("|", parts: _*).cast("binary"))
  }

  /** First 8 md5 hex chars of `s` parsed as an unsigned 32-bit int —
    * a portable small integer hash (DuckDB: same via substr+from_hex).
    */
  def hex32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** SimHash over a token array: for each of 32 bit positions, sum +1/-1
    * votes weighted by token frequency, take the sign. Bits come from
    * the token's md5 so the signature is engine-portable.
    */
  def simhash32(toks: Column): Column = {
    val h = (bit: Int) => {
      // bit b of token hash: (hex32 >> b) & 1 → vote +1 / -1
      (acc: Column, t: Column) =>
        acc + (shiftright(conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long"), bit)
          .bitwiseAND(1L) * 2L - 1L)
    }
    (0 until 32).map { bit =>
      val votes = aggregate(toks, lit(0L), h(bit))
      when(votes >= 0, lit(1L << bit)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
