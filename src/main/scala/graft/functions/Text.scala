package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-processing column functions.
  *
  * Re-expresses the reference's string pipeline
  * (src/services/halalService.ts:249-257 cleanName,
  * src/data/merchants.ts:123-151 detectCuisine,
  * src/services/externalData.ts:426-461 keyword flags) as
  * codegen-friendly Spark column expressions — every function here
  * composes `org.apache.spark.sql.functions._` builtins only, so the
  * whole pipeline stays inside whole-stage codegen and is pushed
  * through Catalyst unchanged.
  *
  * Regexes are kept within the RE2-compatible subset so the DuckDB
  * oracle evaluates them identically.
  */
object Text {

  /** Business-name normalization (halalService.ts:249-257): lowercase,
    * strip legal suffixes, strip stall/unit numbers, collapse
    * punctuation and whitespace.
    */
  def cleanName(c: Column): Column = {
    val lowered   = lower(c)
    val noSuffix  = regexp_replace(lowered, "\\b(pte|ltd|private|limited|sdn|bhd)\\b", "")
    val noStall   = regexp_replace(noSuffix, "\\b(stall|unit)\\s*[0-9]+[a-z]?\\b|#[0-9]+(-[0-9]+)?", "")
    val noPunct   = regexp_replace(noStall, "[^a-z0-9 ]", " ")
    trim(regexp_replace(noPunct, " +", " "))
  }

  /** DuckDB SQL mirror of [[cleanName]] (note the 'g' flags — DuckDB
    * replaces only the first match by default).
    */
  def sqlCleanName(e: String): String =
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"lower($e), '\\b(pte|ltd|private|limited|sdn|bhd)\\b', '', 'g')," +
      " '\\b(stall|unit)\\s*[0-9]+[a-z]?\\b|#[0-9]+(-[0-9]+)?', '', 'g')," +
      " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Cleaned, non-empty word tokens. */
  def tokens(c: Column): Column =
    filter(split(cleanName(c), " "), t => length(t) > 0)

  /** `{w}` ∪ all single-character deletions of `w`. */
  def delNbh1(w: Column): Column =
    when(length(w) === 0, array(w)).otherwise(concat(
      array(w),
      transform(sequence(lit(1), length(w)),
        i => concat(w.substr(lit(1), i - lit(1)), w.substr(i + lit(1), length(w))))))

  /** Distinct deletion neighborhood of radius ≤ 2 — FastSS/SymSpell
    * signatures for edit-distance blocking: ANY pair of strings within
    * Levenshtein distance 2 shares at least one signature (each edit
    * op of an optimal alignment is neutralized by deleting ≤ 1 char
    * per side), so an equi-join on exploded signatures is a LOSSLESS
    * block for `lev ≤ 2` verification. A word of length L yields
    * ~1 + L + L²/2 keys — linear index growth, no vocab² pair scan.
    */
  def delNbh2(w: Column): Column =
    array_distinct(flatten(transform(delNbh1(w), x => delNbh1(x))))

  /** DuckDB SQL mirror of [[delNbh1]]. */
  def sqlDelNbh1(e: String): String =
    s"list_prepend($e, list_transform(range(1, length($e) + 1), " +
      s"i -> substr($e, 1, i - 1) || substr($e, i + 1, length($e))))"

  /** DuckDB SQL mirror of [[delNbh2]]. */
  def sqlDelNbh2(e: String): String =
    s"list_distinct(flatten(list_transform(${sqlDelNbh1(e)}, x -> ${sqlDelNbh1("x")})))"

  /** Whitespace token count. */
  def wsTokenCount(c: Column): Column = size(split(trim(c), "\\s+"))

  /** BPE-ish token count: word pieces plus standalone punctuation,
    * the standard `\w+|[^\w\s]` pre-tokenizer regex.
    */
  def regexTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[a-zA-Z0-9_]+|[^a-zA-Z0-9_ ]"), lit(0)))

  /** chars/4 — the usual quick LLM token estimate. */
  def approxLlmTokens(c: Column): Column = ceil(length(c) / lit(4.0))

  /** Punctuation-character ratio, rounded for oracle-stable output. */
  def punctRatio(c: Column, scale: Int = 6): Column =
    round(length(regexp_replace(c, "[a-zA-Z0-9 ]", "")) / greatest(length(c), lit(1)).cast("double"), scale)

  /** Mean token length. */
  def avgWordLen(c: Column, scale: Int = 6): Column = {
    val toks = split(trim(c), "\\s+")
    round(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)) /
        greatest(size(toks), lit(1)).cast("double"),
      scale)
  }
}
