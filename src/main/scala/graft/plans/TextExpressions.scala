package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Kernel.expr

/** Native kernels for text (the [[Kernel]] shape), starting with
  * content-defined chunking.
  *
  * Why not the array-expression formulation (shifted-slice shingles →
  * md5 boundary flags → position zip → slice-per-chunk): that tree is
  * enormous — nested `zip_with`/`transform` lambdas with duplicated
  * md5 subtrees — and while its RUNTIME was tamed (SCALE.md documents
  * the two CollapseProject traps), its PLAN cost was not: analysis +
  * janino compilation of the generated projection measured ~5 s per
  * fresh session at sf0.1, against ~2 s of actual compute. The
  * full-registry bench pays that every pass (the 100-entry codegen
  * cache cannot hold 108 queries), and so does any real user's first
  * run. This kernel evaluates the whole chunk pipeline as ONE node —
  * a tight JVM loop per row — and its generated code is a single
  * static call, so plan cost is negligible and eval is faster than the
  * interpreted higher-order lambdas it replaces.
  *
  * Semantics are bit-identical to the array formulation (and to the
  * DuckDB oracle SQL in DedupOps): a chunk boundary falls at token
  * position p (0-based, p ≥ 1) when the k-token window starting at p
  * has `hex32(md5(window)) % div == 0`, where windows are joined with
  * single spaces and hex32 is the first 8 md5 hex chars as an
  * unsigned int; chunk values are the md5 hex of the space-joined
  * token slices between consecutive boundaries.
  */
object TextExpressions {

  /** Lowercase hex of a 16-byte digest. */
  private def hexOf(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** md5 hex (lowercase) of a string's UTF-8 bytes. */
  private def md5hex(md: MessageDigest, s: String): String =
    hexOf(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  private def tokenAt(toks: ArrayData, i: Int, who: String): String = {
    val u = toks.getUTF8String(i)
    if (u == null) throw new IllegalArgumentException(
      s"$who: null token at index $i — input must be a split() output (non-null elements)")
    u.toString
  }

  /** The analysis-time input check of a text kernel: a string, or an
    * array<string> when `tokens`.
    */
  private def textTypeError(name: String, got: DataType, tokens: Boolean): Option[String] =
    got match {
      case StringType if !tokens => None
      case ArrayType(StringType, _) if tokens => None
      case other => Some(s"$name expects ${if (tokens) "array<string>" else "string"}, got $other")
    }

  private val Strings = ArrayType(StringType, containsNull = false)

  /** Content-defined chunk hashes of a token array — see object doc.
    * Input must be `array<string>` with non-null elements (a `split`
    * output); output is `array<string>` of chunk md5 hex values, one
    * per chunk, preserving document order and intra-doc repeats.
    */
  def chunkHashesCompute(toks: ArrayData, k: Int, div: Int): ArrayData = {
    val n = toks.numElements()
    val t = new Array[String](n)
    var i = 0
    while (i < n) { t(i) = tokenAt(toks, i, "chunk_hashes"); i += 1 }
    val md = MessageDigest.getInstance("MD5")
    val ns = math.max(n - (k - 1), 0)
    // boundary starts: position 0 always, plus every flagged window start
    val starts = new java.util.ArrayList[Int]
    starts.add(0)
    i = 1
    while (i < ns) {
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(t(j))
        j += 1
      }
      val hex = md5hex(md, sb.toString)
      val h32 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      if (h32 % div == 0) starts.add(i)
      i += 1
    }
    val m = starts.size
    val out = new Array[AnyRef](m)
    i = 0
    while (i < m) {
      val s = starts.get(i)
      val e = if (i + 1 < m) starts.get(i + 1) else n
      val sb = new java.lang.StringBuilder
      var j = s
      while (j < e) {
        if (j > s) sb.append(' ')
        sb.append(t(j))
        j += 1
      }
      out(i) = UTF8String.fromString(md5hex(md, sb.toString))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_chunk_hashes(tokens, k, div)`. */
  case class ChunkHashes(child: Expression, k: Int, div: Int)
      extends Kernel.Function with UnaryLike[Expression] {
    require(k >= 1 && div >= 1, s"chunk_hashes: k and div must be >= 1, got k=$k div=$div")
    override def prettyName: String = "graft_chunk_hashes"
    override def dataType: DataType = Strings
    override protected def typeError: Option[String] =
      textTypeError(prettyName, child.dataType, tokens = true)
    override lazy val replacement: Expression = Kernel.call(TextExpressions,
      "chunkHashesCompute", dataType, Seq(child, Literal(k), Literal(div)))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def chunkHashesNative(toks: Column, k: Int, div: Int): Column =
    Kernel.column(ChunkHashes(expr(toks), k, div))

  /** Contiguous k-token windows joined by single spaces — the native
    * form of the k-shifted-slice `zip_with` reduction the functions
    * layer used to build (functions/Hashing.shingles). Same output;
    * the k-deep lambda tree (duplicated per consumer, paid in
    * analysis + janino time on every fresh plan) becomes one node.
    */
  def shinglesCompute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val ns = math.max(n - (k - 1), 0)
    val out = new Array[AnyRef](ns)
    var i = 0
    while (i < ns) {
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(tokenAt(toks, j, "shingles"))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def shinglesNative(toks: Column, k: Int): Column = {
    require(k >= 1, s"shingles: k must be >= 1, got $k")
    Kernel.column(Kernel.call(this, "shinglesCompute", Strings, Seq(expr(toks), Literal(k))))
  }

  /** Minimum md5 hex over `prefix ‖ shingle` — one native node in
    * place of `array_min(transform(arr, s => md5(concat(...))))`,
    * whose per-seed lambda trees dominate plan-compile time when a
    * signature matrix needs bands × rows of them. Lexicographic min
    * over lowercase hex strings, null on an empty array — exactly the
    * `array_min` convention the HOF form had.
    */
  def minhashCompute(shingles: ArrayData, prefix: UTF8String): UTF8String = {
    val n = shingles.numElements()
    if (n == 0) return null
    val md = MessageDigest.getInstance("MD5")
    val pre = prefix.toString
    var best: String = null
    var i = 0
    while (i < n) {
      val h = md5hex(md, pre + tokenAt(shingles, i, "minhash"))
      if (best == null || h.compareTo(best) < 0) best = h
      i += 1
    }
    UTF8String.fromString(best)
  }

  def minhashNative(shingleArr: Column, prefix: String): Column =
    Kernel.column(Kernel.call(this, "minhashCompute", StringType,
      Seq(expr(shingleArr), Literal(prefix)), nullableResult = true))

  /** Winnowing fingerprint selection (Schleimer et al. 2003) over a
    * document string: md5 hex of every char k-gram, sliding
    * window-min of width w (lexicographic, ≡ `array_min` over hex),
    * distinct mins in first-occurrence order (≡ `array_distinct`).
    * Char positions are Spark `substr` positions (code points via
    * UTF-8 sequence starts) and each gram is hashed as the UTF-8
    * bytes of the substring — bit-identical to
    * `md5(substr(text, i, k) cast binary)` and to DuckDB's
    * `md5(substring(text, i, k))`.
    *
    * One pass per doc with a monotonic-deque ring buffer: O(len)
    * amortized time, O(w) live window state, no L-element gram array
    * materialized — the HOF formulation this replaces built an
    * L-element array of 32-char hex strings and then L window slices
    * per doc, outside whole-stage codegen (615 s of the r12 bench).
    * Empty when the text has fewer than k + w − 1 chars (no full hash
    * window exists).
    */
  def winnowFingerprintsCompute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    // char start offsets (UTF-8 sequence starts) — Spark substr units
    var nChars = 0
    var i = 0
    while (i < nb) {
      i += UTF8String.numBytesForFirstByte(bytes(i))
      nChars += 1
    }
    val offs = new Array[Int](nChars + 1)
    i = 0
    var c = 0
    while (i < nb) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(nChars) = nb
    val ng = nChars - k + 1
    val out = new java.util.LinkedHashSet[String]
    if (ng >= w) {
      val md = MessageDigest.getInstance("MD5")
      // monotonic deque (increasing hex values) in a w+1 ring buffer
      val cap = w + 1
      val qIdx = new Array[Int](cap)
      val qVal = new Array[String](cap)
      var head = 0
      var tail = 0 // absolute counters; ring slot = x % cap
      var g = 0
      while (g < ng) {
        md.reset()
        md.update(bytes, offs(g), offs(g + k) - offs(g))
        val hx = hexOf(md.digest())
        while (tail > head && qVal((tail - 1) % cap).compareTo(hx) >= 0) tail -= 1
        qIdx(tail % cap) = g
        qVal(tail % cap) = hx
        tail += 1
        if (qIdx(head % cap) <= g - w) head += 1
        if (g >= w - 1) out.add(qVal(head % cap))
        g += 1
      }
    }
    val arr = new Array[AnyRef](out.size)
    var j = 0
    val it = out.iterator()
    while (it.hasNext) {
      arr(j) = UTF8String.fromString(it.next())
      j += 1
    }
    new GenericArrayData(arr)
  }

  /** `graft_winnow_fingerprints(text, k, w)`: the distinct winnowing
    * fingerprints of a document string, see [[winnowFingerprintsCompute]].
    */
  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
      extends Kernel.Function with UnaryLike[Expression] {
    require(k >= 1 && w >= 1, s"winnow_fingerprints: k and w must be >= 1, got k=$k w=$w")
    override def prettyName: String = "graft_winnow_fingerprints"
    override def dataType: DataType = Strings
    override protected def typeError: Option[String] =
      textTypeError(prettyName, child.dataType, tokens = false)
    override lazy val replacement: Expression = Kernel.call(TextExpressions,
      "winnowFingerprintsCompute", dataType, Seq(child, Literal(k), Literal(w)))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def winnowFingerprintsNative(text: Column, k: Int, w: Int): Column =
    Kernel.column(WinnowFingerprints(expr(text), k, w))

  /** Generator form of [[winnowFingerprintsCompute]]: streams the
    * distinct fingerprints of one document as rows, one output column
    * `s` (non-nullable).
    *
    * Why a Generator and not `explode(array-expr)`: exploding an
    * expensive array expression triggers `InferFiltersFromGenerate`,
    * whose `size(e) > 0 ∧ isnotnull(e)` guard is pushed below the
    * projection by predicate pushdown with `e` substituted — the
    * fingerprint loop then runs up to 3× per row (twice in the
    * Filter, once in the Project) in the scan stage. The rule matches
    * only `ExplodeBase`/`Inline`, so a custom generator keeps the
    * one-evaluation contract structurally, and no per-doc array is
    * materialized at all.
    */
  case class WinnowPostingsGen(child: Expression, k: Int, w: Int)
      extends UnaryExpression with Generator with CodegenFallback {
    require(k >= 1 && w >= 1, s"winnow_postings: k and w must be >= 1, got k=$k w=$w")

    override def elementSchema: StructType =
      StructType(StructField("s", StringType, nullable = false) :: Nil)

    override def checkInputDataTypes(): TypeCheckResult =
      Kernel.typeCheck(textTypeError("winnow_postings", child.dataType, tokens = false))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val t = child.eval(input)
      if (t == null) Nil
      else {
        val fps = winnowFingerprintsCompute(t.asInstanceOf[UTF8String], k, w)
        val n = fps.numElements()
        val out = new Array[InternalRow](n)
        var i = 0
        while (i < n) {
          out(i) = InternalRow(fps.getUTF8String(i))
          i += 1
        }
        out
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def winnowPostingsNative(text: Column, k: Int, w: Int): Column =
    Kernel.column(WinnowPostingsGen(expr(text), k, w))

  /** [[ShinglePostingsGen]]'s kernel: DISTINCT k-token shingles of a
    * token array, first-occurrence order.
    */
  def shinglePostingsCompute(toks: ArrayData, k: Int): java.util.LinkedHashSet[String] = {
    val n = toks.numElements()
    val ns = math.max(n - (k - 1), 0)
    val out = new java.util.LinkedHashSet[String]
    var i = 0
    while (i < ns) {
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(tokenAt(toks, j, "shingle_postings"))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out
  }

  /** Generator form of `explode(array_distinct(shingles(toks, k)))`:
    * streams the distinct k-token shingles of one document as rows
    * (one non-nullable string column `s`). Same rationale as
    * [[WinnowPostingsGen]]: a pipeline that only consumes shingle
    * POSTINGS (explode → aggregate/join) pays the array
    * materialization for nothing, and `InferFiltersFromGenerate`'s
    * `size/isnotnull` guards re-evaluate the shingle transform inside
    * the scan-stage Filter after predicate-pushdown substitution; the
    * custom generator sidesteps both (the inference rule matches only
    * ExplodeBase/Inline). A doc with fewer than k tokens emits no
    * rows — exactly the rows `size(sh) > 0` kept.
    */
  case class ShinglePostingsGen(child: Expression, k: Int)
      extends UnaryExpression with Generator with CodegenFallback {
    require(k >= 1, s"shingle_postings: k must be >= 1, got $k")

    override def elementSchema: StructType =
      StructType(StructField("s", StringType, nullable = false) :: Nil)

    override def checkInputDataTypes(): TypeCheckResult =
      Kernel.typeCheck(textTypeError("shingle_postings", child.dataType, tokens = true))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val t = child.eval(input)
      if (t == null) Nil
      else {
        val set = shinglePostingsCompute(t.asInstanceOf[ArrayData], k)
        val out = new Array[InternalRow](set.size)
        val it = set.iterator()
        var i = 0
        while (it.hasNext) {
          out(i) = InternalRow(UTF8String.fromString(it.next()))
          i += 1
        }
        out
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def shinglePostingsNative(toks: Column, k: Int): Column =
    Kernel.column(ShinglePostingsGen(expr(toks), k))

  /** Shannon entropy in bits per character over the CODE-POINT
    * histogram of one string (exact integer counts; entropy = log2(n) −
    * Σ c·log2(c) / n). The histogram fits a tiny map (alphabet-sized,
    * not text-sized), so the whole statistic is one pass per row —
    * no per-char explode, no shuffle. Empty input → 0.0.
    */
  def charEntropyCompute(text: UTF8String): Double = {
    val s = text.toString
    if (s.isEmpty) return 0.0
    val m = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      m(cp.toLong) = m.getOrElse(cp.toLong, 0L) + 1L
      i += Character.charCount(cp)
      n += 1L
    }
    val ln2 = Math.log(2.0)
    var acc = 0.0
    m.foreachValue { c => acc += c.toDouble * (Math.log(c.toDouble) / ln2) }
    Math.log(n.toDouble) / ln2 - acc / n.toDouble
  }

  /** Distinct code-point count of one string (same single histogram pass as
    * [[charEntropyCompute]]).
    */
  def charDistinctCompute(text: UTF8String): Long = {
    val s = text.toString
    val m = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      m(cp.toLong) = 1L
      i += Character.charCount(cp)
    }
    m.size.toLong
  }

  /** `graft_char_entropy(text)`: per-row character-level Shannon
    * entropy (double, bits/char) — the gibberish/encoding-corruption
    * quality signal; the array-free alternative to explode-per-char +
    * two keyed aggregations (which would put |chars| rows through a
    * shuffle for a per-row statistic).
    */
  case class CharEntropy(child: Expression) extends Kernel.Function with UnaryLike[Expression] {
    override def prettyName: String = "graft_char_entropy"
    override def dataType: DataType = DoubleType
    override protected def typeError: Option[String] =
      textTypeError(prettyName, child.dataType, tokens = false)
    override lazy val replacement: Expression =
      Kernel.call(TextExpressions, "charEntropyCompute", dataType, Seq(child))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `graft_char_distinct(text)`: per-row distinct code-point count —
    * [[CharEntropy]]'s companion statistic, kept a SEPARATE kernel
    * (not one struct-returning node) so each projected column is
    * exactly one evaluation site under the AuditEval one-evaluation
    * contract.
    */
  case class CharDistinct(child: Expression) extends Kernel.Function with UnaryLike[Expression] {
    override def prettyName: String = "graft_char_distinct"
    override def dataType: DataType = LongType
    override protected def typeError: Option[String] =
      textTypeError(prettyName, child.dataType, tokens = false)
    override lazy val replacement: Expression =
      Kernel.call(TextExpressions, "charDistinctCompute", dataType, Seq(child))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def charEntropyNative(text: Column): Column = Kernel.column(CharEntropy(expr(text)))

  def charDistinctNative(text: Column): Column = Kernel.column(CharDistinct(expr(text)))

  // ---- single-pass multi-pattern PII scrub ----

  /** ONE left-to-right walk of `text` over the ordered alternation
    * `(p1)|(p2)|...` — each match is replaced by the tag of the first
    * alternative matching at the leftmost position and counted per
    * kind. One string scan and ONE rebuilt string serve all kinds,
    * replacing k chained `regexp_replace` walks (k scans, k rebuilds)
    * plus k `regexp_extract_all` counting scans.
    *
    * Semantics vs the chained form (kind-priority: all of p1's
    * matches rewritten before p2 ever scans): identical whenever
    * matches of DISTINCT kinds never overlap in the input — the
    * decorated PII corpus by construction, and the practical scrub
    * case. On a cross-kind overlap the chain lets the higher-priority
    * kind win globally while this pass lets the leftmost win;
    * PiiScrubSpec pins both the equivalence class and the one
    * divergence boundary explicitly, and the registered oracle keeps
    * the CHAINED form, so a corpus ever reaching the boundary fails
    * the hash gate loudly instead of drifting.
    */
  def multiScrubCompute(text: UTF8String, pattern: java.util.regex.Pattern,
      tags: Array[String]): InternalRow = {
    val s = text.toString
    val counts = new Array[Long](tags.length)
    val m = pattern.matcher(s)
    if (!m.find())
      return new GenericInternalRow(Array[Any](text, new GenericArrayData(counts)))
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    var go = true
    while (go) {
      sb.append(s, last, m.start())
      var g = 1
      var hit = 0
      while (hit == 0 && g <= tags.length) {
        if (m.start(g) >= 0) hit = g
        g += 1
      }
      counts(hit - 1) += 1
      sb.append(tags(hit - 1))
      last = m.end()
      go = m.find()
    }
    sb.append(s, last, s.length)
    new GenericInternalRow(Array[Any](UTF8String.fromString(sb.toString),
      new GenericArrayData(counts)))
  }

  /** Single-pass multi-pattern scrub — see [[multiScrubCompute]].
    * `kinds` is the ordered (pattern, tag) priority list; patterns
    * must be group-free (the alternation groups ARE the kind
    * dispatch). Returns struct(redacted string, counts array<long>)
    * so ONE evaluation site feeds both the redaction and the per-kind
    * telemetry (multi-referenced and non-cheap, so CollapseProject
    * keeps it materialized — one walk per row).
    */
  def multiScrubNative(text: Column, kinds: Seq[(String, String)]): Column = {
    require(kinds.nonEmpty && kinds.forall(!_._1.contains("(")),
      "multi_scrub patterns must be group-free (alternation groups are the kind dispatch)")
    val pattern = java.util.regex.Pattern.compile(kinds.map(k => "(" + k._1 + ")").mkString("|"))
    val dataType = StructType(Seq(
      StructField("redacted", StringType, nullable = false),
      StructField("counts", ArrayType(LongType, containsNull = false), nullable = false)))
    Kernel.column(Kernel.call(this, "multiScrubCompute", dataType,
      Seq(expr(text), Kernel.const(pattern), Kernel.const(kinds.map(_._2).toArray))))
  }

  // ---- integer LR sigmoid ----

  /** The micro-unit integer sigmoid of a micro-unit linear sum `s`
    * (z = s DIV 1e6 via one floor division, clamp, table lookup +
    * linear interpolation). Math.floorDiv ≡ the pmod-then-divide
    * construction the DuckDB oracle uses, and the table is the SAME
    * [[graft.operators.TextOps.SigTable]] constants the oracle
    * interpolates as literals — semantics pinned by the QualityLrSpec
    * integer replica and the LR oracles' hash gate.
    */
  private def sigmoidMicros(s: Long, tab: Array[Long], step: Int): Long = {
    val half = (tab.length - 1) / 2
    val lo = -half.toLong * step
    val hi = half.toLong * step - 1
    val z = Math.floorDiv(s, 1000000L)
    val zc = if (z < lo) lo else if (z > hi) hi else z
    val off = zc - lo
    val idx = (off / step).toInt
    val frac = off % step
    tab(idx) + (tab(idx + 1) - tab(idx)) * frac / step
  }

  /** The integer sigmoid of both quality models as ONE tight
    * long-arithmetic call, over an `array<long>` micro-unit feature
    * column (weights = bias +: per-feature): z = (w(0)·1e6 + Σ_b
    * w(b+1)·xs(b)) DIV 1e6, then the clamped table interpolation. The
    * 4-feature model passes its 3 micro features as a 3-slot array;
    * the hashed-n-gram model its 131 slots. No interpreted HOF lambda
    * runs in the hot path (the Column-tree formulation of the 4-feature
    * sigmoid measured ~25% slower across the composed curation
    * pipeline's multiple evaluation sites). Magnitude contract:
    * |w| ≤ ~1e8 after training and xs ≤ 1e6 micro, so each term ≤
    * 1e14 and the 129-term sum ≤ ~1.3e16 ≪ 2^63 — exact in long
    * arithmetic.
    */
  def lrSigmoidVecCompute(xs: ArrayData, w: Array[Long], tab: Array[Long],
      step: Int): Long = {
    var s = w(0) * 1000000L
    var i = 0
    val n = xs.numElements()
    while (i < n) { s += w(i + 1) * xs.getLong(i); i += 1 }
    sigmoidMicros(s, tab, step)
  }

  def lrSigmoidVecNative(xs: Column, w: Array[Long], tab: Array[Long],
      step: Int): Column = {
    require(w.length >= 2, "lr_sigmoid_vec: need bias + at least one weight")
    require(tab.length % 2 == 1 && step >= 1, "lr_sigmoid: need an odd-length table, step >= 1")
    Kernel.column(Kernel.call(this, "lrSigmoidVecCompute", LongType,
      Seq(expr(xs), Kernel.const(w), Kernel.const(tab), Literal(step))))
  }

  /** The hashed-n-gram feature histogram of one document as ONE node:
    * per token and per adjacent token bigram, the md5-hex32 % nb
    * bucket, counted into an nb-long histogram and normalized to
    * round-half-up micro-units of the feature total. Replaces the
    * explode → groupBy(doc, bucket) → groupBy(doc) map-rebuild
    * pipeline (two corpus shuffles plus a self-join of documents) the
    * n-gram classifier's feature build used — the md5 work per feature
    * is unchanged, but no feature row ever leaves its document's task.
    * Bit-identical to the aggregation form: bucket = first 8 md5 hex
    * chars as unsigned int mod nb (CorpusOps.bucket), value =
    * rhu(count·1e6, total-features), absent buckets 0. Null for an
    * empty token array (no features — mirrors the explode/inner-join
    * shape, which drops such a doc; a `split` output is never empty,
    * so the branch is defensive).
    */
  def ngramBucketMicrosCompute(toks: ArrayData, nb: Int): ArrayData = {
    val n = toks.numElements()
    if (n == 0) return null
    val md = MessageDigest.getInstance("MD5")
    val counts = new Array[Long](nb)
    def bump(f: String): Unit = {
      val h32 = java.lang.Long.parseLong(md5hex(md, f).substring(0, 8), 16)
      counts((h32 % nb).toInt) += 1L
    }
    var prev: String = null
    var i = 0
    while (i < n) {
      val t = tokenAt(toks, i, "ngram_bucket_micros")
      bump(t)
      if (prev != null) bump(prev + " " + t)
      prev = t
      i += 1
    }
    val nf = 2L * n - 1L // unigrams + adjacent bigrams
    val out = new Array[Long](nb)
    i = 0
    while (i < nb) {
      // round-half-up of counts(i)·1e6 / nf in exact integer arithmetic
      // — identical to the rhuCol the aggregation pipeline applied
      out(i) = (counts(i) * 2000000L + nf) / (2L * nf)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  def ngramBucketMicrosNative(toks: Column, nb: Int): Column = {
    require(nb >= 1, s"ngram_bucket_micros: nb must be >= 1, got $nb")
    Kernel.column(Kernel.call(this, "ngramBucketMicrosCompute",
      ArrayType(LongType, containsNull = false), Seq(expr(toks), Literal(nb)),
      nullableResult = true))
  }
}
