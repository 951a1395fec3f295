package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass sketch expressions.
  *
  * Both sketches are also expressible with Catalyst higher-order
  * functions (see Dedup.simhashHof / minhashSignatureHof, kept as the
  * tested reference semantics), but the HOF formulations evaluate one
  * interpreted lambda per (element × hash) — 63-64 passes over every
  * token array per row. These expressions make ONE pass over the
  * backing ArrayData with primitive accumulators: at 100 TB the
  * signature computation is the dominant map-side cost of
  * dedup, so constant factors here matter.
  *
  * Hash parity: [[ShingleHashes]] uses XxHash64Function with Spark's
  * default seed 42 — bit-identical to `functions.xxhash64(col)`; the
  * SimHash token hash and the MinHash family are integer-exact, so
  * native and HOF formulations produce identical sketches.
  */
object SketchExpressions {
  val XxSeed = 42L
  val P31 = 2147483647L // Mersenne prime 2^31-1, universal-hash modulus

  /** THE portable code-point polynomial fold — (acc*mult + cp) mod
    * 1e9+7 over the string's code points. Every oracle-replayable
    * hash in this file (PolyFingerprint, PolyShingleHashes, SimHash)
    * must route through this one implementation so they can
    * never drift apart bit-wise.
    */
  def polyFold(s: String, mult: Long): Long = {
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      acc = (acc * mult + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** [[polyFold]] maintaining two accumulators in one pass — the
    * SimHash token hash poly1*2^30 + poly2 without walking
    * the string twice.
    */
  def polyFold2(s: String, mult1: Long, mult2: Long): Long = {
    var a1 = 0L
    var a2 = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      a1 = (a1 * mult1 + cp) % 1000000007L
      a2 = (a2 * mult2 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    a1 * 1073741824L + a2
  }
}

/** Highest occurrence count of any single token in an array<string>
  * — the numerator of the max-token-frequency repetition signal
  * (Gopher-style quality filtering). One hashmap pass; the SQL-
  * expressible twin (max over distinct tokens of a filtered count)
  * is quadratic per document, fine for the oracle, wrong for 100 TB.
  */
case class MaxTokenFreq(child: Expression)
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "max_token_freq"

  def compute(arr: ArrayData): Int = {
    val n = arr.numElements()
    if (n == 0) return 0
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var best = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        val c = counts.merge(t, 1, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Integer.valueOf(compute(v.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cross-engine-portable polynomial rolling hash of a string's code
  * points: acc = (acc * 1000003 + codePoint) mod 1000000007, acc0 = 0.
  * One pass, no per-row allocation beyond the code-point iterator.
  * Unlike the xxhash-based sketches this is reproducible in ANY SQL
  * engine with list folds (the DuckDB oracle computes it with
  * list_reduce over unicode()), so fingerprint queries get a real
  * hash-match oracle instead of a rows-only check. Products stay
  * < 2^62: acc < 1e9+7, base 1e6+3, code point < 0x110000.
  */
case class PolyFingerprint(child: Expression)
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "poly_fingerprint"

  def compute(s: UTF8String): Long =
    SketchExpressions.polyFold(s.toString, 1000003L)

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(compute(v.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct 64-bit hashes of word w-shingles over an array<string>
  * of tokens, in one pass: each window of w tokens is joined with
  * single spaces and xxhash64'd (seed 42 — bit-identical to
  * `xxhash64(array_join(slice(...), " "))`), deduplicated preserving
  * first occurrence (array_distinct semantics). Shorter-than-w token
  * arrays yield one whole-text shingle, matching the HOF twin
  * Dedup.shingleHashesHof it is tested against. The HOF formulation
  * builds every shingle through four interpreted lambdas per row —
  * the dominant map-side cost of every shingle-based dedup.
  */
case class ShingleHashes(child: Expression, w: Int)
    extends UnaryExpression with SelfComputeCodegen {
  import SketchExpressions._

  require(w >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_hashes"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    val nShingles = if (n < w) 1 else n - w + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var s = 0
    while (s < nShingles) {
      val parts: Array[UTF8String] =
        if (n < w) toks else java.util.Arrays.copyOfRange(toks, s, s + w)
      val joined = UTF8String.concatWs(sep, parts: _*)
      seen.add(XxHash64Function.hash(joined, StringType, XxSeed))
      s += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass heuristic language ID over raw text: lowercases,
  * whitespace-tokenizes, counts marker-word hits per language, and
  * returns the argmax (ties break in declaration order, 'und' when
  * nothing hits). Semantics identical to the HOF formulation
  * `TextAnalysis.langId` (asserted in TextAnalysisSpec) — but that
  * tree evaluates its interpreted filter/isin lambdas once per
  * language per comparison (~24 token-array passes per row); this is
  * one pass.
  */
case class LangIdHeuristic(child: Expression,
                           markers: Seq[(String, Seq[String])])
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "lang_id"

  @transient private lazy val langNames: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray

  @transient private lazy val markerSets: Array[java.util.HashSet[String]] =
    markers.map { case (_, ws) =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }.toArray

  // Java regex \s exactly — NOT Character.isWhitespace, which also
  // claims U+001C..1F and would tokenize differently from the HOF twin
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def compute(u: UTF8String): UTF8String = {
    val text = u.toString.toLowerCase
    val counts = new Array[Int](markerSets.length)
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(text.charAt(i))) i += 1
      if (i > start) {
        val tok = text.substring(start, i)
        var l = 0
        while (l < markerSets.length) {
          if (markerSets(l).contains(tok)) counts(l) += 1
          l += 1
        }
      }
    }
    var best = 0
    var l = 1
    while (l < counts.length) {
      if (counts(l) > counts(best)) best = l
      l += 1
    }
    if (counts(best) == 0) UTF8String.fromString("und") else langNames(best)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass TRAINED language-ID scoring over (already-lowercased)
  * text: every char n-gram hashes once with the portable code-point
  * polynomial fold, and its bucket's weight is added to EVERY
  * language's accumulator — array<long> of per-language scores out.
  * Bit-identical to the HOF formulation (per language,
  * aggregate(transform(charGrams(t, n), g ->
  * ws[pmod(polyFingerprint(g), d)]))) asserted in TextAnalysisSpec,
  * but that tree materializes the gram array (one substring per
  * position) and then hashes every gram once PER LANGUAGE through an
  * interpreted lambda chain — ~4x the hash work plus O(len) string
  * allocations per row. Texts shorter than n code points score 0 for
  * every language (the empty-gram-array aggregate). Scores stay far
  * from Long overflow: |w| <= 1e6 and grams/doc bounded by text
  * length.
  */
case class LangProfileScores(child: Expression, profiles: Seq[Seq[Long]],
                             n: Int)
    extends UnaryExpression with SelfComputeCodegen {

  require(n >= 1, "gram width must be >= 1")
  require(profiles.nonEmpty, "need at least one language profile")
  require(profiles.forall(_.length == profiles.head.length),
    "all language profiles must share one bucket count")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "lang_profile_scores"

  @transient private lazy val ws: Array[Array[Long]] =
    profiles.map(_.toArray).toArray
  @transient private lazy val d: Long = profiles.head.length.toLong

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    // code points (surrogate pairs stay whole — the charGrams/substr
    // code-point semantics)
    val cps = new Array[Int](s.length)
    var cpN = 0
    var off = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      cps(cpN) = cp
      cpN += 1
      off += Character.charCount(cp)
    }
    val nLangs = ws.length
    val scores = new Array[Long](nLangs)
    var st = 0
    val last = cpN - n
    while (st <= last) {
      // polyFold over exactly this window's code points — the same
      // (acc*1000003 + cp) mod 1e9+7 PolyFingerprint computes on the
      // materialized gram string
      var acc = 0L
      var j = 0
      while (j < n) {
        acc = (acc * 1000003L + cps(st + j)) % 1000000007L
        j += 1
      }
      val b = (acc % d).toInt // polyFold is non-negative
      var l = 0
      while (l < nLangs) {
        scores(l) += ws(l)(b)
        l += 1
      }
      st += 1
    }
    new GenericArrayData(scores)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-position w-token window MD5 anchors over an array<string> of
  * tokens, one pass: out(i) = lowercase-hex
  * md5(tokens(i..i+w) joined with U+0001) for i = 0..n-w — exactly
  * `transform(sequence(0, n-w), i -> md5(array_join(slice(ts, i+1, w),
  * "\\u0001")))` (null tokens skipped with their separator, the
  * array_join rule), but without the interpreted transform lambda,
  * the per-window slice array and the per-window join string Column
  * chain — the dominant map-side cost of the duplicated-span
  * detector/cutter (one MD5 per token position over the whole
  * corpus). Null and shorter-than-w arrays yield an empty array (the
  * callers' `when(size >= w, …).otherwise(array())` guard, folded in),
  * so the result is never null.
  */
case class WindowAnchorHashes(child: Expression, w: Int)
    extends UnaryExpression with SelfComputeCodegen {

  require(w >= 1, "window width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // Not nullable: generated code then calls `compute` on a null child
  // too, passing the array type's default value, null.
  override def nullable: Boolean = false
  override def prettyName: String = "window_anchor_hashes"

  private val HexChars = "0123456789abcdef".toCharArray

  def compute(arr: ArrayData): ArrayData = {
    val n = if (arr == null) 0 else arr.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val sep = Array[Byte](1)
    val out = new Array[Any](n - w + 1)
    var s = 0
    while (s <= n - w) {
      md.reset()
      var first = true
      var j = s
      while (j < s + w) {
        if (toks(j) != null) {
          if (!first) md.update(sep)
          md.update(toks(j))
          first = false
        }
        j += 1
      }
      val dig = md.digest()
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HexChars((dig(b) >> 4) & 0xF)
        hex(2 * b + 1) = HexChars(dig(b) & 0xF)
        b += 1
      }
      out(s) = UTF8String.fromString(new String(hex))
      s += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Occurrence counts of a LITERAL term list over an array<string> of
  * tokens, one hashmap pass: out(i) = count of tokens equal to
  * terms(i), a repeated term counted at each of its positions.
  * Bit-identical to `size(filter(ts, t -> t = term))` per
  * term (null tokens never match — SQL equality), but that HOF chain
  * re-walks the token array once per (probe, term); a BM25 gate panel
  * probes tens of terms, so the per-doc cost was O(terms · len)
  * interpreted lambdas instead of this single O(len) pass.
  */
case class TermFreqs(child: Expression, terms: Seq[String])
    extends UnaryExpression with SelfComputeCodegen {

  require(terms.nonEmpty, "need at least one term")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "term_freqs"

  // term -> every index it holds in `terms`
  @transient private lazy val idx: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]](terms.length * 2)
    terms.indices.groupBy(terms).foreach { case (t, is) => m.put(t, is.toArray) }
    m
  }

  def compute(arr: ArrayData): ArrayData = {
    val counts = new Array[Int](terms.length)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val js = idx.get(arr.getUTF8String(i).toString)
        if (js != null) {
          var k = 0
          while (k < js.length) {
            counts(js(k)) += 1
            k += 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word w-shingle STRINGS over an array<string> of tokens,
  * one pass, first-occurrence order — the string-keyed sibling of
  * [[ShingleHashes]] for operators whose join keys must stay portable
  * (e.g. cross-engine decontamination). Shorter-than-w arrays yield
  * the whole text as one shingle.
  */
case class ShingleStrings(child: Expression, w: Int)
    extends UnaryExpression with SelfComputeCodegen {

  require(w >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_strings"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    val nShingles = if (n < w) 1 else n - w + 1
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var s = 0
    while (s < nShingles) {
      val parts: Array[UTF8String] =
        if (n < w) toks else java.util.Arrays.copyOfRange(toks, s, s + w)
      seen.add(UTF8String.concatWs(sep, parts: _*))
      s += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of code points belonging to a literal character set — the
  * `length(regexp_replace(text, "[^set]", ""))` idiom without
  * materializing the stripped copy of every document. Counts equal
  * that idiom because length() counts code points.
  */
case class CharSetCount(child: Expression, chars: String)
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "charset_count"

  @transient private lazy val set: java.util.HashSet[Integer] = {
    val s = new java.util.HashSet[Integer]()
    var i = 0
    while (i < chars.length) {
      val cp = chars.codePointAt(i)
      s.add(cp)
      i += Character.charCount(cp)
    }
    s
  }

  def compute(u: UTF8String): Int = {
    val s = u.toString
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (set.contains(cp)) n += 1
      i += Character.charCount(cp)
    }
    n
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Integer.valueOf(compute(v.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of regex matches, without materializing them: the
  * `size(regexp_extract_all(...))` idiom allocates a UTF8String per
  * match plus the array; counting BPE-ish sub-tokens over a corpus
  * only needs the matcher loop. Same java.util.regex engine as
  * Spark's regexp functions, so counts are identical.
  */
case class RegexpCount(child: Expression, pattern: String)
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "regexp_count"

  @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)

  def compute(s: UTF8String): Int = {
    val m = compiled.matcher(s.toString)
    var n = 0
    while (m.find()) n += 1
    n
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Integer.valueOf(compute(v.asInstanceOf[UTF8String]))

  // real codegen so the projection keeps whole-stage codegen (see
  // TokenStats)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass token statistics over an array<string>: token count,
  * stopword hits, and summed character lengths as a single struct —
  * replaces three interpreted HOF passes (size + filter/isin +
  * aggregate) per row in the text-quality pipeline. Length = numChars,
  * matching `functions.length`; stopword match is exact UTF8String
  * equality, matching `isin`.
  */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "token_stats"

  // real doGenCode (not CodegenFallback): a fallback expression would
  // kick the whole projection out of whole-stage codegen, losing
  // common-subexpression elimination of the (expensive) split child
  // shared across the text metrics
  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    var nStop = 0
    var sumLen = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (stopSet.contains(t)) nStop += 1
        sumLen += t.numChars()
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n, nStop, sumLen)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprints over the portable polynomial shingle hash,
  * in ONE pass: w-token shingles are poly-hashed (same recurrence as
  * [[PolyFingerprint]] over the space-joined shingle string), a
  * sliding window of `window` hashes keeps each window's minimum, and
  * the distinct minima come back sorted ascending — semantics
  * identical to TextAnalysis.winnowingFingerprintsPoly's HOF
  * formulation (asserted in tests) and to the DuckDB oracle. The HOF
  * pipeline evaluates ~3 interpreted lambdas per (shingle x window)
  * — minutes at sf0.1; this is linear with primitive ops.
  */
case class PolyWinnowFingerprints(child: Expression, w: Int, window: Int)
    extends UnaryExpression with SelfComputeCodegen {

  require(w >= 1 && window >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "poly_winnow_fingerprints"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    val m = if (n < w) 1 else n - w + 1
    val hs = new Array[Long](m)
    val sb = new java.lang.StringBuilder
    var s = 0
    while (s < m) {
      sb.setLength(0)
      val end = if (n < w) n else s + w
      var j = s
      if (n < w) { j = 0 }
      var first = true
      while (j < end) {
        if (!first) sb.append(' ')
        sb.append(toks(j))
        first = false
        j += 1
      }
      hs(s) = SketchExpressions.polyFold(sb.toString, 1000003L)
      s += 1
    }
    val mins = new java.util.TreeSet[java.lang.Long]()
    if (m <= window) {
      var mn = Long.MaxValue
      var k = 0
      while (k < m) { if (hs(k) < mn) mn = hs(k); k += 1 }
      mins.add(mn)
    } else {
      // sliding-window min via the standard monotonic deque
      val deque = new java.util.ArrayDeque[Int]()
      var k = 0
      while (k < m) {
        while (!deque.isEmpty && hs(deque.peekLast()) >= hs(k)) deque.pollLast()
        deque.addLast(k)
        if (deque.peekFirst() <= k - window) deque.pollFirst()
        if (k >= window - 1) mins.add(hs(deque.peekFirst()))
        k += 1
      }
    }
    val out = new Array[Long](mins.size)
    val it = mins.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 63-bit SimHash over an array<string> of tokens (bit 63 clear so
  * the sum of powers stays in a signed long). Each token hashes to
  * poly1(t) * 2^30 + poly2(t) (code-point polynomial folds with
  * multipliers 1000003 / 1000033, both mod 1e9+7) — ~60 populated
  * bits, every step integer-exact, so an external SQL engine
  * recomputes the per-bit votes, the signature, and Hamming
  * distances verbatim.
  */
case class SimHash(child: Expression)
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash"

  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val balance = new Array[Int](63)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = SketchExpressions.polyFold2(arr.getUTF8String(i).toString, 1000003L, 1000033L)
        var b = 0
        while (b < 63) {
          if (((h >>> b) & 1L) == 1L) balance(b) += 1 else balance(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 63) {
      if (balance(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(compute(v.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[ShingleHashes]] with the portable code-point polynomial hash
  * (PolyFingerprint's loop) in place of xxhash64: distinct hashes of
  * the space-joined w-shingles, first-occurrence order, one pass.
  * Values lie in [0, 1e9+7) — below the minhash modulus P31, so any
  * SQL engine replays shingling, minhashing and banding exactly
  * (list folds over unicode code points — see the DuckDB oracle for
  * dedup_minhash_lsh).
  */
case class PolyShingleHashes(child: Expression, w: Int)
    extends UnaryExpression with SelfComputeCodegen {

  require(w >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "poly_shingle_hashes"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    val nShingles = if (n < w) 1 else n - w + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var s = 0
    while (s < nShingles) {
      val parts: Array[UTF8String] =
        if (n < w) toks else java.util.Arrays.copyOfRange(toks, s, s + w)
      seen.add(SketchExpressions.polyFold(
        UTF8String.concatWs(sep, parts: _*).toString, 1000003L))
      s += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document bucket histogram of portable polynomial w-shingle
  * hashes: counts of `polyFold(shingle) mod buckets` over ALL shingle
  * occurrences (no dedup — this is a histogram, not a set), emitted
  * as array<struct<b,k>> in ascending bucket order. Bit-identical
  * cells — values AND order — to the sort_array + run-length-encode
  * HOF formulation in TextAnalysis (the DSIR feature extraction the
  * DuckDB oracle replays), but in ONE pass with a primitive
  * long[buckets] accumulator instead of an O(L log L) sort plus two
  * struct-building lambdas and a try_element_at per element.
  * Shorter-than-w docs contribute their single whole-text shingle
  * (Dedup.shingles semantics). The per-call long[buckets] is a few
  * KB of TLAB churn per row — noise next to the string hashing it
  * sits beside, and thread-safe without shared state.
  */
case class ShingleBucketCounts(child: Expression, w: Int, buckets: Int)
    extends UnaryExpression with SelfComputeCodegen {

  require(w >= 1, "shingle width must be >= 1")
  require(buckets > 0 && buckets <= (1 << 22), "buckets must be in [1, 2^22]")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("b", LongType, nullable = false),
      StructField("k", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_bucket_counts"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    val cnt = new Array[Long](buckets)
    val nShingles = if (n < w) 1 else n - w + 1
    var nonzero = 0
    var s = 0
    while (s < nShingles) {
      val parts: Array[UTF8String] =
        if (n < w) toks else java.util.Arrays.copyOfRange(toks, s, s + w)
      val h = SketchExpressions.polyFold(
        UTF8String.concatWs(sep, parts: _*).toString, 1000003L)
      val b = (h % buckets).toInt // polyFold is non-negative
      if (cnt(b) == 0L) nonzero += 1
      cnt(b) += 1L
      s += 1
    }
    val out = new Array[Any](nonzero)
    var b = 0
    var j = 0
    while (b < buckets) {
      if (cnt(b) != 0L) {
        out(j) = org.apache.spark.sql.catalyst.InternalRow(b.toLong, cnt(b))
        j += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature over an array<long> of (64-bit) element hashes:
  * sig_j = min over elements of (a_j * fold31(x) + b_j) mod P31,
  * identical math to the HOF formulation in Dedup.minhashSignatureHof
  * for any array with at least one non-null element. The (a_j, b_j)
  * are closed-form — a_j = ((j+1)*1000003 + 12345) mod P31,
  * b_j = ((j+1)*999983 + 54321) mod P31 — so any SQL engine
  * recomputes the family; values stay < P31 and a_j is nonzero.
  * Documented divergence on degenerate input (unreachable via
  * shingleHashes but exposed through the SQL-registered
  * `minhash_signature`): an empty array or an all-null array yields
  * NULL here, where the HOF twin yields an array of numHashes nulls
  * (array_min over no values). NULL is the saner contract for "no
  * signature computable".
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with SelfComputeCodegen {
  import SketchExpressions._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  @transient private lazy val params: Array[(Long, Long)] =
    Array.tabulate(numHashes)(j =>
      (((j + 1).toLong * 1000003L + 12345L) % P31,
        ((j + 1).toLong * 999983L + 54321L) % P31))

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var seen = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen += 1
        val x = arr.getLong(i)
        // pmod(x, P31): fold the 64-bit hash into [0, P31)
        val m = x % P31
        val x31 = if (m < 0) m + P31 else m
        var j = 0
        while (j < numHashes) {
          val (a, b) = params(j)
          val h = (a * x31 + b) % P31  // a,x31 < 2^31 so a*x31+b < 2^62
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (seen == 0) null else new GenericArrayData(sig)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  // compute returns null on empty / all-null input
  override protected def computeMayReturnNull: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All LSH table buckets in one pass: for `tables` independent sets
  * of `numPlanes` planes each, computes every projection in a single
  * loop over the vector and packs sign bits into a long per table.
  * The planes are a Rademacher (+/-1) family over 2^20-quantized
  * vector entries: plane (t,p) entry i
  * derives its sign from a QUADRATIC mix of the flat index
  * idx = (t*numPlanes+p)*dim + i —
  *   h1 = (h0^2 mod P * 1000003 + 54321) mod P,  h0 = (idx+12345) mod P
  *   sign(+) iff (h1^2 mod P) even,              P = 1e9+7
  * (an affine-in-idx parity was measured to correlate planes so
  * badly that 6-bit tables collapsed to 2-16 distinct buckets and
  * the candidate join blew up ~20x; squaring twice breaks the
  * affine structure — 64/64 buckets, near-uniform, on the test
  * corpus). The projection is the exact integer sum of signed
  * floor(x_i * 2^20) values: no floats in the bucket decision, so
  * any SQL engine computes identical buckets — making LSH ANN
  * candidate generation oracle-checkable. Signed random projections
  * need sign symmetry, not normality, so +/-1 planes hold the recall
  * of Gaussian ones.
  */
case class RademacherBuckets(child: Expression, dim: Int, numPlanes: Int,
                             tables: Int)
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rademacher_buckets"

  // signs(t*numPlanes+p)(i) in {+1,-1}
  @transient private lazy val signs: Array[Array[Int]] = {
    val out = new Array[Array[Int]](tables * numPlanes)
    var t = 0
    while (t < tables) {
      var p = 0
      while (p < numPlanes) {
        val row = new Array[Int](dim)
        var i = 0
        while (i < dim) {
          val idx = (t.toLong * numPlanes + p) * dim + i
          val h0 = (idx + 12345L) % 1000000007L
          val h1 = (h0 * h0 % 1000000007L * 1000003L + 54321L) % 1000000007L
          val h2 = h1 * h1 % 1000000007L
          row(i) = if (h2 % 2 == 0) 1 else -1
          i += 1
        }
        out(t * numPlanes + p) = row
        p += 1
      }
      t += 1
    }
    out
  }

  def compute(arr: ArrayData): ArrayData = {
    val n = math.min(arr.numElements(), dim)
    val nPlanes = tables * numPlanes
    val proj = new Array[Long](nPlanes)
    var i = 0
    while (i < n) {
      // exact in both engines: float -> double is exact, floor is exact
      val q = math.floor(arr.getFloat(i).toDouble * 1048576.0).toLong
      var p = 0
      while (p < nPlanes) {
        proj(p) += (if (signs(p)(i) > 0) q else -q)
        p += 1
      }
      i += 1
    }
    val buckets = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var b = 0L
      var p = 0
      while (p < numPlanes) {
        if (proj(t * numPlanes + p) >= 0) b |= (1L << p)
        p += 1
      }
      buckets(t) = b
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buckets)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Packed folded character-count signature for the edit-join verify
  * prefilter: 16 nibble lanes in one long, lane = codePoint & 15,
  * each lane the SATURATING (cap 15) count of the string's code
  * points landing in it. The L1 distance between two signatures
  * (computed caller-side from pure shift/mask/abs builtins) lower-
  * bounds Σ_c |f_a(c) − f_b(c)| — one edit operation changes at most
  * two unit counts, so L1(sig_a, sig_b) ≤ 2·ed(a, b): `L1 ≤ 2d` is a
  * NECESSARY condition for ed ≤ d, rejecting candidates for a few
  * integer ops before the O(len·d) banded Levenshtein runs. Folding
  * and saturation only ever SHRINK the L1 (|min(x,15) − min(y,15)| ≤
  * |x − y|; triangle inequality over folded classes), so the filter
  * is always sound — it can pass a non-match (Levenshtein rejects
  * it) but never drop a match.
  */
case class CharCountSig(child: Expression)
    extends UnaryExpression with SelfComputeCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "charcount_sig"

  def compute(u: UTF8String): Long = {
    val s = u.toString
    var sig = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val shift = (cp & 15) << 2
      if (((sig >>> shift) & 15L) < 15L) sig += 1L << shift
      i += Character.charCount(cp)
    }
    sig
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(compute(v.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
