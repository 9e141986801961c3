package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels for the native signature expressions. Public so generated
  * code can call them: `doGenCode` emits a plain static-method call, which
  * keeps the whole-stage-codegen pipeline intact (the JIT sees one tight
  * loop per row instead of a tree of interpreted higher-order functions).
  */
object SigKernels {

  val Seed = 42L // same default seed as Spark's xxhash64 builtin

  /** The MinHash modulus p = 2³² + 15, the least prime above 2³² (not a
    * Mersenne prime). Shared by the HOF reference
    * ([[graft.ops.Dedup.minhashSignature]]) and the native kernels;
    * [[modMinHashPrime]] is exact for this value only.
    */
  val MinHashPrime = 4294967311L

  /** `x mod MinHashPrime` for 0 ≤ x < 2⁵², without a division. Since
    * 2³² ≡ −15 (mod p), x = q·2³² + r reduces to y = r − 15q; q < 2²⁰ puts
    * y in (−2²⁴, 2³²), and adding p to a negative y lands it in [0, p).
    * Correct ONLY for p = 2³² + 15 and x < 2⁵², which the MinHash affine
    * step `a·h + b` (a, b < 2²⁰, h < 2³²) guarantees.
    */
  def modMinHashPrime(x: Long): Long = {
    val y = (x & 0xFFFFFFFFL) - 15L * (x >>> 32)
    y + ((y >> 63) & MinHashPrime)
  }

  /** The first `n` values of `hs` as an array value, copied once and
    * unboxed (a `GenericArrayData` boxes every long).
    */
  private def longArray(hs: Array[Long], n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(hs, Platform.LONG_ARRAY_OFFSET, n, 8)

  /** One-pass MinHash: k minima of affine permutations of the token hashes.
    * ~k·n multiply-adds per row in a JIT-friendly loop; the HOF equivalent
    * (k array_min∘transform passes) allocates k intermediate arrays.
    */
  def minhash(tokens: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUTF8String(s, Seed) & 0xFFFFFFFFL
        var j = 0
        while (j < k) {
          val v = modMinHashPrime(a(j) * h + b(j))
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    longArray(mins, k)
  }

  /** [[minhash]] over PRE-HASHED grams (`array<bigint>` from
    * [[hashSortedDistinct]] or [[hashedShingles]]): the gram values ARE
    * `XXH64(token, Seed)`, the exact quantity [[minhash]] computes per token
    * before masking — so the signatures are bit-identical to the string
    * path, with the string hashing paid once upstream instead of once per
    * signature. (Dedup and ordering don't matter: min is order-independent
    * and duplicate-blind.)
    */
  def minhashLongs(grams: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = grams.numElements()
    var i = 0
    while (i < n) {
      // null slots skipped like the string kernel skips null tokens —
      // getLong on a null slot reads an undefined value (the SQL surface
      // accepts array<bigint> with nulls, not just hash_sorted_distinct's
      // containsNull=false output)
      if (!grams.isNullAt(i)) {
        val h = grams.getLong(i) & 0xFFFFFFFFL
        var j = 0
        while (j < k) {
          val v = modMinHashPrime(a(j) * h + b(j))
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    longArray(mins, k)
  }

  /** Packed sign-bit LSH signature: bit `p` set when `vec · plane_p > 0`.
    * Planes are flattened row-major (`numPlanes × dim`); one fused pass over
    * the vector per plane in a JIT-friendly loop. The HOF equivalent is
    * `numPlanes` interpreted `aggregate(zip_with(...))` trees per row with no
    * CSE — measured as the dominant cost of hyperplane-LSH candidate gen.
    * Vector elements are assumed non-null (dense embeddings).
    */
  def signBits(vec: ArrayData, planes: Array[Double], numPlanes: Int, isFloat: Boolean): Long = {
    val dim = planes.length / numPlanes
    if (vec.numElements() != dim)
      throw new IllegalArgumentException(
        s"signbit_signature: vector has ${vec.numElements()} dims, planes have $dim")
    val n = dim
    var out = 0L
    var p = 0
    while (p < numPlanes) {
      val off = p * dim
      var d = 0.0
      var i = 0
      if (isFloat) {
        while (i < n) { d += vec.getFloat(i) * planes(off + i); i += 1 }
      } else {
        while (i < n) { d += vec.getDouble(i) * planes(off + i); i += 1 }
      }
      if (d > 0) out |= (1L << p)
      p += 1
    }
    out
  }

  /** Distinct word n-gram shingles in one pass: whitespace tokenization
    * (Java regex `\s` class: space, \t, \n, \x0B, \f, \r — matching
    * `split(text, "\\s+")`), n-token windows joined by single spaces,
    * first-occurrence-order dedup. Contract-identical to the staged HOF
    * formulation (`array_distinct` over `transform`+`slice`+`concat_ws`),
    * which re-evaluates its interpreted tree wherever the plan branches —
    * shingling was the dominant cost of every near-dup pipeline.
    */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    val len = s.length
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    // tokenize: (start, end) slices of non-whitespace runs
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(s.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val k = starts.size()
    if (k == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    if (k <= n) {
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(s, starts.get(j), ends.get(j))
        j += 1
      }
      out.add(sb.toString)
    } else {
      var st = 0
      while (st <= k - n) {
        sb.setLength(0)
        var j = st
        while (j < st + n) {
          if (j > st) sb.append(' ')
          sb.append(s, starts.get(j), ends.get(j))
          j += 1
        }
        out.add(sb.toString)
        st += 1
      }
    }
    val arr = new Array[Any](out.size())
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(arr)
  }

  /** Fused cosine similarity: dot product and both norms in ONE pass over
    * the pair, bit-identical to the staged HOF formulation (sequential
    * double accumulation, `0.0` on a zero norm). The HOF tree is three
    * interpreted aggregate passes per pair — the dominant cost of all-pairs
    * similarity sweeps.
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    // embeddings are fixed-dim: a length mismatch is a mis-wired column or
    // query, and silently scoring the common prefix would mask it
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: vectors have ${a.numElements()} vs ${b.numElements()} dims")
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0) 0.0 else dot / d
  }

  /** Fraction of n-gram occurrences taken by the most frequent n-gram,
    * fused from the raw text in one pass (tokenize → count n-gram multiset
    * in a hash map → max/total). Same values as the staged HOF formulation
    * (`Corpus.topNgramFraction` over `Corpus.ngrams`): exact
    * integer-over-integer division, 0.0 when fewer than `n` tokens.
    */
  def topNgramFraction(text: UTF8String, n: Int): Double = {
    val s = text.toString
    val len = s.length
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(s.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val k = starts.size()
    if (k < n) return 0.0
    val total = k - n + 1
    val counts = new java.util.HashMap[String, Int](total * 2)
    val sb = new java.lang.StringBuilder()
    var best = 0
    var st = 0
    while (st < total) {
      sb.setLength(0)
      var j = st
      while (j < st + n) {
        if (j > st) sb.append(' ')
        sb.append(s, starts.get(j), ends.get(j))
        j += 1
      }
      val g = sb.toString
      val c = counts.merge(g, 1, Integer.sum)
      if (c > best) best = c
      st += 1
    }
    best.toDouble / total
  }

  /** Exact Jaccard of two SORTED distinct string arrays via linear merge
    * intersection — no per-pair hash sets. Caller must pre-sort each side
    * once (`sort_array`, binary UTF8 order — the same `compareTo` used
    * here); verification sweeps evaluate this per candidate pair, so the
    * per-pair cost is what near-dup wall time is made of.
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = jaccardSortedMin(a, b, 0.0)

  /** As [[jaccardSorted]], with a threshold-aware EARLY EXIT: once the
    * best-possible Jaccard (all remaining elements matching) falls below
    * `minJ`, returns 0.0 — exact under a `jaccard >= minJ` filter, since the
    * pair cannot pass and 0.0 < minJ. Survivors compute the exact value.
    * Near-miss candidates (most of what banding/prefix filters emit) exit
    * within a few merge steps.
    */
  def jaccardSortedMin(a: ArrayData, b: ArrayData, minJ: Double): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val maxInter = inter + math.min(na - i, nb - j)
      // conservative bound: IEEE products overshoot exact integer values
      // (0.28 * 25 = 7.000000000000001), which would falsely exit on a
      // boundary-exact pair — relative+absolute epsilon covers any
      // magnitude and only ever keeps merging longer
      if (maxInter < minJ * (na + nb - maxInter) * (1 - 1e-12) - 1e-9) return 0.0
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** [[jaccardSortedMin]] over SORTED distinct `array<bigint>` — the
    * hashed-gram fast path: an 8-byte long compare per merge step instead
    * of a UTF8 byte scan, fed by arrays that were cheap to shuffle.
    */
  def jaccardSortedLongMin(a: ArrayData, b: ArrayData, minJ: Double): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val maxInter = inter + math.min(na - i, nb - j)
      if (maxInter < minJ * (na + nb - maxInter) * (1 - 1e-12) - 1e-9) return 0.0
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Hash every element of a string array to xxhash64 (same seed as the
    * builtin), sort ascending, drop duplicates — one kernel call replacing
    * `array_distinct(transform(arr, xxhash64))` + a later `sort_array`.
    * The HOF `transform` is interpreted per element (lambda eval, no
    * codegen) and measured 3.5× the cost of the shingling it followed; this
    * is a primitive-long sort in a tight loop. Output order is the hashed
    * order, NOT the string order — callers must rank/merge in ONE
    * consistent order, which any injective relabeling provides.
    */
  def hashSortedDistinct(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = XXH64.hashUTF8String(arr.getUTF8String(i), Seed)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    longArray(hs, w)
  }

  /** `hashSortedDistinct(wordShingles(text, n))` without a `String`: the
    * sorted distinct `XXH64(shingle, Seed)` of every n-token window (the
    * whole token sequence when there are at most `n` tokens; empty for
    * blank text), hashed from the UTF-8 bytes in place. A window whose
    * tokens are separated by single spaces IS its shingle's bytes, so it is
    * hashed as a slice of the text; any other window is joined with single
    * spaces into one reused buffer first. Text that is not valid UTF-8 goes
    * through the two string kernels, whose decoding replaces each invalid
    * sequence with U+FFFD and so changes the bytes that get hashed.
    */
  def hashedShingles(text: UTF8String, n: Int): ArrayData = {
    if (!text.isValid) return hashSortedDistinct(wordShingles(text, n))
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val tk = new ByteTokens(base, off, text.numBytes)
    val k = tk.count
    if (k == 0) return longArray(Array.emptyLongArray, 0)
    val w = math.min(n, k)
    // badGaps(j): separators among the first j gaps that are not one ' '
    val badGaps = new Array[Int](k)
    var j = 1
    while (j < k) {
      val e = tk.ends(j - 1)
      val single = tk.starts(j) == e + 1 && Platform.getByte(base, off + e) == ' '
      badGaps(j) = badGaps(j - 1) + (if (single) 0 else 1)
      j += 1
    }
    val hs = new Array[Long](k - w + 1)
    var buf: Array[Byte] = null
    var st = 0
    while (st < hs.length) {
      val last = st + w - 1
      val from = tk.starts(st)
      if (badGaps(last) == badGaps(st)) {
        hs(st) = XXH64.hashUnsafeBytes(base, off + from, tk.ends(last) - from, Seed)
      } else {
        if (buf == null) buf = new Array[Byte](text.numBytes)
        var len = 0
        j = st
        while (j <= last) {
          if (j > st) { buf(len) = ' '; len += 1 }
          val tl = tk.ends(j) - tk.starts(j)
          Platform.copyMemory(base, off + tk.starts(j), buf, Platform.BYTE_ARRAY_OFFSET + len, tl)
          len += tl
          j += 1
        }
        hs(st) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
      }
      st += 1
    }
    java.util.Arrays.sort(hs)
    var d = 0
    st = 0
    while (st < hs.length) {
      if (d == 0 || hs(st) != hs(d - 1)) { hs(d) = hs(st); d += 1 }
      st += 1
    }
    longArray(hs, d)
  }

  /** The five measures of [[graft.ops.Corpus.withQualitySignals]] from one
    * tokenizing scan and one line/symbol scan of the UTF-8 bytes, as
    * `(token_count, top_ngram_frac, mean_word_len, dup_line_frac,
    * symbol_ratio)` — the same values as the HOF formulations, IEEE
    * division included:
    *   - tokens are maximal runs of bytes outside ASCII `[ \t\n\x0B\f\r]`
    *     (`array_remove(split(t, "\\s+"), "")`);
    *   - `mean_word_len` sums `numChars` over the tokens (the UTF-8 lead
    *     bytes among them);
    *   - `top_ngram_frac` is [[topNgramFraction]]: the most frequent
    *     `n`-token window's count over the window count, 0.0 below `n`
    *     tokens;
    *   - lines are `split(t, "\n")` with trailing empty lines kept,
    *     compared byte by byte;
    *   - symbols are the leftmost non-overlapping matches of `#|…|\.\.\.`.
    * Tokens, windows (as token-id runs) and lines are counted through
    * [[SliceIds]], which compares bytes, so no `String` is built. Text that
    * is not valid UTF-8 is decoded and re-encoded once first: the `String`
    * path of `split` and `regexp_extract_all` sees every invalid sequence as
    * U+FFFD, and so does the scan of the re-encoded bytes.
    *
    * A sixth field, `keep`, is [[graft.ops.Corpus.gopherKeep]] of the first
    * three at its default thresholds, so a filter on it reads one field of
    * one kernel call.
    */
  def qualitySignals(text: UTF8String, n: Int): InternalRow = {
    val t = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val len = t.numBytes
    val tk = new ByteTokens(base, off, len)
    val k = tk.count
    val topNgram =
      if (k < n) 0.0
      else {
        val words = new SliceIds(base, off, k)
        val ids = new Array[Int](k)
        var j = 0
        while (j < k) { ids(j) = words.id(tk.starts(j), tk.ends(j) - tk.starts(j)); j += 1 }
        val total = k - n + 1
        val grams = new SliceIds(ids, Platform.INT_ARRAY_OFFSET, total)
        val counts = new Array[Int](total)
        var best = 0
        j = 0
        while (j < total) {
          val g = grams.id(4 * j, 4 * n)
          counts(g) += 1
          if (counts(g) > best) best = counts(g)
          j += 1
        }
        best.toDouble / total
      }
    val lines = new SliceIds(base, off, tk.newlines + 1)
    var symbols = 0
    var lineStart = 0
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (b == '\n') {
        lines.id(lineStart, i - lineStart)
        lineStart = i + 1
      } else if (b == '#') symbols += 1
      else if (i + 2 < len && (
          (b == '.' && Platform.getByte(base, off + i + 1) == '.' &&
            Platform.getByte(base, off + i + 2) == '.') ||
          (b == 0xE2.toByte && Platform.getByte(base, off + i + 1) == 0x80.toByte &&
            Platform.getByte(base, off + i + 2) == 0xA6.toByte))) {
        symbols += 1
        i += 2
      }
      i += 1
    }
    lines.id(lineStart, len - lineStart)
    val numLines = tk.newlines + 1
    val meanLen = if (k == 0) 0.0 else tk.chars.toDouble / k
    new GenericInternalRow(Array[Any](
      k,
      topNgram,
      meanLen,
      (numLines - lines.size).toDouble / numLines,
      if (k == 0) 0.0 else symbols.toDouble / k,
      k >= GopherMinTokens && k <= GopherMaxTokens && topNgram < GopherMaxRepetition &&
        meanLen >= GopherMinMeanWordLen && meanLen <= GopherMaxMeanWordLen))
  }

  /** [[graft.ops.Corpus.gopherKeep]]'s default thresholds, which the `keep`
    * field of [[qualitySignals]] applies.
    */
  val GopherMinTokens = 20
  val GopherMaxTokens = 1000000
  val GopherMaxRepetition = 0.05
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0

  /** What the HOF formulations give for a null text: every measure null,
    * or under `legacySizeOfNull` (`size(null)` = −1) the values that −1
    * sizes produce — token_count −1, dup_line_frac 0/−1 = −0.0,
    * symbol_ratio −1/−1 = 1.0, and `keep` false (−1 tokens is out of range).
    */
  def nullTextQuality(legacySizeOfNull: Boolean): InternalRow =
    new GenericInternalRow(
      if (legacySizeOfNull) Array[Any](-1, null, null, -0.0, 1.0, false)
      else new Array[Any](6))

  /** Index of the nearest centroid by squared L2, centroids flattened
    * row-major (`k × dim`); ties keep the smaller index (matching the HOF
    * `array_min` over (dist, cell) structs). One fused pass per row — the
    * HOF formulation is `k` interpreted `aggregate(zip_with(...))` trees
    * with no CSE, and dominates every k-means assignment sweep.
    */
  def nearestCentroid(vec: ArrayData, cents: Array[Double], k: Int, isFloat: Boolean): Int = {
    val dim = cents.length / k
    // fail loud on a dimension mismatch: silently scoring a prefix would
    // mask a mis-wired centroid table (and the HOF formulation degenerates
    // to index 0 via null-padding — neither answer is meaningful)
    if (vec.numElements() != dim)
      throw new IllegalArgumentException(
        s"nearest_centroid: vector has ${vec.numElements()} dims, centroids have $dim")
    val n = dim
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      val off = c * dim
      var d = 0.0
      var i = 0
      if (isFloat) {
        while (i < n) { val t = vec.getFloat(i) - cents(off + i); d += t * t; i += 1 }
      } else {
        while (i < n) { val t = vec.getDouble(i) - cents(off + i); d += t * t; i += 1 }
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Indices of the `n` nearest centroids by squared L2, ascending by
    * (distance, index) — deterministic tie-break on the smaller index, so
    * identical vectors always get identical probe sets (the IVF pair
    * operator's recall-floor guarantee rests on it). One fused pass with an
    * insertion-sorted top-n (n ≤ k, typically 2–8): O(k·dim + k·n).
    */
  def nearestCentroidsN(
      vec: ArrayData, cents: Array[Double], k: Int, n: Int, isFloat: Boolean): ArrayData = {
    val dim = cents.length / k
    if (vec.numElements() != dim)
      throw new IllegalArgumentException(
        s"nearest_centroids: vector has ${vec.numElements()} dims, centroids have $dim")
    val m = math.min(n, k)
    val topD = Array.fill(m)(Double.MaxValue)
    val topI = new Array[Int](m)
    var c = 0
    while (c < k) {
      val off = c * dim
      var d = 0.0
      var i = 0
      if (isFloat) {
        while (i < dim) { val t = vec.getFloat(i) - cents(off + i); d += t * t; i += 1 }
      } else {
        while (i < dim) { val t = vec.getDouble(i) - cents(off + i); d += t * t; i += 1 }
      }
      // strict < keeps the earlier (smaller) index on equal distances
      if (d < topD(m - 1)) {
        var j = m - 1
        while (j > 0 && d < topD(j - 1)) {
          topD(j) = topD(j - 1); topI(j) = topI(j - 1); j -= 1
        }
        topD(j) = d; topI(j) = c
      }
      c += 1
    }
    new GenericArrayData(topI)
  }

  /** Per-position xxhash64 of every w-token window of the text: element `p`
    * is `XXH64(tokens[p..p+w) joined by ' ')` — order-preserving, duplicates
    * kept (unlike [[wordShingles]], positions matter here: the consumer masks
    * spans). Texts with fewer than `w` tokens have NO windows (empty array) —
    * substring-level dedup owns spans, whole short documents belong to exact
    * dedup. One pass; the HOF spelling (`transform(sequence(...),
    * xxhash64(concat_ws(slice(...))))`) is interpreted per position with no
    * CSE and allocates a window string per element.
    */
  def windowHashes(text: UTF8String, w: Int): ArrayData = {
    val s = text.toString
    val len = s.length
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(s.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val k = starts.size()
    if (k < w) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](k - w + 1)
    val sb = new java.lang.StringBuilder()
    var st = 0
    while (st <= k - w) {
      sb.setLength(0)
      var j = st
      while (j < st + w) {
        if (j > st) sb.append(' ')
        sb.append(s, starts.get(j), ends.get(j))
        j += 1
      }
      out(st) = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), Seed)
      st += 1
    }
    new GenericArrayData(out)
  }

  /** Rebuild a text with every token covered by a repeated window removed:
    * token `j` is dropped iff some position `p` in `positions` has
    * `p <= j < p + w`. Returns `(clean, removed)` where `clean` is the KEPT
    * tokens joined by single spaces (uniform space normalization — masked
    * and unmasked documents get the same reconstruction) and `removed` is
    * the dropped-token count. Positions may arrive unsorted (they come from
    * `collect_list`); sorted here, then coverage is a linear merge
    * (`O(n + r log r)`). Out-of-range positions are harmless.
    */
  def maskCovered(text: UTF8String, positions: ArrayData, w: Int): InternalRow = {
    val s = text.toString
    val len = s.length
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(s.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val k = starts.size()
    val np = positions.numElements()
    val ps = new Array[Int](np)
    i = 0
    while (i < np) { ps(i) = positions.getInt(i); i += 1 }
    java.util.Arrays.sort(ps)
    val sb = new java.lang.StringBuilder()
    var removed = 0
    var pi = 0
    var coverEnd = -1 // exclusive token-index end of the merged coverage so far
    var j = 0
    var first = true
    while (j < k) {
      while (pi < np && ps(pi) <= j) {
        val e = ps(pi) + w
        if (e > coverEnd) coverEnd = e
        pi += 1
      }
      if (j < coverEnd) removed += 1
      else {
        if (!first) sb.append(' ')
        sb.append(s, starts.get(j), ends.get(j))
        first = false
      }
      j += 1
    }
    InternalRow(UTF8String.fromString(sb.toString), removed)
  }

  /** 64-bit SimHash over a token array: per bit, sum +1/−1 by the bit of each
    * token's hash; the result packs the signs. Near-identical token multisets
    * differ in few bits (compare with `bit_count(a ^ b)`).
    */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUTF8String(s, Seed)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }
}

/** Whitespace tokens of a UTF-8 byte range: maximal runs of bytes outside
  * ASCII `[ \t\n\x0B\f\r]` (Java's `\s`, so `split(t, "\\s+")` minus its
  * empty strings), as `[starts(j), ends(j))` byte offsets, plus the lead
  * bytes inside tokens (`chars`, the summed `numChars` of valid UTF-8
  * tokens) and the newline count.
  */
private[expr] final class ByteTokens(base: AnyRef, off: Long, len: Int) {
  var starts: Array[Int] = _
  var ends: Array[Int] = _
  var count = 0
  var chars = 0L
  var newlines = 0
  scan()

  private def scan(): Unit = {
    var ss = new Array[Int](16)
    var es = new Array[Int](16)
    var k = 0
    var lead = 0L
    var nl = 0
    var inToken = false
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (b == ' ' || (b >= '\t' && b <= '\r')) {
        if (b == '\n') nl += 1
        if (inToken) { es(k) = i; k += 1; inToken = false }
      } else {
        if (!inToken) {
          if (k == ss.length) {
            ss = java.util.Arrays.copyOf(ss, 2 * k)
            es = java.util.Arrays.copyOf(es, 2 * k)
          }
          ss(k) = i
          inToken = true
        }
        if ((b & 0xC0) != 0x80) lead += 1
      }
      i += 1
    }
    if (inToken) { es(k) = len; k += 1 }
    starts = ss; ends = es; count = k; chars = lead; newlines = nl
  }
}

/** Dense ids for byte slices of one object: `id(start, len)` returns the id
  * of the first slice with the same bytes, or the next free id. Open
  * addressing with linear probing, sized for `capacity` slices up front;
  * offsets are relative to `off`, so a slice of an `int[]` (a run of token
  * ids) is keyed as its 4-byte words.
  */
private[expr] final class SliceIds(base: AnyRef, off: Long, capacity: Int) {
  private val mask = (Integer.highestOneBit(2 * math.max(capacity, 1) - 1) << 1) - 1
  private val slots = new Array[Int](mask + 1) // id + 1; 0 = empty
  private val starts = new Array[Int](capacity)
  private val lens = new Array[Int](capacity)
  private val hashes = new Array[Int](capacity)
  var size = 0

  def id(start: Int, len: Int): Int = {
    val h = XXH64.hashUnsafeBytes(base, off + start, len, 0L).toInt
    var s = h & mask
    var e = slots(s) - 1
    while (e >= 0 && !(hashes(e) == h && lens(e) == len &&
        ByteArrayMethods.arrayEquals(base, off + starts(e), base, off + start, len))) {
      s = (s + 1) & mask
      e = slots(s) - 1
    }
    if (e < 0) {
      e = size
      starts(e) = start; lens(e) = len; hashes(e) = h
      size += 1
      slots(s) = size
    }
    e
  }
}

/** Native MinHash signature of an `array<string>` token/shingle column.
  *
  * Same contract as [[graft.ops.Dedup.minhashSignature]] composed with
  * [[graft.ops.Dedup.shingleHashes]] (identical affine-permutation scheme and
  * xxhash64 seed), but evaluated in one fused pass with codegen — this is the
  * hot loop of corpus dedup at scale, where interpreted HOF evaluation is the
  * bottleneck (see the staging note in Dedup.scala).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private lazy val (aCoeffs, bCoeffs) = {
    val cs = graft.ops.Dedup.affineCoeffs(numHashes)
    (cs.map(_._1), cs.map(_._2))
  }

  // array<string> tokens, or array<bigint> pre-hashed grams from
  // hash_sorted_distinct — the longs ARE XXH64(token, Seed), so both paths
  // produce bit-identical signatures (pinned in NativeSigSpec)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_signature needs array<string> or array<bigint>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  private lazy val longTyped = child.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }
  private def kernel: String = if (longTyped) "minhashLongs" else "minhash"

  // Empty token arrays yield null, matching the HOF Dedup.minhashSignature
  // size guard — a Long.MaxValue sentinel signature would band-match every
  // other empty document.
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[ArrayData]
    if (tokens.numElements() == 0) null
    else if (longTyped) SigKernels.minhashLongs(tokens, aCoeffs, bCoeffs)
    else SigKernels.minhash(tokens, aCoeffs, bCoeffs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("aCoeffs", aCoeffs, "long[]")
    val bRef = ctx.addReferenceObj("bCoeffs", bCoeffs, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.ops.expr.SigKernels.$kernel($c, $aRef, $bRef);
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Native fused top-n-gram repetition fraction of a string column — see
  * [[SigKernels.topNgramFraction]].
  */
case class TopNgramFraction(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"top_ngram_fraction needs a string column, got $other")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "top_ngram_fraction"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.topNgramFraction(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.expr.SigKernels.topNgramFraction($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): TopNgramFraction =
    copy(child = newChild)
}

/** Native merge-intersection Jaccard of two sorted `array<string>` (or
  * hashed-gram `array<bigint>`) columns — see [[SigKernels.jaccardSorted]]
  * / [[SigKernels.jaccardSortedLongMin]]. Both sides must share one element
  * type; the kernel is selected at plan time, not per row.
  */
case class JaccardSorted(left: Expression, right: Expression, minJ: Double = 0.0)
    extends BinaryExpression {

  private def ok(dt: DataType) = dt match {
    case ArrayType(StringType, _) => true
    case ArrayType(LongType, _)   => true
    case _                        => false
  }

  private def longTyped: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType) &&
        left.dataType.asInstanceOf[ArrayType].elementType ==
          right.dataType.asInstanceOf[ArrayType].elementType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_sorted needs two array<string> or two array<bigint>, " +
        s"got ${left.dataType}, ${right.dataType}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  private def kernel: String =
    if (longTyped) "jaccardSortedLongMin" else "jaccardSortedMin"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (longTyped)
      SigKernels.jaccardSortedLongMin(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], minJ)
    else
      SigKernels.jaccardSortedMin(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], minJ)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.ops.expr.SigKernels.$kernel($a, $b, $minJ)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

/** Native hash-sort-dedup of a string array into sorted distinct xxhash64
  * longs — see [[SigKernels.hashSortedDistinct]].
  */
case class HashSortedDistinct(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hash_sorted_distinct needs array<string> without nulls, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hash_sorted_distinct"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.hashSortedDistinct(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.expr.SigKernels.hashSortedDistinct($c)")

  override protected def withNewChildInternal(newChild: Expression): HashSortedDistinct =
    copy(child = newChild)
}

/** Native one-pass word-shingling of a string column — see
  * [[SigKernels.wordShingles]].
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"word_shingles needs a string column, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.expr.SigKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Native sorted distinct shingle hashes of a string column — see
  * [[SigKernels.hashedShingles]]. Equal to
  * `HashSortedDistinct(WordShingles(child, n))` on every input, null
  * included, with no string built per shingle.
  */
case class HashedShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"hashed_shingles needs a string column, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.hashedShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.expr.SigKernels.hashedShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

/** Native Gopher quality measures of a string column — see
  * [[SigKernels.qualitySignals]]. The struct is never null: a null text
  * yields [[SigKernels.nullTextQuality]], what the HOF formulations give
  * for it under the `size(null)` semantics captured in `legacySizeOfNull`
  * (as `Size` captures them), and each field is nullable exactly where its
  * HOF column is.
  */
case class QualitySignals(
    child: Expression,
    n: Int,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull)
    extends UnaryExpression {

  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"quality_signals needs a string column, got $other")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("token_count", IntegerType, nullable = !legacySizeOfNull && child.nullable),
    StructField("top_ngram_frac", DoubleType, nullable = child.nullable),
    // the HOF ratios are Divide results, which Spark declares nullable
    StructField("mean_word_len", DoubleType, nullable = true),
    StructField("dup_line_frac", DoubleType, nullable = true),
    StructField("symbol_ratio", DoubleType, nullable = true),
    // gopherKeep over mean_word_len, which is nullable
    StructField("keep", BooleanType, nullable = true)))
  override def nullable: Boolean = false
  override def prettyName: String = "quality_signals"

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input)
    if (text == null) SigKernels.nullTextQuality(legacySizeOfNull)
    else SigKernels.qualitySignals(text.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        InternalRow ${ev.value} = ${c.isNull}
          ? graft.ops.expr.SigKernels.nullTextQuality($legacySizeOfNull)
          : graft.ops.expr.SigKernels.qualitySignals(${c.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): QualitySignals =
    copy(child = newChild)
}

/** Native fused cosine similarity of two `array<float>` / `array<double>`
  * vectors — one pass computes dot and both norms; contract-identical to the
  * HOF formulation ([[graft.ops.Similarity.hofCosine]]): double
  * accumulation in element order, 0.0 when either norm is zero.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  private def vecOk(dt: DataType) = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }
  private lazy val aFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private lazy val bFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecOk(left.dataType) && vecOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs two array<float|double>, got ${left.dataType}, ${right.dataType}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SigKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.ops.expr.SigKernels.cosine($a, $b, $aFloat, $bFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Native packed sign-bit hyperplane-LSH signature of an `array<float>` /
  * `array<double>` embedding column. `planes` is flattened row-major
  * (`numPlanes × dim`, numPlanes ≤ 63); same bit layout as the staged HOF
  * formulation it replaces (bit p ⟺ dot(vec, plane_p) > 0).
  */
case class SignBitSignature(child: Expression, planes: Array[Double], numPlanes: Int)
    extends UnaryExpression {

  require(numPlanes >= 1 && numPlanes <= 63, "numPlanes must be in [1, 63]")
  require(planes.length % numPlanes == 0, "planes length must be numPlanes * dim")

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"signbit_signature needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "signbit_signature"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.signBits(input.asInstanceOf[ArrayData], planes, numPlanes, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.expr.SigKernels.signBits($c, $pRef, $numPlanes, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): SignBitSignature =
    copy(child = newChild)
}

/** Native nearest-centroid assignment for an `array<float>`/`array<double>`
  * vector column; `centroids` flattened row-major (`k × dim`). Same result
  * as the HOF argmin ([[graft.ops.Similarity.hofNearestCentroid]]): squared
  * L2, ties to the smaller index.
  */
case class NearestCentroid(child: Expression, centroids: Array[Double], k: Int)
    extends UnaryExpression {

  require(k >= 1 && centroids.length % k == 0, "centroids length must be k * dim")

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.nearestCentroid(input.asInstanceOf[ArrayData], centroids, k, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.expr.SigKernels.nearestCentroid($c, $cRef, $k, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Native top-n nearest-centroid probe set — see
  * [[SigKernels.nearestCentroidsN]].
  */
case class NearestCentroids(child: Expression, centroids: Array[Double], k: Int, n: Int)
    extends UnaryExpression {

  require(k >= 1 && centroids.length % k == 0, "centroids length must be k * dim")
  require(n >= 1, "probe count must be >= 1")

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"nearest_centroids needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.nearestCentroidsN(input.asInstanceOf[ArrayData], centroids, k, n, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.expr.SigKernels.nearestCentroidsN($c, $cRef, $k, $n, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Native per-position window hashes of a string column — see
  * [[SigKernels.windowHashes]]. The substring-level-dedup primitive: one
  * xxhash64 per w-token window, positions preserved.
  */
case class WindowHashes(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 1, "window size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"window_hashes needs a string column, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.windowHashes(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.expr.SigKernels.windowHashes($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

/** Native span masking — see [[SigKernels.maskCovered]]. Returns
  * `struct(clean string, removed int)`: the text rebuilt from tokens NOT
  * covered by any `[p, p+w)` window in `positions`, plus the dropped-token
  * count. `positions` is `array<int>` (unsorted is fine — `collect_list`
  * output goes in directly).
  */
case class MaskRepeatedWindows(left: Expression, right: Expression, w: Int)
    extends BinaryExpression {

  require(w >= 1, "window size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"mask_repeated_windows needs (string, array<int>), got ($l, $r)")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("removed", IntegerType, nullable = false)))
  override def prettyName: String = "mask_repeated_windows"

  override protected def nullSafeEval(text: Any, positions: Any): Any =
    SigKernels.maskCovered(
      text.asInstanceOf[UTF8String], positions.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) =>
      s"graft.ops.expr.SigKernels.maskCovered($t, $p, $w)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaskRepeatedWindows =
    copy(left = newLeft, right = newRight)
}

/** Native 64-bit SimHash of an `array<string>` token column. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"simhash64 needs array<string>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SigKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.expr.SigKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object NativeSig {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column API for [[MinHashSignature]]. */
  def minhashSignature(tokens: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(tokens), numHashes))

  /** Column API for [[SimHash64]]. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  /** Column API for [[TopNgramFraction]]. */
  def topNgramFraction(text: Column, n: Int): Column =
    ColumnBridge.column(TopNgramFraction(ColumnBridge.expression(text), n))

  /** Column API for [[JaccardSorted]] — both arrays must be pre-sorted.
    * `minJ` > 0 enables the exact early exit for `>= minJ` filters.
    */
  def jaccardSorted(a: Column, b: Column, minJ: Double = 0.0): Column =
    ColumnBridge.column(
      JaccardSorted(ColumnBridge.expression(a), ColumnBridge.expression(b), minJ))

  /** Column API for [[BucketJaccardPairs]] — generator; select it alone to
    * get (id_a, id_b, jaccard) survivor rows per bucket.
    */
  def bucketJaccardPairs(members: Column, threshold: Double): Column =
    ColumnBridge.column(
      BucketJaccardPairs(ColumnBridge.expression(members), threshold))

  /** Column API for [[BucketCosinePairs]] — generator; (id_a, id_b,
    * cosine) survivors per bucket; payload type picks the kernel.
    */
  def bucketCosinePairs(members: Column, threshold: Double): Column =
    ColumnBridge.column(
      BucketCosinePairs(ColumnBridge.expression(members), threshold))

  /** Column API for [[WordShingles]]. */
  def wordShingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))

  /** Column API for [[HashedShingles]]. */
  def hashedShingles(text: Column, n: Int): Column =
    ColumnBridge.column(HashedShingles(ColumnBridge.expression(text), n))

  /** Column API for [[QualitySignals]]; `size(null)` semantics are read
    * from the active session's conf here, as `size` reads them.
    */
  def qualitySignals(text: Column, n: Int): Column =
    ColumnBridge.column(QualitySignals(ColumnBridge.expression(text), n))

  /** Column API for [[LangIdExpr]] — the [[LangModel]] linear classifier. */
  def langId(text: Column): Column =
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(text)))

  /** Column API for [[LangIdTopExpr]] — up to `maxLangs` comma-joined
    * codes, primary first (the cc-index `languages` shape).
    */
  def langId(text: Column, maxLangs: Int): Column =
    ColumnBridge.column(LangIdTopExpr(ColumnBridge.expression(text), maxLangs))

  /** Column API for [[SurtHostNormExpr]] — IDN/IP host folding inside
    * SURT keys.
    */
  def surtHostNorm(host: Column): Column =
    ColumnBridge.column(SurtHostNormExpr(ColumnBridge.expression(host)))

  /** Column API for [[Iso6393Expr]] — lang codes re-spelled as ISO 639-3
    * (the published cc-index `languages` spelling).
    */
  def iso6393(codes: Column): Column =
    ColumnBridge.column(Iso6393Expr(ColumnBridge.expression(codes)))

  /** Column API for [[RedactValidatedExpr]] — checksum/entropy-validated
    * PII redaction ([[PiiValidate]]).
    */
  def redactValidated(text: Column, cards: Boolean = true,
      ibans: Boolean = true, secrets: Boolean = true): Column =
    ColumnBridge.column(
      RedactValidatedExpr(ColumnBridge.expression(text), cards, ibans, secrets))

  /** Column API for [[FixEncodingExpr]] — mojibake repair ([[Mojibake]]). */
  def fixEncoding(text: Column, maxPasses: Int = 3): Column =
    ColumnBridge.column(FixEncodingExpr(ColumnBridge.expression(text), maxPasses))

  /** Column API for [[WindowHashes]]. */
  def windowHashes(text: Column, w: Int): Column =
    ColumnBridge.column(WindowHashes(ColumnBridge.expression(text), w))

  /** Column API for [[MaskRepeatedWindows]]. */
  def maskRepeatedWindows(text: Column, positions: Column, w: Int): Column =
    ColumnBridge.column(MaskRepeatedWindows(
      ColumnBridge.expression(text), ColumnBridge.expression(positions), w))

  /** Column API for [[HashSortedDistinct]]. */
  def hashSortedDistinct(arr: Column): Column =
    ColumnBridge.column(HashSortedDistinct(ColumnBridge.expression(arr)))

  /** Column API for [[CosineSim]]. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for [[QuantizeVec]] — int8 vector payload ([[QuantKernels]]). */
  def quantizeVec(vec: Column): Column =
    ColumnBridge.column(QuantizeVec(ColumnBridge.expression(vec)))

  /** Column API for [[CosineSimQ]] — approximate cosine over quantized payloads. */
  def cosineSimQ(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimQ(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for [[NearestCentroid]]; `centroids` as (k × dim). */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(
      NearestCentroid(ColumnBridge.expression(vec), centroids.flatten, centroids.length))

  /** Column API for [[NearestCentroids]]; `centroids` as (k × dim). */
  def nearestCentroids(vec: Column, centroids: Array[Array[Double]], n: Int): Column =
    ColumnBridge.column(
      NearestCentroids(ColumnBridge.expression(vec), centroids.flatten, centroids.length, n))

  /** Column API for [[SignBitSignature]]; `planes` as (numPlanes × dim). */
  def signBitSignature(vec: Column, planes: Array[Array[Double]]): Column =
    ColumnBridge.column(
      SignBitSignature(ColumnBridge.expression(vec), planes.flatten, planes.length))

  /** Column API for [[BoundedCollectList]] (aggregate): collects at most
    * `cap` values but counts all of them — `struct(cnt, items)`. The memory
    * bound every skew-capped bucket aggregation relies on.
    */
  def boundedCollectList(child: Column, cap: Int): Column =
    ColumnBridge.column(
      BoundedCollectList(ColumnBridge.expression(child), cap).toAggregateExpression())

  /** Install every SQL-expressible native kernel as a temp function on a
    * live session; deployments should prefer
    * `--conf spark.sql.extensions=graft.GraftExtensions` (same function
    * set, every session, no code).
    */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerAll(spark)
}
