package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-pipeline expressions for large-scale training-data curation:
  * MinHash signatures (near-dup LSH), SimHash, n-gram shingles, rolling-hash
  * fingerprints, and a character-n-gram language-ID heuristic. All
  * deterministic (seeded mixers, no RNG state). */
object textexprs {

  /** 64-bit mix (splitmix64 finalizer) — deterministic, seedable. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** PORTABLE 60-bit string hash: first 15 hex chars of md5, i.e. the value
    * a SQL oracle reproduces verbatim as
    * `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`. Always >= 0. Used by
    * the minhash / simhash signatures so the driver's DuckDB compare can
    * recompute them end-to-end (no opaque seeded mixer in the contract). */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def portableHash60(s: String): Long = {
    val d = md5Local.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex chars = first 7 bytes + high nibble of byte 8 (60 bits)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    (h << 4) | ((bytes(7) & 0xf0L) >>> 4)
  }

  /** Mersenne-prime modulus 2^61-1 for the minhash permutation family. */
  val MersenneP: Long = (1L << 61) - 1

  /** (a*h + b) mod (2^61-1) with exact 128-bit intermediate — identical to
    * DuckDB `(a::HUGEINT * h + b) % p`. */
  @inline def affineMod61(a: Long, h: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    // 2^64 = 2^61 * 8 == 8 (mod p): fold the 128-bit product
    var r = hi * 8 + (lo & MersenneP) + (lo >>> 61) + b
    while (r >= MersenneP) r -= MersenneP
    r
  }

  /** Sort + dedup a hash array in place, returning the Catalyst array
    * (shared tail of the gram-set kernels). */
  private def sortedDistinct(out: Array[Long]): Any = {
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == out.length) out else java.util.Arrays.copyOf(out, w))
  }

  /** Char offsets of each code-point start, plus the end: offsets(i) is the
    * UTF-16 index where code point i begins, offsets(count) = s.length.
    * Identity (offsets(i) == i) when the string has no surrogate pairs —
    * the overwhelmingly common case pays one scan, no allocation beyond the
    * array. Used by the character-gram kernels so their grams count CODE
    * POINTS, matching SQL substr/length semantics (DuckDB, the oracle side,
    * counts code points; Java String.substring counts UTF-16 units — on a
    * non-BMP character, e.g. any emoji, the two diverge). */
  def codePointOffsets(s: String): Array[Int] = {
    val n = s.length
    val out = new Array[Int](s.codePointCount(0, n) + 1)
    var ci = 0
    var cp = 0
    while (ci < n) {
      out(cp) = ci
      ci += Character.charCount(s.codePointAt(ci))
      cp += 1
    }
    out(cp) = n
    out
  }

  /** The whitespace-separated tokens of a text (none for an empty or
    * whitespace-only text): the words of [[shingles]] and [[SimHash]]. */
  def words(text: String): Array[String] = text.split("\\s+").filter(_.nonEmpty)

  /** Word w-shingles of a whitespace-tokenized text. Zero-token (empty or
    * whitespace-only) text yields NO shingles — a degenerate doc must not
    * acquire a real signature, or two empty docs would be reported as
    * near-duplicates that the shingle-based oracle never emits. */
  def shingles(text: String, w: Int): Array[String] = {
    val toks = words(text)
    if (toks.isEmpty) Array.empty
    else if (toks.length < w) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - w + 1)(i => toks.slice(i, i + w).mkString(" "))
  }

  /** MinHash signature over word shingles: array of n minima of the
    * portable md5-based hash pushed through the affine permutation family
    * h_j(x) = ((2j+3)x + (5j+7)) mod (2^61-1) — every step reproducible in
    * DuckDB SQL, so the signature itself is oracle-checkable. */
  def minhashOf(shingles: Array[String], n: Int): Array[Long] = {
    val sig = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val base = portableHash60(shingles(i))
      var j = 0
      while (j < n) {
        val h = affineMod61(2L * j + 3L, base, 5L * j + 7L)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** `minhash(text, n, w)`: [[minhashOf]] the text's w-shingles; null for
    * a zero-shingle text. */
  case class MinHash(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override protected def nullSafeEval(text: Any, nAny: Any, wAny: Any): Any = {
      val sh = shingles(text.asInstanceOf[UTF8String].toString, wAny.asInstanceOf[Int])
      // a zero-shingle doc has NO signature: returning the all-MaxValue
      // vector would make every empty doc a perfect near-duplicate of every
      // other empty doc, which the shingle-based oracles never emit
      if (sh.isEmpty) return null
      UnsafeArrayData.fromPrimitiveArray(minhashOf(sh, nAny.asInstanceOf[Int]))
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): MinHash =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "minhash"
  }

  /** The key of band `b` of `bands` of a MinHash signature: a hash of its
    * `sig.length / bands` (at least 1) positions, with the band index
    * folded in. */
  def bandKey(sig: Array[Long], bands: Int, b: Int): Long = {
    val rows = math.max(1, sig.length / bands)
    var h = 0x1234567L + b
    var i = b * rows
    val end = math.min(sig.length, i + rows)
    while (i < end) { h = mix64(h ^ sig(i)); i += 1 }
    h
  }

  /** LSH band keys from a MinHash signature: hash each of `bands` rows-sized
    * slices -> array<long> band bucket ids (band index folded in). */
  case class LshBands(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(sigAny: Any, bandsAny: Any): Any = {
      val sig = sigAny.asInstanceOf[ArrayData].toLongArray()
      val bands = bandsAny.asInstanceOf[Int]
      UnsafeArrayData.fromPrimitiveArray(Array.tabulate(bands)(bandKey(sig, bands, _)))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): LshBands =
      copy(left = l, right = r)
    override def prettyName: String = "lsh_bands"
  }

  /** 60-bit SimHash over word tokens (sign of per-bit weighted sums),
    * built on the portable md5-based token hash so a SQL oracle can
    * recompute the signature bit-for-bit. */
  def simhashOf(words: Array[String]): Long = {
    val acc = new Array[Int](60)
    var i = 0
    while (i < words.length) {
      val h = portableHash60(words(i))
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** `simhash(text)`: [[simhashOf]] the text's words; null for a
    * token-less text. */
  case class SimHash(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override protected def nullSafeEval(text: Any): Any = {
      val toks = words(text.asInstanceOf[UTF8String].toString)
      if (toks.isEmpty) return null // token-less doc: no signature (see MinHash)
      simhashOf(toks)
    }
    override protected def withNewChildInternal(c: Expression): SimHash = copy(child = c)
    override def prettyName: String = "simhash"
  }

  /** Hamming distance between two 64-bit signatures. */
  case class HammingDist(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
    override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDist =
      copy(left = l, right = r)
    override def prettyName: String = "hamming_dist"
  }

  /** Document fingerprint: winnowing-style minimum over character k-gram
    * hashes, on the PORTABLE md5-based 60-bit hash ([[portableHash60]]) so
    * a SQL oracle recomputes it verbatim:
    * `min(CAST('0x' || substr(md5(substr(text, i, k)), 1, 15) AS BIGINT))`
    * over i = 1..len-k+1 (whole text when len < k). Shift-invariant: any
    * window containing the minimizing k-gram yields the same value, which
    * is what makes it a near-dup fingerprint for shingled text. */
  case class Fingerprint(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(text: Any, kAny: Any): Any = {
      val s = text.asInstanceOf[UTF8String].toString
      val k = kAny.asInstanceOf[Int]
      // grams count CODE POINTS (codePointOffsets) so the SQL-substr oracle
      // reproduces them on non-BMP input too
      val off = codePointOffsets(s)
      val cps = off.length - 1
      if (cps < k) return portableHash60(s)
      var minH = Long.MaxValue
      var i = 0
      while (i + k <= cps) {
        val h = portableHash60(s.substring(off(i), off(i + k)))
        if (h < minH) minH = h
        i += 1
      }
      minH
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Fingerprint =
      copy(left = l, right = r)
    override def prettyName: String = "doc_fingerprint"
  }

  /** ngram_hash_set(text, n): SORTED, duplicate-free [[portableHash60]]
    * hashes of every character n-gram (a text shorter than n contributes
    * its whole self as the single gram; an empty text hashes the empty
    * string — the same substring semantics the DuckDB oracle reproduces as
    * `CAST('0x' || substr(md5(substr(text, i, n)), 1, 15) AS BIGINT)`).
    * One narrow pass replacing the SQL
    * sequence/transform/md5-hex/conv/array_distinct/array_sort chain, which
    * allocated an index array plus a 32-char hex string and a string-parse
    * per GRAM; the output contract (sorted distinct longs) feeds the
    * merge-intersect verify kernel directly. */
  case class NgramHashSet(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes = Seq(StringType, IntegerType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(t: Any, n0: Any): Any = {
      val s = t.asInstanceOf[UTF8String].toString
      val n = math.max(1, n0.asInstanceOf[Int])
      // grams count CODE POINTS (codePointOffsets) so the SQL-substr oracle
      // reproduces them on non-BMP input too
      val off = codePointOffsets(s)
      val cps = off.length - 1
      val m = math.max(cps - n + 1, 1)
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        out(i) = portableHash60(s.substring(off(i), off(math.min(i + n, cps))))
        i += 1
      }
      sortedDistinct(out)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): NgramHashSet =
      copy(left = l, right = r)
    override def prettyName: String = "ngram_hash_set"
  }

  /** word_ngram_hash_set(text, n): SORTED, duplicate-free [[portableHash60]]
    * hashes of every WORD n-gram — [[shingles]] semantics: whitespace
    * tokenization, windows joined with a single space, a doc shorter than n
    * tokens contributing its whole token sequence as the single gram, and a
    * ZERO-token doc contributing NO grams (an empty doc must not overlap
    * every other empty doc). The standard exact-overlap unit of benchmark
    * decontamination (n = 13 in the common train/test-overlap protocol);
    * the oracle reproduces each gram as
    * `array_to_string(list_slice(tokens, i, i + n - 1), ' ')` and hashes it
    * with the portable md5 formula. */
  case class WordNgramHashSet(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes = Seq(StringType, IntegerType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(t: Any, n0: Any): Any = {
      val sh = shingles(t.asInstanceOf[UTF8String].toString,
        math.max(1, n0.asInstanceOf[Int]))
      val out = new Array[Long](sh.length)
      var i = 0
      while (i < sh.length) { out(i) = portableHash60(sh(i)); i += 1 }
      sortedDistinct(out)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): WordNgramHashSet =
      copy(left = l, right = r)
    override def prettyName: String = "word_ngram_hash_set"
  }

  /** Stopword-membership language-ID heuristic over a small built-in
    * profile set (en/de/fr/es + unknown): score(lang) = number of TOKENS
    * (whitespace-split, lowercased, with multiplicity) in the language's
    * stopword set; prediction = highest score, ties broken by profile
    * order, zero score -> "und". Token membership (not substring counting)
    * keeps the heuristic exactly reproducible in SQL. */
  case class LangId(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override protected def nullSafeEval(text: Any): Any = {
      val toks = text.asInstanceOf[UTF8String].toString.toLowerCase
        .split("\\s+").filter(_.nonEmpty)
      val scores = new Array[Int](LangId.profiles.length)
      var i = 0
      while (i < toks.length) {
        var l = 0
        while (l < LangId.profiles.length) {
          if (LangId.profiles(l)._2.contains(toks(i))) scores(l) += 1
          l += 1
        }
        i += 1
      }
      var best = 0
      var l = 1
      while (l < scores.length) { if (scores(l) > scores(best)) best = l; l += 1 }
      UTF8String.fromString(
        if (scores(best) == 0) "und" else LangId.profiles(best)._1)
    }
    override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
    override def prettyName: String = "lang_id"
  }

  object LangId {
    /** Tiny high-frequency function-word profiles (SETS of whole tokens). */
    val profiles: Seq[(String, Set[String])] = Seq(
      "en" -> Set("the", "a", "of", "and", "to", "is", "in"),
      "de" -> Set("der", "die", "und", "das", "ist", "ein", "zu"),
      "fr" -> Set("le", "la", "les", "et", "est", "une", "que"),
      "es" -> Set("el", "los", "y", "es", "una", "unos", "cada"))
  }
}
