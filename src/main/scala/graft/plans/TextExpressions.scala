package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels: the one word tokenizer, the one distinct
  * shingler, and the codepoint trigram/hash kernels. Their plain Spark
  * forms (`filter(split(lower(s), '[^a-z0-9]+'), ...)`, shingles and
  * codepoint folds through transform/aggregate/slice/sequence) are
  * CodegenFallback higher-order functions with per-element boxing;
  * each kernel does its work in one tight pass per document.
  *
  * Semantics are EXACTLY the plain forms (and the DuckDB oracles):
  * lowercase, split on non-[a-z0-9] runs, drop empties, distinct word
  * n-grams joined by single spaces, first-occurrence order; NULL text
  * gives NULL. PropertySpec compares each kernel with its plain form
  * on NULL, empty and non-ASCII text (dotted İ, surrogate pairs), and
  * pins the one divergence: `packedTrigrams` lowercases with
  * `String.toLowerCase(Locale.ROOT)`, which maps a word-final capital
  * sigma to final sigma (U+03C2) where Spark's `lower()` gives U+03C3.
  * The word kernels keep only [a-z0-9], so sigma never reaches a token.
  */
object TextKernels {

  def tokenize(s: UTF8String): Array[String] = {
    // Locale.ROOT pins locale-independent lowercasing like SQL lower()
    // and the DuckDB oracles — under a Turkish-family default locale a
    // bare toLowerCase maps 'I' to dotless ı and silently diverges.
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    val len = str.length
    while (i < len) {
      val c = str.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  def shingles(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(s)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  def tokens(s: UTF8String): ArrayData =
    new GenericArrayData(
      tokenize(s).map(t => UTF8String.fromString(t): Any))

  /** Character trigrams of the ROOT-lowercased text, each packed into a
    * long as 3 × 21-bit codepoints (injective for all of Unicode) —
    * 8-byte shuffle/agg keys for the q114 LM pipeline, one tight pass
    * instead of per-position substring HOFs. Codepoint-based stepping
    * matches SQL substr/length semantics beyond the BMP. */
  def packedTrigrams(s: UTF8String): ArrayData = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val len = str.length
    val n = str.codePointCount(0, len)
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val cps = new Array[Int](n)
    var i = 0
    var k = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    val out = new Array[Long](n - 2)
    var j = 0
    while (j < n - 2) {
      out(j) = (cps(j).toLong << 42) | (cps(j + 1).toLong << 21) |
        cps(j + 2).toLong
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Deterministic 62-bit polynomial hash of a token: two independent
    * 31-bit fold hashes over the codepoints — h1 = Σ-fold
    * (a·31 + cp) mod (2^31−1), h2 = (a·131 + cp) mod 2147483629 —
    * packed as (h1 << 31) | h2. Every step fits a signed 64-bit long
    * (a < 2^31, a·131 + cp < 2^39), so an oracle reproduces it with
    * plain BIGINT list_reduce arithmetic — unlike xxhash64, whose
    * avalanche rounds no SQL engine replays. Bits 62-63 are always 0
    * (62 effective bits); used by SimHash (q42) where hash quality
    * requirements are statistical, not adversarial.
    */
  def polyHash62(s: UTF8String): Long = {
    val str = s.toString
    var h1 = 0L
    var h2 = 0L
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      h1 = (h1 * 31 + cp) % 2147483647L
      h2 = (h2 * 131 + cp) % 2147483629L
      i += Character.charCount(cp)
    }
    (h1 << 31) | h2
  }

  /** Rabin-Karp rolling polynomial hashes of every length-`n` codepoint
    * window: h_p = Σ cp(p+i)·31^(n-1-i) mod 1000003, computed with the
    * O(1)-per-position rolling update (one multiply, one subtract, one
    * add — NOT an O(n) fold per position), normalized to [0, mod) so it
    * equals the plain left fold an oracle computes. The exact-substring
    * duplication detector (q206) winnows these; O(len) per document
    * total, codepoint-stepped to match SQL substr/length semantics.
    */
  def rollingHashes(s: UTF8String, n: Int): ArrayData = {
    val MOD = 1000003L
    val str = s.toString
    val len = str.length
    val cnt = str.codePointCount(0, len)
    if (cnt < n) return new GenericArrayData(Array.emptyLongArray)
    val cps = new Array[Int](cnt)
    var i = 0
    var k = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    // base^(n-1) mod m, for the outgoing character's contribution
    var pow = 1L
    var e = 0
    while (e < n - 1) { pow = pow * 31 % MOD; e += 1 }
    val out = new Array[Long](cnt - n + 1)
    var h = 0L
    var j = 0
    while (j < n) { h = (h * 31 + cps(j) % MOD) % MOD; j += 1 }
    out(0) = h
    var p = 1
    while (p <= cnt - n) {
      h = (h - (cps(p - 1) % MOD) * pow % MOD + MOD) % MOD
      h = (h * 31 + cps(p + n - 1) % MOD) % MOD
      out(p) = h
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Distinct word n-gram shingles of a lowercase-tokenized text column.
  * kernel: measured — plain 3.57 vs 1.05 s, local[4] (q224) */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextKernels.shingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.shingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Lowercase word tokens of a text column.
  * kernel: measured — plain 2.23 vs 0.82 s, local[4] (q100) */
case class WordTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextKernels.tokens(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.tokens($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Packed char-trigram longs of a text column (lowercased in-kernel).
  * kernel: measured — plain 3.88 vs 2.55 s, local[4] (q114) */
case class PackedTrigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextKernels.packedTrigrams(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.packedTrigrams($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Oracle-reproducible 62-bit polynomial hash of a string column.
  * kernel: measured — plain 2.36 vs 1.07 s, local[4] (q42, only this
  * kernel swapped) */
case class PolyHash62(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextKernels.polyHash62(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.polyHash62($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Rolling Rabin-Karp hashes of all length-n codepoint windows.
  * kernel: measured — plain 6.33 vs 2.07 s, local[4] (q206) */
case class RollingHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextKernels.rollingHashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.rollingHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TextExpressions {
  def wordShingles(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      WordShingles(GraftColumnBridge.expression(text), n))
  def wordTokens(text: Column): Column =
    GraftColumnBridge.column(
      WordTokens(GraftColumnBridge.expression(text)))
  def packedTrigrams(text: Column): Column =
    GraftColumnBridge.column(
      PackedTrigrams(GraftColumnBridge.expression(text)))
  def rollingHashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      RollingHashes(GraftColumnBridge.expression(text), n))
  def polyHash62(text: Column): Column =
    GraftColumnBridge.column(
      PolyHash62(GraftColumnBridge.expression(text)))
}
