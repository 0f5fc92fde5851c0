package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Consts

/** The one text kernel behind every Scala-side tokenize, n-gram hash,
  * MinHash, SimHash and covered-span rebuild over `documents.text`.
  * Callers keep their own `mapPartitions` and pass one `MessageDigest`
  * per partition; nothing here allocates a digest.
  *
  * Tokenization is `words`, the Scala image of the Column tokenizer
  * `TextAnalytics.tokens` and the oracle's `sqlTokens`: split on `\s+`
  * and drop empty strings, with NO `String.trim` (which would also strip
  * control chars ≤ U+0020 that Spark's and DuckDB's `trim` keep). */
private[graft] object TextKernel {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Whitespace words of `text`, empty strings dropped. `Pattern.split`
    * can leave only a leading empty string (text starting with
    * whitespace, or empty text); trailing ones are already gone. */
  def words(text: String): Array[String] = {
    val a = Ws.split(text)
    if (a.length > 0 && a(0).isEmpty) java.util.Arrays.copyOfRange(a, 1, a.length) else a
  }

  /** First `bits` (32, else 64) of an md5 digest as a big-endian long.
    * 32-bit values are non-negative (the unsigned range the oracle's
    * strpos-over-hex `shingleHashExpr` computes); 64-bit values use the
    * full signed range — downstream set/join/count ops are
    * sign-agnostic. */
  def packHash(d: Array[Byte], bits: Int): Long =
    if (bits == 32)
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    else
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)

  /** packHash(md5(t(i) + " " + … + t(i + n - 1)), bits). */
  private def gramHash(t: Array[String], i: Int, n: Int, bits: Int, md: MessageDigest): Long = {
    val g = new java.lang.StringBuilder(t(i))
    var j = i + 1
    while (j < i + n) { g.append(' ').append(t(j)); j += 1 }
    packHash(md.digest(g.toString.getBytes(UTF_8)), bits)
  }

  /** Positional word-n-gram hashes: element i is the gram starting at
    * word i; empty when there are fewer than n words. */
  def gramHashes(t: Array[String], n: Int, bits: Int, md: MessageDigest): Array[Long] =
    Array.tabulate(math.max(0, t.length - n + 1))(i => gramHash(t, i, n, bits, md))

  /** The 16 MinHash values of a hash multiset (min over a multiset
    * equals min over the set, so callers need no distinct pass). Each
    * hash xor-folds to its unsigned-32 image — 32-bit hashes pass
    * unchanged — and the affine permutations mod the Mersenne prime act
    * on that image (a wider operand would overflow the i64 product). */
  def minhash(hvs: Array[Long]): Array[Long] = {
    val params = Consts.MinhashParams.toArray
    val mh = Array.fill(params.length)(Long.MaxValue)
    hvs.foreach { hv =>
      val h32 = (hv >>> 32) ^ (hv & 0xffffffffL)
      var j = 0
      while (j < params.length) {
        val v = (h32 * params(j)._1 + params(j)._2) % Consts.MinhashPrime
        if (v < mh(j)) mh(j) = v
        j += 1
      }
    }
    mh
  }

  /** The LSH band strings of a signature: band b joins rows
    * [b*rowsPer, (b+1)*rowsPer) with '|'. */
  def bands(mh: Array[Long]): Array[String] = {
    val rowsPer = Consts.LshRowsPerBand
    Array.tabulate(Consts.LshBands)(b =>
      (0 until rowsPer).map(r => mh(b * rowsPer + r)).mkString("|"))
  }

  /** 16-bit frequency-weighted SimHash of `words(text)`: per word, bit k
    * votes +1 when hex nibble k of md5(word) has its high bit set, else
    * -1; signature bit k is set when its vote sum is positive. */
  def simhash16(text: String, md: MessageDigest): Long = {
    val votes = new Array[Long](Consts.SimHashBits)
    words(text).foreach { w =>
      val d = md.digest(w.getBytes(UTF_8))
      var k = 0
      while (k < Consts.SimHashBits) {
        // hex nibble k: high half of byte k/2 for even k, low for odd
        val nib = if (k % 2 == 0) (d(k / 2) >> 4) & 0xf else d(k / 2) & 0xf
        votes(k) += (if (nib >= 8) 1L else -1L)
        k += 1
      }
    }
    var hash = 0L
    var k = 0
    while (k < Consts.SimHashBits) { if (votes(k) > 0L) hash |= (1L << k); k += 1 }
    hash
  }

  /** (removed word count, kept words joined by one space) for a covered
    * mask over `t`. */
  def redact(t: Array[String], covered: Array[Boolean]): (Long, String) = {
    val kept = new StringBuilder
    var nRem = 0L
    var j = 0
    while (j < t.length) {
      if (covered(j)) nRem += 1L
      else {
        if (kept.nonEmpty) kept.append(' ')
        kept.append(t(j))
      }
      j += 1
    }
    (nRem, kept.toString)
  }
}

/** Scalar SQL forms of the per-document dedup signatures, so the SQL
  * surface can compute exactly what the oracle-checked batch operators
  * compute (`SELECT doc_id, simhash16(text) FROM documents` ≡ q16's
  * signature column). They call the same [[TextKernel]] as the batch
  * operators, so both tokenize with `words`. All are eval-only
  * (CodegenFallback): they exist for API completeness — ad-hoc SQL,
  * views, downstream tools — where per-row eval cost is irrelevant next
  * to having the signature at all.
  */

/** 16-bit frequency-weighted SimHash ([[TextKernel.simhash16]]) —
  * bit-identical to `ops.Dedup.simhash`'s per-doc value. */
case class SimHash16(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    TextKernel.simhash16(input.asInstanceOf[UTF8String].toString,
      MessageDigest.getInstance("MD5"))

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** Sorted distinct 3-gram shingle hashes of the text's words at the
  * given bit width — the per-doc primitive under q14/q15/q52/q62/q72/
  * q83, exposed to SQL (`shingle_hashes(text)` defaults to the 64-bit
  * library width; pass 32 for the oracle-mirrorable form). Matches
  * `ops.Dedup.shingleRows` exactly: texts under 3 words yield an empty
  * array. */
case class ShingleHashes(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val t = TextKernel.words(input.asInstanceOf[UTF8String].toString)
    new GenericArrayData(TextKernel.gramHashes(t, 3, bits,
      MessageDigest.getInstance("MD5")).distinct.sorted)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** The 16-value MinHash signature of a text's 3-gram hashes, as
  * `ops.Dedup.docShingleSummaryOf` computes it; null for texts under 3
  * words, which emit NO summary row in the batch path (`WHERE
  * minhash_sig(text) IS NOT NULL` recovers the relation). */
private object MinhashOf {
  def apply(input: Any, bits: Int): Array[Long] = {
    val t = TextKernel.words(input.asInstanceOf[UTF8String].toString)
    if (t.length < 3) null
    else TextKernel.minhash(TextKernel.gramHashes(t, 3, bits, MessageDigest.getInstance("MD5")))
  }
}

/** `minhash_sig(text[, bits])` — q14's 16-value MinHash signature as a
  * SQL scalar (array<bigint>, null for <3-word texts). */
case class MinhashSig(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val mh = MinhashOf(input, bits)
    if (mh == null) null else new GenericArrayData(mh)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** `lsh_bands(text[, bits])` — q14's 4 pre-concatenated LSH band
  * strings ([[TextKernel.bands]]) as a SQL scalar (array<string>, null
  * for <3-word texts): exactly the banded-summary column the candidate
  * self-equi-join shuffles on. */
case class LshBandStrings(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val mh = MinhashOf(input, bits)
    if (mh == null) null
    else new GenericArrayData(TextKernel.bands(mh).map(b => UTF8String.fromString(b): AnyRef))
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandStrings =
    copy(child = newChild)
}
