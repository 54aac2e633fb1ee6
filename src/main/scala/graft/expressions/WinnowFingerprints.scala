package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform

/** Codegen'd winnowing fingerprints (the MOSS local-fingerprinting scheme)
  * over a document's `array<string>` token array: k-token gram hashes →
  * sliding windows of `w` consecutive gram hashes → the distinct window
  * minima, sorted ascending.
  *
  * Gram g is tokens g..g+k-1 joined by a single space; its UTF-8 bytes are
  * laid out in one reused buffer and hashed in place — no gram `String`s,
  * no per-window array slices. Fewer than k tokens → the whole token
  * sequence as one gram; fewer grams than w → one window over all grams
  * (the shingle family's short-doc convention). NULL token slots are
  * skipped by the join, as `array_join` skips them; `split` never yields
  * any. Bit-identical to the built-in formula
  * `array_sort(array_distinct(window minima of gramHash(array_join(slice(ts,
  * i, k), ' '))))` for both gram hashes:
  *
  *   - [[WinnowFingerprints.Xxhash64]]: `xxhash64(gram)` — seed-42
  *     `XXH64.hashUnsafeBytes` over the gram bytes (codegen'd, the fast
  *     path);
  *   - [[WinnowFingerprints.Md5Hash56]]: the first 14 hex digits of
  *     `md5(gram)` as a non-negative long — the top 56 bits of the digest,
  *     big-endian, exactly re-derivable by any SQL engine.
  *
  * The interpreted and codegen paths share [[WinnowKernel]] verbatim: the
  * generated code holds one instance per partition, with its reused
  * buffers, and calls it once per row.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int, gramHash: WinnowFingerprints.GramHash)
    extends UnaryExpression {

  require(k >= 1, "k must be at least 1")
  require(w >= 1, "w must be at least 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "winnow_fingerprints"

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)

  private def md5: Boolean = gramHash == WinnowFingerprints.Md5Hash56

  @transient private lazy val kernel = new WinnowKernel(k, w, md5)

  override def nullSafeEval(input: Any): Any = kernel.fingerprints(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[WinnowKernel].getName
    val kern = ctx.addMutableState(cls, "winnow", v => s"$v = new $cls($k, $w, $md5);")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $kern.fingerprints($a);")
  }
}

object WinnowFingerprints {

  /** The gram hash: a closed choice of the two formulas in use. */
  sealed trait GramHash extends Serializable
  /** Seed-42 xxhash64 of the gram's UTF-8 bytes (Spark's `xxhash64`). */
  case object Xxhash64 extends GramHash
  /** Top 56 bits of the gram's MD5 digest — SQL-portable. */
  case object Md5Hash56 extends GramHash
}

/** The per-partition winnowing loop behind [[WinnowFingerprints]]: the gram
  * byte buffer, the hash/minimum arrays and the MD5 state are allocated
  * once and grown on demand, so a row allocates only its output array. */
final class WinnowKernel(k: Int, w: Int, md5: Boolean) {

  private[this] var buf = new Array[Byte](256)
  private[this] var hashes = new Array[Long](64)
  private[this] var mins = new Array[Long](64)
  private[this] val digest = if (md5) MessageDigest.getInstance("MD5") else null
  private[this] val digestOut = new Array[Byte](16)

  def fingerprints(tokens: ArrayData): UnsafeArrayData = {
    val n = tokens.numElements()
    val nGrams = if (n < k) 1 else n - k + 1
    if (hashes.length < nGrams) {
      hashes = new Array[Long](nGrams)
      mins = new Array[Long](nGrams)
    }
    var g = 0
    while (g < nGrams) {
      hashes(g) = gramHash(tokens, g, math.min(g + k, n))
      g += 1
    }
    val nWindows = if (nGrams < w) 1 else nGrams - w + 1
    var i = 0
    while (i < nWindows) {
      var m = hashes(i)
      var j = i + 1
      val end = math.min(i + w, nGrams)
      while (j < end) { if (hashes(j) < m) m = hashes(j); j += 1 }
      mins(i) = m
      i += 1
    }
    java.util.Arrays.sort(mins, 0, nWindows)
    var distinct = 1
    i = 1
    while (i < nWindows) {
      if (mins(i) != mins(distinct - 1)) { mins(distinct) = mins(i); distinct += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins, Platform.LONG_ARRAY_OFFSET, distinct, 8)
  }

  /** Hash of tokens [from, until) joined by single spaces. */
  private def gramHash(tokens: ArrayData, from: Int, until: Int): Long = {
    var len = 0
    var first = true
    var t = from
    while (t < until) {
      if (!tokens.isNullAt(t)) {
        val s = tokens.getUTF8String(t)
        val need = len + s.numBytes + 1
        if (need > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
        if (first) first = false else { buf(len) = ' '; len += 1 }
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += s.numBytes
      }
      t += 1
    }
    if (md5) {
      digest.update(buf, 0, len)
      digest.digest(digestOut, 0, 16)
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (digestOut(b) & 0xffL); b += 1 }
      h
    } else XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
  }
}
