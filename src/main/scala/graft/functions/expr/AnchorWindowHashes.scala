package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct md5 hashes of the fixed-width character windows anchored at
  * WORD STARTS of the normalized text — the map-side kernel of the
  * substring-overlap dedup (p26), fused into one byte pass.
  *
  * Byte-identical to the composable pipeline over `normText(text)`:
  * `array_distinct(transform(filter(sequence(1, len-W+1),
  * i -> i = 1 OR substring(norm, i-1, 1) = ' '),
  * i -> md5(substring(norm, i, W))))` — and therefore to the DuckDB
  * oracle's regexp-normalized window CTE. Parity asserted in DedupSpec
  * over the documents table plus Unicode edge cases.
  *
  * Why an Expression: the composable form materializes a text-length
  * integer array per row, probes one single-character substring per
  * position, and runs entirely interpreted (higher-order functions are
  * CodegenFallback and evict the surrounding projection from whole-stage
  * codegen) — it was the dominant cost of the bench's slowest query.
  * This pass lowers once ([[CollationSupport.Lower.execBinary]], the
  * exact UTF8_BINARY branch of the built-in `lower()`), collapses
  * non-[a-z0-9] runs to single spaces byte-wise (multibyte UTF-8 units
  * have the high bit set, so byte-class tests equal the regex's
  * code-point semantics — the [[TrigramShingles]] equivalence), then
  * digests only at anchors. Null text → null; normalized text shorter
  * than the window → empty array. Registered as SQL function
  * `anchor_window_hashes` by [[graft.GraftExtensions]]. */
case class AnchorWindowHashes(child: Expression, windowLen: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if windowLen >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"anchor_window_hashes requires a positive window, got $windowLen")
    case other => TypeCheckResult.TypeCheckFailure(
      s"anchor_window_hashes requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "anchor_window_hashes"

  override def nullSafeEval(s: Any): Any =
    AnchorWindowHashes.compute(s.asInstanceOf[UTF8String], windowLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.AnchorWindowHashes.compute($c, $windowLen)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AnchorWindowHashes {

  private val Empty: ArrayData = new GenericArrayData(new Array[Any](0))

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, w: Int): ArrayData = {
    val (norm, n) = AnchorKernel.normalize(text)
    if (n < w) return Empty
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val md = AnchorKernel.digest()
    var p = 0
    val last = n - w
    while (p <= last) {
      if (p == 0 || norm(p - 1) == ' ')
        seen.add(AnchorKernel.md5Hex(md, norm, p, w))
      p += 1
    }
    if (seen.isEmpty) return Empty
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }
}

/** The byte-pass machinery the anchor-window kernels share (ONE source
  * of truth: a drift between the pair/scrub kernels would silently break
  * the parity with the composable window hashes that DedupSpec pins). */
private[expr] object AnchorKernel {

  private val HexChars = "0123456789abcdef".getBytes
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def digest(): java.security.MessageDigest = Md5.get()

  /** normText in one byte pass: lower (UTF8_BINARY branch of the
    * built-in), collapse non-[a-z0-9] runs to ONE space, trim. Returns
    * the buffer and its filled length. */
  def normalize(text: UTF8String): (Array[Byte], Int) = {
    val lowered = CollationSupport.Lower.execBinary(text).getBytes
    val norm = new Array[Byte](lowered.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < lowered.length) {
      val b = lowered(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && n > 0) { norm(n) = ' '; n += 1 }
        pendingSpace = false
        norm(n) = b
        n += 1
      } else pendingSpace = true
      i += 1
    }
    (norm, n)
  }

  /** Lowercase-hex md5 of `bytes[off, off+len)` as UTF8String. */
  def md5Hex(md: java.security.MessageDigest, bytes: Array[Byte],
             off: Int, len: Int): UTF8String = {
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    val hex = new Array[Byte](32)
    var k = 0
    while (k < 16) {
      hex(2 * k) = HexChars((d(k) >> 4) & 0xf)
      hex(2 * k + 1) = HexChars(d(k) & 0xf)
      k += 1
    }
    UTF8String.fromBytes(hex)
  }
}
