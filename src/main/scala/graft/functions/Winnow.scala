package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared eval for [[WinnowFps]] — also the body the generated code calls.
  *
  * Reproduces the `functions._` reference formulation (TextOps.winnowGrams
  * ∘ winnowSelect) bit-for-bit: tokens = `split(lower(text), " ")`
  * ([[TextCase.lower]] + split limit −1, interior empties survive),
  * gram i = tokens i..i+k−1 joined by a single space, hashed to lowercase
  * md5 hex; each length-w hash window contributes its LEXICOGRAPHIC
  * minimum; the result is the sorted distinct selected set. md5 hex is
  * ASCII, so Java string order ≡ UTF8 byte order ≡ DuckDB's collation —
  * the oracle stays exact.
  */
object WinnowUtil {
  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  // one digest per thread: getInstance per row would dominate the loop
  private val Digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Unsigned byte-wise order over 16-byte digests ≡ lexicographic order
    * of their lowercase-hex renders (each byte maps to two hex chars
    * monotonically), so all comparisons stay on the raw digests and hex
    * materializes only for the few SELECTED fingerprints. */
  private val DigestOrder = new java.util.Comparator[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }

  def fingerprints(s: UTF8String, k: Int, w: Int, icu: Boolean): ArrayData = {
    // r20 byte-level pass (guide §1.2 per-task work): the first cut
    // converted every token to java.lang.String, built every gram
    // through a StringBuilder and re-encoded it to UTF-8 for the md5 —
    // measured as the top scala-frame of the suite's JFR profile
    // (c57/c81/d23/d25). Because the gram joiner equals the token
    // delimiter (one 0x20 byte), gram i..i+k−1 IS the byte slice of the
    // lowered text from token i's start to token i+k−1's end — interior
    // empty tokens and all — so the md5 streams straight from the
    // lowered bytes with zero string churn. Values are bit-identical:
    // same bytes hashed, same order (hex ≡ digest byte order).
    val bytes = TextCase.lower(s, icu).getBytes
    // token start offsets: 0 and the byte after every space (spaces
    // never occur inside a multi-byte UTF-8 sequence)
    var nToks = 1
    var p = 0
    while (p < bytes.length) { if (bytes(p) == ' ') nToks += 1; p += 1 }
    val nG = nToks - (k - 1)
    val nW = nG - (w - 1)
    if (nW < 1) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nToks + 1)
    var t = 1
    p = 0
    while (p < bytes.length) {
      if (bytes(p) == ' ') { starts(t) = p + 1; t += 1 }
      p += 1
    }
    starts(nToks) = bytes.length + 1 // sentinel: token i ends at starts(i+1)-1
    val md = Digest.get()
    val gs = new Array[Array[Byte]](nG)
    var i = 0
    while (i < nG) {
      val off = starts(i)
      val end = starts(i + k) - 1 // end of token i+k-1
      md.reset()
      md.update(bytes, off, end - off)
      gs(i) = md.digest()
      i += 1
    }
    // per-window minima on raw digests; TreeSet = distinct + sorted
    val sel = new java.util.TreeSet[Array[Byte]](DigestOrder)
    i = 0
    while (i < nW) {
      var m = gs(i)
      var j = 1
      while (j < w) {
        if (java.util.Arrays.compareUnsigned(gs(i + j), m) < 0) m = gs(i + j)
        j += 1
      }
      sel.add(m)
      i += 1
    }
    val out = new Array[UTF8String](sel.size)
    val it = sel.iterator()
    i = 0
    while (it.hasNext) {
      val d = it.next()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HexDigits((d(b) >> 4) & 0xF)
        hex(2 * b + 1) = HexDigits(d(b) & 0xF)
        b += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.asInstanceOf[Array[Any]])
  }
}

/** Codegen'd winnowing fingerprint selector (SURVEY §2 c57/d23).
  *
  * Why native: the `functions._` reference builds k-gram md5s and window
  * minima through nested higher-order TRANSFORMs — every lambda element
  * routes through interpreted eval, measured as the whole cost of c57
  * (1.4 s of a 38 s suite at sf0.1 for a purely row-local operator). This
  * expression fuses tokenize → hash → window-min → distinct → sort into
  * one JVM loop inside whole-stage codegen. The HOF formulation stays in
  * TextOps as the independent reference the parity spec pins against.
  * (Reference capability: document fingerprinting — Schleimer, Wilkerson
  * & Aiken 2003; bolson has no analogue, extension row c57.) */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  // plan-time validation: the Column API is public, and w <= 0 would
  // otherwise fail only at eval time as an executor-side
  // ArrayIndexOutOfBoundsException inside generated code
  require(k >= 1, s"winnow k-gram width must be >= 1, got $k")
  require(w >= 1, s"winnow window width must be >= 1, got $w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_winnow_fps"

  // lowercases like lower() under the session's ICU conf
  private lazy val icu = TextCase.icuCaseMappings

  override def nullSafeEval(input: Any): Any =
    WinnowUtil.fingerprints(input.asInstanceOf[UTF8String], k, w, icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowUtil.fingerprints($c, $k, $w, $icu)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** Column-API entry point. */
object WinnowFunctions {
  /** Sorted distinct winnowing fingerprints of a raw text column
    * (lowercasing happens inside — pass the text as stored). */
  def winnowFps(c: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFps(ColumnBridge.expression(c), k, w))
}
