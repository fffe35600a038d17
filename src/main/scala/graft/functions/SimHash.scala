package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared eval for [[SimHash64]] — also the body the generated code calls.
  *
  * Token semantics reproduce the `functions._` formulation bit-for-bit:
  * `split(lower(text), " ")` ([[TextCase.lower]] + UTF8String.split,
  * limit -1 — interior empty tokens survive, exactly like StringSplit),
  * distinct tokens, per-token `xxhash64` (XXH64.hashUTF8String, seed 42 —
  * the same call Spark's hash expression generates), ±1 vote per bit,
  * sign of the vote total becomes the bit.
  */
object SimHashUtil {
  private val Space = UTF8String.fromString(" ")

  def simhash64(s: UTF8String, icu: Boolean): Long = {
    val toks = TextCase.lower(s, icu).split(Space, -1)
    val seen = new java.util.HashSet[UTF8String](toks.length * 2)
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val h = XXH64.hashUTF8String(t, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }
}

/** Shared eval for [[SimHash32Md5]] — the md5-hex 32-bit simhash the c3
  * gate query pins (bit i of a token = high bit of md5 hex digit i, i.e.
  * nibble ≥ 8 — lexicographically exact on hex, so DuckDB reproduces every
  * bit from SQL md5/substr). Token semantics identical to [[SimHashUtil]].
  */
object SimHash32Md5Util {
  private val Space = UTF8String.fromString(" ")

  // one digest per thread: getInstance per row would dominate the loop
  private val Digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def simhash32(s: UTF8String, icu: Boolean): Long = {
    val md = Digest.get()
    val toks = TextCase.lower(s, icu).split(Space, -1)
    val seen = new java.util.HashSet[UTF8String](toks.length * 2)
    val votes = new Array[Int](32)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        md.reset()
        val digest = md.digest(t.getBytes)
        // hex digit i is the high (even i) or low (odd i) nibble of byte i/2
        var b = 0
        while (b < 32) {
          val nibble =
            if ((b & 1) == 0) (digest(b >> 1) >> 4) & 0xF
            else digest(b >> 1) & 0xF
          if (nibble >= 8) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }
}

/** Codegen'd 32-bit md5-hex SimHash (the oracle-portable gate variant —
  * see [[SimHash32Md5Util]]). Replaces an explode + 32-conditional-sum
  * aggregate (a shuffle plus a wide hash-aggregate) with one projection. */
case class SimHash32Md5(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash32_md5"

  // lowercases like lower() under the session's ICU conf
  private lazy val icu = TextCase.icuCaseMappings

  override def nullSafeEval(input: Any): Any =
    SimHash32Md5Util.simhash32(input.asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash32Md5Util.simhash32($c, $icu)")

  override protected def withNewChildInternal(newChild: Expression): SimHash32Md5 =
    copy(child = newChild)
}

/** Codegen'd 64-bit SimHash of a string column.
  *
  * Why native: the batch formulation (explode tokens → groupBy(doc) →
  * 64 conditional sums) costs a shuffle and a wide aggregate, and is not
  * expressible AT ALL as a per-row value inside a streaming pipeline
  * without adding a second stateful operator. This expression computes the
  * same value in one codegen'd projection — usable in any stream or scan
  * stage. (Reference capability: near-dup fingerprinting of the document
  * stream; bolson has no analogue — this serves SURVEY §2 c3/d6.) */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  // lowercases like lower() under the session's ICU conf
  private lazy val icu = TextCase.icuCaseMappings

  override def nullSafeEval(input: Any): Any =
    SimHashUtil.simhash64(input.asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashUtil.simhash64($c, $icu)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Column-API entry points. */
object TextFunctions {
  /** 64-bit simhash of a string column (see [[SimHash64]]). */
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))

  /** 32-bit md5-hex simhash (the oracle-portable variant, see
    * [[SimHash32Md5]]). */
  def simhash32md5(c: Column): Column =
    ColumnBridge.column(SimHash32Md5(ColumnBridge.expression(c)))
}
