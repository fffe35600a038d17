package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared eval engine for [[ApplyBpe]] — also the body the generated
  * code calls. One instance per expression; carries the merge list
  * pre-indexed for the row loop and ships to executors as a plan
  * reference object (the lshPlanes pattern, VectorExpressions.scala).
  *
  * Reproduces TextOps.applyBpeMerges bit-for-bit at the SYMBOL level:
  * the reference formulation stages the word as a double-space-fenced
  * symbol sequence and runs one literal `replace(" a  b ", " ab ")` per
  * merge — a literal replace scans left-to-right over non-overlapping
  * occurrences and resumes AFTER each replacement, which on the fenced
  * encoding is exactly one greedy BPE merge pass over the symbol array
  * (match syms(i)=a, syms(i+1)=b ⇒ emit ab, advance 2). This engine
  * runs those passes directly on a symbol array — but only for the
  * merges that can possibly fire: merges are INDEXED BY SIDE SYMBOL at
  * construction, and per word a rank-ordered FIREABLE bitset tracks
  * exactly the merge ranks whose sides are both live in the word's
  * symbol multiset (seeded from the word's distinct code points;
  * extended whenever a pass creates a new symbol). A natural word
  * touches a handful of index buckets out of a ~30k-merge vocabulary,
  * so per-word cost scales with the word, not the vocabulary — where
  * the replace-chain's PLAN is merge-count deep and stops analyzing
  * around a thousand merges. Sequential-pass semantics are preserved
  * exactly: ranks are visited strictly ascending, a rank is skipped
  * (lazily, by re-checking liveness at visit) if its sides were
  * consumed before its turn, and ranks below the cursor are never
  * revisited even when their sides reappear — precisely the
  * replace-chain's behavior.
  *
  * Domain guard: the fenced encoding is only well-defined for
  * space-free inputs (words, by construction of TextOps.words); a ' '
  * inside the input would BE the fence delimiter and the reference
  * replace-chain itself degenerates. Such inputs fail loudly here
  * rather than diverge silently.
  *
  * Initial symbols are Unicode code points — Java 8+ `split("")` (what
  * the reference's `split(w, "")` compiles to) does not split surrogate
  * pairs, and neither does this.
  */
final class BpeApplier(merges: Seq[(String, String)],
                       wordpiece: Boolean = false) extends Serializable {
  require(merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
    "BPE merge sides must be non-empty")
  require(merges.forall { case (a, b) =>
    a.indexOf(' ') < 0 && b.indexOf(' ') < 0 },
    "BPE merge symbols must not contain spaces (the fence delimiter)")

  private val as: Array[String] = merges.map(_._1).toArray
  private val bs: Array[String] = merges.map(_._2).toArray
  // WordPiece's merged-symbol rule absorbs the RIGHT side's continuation
  // marker (Wordpiece.mergedSym: "a"+"##b" → "ab"); BPE concatenates
  private val abs: Array[String] = merges.map { case (a, b) =>
    if (wordpiece && b.startsWith("##")) a + b.substring(2) else a + b
  }.toArray

  /** side symbol → ascending ranks of merges using it (as a OR b). */
  private val bySide: java.util.HashMap[String, Array[Int]] = {
    val tmp = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    def add(s: String, m: Int): Unit = {
      var l = tmp.get(s)
      if (l == null) { l = scala.collection.mutable.ArrayBuffer.empty[Int]; tmp.put(s, l) }
      // dedupe the (a == b) case so a rank lists once per side symbol
      if (l.isEmpty || l.last != m) { l += m; () }
    }
    var m = 0
    while (m < as.length) { add(as(m), m); add(bs(m), m); m += 1 }
    val out = new java.util.HashMap[String, Array[Int]](tmp.size * 2)
    tmp.forEach((k, v) => { out.put(k, v.toArray); () })
    out
  }

  def apply(s: UTF8String): ArrayData = {
    val str = s.toString
    if (str.indexOf(' ') >= 0)
      throw new IllegalArgumentException(
        "ApplyBpe input must be a single space-free word, got: " + str)
    // parity with the replace-chain on the degenerate empty word:
    // split("", "") = [""], the fence collapses to spaces, trim+split
    // yields [""] — one empty token
    if (str.isEmpty)
      return new GenericArrayData(
        Array[Any](UTF8String.fromString("")))
    // split into code-point symbols
    var cpn = 0
    var i = 0
    while (i < str.length) { cpn += 1; i += str.offsetByCodePoints(i, 1) - i }
    val syms = new Array[String](cpn)
    i = 0
    var j = 0
    while (i < str.length) {
      val next = str.offsetByCodePoints(i, 1)
      // WordPiece stages continuation positions "##"-marked
      // (Wordpiece.wpSeqOf): "abc" → ["a", "##b", "##c"]
      syms(j) =
        if (wordpiece && j > 0) "##" + str.substring(i, next)
        else str.substring(i, next)
      j += 1
      i = next
    }
    var n = cpn
    if (as.length == 0 || n < 2) {
      val out0 = new Array[Any](n)
      i = 0
      while (i < n) { out0(i) = UTF8String.fromString(syms(i)); i += 1 }
      return new GenericArrayData(out0)
    }
    // live-symbol multiset
    val cnt = new java.util.HashMap[String, Integer](Math.max(8, 2 * n))
    i = 0
    while (i < n) { cnt.merge(syms(i), BpeApplier.I1, BpeApplier.Sum); i += 1 }
    def live(sym: String): Boolean = {
      val c = cnt.get(sym)
      c != null && c.intValue > 0
    }
    // rank-ordered fireable bitset: rank m set ⇒ both sides of merge m
    // MAY be live (authoritative re-check happens at visit)
    val fire = new Array[Long]((as.length + 63) >>> 6)
    def mark(sym: String, above: Int): Unit = {
      val ranks = bySide.get(sym)
      if (ranks != null) {
        var k = 0
        while (k < ranks.length) {
          val m = ranks(k)
          if (m > above &&
              live(as(m)) && live(bs(m)))
            fire(m >>> 6) |= 1L << (m & 63)
          k += 1
        }
      }
    }
    // seed from the word's distinct symbols (rank filter: none yet)
    val seedIt = cnt.keySet().iterator()
    while (seedIt.hasNext) mark(seedIt.next(), -1)
    // visit fireable ranks strictly ascending
    var m = BpeApplier.nextSetBit(fire, 0)
    while (m >= 0 && n >= 2) {
      val a = as(m)
      val b = bs(m)
      if (live(a) && live(b)) {
        // one greedy left-to-right non-overlapping pass
        val ab = abs(m)
        var created = false
        var r = 0
        var o = 0
        while (r < n) {
          if (r + 1 < n && syms(r).equals(a) && syms(r + 1).equals(b)) {
            syms(o) = ab
            cnt.merge(a, BpeApplier.IM1, BpeApplier.Sum)
            cnt.merge(b, BpeApplier.IM1, BpeApplier.Sum)
            cnt.merge(ab, BpeApplier.I1, BpeApplier.Sum)
            created = true
            r += 2
          } else {
            syms(o) = syms(r)
            r += 1
          }
          o += 1
        }
        n = o
        // the new symbol may enable LATER merges only (sequential
        // semantics: ranks <= m already had their turn)
        if (created) mark(ab, m)
      }
      m = BpeApplier.nextSetBit(fire, m + 1)
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = UTF8String.fromString(syms(i)); i += 1 }
    new GenericArrayData(out)
  }
}

private object BpeApplier {
  val I1: Integer = Integer.valueOf(1)
  val IM1: Integer = Integer.valueOf(-1)

  /** Int-sum remapper for HashMap.merge (allocation-free vs boxing a
    * lambda per call site). */
  val Sum: java.util.function.BiFunction[Integer, Integer, Integer] =
    (x: Integer, y: Integer) => Integer.valueOf(x.intValue + y.intValue)

  /** First set bit at index >= from, or -1. */
  def nextSetBit(bits: Array[Long], from: Int): Int = {
    if (from >= (bits.length << 6)) return -1
    var w = from >>> 6
    var word = bits(w) & (-1L << (from & 63))
    while (true) {
      if (word != 0L) return (w << 6) + java.lang.Long.numberOfTrailingZeros(word)
      w += 1
      if (w == bits.length) return -1
      word = bits(w)
    }
    -1 // unreachable
  }
}

/** Codegen'd greedy BPE merge application (SURVEY §2 c52/d21).
  *
  * Why native: the `functions._` reference (TextOps.applyBpeMerges)
  * chains one literal `replace` per merge, so the Catalyst plan is
  * merge-count deep — fine at the gate's 8 learned merges, impossible at
  * a production tokenizer's ~30k (analysis blow-up, then codegen falls
  * back past the 64KB method limit). This expression carries the merge
  * list as ONE reference object and fuses the whole greedy loop into a
  * single JVM pass inside whole-stage codegen; plan depth is 1 at any
  * vocabulary size, and the side-symbol index makes per-word cost scale
  * with the word, not the vocabulary. The replace-chain stays in
  * TextOps as the independent reference the parity spec pins against.
  * (Reference capability: subword tokenization — Sennrich et al. 2016;
  * bolson has no analogue, extension rows c52/d21.) */
case class ApplyBpe(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  // constructed EAGERLY: merge-list validation (non-empty, space-free
  // sides) must fail at plan time with a clear message, not inside
  // generated code on an executor (the WinnowFps rule)
  private val applier = new BpeApplier(merges)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_apply_bpe"

  override def nullSafeEval(input: Any): Any =
    applier.apply(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeApplier", applier,
      classOf[BpeApplier].getName)
    defineCodeGen(ctx, ev, c => s"$ref.apply($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ApplyBpe =
    copy(child = newChild)
}

/** Codegen'd WordPiece TRAINER staging (SURVEY §2 c98, r17).
  *
  * Why native: `Wordpiece.applyWpMerges` chains one literal replace per
  * learned merge, so each training round's staging plan is
  * O(merges-so-far) nodes deep — O(rounds²) plan work across a training
  * run, the exact pre-r11 BPE shape [[ApplyBpe]] fused. Same fix, the
  * WordPiece differences folded in: continuation positions stage
  * "##"-marked (wpSeqOf's encoding) and a merge absorbs the right
  * side's marker (mergedSym's rule). Everything else — fenced
  * greedy-pass semantics, rank-ascending visits, the side-symbol index
  * that makes per-word cost scale with the word — is [[BpeApplier]]
  * with `wordpiece = true`. Plan depth is 1 at any merge count, so the
  * trainer holds constant per-round plan work at production depths
  * (100+ rounds spec-pinned). The replace chain stays in Wordpiece as
  * the independent parity reference.
  *
  * Serving is untouched: WordPiece APPLY never replays merges (greedy
  * longest-match against the final vocab — Wordpiece.segment); this
  * expression exists for the trainer's staged re-derivation only. */
case class ApplyWordpiece(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  // eager construction: loud plan-time validation (the ApplyBpe rule)
  private val applier = new BpeApplier(merges, wordpiece = true)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_apply_wordpiece"

  override def nullSafeEval(input: Any): Any =
    applier.apply(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wpApplier", applier,
      classOf[BpeApplier].getName)
    defineCodeGen(ctx, ev, c => s"$ref.apply($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ApplyWordpiece =
    copy(child = newChild)
}

/** Column-API entry point. */
object BpeFunctions {
  /** Token array of a space-free word column under an ordered BPE merge
    * list — the fused equivalent of TextOps.applyBpeMerges. */
  def applyBpe(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(ApplyBpe(ColumnBridge.expression(word), merges))

  /** Staged WordPiece symbol array of a space-free word column under an
    * ordered merge list — the fused equivalent of
    * split(trim(Wordpiece.applyWpMerges(wpSeqOf(w), merges)), "  "). */
  def applyWordpiece(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(ApplyWordpiece(ColumnBridge.expression(word), merges))
}
