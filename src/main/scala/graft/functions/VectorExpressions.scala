package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd cosine similarity over two double arrays.
  *
  * The `functions._` formulation (aggregate ∘ zip_with) routes through
  * interpreted higher-order functions — measured as the dominant cost of
  * the ANN operators. This native expression generates a single fused
  * loop inside whole-stage codegen. Accumulation order (index-ascending
  * dot and norms, sqrt·sqrt denominator) exactly matches the HOF
  * formulation it replaces, so oracle results are bit-identical. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd exact-integer L1 (Manhattan) distance over two
  * `array<bigint>` columns — Σ |a_i − b_i|.
  *
  * Why native (r15, c89's lesson): the `aggregate ∘ zip_with`
  * formulation evaluates an interpreted lambda per element; on the
  * perceptual pair verify that is 64 interpreted ops per candidate
  * pair, the hot loop of the suite's most expensive row. This is the
  * integer sibling of [[CosineSimilarity]] — one fused loop inside
  * whole-stage codegen, exact long arithmetic (inputs are pixel/sample
  * values, |diff| ≤ 255·64 here — no overflow at any realistic width).
  *
  * Loud, not lossy (r16, ADVICE): unequal lengths or a null element
  * throw rather than silently summing a prefix / reading garbage —
  * the HOF twin returns null there, and a value-identity claim that
  * silently diverges on edge inputs is worse than a refusal. */
case class L1Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_l1"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"graft_l1: array lengths differ ($n vs ${y.numElements()})")
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_l1: null element at index $i")
      s += math.abs(x.getLong(i) - y.getLong(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_l1: array lengths differ (" + $n + " vs " +
         |      $b.numElements() + ")");
         |}
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "graft_l1: null element at index " + $i);
         |  }
         |  $s += java.lang.Math.abs($a.getLong($i) - $b.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L1Distance =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd random-hyperplane LSH bucket (SURVEY §2 c6/c11): one char per
  * plane, '1' iff the vector's dot product with that plane is ≥ 0. The
  * embedding is first quantized to fixed-point 1e-4 integers (half away
  * from zero — the rounding both Spark's `round` and DuckDB's `round`
  * use) and the planes carry integer entries, so every dot product is
  * exact integer arithmetic: the bucket is bit-reproducible in any engine
  * regardless of summation order, which is what lets the DuckDB oracle
  * recompute it from inlined plane literals. Replaces the round-5
  * axis-aligned sign bucket — a degenerate plane family whose recall
  * collapses on anisotropic embeddings. */
case class HyperplaneBucket(child: Expression, planes: Array[Array[Long]])
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    // loud, not lossy: silently bucketing on a PREFIX of the vector would
    // give plausible-but-wrong buckets (and the DuckDB oracle's
    // list_dot_product errors on unequal lengths — the engines must agree)
    require(n == planes(0).length,
      s"graft_lsh_bucket: vector has $n dims, planes expect ${planes(0).length}")
    val fixed = new Array[Long](n)
    var d = 0
    while (d < n) {
      // half away from zero via an EXACT fraction compare (ax - floor(ax)
      // is exact in IEEE doubles): floor(x + 0.5) would round the addition
      // first and disagree with C round() / DuckDB on values one ulp below
      // a half-integer
      val x = v.getDouble(d) * 10000.0
      val ax = math.abs(x)
      val fl = math.floor(ax)
      val r = fl.toLong + (if (ax - fl >= 0.5) 1L else 0L)
      fixed(d) = if (x < 0) -r else r
      d += 1
    }
    val chars = new Array[Byte](planes.length)
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var acc = 0L
      var i = 0
      while (i < n) { acc += fixed(i) * p(i); i += 1 }
      chars(j) = if (acc >= 0L) '1' else '0'
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(chars)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.addReferenceObj("planes", planes, "long[][]")
      val n = ctx.freshName("n")
      val fixed = ctx.freshName("fixed")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val pj = ctx.freshName("pj")
      val out = ctx.freshName("out")
      val ax = ctx.freshName("ax")
      val fl = ctx.freshName("fl")
      val r = ctx.freshName("r")
      s"""
         |int $n = $a.numElements();
         |if ($n != ${planes(0).length})
         |  throw new IllegalArgumentException(
         |    "graft_lsh_bucket: vector has " + $n + " dims, planes expect ${planes(0).length}");
         |long[] $fixed = new long[$n];
         |for (int $d = 0; $d < $n; $d++) {
         |  double $x = $a.getDouble($d) * 10000.0;
         |  double $ax = Math.abs($x);
         |  double $fl = Math.floor($ax);
         |  long $r = (long) $fl + (($ax - $fl >= 0.5) ? 1L : 0L);
         |  $fixed[$d] = $x < 0 ? -$r : $r;
         |}
         |byte[] $out = new byte[$p.length];
         |for (int $j = 0; $j < $p.length; $j++) {
         |  long[] $pj = $p[$j];
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) { $acc += $fixed[$i] * $pj[$i]; }
         |  $out[$j] = (byte) ($acc >= 0L ? '1' : '0');
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** Codegen'd random projection (Johnson–Lindenstrauss reduction, SURVEY §2
  * c28): the full integer dot-product vector against every plane — the
  * vector-valued generalization of [[HyperplaneBucket]], which keeps only
  * the signs. Shares the fixed-point 1e-4 quantization contract, so every
  * output coordinate is an exact integer reproducible in any engine
  * (the DuckDB oracle recomputes them from inlined plane literals). With
  * integer plane entries that are Irwin–Hall sums of four uniforms
  * (≈ Gaussian, variance σ² ≈ 4·255²/12 per coordinate), proj/σ is a
  * standard JL projection: pairwise angles are preserved in expectation
  * with distortion O(1/√planes). */
case class HyperplaneProject(child: Expression, planes: Array[Array[Long]])
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_project"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    // same loud dim check as HyperplaneBucket: a prefix projection would
    // be silently wrong, and the oracle's list_dot_product would error
    require(n == planes(0).length,
      s"graft_lsh_project: vector has $n dims, planes expect ${planes(0).length}")
    val fixed = new Array[Long](n)
    var d = 0
    while (d < n) {
      val x = v.getDouble(d) * 10000.0
      val ax = math.abs(x)
      val fl = math.floor(ax)
      val r = fl.toLong + (if (ax - fl >= 0.5) 1L else 0L)
      fixed(d) = if (x < 0) -r else r
      d += 1
    }
    val out = new Array[Long](planes.length)
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var acc = 0L
      var i = 0
      while (i < n) { acc += fixed(i) * p(i); i += 1 }
      out(j) = acc
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.addReferenceObj("planes", planes, "long[][]")
      val n = ctx.freshName("n")
      val fixed = ctx.freshName("fixed")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val pj = ctx.freshName("pj")
      val out = ctx.freshName("out")
      val ax = ctx.freshName("ax")
      val fl = ctx.freshName("fl")
      val r = ctx.freshName("r")
      s"""
         |int $n = $a.numElements();
         |if ($n != ${planes(0).length})
         |  throw new IllegalArgumentException(
         |    "graft_lsh_project: vector has " + $n + " dims, planes expect ${planes(0).length}");
         |long[] $fixed = new long[$n];
         |for (int $d = 0; $d < $n; $d++) {
         |  double $x = $a.getDouble($d) * 10000.0;
         |  double $ax = Math.abs($x);
         |  double $fl = Math.floor($ax);
         |  long $r = (long) $fl + (($ax - $fl >= 0.5) ? 1L : 0L);
         |  $fixed[$d] = $x < 0 ? -$r : $r;
         |}
         |long[] $out = new long[$p.length];
         |for (int $j = 0; $j < $p.length; $j++) {
         |  long[] $pj = $p[$j];
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) { $acc += $fixed[$i] * $pj[$i]; }
         |  $out[$j] = $acc;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneProject =
    copy(child = newChild)
}

/** Codegen'd IVF cell assignment (SURVEY §2 c18/c31): given a vector and
  * the codebook as an array of (cell, centroid) structs, return the
  * top-`maxProbe` cells ordered by (6-dp-rounded cosine DESC, cell ASC) —
  * the stateless struct-argmax of the batch assignment, fused into one
  * native loop. Replaces the `transform` → `array_sort` → `slice` HOF
  * chain, which runs interpreted per row (closure dispatch + Round's
  * BigDecimal per cell + a full sort of k structs); here the k cosines
  * and the top-maxProbe insertion happen in a single generated loop
  * inside whole-stage codegen. Semantics are EXACTLY the HOF chain's:
  * scores rounded via BigDecimal HALF_UP at scale 6 (what Spark's
  * `round` does for doubles), comparison by `Double.compare` (the total
  * order `array_sort` uses), ties to the LOWEST cell. Output:
  * array<struct<cell, ccos>> in rank order. */
case class NearestCells(left: Expression, right: Expression, maxProbe: Int)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

  // fail at plan build, not as a NegativeArraySizeException per row in
  // the executor (same rationale as lshPlanes' nPlanes guard)
  require(maxProbe >= 1, s"maxProbe must be >= 1, got $maxProbe")

  private lazy val cellDt: DataType = right.dataType match {
    case ArrayType(StructType(fields), _) if fields.length == 2 =>
      // centroids are read with getDouble: any other element type would be
      // reinterpreted as garbage (float32) or crash (decimal) per row —
      // reject at plan build with a clear message instead
      fields(1).dataType match {
        case ArrayType(DoubleType, _) =>
        case other => throw new IllegalArgumentException(
          s"graft_nearest_cells: centroid field must be array<double>, got $other")
      }
      fields(0).dataType match {
        case t @ (IntegerType | LongType) => t
        case other => throw new IllegalArgumentException(
          s"graft_nearest_cells: cell field must be int/bigint, got $other")
      }
    case other => throw new IllegalArgumentException(
      s"graft_nearest_cells: codebook must be array<struct<cell, centroid>>, got $other")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("cell", cellDt, nullable = false),
      StructField("ccos", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  override def nullSafeEval(vec: Any, cb: Any): Any = {
    val v = vec.asInstanceOf[ArrayData]
    val cells = cb.asInstanceOf[ArrayData]
    val k = cells.numElements()
    val keep = math.min(maxProbe.toLong, k.toLong).toInt
    val topCos = new Array[Double](keep)
    val topCell = new Array[Long](keep)
    var filled = 0
    var j = 0
    while (j < k) {
      val row = cells.getStruct(j, 2)
      val cell = if (cellDt == LongType) row.getLong(0) else row.getInt(0).toLong
      val cv = row.getArray(1)
      val n = NearestCells.checkedDim(v.numElements(), cv.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = v.getDouble(i); val yi = cv.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val c = NearestCells.round6(dot / (math.sqrt(na) * math.sqrt(nb)))
      var p = filled
      while (p > 0 && {
        val cmp = java.lang.Double.compare(c, topCos(p - 1))
        cmp > 0 || (cmp == 0 && cell < topCell(p - 1))
      }) p -= 1
      if (p < keep) {
        var q = math.min(filled, keep - 1)
        while (q > p) { topCos(q) = topCos(q - 1); topCell(q) = topCell(q - 1); q -= 1 }
        topCos(p) = c; topCell(p) = cell
        if (filled < keep) filled += 1
      }
      j += 1
    }
    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      val cellVal: Any =
        if (cellDt == LongType) topCell(r) else topCell(r).toInt
      out(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](cellVal, topCos(r)))
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cellIsLong = cellDt == LongType
      val getCell = if (cellIsLong) "getLong(0)" else "getInt(0)"
      val k = ctx.freshName("k"); val keep = ctx.freshName("keep")
      val topCos = ctx.freshName("topCos"); val topCell = ctx.freshName("topCell")
      val filled = ctx.freshName("filled"); val j = ctx.freshName("j")
      val row = ctx.freshName("row"); val cell = ctx.freshName("cell")
      val cv = ctx.freshName("cv"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      val c = ctx.freshName("c"); val p = ctx.freshName("p")
      val q = ctx.freshName("q"); val cmp = ctx.freshName("cmp")
      val out = ctx.freshName("out"); val r = ctx.freshName("r")
      s"""
         |int $k = $b.numElements();
         |int $keep = (int) Math.min((long) $maxProbe, (long) $k);
         |double[] $topCos = new double[$keep];
         |long[] $topCell = new long[$keep];
         |int $filled = 0;
         |for (int $j = 0; $j < $k; $j++) {
         |  org.apache.spark.sql.catalyst.InternalRow $row = $b.getStruct($j, 2);
         |  long $cell = (long) $row.$getCell;
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $row.getArray(1);
         |  int $n = graft.functions.NearestCells.checkedDim($a.numElements(), $cv.numElements());
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $a.getDouble($i);
         |    double $yi = $cv.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  double $c = graft.functions.NearestCells.round6(
         |    $dot / (Math.sqrt($na) * Math.sqrt($nb)));
         |  int $p = $filled;
         |  while ($p > 0) {
         |    int $cmp = Double.compare($c, $topCos[$p - 1]);
         |    if ($cmp > 0 || ($cmp == 0 && $cell < $topCell[$p - 1])) $p--; else break;
         |  }
         |  if ($p < $keep) {
         |    for (int $q = Math.min($filled, $keep - 1); $q > $p; $q--) {
         |      $topCos[$q] = $topCos[$q - 1]; $topCell[$q] = $topCell[$q - 1];
         |    }
         |    $topCos[$p] = $c; $topCell[$p] = $cell;
         |    if ($filled < $keep) $filled++;
         |  }
         |}
         |Object[] $out = new Object[$filled];
         |for (int $r = 0; $r < $filled; $r++) {
         |  $out[$r] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{${if (cellIsLong) s"java.lang.Long.valueOf($topCell[$r])"
              else s"java.lang.Integer.valueOf((int) $topCell[$r])"},
         |      java.lang.Double.valueOf($topCos[$r])});
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCells =
    copy(left = newLeft, right = newRight)
}

object NearestCells {
  /** Spark's `round(x, 6)` for doubles: BigDecimal.valueOf (i.e. the
    * Double.toString representation) + HALF_UP at scale 6. Non-finite
    * values pass through (they cannot round, and BigDecimal.valueOf
    * would throw). */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Loud, not lossy (the HyperplaneBucket rule): a width-mismatched
    * codebook — e.g. a truncated or mispointed `--codebook` artifact —
    * must error instead of silently assigning cells from a vector
    * prefix. Returns the common width. */
  def checkedDim(vlen: Int, clen: Int): Int = {
    if (vlen != clen) throw new IllegalArgumentException(
      s"graft_nearest_cells: vector width $vlen != centroid width $clen — " +
        "codebook does not match the embedding column")
    vlen
  }
}

/** Column-API entry points for the native vector expressions. */
object VectorFunctions {
  /** Cosine similarity of two `array<double>` columns (float arrays: cast
    * first — `Cast` to array<double> is itself codegen'd). */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a.cast("array<double>")),
      ColumnBridge.expression(b.cast("array<double>"))))

  /** Seeded deterministic LSH planes: entry (j, d) is the sum of the first
    * four bytes of md5("<seed>:plane:<j>:<d>") minus 510 — an Irwin–Hall
    * sum of four uniforms, i.e. a symmetric integer approximation of a
    * Gaussian in [-510, 510]. Every coordinate of every plane is non-zero
    * with overwhelming probability and all directions are equally likely,
    * unlike the axis-aligned family this replaces. Deterministic: any
    * engine (or the DuckDB oracle at SQL-build time) regenerates the
    * identical matrix from the seed. */
  def lshPlanes(nPlanes: Int, dim: Int, seed: String = "graft"): Array[Array[Long]] = {
    // validate here (not just at the SQL-builder seam): nPlanes <= 0 would
    // build an empty matrix and the downstream planes(0) dim check would
    // surface as a bare ArrayIndexOutOfBoundsException at eval time
    require(nPlanes >= 1, s"nPlanes must be >= 1, got $nPlanes")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    Array.tabulate(nPlanes) { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { d =>
        val h = md.digest(s"$seed:plane:$j:$d".getBytes("UTF-8"))
        ((h(0) & 0xff) + (h(1) & 0xff) + (h(2) & 0xff) + (h(3) & 0xff) - 510).toLong
      }
    }
  }

  /** Exact-integer L1 distance of two `array<bigint>` columns (see
    * [[L1Distance]]). */
  def l1(a: Column, b: Column): Column =
    ColumnBridge.column(L1Distance(
      ColumnBridge.expression(a.cast("array<bigint>")),
      ColumnBridge.expression(b.cast("array<bigint>"))))

  /** Random-hyperplane LSH bucket of an embedding column (see
    * [[HyperplaneBucket]]). */
  def hyperplaneBucket(emb: Column, planes: Array[Array[Long]]): Column =
    ColumnBridge.column(HyperplaneBucket(
      ColumnBridge.expression(emb.cast("array<double>")), planes))

  /** Full integer projection of an embedding onto `planes` (see
    * [[HyperplaneProject]]). */
  def hyperplaneProject(emb: Column, planes: Array[Array[Long]]): Column =
    ColumnBridge.column(HyperplaneProject(
      ColumnBridge.expression(emb.cast("array<double>")), planes))

  /** Top-`maxProbe` codebook cells of a vector by rounded cosine (see
    * [[NearestCells]]); `codebook` is an array<struct<cell, centroid>>
    * column. */
  def nearestCells(vec: Column, codebook: Column, maxProbe: Int): Column =
    ColumnBridge.column(NearestCells(
      ColumnBridge.expression(vec.cast("array<double>")),
      ColumnBridge.expression(codebook), maxProbe))
}

/** SparkSessionExtensions hook registering graft's native functions for
  * SQL use (`SELECT graft_cosine(a, b)`) and graft's `lower()` rewrite
  * ([[TextCase.RewriteLower]]). Install via
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or `SparkSession.builder.withExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // lower() without ICU's title-case table (see TextCase); at analysis,
    // so no optimizer rule folds a constant through Spark's Lower first
    ext.injectPostHocResolutionRule(_ => TextCase.RewriteLower)
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      // cast in the builder: CosineSimilarity reads raw double slots, so
      // un-cast inputs (e.g. a float32 embedding column) would be garbage
      (children: Seq[Expression]) => {
        arity(children, "graft_cosine", 2, 2)
        CosineSimilarity(
          castToDoubleArray(children.head), castToDoubleArray(children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_l1"),
      new ExpressionInfo(classOf[L1Distance].getName, "graft_l1"),
      (children: Seq[Expression]) => {
        arity(children, "graft_l1", 2, 2)
        L1Distance(
          castToLongArray(children.head), castToLongArray(children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => {
        arity(children, "graft_simhash64", 1, 1)
        SimHash64(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash32_md5"),
      new ExpressionInfo(classOf[SimHash32Md5].getName, "graft_simhash32_md5"),
      (children: Seq[Expression]) => {
        arity(children, "graft_simhash32_md5", 1, 1)
        SimHash32Md5(children.head)
      }))
    // graft_lsh_bucket(emb, nPlanes[, dim[, seed]]) — c6/c11's seeded
    // sign bucket; defaults match the Column API (dim 64, seed "graft")
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "graft_lsh_bucket"),
      (children: Seq[Expression]) => {
        arity(children, "graft_lsh_bucket", 2, 4)
        HyperplaneBucket(
          castToDoubleArray(children.head),
          VectorFunctions.lshPlanes(
            foldableInt(children, 1, "nPlanes"),
            if (children.length > 2) foldableInt(children, 2, "dim") else 64,
            if (children.length > 3) foldableString(children, 3, "seed") else "graft"))
      }))
    // graft_nearest_cells(vec, codebook, maxProbe) — the c18/c31/c36
    // assignment argmax; codebook is an array<struct<cell, centroid>>
    // (fold one with sort_array(collect_list(struct(cell, centroid))))
    ext.injectFunction((
      FunctionIdentifier("graft_nearest_cells"),
      new ExpressionInfo(classOf[NearestCells].getName, "graft_nearest_cells"),
      (children: Seq[Expression]) => {
        arity(children, "graft_nearest_cells", 3, 3)
        NearestCells(
          castToDoubleArray(children.head),
          castCentroidsToDouble(children(1)),
          foldableInt(children, 2, "maxProbe"))
      }))
    // graft_lsh_project(emb, nPlanes[, dim[, seed]]) — c28's JL
    // projection; default seed matches c28 ("graft:rp")
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_project"),
      new ExpressionInfo(classOf[HyperplaneProject].getName, "graft_lsh_project"),
      (children: Seq[Expression]) => {
        arity(children, "graft_lsh_project", 2, 4)
        HyperplaneProject(
          castToDoubleArray(children.head),
          VectorFunctions.lshPlanes(
            foldableInt(children, 1, "nPlanes"),
            if (children.length > 2) foldableInt(children, 2, "dim") else 64,
            if (children.length > 3) foldableString(children, 3, "seed") else "graft:rp"))
      }))
    // graft_byte_stage / graft_byte_unstage — c70's GPT-2 byte-level BPE
    // staging pair (r12)
    ext.injectFunction((
      FunctionIdentifier("graft_byte_stage"),
      new ExpressionInfo(classOf[ByteStage].getName, "graft_byte_stage"),
      (children: Seq[Expression]) => {
        arity(children, "graft_byte_stage", 1, 1)
        ByteStage(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_byte_unstage"),
      new ExpressionInfo(classOf[ByteUnstage].getName, "graft_byte_unstage"),
      (children: Seq[Expression]) => {
        arity(children, "graft_byte_unstage", 1, 1)
        ByteUnstage(children.head)
      }))
    // graft_uni_tokens(text[, strip_punct]) — the NFC/Unicode-whitespace
    // tokenizer variant (SURVEY §2 tokenizer note)
    ext.injectFunction((
      FunctionIdentifier("graft_uni_tokens"),
      new ExpressionInfo(classOf[UniTokens].getName, "graft_uni_tokens"),
      (children: Seq[Expression]) => {
        arity(children, "graft_uni_tokens", 1, 2)
        UniTokens(children.head,
          children.length > 1 && foldableBoolean(children, 1, "strip_punct"))
      }))
    // graft_winnow_fps(text[, k, w]) — c57's winnowing fingerprint
    // selector; defaults are the gate geometry (k=4, w=5)
    ext.injectFunction((
      FunctionIdentifier("graft_winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "graft_winnow_fps"),
      (children: Seq[Expression]) => {
        arity(children, "graft_winnow_fps", 1, 3)
        WinnowFps(children.head,
          if (children.length > 1) foldableInt(children, 1, "k")
          else graft.operators.TextOps.WinnowK,
          if (children.length > 2) foldableInt(children, 2, "w")
          else graft.operators.TextOps.WinnowW)
      }))
    // graft_gpt2_pretokens(text) — the EXACT published GPT-2
    // pre-tokenizer (lookahead pattern — Java regex; gate rows keep the
    // parity-safe ` ?[^ ]+` core for oracle exactness, see
    // Gpt2Pretokenize.scala)
    ext.injectFunction((
      FunctionIdentifier("graft_gpt2_pretokens"),
      new ExpressionInfo(classOf[Gpt2Pretokens].getName, "graft_gpt2_pretokens"),
      (children: Seq[Expression]) => {
        arity(children, "graft_gpt2_pretokens", 1, 1)
        Gpt2Pretokens(children.head)
      }))
    // graft_apply_bpe(word, merges) — the fused greedy merge loop; the
    // merge list is a FOLDABLE array(array(a, b), ...) in rank order (a
    // model/plan constant by design — c52/c70 inline it the same way)
    ext.injectFunction((
      FunctionIdentifier("graft_apply_bpe"),
      new ExpressionInfo(classOf[ApplyBpe].getName, "graft_apply_bpe"),
      (children: Seq[Expression]) => {
        arity(children, "graft_apply_bpe", 2, 2)
        ApplyBpe(children.head, foldableMerges(children, 1))
      }))
  }

  private def foldableBoolean(children: Seq[Expression], i: Int,
                              name: String): Boolean = {
    val e = children(i)
    require(e.foldable, s"$name must be a literal, got $e")
    e.eval().asInstanceOf[Boolean]
  }

  /** A foldable array(array(a, b), ...) of rank-ordered merge pairs. */
  private def foldableMerges(children: Seq[Expression],
                             i: Int): Seq[(String, String)] = {
    val e = children(i)
    require(e.foldable,
      "merges must be a literal array of 2-element string arrays " +
        s"(the trained artifact inlined as a plan constant), got $e")
    e.eval() match {
      case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
        val elemType = e.dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        (0 until arr.numElements()).map(j => arr.get(j, elemType) match {
          case pair: org.apache.spark.sql.catalyst.util.ArrayData
              if pair.numElements() == 2 =>
            (pair.getUTF8String(0).toString, pair.getUTF8String(1).toString)
          case other => throw new IllegalArgumentException(
            s"graft_apply_bpe: each merge must be a 2-element string " +
              s"array, got $other")
        })
      case other => throw new IllegalArgumentException(
        s"graft_apply_bpe: merges must be an array of 2-element string " +
          s"arrays, got $other")
    }
  }

  /** Wrong-argument-count errors at analysis, not a silent head-take. */
  private def arity(children: Seq[Expression], fn: String,
                    min: Int, max: Int): Unit =
    require(children.length >= min && children.length <= max,
      if (min == max) s"$fn expects $min argument(s), got ${children.length}"
      else s"$fn expects $min to $max arguments, got ${children.length}")

  private def foldableInt(children: Seq[Expression], i: Int, name: String): Int = {
    val e = children(i)
    require(e.foldable, s"$name must be a literal, got $e")
    e.eval().asInstanceOf[Number].intValue()
  }

  private def foldableString(children: Seq[Expression], i: Int, name: String): String = {
    val e = children(i)
    require(e.foldable, s"$name must be a literal, got $e")
    e.eval().toString
  }

  private def castToDoubleArray(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.ArrayType(DoubleType))

  private def castToLongArray(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))

  /** Upcasts a codebook's centroid field to array<double> (keeping the
    * cell field's type), so the documented SQL recipe — folding float32
    * embedding slices with collect_list — just works. NearestCells reads
    * centroids with getDouble and would otherwise reject (or, uncast,
    * misread) non-double centroids. Shapes that aren't
    * array<struct<_, _>> pass through for NearestCells' own clear error. */
  private def castCentroidsToDouble(e: Expression): Expression = {
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    e.dataType match {
      case ArrayType(StructType(fields), n) if fields.length == 2 =>
        org.apache.spark.sql.catalyst.expressions.Cast(
          e, ArrayType(StructType(Seq(
            fields(0),
            StructField(fields(1).name, ArrayType(DoubleType), fields(1).nullable))), n))
      case _ => e
    }
  }
}
