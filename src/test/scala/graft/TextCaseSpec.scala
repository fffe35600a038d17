package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Lower}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions.{col, concat, lit, lower, split, when}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextCase, TextLower}
import graft.operators.{Dedup, TextOps}

/** graft's lowercase equals Spark's ICU `lower()` on every input, and a
  * graft session plans `lower()` through it exactly while the ICU case
  * mappings are on. */
class TextCaseSpec extends SparkSpec {

  private val Binary = CollationFactory.UTF8_BINARY_COLLATION_ID
  private val IcuConf = "spark.sql.icu.caseMappings.enabled"

  private def sparkLower(s: UTF8String): UTF8String =
    CollationSupport.Lower.exec(s, Binary, true)

  test("equals Spark's ICU lowercase on every code point but the surrogates") {
    val differ = (0 to 0x10FFFF).iterator
      .filterNot(cp => cp >= 0xD800 && cp <= 0xDFFF)
      .map(cp => UTF8String.fromString(new String(Character.toChars(cp))))
      .filter(s => TextCase.lower(s) != sparkLower(s))
      .take(5).toList
    assert(differ.isEmpty, s"first differing inputs: $differ")
  }

  test("equals Spark's ICU lowercase on mixed strings and invalid UTF-8") {
    val strings = Seq("", "ABC xyz 09", "MiXeD CaSe", "İstanbul", "ΟΔΟΣ ΣΑΣ Σ",
      "ǅ ǈ ǋ", "ẞ straße", "\u2C2F\uA7C0 \uA7CB \u1C89", "字 über ÑANDÚ 😀 A")
      .map(UTF8String.fromString)
    val invalid = Seq(Array(0xFF, 0x41), Array(0x41, 0xC3), Array(0xC3, 0x28, 0x5A),
      Array(0xED, 0xA0, 0x80, 0x42), Array(0xF4, 0x90, 0x80, 0x80))
      .map(b => UTF8String.fromBytes(b.map(_.toByte)))
    (strings ++ invalid).foreach(s => assert(TextCase.lower(s) == sparkLower(s), s))
  }

  /** The plan of `lower(text)` as a Column and in SQL, optimized and run:
    * the expressions it holds and the values, on rows with a null. The
    * text is no constant, so the optimized plan still holds the
    * expression. */
  private def lowered(): Seq[(LogicalPlan, Seq[Expression], Seq[String])] = {
    val docs = spark.range(0, 3, 1, 1).select(
      when(col("id") =!= 1, concat(lit("\u0391\u0392\u0393 Abc \u2C2F "), col("id")))
        .as("text"))
    docs.createOrReplaceTempView("text_case_docs")
    Seq(docs.select(lower(col("text"))),
        spark.sql("SELECT lower(text) FROM text_case_docs")).map { df: DataFrame =>
      val plan = df.queryExecution.optimizedPlan
      (plan, plan.flatMap(_.expressions).flatMap(_.collect {
        case e @ (_: Lower | _: TextLower) => e
      }), df.collect().map(_.getString(0)).toSeq)
    }
  }

  test("a graft session plans lower() as graft's lowercase while ICU mappings are on") {
    assert(spark.conf.get(IcuConf) == "true")
    lowered().foreach { case (plan, exprs, rows) =>
      assert(exprs.map(_.getClass) == Seq(classOf[TextLower]), plan)
      val low = "\u03B1\u03B2\u03B3 abc \u2C5F"
      assert(rows == Seq(s"$low 0", null, s"$low 2"))
    }
  }

  test("constants and local rows are lowercased by graft's lowercase too") {
    import spark.implicits._
    val text = "\u0391\u0392\u0393 Abc \u2C2F"
    val low = "\u03B1\u03B2\u03B3 abc \u2C5F"
    val shapes = Seq(
      spark.range(1).select(lower(lit(text))) -> Seq(low),
      spark.range(0, 2, 1, 1).select(
        lower(when(col("id") === 0, lit(text)).otherwise(lit("XY")))) -> Seq(low, "xy"),
      Seq(text, null).toDF("text").select(lower(col("text"))) -> Seq(low, null))
    shapes.foreach { case (df, rows) =>
      // rewritten at analysis, before any optimizer rule folds the value
      val plan = df.queryExecution.analyzed
      val exprs = plan.flatMap(_.expressions).flatMap(_.collect {
        case e @ (_: Lower | _: TextLower) => e
      })
      assert(exprs.map(_.getClass) == Seq(classOf[TextLower]), plan)
      assert(df.collect().map(_.getString(0)).toSeq == rows)
    }
  }

  test("with ICU mappings off lower() stays Spark's Lower") {
    spark.conf.set(IcuConf, "false")
    try lowered().foreach { case (plan, exprs, rows) =>
      assert(exprs.map(_.getClass) == Seq(classOf[Lower]), plan)
      // the JDK's tables predate U+2C2F's lowercase
      val low = "\u03B1\u03B2\u03B3 abc \u2C2F"
      assert(rows == Seq(s"$low 0", null, s"$low 2"))
    } finally spark.conf.set(IcuConf, "true")
  }

  test("the native text expressions match their lower() references under either setting") {
    import spark.implicits._
    val docs = Seq((1L, "\u2C2F\uA7C0 \u2C2F x \uA7C0 ABC"),
      (2L, "\u2C2Fx \uA7C0 one \u2C2F two \uA7C0b three \u2C2F\uA7C0 four"))
      .toDF("doc_id", "text").repartition(2)
    def same(a: DataFrame, b: DataFrame) = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    Seq("true", "false").foreach { icu =>
      spark.conf.set(IcuConf, icu)
      try {
        assert(same(Dedup.simhashOf(docs), Dedup.simhashOfExploded(docs)), s"simhash64, icu=$icu")
        assert(same(
          docs.select(col("doc_id"), graft.functions.WinnowFunctions
            .winnowFps(col("text"), TextOps.WinnowK, TextOps.WinnowW)),
          docs.select(col("doc_id"),
            TextOps.winnowSelect(TextOps.winnowGrams(split(lower(col("text")), " "))))),
          s"winnow, icu=$icu")
      } finally spark.conf.set(IcuConf, "true")
    }
  }

  test("graft's lowercase evaluates interpreted too, null to null") {
    assert(TextLower(Literal(null, StringType)).eval() == null)
    assert(TextLower(Literal("\u2C2F Ab")).eval() == UTF8String.fromString("\u2C5F ab"))
  }
}
