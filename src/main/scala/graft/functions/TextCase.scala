package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UPPER_OR_LOWER
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one lowercase graft computes, equal to `lower()` on every string.
  *
  * Under `spark.sql.icu.caseMappings.enabled` (on by default) Spark's
  * `Lower` of a UTF8_BINARY string calls
  * `CollationAwareUTF8String.toLowerCase`, whose class initialiser
  * title-cases all 1,114,112 code points through ICU to build a table only
  * `initcap` reads: about 1.5 s of CPU on the first `lower()` of every
  * JVM, while every other task that lowercases waits on the class-init
  * lock. [[lower]] is the same body (ASCII fast path, else ICU's root
  * lowercase of the valid string) without that class. */
object TextCase {

  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** `lower()` under either setting of the ICU conf: with it off Spark
    * lowercases through the JDK's tables, which are older than ICU's. */
  def lower(s: UTF8String, icu: Boolean): UTF8String =
    if (icu) lower(s) else s.toLowerCase

  /** `spark.sql.icu.caseMappings.enabled`, read where Spark's `Lower`
    * reads it: from the conf active when the expression is first used. */
  def icuCaseMappings: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** `Lower(c)` → [[TextLower]] for UTF8_BINARY strings while the ICU conf
    * is on; other collations and the JDK mapping stay Spark's. Injected by
    * [[GraftExtensions]] as a post-hoc resolution rule, so every
    * `lower(...)` column and SQL `lower()` of a graft session leaves the
    * analyzer as [[TextLower]]: the optimizer's constant folding (a
    * literal, a CASE of constants, a local relation) then evaluates
    * graft's lowercase, never the title-case table. */
  object RewriteLower extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      if (!conf.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)) plan
      else plan.transformAllExpressionsWithPruning(_.containsPattern(UPPER_OR_LOWER)) {
        case Lower(c) if utf8Binary(c.dataType) => TextLower(c)
      }

    private def utf8Binary(t: DataType): Boolean = t match {
      case s: StringType => s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
      case _ => false
    }
  }
}

/** Codegen'd `lower()` of a UTF8_BINARY string through [[TextCase.lower]]. */
case class TextLower(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lower"

  override def nullSafeEval(input: Any): Any =
    TextCase.lower(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextCase.lower($c)")

  override protected def withNewChildInternal(newChild: Expression): TextLower =
    copy(child = newChild)
}
