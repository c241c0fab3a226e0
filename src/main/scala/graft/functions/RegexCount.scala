package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of non-overlapping regex matches, as one compiled find() loop —
  * the allocation-free form of `size(regexp_extract_all(str, re, 0))`
  * (round 19, guide §4 / VERDICT r18 item #6).
  *
  * `RegExpCount`/`regexp_extract_all` materialize every match as a
  * UTF8String inside an ArrayData just to take its length; for dense
  * patterns (the tokenizer's `\S+`, the quality score's per-character
  * punctuation class) that is one allocation per match per row — the GC
  * churn behind the hash-dense queries' 32-core-slower-than-8-core
  * scaling signature. This expression runs the identical Matcher.find()
  * loop and counts, allocating nothing per match.
  *
  * Value parity: the count of find() steps is exactly the length of
  * regexp_extract_all's result (same java.util.regex engine, same
  * non-overlapping semantics; RegexCountSpec pins it). The pattern must
  * be a literal (foldable) — compiled once per expression instance, not
  * per row. Null string → null (the oracle's `len(regexp_extract_all)`
  * NULL semantics).
  */
case class RegexCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "regex_count"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "regex_count requires a literal pattern")
    // a NULL literal has nothing to compile: refuse at analysis instead
    // of an NPE when the pattern is compiled during execution
    else if (right.eval() == null)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "regex_count requires a non-NULL pattern")
    else if (left.dataType != org.apache.spark.sql.types.StringType ||
      right.dataType != org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"regex_count requires (string, string), got " +
          s"(${left.dataType}, ${right.dataType})")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  @transient private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      right.eval().asInstanceOf[UTF8String].toString)

  override protected def nullSafeEval(str: Any, re: Any): Any =
    RegexCount.count(pattern, str.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("pattern", pattern,
      "java.util.regex.Pattern")
    nullSafeCodeGen(ctx, ev, (str, _) => {
      s"""
        ${ev.value} = graft.functions.RegexCount.count($p, $str);
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RegexCount =
    copy(left = newLeft, right = newRight)
}

object RegexCount {
  def count(p: java.util.regex.Pattern, s: UTF8String): Long = {
    val m = p.matcher(s.toString)
    var c = 0L
    while (m.find()) c += 1L
    c
  }
}
