package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** S3 access-log line → its 18 raw capture groups as a struct of strings,
  * or NULL when the line does not match: the `parse_log_line` SQL function
  * (GraftExtensions). The typed 19-column parse is
  * [[ParseAccessLog]]; this keeps the raw-group contract for SQL callers.
  *
  * Group semantics mirror the reference pattern
  * (`scripts/oss_s3_server_side_logging_compacter.py:21-25`) via
  * `graft.logs.LogLineParser.Pattern`, applied unanchored (`Matcher.find`,
  * = Python `re.search`, reference `:47-48`).
  */
case class ParseLogLine(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ParseLogLine.schema
  override def nullable: Boolean = true
  override def prettyName: String = "parse_log_line"

  override def nullSafeEval(input: Any): Any =
    ParseLogLineHelper.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.ParseLogLineHelper.parse($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ParseLogLine =
    copy(child = newChild)
}

object ParseLogLine {
  /** Raw capture groups, in pattern order, reference field names. */
  val groupNames: Seq[String] = Seq(
    "owner", "bucket", "time", "ip", "requester", "reqid", "operation",
    "key", "request", "status", "error", "bytes", "size", "totaltime",
    "turnaround", "referrer", "useragent", "version")

  val schema: StructType =
    StructType(groupNames.map(StructField(_, StringType, nullable = true)))
}

/** Static-call target for both the interpreted eval and the generated code
  * (Scala top-level objects emit static forwarders, so generated Java can
  * call `graft.functions.ParseLogLineHelper.parse(...)` directly). Groups
  * come from [[AccessLogKernel.groups]]: the byte walk, the regex as
  * fallback.
  */
object ParseLogLineHelper {

  def parse(line: UTF8String): InternalRow = {
    val g = AccessLogKernel.groups(line)
    if (g == null) return null
    new GenericInternalRow(Array.tabulate[Any](ParseLogLine.groupNames.length)(g.string))
  }
}
