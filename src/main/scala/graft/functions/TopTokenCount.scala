package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native top-token multiplicity: array<string> tokens → the count of the
  * most frequent element (q100's `top_token_n`), one compiled hash-count
  * pass per row. Replaces the explode → groupBy(doc_id, tok) →
  * groupBy(doc_id) formulation, which pushed every distinct (doc, token)
  * pair of the corpus through two exchanges for a per-row statistic —
  * and beats the interpreted `aggregate(array_sort(...))` fold the same
  * way the other native expressions here beat their HOF forms (measured
  * +0.4 s at sf0.1). Null elements count as one token group, exactly as
  * explode+groupBy grouped them; an empty array returns 0 (the explode
  * form emitted no rows there — callers that relied on the inner join
  * dropping such docs must filter explicitly; tokens() never produces
  * an empty array, "" splits to [""]).
  */
case class TopTokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"top_token_count needs array<string>, got ${dt.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TopTokenCount.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TopTokenCount.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopTokenCount {
  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new java.util.HashMap[UTF8String, Long](math.max(n * 2, 8))
    var nullCount = 0L
    var best = 0L
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) {
        nullCount += 1
        if (nullCount > best) best = nullCount
      } else {
        val t = tokens.getUTF8String(i)
        val c = counts.merge(t, 1L, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best
  }

  def topTokenCountFast(tokens: Column): Column =
    column(TopTokenCount(expression(tokens)))
}
