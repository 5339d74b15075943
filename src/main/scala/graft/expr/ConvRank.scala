package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** conv_rank(conv_id): the row's 1-based position in the current run of
  * equal `conv` values within its partition — row_number() over
  * (partition by conv order by <the input order>) for input that arrives
  * grouped by conversation, in the style of monotonically_increasing_id:
  * a counter per task, reset at each new value.
  *
  * It is correct ONLY directly above a local sort whose leading key is
  * `conv`, over partitions that each hold whole conversations
  * (ExtractPipeline's exchange-free rank), or with an offset added to
  * each partition's first run where a conversation spans partitions
  * (its distributed rank). Being nondeterministic, it
  * keeps Catalyst from pushing filters below it or dropping the sort
  * under it. Nulls form one run, as they form one window partition.
  */
case class ConvRank(conv: Expression) extends UnaryExpression with Nondeterministic {
  override def child: Expression = conv
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "conv_rank"

  @transient private[this] var prev: UTF8String = _
  @transient private[this] var n: Int = _

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    prev = null
    n = 0
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val c = conv.eval(input).asInstanceOf[UTF8String]
    if (n > 0 && (if (c == null) prev == null else c == prev)) n += 1
    else { prev = if (c == null) null else c.clone(); n = 1 }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = conv.genCode(ctx)
    val prev = ctx.addMutableState(classOf[UTF8String].getName, "convRankPrev")
    val n = ctx.addMutableState(CodeGenerator.JAVA_INT, "convRankN")
    ctx.addPartitionInitializationStatement(s"$prev = null; $n = 0;")
    ev.copy(code = code"""
      ${c.code}
      if ($n > 0 && (${c.isNull} ? $prev == null : ${c.value}.equals($prev))) {
        $n++;
      } else {
        $prev = ${c.isNull} ? null : ${c.value}.clone();
        $n = 1;
      }
      final int ${ev.value} = $n;""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ConvRank =
    copy(conv = newChild)
}
