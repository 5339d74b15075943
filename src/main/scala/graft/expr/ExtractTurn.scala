package graft.expr

import graft.kernel.Extractor
import graft.model.{Block, Span}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel bridge: UTF8String payload -> InternalRow of the
  * extraction result. Kept as a plain static call so ExtractTurn's
  * doGenCode can invoke it from inside whole-stage codegen — the
  * reference's compiled fast path (db_postprocess_fast/__init__.py:7-22,
  * C++ boxes_from_bitmap) recast as a codegen-reachable JVM kernel
  * instead of JNI.
  *
  * The result row does only the work its reader asks for: span and
  * block rows hold their fields unboxed, and `blocks` (whose text
  * repeats `text`, block by block) is built and UTF-8 encoded only when
  * the field is first read. `extract()`, its variants, streaming and the
  * distributed rank never read it; `extractWithBlocks` and SQL
  * `extract_turn(t).blocks` do. `copy()` builds it.
  */
object ExtractTurnKernel {

  val spanType: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false)))

  val blockType: StructType = StructType(Seq(
    StructField("span", spanType, nullable = false),
    StructField("btype", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("text", StringType, nullable = false)))

  val outType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("spans", ArrayType(spanType, containsNull = false), nullable = false),
    StructField("blocks", ArrayType(blockType, containsNull = false), nullable = false),
    StructField("ok", BooleanType, nullable = false)))

  /** Block arrays built (one per row whose `blocks` is read): the count
    * behind "blocks are built only when read" (a LongAdder, local mode
    * only, like TextExprKernels' counters).
    */
  val blockBuilds = new java.util.concurrent.atomic.LongAdder

  // kind/btype values come from a tiny closed set of string literals —
  // hand out interned UTF8String constants instead of re-encoding per row
  private val Names: Array[String] =
    Array("main", "html", "pdf", "json", "plain", "empty", "title", "code", "boiler")
  private val NamesU8: Array[UTF8String] = Names.map(UTF8String.fromString)
  private def u8(s: String): UTF8String = {
    var i = 0
    while (i < Names.length && Names(i) != s) i += 1
    if (i < Names.length) NamesU8(i) else UTF8String.fromString(s)
  }

  def eval(payload: UTF8String): InternalRow = eval(payload, 0)

  def eval(payload: UTF8String, variant: Int): InternalRow = {
    val r = Extractor.extract(
      if (payload == null) null else payload.toString,
      graft.kernel.ExtractParams.forVariant(variant))
    val spans = new Array[Any](r.spans.length)
    var i = 0
    while (i < spans.length) { spans(i) = spanRow(r.spans(i)); i += 1 }
    new TurnRow(u8(r.kind), UTF8String.fromString(r.text),
      new GenericArrayData(spans), r.blocks, r.ok)
  }

  private def spanRow(s: Span): SpanRow = new SpanRow(s.start, s.end, u8(s.kind))

  private def blockArray(bs: Array[Block]): ArrayData = {
    blockBuilds.increment()
    val rows = new Array[Any](bs.length)
    var i = 0
    while (i < rows.length) {
      val b = bs(i)
      rows(i) = new BlockRow(spanRow(b.span), u8(b.btype), b.score,
        UTF8String.fromString(b.text))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Read-only row with no null fields; `genericGet` serves the generic
    * getters, the typed ones are overridden unboxed.
    */
  private abstract class FixedRow extends BaseGenericInternalRow {
    override def isNullAt(i: Int): Boolean = false
    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
    override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException
  }

  /** (start, end, kind) */
  private final class SpanRow(start: Int, end: Int, kind: UTF8String) extends FixedRow {
    override def numFields: Int = 3
    override protected def genericGet(i: Int): Any =
      if (i == 0) start else if (i == 1) end else kind
    override def getInt(i: Int): Int = if (i == 0) start else end
    override def getUTF8String(i: Int): UTF8String = kind
  }

  /** (span, btype, score, text) */
  private final class BlockRow(span: SpanRow, btype: UTF8String, score: Double,
      text: UTF8String) extends FixedRow {
    override def numFields: Int = 4
    override protected def genericGet(i: Int): Any =
      if (i == 0) span else if (i == 1) btype else if (i == 2) score else text
    override def getStruct(i: Int, numFields: Int): InternalRow = span
    override def getUTF8String(i: Int): UTF8String = if (i == 1) btype else text
    override def getDouble(i: Int): Double = score
  }

  /** (kind, text, spans, blocks, ok), `blocks` built on first read. */
  private final class TurnRow(kind: UTF8String, text: UTF8String, spans: ArrayData,
      src: Array[Block], ok: Boolean) extends FixedRow {
    private var blocks: ArrayData = _
    private def blocksData: ArrayData = {
      if (blocks == null) blocks = blockArray(src)
      blocks
    }
    override def numFields: Int = 5
    override protected def genericGet(i: Int): Any = i match {
      case 0 => kind
      case 1 => text
      case 2 => spans
      case 3 => blocksData
      case _ => ok
    }
    override def getUTF8String(i: Int): UTF8String = if (i == 0) kind else text
    override def getArray(i: Int): ArrayData = if (i == 2) spans else blocksData
    override def getBoolean(i: Int): Boolean = ok
  }
}

/** extract_turn(text) — the whole per-turn extractor (sniff -> tokenize ->
  * segment -> classify -> decode -> reading order) as ONE Catalyst
  * expression over StringType, returning a nested struct
  * (kind, text, spans, blocks). Registered in graft.expr.Functions so it
  * is usable from both the Column API and SQL. doGenCode emits a direct
  * static call, keeping the surrounding projection in whole-stage codegen.
  */
case class ExtractTurn(child: Expression, variant: Int = 0)
    extends UnaryExpression {

  override def dataType: DataType = ExtractTurnKernel.outType
  override def nullable: Boolean = false
  override def prettyName: String =
    if (variant == 0) "extract_turn" else s"extract_turn_v$variant"

  override def eval(input: InternalRow): Any =
    ExtractTurnKernel.eval(
      child.eval(input).asInstanceOf[UTF8String], variant)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val rowCls = classOf[InternalRow].getName
    val utf8Cls = classOf[UTF8String].getName
    val kernel = "graft.expr.ExtractTurnKernel$.MODULE$"
    val resultCode =
      code"""
        ${childGen.code}
        $rowCls ${ev.value} = $kernel.eval(
          ${childGen.isNull} ? ($utf8Cls) null : ${childGen.value}, $variant);
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
