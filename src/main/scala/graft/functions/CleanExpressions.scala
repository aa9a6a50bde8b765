package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.CollationAwareUTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The food-orders clean of one field (T1–T3, reference
  * `code/beam.py:111-121`) in one pass over its UTF-8 bytes.
  *
  *   T1 (`stripColon` only): drop the last byte when it is `:` — the
  *      reference's `endswith(':')`, on the raw field, before T2/T3, so
  *      `abc:?` keeps its colon and `abc?:` becomes `abc`.
  *   T2: lowercase. T3: delete `?`, `%`, `&`.
  *
  * ASCII fields (all but a few in practice) take the fast path: A–Z are
  * lowered and `?%&` dropped into one output buffer, allocated only when a
  * byte changes; an unchanged field is returned as a view of its input. A
  * field with any byte ≥ 0x80 lowercases exactly as Spark's `lower` does
  * (ICU or JVM case mapping, per `spark.sql.icu.caseMappings.enabled`) and
  * then strips `?%&` bytewise, which is safe because they are ASCII and
  * never occur inside a multi-byte sequence. */
object CleanKernel {
  def clean(s: UTF8String, stripColon: Boolean, useICU: Boolean)
      : UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var n = s.numBytes
    if (stripColon && n > 0 && Platform.getByte(base, off + n - 1) == ':')
      n -= 1
    var out: Array[Byte] = null
    var w = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0) return strip(lower(prefix(s, n), useICU))
      val keep = b != '?' && b != '%' && b != '&'
      val c = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      if (out == null && (!keep || c != b)) {
        out = new Array[Byte](n)
        Platform.copyMemory(base, off, out, Platform.BYTE_ARRAY_OFFSET, i)
        w = i
      }
      if (out != null && keep) { out(w) = c; w += 1 }
      i += 1
    }
    if (out != null) UTF8String.fromBytes(out, 0, w) else prefix(s, n)
  }

  private def prefix(s: UTF8String, n: Int): UTF8String =
    if (n == s.numBytes) s
    else UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset, n)

  private def lower(s: UTF8String, useICU: Boolean): UTF8String =
    if (useICU) CollationAwareUTF8String.toLowerCase(s) else s.toLowerCase

  private def strip(s: UTF8String): UTF8String = {
    val in = s.getBytes  // may be s's own array: read it, never write it
    val out = new Array[Byte](in.length)
    var w = 0
    var i = 0
    while (i < in.length) {
      val b = in(i)
      if (b != '?' && b != '%' && b != '&') { out(w) = b; w += 1 }
      i += 1
    }
    if (w == in.length) s else UTF8String.fromBytes(out, 0, w)
  }
}

/** One cleaned field: [[CleanKernel.clean]] as a codegen'd expression, so
  * the whole clean stays inside the scan's whole-stage codegen. */
case class CleanField(child: Expression, stripColon: Boolean)
    extends UnaryExpression {
  override def prettyName: String = "clean_field"
  override def dataType: DataType = StringType

  // read once, like Spark's own `Lower`
  private lazy val useICU = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def nullSafeEval(v: Any): Any =
    CleanKernel.clean(v.asInstanceOf[UTF8String], stripColon, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.CleanKernel.clean($a, $stripColon, $useICU)")

  override protected def withNewChildInternal(newChild: Expression)
      : CleanField = copy(child = newChild)
}

object CleanExpressions {
  def cleanField(s: Column, stripColon: Boolean): Column =
    ColumnBridge.column(CleanField(ColumnBridge.expression(s), stripColon))
}
