package graft.streaming

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, NonSQLExpression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

/** A driver-built hash table that ships inside a plan: key → row, keys
  * compared as [[KeyTable.groupKey]] compares them. It is equal only to
  * itself, so hashing or printing a plan never walks its entries, and it
  * serializes as its rows' bytes (one Java object per row would cost
  * more to ship to every task than the table is worth).
  */
private[streaming] final class KeyTable(keyType: DataType,
    val valueType: StructType,
    @transient private var entries: java.util.HashMap[UnsafeRow, UnsafeRow])
    extends Serializable {
  @transient private lazy val keyOf = KeyTable.groupKey(keyType, 0)

  def get(k: Any): UnsafeRow = entries.get(keyOf(InternalRow(k)))

  override def toString: String = s"KeyTable(${entries.size} keys)"

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    out.writeInt(entries.size)
    val buf = new Array[Byte](4096)
    entries.forEach { (k, v) =>
      out.writeInt(k.getSizeInBytes); k.writeToStream(out, buf)
      out.writeInt(v.getSizeInBytes); v.writeToStream(out, buf)
    }
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    def row(fields: Int): UnsafeRow = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val r = new UnsafeRow(fields)
      r.pointTo(b, b.length)
      r
    }
    val n = in.readInt()
    entries = new java.util.HashMap[UnsafeRow, UnsafeRow](2 * n)
    (0 until n).foreach(_ => entries.put(row(1), row(valueType.size)))
  }
}

private[streaming] object KeyTable {
  /** A key as Spark's grouping compares it: floating keys normalized
    * (NormalizeFloatingNumbers: -0.0 ≡ 0.0, one NaN), then the bytes of
    * a one-field row. The returned row is reused: copy it to keep it.
    */
  def groupKey(keyType: DataType, ordinal: Int): InternalRow => UnsafeRow = {
    val k = BoundReference(ordinal, keyType, nullable = false)
    val p = UnsafeProjection.create(Seq(keyType match {
      case FloatType | DoubleType => NormalizeNaNAndZero(k)
      case _ => k
    }))
    p(_)
  }
}

/** `table`'s row at `child`'s key, null when absent: one hash probe per
  * row, in generated code. */
private[streaming] final case class KeyLookup(child: Expression, table: KeyTable)
    extends UnaryExpression with NonSQLExpression {
  override def dataType: DataType = table.valueType
  override def nullable: Boolean = true

  override protected def nullSafeEval(k: Any): Any = table.get(k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("table", table)
    val box =
      if (CodeGenerator.isPrimitiveType(child.dataType)) s"${CodeGenerator.boxedType(child.dataType)}.valueOf"
      else ""
    nullSafeCodeGen(ctx, ev, k =>
      s"""${ev.value} = $t.get($box($k));
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): KeyLookup = copy(child = c)
}
