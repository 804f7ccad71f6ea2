package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream}
import java.util.{HashMap => JHashMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * `keyed_counts(key, v1, ..., vn)` — per distinct `key`, its rows and
 * each `vi`'s non-NULL values: the answer of `GROUP BY key` with
 * `count(1), count(v1), ..., count(vn)`, as ONE aggregate value
 * `array<struct<key, counts: array<bigint>>>` (`counts(0)` the rows,
 * `counts(i)` the non-NULL `vi`), in no particular order.
 *
 * Why a custom aggregate: a per-row frame observed with
 * `Dataset.observe` can only carry aggregates without grouping, and one
 * `count(when(key = k, ...))` per key grows the plan with the key list.
 * This keeps one small hash map per task, keyed by the key's unsafe
 * form, and merges the maps; its size is the number of distinct keys,
 * not of rows.
 */
case class KeyedCounts(
    key: Expression,
    values: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[JHashMap[UnsafeRow, Array[Long]]] {
  private type Buffer = JHashMap[UnsafeRow, Array[Long]]

  override def children: Seq[Expression] = key +: values
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", key.dataType, key.nullable),
    StructField("counts", ArrayType(LongType, containsNull = false),
      nullable = false))), containsNull = false)

  private def width: Int = values.size + 1

  // the key as a one-field unsafe row: equal keys have equal bytes, so it
  // hashes and compares by value and serializes as it is
  @transient private lazy val keyRow = UnsafeProjection.create(Seq(key))
  @transient private lazy val valueArray = values.toArray

  override def createAggregationBuffer(): Buffer = new JHashMap

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val k = keyRow(input)
    var counts = buffer.get(k)
    if (counts == null) {
      counts = new Array[Long](width)
      buffer.put(k.copy(), counts)
    }
    counts(0) += 1
    var i = 0
    while (i < valueArray.length) {
      if (valueArray(i).eval(input) != null) counts(i + 1) += 1
      i += 1
    }
    buffer
  }

  override def merge(buffer: Buffer, input: Buffer): Buffer = {
    input.forEach { (k, c) =>
      val counts = buffer.get(k)
      if (counts == null) buffer.put(k, c)
      else for (i <- counts.indices) counts(i) += c(i)
    }
    buffer
  }

  override def eval(buffer: Buffer): Any =
    new GenericArrayData(buffer.asScala.toSeq.map { case (k, c) =>
      InternalRow(k.get(0, key.dataType), new GenericArrayData(c))
    }.toArray[Any])

  override def serialize(buffer: Buffer): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    out.writeInt(buffer.size)
    buffer.forEach { (k, c) =>
      val b = k.getBytes
      out.writeInt(b.length)
      out.write(b)
      c.foreach(out.writeLong)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buffer = createAggregationBuffer()
    for (_ <- 0 until in.readInt()) {
      val k = new Array[Byte](in.readInt())
      in.readFully(k)
      val row = new UnsafeRow(1)
      row.pointTo(k, k.length)
      buffer.put(row, Array.fill(width)(in.readLong()))
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): KeyedCounts =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KeyedCounts =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): KeyedCounts =
    copy(key = c.head, values = c.tail)
  override def prettyName: String = "keyed_counts"
}

object KeyedCounts {
  def apply(key: Column, values: Seq[Column]): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    column(KeyedCounts(expression(key), values.map(expression))
      .toAggregateExpression())
  }
}
