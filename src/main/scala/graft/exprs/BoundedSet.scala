package graft.exprs

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Size-capped distinct-set aggregate: collects up to `cap` distinct
  * non-null strings; once more than `cap` are seen the buffer saturates at
  * `cap + 1` elements, which the caller reads as "too many — no dictionary".
  *
  * This is the one-pass, bounded-memory alternative to
  * `approx_count_distinct` probe + second `collect_set` scan for building
  * split dictionaries: `collect_set` alone is unbounded (a high-cardinality
  * field would buffer every distinct value on the executors), while this
  * aggregate's state never exceeds cap+1 strings regardless of input.
  * Which elements survive past saturation is irrelevant — saturated results
  * are discarded. The output is sorted in Java `String` order. A native
  * Catalyst aggregate that serializes its own buffer (a count, then each
  * value as length + UTF-8 bytes), so analysis resolves no encoders.
  */
case class BoundedSet(child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashSet[String]]
    with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_set"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bounded_set wants a string, got ${other.sql}")
  }

  override def createAggregationBuffer(): java.util.HashSet[String] =
    new java.util.HashSet[String]

  override def update(buffer: java.util.HashSet[String],
      input: InternalRow): java.util.HashSet[String] = {
    if (buffer.size <= cap) {
      val v = child.eval(input)
      if (v != null) buffer.add(v.toString)
    }
    buffer
  }

  override def merge(buffer: java.util.HashSet[String],
      input: java.util.HashSet[String]): java.util.HashSet[String] = {
    val it = input.iterator
    while (it.hasNext && buffer.size <= cap) buffer.add(it.next())
    buffer
  }

  override def eval(buffer: java.util.HashSet[String]): Any = {
    val vals = buffer.toArray(new Array[String](0))
    java.util.Arrays.sort(vals.asInstanceOf[Array[AnyRef]])
    new GenericArrayData(vals.map(v => UTF8String.fromString(v): Any))
  }

  override def serialize(buffer: java.util.HashSet[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    val data = new java.io.DataOutputStream(out)
    data.writeInt(buffer.size)
    buffer.forEach { v =>
      val b = v.getBytes(StandardCharsets.UTF_8)
      data.writeInt(b.length)
      data.write(b)
    }
    data.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashSet[String] = {
    val data = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = data.readInt()
    val buffer = new java.util.HashSet[String]
    var i = 0
    while (i < n) {
      val b = new Array[Byte](data.readInt())
      data.readFully(b)
      buffer.add(new String(b, StandardCharsets.UTF_8))
      i += 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): BoundedSet =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BoundedSet =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): BoundedSet =
    copy(child = c)
}

object BoundedSet {
  /** Column form: `bounded_set(col, cap)`. */
  def column(c: Column, cap: Int): Column =
    exprs.toColumn(BoundedSet(exprs.toExpr(c), cap))
}
