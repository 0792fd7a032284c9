package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Element-wise MIN over `numHashes`-long [[ShingleHash]] signatures:
  * the fold of every row that shares a doc id, whose result is the
  * signature of the union of their shingles. The buffer is the whole
  * signature array, so partial aggregation keeps one array per doc id
  * instead of `numHashes` MIN columns. Null inputs are skipped.
  *
  * The result type is `array<bigint>` with nullable elements, the type
  * `array(min(h_0), …)` gave before, so signature stores keep their
  * schema.
  */
case class SignatureMin(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = Array.fill(numHashes)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val sig = child.eval(input).asInstanceOf[ArrayData]
    if (sig != null) {
      var k = 0
      while (k < numHashes) {
        val v = sig.getLong(k)
        if (v < buffer(k)) buffer(k) = v
        k += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var k = 0
    while (k < numHashes) {
      if (other(k) < buffer(k)) buffer(k) = other(k)
      k += 1
    }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](numHashes)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): SignatureMin =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): SignatureMin =
    copy(inputAggBufferOffset = offset)

  override def prettyName: String = "signature_min"

  override protected def withNewChildInternal(newChild: Expression): SignatureMin =
    copy(child = newChild)
}
