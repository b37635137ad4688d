package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Aggregate MinHash signatures by element-wise minimum.
  *
  * The MinHash of a union of sets is the element-wise min of the sets'
  * signatures, so aggregating per-document signatures with this function
  * yields the signature of the whole group's gram set — e.g. one
  * signature per source/domain/cluster, enabling collection-level
  * near-dup detection without re-shingling concatenated text. Not
  * expressible with built-ins short of collect_list + a driver fold
  * (which materializes every signature per group).
  *
  * TypedImperativeAggregate with a primitive long[] buffer: update and
  * merge are branch-light elementwise-min loops; partial aggregation
  * (map-side combine) applies as usual, so the shuffle carries one
  * signature per (partition, group), not per row.
  */
case class MinHashUnionAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = {
    val buf = new Array[Long](numHashes)
    java.util.Arrays.fill(buf, Long.MaxValue)
    buf
  }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(numHashes, arr.numElements())
      var i = 0
      while (i < n) {
        val x = arr.getLong(i)
        if (x < buffer(i)) buffer(i) = x
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      if (other(i) < buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(numHashes * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](numHashes)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashUnionAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): MinHashUnionAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MinHashUnionAgg {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Column form: `minhash_union(sigCol)` over a group. */
  def minHashUnion(sig: Column, numHashes: Int): Column =
    column(MinHashUnionAgg(expression(sig), numHashes).toAggregateExpression())

  /** Estimated Jaccard between two equal-length signatures: fraction of
    * agreeing slots (the MinHash estimator).
    */
  def signatureJaccard(a: Column, b: Column): Column =
    matchingSlots(a, b).cast("double") / org.apache.spark.sql.functions.size(a)

  /** Number of slots (bigint) at which two equal-length signatures agree:
    * the numerator of every MinHash Jaccard estimate, seeded or portable.
    */
  private[graft] def matchingSlots(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }
}
