package graft.engine

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** A native, map-side-combined Bloom-filter build ([[BloomBuildAgg]]) over
  * Spark's sketch `BloomFilter`. The text operators' Bloom prescreen builds
  * its filter with it (`TextOps.decontaminateBloom`). The crawl's URL-seen
  * filters are not built here: each [[KeyLog]] run carries the filter over
  * its own keys.
  */
object Bloom {

  /** One pass, map-side-combined Bloom build:
    * `df.agg(bloom_agg(key))`, or per group after a `groupBy`.
    */
  def bloomAgg(col: Column, expectedItems: Long, fpp: Double): Column =
    bridge.toColumn(
      BloomBuildAgg(bridge.toExpression(col), expectedItems, fpp)
        .toAggregateExpression())
}

/** Native Catalyst aggregate building a Bloom filter of long keys per group.
  * Map-side partial aggregation + `mergeInPlace` on the reduce side — one
  * shuffle of small serialized filters instead of raw keys.
  */
case class BloomBuildAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomFilter]
    with UnaryLike[Expression] {

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.putLong(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter = {
    buffer.mergeInPlace(other)
    buffer
  }

  override def eval(buffer: BloomFilter): Any = serialize(buffer)

  override def serialize(buffer: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    buffer.writeTo(bos)
    bos.toByteArray
  }

  override def deserialize(storageFormat: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(storageFormat))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_build_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomBuildAgg =
    copy(child = newChild)
}
