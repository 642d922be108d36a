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

/** Per-shard Bloom prefilter over the URL-seen set.
  *
  * North-rule requirement: "URL-seen is a partitioned Bloom/cuckoo filter
  * keyed by xxHash64 of canonicalized URLs sharded by host-hash". The Bloom
  * is a PREFILTER only — the authoritative membership check is the exact
  * per-bucket [[KeyLog]] run probe (a Bloom false positive must not drop a
  * URL, and an absent filter must not veto the exact probe; see SURVEY.md
  * §7.4). Reference analog: the in-memory `old_item_ids: Set[str]` exclusion
  * (medcrawler/base.py:348) — exact there, exact here; the Bloom keeps the
  * probe O(1) for the common not-seen case.
  */
object Bloom {

  /** One pass, map-side-combined per-bucket Bloom build:
    * `df.groupBy(hostBucket).agg(bloom_agg(urlHash))`.
    */
  def bloomAgg(col: Column, expectedItems: Long, fpp: Double): Column =
    bridge.toColumn(
      BloomBuildAgg(bridge.toExpression(col), expectedItems, fpp)
        .toAggregateExpression())

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def bucketPath(dir: String, bucket: Int): String = s"$dir/b$bucket.bloom"
}

/** Executor-local bucket-file cache for bloom probes: deserialize each
  * probed bucket once per executor, keyed by the immutable (dir, bucket)
  * identity of the committed bloom state. Bounded [[LruCache]]: overflow
  * evicts only the least-recently-probed entries instead of stampeding
  * every thread into a full re-read.
  */
object BloomCache {
  @transient private lazy val cache =
    new LruCache[(String, Int), Option[BloomFilter]](4096)

  def get(dir: String, bucket: Int): Option[BloomFilter] =
    cache.get((dir, bucket)) { case (d, b) =>
      val p = Bloom.bucketPath(d, b)
      if (Fs.exists(p)) Some(Bloom.deserialize(Fs.readAllBytes(p))) else None
    }
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

  override def serialize(buffer: BloomFilter): Array[Byte] = Bloom.serialize(buffer)

  override def deserialize(storageFormat: Array[Byte]): BloomFilter =
    Bloom.deserialize(storageFormat)

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
