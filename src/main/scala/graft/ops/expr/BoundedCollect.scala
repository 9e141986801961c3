package graft.ops.expr

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `collect_list` with a hard retention cap and an exact input count:
  * aggregates to `struct(cnt: bigint, items: array<childType>)` where `cnt`
  * counts EVERY non-null input but `items` keeps only the first `cap` of
  * them (first-arrival order within a partition; partial buffers merge in
  * task order, so cross-partition item order is unspecified — like
  * `collect_list`).
  *
  * Why this exists: every skew-capped bucket aggregation in the near-dup
  * operators used to `collect_list` the FULL bucket and filter on its size
  * afterwards — an over-cap bucket (boilerplate shared by millions of docs,
  * each member carrying a gram/vector array) materialized members × array
  * bytes in one aggregation row before being dropped, an executor-OOM / 2 GB
  * single-row risk the cap was supposed to prevent. With this aggregate the
  * buffer NEVER holds more than `cap` items — a million-member black-hole
  * bucket costs the same memory as a bucket at exactly the cap — while `cnt`
  * still reports the true size, so the `between(2, cap)` filter and the
  * `CollectMetrics` truncation observation keep their exact semantics.
  * Memory per bucket row is therefore ≤ cap × item bytes BY CONSTRUCTION;
  * size `cap` so that bound fits comfortably in one task's heap share.
  *
  * It is a [[TypedImperativeAggregate]] like `collect_list` itself, so it
  * supports partial aggregation and is planned as `ObjectHashAggregate`.
  * That plan says nothing of how it runs: a task that sees more than
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128) keys
  * falls back to sorting its rows (`numTasksFallBacked` in the final plan's
  * metrics), which near-unique bucket keys do in every task.
  * [[graft.ops.Dedup.nearDuplicatePairs]] therefore sizes its buckets with
  * a window count and no longer uses this aggregate.
  */
case class BoundedCollectList(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedCollectList.Buffer]
  with UnaryLike[Expression] {

  require(cap >= 1, s"bounded_collect_list cap must be >= 1, got $cap")

  override def createAggregationBuffer(): BoundedCollectList.Buffer =
    new BoundedCollectList.Buffer(0L, new mutable.ArrayBuffer[Any])

  override def update(
      b: BoundedCollectList.Buffer, input: InternalRow): BoundedCollectList.Buffer = {
    val v = child.eval(input)
    if (v != null) { // null-skipping, matching collect_list
      b.count += 1L
      if (b.items.length < cap) b.items += InternalRow.copyValue(v)
    }
    b
  }

  override def merge(
      b: BoundedCollectList.Buffer, o: BoundedCollectList.Buffer): BoundedCollectList.Buffer = {
    b.count += o.count
    var i = 0
    while (b.items.length < cap && i < o.items.length) {
      b.items += o.items(i)
      i += 1
    }
    b
  }

  override def eval(b: BoundedCollectList.Buffer): Any =
    InternalRow(b.count, new GenericArrayData(b.items.toArray))

  private lazy val bufferSchema: StructType = new StructType()
    .add("cnt", LongType, nullable = false)
    .add("items", ArrayType(child.dataType, containsNull = false), nullable = false)

  // per-instance reusable projection, the same pattern as Spark's Collect:
  // each task deserializes its own expression tree, so no cross-task sharing
  private lazy val serializer = UnsafeProjection.create(bufferSchema)

  override def serialize(b: BoundedCollectList.Buffer): Array[Byte] =
    serializer(InternalRow(b.count, new GenericArrayData(b.items.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): BoundedCollectList.Buffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(1)
    val n = arr.numElements()
    val items = new mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      items += InternalRow.copyValue(arr.get(i, child.dataType))
      i += 1
    }
    new BoundedCollectList.Buffer(row.getLong(0), items)
  }

  override def dataType: DataType = bufferSchema
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_collect_list"

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectList =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectList =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedCollectList =
    copy(child = newChild)
}

object BoundedCollectList {
  /** Mutable aggregation state: exact count + capped item buffer. */
  final class Buffer(var count: Long, val items: mutable.ArrayBuffer[Any])
}
