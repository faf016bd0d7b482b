package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Bounded-heap bottom-k distinct-hash aggregate — the bottom-k of the KMV
 * sketch (`graft.operators.Sketch`).
 *
 * This `TypedImperativeAggregate` keeps the k smallest DISTINCT 60-bit
 * hashes in a size-bounded ordered set, so retained state is k longs per
 * group at EVERY stage: the map-side partial aggregate ships k longs per
 * (partition, group) instead of the group's whole distinct-hash table, and
 * no sort or window appears in the plan (ObjectHashAggregate). A sort or
 * window bottom-k would materialize every distinct hash per group just to
 * keep k of them — hostile at 100 TB on a high-cardinality key (URLs, doc
 * ids).
 *
 * Order contract: the result is exactly the k smallest distinct non-null
 * hashes, ascending — a set property independent of row order,
 * partitioning and merge order — so it replays under the DuckDB oracle.
 *
 * Null semantics: null inputs are skipped; a group whose every value is
 * null yields an empty array.
 *
 * Registered as SQL function `kmv_bottomk(hash, k)` via [[GraftExtensions]];
 * `k` must be a foldable integer literal.
 *
 * Why not Spark's built-in `theta_sketch_agg`: its estimate and bytes were
 * identical for 1 and 7 partitions of the same 200k rows, but it hashes
 * the value with datasketches' seeded MurmurHash3 instead of the md5
 * prefix hash and exposes only estimates and set operations, never the
 * retained hashes, so the DuckDB oracle cannot replay its result.
 */
case class KmvBottomK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 2, "KMV needs k >= 2")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buffer: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    var go = true
    while (go && it.hasNext) {
      // `other` iterates ascending; once one value is rejected (buffer full
      // and value >= current max) every later one would be too
      go = insert(buffer, it.next())
    }
    buffer
  }

  /** Bounded insert: O(log k); returns false when the value was rejected
    * because the buffer is full and the value is >= the current max. */
  private def insert(buf: java.util.TreeSet[java.lang.Long], v: Long): Boolean = {
    if (buf.size < k) { buf.add(v); true }
    else if (v < buf.last()) {
      if (buf.add(v)) buf.pollLast()
      true
    } else v == buf.last() // a duplicate of the max is "absorbed", keep going
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.size)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    set
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_bottomk"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvBottomK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvBottomK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvBottomK =
    copy(child = newChild)
}
