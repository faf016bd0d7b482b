package graft.plans

import java.nio.ByteBuffer
import java.util.Comparator

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * Bounded-heap per-group top-k aggregate: keeps the k best
 * (score desc, id asc) pairs per group — the plan-shape fix for every
 * "top-k per key" stage (k-NN joins, per-query retrieval ranking) that a
 * `row_number() OVER (PARTITION BY ... ORDER BY ...)` window would
 * otherwise solve by SHUFFLING AND SORTING the full candidate stream.
 * Here the map-side partial aggregate reduces every partition to k pairs
 * per group before the exchange, the shuffle carries k·16 bytes per
 * (partition, group), and the plan is ObjectHashAggregate — no sort, no
 * window, no full materialization. At 100 TB of candidate pairs this is
 * the difference between sorting the pair stream and streaming over it.
 *
 * Order contract: the result is exactly the k smallest elements under
 * the TOTAL order (score desc, id asc), best first — a set property
 * independent of row order, partitioning, and merge order — so it
 * replays under the DuckDB oracle. Exact (score, id) duplicates collapse
 * (per-key candidate streams are duplicate-free by construction in the
 * k-NN use). Null scores/ids are skipped. The id is cast to BIGINT, so
 * callers with non-integral ids must reject them first (a string casts
 * to null and is skipped; a fraction truncates).
 *
 * Returns array<struct<score double, id bigint>> best-first. Registered
 * as SQL function `topk_by(score, id, k)` via [[GraftExtensions]]; `k`
 * must be a foldable integer literal.
 *
 * Why not Spark's built-in `approx_top_k(item, k, maxItemsTracked)`: it
 * ranks item VALUES by their estimated occurrence count (a frequent-items
 * sketch, partition-invariant on the same 200k rows in 1 and 7
 * partitions) and takes no score or id argument, so it cannot express
 * "k best (score desc, id asc) pairs per key" at all.
 */
case class TopKByScore(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]]
  with BinaryLike[Expression] {

  require(k >= 1, "topk_by needs k >= 1")

  private def cmp: Comparator[(Double, Long)] = new Comparator[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      // best first: higher score, then smaller id
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
    new java.util.TreeSet[(Double, Long)](cmp)

  override def update(buffer: java.util.TreeSet[(Double, Long)],
                      input: InternalRow): java.util.TreeSet[(Double, Long)] = {
    val s = left.eval(input)
    val id = right.eval(input)
    if (s != null && id != null)
      insert(buffer, (s.asInstanceOf[Double], id.asInstanceOf[Long]))
    buffer
  }

  override def merge(buffer: java.util.TreeSet[(Double, Long)],
                     other: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
    val it = other.iterator() // best-first; after one rejection, all worse
    var go = true
    while (go && it.hasNext) go = insert(buffer, it.next())
    buffer
  }

  /** Bounded insert, O(log k); false when rejected (full and not better
    * than the current worst). */
  private def insert(buf: java.util.TreeSet[(Double, Long)],
                     v: (Double, Long)): Boolean = {
    if (buf.size < k) { buf.add(v); true }
    else {
      val worst = buf.last()
      val c = cmp.compare(v, worst)
      if (c < 0) { if (buf.add(v)) buf.pollLast(); true }
      else c == 0 // exact duplicate of the worst absorbs; keep scanning
    }
  }

  override def eval(buffer: java.util.TreeSet[(Double, Long)]): Any = {
    val out = new Array[Any](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) {
      val (s, id) = it.next()
      out(i) = new GenericInternalRow(Array[Any](s, id))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.size)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) { val (s, id) = it.next(); bb.putDouble(s); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = createAggregationBuffer()
    var i = 0
    while (i < n) { set.add((bb.getDouble, bb.getLong)); i += 1 }
    set
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_by"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKByScore =
    copy(left = newLeft, right = newRight)
}
