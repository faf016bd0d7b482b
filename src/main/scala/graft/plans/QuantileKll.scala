package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable KLL-style sketch state: `levels(i)` holds values of weight
  * `2^i`. Values live unsorted inside a level until that level compacts
  * or the sketch is evaluated. */
final class KllState {
  val levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty[Double])
}

/**
 * Mergeable quantile sketch — the rank/quantile member of the sketch
 * family (KMV for distincts, HLL for cardinality, CMS/Misra-Gries for
 * frequency; this one answers "what is the p-th percentile?").
 *
 * Structure is the deterministic-compaction variant of KLL (Karnin,
 * Lang & Liberty, "Optimal quantile approximation in streams", FOCS
 * 2016; lineage Munro-Paterson 1980 / Manku-Rajagopalan-Lindsay 1998):
 * level `i` holds items of weight `2^i`; when a level exceeds `k` items
 * it sorts and promotes the even-indexed half to level `i+1` (weight
 * doubles; an odd leftover stays put, so total retained weight is
 * conserved exactly and the sketch always knows the true non-null
 * count), cascading. Retained state is O(k · log(n/k)) values per
 * group at EVERY stage — the map-side partial ships that, not the
 * group's value multiset, and the plan carries no sort/window (one
 * ObjectHashAggregate pair), which is what a per-group percentile needs
 * to survive 100 TB.
 *
 * Two regimes, mirroring the repo's `approx_top_k`/Misra-Gries
 * precedent:
 *  - **exact regime** (group size n ≤ k): no compaction ever fires, the
 *    sketch IS the value multiset at weight 1 — a multiset property,
 *    independent of row order and partitioning, so results are
 *    bit-replayable and sit under the DuckDB hash gate.
 *  - **compaction regime** (n > k): rank error is bounded (each
 *    compaction of level i perturbs any rank by ≤ 2^i, summed over
 *    compactions ⇒ O(log²(n/k)/k · n) worst case for this deterministic
 *    variant; spec'd empirically on planted data). Merge order across
 *    partitions influences which items are retained, so this regime is
 *    spec-bounded, not hash-gated — exactly the KMV/CMS family split.
 *
 * Output: the retained weighted sample as `array<struct<v,w>>` sorted by
 * `(v, w)` — sketches-as-data, so downstream quantile extraction, sketch
 * union (concatenate rows) and cross-shard merge are plain relational
 * ops on (group, v, w) rows.
 *
 * Null inputs are skipped (family contract). Registered as SQL function
 * `qsketch(value, k)` via [[GraftExtensions]]; `k` must be a foldable
 * integer literal ≥ 8.
 *
 * Reference scope: Tuktu's statistics processors stop at
 * mean/median/stdev computed on a buffered packet
 * (`app/tuktu/processors/statistics` — driver-side lists); a mergeable
 * distributed percentile is part of the 100 TB telemetry surface those
 * operators imply (doc-length p99 gates, latency percentiles).
 *
 * Why not Spark's built-in `kll_sketch_agg_double`: on the same 200k rows
 * in 1 and in 7 partitions its randomized compaction gave different
 * 0.1/0.5/0.9 quantiles, and even in the exact regime (150 rows, k=200),
 * where the quantiles agreed, its result is an opaque datasketches binary
 * whose bytes differed with the partitioning and which DuckDB cannot
 * read, so it cannot sit under the oracle hash gate.
 */
case class QuantileKll(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllState]
  with UnaryLike[Expression] {

  require(k >= 8, "qsketch needs k >= 8")

  override def createAggregationBuffer(): KllState = new KllState

  override def update(buffer: KllState, input: InternalRow): KllState = {
    val v = child.eval(input)
    if (v != null) QuantileKll.insert(buffer, v.asInstanceOf[Double], k)
    buffer
  }

  override def merge(buffer: KllState, other: KllState): KllState = {
    var i = 0
    while (i < other.levels.length) {
      val src = other.levels(i)
      if (src.nonEmpty) {
        while (buffer.levels.length <= i) buffer.levels += ArrayBuffer.empty[Double]
        buffer.levels(i) ++= src
        if (buffer.levels(i).length > k) QuantileKll.compact(buffer, i, k)
      }
      i += 1
    }
    buffer
  }

  override def eval(buffer: KllState): Any = {
    val sample = QuantileKll.sample(buffer)
    new GenericArrayData(sample.map { case (v, w) => InternalRow(v, w) }.toArray[Any])
  }

  override def serialize(buffer: KllState): Array[Byte] = {
    var bytes = 4
    buffer.levels.foreach(l => bytes += 4 + 8 * l.length)
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buffer.levels.length)
    buffer.levels.foreach { l =>
      bb.putInt(l.length)
      l.foreach(bb.putDouble)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KllState = {
    val bb = ByteBuffer.wrap(bytes)
    val st = new KllState
    st.levels.clear()
    val nl = bb.getInt
    var i = 0
    while (i < nl) {
      val m = bb.getInt
      val l = new ArrayBuffer[Double](m)
      var j = 0
      while (j < m) { l += bb.getDouble; j += 1 }
      st.levels += l
      i += 1
    }
    if (st.levels.isEmpty) st.levels += ArrayBuffer.empty[Double]
    st
  }

  override def dataType: DataType = QuantileKll.OutType
  override def nullable: Boolean = false
  override def prettyName: String = "qsketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileKll =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileKll =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): QuantileKll =
    copy(child = newChild)
}

object QuantileKll {
  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("w", LongType, nullable = false))),
    containsNull = false)

  /** One value into the sketch, compacting level 0 on overflow. Shared by
    * the aggregate's update path and the streaming operator's state step
    * ([[graft.streaming.Streams.streamingQuantiles]]) so both regimes run
    * the IDENTICAL deterministic compaction. */
  def insert(st: KllState, v: Double, k: Int): Unit = {
    st.levels(0) += v
    if (st.levels(0).length > k) compact(st, 0, k)
  }

  /** Deterministic compaction: sort level `i`, promote the even-indexed
    * items of the even-length prefix (their weight doubles; each promoted
    * item stands for itself and its right neighbour, so any rank estimate
    * is perturbed by at most 2^i per compaction), keep the odd leftover —
    * if any — at level `i` so TOTAL RETAINED WEIGHT is conserved exactly
    * (the sketch's `n` is always the true non-null count), cascade upward
    * on overflow. No random offset — same input multiset and merge order
    * ⇒ same retained sample. */
  def compact(st: KllState, i: Int, k: Int): Unit = {
    val lvl = st.levels(i)
    val sorted = lvl.toArray
    java.util.Arrays.sort(sorted)
    if (st.levels.length <= i + 1) st.levels += ArrayBuffer.empty[Double]
    val up = st.levels(i + 1)
    lvl.clear()
    val even = sorted.length & ~1
    var j = 0
    while (j < even) { up += sorted(j); j += 2 }
    if (even < sorted.length) lvl += sorted(sorted.length - 1)
    if (up.length > k) compact(st, i + 1, k)
  }

  /** The retained weighted sample, canonically sorted by (v, w) — the
    * sketch's output form, shared by eval and the streaming emitter. */
  def sample(st: KllState): Array[(Double, Long)] = {
    var n = 0
    var i = 0
    while (i < st.levels.length) { n += st.levels(i).length; i += 1 }
    val out = new Array[(Double, Long)](n)
    var o = 0
    i = 0
    while (i < st.levels.length) {
      val lvl = st.levels(i)
      val w = 1L << i
      var j = 0
      while (j < lvl.length) { out(o) = (lvl(j), w); o += 1; j += 1 }
      i += 1
    }
    out.sortBy(x => (x._1, x._2))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
  }
}
