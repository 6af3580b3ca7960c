package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow.{apply => _}
import org.apache.spark.sql.types._

/** SpaceSaving heavy-hitters sketch (Metwally et al., "Efficient
  * computation of frequent and top-k elements in data streams", ICDT'05)
  * as a `TypedImperativeAggregate` — the mergeable-summary shape for top-k
  * over a 100 TB keyspace: every task keeps a capacity-bounded summary,
  * partial summaries merge associatively through the normal partial/final
  * aggregation plumbing (ObjectHashAggregate), and only `capacity` rows of
  * state ever cross the shuffle, regardless of key cardinality.
  *
  * Guarantees (standard SpaceSaving): estimates OVERcount, `count - err ≤
  * true ≤ count`; every key with true frequency > N/capacity is present.
  * When `capacity ≥` the number of distinct keys (in every partial
  * summary), no eviction happens anywhere and the result is EXACT — the
  * regime the oracle checks; the undersized regime is spec-checked against
  * the error contract.
  */
class SpaceSavingSummary(val capacity: Int) extends Serializable {
  // key -> (count, err)
  val counts = new java.util.HashMap[Long, (Long, Long)]()
  /** True once any key has been evicted (here or in a merged-in summary).
    * While false the summary is EXACT even at size == capacity, so absent
    * keys provably have count 0 — without this flag, merging two exact
    * full-capacity partials would add a spurious floor to absent keys. */
  var hasEvicted: Boolean = false

  def add(key: Long, w: Long): Unit = {
    val cur = counts.get(key)
    if (cur != null) counts.put(key, (cur._1 + w, cur._2))
    else if (counts.size < capacity) counts.put(key, (w, 0L))
    else {
      hasEvicted = true
      // evict the current minimum; its count becomes the newcomer's error.
      // O(capacity) scan — a production stream-summary keeps count buckets
      // in a linked structure for O(1); capacity is a small constant either
      // way.
      var minK = 0L; var minC = Long.MaxValue
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue._1 < minC) { minC = e.getValue._1; minK = e.getKey }
      }
      counts.remove(minK)
      counts.put(key, (minC + w, minC))
    }
  }

  /** Pessimistic count floor for keys this summary has never seen: 0 if it
    * never evicted (it saw its whole substream exactly — including the
    * distinct-keys-exactly-capacity case), else the current minimum count. */
  private def absentFloor: Long =
    if (!hasEvicted) 0L
    else {
      var m = Long.MaxValue
      val it = counts.values().iterator()
      while (it.hasNext) m = math.min(m, it.next()._1)
      if (m == Long.MaxValue) 0L else m
    }

  /** Mergeable-summaries combine: keywise count/err sums, absent side
    * contributing its floor to BOTH count and err (keeps the overcount
    * invariant), then trim back to capacity by count. */
  def merge(other: SpaceSavingSummary): SpaceSavingSummary = {
    if (other.counts.isEmpty) { hasEvicted ||= other.hasEvicted; return this }
    if (counts.isEmpty) {
      counts.putAll(other.counts); hasEvicted ||= other.hasEvicted; return this
    }
    // floors from each side's PRE-merge eviction state: an exact side
    // (never evicted) contributes floor 0 even when the other side has
    // evicted — folding other.hasEvicted in first would inflate fa to this
    // side's min count and loosen keys present only in `other`
    val fa = absentFloor
    val fb = other.absentFloor
    hasEvicted ||= other.hasEvicted
    val merged = new java.util.HashMap[Long, (Long, Long)]()
    val ia = counts.entrySet().iterator()
    while (ia.hasNext) {
      val e = ia.next()
      val b = other.counts.get(e.getKey)
      merged.put(e.getKey,
        if (b != null) (e.getValue._1 + b._1, e.getValue._2 + b._2)
        else (e.getValue._1 + fb, e.getValue._2 + fb))
    }
    val ib = other.counts.entrySet().iterator()
    while (ib.hasNext) {
      val e = ib.next()
      if (!merged.containsKey(e.getKey))
        merged.put(e.getKey, (e.getValue._1 + fa, e.getValue._2 + fa))
    }
    counts.clear()
    if (merged.size <= capacity) counts.putAll(merged)
    else {
      // trimming discards keys with nonzero counts — from here on absent
      // keys are no longer provably zero
      hasEvicted = true
      // keep the `capacity` largest counts (key tiebreak for determinism)
      import scala.jdk.CollectionConverters._
      merged.asScala.toSeq
        .sortBy { case (k, (c, _)) => (-c, k) }
        .take(capacity)
        .foreach { case (k, v) => counts.put(k, v) }
    }
    this
  }

  def topK(k: Int): Seq[(Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq
      .map { case (key, (c, e)) => (key, c, e) }
      .sortBy { case (key, c, _) => (-c, key) }
      .take(k)
  }
}

/** `topk_sketch(key, k, capacity)` → array<struct<key,count,err>> sorted by
  * (count desc, key asc), truncated to k. Key must be integral. */
case class TopKSketch(child: Expression, k: Int, capacity: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SpaceSavingSummary]
    with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType), StructField("count", LongType),
    StructField("err", LongType))))
  override def nullable: Boolean = false

  override def createAggregationBuffer(): SpaceSavingSummary =
    new SpaceSavingSummary(capacity)

  override def update(buf: SpaceSavingSummary, input: InternalRow): SpaceSavingSummary = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Number].longValue(), 1L)
    buf
  }

  override def merge(a: SpaceSavingSummary, b: SpaceSavingSummary): SpaceSavingSummary =
    a.merge(b)

  override def eval(buf: SpaceSavingSummary): Any = {
    val rows = buf.topK(k).map { case (key, c, e) =>
      InternalRow(key, c, e)
    }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: SpaceSavingSummary): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(9 + buf.counts.size * 24)
    bb.putInt(buf.capacity); bb.putInt(buf.counts.size)
    bb.put(if (buf.hasEvicted) 1.toByte else 0.toByte)
    val it = buf.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey); bb.putLong(e.getValue._1); bb.putLong(e.getValue._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingSummary = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val cap = bb.getInt; val n = bb.getInt
    val s = new SpaceSavingSummary(cap)
    s.hasEvicted = bb.get() != 0
    (1 to n).foreach { _ =>
      val key = bb.getLong; val c = bb.getLong; val e = bb.getLong
      s.counts.put(key, (c, e))
    }
    s
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HeavyHitters {
  /** SQL declaration: `topk_sketch(key, k, capacity)`. */
  val functions: Seq[Declare.Fn] = Seq(
    Declare.fn("topk_sketch")(es => TopKSketch(es(0),
      es(1).eval().asInstanceOf[Number].intValue(),
      es(2).eval().asInstanceOf[Number].intValue())))
}
