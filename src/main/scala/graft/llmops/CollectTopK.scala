package graft.llmops

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.TopKInputTypes
import org.apache.spark.sql.types._

/** Bounded top-k buffer: parallel arrays sorted by the window order
  * (score desc NULLS LAST, id asc NULLS FIRST — Spark's defaults for
  * `orderBy(score.desc, id)`), capped at k entries. Linear insertion —
  * k is small (≤ [[CollectTopK.maxK]]) and rows that can't enter the
  * buffer are rejected with one comparison against the current floor.
  * The payload arrays exist only when the aggregate carries a payload.
  */
final class TopKBuffer(val k: Int, val hasPayload: Boolean) {
  var n: Int = 0
  val ids = new Array[Long](k)
  val scores = new Array[Double](k)
  val idNulls = new Array[Boolean](k)
  val scoreNulls = new Array[Boolean](k)
  val payloads: Array[Long] = if (hasPayload) new Array[Long](k) else null
  val payloadNulls: Array[Boolean] =
    if (hasPayload) new Array[Boolean](k) else null

  /** Copy entry `i` of `src` into slot `j` of this buffer. */
  def set(j: Int, src: TopKBuffer, i: Int): Unit = {
    ids(j) = src.ids(i); scores(j) = src.scores(i)
    idNulls(j) = src.idNulls(i); scoreNulls(j) = src.scoreNulls(i)
    if (hasPayload) {
      payloads(j) = src.payloads(i); payloadNulls(j) = src.payloadNulls(i)
    }
  }
}

/** Exact distributed per-group top-k as a native Catalyst
  * `TypedImperativeAggregate` — the engine-level kernel behind
  * [[TopK.topK]] and the [[graft.plans.RewriteWindowTopK]] optimizer
  * rule.
  *
  * Scale rationale (same as the round-1 review's finding): the
  * rank-window formulation shuffles EVERY scored row into |groups|
  * reducers; this aggregate keeps ≤ k candidates per partition per
  * group map-side, so the exchange carries ≤ partitions·|groups|·k
  * slim (id, score) pairs and the reduce side merges k-sorted lists.
  * Results are bit-identical to
  * `row_number().over(partitionBy(g).orderBy(score.desc, id)) <= k`:
  * the buffer comparator reproduces Spark's null ordering (desc →
  * NULLS LAST, asc → NULLS FIRST), treats -0.0 == 0.0 for ORDERING
  * while emitting the original score value (like the window does), and
  * ranks NaN above +∞ exactly like Spark's double ordering. Inputs are
  * implicitly cast (so `int` ids work from SQL), and non-castable
  * id/score types fail analysis, not execution.
  *
  * Payload: an optional long column that rides with each (id, score)
  * entry and never takes part in the ordering — the value a top-k
  * caller would otherwise join back onto the scored rows for (BM25's
  * `n_terms_hit`). Of two entries tied on (score, id), the earlier
  * one ranks first — in input order within a partition, the left
  * buffer in a merge — so which duplicate's payload survives depends
  * on partitioning; on a scored frame (group, id) is unique, and each
  * entry's payload is the one its row carried.
  *
  * Output: `array<struct<_1: bigint, _2: double>>` sorted by rank, and
  * `array<struct<_1: bigint, _2: double, _3: bigint>>` with a payload —
  * field names match the tuple-encoder schema the original UDAF
  * produced, so downstream `t._1` / `t._2` consumers are unchanged.
  */
case class CollectTopK(id: Expression, score: Expression, k: Int,
                       payload: Option[Expression] = None,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with TopKInputTypes {
  require(k >= 1 && k <= CollectTopK.maxK,
    s"k must be in [1, ${CollectTopK.maxK}], got $k")

  override protected def hasPayload: Boolean = payload.isDefined
  override def children: Seq[Expression] = Seq(id, score) ++ payload
  override def prettyName: String = "collect_top_k"
  // the payload prints as a plain argument, so a plan without one
  // reads as it did before the payload existed
  override protected def stringArgs: Iterator[Any] =
    Iterator(id, score, k) ++ payload ++
      Iterator(mutableAggBufferOffset, inputAggBufferOffset)
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (hasPayload) CollectTopK.payloadResultType else CollectTopK.resultType

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(k, hasPayload)

  /** Spark's total order for `(score desc, id asc)` with default null
    * ordering and NaN-largest double semantics: does entry a rank
    * strictly before entry b?
    */
  private def beats(aIdN: Boolean, aId: Long, aSN: Boolean, aS: Double,
                    bIdN: Boolean, bId: Long, bSN: Boolean, bS: Double)
      : Boolean = {
    if (aSN != bSN) return !aSN // desc → non-null scores first
    if (!aSN) {
      // Double.compare: NaN > +Inf (Spark's ordering); + 0.0 collapses
      // -0.0 onto 0.0 for COMPARISON only — the stored (and emitted)
      // value keeps its original sign, matching the window plan
      val c = java.lang.Double.compare(aS + 0.0, bS + 0.0)
      if (c != 0) return c > 0 // desc
    }
    if (aIdN != bIdN) return aIdN // asc → null ids first
    if (!aIdN && aId != bId) return aId < bId
    false
  }

  private def beats(a: TopKBuffer, i: Int, b: TopKBuffer, j: Int): Boolean =
    beats(a.idNulls(i), a.ids(i), a.scoreNulls(i), a.scores(i),
          b.idNulls(j), b.ids(j), b.scoreNulls(j), b.scores(j))

  private def insert(b: TopKBuffer, idN: Boolean, id: Long,
                     sN: Boolean, s0: Double, pN: Boolean, p: Long): Unit = {
    val s = if (sN) 0.0 else s0 // placeholder when null; original bits kept
    if (b.n >= b.k &&
        !beats(idN, id, sN, s,
               b.idNulls(b.n - 1), b.ids(b.n - 1),
               b.scoreNulls(b.n - 1), b.scores(b.n - 1))) return
    var pos = 0
    while (pos < b.n &&
           !beats(idN, id, sN, s,
                  b.idNulls(pos), b.ids(pos), b.scoreNulls(pos),
                  b.scores(pos))) pos += 1
    val last = math.min(b.n, b.k - 1)
    var i = last
    while (i > pos) {
      b.set(i, b, i - 1)
      i -= 1
    }
    b.ids(pos) = id; b.scores(pos) = s
    b.idNulls(pos) = idN; b.scoreNulls(pos) = sN
    if (b.hasPayload) { b.payloads(pos) = p; b.payloadNulls(pos) = pN }
    if (b.n < b.k) b.n += 1
  }

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val idV = id.eval(input)
    val sV = score.eval(input)
    val pV = payload.map(_.eval(input)).orNull
    insert(b,
      idV == null, if (idV == null) 0L else idV.asInstanceOf[Long],
      sV == null, if (sV == null) 0.0 else sV.asInstanceOf[Double],
      pV == null, if (pV == null) 0L else pV.asInstanceOf[Long])
    b
  }

  override def merge(a: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    val out = new TopKBuffer(k, hasPayload)
    var i = 0
    var j = 0
    while (out.n < k && (i < a.n || j < other.n)) {
      // on a (score, id) tie `a`'s entry goes first: with update's
      // insert-after-equals, a fold over partitions in order keeps the
      // entry a stable sort would
      if (j >= other.n || (i < a.n && !beats(other, j, a, i))) {
        out.set(out.n, a, i); i += 1
      } else {
        out.set(out.n, other, j); j += 1
      }
      out.n += 1
    }
    out
  }

  override def eval(b: TopKBuffer): Any = {
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      val idV = if (b.idNulls(i)) null else b.ids(i)
      val sV = if (b.scoreNulls(i)) null else b.scores(i)
      rows(i) = new GenericInternalRow(
        if (hasPayload)
          Array[Any](idV, sV, if (b.payloadNulls(i)) null else b.payloads(i))
        else Array[Any](idV, sV))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + b.n * (if (hasPayload) 25 else 17))
    bb.putInt(b.k).putInt(b.n)
    var i = 0
    while (i < b.n) {
      bb.put(((if (b.idNulls(i)) 1 else 0) | (if (b.scoreNulls(i)) 2 else 0) |
        (if (hasPayload && b.payloadNulls(i)) 4 else 0)).toByte)
      bb.putLong(b.ids(i)).putDouble(b.scores(i))
      if (hasPayload) bb.putLong(b.payloads(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val bk = bb.getInt
    val b = new TopKBuffer(bk, hasPayload)
    b.n = bb.getInt
    var i = 0
    while (i < b.n) {
      val flags = bb.get()
      b.idNulls(i) = (flags & 1) != 0
      b.scoreNulls(i) = (flags & 2) != 0
      b.ids(i) = bb.getLong
      b.scores(i) = bb.getDouble
      if (hasPayload) {
        b.payloadNulls(i) = (flags & 4) != 0
        b.payloads(i) = bb.getLong
      }
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): CollectTopK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CollectTopK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CollectTopK =
    copy(id = newChildren(0), score = newChildren(1),
      payload = payload.map(_ => newChildren(2)))
}

object CollectTopK {
  /** Rewrite/aggregate size guard: k beyond this means the caller
    * wants a big per-group buffer, which deserves an explicit sort,
    * not a heap in aggregation state.
    */
  val maxK: Int = 1024

  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("_1", LongType), StructField("_2", DoubleType))),
    containsNull = false)

  /** [[resultType]] plus the payload as field `_3`. */
  val payloadResultType: DataType = ArrayType(StructType(Seq(
    StructField("_1", LongType), StructField("_2", DoubleType),
    StructField("_3", LongType))),
    containsNull = false)
}
