package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Exact distributed top-k as a bounded-buffer typed aggregate.
  *
  * The rank-window formulation of per-group top-k
  * (`row_number().over(partitionBy(g).orderBy(score))`) shuffles EVERY
  * scored row into |groups| reducers — the bottleneck the round-1
  * review flagged for the brute-force cosine query at 100 TB. This
  * aggregate keeps at most k candidates per partition per group
  * (map-side partial aggregation), so the exchange carries
  * ≤ partitions·|groups|·k slim (id, score) pairs and the merge is a
  * k-way sorted-list merge. Results are identical to the window (it is
  * exact — top-k of a union is the top-k of per-part top-ks); only the
  * plan shape changes.
  */
object TopK {

  type Entry = (Long, Double) // (id, score)

  /** score desc, id asc — the same ordering the window formulation uses
    * (`orderBy(sim.desc, id)`), so results are bit-identical.
    */
  private def beats(a: Entry, b: Entry): Boolean =
    a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

  final class TopKAgg(k: Int)
      extends Aggregator[Entry, Seq[Entry], Seq[Entry]] {
    override def zero: Seq[Entry] = Vector.empty

    override def reduce(buf: Seq[Entry], x: Entry): Seq[Entry] =
      if (buf.size >= k && !beats(x, buf.last)) buf
      else {
        val i = buf.indexWhere(e => beats(x, e)) match {
          case -1 => buf.size
          case j => j
        }
        (buf.take(i) :+ x) ++ buf.drop(i).take(k - i - 1)
      }

    override def merge(a: Seq[Entry], b: Seq[Entry]): Seq[Entry] = {
      // merge two k-sorted lists, keep k
      val out = Vector.newBuilder[Entry]
      var (i, j, n) = (0, 0, 0)
      while (n < k && (i < a.size || j < b.size)) {
        if (j >= b.size || (i < a.size && beats(a(i), b(j)))) {
          out += a(i); i += 1
        } else { out += b(j); j += 1 }
        n += 1
      }
      out.result()
    }

    override def finish(buf: Seq[Entry]): Seq[Entry] = buf
    override def bufferEncoder: Encoder[Seq[Entry]] =
      ExpressionEncoder[Seq[Entry]]()
    override def outputEncoder: Encoder[Seq[Entry]] =
      ExpressionEncoder[Seq[Entry]]()
  }

  /** `df.groupBy(g).agg(TopK.topK(idCol, scoreCol, k))` → array of
    * (id, score) structs sorted score-desc, id-asc. Backed by the
    * native [[CollectTopK]] Catalyst aggregate (no per-row encoder
    * serde; ObjectHashAggregate-eligible); [[TopKAgg]] is the typed
    * `Aggregator` formulation of the same kernel, kept as the
    * differential-testing reference (TopKSpec pins them equal).
    */
  def topK(idCol: Column, scoreCol: Column, k: Int): Column =
    collect(idCol, scoreCol, k, None)

  /** [[topK]] with a long `payloadCol` riding each entry as struct
    * field `_3` — it takes no part in the ordering, so the ranking is
    * [[topK]]'s and a caller reads the payload instead of joining the
    * top ids back onto the scored rows.
    */
  def topK(idCol: Column, scoreCol: Column, payloadCol: Column,
           k: Int): Column =
    collect(idCol, scoreCol, k, Some(payloadCol))

  private def collect(idCol: Column, scoreCol: Column, k: Int,
                      payloadCol: Option[Column]): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(CollectTopK(
        ColumnBridge.expression(idCol.cast("long")),
        ColumnBridge.expression(scoreCol.cast("double")), k,
        payloadCol.map(c => ColumnBridge.expression(c.cast("long"))))
      .toAggregateExpression()).as("topk")
  }

  /** The heap entry's id is a long: an integral id widens losslessly,
    * while a `cast("long")` of a string or uuid id nulls every id and
    * returns an empty or garbage ranking with no error. The schema says
    * which, so `caller` fails fast instead. A string-keyed corpus (URLs,
    * content hashes) ranks on `xxhash64(id)` and joins the ids back.
    */
  private[llmops] def requireIntegralId(df: DataFrame, idCol: String,
                                        caller: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$caller needs an integral id column, got '$idCol': " +
        s"${dt.simpleString} — rank on xxhash64($idCol) and join the " +
        "original ids back")
  }

  /** The pre-round-5 UDAF plan shape, kept callable for comparison. */
  def topKUdaf(idCol: Column, scoreCol: Column, k: Int): Column =
    udaf(new TopKAgg(k), ExpressionEncoder[Entry]())
      .apply(idCol, scoreCol).as("topk")
}
