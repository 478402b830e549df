package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** SURVEY.md §2.6 O2 depth — the per-key top-k operator
  * ([[graft.plans.TopKPerKey]] in batch) as an INCREMENTAL streaming
  * operator on `transformWithState`, holding each key's current top-k in
  * a `MapState` cell (member event_id → value).
  *
  * Why MapState and not one list blob: an arriving event touches at most
  * two members (one insert, one eviction), and MapState makes those two
  * POINT writes in the RocksDB state store — `updateValue`/`removeKey`
  * per member — instead of rewriting a k-row list per input. State per
  * key is bounded at k entries by construction, so total state is
  * O(keys·k) forever, no watermark needed for correctness.
  *
  * Determinism: the merged top-k of a key depends only on the SET of
  * events seen (bounded-heap merge is associative/commutative over sets,
  * the same argument as the batch operator's partial pass), so the final
  * snapshot equals the batch operator's answer under any micro-batch
  * partitioning — the property StreamOperatorSpec asserts.
  *
  * Emission: one sequence-numbered snapshot of the full top-k per key
  * per micro-batch the key appears in; `seq` makes "the final state" a
  * relational query over the append-only sink (max seq per key).
  */
object StreamingTopK {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class TopKRow(user_id: Long, seq: Long, rank: Int, event_id: Long, value: Double)

  /** Keep the k largest by (value DESC, event_id ASC) — the same order
    * contract as the batch operator in o2_topk_custom. */
  val K = 3

  /** The stream keeps users below this id: the key space of the batch
    * twin it is checked against. */
  val UserCap = 25L

  class Processor extends StatefulProcessor[Long, Event, TopKRow] {
    @transient private var members: MapState[Long, Double] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      members = getHandle.getMapState[Long, Double](
        "topk_members", Encoders.scalaLong, Encoders.scalaDouble, TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def better(a: (Long, Double), b: (Long, Double)): Boolean =
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[TopKRow] = {
      val incoming = rows.map(e => e.event_id -> e.value).toList
      if (incoming.isEmpty) return Iterator.empty
      val current = members.iterator().toList
      // set-merge: dedup by event_id (replayed inputs are idempotent),
      // then keep the k best under (value DESC, event_id ASC)
      val merged = (current ++ incoming).toMap.toList
        .sortWith(better).take(K)
      val keep = merged.map(_._1).toSet
      current.collect { case (id, _) if !keep.contains(id) => id }
        .foreach(members.removeKey)
      merged.filterNot { case (id, v) =>
        current.exists(c => c._1 == id && c._2 == v)
      }.foreach { case (id, v) => members.updateValue(id, v) }
      val s = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(s)
      merged.iterator.zipWithIndex.map { case ((id, v), i) =>
        TopKRow(key, s, i + 1, id, v)
      }
    }
  }

  /** Events parquet stream → top-k snapshots. */
  def stream(spark: SparkSession, srcDir: String): Dataset[TopKRow] = {
    import spark.implicits._
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 4)
      .filter(col("user_id") < UserCap)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[TopKRow])
  }
}
