package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** The streaming face of the `a13_slo_burn_rate` batch query — SLO
  * error-budget monitoring that keeps up with the event firehose
  * instead of re-scanning it per evaluation. Each micro-batch
  * increments a per-30-min-bucket (n, errs) counter pair held in
  * `transformWithState` and emits the updated bucket rows; the burn
  * arithmetic (trailing 6 h window, both-windows ≥6× alert — see
  * MonitorQueries) is pure integer math over the bounded bucket
  * census, so any consumer of the emitted snapshot reproduces the
  * batch query's numbers exactly.
  *
  * Scale: state is bounded by the TIME-BUCKET domain (48 cells/day ×
  * 16 bytes), not event volume — a 100 TB/day firehose maintains the
  * same few counters. Increments are commutative, so this operator
  * needs NO in-order-delivery precondition (the StreamingDrift
  * property): any arrival order yields the same final census, and the
  * counters live in the checkpoint across restarts.
  */
object StreamingBurnRate {

  case class Ev(bucket: Long, is_err: Long)
  case class Counts(n: Long, errs: Long)
  case class BucketRow(bucket: Long, n: Long, errs: Long)

  class Processor extends StatefulProcessor[Long, Ev, BucketRow] {
    @transient private var st: ValueState[Counts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[Counts](
        "bucket_counts", Encoders.product[Counts], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[BucketRow] = {
      var s = if (st.exists()) st.get() else Counts(0L, 0L)
      rows.foreach { e => s = Counts(s.n + 1, s.errs + e.is_err) }
      st.update(s)
      Iterator.single(BucketRow(key, s.n, s.errs))
    }
  }

  /** Events parquet stream → 30-min bucket key → incremental per-bucket
    * error census → per-batch snapshot rows. */
  def stream(spark: SparkSession, srcDir: String): Dataset[BucketRow] = {
    import spark.implicits._
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 1)
      .select(expr("unix_micros(ts) div 1800000000").as("bucket"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .as[Ev]
      .groupByKey(_.bucket)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[BucketRow])
  }
}
