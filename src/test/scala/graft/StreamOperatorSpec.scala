package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.ops.{PqIndex, ResultCache, TopK}
import graft.queries.QueryRegistry
import graft.streaming._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** Every file-sourced operator under `streaming/` as one row of a table,
  * driven twice: a clean drain, and [[Drain.crashThenDrain]], which
  * crashes right after batch [[CrashBatch]]'s sink ran and restarts from
  * the checkpoint, replaying that batch. Both times the operator's final
  * state — a query over its sink that absorbs replays (a max per key, or
  * [[Drained.rows]], distinct only after a replay) — must equal its batch
  * twin exactly: the registered, oracle-checked query where one exists,
  * batch code here otherwise.
  *
  * A row's input is a list of tranches; each partition of a tranche
  * lands as one file, in partition order. The clean drain lands and
  * drains the tranches one at a time on one checkpoint, so a two-tranche
  * row also restarts cleanly between them; the crash drill lands them
  * all first. Order-sensitive operators get time-split files, the
  * order-free ones any layout.
  *
  * Each suite at the bottom runs one row under the name the operator's
  * own spec had, so the ids of its tests stay the same. */
object StreamOperatorSpec {
  val Fixture = "/root/testdata/sf0.001"
  val CrashBatch = 1L
  /** How long each drain, and each of the drill's two queries, may run. */
  val DrainTimeoutMs = 300000L

  /** What a row's final-state query and extra checks see. */
  final case class Drained(t: Tables, sink: String, replayed: Boolean) {
    def read: DataFrame = t.spark.read.parquet(sink)
    /** The sink's rows, a replayed batch's second copy absorbed: the raw
      * multiset on a clean drain, so a duplicated row there still fails. */
    def rows: DataFrame = if (replayed) read.distinct() else read
  }

  final case class Op[T](
      name: String, // the clean drain's test
      input: Tables => Seq[DataFrame],
      stream: (SparkSession, String) => Dataset[T],
      state: Drained => DataFrame,
      twin: Tables => DataFrame,
      sink: (Tables, String) => (Dataset[T], Long) => Unit =
        (_: Tables, dir: String) => Drain.appendParquet[T](dir),
      extra: Drained => Unit = (_: Drained) => ())

  /** Per key, the row whose `cols` compare largest, in order: the final
    * snapshot of a stream whose per-key values only grow. */
  def latest(df: DataFrame, key: Seq[String], cols: String*): DataFrame =
    df.groupBy(key.map(col): _*).agg(max(struct(cols.map(col): _*)).as("m"))
      .select(key.map(col) :+ col("m.*"): _*)

  private def registered(t: Tables, q: String): DataFrame = QueryRegistry.queries(q)(t.spark, t.dir)

  /** `n` files contiguous in (ts, event_id), in time order. */
  private def timeSplit(df: DataFrame, n: Int): DataFrame =
    df.repartitionByRange(n, col("ts"), col("event_id"))

  /** Even and odd `key`s as two tranches. */
  private def halves(df: DataFrame, key: String): Seq[DataFrame] =
    Seq(df.filter(col(key) % 2 === 0).coalesce(2), df.filter(col(key) % 2 =!= 0).coalesce(2))

  private def burnRows(census: DataFrame): DataFrame = {
    val trailing = Window.orderBy(col("bucket")).rangeBetween(-11, 0)
    census
      .withColumn("n_long", sum(col("n")).over(trailing))
      .withColumn("err_long", sum(col("errs")).over(trailing))
      .withColumn("burn_long_bp", expr("err_long * 10000 div n_long"))
      .withColumn("burn_short_bp", expr("errs * 10000 div n"))
      .withColumn("alert", col("burn_long_bp") >= 600 && col("burn_short_bp") >= 600)
  }

  /** Tranche A: clean events; tranche B: planted violations (every 7th
    * event gets type 'X', every 11th a negative value). */
  private def gateTranches(t: Tables): Seq[DataFrame] = Seq(
    t.events.filter(col("event_id") % 2 === 0),
    t.events.filter(col("event_id") % 2 =!= 0)
      .withColumn("event_type",
        when(col("event_id") % 7 === 0, lit("X")).otherwise(col("event_type")))
      .withColumn("value",
        when(col("event_id") % 11 === 0, -col("value") - 1.0).otherwise(col("value"))))

  private def binCensus(docs: DataFrame): DataFrame = docs
    .select(expr("least(n_chars div 100L, 19L)").as("bin"), (col("doc_id") % 2 === 0).as("is_ref"))
    .groupBy(col("bin"))
    .agg(count(when(col("is_ref"), 1)).as("c_ref"), count(when(!col("is_ref"), 1)).as("c_cur"))

  private def driftCensus(d: Drained): DataFrame =
    latest(d.read.withColumn("total", col("c_ref") + col("c_cur")), Seq("bin"), "total", "c_ref", "c_cur")
      .drop("total")

  private val CacheTtl = 172800L // 48 h over daily batches: hit, cold and expired all fire
  private val cacheStamp: (Long, Long) => Long =
    (key, rtsUs) => key * 100000L + rtsUs / 86400000000L // key + epoch-day stamp

  private def dayWindows(t: Tables): Seq[DataFrame] = {
    val reqs = t.events.select(col("user_id").cast("long").as("key"), col("ts"))
    Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04").sliding(2).map { case Seq(lo, hi) =>
      reqs.filter(col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp"))
    }.toSeq
  }

  /** [[ResultCache.serve]] folded over the day windows: the per-batch
    * (batch_id, outcome, n, sv) census and the final (key, v) cache. */
  private def cacheFold(t: Tables): (DataFrame, DataFrame) = {
    var cache = t.events.filter(lit(false))
      .select(col("user_id").cast("long").as("key"), lit(0L).as("v"), col("ts").as("cached_at"))
    val census = dayWindows(t).zipWithIndex.map { case (w, i) =>
      val step = ResultCache.serve(cache, w, CacheTtl, misses =>
        misses.withColumn("v", expr("key * 100000 + unix_micros(rts) div 86400000000")))
      cache = step.cache
      step.served.groupBy(lit(i.toLong).as("batch_id"), col("outcome"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    }.reduce(_ unionByName _)
    (census, cache.select("key", "v"))
  }

  private def nearDupPairs(docs: DataFrame): DataFrame = {
    val bands = StreamingNearDup.bandRows(docs)
    val keep = bands.groupBy("b", "band_key").count()
      .filter(col("count").between(2, StreamingNearDup.MaxBucket)).select("b", "band_key")
    val kept = bands.join(keep, Seq("b", "band_key"))
    kept.select(col("b"), col("band_key"), col("doc_id").as("i"))
      .join(kept.select(col("b"), col("band_key"), col("doc_id").as("j")), Seq("b", "band_key"))
      .filter(col("i") < col("j")).select("i", "j").distinct()
  }

  /** Top-1 ADC hit per query vector 450-452 over PQ `codes`: ADC scoring
    * reads only codes, so equal codes give equal hits. */
  private def adcTop1(base: DataFrame, cb: DataFrame, codes: DataFrame): Map[Long, Long] = {
    val lut = PqIndex.subVectors(base.filter(col("vec_id").between(450, 452))
        .select(col("vec_id"), PqIndex.quantized.as("qe")))
      .withColumnRenamed("vec_id", "q_id").join(cb, "m")
      .withColumn("d2", PqIndex.subDist2)
      .select(col("q_id"), col("m").as("lm"), col("cw_id"), col("d2"))
    codes.join(lut, col("lm") === col("m") && col("cw_id") === col("code"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id")).agg(sum(col("d2")).as("adc"))
      .groupBy(col("q_id")).agg(min(struct(col("adc"), col("vec_id"))).as("t"))
      .select(col("q_id"), col("t.vec_id")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** The funnel as a plain fold over each user's time-ordered events. */
  private def funnelModel(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.events.select("event_id", "ts", "user_id", "event_type").collect()
      .map(r => (r.getLong(0), EventStreamPipeline.micros(r.getTimestamp(1)), r.getLong(2), r.getString(3)))
      .sortBy(e => (e._2, e._1)).groupBy(_._3).toSeq.flatMap { case (u, evs) =>
        var tv, tc, tp = 0L
        for ((_, us, _, typ) <- evs) typ match {
          case "view" if tv == 0L => tv = us
          case "click" if tv != 0L && tc == 0L && us > tv => tc = us
          case "purchase" if tc != 0L && tp == 0L && us > tc => tp = us
          case _ => ()
        }
        val stage = if (tp != 0L) 3 else if (tc != 0L) 2 else if (tv != 0L) 1 else 0
        if (stage == 0) None else Some((u, stage, tv, tc, tp))
      }.toDF("user_id", "stage", "tv_us", "tc_us", "tp_us")
  }

  val table: Map[String, Op[_]] = Map(
    "StreamingAttribution" -> Op[StreamingAttribution.CreditRow](
      "time-split streamed attribution equals the batch range-join census exactly",
      t => Seq(timeSplit(t.events, 4)),
      StreamingAttribution.stream,
      d => d.rows.groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_touches"), countDistinct(col("p_id")).as("n_purchases"),
          sum(col("first_cents")).as("first_cents"), sum(col("last_cents")).as("last_cents"),
          sum(col("linear_cents")).as("linear_cents")),
      t => registered(t, "w10_attribution")
        .select("touch_type", "n_touches", "n_purchases", "first_cents", "last_cents", "linear_cents")),

    "StreamingBurnRate" -> Op[StreamingBurnRate.BucketRow](
      "restarted burn-rate stream resumes counters and reproduces the batch burn rows",
      t => halves(t.events, "event_id"),
      StreamingBurnRate.stream,
      d => burnRows(latest(d.read, Seq("bucket"), "n", "errs")),
      t => registered(t, "a13_slo_burn_rate")),

    "StreamingChangeDetect" -> Op[StreamingChangeDetect.ChangeRow](
      "time-split streamed change detection equals the batch census exactly",
      t => Seq(timeSplit(t.events, 4)),
      StreamingChangeDetect.stream,
      d => d.rows.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), count(when(col("changed"), 1)).as("n_changes"),
          count(when(!col("changed"), 1)).as("n_repeats")),
      t => registered(t, "w8_change_detect").select("event_type", "n_events", "n_changes", "n_repeats"),
      extra = d => { // one flagged row per input event; a replay re-emits its batch
        val n = d.t.events.count()
        assert(d.read.select("event_id").distinct().count() == n)
        if (!d.replayed) assert(d.read.count() == n)
      }),

    "StreamingContractGate" -> Op[StreamingContractGate.GateRow](
      "restarted contract gate resumes counters and counts planted violations exactly",
      t => gateTranches(t).map(_.coalesce(2)),
      StreamingContractGate.stream,
      d => latest(d.read, Seq("check"), "n_checked", "n_violations"),
      t => gateTranches(t).reduce(_ unionByName _)
        .select(explode(array(
          struct(lit("accepted_event_type").as("check"),
            col("event_type").isin("click", "view", "purchase", "signup", "error").cast("long").as("ok")),
          struct(lit("value_non_negative").as("check"), (col("value") >= 0).cast("long").as("ok")),
          struct(lit("not_null_props").as("check"), col("props").isNotNull.cast("long").as("ok")))).as("c"))
        .groupBy(col("c.check").as("check"))
        .agg(count(lit(1)).as("n_checked"), sum(lit(1L) - col("c.ok")).as("n_violations")),
      extra = d => {
        val census = latest(d.read, Seq("check"), "n_checked", "n_violations")
        assert(census.count() == 3)
        assert(census.filter(col("check") === "accepted_event_type").head().getAs[Long]("n_violations") > 0,
          "planted event_type violations were not counted")
      }),

    "StreamingCountMin" -> Op[StreamingCountMin.CellRow](
      "restarted count-min stream reproduces the batch sketch exactly",
      t => halves(t.events, "event_id"),
      StreamingCountMin.stream,
      d => latest(d.read, Seq("j", "b"), "cnt"),
      t => t.events.select(explode(array((0 until 4).map { j =>
          struct(lit(j.toLong).as("j"), expr(s"(((user_id % 1000003L) * ${StreamingCountMin.A(j)}L + " +
            s"${StreamingCountMin.B(j)}L) % 1000003L) % ${StreamingCountMin.W}").as("b"))
        }: _*)).as("h"))
        .groupBy(col("h.j").as("j"), col("h.b").as("b")).agg(count(lit(1)).as("cnt"))),

    // two tranches, each in an adversarial (hash, not time) file order:
    // the census is order-free and its counters live in the checkpoint
    "StreamingDrift" -> Op[StreamingDrift.DriftRow](
      "streamed per-bin census reproduces the batch drift rows exactly",
      t => Seq(col("doc_id") < 250, col("doc_id") >= 250)
        .map(p => t.documents.filter(p).repartitionByRange(2, xxhash64(col("doc_id")))),
      StreamingDrift.stream,
      d => {
        val census = driftCensus(d)
        census.crossJoin(broadcast(census.agg(sum(col("c_ref")).as("t_ref"), sum(col("c_cur")).as("t_cur"))))
          .select(col("bin"), expr("(c_ref * 1000000L) div t_ref").as("ref_ppm"),
            expr("(c_cur * 1000000L) div t_cur").as("cur_ppm"))
          .withColumn("diff_ppm", abs(col("ref_ppm") - col("cur_ppm")))
          .withColumn("drift_score", expr("((ref_ppm - cur_ppm) * (ref_ppm - cur_ppm)) div (cur_ppm + 1L)"))
      },
      t => registered(t, "a13_drift_tvd").select("bin", "ref_ppm", "cur_ppm", "diff_ppm", "drift_score"),
      // ppm masses hide a uniform recount: the raw counters must match too
      extra = d => assertSame(driftCensus(d), binCensus(d.t.documents))),

    // alpha = 1/2 makes every fold step exact: bit-for-bit equality
    "StreamingEwma" -> Op[StreamingEwma.EwmaRow](
      "time-split streamed EWMA equals the batch fold exactly",
      t => Seq(timeSplit(t.events, 4)),
      StreamingEwma.stream,
      d => latest(d.read, Seq("user_id"), "n_events", "ewma"),
      t => registered(t, "w5_ewma")
        .select(col("user_id"), col("n_events").cast("long").as("n_events"), col("ewma"))),

    "StreamingFunnel" -> Op[StreamingFunnel.FunnelSnapshot](
      "multi-batch streamed funnel equals the in-memory stage machine",
      t => Seq(timeSplit(t.events, 4)),
      // idle horizon wider than the fixture's 30 days: equivalence needs
      // every incomplete funnel kept
      (s, src) => StreamingFunnel.stream(s, src, idleMs = 90L * 24 * 3600 * 1000),
      d => latest(d.read, Seq("user_id"), "stage", "tv_us", "tc_us", "tp_us"),
      funnelModel),

    "StreamingMerge" -> Op[org.apache.spark.sql.Row](
      "drained snapshot equals the batch aggregate; versions are monotone",
      t => Seq(t.events.repartition(8)),
      StreamingMerge.stream,
      d => StreamingMerge.latestSnapshot(d.t.spark, d.sink).getOrElse(fail("no snapshot version written")),
      t => StreamingMerge.reduceBatch(t.events),
      sink = (_, dir) => StreamingMerge.sink(dir),
      extra = d => {
        val vs = new File(d.sink).listFiles().filter(_.getName.startsWith("v")).map(_.getAbsolutePath).sorted
        assert(vs.length > 1, "expected multiple snapshot versions")
        def n(v: String) = d.t.spark.read.parquet(v).select(col("user_id"), col("n_events"))
        for (Array(a, b) <- vs.sliding(2))
          assert(n(a).join(n(b).withColumnRenamed("n_events", "n_b"), "user_id")
            .filter(col("n_b") < col("n_events")).isEmpty, s"per-user count shrank between $a and $b")
        // a retried batch N must merge against the version before N, never
        // its own (possibly partial) earlier attempt
        def total(s: DataFrame) = s.agg(sum(col("n_events"))).head().getLong(0)
        val prev = StreamingMerge.latestSnapshot(d.t.spark, d.sink, beforeBatch = vs.last.split("/v").last.toLong)
          .getOrElse(fail("no pre-batch version resolvable"))
        assert(total(prev) < total(StreamingMerge.latestSnapshot(d.t.spark, d.sink).get),
          "beforeBatch lookup resolved to the final version — a retry would double-apply")
      }),

    "StreamingNearDup" -> Op[StreamingNearDup.CandPair](
      "streamed candidate pairs equal the batch banded-join candidate set",
      t => Seq(t.documents.repartition(5)),
      StreamingNearDup.stream,
      d => d.read.select("i", "j").distinct(),
      t => nearDupPairs(t.documents),
      // exact equivalence needs every bucket within the cap: the batch
      // drops an oversized bucket, the stream stops pairing at the cap
      extra = d => assert(StreamingNearDup.bandRows(d.t.documents).groupBy("b", "band_key").count()
        .filter(col("count") > StreamingNearDup.MaxBucket).isEmpty, "fixture grew an oversized bucket")),

    // per day-window batch: the live cache entry per key is its last
    // non-hit row; per-batch censuses must match the fold's too
    "StreamingResultCache" -> Op[StreamingResultCache.Served](
      "day-window streamed cache equals the batch serve fold: censuses and drained cache identical",
      t => dayWindows(t).map(_.coalesce(1)),
      (s, src) => StreamingResultCache.stream(s, src, CacheTtl, cacheStamp),
      d => latest(d.read.filter(col("outcome") =!= "hit"), Seq("key"), "batch_id", "v").drop("batch_id"),
      t => cacheFold(t)._2,
      sink = (_, dir) => Drain.appendStamped(dir),
      extra = d => assertSame(
        d.rows.groupBy(col("batch_id"), col("outcome"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")),
        cacheFold(d.t)._1)),

    // masks only gain bits: max(mask) per user is the final snapshot
    "StreamingRetention" -> Op[StreamingRetention.RetRow](
      "time-split streamed retention triangle equals the batch query exactly",
      t => Seq(timeSplit(t.events, 4)),
      StreamingRetention.stream,
      d => d.read.groupBy(col("user_id"))
        .agg(min(col("cohort_day")).as("cohort_day"), max(col("mask")).as("mask"))
        .select(col("user_id"), col("cohort_day"), col("mask"), explode(sequence(lit(0), lit(63))).as("age_days"))
        .filter(expr("(shiftright(mask, age_days) & 1) = 1"))
        .groupBy(date_format(expr("date_add(DATE'1970-01-01', cast(cohort_day as int))"), "yyyy-MM-dd").as("cohort"),
          col("age_days"))
        .agg(count_distinct(col("user_id")).as("n_active")),
      t => registered(t, "w7_retention_cohorts")
        .select(col("cohort"), col("age_days").cast("int").as("age_days"), col("n_active"))),

    // the batch's open rows (valid_to_us = -1) are the stream's live
    // state, never emitted: the stream's sink is the closed history
    "StreamingScd2" -> Op[StreamingScd2.ClosedRow](
      "time-split streamed SCD2 intervals equal the batch history's closed rows",
      t => Seq(timeSplit(t.events, 4)),
      StreamingScd2.stream,
      d => d.rows,
      t => registered(t, "u5_scd2_history").filter(col("valid_to_us") =!= -1L)
        .select("user_id", "version", "event_type", "valid_from_us", "valid_to_us"),
      extra = d => {
        val batch = registered(d.t, "u5_scd2_history")
        val open = batch.filter(col("valid_to_us") === -1L).count()
        assert(open == batch.select("user_id").distinct().count(), "expected exactly one open interval per user")
        assert(batch.filter(col("valid_to_us") =!= -1L).count() + open == batch.count())
      }),

    // the last snapshot per key (max seq) is the key's top-k
    "StreamingTopK" -> Op[StreamingTopK.TopKRow](
      "streamed MapState top-k converges to the batch top-k operator",
      t => Seq(t.events.repartitionByRange(6, col("ts")).sortWithinPartitions(col("ts"))),
      StreamingTopK.stream,
      d => d.rows.join(d.read.groupBy("user_id").agg(max("seq").as("seq")), Seq("user_id", "seq"))
        .select("user_id", "event_id", "value"),
      t => TopK.perKey(t.events.filter(col("user_id") < 25),
          Seq("user_id"), Seq(col("value").desc, col("event_id").asc), StreamingTopK.K)
        .select("user_id", "event_id", "value"),
      extra = d => {
        // incremental: 6 files at 4 per batch is 2 batches, so some key re-emitted
        assert(d.read.agg(max("seq")).head().getLong(0) >= 2, "expected multi-batch incremental updates")
        // ranks within a snapshot follow (value DESC, event_id ASC)
        val w = Window.partitionBy(col("user_id"), col("seq")).orderBy(col("value").desc, col("event_id").asc)
        assert(d.rows.withColumn("expect", row_number().over(w))
          .filter(col("rank") =!= col("expect")).isEmpty, "snapshot rows have inconsistent ranks")
      }),

    // the frozen-codebook encode is row-local: the index built batch by
    // batch is bit-identical to a batch encode, with no (vec_id, m) twice
    "StreamingVectorIngest" -> Op[org.apache.spark.sql.Row](
      "drained incremental index equals the batch encode; segments are append-only",
      t => Seq(col("vec_id") < 250, col("vec_id") >= 250).map(p => t.embeddings.filter(p).repartition(2)),
      StreamingVectorIngest.stream,
      d => StreamingVectorIngest.indexSegments(d.t.spark, d.sink).getOrElse(fail("no index segments written")),
      t => StreamingVectorIngest.encodeBatch(t.embeddings, StreamingVectorIngest.trainedCodebook(t.embeddings)),
      sink = (t, dir) => StreamingVectorIngest.sink(dir, StreamingVectorIngest.trainedCodebook(t.embeddings)),
      extra = d => {
        assert(new File(d.sink).listFiles().count(_.getName.startsWith("b")) > 1,
          "expected one segment per micro-batch")
        val (base, cb) = (d.t.embeddings, StreamingVectorIngest.trainedCodebook(d.t.embeddings))
        assert(adcTop1(base, cb, StreamingVectorIngest.indexSegments(d.t.spark, d.sink).get) ==
          adcTop1(base, cb, StreamingVectorIngest.encodeBatch(base, cb)),
          "ADC probe over the incremental index diverged from the batch index")
      }),

    "UserTotalsTWS" -> Op[UserTotalsTWS.UserRow](
      "TWS snapshots match batch aggregate; idle keys emit exactly one final",
      t => Seq(t.events.repartition(6)),
      UserTotalsTWS.stream,
      d => d.read.filter(col("kind") === "snapshot").groupBy("user_id").agg(max(col("n_events")).as("n_events")),
      t => t.events.groupBy("user_id").agg(count(lit(1)).as("n_events")),
      extra = d => {
        val batch = d.t.events.groupBy("user_id").agg(count(lit(1)).as("b_n"),
          round(sum(col("value")), 2).as("b_sum"), max(unix_millis(col("ts"))).as("b_last"))
        // per-batch rounding drifts a sum by at most a few cents
        assert(latest(d.read.filter(col("kind") === "snapshot"), Seq("user_id"), "n_events", "sum_value")
          .join(batch, "user_id").filter(abs(col("sum_value") - col("b_sum")) > 0.05).isEmpty,
          "a last snapshot's sum diverged from the batch sum")
        val finals = d.read.filter(col("kind") === "final")
        // at most one final per user (a replay re-emits an identical one)
        assert((if (d.replayed) finals.distinct() else finals).groupBy("user_id").count()
          .filter(col("count") > 1).isEmpty, "a user has two finals")
        assert(finals.join(batch, "user_id").filter(col("n_events") =!= col("b_n") ||
          abs(col("sum_value") - col("b_sum")) > 0.05 || col("last_ms") =!= col("b_last")).isEmpty,
          "a final row diverged from the batch totals")
        // a user idle past the final watermark (max ts - 1 h delay) must
        // have been evicted: its timer fires at last_ms + IdleGapMs
        val wmMs = d.t.events.agg(max(unix_millis(col("ts")))).head().getLong(0) - 3600000L
        val missing = batch.filter(col("b_last") + UserTotalsTWS.IdleGapMs < wmMs)
          .join(finals, Seq("user_id"), "left_anti").count()
        assert(missing == 0, s"$missing idle users were never evicted")
      }))

  /** Exact multiset equality, `got`'s columns matched to `want`'s by name. */
  def assertSame(got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(want.columns.map(col): _*)
    val (missing, extra) = (want.exceptAll(g), g.exceptAll(want))
    assert(!want.isEmpty, "the twin is empty")
    assert(missing.isEmpty && extra.isEmpty, "final state != twin: missing " +
      s"${missing.take(3).mkString(", ")}; extra ${extra.take(3).mkString(", ")}")
  }

  /** Lands each partition of `tranche` as one parquet file in `dir`, with
    * mtimes ascending in partition order after the files already there:
    * the file source reads files in mtime order. */
  private def land(dir: String, tranche: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("tranche").toFile
    tranche.write.mode("overwrite").parquet(tmp.getPath)
    Files.createDirectories(Paths.get(dir))
    val n0 = new File(dir).list().length
    for ((f, i) <- tmp.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex) {
      val dst = Paths.get(dir, f"f${n0 + i}%03d.parquet")
      Files.move(f.toPath, dst)
      dst.toFile.setLastModified(1000000000000L + (n0 + i) * 60000L)
    }
    FileUtils.deleteDirectory(tmp)
  }

  /** Drives `row` once, cleanly or through the crash drill, and checks
    * its final state against its twin. */
  def drive[T](spark: SparkSession, row: Op[T], crash: Boolean): Unit = {
    val work = Files.createTempDirectory("stream_op").toString
    val (src, sink, ck) = (s"$work/src", s"$work/sink", s"$work/ck")
    val t = Tables(spark, Fixture)
    try {
      if (crash) {
        row.input(t).foreach(land(src, _))
        val (crashedAt, surfaced, _, _) =
          Drain.crashThenDrain(row.stream(spark, src), ck, CrashBatch, DrainTimeoutMs)(row.sink(t, sink))
        assert(crashedAt == CrashBatch && surfaced,
          s"no crash at batch $CrashBatch: crashed at $crashedAt, failed query: $surfaced")
      } else row.input(t).foreach { tranche =>
        land(src, tranche)
        assert(Drain(row.stream(spark, src), ck)(row.sink(t, sink)).awaitTermination(DrainTimeoutMs),
          s"the drain did not finish within $DrainTimeoutMs ms")
      }
      val d = Drained(t, sink, replayed = crash)
      assertSame(row.state(d), row.twin(t))
      row.extra(d)
    } finally FileUtils.deleteDirectory(new File(work))
  }
}

/** Runs the table row of operator `op`: its clean drain, then its crash
  * drill. */
abstract class StreamOperatorSpec(op: String) extends SparkSpecBase {
  import StreamOperatorSpec._
  private val row = table(op)

  test(row.name)(drive(spark, row, crash = false))
  test(s"crashed after batch $CrashBatch and replayed from the checkpoint, the final state equals the twin")(
    drive(spark, row, crash = true))
}

class StreamingAttributionSpec extends StreamOperatorSpec("StreamingAttribution") {
  test("after a replay, two same-type middle touches of one purchase stay two credit rows") {
    import StreamOperatorSpec._
    import spark.implicits._
    def ev(id: Long, hhmm: String, user: Long, typ: String, value: Double) =
      (id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), user, typ, value, Option.empty[String])
    def file(evs: (Long, java.sql.Timestamp, Long, String, Double, Option[String])*) =
      evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props").coalesce(1)
    // batch 0: four touches then a 10.25 purchase, so the clicks (touches 2
    // and 3) each get linear credit 1025 div 4 = 256 and no first/last
    // credit; batch 1, the replayed one: an unattributed 3.00 purchase
    val row = table("StreamingAttribution").asInstanceOf[Op[StreamingAttribution.CreditRow]]
    val handBuilt = row.copy(
      input = _ => Seq(
        file(ev(1, "10:00", 1, "view", 0), ev(2, "10:10", 1, "click", 0), ev(3, "10:20", 1, "click", 0),
          ev(4, "10:30", 1, "view", 0), ev(5, "10:40", 1, "purchase", 10.25)),
        file(ev(6, "11:00", 2, "purchase", 3.0))),
      twin = _ => Seq(("click", 2L, 1L, 0L, 0L, 512L), ("view", 2L, 1L, 1025L, 1025L, 513L),
          ("unattributed", 1L, 1L, 300L, 300L, 300L))
        .toDF("touch_type", "n_touches", "n_purchases", "first_cents", "last_cents", "linear_cents"))
    drive(spark, handBuilt, crash = false)
    drive(spark, handBuilt, crash = true)
  }
}
class StreamingBurnRateSpec extends StreamOperatorSpec("StreamingBurnRate")
class StreamingChangeDetectSpec extends StreamOperatorSpec("StreamingChangeDetect")
class StreamingContractGateSpec extends StreamOperatorSpec("StreamingContractGate")
class StreamingCountMinSpec extends StreamOperatorSpec("StreamingCountMin")
class StreamingDriftSpec extends StreamOperatorSpec("StreamingDrift")
class StreamingEwmaSpec extends StreamOperatorSpec("StreamingEwma")
class StreamingFunnelSpec extends StreamOperatorSpec("StreamingFunnel")
class StreamingNearDupSpec extends StreamOperatorSpec("StreamingNearDup")
class StreamingResultCacheSpec extends StreamOperatorSpec("StreamingResultCache")
class StreamingRetentionSpec extends StreamOperatorSpec("StreamingRetention")
class StreamingScd2Spec extends StreamOperatorSpec("StreamingScd2")
class StreamingTopKSpec extends StreamOperatorSpec("StreamingTopK")
class StreamingVectorIngestSpec extends StreamOperatorSpec("StreamingVectorIngest") {
  test("a restarted ingest resumes from the checkpoint: old vectors are not re-encoded") {
    val base = Tables(spark, StreamOperatorSpec.Fixture).embeddings
    val cb = StreamingVectorIngest.trainedCodebook(base).cache()
    val src = Files.createTempDirectory("vrs_src").toString
    val idx = Files.createTempDirectory("vrs_idx").toString
    val ck = Files.createTempDirectory("vrs_ck").toString
    def ingest() = Drain(StreamingVectorIngest.stream(spark, src), ck)(StreamingVectorIngest.sink(idx, cb))

    val trancheA = base.filter(col("vec_id") < 250)
    val trancheB = base.filter(col("vec_id") >= 250)

    trancheA.repartition(2).write.mode("append").parquet(src)
    assert(ingest().awaitTermination(120000), "first ingest did not drain")
    val afterA = StreamingVectorIngest.indexSegments(spark, idx).get.count()
    assert(afterA == trancheA.count() * 8, s"first ingest wrote $afterA code rows")

    // "restart": same checkpoint, new vectors landed in the meantime
    trancheB.repartition(2).write.mode("append").parquet(src)
    assert(ingest().awaitTermination(120000), "restarted ingest did not drain")

    val out = StreamingVectorIngest.indexSegments(spark, idx).get
    assert(out.count() == base.count() * 8,
      s"restart re-encoded or dropped vectors: index=${out.count()} expected=${base.count() * 8}")
    assert(out.select("vec_id", "m").distinct().count() == base.count() * 8,
      "duplicate (vec_id, m) code rows after restart")
  }
}
class UserTotalsTWSSpec extends StreamOperatorSpec("UserTotalsTWS")

class StreamingMergeSpec extends StreamOperatorSpec("StreamingMerge") {
  test("version lookup orders by batch number, not name: v100000 follows v99999") {
    // one-row marker snapshots; zero-padded names sort wrongly as strings
    // once they widen past five digits (and against v9223372036854775807)
    val snap = Files.createTempDirectory("mrg_versions").toString
    for (v <- Seq("v09999", "v10000", "v92233", "v92234", "v99999", "v100000"))
      spark.range(1).select(lit(v).as("marker")).write.parquet(s"$snap/$v")
    def marker(beforeBatch: Long): String =
      StreamingMerge.latestSnapshot(spark, snap, beforeBatch)
        .getOrElse(fail(s"no version before $beforeBatch")).head().getString(0)

    assert(marker(Long.MaxValue) == "v100000")
    assert(StreamingMerge.latestSnapshot(spark, snap).map(_.head().getString(0)) ==
      Some("v100000"))
    assert(marker(100000L) == "v99999")
    assert(marker(92234L) == "v92233")
    assert(marker(10000L) == "v09999")
    assert(StreamingMerge.latestSnapshot(spark, snap, beforeBatch = 9999L).isEmpty)
  }
}
