package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Peak heap used after GC while armed: every GC notification's
  * after-GC heap, plus one explicit GC when disarmed. */
final class HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def arm(): Unit = { peak = 0L; armed = true }
  def disarm(): Long = {
    System.gc()
    val after = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    armed = false
    synchronized { peak = math.max(peak, after); peak }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

final case class Span(name: String, level: String, start: Long, end: Long, parent: String,
                      item: String, id: String)

final class Runner(a: Main.Args, w: Workload, nproc: Int) {
  private val phaseTimes = mutable.LinkedHashMap[String, (Long, Long)]()
  private val log = new StringBuilder

  private def now: Long = System.currentTimeMillis()
  private def phase[A](name: String)(f: => A): A = {
    val t0 = now
    try f finally phaseTimes(name) = (t0, now)
  }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def loadavg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(): Unit = {
    val loadStart = loadavg
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val runStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = new HeapWatch

    // ---- set-up: session and seeded inputs, then the untimed warm-up;
    // setup_s counts all of it (generator determinism is a self-test)
    val (spark, sessionS, genS) = phase("setup") {
      val t0 = System.nanoTime()
      val spark = GraftSession.local("graft-perfbench")
      val sessionS = secs(t0)
      val t1 = System.nanoTime()
      w.generate(spark, s"${a.work}/input")
      (spark, sessionS, secs(t1))
    }
    val ctx = new Ctx(spark, s"${a.work}/input", a.work)
    val warmS = phase("warm") {
      val t0 = System.nanoTime()
      w.warm(spark, ctx)
      ctx.cold()
      secs(t0)
    }
    val setupS = jvmStartS + sessionS + genS + warmS

    // ---- timed section (tracing off), run `TimedReps` times: wall time
    // and throughput come from the fastest repetition, each item's
    // latency from its fastest repetition (a shared host's speed can
    // vary by ~20% within seconds; the minimum filters slow stretches)
    def timedSection(): (Seq[ItemResult], Double, Long, Double) = {
      ctx.cold()
      heap.arm()
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val items = w.timed(spark, ctx)
      val wall = secs(t0)
      val gc = (gcMs - gc0) / 1000.0
      (items, wall, heap.disarm(), gc)
    }
    val reps = phase("timed")((1 to Runner.TimedReps).map(_ => timedSection()))
    val items = reps.flatMap(_._1)
    val (bestItems, wall, _, _) = reps.minBy(_._2)
    val peakHeap = reps.map(_._3).max
    val driverGcS = reps.map(_._4).sum
    val lat = w.latencies(reps.map(_._1))
    val (units, unitName) = w.throughputUnits(bestItems)

    // ---- traced run: the same timed section again, with the probe on
    val traced: Option[(Seq[ItemResult], Double, Probe, Long, Long, Double)] =
      if (!a.trace) None
      else phase("traced") {
        val probe = Probe.attach(spark)
        val gc0 = gcMs
        val w0 = now
        val t0 = System.nanoTime()
        val its = w.timed(spark, ctx)
        val tw = secs(t0)
        val w1 = now
        val gc = (gcMs - gc0) / 1000.0
        Probe.drain(spark)
        spark.sparkContext.removeSparkListener(probe)
        spark.listenerManager.unregister(probe.queryListener)
        spark.streams.removeListener(probe.streamListener)
        Some((its, tw, probe, w0, w1, gc))
      }

    // ---- correctness check (outside every timed section)
    val allItems = items ++ traced.map(_._1).getOrElse(Nil)
    val (checkFailed, notes) = phase("check") {
      try w.check(spark, ctx, allItems)
      catch {
        case scala.util.control.NonFatal(e) =>
          (Set("check"), Map("check_error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    // an item fails if it threw or its output failed the check; "check"
    // marks a failure of the workload-wide check, counted once
    val failedIds = allItems.filter(_.error.nonEmpty).map(_.id).toSet ++ checkFailed
    val attempted = allItems.size
    val failed = allItems.count(i => failedIds(i.id)) + (if (checkFailed("check")) 1 else 0)
    val errorRate = failed.toDouble / math.max(1, attempted)

    val tail = Stats.tail(if (lat.isEmpty) Seq(0.0) else lat)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("throughput_per_s", units / wall, "items/s"),
      ("latency_p50_ms", if (lat.isEmpty) 0.0 else Stats.median(lat), "ms"),
      ("latency_tail_ms", tail.value, "ms"),
      ("error_rate", errorRate, "fraction"),
      ("peak_heap_mb", peakHeap / (1024.0 * 1024.0), "MB"))

    val layer: Seq[(String, Double, String)] = traced.toSeq.flatMap { case (its, tw, probe, w0, w1, gc) =>
      Runner.layerMetrics(probe, its, tw, w0, w1, gc, nproc, w) ++ Seq(
        ("session.build_s", sessionS, "s"),
        ("trace.wall_s", tw, "s"),
        ("trace.overhead_s", tw - reps.last._2, "s"))
    }

    // ---- spans (traced run only), written at exit
    traced.foreach { case (its, _, probe, _, w1, _) =>
      val spans = Runner.spans(w.name, runStart, now, phaseTimes.toSeq, its, probe, w1)
      a.traceOut.foreach { out =>
        Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
        Files.write(Paths.get(out), Runner.spansJson(spans).getBytes(StandardCharsets.UTF_8))
      }
      Runner.selfTimes(spans).foreach { case (lvl, (dur, self)) =>
        log.append(f"span level $lvl%-7s total ${dur / 1000.0}%10.3f s  self ${self / 1000.0}%10.3f s%n")
      }
    }

    val loadEnd = loadavg
    val conditions = Seq(
      "nproc" -> nproc.toString,
      "SPARK_GRAFT_CPUS" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "loadavg_start" -> Json.num(loadStart),
      "loadavg_end" -> Json.num(loadEnd),
      "git_commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString,
      "trace" -> (if (a.trace) "1" else "0"))
    val record = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "why" -> Json.str(w.why),
      "conditions" -> Json.obj(conditions),
      "end_to_end" -> Json.obj(e2e.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "throughput_items" -> Json.str(unitName),
      "latency_tail" -> Json.obj(Seq("percentile" -> Json.num(tail.percentile * 100),
        "samples" -> tail.samples.toString, "beyond" -> tail.beyond.toString)),
      "setup_parts_s" -> Json.obj(Seq("jvm_start" -> Json.num(jvmStartS), "session" -> Json.num(sessionS),
        "generate" -> Json.num(genS), "warm" -> Json.num(warmS))),
      "per_layer" -> Json.obj(layer.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "workload_figures" -> Json.obj(w.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "driver_gc_s_untraced" -> Json.num(driverGcS),
      "items" -> attempted.toString,
      "failed" -> Json.arr(failedIds.toSeq.sorted.map(Json.str)),
      "item_ms" -> Json.obj(items.map(i => i.id -> Json.num(i.latencyMs))),
      "errors" -> Json.obj(items.flatMap(i => i.error.map(e => i.id -> Json.str(e)))),
      "notes" -> Json.obj(notes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })))

    spark.stop()

    // human-readable lines, the full record, then the result line last
    e2e.foreach { case (k, v, u) => println(f"${w.name}%-8s $k%-18s $v%14.4f $u") }
    layer.foreach { case (k, v, u) => println(f"${w.name}%-8s $k%-26s $v%16.4f $u") }
    print(log.toString)
    println("RECORD " + record)
    val reported = if (a.trace) layer.filter { case (k, _, _) => Runner.PerLayer.contains(k) }
      else e2e.filter { case (k, _, _) => Runner.EndToEnd.contains(k) }
    val metrics = Json.obj(reported.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    println(Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics)))
  }
}

object Runner {
  /** Repetitions of the untraced timed section. */
  val TimedReps = 2

  /** Metrics on the result line (see BENCHMARK.json). PerLayer holds every
    * per-layer metric the suite or stream workload measures; the
    * graph-only ops timers stay in the record. */
  val EndToEnd: Set[String] = Set("setup_s", "wall_s", "latency_p50_ms", "peak_heap_mb")
  val PerLayer: Set[String] = Set(
    "session.build_s", "queries.build_ms", "queries.eager_jobs",
    "plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms", "plans.graft_rules_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.stages_skipped", "spark.jobs_per_item",
    "spark.sched_wait_ms", "spark.driver_gap_s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.busy_s", "exec.util", "spark.task_retry_ratio",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.mem_bytes", "spill.disk_bytes",
    "storage.cached_bytes_peak", "storage.persisted_end", "storage.checkpointed_end",
    "ops.collect_build_ms",
    "streaming.batches", "streaming.trigger_ms_p50", "streaming.add_batch_ms", "streaming.commit_ms",
    "streaming.planning_ms",
    "sink.bytes_written", "sink.records_written",
    "jvm.driver_gc_s", "trace.overhead_s")

  def layerMetrics(p: Probe, items: Seq[ItemResult], wallS: Double, w0: Long, w1: Long,
                   driverGcS: Double, nproc: Int, w: Workload): Seq[(String, Double, String)] =
    p.synchronized {
      val tasks = p.tasks.toSeq
      val stages = p.stages.values.toSeq
      val submitted = stages.map(_.id).toSet
      val skipped = p.jobs.flatMap(_.stages).distinct.count(s => !submitted(s))
      val eager = items.map { it =>
        p.jobs.count(j => j.group == it.id && j.submit >= it.startMs && j.submit <= it.buildEndMs)
      }.sum
      val intervals = tasks.map(t => (t.launch, t.finish))
      val taskS = tasks.map(_.runMs).sum / 1000.0
      val waitMs = stages.filter(s => s.firstLaunch >= 0).map(s => (s.firstLaunch - s.submit).toDouble).sum
      val batches = p.batches.toSeq
      def bsum(keys: String*): Double = batches.map(b => keys.map(k => b.durations.getOrElse(k, 0L)).sum).sum.toDouble
      val extra = w.extra
      Seq(
        ("queries.build_ms", items.map(_.buildMs).sum, "ms"),
        ("queries.eager_jobs", eager.toDouble, "count"),
        ("plan.analysis_ms", p.plans.map(_.analysisMs).sum.toDouble, "ms"),
        ("plan.optimizer_ms", p.plans.map(_.optimizerMs).sum.toDouble, "ms"),
        ("plan.physical_ms", p.plans.map(_.physicalMs).sum.toDouble, "ms"),
        ("plans.graft_rules_ms", p.plans.map(_.graftRulesNs).sum / 1e6, "ms"),
        ("spark.jobs", p.jobs.size.toDouble, "count"),
        ("spark.stages", stages.size.toDouble, "count"),
        ("spark.tasks", tasks.size.toDouble, "count"),
        ("spark.stages_skipped", skipped.toDouble, "count"),
        ("spark.jobs_per_item", p.jobs.size.toDouble / math.max(1, items.size), "count"),
        ("spark.sched_wait_ms", waitMs, "ms"),
        ("spark.driver_gap_s", Stats.gap(w0, w1, intervals) / 1000.0, "s"),
        ("exec.task_s", taskS, "s"),
        ("exec.cpu_s", tasks.map(_.cpuNs).sum / 1e9, "s"),
        ("exec.gc_s", tasks.map(_.gcMs).sum / 1000.0, "s"),
        ("exec.busy_s", Stats.unionLength(intervals) / 1000.0, "s"),
        ("exec.util", taskS / (wallS * nproc), "fraction"),
        ("spark.task_retry_ratio", tasks.count(_.attempt > 0).toDouble / math.max(1, tasks.size), "fraction"),
        ("shuffle.write_bytes", tasks.map(_.shuffleWrite).sum.toDouble, "bytes"),
        ("shuffle.read_bytes", tasks.map(_.shuffleRead).sum.toDouble, "bytes"),
        ("shuffle.fetch_wait_ms", tasks.map(_.fetchWaitMs).sum.toDouble, "ms"),
        ("spill.mem_bytes", tasks.map(_.spillMem).sum.toDouble, "bytes"),
        ("spill.disk_bytes", tasks.map(_.spillDisk).sum.toDouble, "bytes"),
        ("storage.cached_bytes_peak", p.cachedPeak.toDouble, "bytes"),
        ("storage.persisted_end", items.map(_.persistedEnd).max.toDouble, "count"),
        ("storage.checkpointed_end", items.map(_.checkpointedEnd).max.toDouble, "count"),
        ("ops.cc_s", extra.getOrElse("ops.cc_s", 0.0), "s"),
        ("ops.cc_rounds", extra.getOrElse("ops.cc_rounds", 0.0), "count"),
        ("ops.lpa_s", extra.getOrElse("ops.lpa_s", 0.0), "s"),
        ("ops.collect_build_ms", extra.getOrElse("ops.collect_build_ms", 0.0), "ms"),
        ("streaming.batches", batches.size.toDouble, "count"),
        ("streaming.trigger_ms_p50",
          if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)), "ms"),
        ("streaming.add_batch_ms", bsum("addBatch"), "ms"),
        ("streaming.commit_ms", bsum("walCommit", "commitOffsets"), "ms"),
        ("streaming.planning_ms", bsum("queryPlanning"), "ms"),
        ("sink.bytes_written", tasks.map(_.outBytes).sum.toDouble, "bytes"),
        ("sink.records_written", tasks.map(_.outRecords).sum.toDouble, "count"),
        ("jvm.driver_gc_s", driverGcS, "s"))
    }

  /** workload → phase → item → job → stage spans. Jobs attach to the
    * item whose job group they carry; jobs of other threads (a stream's
    * micro-batches) to the item running when they were submitted; else
    * to the traced phase. */
  def spans(workload: String, runStart: Long, runEnd: Long, phases: Seq[(String, (Long, Long))],
            items: Seq[ItemResult], p: Probe, w1: Long): Seq[Span] = p.synchronized {
    val out = mutable.ArrayBuffer[Span]()
    out += Span(workload, "workload", runStart, runEnd, "", "", "w")
    phases.foreach { case (n, (s, e)) => out += Span(n, "phase", s, e, "w", "", s"p:$n") }
    val itemIds = items.map(_.id).toSet
    items.foreach(i => out += Span(i.id, "item", i.startMs, i.endMs, "p:traced", i.id, s"i:${i.id}"))
    p.jobs.foreach { j =>
      val item = if (itemIds(j.group)) Some(j.group)
        else items.find(i => i.startMs <= j.submit && j.submit <= i.endMs).map(_.id)
      val end = if (j.end >= 0) j.end else w1
      out += Span(s"job ${j.id}", "job", j.submit, end, item.map(i => s"i:$i").getOrElse("p:traced"),
        item.getOrElse(""), s"j:${j.id}")
    }
    val jobOfStage = p.jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val itemOfJob = out.filter(_.level == "job").map(j => j.id -> j.item).toMap
    p.stages.values.foreach { s =>
      val end = if (s.end >= 0) s.end else w1
      val job = jobOfStage.get(s.id).map(j => s"j:$j")
      out += Span(s"stage ${s.id}.${s.attempt}", "stage", s.submit, end, job.getOrElse("p:traced"),
        job.flatMap(itemOfJob.get).getOrElse(""), s"s:${s.id}.${s.attempt}")
    }
    out.toSeq
  }

  /** Per level: (total duration, total self time), self time being a
    * span's duration minus the part its child spans cover. */
  def selfTimes(spans: Seq[Span]): Seq[(String, (Long, Long))] = {
    val children = spans.groupBy(_.parent)
    val byLevel = spans.groupBy(_.level)
    Seq("workload", "phase", "item", "job", "stage").filter(byLevel.contains).map { lvl =>
      val ss = byLevel(lvl)
      val dur = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        (s.end - s.start) - Stats.unionLength(kids)
      }.sum
      lvl -> (dur, self)
    }
  }

  def spansJson(spans: Seq[Span]): String =
    Json.arr(spans.map(s => Json.obj(Seq("name" -> Json.str(s.name), "level" -> Json.str(s.level),
      "start" -> s.start.toString, "end" -> s.end.toString, "parent" -> Json.str(s.parent),
      "item" -> Json.str(s.item), "id" -> Json.str(s.id))))) + "\n"
}
