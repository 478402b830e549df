package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Entry point of graft's benchmark. One invocation runs one workload:
  *
  *   set-up (session, seeded inputs, untimed warm-up) → timed section →
  *   correctness check → one result line
  *
  * and drives graft only through its public entry points (the query
  * registry, CollectPipeline.run, ConnectedComponents.resolveChecked /
  * LabelProp.propagateShuffle, EventStreamPipeline.runEventCollect).
  *
  * Usage (normally through run.py, which builds the classpath):
  *   perfbench.Main --workload suite|collect|graph|stream --seed N
  *                  --seconds S --trace 0|1 --work DIR [--trace-out FILE]
  *                  [--expected FILE] [--write-expected]
  */
object Main {

  /** Env knobs that would make two runs measure different programs. */
  val RefusedEnv = Seq("SPARK_GRAFT_CONF", "SPARK_GRAFT_BROADCAST_MAX", "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_ONLY")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
                        traceOut: Option[String], expected: Option[String], writeExpected: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = mutable.HashMap[String, String]()
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "write-expected") { flags += k; i += 1 }
      else {
        require(i + 1 < argv.length, s"missing value for --$k")
        kv(k) = argv(i + 1); i += 2
      }
    }
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), kv.get("trace-out"), kv.get("expected"), flags("write-expected"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val refused = RefusedEnv.filter(sys.env.contains)
    if (refused.nonEmpty) {
      System.err.println(s"refusing to run: ${refused.mkString(", ")} set; an override would " +
        "make two runs measure different programs")
      sys.exit(2)
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    if (!sys.env.get("SPARK_GRAFT_CPUS").contains(nproc.toString)) {
      System.err.println(s"refusing to run: SPARK_GRAFT_CPUS must equal nproc ($nproc)")
      sys.exit(2)
    }
    val w: Workload = a.workload match {
      case "suite" => new SuiteWorkload(a)
      case "collect" => new CollectWorkload(a)
      case "graph" => new GraphWorkload(a)
      case "stream" => new StreamWorkload(a)
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    new Runner(a, w, nproc).run()
    sys.exit(0)
  }
}

/** One timed item's outcome. `latencyMs` covers the entry call and the
  * consuming action; `buildMs` only the entry call. */
final case class ItemResult(id: String, startMs: Long, endMs: Long, buildEndMs: Long, latencyMs: Double, buildMs: Double,
                            fingerprint: Option[Fingerprint.Fp], error: Option[String],
                            persistedEnd: Int, checkpointedEnd: Int)

/** What every workload provides to the runner. */
abstract class Workload(val args: Main.Args) {
  def name: String
  def why: String
  /** Generates the run's inputs into `dir`. */
  def generate(spark: SparkSession, dir: String): Unit
  /** Untimed warm-up over small, fixed inputs. */
  def warm(spark: SparkSession, ctx: Ctx): Unit
  /** The timed work; returns items. */
  def timed(spark: SparkSession, ctx: Ctx): Seq[ItemResult]
  /** Count of units processed by the timed section (queries, requests,
    * edges, events) and their unit name, for throughput. */
  def throughputUnits(items: Seq[ItemResult]): (Double, String)
  /** Latency samples (ms) for the p50/tail metrics, given the items of
    * each timed repetition: per item, its fastest repetition. */
  def latencies(reps: Seq[Seq[ItemResult]]): Seq[Double] =
    reps.flatten.filter(_.error.isEmpty).groupBy(_.id).values.map(_.map(_.latencyMs).min).toSeq
  /** Correctness check outside the timed section; returns failed item ids
    * plus free-form notes for the record. */
  def check(spark: SparkSession, ctx: Ctx, items: Seq[ItemResult]): (Set[String], Map[String, String])
  /** Whole passes of `passS` nominal seconds that fill `--seconds`. */
  def passes(passS: Double): Int = math.max(1, math.round(args.seconds / passS).toInt)
  /** Per-workload figures for the record and the traced run. */
  def extra: Map[String, Double] = Map.empty
}

/** Context passed to workloads: where inputs live, and the cold-item
  * runner. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String) {

  /** Drops every cached table and persisted RDD, so the next item starts
    * cold. Returns (persisted, checkpointed) RDD counts that survived
    * the program's own cleanup plus `clearCache`. */
  def cold(): (Int, Int) = {
    spark.catalog.clearCache()
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    val (ckpt, cached) = left.partition(_.isCheckpointed)
    left.foreach(_.unpersist(blocking = true))
    (cached.size, ckpt.size)
  }

  /** Runs one item under job group `id`: the entry call `build`, then
    * the fingerprint aggregate that consumes its result, then cleanup. */
  def item(id: String)(build: => DataFrame): ItemResult =
    itemWith(id)(build)(Fingerprint.of)

  /** As [[item]], with a custom consumer. `coldAfter = false` skips the
    * cleanup, for items that run concurrently with others. */
  def itemWith[A](id: String, coldAfter: Boolean = true)(build: => A)
                 (consume: A => Fingerprint.Fp): ItemResult = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, id, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var b1 = 0L
    var w1 = 0L
    val (fp, err) =
      try {
        val r = build
        b1 = System.nanoTime(); w1 = System.currentTimeMillis()
        (Some(consume(r)), None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (b1 == 0L) { b1 = System.nanoTime(); w1 = System.currentTimeMillis() }
          (None, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
      } finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    val w2 = System.currentTimeMillis()
    val (persisted, ckpt) = if (coldAfter) cold() else (0, 0)
    ItemResult(id, w0, w2, w1, (t2 - t0) / 1e6, (b1 - t0) / 1e6, fp, err, persisted, ckpt)
  }
}
