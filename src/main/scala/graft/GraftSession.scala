package graft

import org.apache.spark.sql.SparkSession

/** Centralized SparkSession construction for the engine.
  *
  * Local mode (`local[N]`) is one JVM with N executor threads; on a real
  * cluster the same builder settings apply per-session. Shuffle partitions
  * default to the local core count (not Spark's 200) and AQE is enabled so
  * joins/skew re-plan at runtime — the setting that actually matters at
  * 100 TB, where AQE coalesces the post-shuffle partitions the static
  * number gets wrong.
  *
  * Two settings keep local file I/O in-process. Without Hadoop's native
  * library (libhadoop, which Spark's jars do not ship), its `file:`
  * filesystem runs `chmod` (on every create and mkdirs) and `readlink`
  * (on every FileContext rename) as child processes: about 200 per
  * drain of the event stream, most of them one after another on the
  * stream thread. `fs.file.impl` is [[graft.io.LocalFs]], which sets
  * permissions through `java.nio`; the streaming checkpoint manager is
  * Spark's FileSystem-based one, whose rename never resolves links. Rename atomicity on a local disk
  * is unchanged; its check-then-rename matters only with two writers on
  * one checkpoint, which Spark already forbids.
  */
object GraftSession extends org.apache.spark.internal.Logging {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Master override for cross-process validation legs: e.g.
    * SPARK_GRAFT_MASTER='local-cluster[2,2,1024]' runs the same mains
    * against real executor PROCESSES (separate JVMs, real serialization
    * and broadcast boundaries) — the cheapest stand-in for a cluster. */
  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** Auto-broadcast ceiling, DERIVED from executor memory (VERDICT r11
    * next #1): the threshold compares the SERIALIZED build side, but the
    * executor deserializes it into a LongToUnsafeRowMap at roughly
    * 10-20x the wire size — the round-11 local-cluster leg measured a
    * <64 MB broadcast OOM-killing a 3 GB executor heap in exactly this
    * readLongArray path, and 8 MB was the ceiling that ran sf10 clean
    * on those heaps. The sizing rule generalizes that measurement: keep
    * the DESERIALIZED build side at ~5% of the executor heap, i.e.
    * serialized ceiling = heap/384 (8 MB at 3 GB — the measured-good
    * config), capped at 64 MB (right for local[32]'s 128 GB heap and
    * for >=24 GB cluster executors; beyond 64 MB a shuffle join is the
    * better trade regardless of heap). Executor memory comes from
    * `spark.executor.memory` (spark-submit --conf lands in system
    * properties) or SPARK_EXECUTOR_MEMORY; under in-process local[N]
    * masters the executors share the driver heap, so Runtime.maxMemory
    * is the honest input. To override it, set
    * `SPARK_GRAFT_CONF="spark.sql.autoBroadcastJoinThreshold=<bytes>"`. */
  def broadcastMax: String = derivedBroadcastMax(executorMemoryBytes).toString

  /** The derivation, pure so GraftSessionSpec can pin it:
    * min(64 MB, executor heap / 384), floored at 1 MB so a tiny-heap
    * test config still broadcasts single-row builds. */
  def derivedBroadcastMax(executorHeapBytes: Long): Long = {
    val cap = 64L * 1024 * 1024
    math.max(1L * 1024 * 1024, math.min(cap, executorHeapBytes / 384))
  }

  /** Executor heap in bytes: `spark.executor.memory` (system property —
    * how spark-submit --conf reaches a not-yet-built session — or
    * SPARK_EXECUTOR_MEMORY env), defaulting to Spark's 1g for
    * out-of-process masters; in-process local[N] executors run in THIS
    * JVM, so its max heap is the real capacity. */
  def executorMemoryBytes: Long = {
    val conf = sys.props.get("spark.executor.memory")
      .orElse(sys.env.get("SPARK_EXECUTOR_MEMORY"))
    conf.map(parseMemory).getOrElse {
      if (master.startsWith("local[")) Runtime.getRuntime.maxMemory
      else 1024L * 1024 * 1024 // Spark's spark.executor.memory default
    }
  }

  /** Spark-style memory strings: "3g", "1024m", "512k", bare bytes. */
  def parseMemory(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) = t.last match {
      case 'k' => (t.dropRight(1), 1024L)
      case 'm' => (t.dropRight(1), 1024L * 1024)
      case 'g' => (t.dropRight(1), 1024L * 1024 * 1024)
      case 't' => (t.dropRight(1), 1024L * 1024 * 1024 * 1024)
      case 'b' => (t.dropRight(1), 1L)
      case _ => (t, 1L)
    }
    (num.toDouble * mult).toLong
  }

  /** Ad-hoc conf overrides for A/B experiments:
    * SPARK_GRAFT_CONF="spark.x=1;spark.y=2". [[builder]] applies them
    * after its own settings, so they override graft's defaults; a
    * caller's later `.config` on the returned builder (as RetryProbe
    * does) still wins over them. Never set by the bench driver; exists
    * so a config hypothesis can be measured without a rebuild (the r13
    * A/B discipline).
    *
    * Parsing, pure so GraftSessionSpec can pin it: `;`-separated
    * `key=value` segments, key and value trimmed, the value taken after
    * the FIRST `=` (so it may itself contain `=`). Returns the pairs to
    * apply and the dropped non-blank segments (no `=`, or a blank key);
    * blank segments are skipped. */
  def parseConf(spec: String): (Seq[(String, String)], Seq[String]) = {
    val (dropped, applied) = spec.split(';').toSeq.filter(_.trim.nonEmpty).partitionMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Right(k.trim -> v.trim)
        case _ => Left(seg.trim)
      }
    }
    (applied, dropped)
  }

  /** The session builder with graft's settings; every applied
    * SPARK_GRAFT_CONF pair is logged and every dropped segment warned
    * about, so an override never skews a run without a trace. */
  def builder(appName: String): SparkSession.Builder = {
    val (overrides, dropped) = parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
    overrides.foreach { case (k, v) => logInfo(s"SPARK_GRAFT_CONF applies $k=$v") }
    dropped.foreach(seg =>
      logWarning(s"SPARK_GRAFT_CONF drops malformed segment '$seg' (expected key=value)"))
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", broadcastMax)
      .config("spark.sql.session.timeZone", "UTC")
      // driver fixtures store ts as parquet TIMESTAMP(NANOS), which Spark
      // rejects by default; read as long nanos and convert in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native engine functions (cosine_sim, §2.10 D5)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // RocksDB state store for every stateful stream: keyed state spills
      // to local disk instead of living on-heap — the setting that lets
      // billions of keys fit a fixed executor memory budget
      // (HDFSBackedStateStore is heap-bound); transformWithState requires it
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // local file I/O without child processes (see the scaladoc above)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFs].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.ui.enabled", "false")
      .config(scala.collection.immutable.ListMap(overrides: _*))
  }

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
