package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.EventStreamPipeline
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions._

/** Local file I/O runs in-process: a parquet write and a drain of the
  * event-collect stream start no child process through Hadoop's
  * `Shell` (its `chmod` and `readlink` fallbacks). Recorded with JFR's
  * `jdk.ProcessStart` event, whose stack shows who started each
  * process. */
class LocalIoSpec extends SparkSpecBase {

  test("a parquet write and an event-collect drain start no Hadoop Shell child process") {
    val dir = Files.createTempDirectory("local_io")
    val events = spark.range(0, 40).select(col("id").as("event_id"),
      timestamp_seconds(col("id") + 1700000000L).as("ts"), (col("id") % 7).as("user_id"),
      element_at(array(lit("error"), lit("signup"), lit("click")), (col("id") % 3 + 1).cast("int"))
        .as("event_type"), (col("id") * 0.5).as("value"), lit("{}").as("props"))
    val src = dir.resolve("src").toString
    val sink = dir.resolve("sink").toString

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      events.repartition(2).write.parquet(src) // the 2-file backlog
      val q = EventStreamPipeline.runEventCollect(spark, src, sink, dir.resolve("ck").toString)
      assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    } finally rec.stop()
    val dump = dir.resolve("process_start.jfr")
    rec.dump(dump)
    rec.close()

    assert(spark.read.parquet(sink).count() == EventStreamPipeline.collectForEvents(events).count())
    val viaShell = RecordingFile.readAllEvents(dump).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
    }
    assert(viaShell.size == 0,
      s"${viaShell.size} child processes through Hadoop Shell, e.g.:\n${viaShell.take(2).mkString("\n")}")
  }
}
