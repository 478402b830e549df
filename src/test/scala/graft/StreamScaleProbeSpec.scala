package graft

import java.nio.file.{Files, Path}

import graft.tools.StreamScaleProbe
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[StreamScaleProbe.requireInput]] on temp dirs, with no Spark:
  * the crash drill needs a directory of at least
  * [[StreamScaleProbe.MinFiles]] parquet files, and anything less fails
  * at entry instead of reporting a drill that never crashed. */
class StreamScaleProbeSpec extends AnyFunSuite {

  private def dirWith(files: String*): Path = {
    val d = Files.createTempDirectory("stream_probe_input")
    files.foreach(f => Files.write(d.resolve(f), Array[Byte](0)))
    d
  }

  private def parquets(n: Int): Seq[String] = (1 to n).map(i => s"part-$i.parquet")

  test("MinFiles is the file count that reaches the crash batch") {
    assert(StreamScaleProbe.MinFiles == 7) // batches 0-2 take 2 files each, batch 3 the 7th
  }

  test("a file or a short directory is rejected; MinFiles parquet files pass") {
    val single = dirWith("documents.parquet").resolve("documents.parquet")
    val e1 = intercept[IllegalArgumentException](StreamScaleProbe.requireInput(single.toString))
    assert(e1.getMessage.contains("directory"))
    val short = dirWith(parquets(StreamScaleProbe.MinFiles - 1) ++ Seq("_SUCCESS", ".part-0.parquet.crc"): _*)
    val e2 = intercept[IllegalArgumentException](StreamScaleProbe.requireInput(short.toString))
    assert(e2.getMessage.contains(s"at least ${StreamScaleProbe.MinFiles}"))
    assert(e2.getMessage.contains(s"found ${StreamScaleProbe.MinFiles - 1}"))
    StreamScaleProbe.requireInput(dirWith(parquets(StreamScaleProbe.MinFiles): _*).toString)
  }
}
