package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Guards the streaming layer's single-policy structure against
  * copy-paste regrowth: the state-store provider is set once, in the
  * session builder, as are the local filesystem and the streaming
  * checkpoint file manager; the AvailableNow drain lives once, in
  * `streaming/Drain`, and only the two pipelines and the drill call it
  * (each operator is an un-drained `stream` with a row in
  * `StreamOperatorSpec`'s table); no stream restates the default append
  * output mode; and `graft.Profile` is the one listener of any kind,
  * while no main source writes the calling thread's job group. Also
  * guards the rule layer: the reference's classification rules are
  * written once (in `ops/CollectPipeline`), and every dot product calls
  * the `dot_product` kernel by name, with no optimizer rule injected to
  * find hand-written copies. `ops/CollectFull` reads each input once
  * and caches nothing. Reads the main sources as text (run from
  * the repo root, as sbt's forked tests are). */
class SourceStructureSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")

  private lazy val sources: Seq[(String, String)] = {
    assert(root.isDirectory, s"main sources not found under ${root.getAbsolutePath}")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    walk(root).map { f =>
      root.toPath.relativize(f.toPath).toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  private def filesWith(needle: String): Seq[String] =
    sources.collect { case (path, text) if text.contains(needle) => path }

  test("the state-store provider is set only in GraftSession.scala") {
    assert(filesWith("stateStore.providerClass") == Seq("GraftSession.scala"))
  }

  test("Trigger.AvailableNow appears only in streaming/Drain.scala") {
    assert(filesWith("Trigger.AvailableNow") == Seq("streaming/Drain.scala"))
  }

  test("no stream under streaming/ restates the default append output mode") {
    assert(filesWith(""".outputMode("append")""").filter(_.startsWith("streaming/")).isEmpty)
  }

  test("the local filesystem and checkpoint file manager are set only in GraftSession.scala") {
    assert(filesWith("fs.file.impl") == Seq("GraftSession.scala"))
    assert(filesWith("checkpointFileManagerClass") == Seq("GraftSession.scala"))
  }

  test("the only SparkListener registered in the main sources is Profile's") {
    assert(filesWith("addSparkListener") == Seq("Profile.scala"))
  }

  test("no other listener kind is registered and no main source sets a job group") {
    for (needle <- Seq("QueryExecutionListener", "StreamingQueryListener",
        "listenerManager.register", "streams.addListener", "setJobGroup"))
      assert(filesWith(needle).isEmpty, s"$needle in ${filesWith(needle)}")
  }

  test("operators return un-drained streams: only the pipelines and the drill drain") {
    val drainers = filesWith("Drain(").filter(_.startsWith("streaming/")).toSet
    assert(drainers.subsetOf(Set("streaming/Drain.scala", "streaming/EventStreamPipeline.scala",
      "streaming/ServingPipeline.scala")), s"operators that drain themselves: $drainers")
    assert(filesWith("runWithSink").isEmpty)
    assert(filesWith("def crashThenDrain") == Seq("streaming/Drain.scala"))
  }

  test("every operator under streaming/ has a stream entry and a row in StreamOperatorSpec") {
    val pipelines = Set("Drain", "EventStreamPipeline", "ServingPipeline")
    val operators = sources.collect { case (path, text) if path.startsWith("streaming/") =>
      path.stripPrefix("streaming/").stripSuffix(".scala") -> text
    }.filterNot(o => pipelines(o._1))
    assert(operators.map(_._1).toSet == StreamOperatorSpec.table.keySet)
    for ((op, text) <- operators) assert(text.contains("def stream("), s"$op has no stream entry")
  }

  test("no main source injects an optimizer rule") {
    assert(filesWith("injectOptimizerRule").isEmpty)
  }

  test("no main source hand-writes the double-cast dot product lambda") {
    assert(filesWith("""x.cast("double") * y.cast("double")""").isEmpty)
  }

  test("the full-fidelity collect caches nothing") {
    assert(!sources.toMap.apply("ops/CollectFull.scala").contains(".cache()"))
  }

  test("each reference classification label is a Scala literal in one main file") {
    // the oracle SQL's single-quoted copies are independent references
    for (label <- Seq("\"SEVERELY_STRESSED\"", "\"Urban/Developed\""))
      assert(filesWith(label) == Seq("ops/CollectPipeline.scala"), s"$label in ${filesWith(label)}")
  }
}
