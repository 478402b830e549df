package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the broadcast-ceiling derivation (VERDICT r11 next #1): the
  * sizing rule that replaced a hand-set broadcast ceiling after an OOM. The rule's anchor points are MEASURED: 8 MB was the ceiling that
  * ran the sf10 local-cluster leg clean on 3 GB executor heaps (a <64 MB
  * serialized build side deserializes at 10-20x and killed them), and
  * 64 MB is right for big heaps where shuffle beats any larger broadcast
  * anyway. */
class GraftSessionSpec extends AnyFunSuite {

  test("memory strings parse like spark-submit's") {
    assert(GraftSession.parseMemory("3g") == 3L * 1024 * 1024 * 1024)
    assert(GraftSession.parseMemory("1024m") == 1024L * 1024 * 1024)
    assert(GraftSession.parseMemory("512k") == 512L * 1024)
    assert(GraftSession.parseMemory("123456") == 123456L)
    assert(GraftSession.parseMemory("1.5g") == (1.5 * 1024 * 1024 * 1024).toLong)
  }

  test("derived ceiling reproduces the measured-good sf10 config: 3g heap -> 8 MB") {
    val m = GraftSession.derivedBroadcastMax(3L * 1024 * 1024 * 1024)
    assert(m == 8L * 1024 * 1024)
  }

  test("big heaps cap at 64 MB; Spark-default 1g executors get ~2.7 MB; tiny heaps floor at 1 MB") {
    assert(GraftSession.derivedBroadcastMax(128L * 1024 * 1024 * 1024) == 64L * 1024 * 1024)
    val oneG = GraftSession.derivedBroadcastMax(1L * 1024 * 1024 * 1024)
    assert(oneG == (1L * 1024 * 1024 * 1024) / 384)
    assert(oneG > 2L * 1024 * 1024 && oneG < 3L * 1024 * 1024)
    assert(GraftSession.derivedBroadcastMax(64L * 1024 * 1024) == 1L * 1024 * 1024)
  }

  test("broadcastMax is derived; local masters read this JVM's heap") {
    // the derived ceiling is what broadcastMax reports, and with no
    // executor memory configured the in-process test master's executor
    // heap IS this JVM's max heap
    assert(GraftSession.broadcastMax ==
      GraftSession.derivedBroadcastMax(GraftSession.executorMemoryBytes).toString)
    if (sys.props.get("spark.executor.memory").isEmpty &&
        sys.env.get("SPARK_EXECUTOR_MEMORY").isEmpty)
      assert(GraftSession.executorMemoryBytes == Runtime.getRuntime.maxMemory)
  }

  test("SPARK_GRAFT_CONF parsing: trimmed pairs, '=' inside values, blanks skipped, malformed reported") {
    val (applied, dropped) = GraftSession.parseConf(
      " spark.a = 1 ;;  ; spark.b=x=y;k; =v ;spark.c=")
    assert(applied == Seq("spark.a" -> "1", "spark.b" -> "x=y", "spark.c" -> ""))
    assert(dropped == Seq("k", "=v"))
    assert(GraftSession.parseConf("") == (Nil, Nil))
  }

  test("sessions from the builder start with the RocksDB state-store provider") {
    // a new session carries only the builder's base settings, none of a
    // spec's runtime conf.set calls
    val fresh = SharedSpark.spark.newSession()
    assert(fresh.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }
}
