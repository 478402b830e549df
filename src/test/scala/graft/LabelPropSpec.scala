package graft

import graft.ops.LabelProp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Proves the size-gated label-propagation fix (r9 verdict wrong #3):
  * the broadcast and shuffle modes compute the IDENTICAL labeling, the
  * gate actually switches between them, and each mode's round plans the
  * exchange strategy it claims — exchange-free for broadcast rounds,
  * zero-broadcast with an immovable edge side for shuffle rounds.
  */
class LabelPropSpec extends SparkSpecBase {
  import spark.implicits._

  /** Two 4-cliques joined by one bridge edge, symmetrized — LPA must
    * settle each clique on its smallest member id. */
  private def fixtureEdges: DataFrame = {
    val cliqueA = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val cliqueB = for (a <- 11L to 14L; b <- 11L to 14L if a != b) yield (a, b)
    val bridge = Seq((4L, 11L), (11L, 4L))
    (cliqueA ++ cliqueB ++ bridge).toDF("src", "dst")
  }

  test("broadcast and shuffle modes produce the identical labeling") {
    val b = LabelProp.propagateBroadcast(fixtureEdges, rounds = 3)
      .orderBy("node").collect().toSeq
    val sh = LabelProp.propagateShuffle(fixtureEdges, rounds = 3)
      .orderBy("node").collect().toSeq
    assert(b == sh)
    // and the labeling is the expected community structure: each clique
    // converges on its smallest member
    val byNode = b.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).map(byNode).toSet == Set(1L))
    assert((12L to 14L).map(byNode).toSet == Set(11L))
    spark.catalog.clearCache()
  }

  test("the size gate switches modes and both gated paths agree") {
    assert(LabelProp.useBroadcast(1000L, LabelProp.DefaultBroadcastMaxLabels))
    assert(!LabelProp.useBroadcast(LabelProp.DefaultBroadcastMaxLabels + 1,
      LabelProp.DefaultBroadcastMaxLabels))
    // force each side of the gate through propagate() itself
    val viaBroadcastGate = LabelProp.propagate(fixtureEdges, 3, broadcastMaxLabels = Long.MaxValue)
      .orderBy("node").collect().toSeq
    val viaShuffleGate = LabelProp.propagate(fixtureEdges, 3, broadcastMaxLabels = 0L)
      .orderBy("node").collect().toSeq
    assert(viaBroadcastGate == viaShuffleGate)
    spark.catalog.clearCache()
  }

  test("broadcast round plan: exchange-free (labels broadcast, src clustering reused)") {
    // both modes share ONE src-partitioned cache; the broadcast round
    // joins neighbor labels on dst and groups by src (same multiset by
    // edge symmetry), so the src clustering satisfies both aggregates
    val e = fixtureEdges.repartition(col("src")).cache()
    e.count() // materialize so the round plans against the InMemoryRelation
    val lbl = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint()
    val p = LabelProp.round(e, lbl, broadcastLabels = true)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the ONLY exchange is the label broadcast; zero planner-inserted
    // shuffle exchanges — census and argmax both ride the src
    // partitioning of the cache. (The cache's own REPARTITION_BY_COL
    // exchange prints inside the InMemoryRelation and doesn't count.)
    assert(plannerShuffles(p).isEmpty, s"${plannerShuffles(p)} in:\n${p.take(3000)}")
    spark.catalog.clearCache()
  }

  test("prepare dedups a raw pair stream: duplicated edges do not skew the census") {
    // r12: prepare folds the edge dedup behind its src layout exchange so
    // callers can hand in RAW pair streams — a triplicated edge multiset
    // must produce the identical labeling to the distinct edge set
    val tripled = fixtureEdges.unionAll(fixtureEdges).unionAll(fixtureEdges)
    val fromRaw = LabelProp.propagateShuffle(tripled, rounds = 3)
      .orderBy("node").collect().toSeq
    val fromDistinct = LabelProp.propagateShuffle(fixtureEdges, rounds = 3)
      .orderBy("node").collect().toSeq
    assert(fromRaw == fromDistinct)
    spark.catalog.clearCache()
  }

  test("out-of-range node ids label correctly (no packed-argmax domain limit)") {
    // r13: the deterministic-mode aggregate replaced the packed-long
    // argmax, so ids outside [0, 2^31) — negative or huge hashed longs —
    // must produce the correct labeling instead of needing a guard.
    // A triangle of big/negative ids converges on its smallest member.
    val big = 1L << 40
    val tri = Seq((-5L, big), (big, -5L), (-5L, big + 1), (big + 1, -5L),
      (big, big + 1), (big + 1, big)).toDF("src", "dst")
    val out = LabelProp.propagateShuffle(tri, rounds = 3)
      .orderBy("node").collect().toSeq
    assert(out.map(_.getLong(1)).toSet == Set(-5L), out.toString)
    spark.catalog.clearCache()
  }

  test("shuffle round plan: zero broadcast, edge side never re-exchanged") {
    val e = fixtureEdges.repartition(col("src")).cache()
    e.count()
    val lbl = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint()
    val p = LabelProp.round(e, lbl, broadcastLabels = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      p.take(3000))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    // r13: the census+argmax aggregate pair is ONE deterministic-mode
    // aggregate, so planner-inserted exchanges are down to TWO — the
    // label table -> src and the mode partial maps -> node. The Σdeg
    // edge side contributes NONE — its only exchange is the one-time
    // cache repartition, which prints inside the InMemoryRelation.
    assert(p.contains("partial_mode"), p.take(3000))
    assert(plannerShuffles(p) == Seq("dst", "src"),
      s"unexpected exchange set ${plannerShuffles(p)} in:\n${p.take(3000)}")
    spark.catalog.clearCache()
  }

  test("rounds = 0 is rejected by every entry point (round 1 is the label initialization)") {
    Seq[(DataFrame, Int) => DataFrame](
      LabelProp.propagateBroadcast, LabelProp.propagateShuffle, LabelProp.propagate(_, _)
    ).foreach { run =>
      intercept[IllegalArgumentException](run(fixtureEdges, 0))
    }
    spark.catalog.clearCache()
  }

  test("a rejected rounds = 0 call registers no cache, persists no RDD and runs no job") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val profile = Profile(spark)
    val rejected = try profile.run("lpa-rejected") {
      Seq[(DataFrame, Int) => DataFrame](
        LabelProp.propagateBroadcast, LabelProp.propagateShuffle, LabelProp.propagate(_, _)
      ).foreach { run =>
        intercept[IllegalArgumentException](run(fixtureEdges, 0))
      }
    } finally profile.close()
    assert(rejected.jobs == 0, s"a rejected call ran ${rejected.jobs} jobs")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, "a rejected call left a cached plan")
    assert(sc.getPersistentRDDs.keySet == persistedBefore, "a rejected call persisted an RDD")
  }

  /** First key of every planner-inserted (ENSURE_REQUIREMENTS) shuffle
    * exchange in an executed-plan string, sorted. */
  private def plannerShuffles(p: String): Seq[String] =
    "Exchange hashpartitioning\\((\\w+)#[^\\n]*ENSURE_REQUIREMENTS".r
      .findAllMatchIn(p).map(_.group(1)).toSeq.sorted
}
