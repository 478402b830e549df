package graft

import graft.ops.ConnectedComponents
import org.apache.spark.sql.functions._
import scala.util.Random

/** Pointer-jumping components vs an in-memory union-find reference —
  * including the case plain one-hop propagation gets wrong within the
  * round budget: a path whose diameter exceeds the round count. */
class ConnectedComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  private def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.resolve(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // min-id representative per component
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  test("a 40-node path (diameter 39 > 8 rounds one-hop) resolves to one component") {
    val path = (0L until 39L).map(i => (i, i + 1))
    val got = labelsOf(path)
    assert(got.values.toSet == Set(0L), s"path split into ${got.values.toSet.size} labels")
  }

  test("clique, disjoint pairs, and a star match the union-find reference") {
    val clique = for (i <- 0L until 6L; j <- (i + 1) until 6L) yield (i, j)
    val pairs = Seq((10L, 11L), (20L, 21L), (30L, 31L))
    val star = (1L to 8L).map(i => (100L, 100L + i))
    val edges = clique ++ pairs ++ star
    assert(labelsOf(edges) == unionFind(edges))
  }

  test("an empty edge set returns an empty labelling, not an NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val r = ConnectedComponents.resolveChecked(empty)
    assert(r.labels.count() == 0)
    assert(r.converged, "empty graph must report converged")
  }

  test("the round budget is respected and reported: path converges in ≤ maxRounds") {
    val path = (0L until 39L).map(i => (i, i + 1))
    val r = ConnectedComponents.resolveChecked(path.toDF("src", "dst"), maxRounds = 16)
    assert(r.converged, s"40-node path should converge, used ${r.rounds} rounds")
    assert(r.rounds <= 16)
    // pointer jumping doubles reach per round: diameter 39 needs ~log2 rounds
    assert(r.rounds <= 8, s"pointer jumping should need ~7 rounds, used ${r.rounds}")
  }

  test("a blown round budget is reported as converged=false, not silence") {
    val path = (0L until 39L).map(i => (i, i + 1))
    val r = ConnectedComponents.resolveChecked(path.toDF("src", "dst"), maxRounds = 2)
    assert(!r.converged, "2 rounds cannot resolve a diameter-39 path")
  }

  test("fused round 1 equals one-hop min + pointer jump (r13 pin)") {
    // path 1-2-3-4: one-hop mins are (1,1,2,3); the pointer jump then
    // resolves 3 -> lbl(2)=1 and 4 -> lbl(3)=2. A fused round 1 that
    // skipped the jump, or aggregated the wrong side, breaks this exact
    // table.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val r = ConnectedComponents.resolveChecked(path.toDF("src", "dst"), maxRounds = 1)
    val got = r.labels.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L),
      s"round-1 labels drifted: $got")
    assert(!r.converged && r.rounds == 1)
  }

  test("maxRounds = 0 is rejected (round 1 is the label initialization)") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      ConnectedComponents.resolveChecked(e, maxRounds = 0)
    }
  }

  test("seeded random graphs match the union-find reference") {
    val rnd = new Random(42)
    (1 to 3).foreach { _ =>
      val n = 60
      val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(labelsOf(edges) == unionFind(edges))
    }
  }

  test("at most one round cache besides the edges is persisted at any job start") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a cache()'s RDD is named after its plan; a localCheckpoint's has no name
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val cached = sc.getPersistentRDDs.count { case (id, r) => !before(id) && r.name != null }
        peak.accumulateAndGet(cached, math.max(_, _))
      }
    }
    sc.addSparkListener(listener)
    val r = try {
      ConnectedComponents.resolveChecked((0L until 15L).map(i => (i, i + 1)).toDF("src", "dst"))
    } finally {
      org.apache.spark.sql.graftbridge.PlanBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    assert(r.converged && r.rounds >= 3, s"the chain should need >= 3 rounds, used ${r.rounds}")
    assert(peak.get() <= 2, s"${peak.get()} caches (edges included) were held at one job start")
  }
}
