package graft.tools

import graft.{GraftSession, Profile}
import graft.ops.{ConnectedComponents, LabelProp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale run of a shipped graph operator on a deterministic synthetic
  * graph big enough to be compute-bound rather than latency-bound (the
  * fixture regime): `m` edges over `n` nodes, endpoints xxhash64 of the
  * edge index, self-loops dropped — the graph behind
  * scale/cc_scale_ab_r13.json and scale/lpa_scale_ab_r13.json, so new
  * runs stay comparable with those records.
  *
  *  - `cc` runs `ConnectedComponents.resolveChecked` over the directed
  *    edges (it symmetrizes internally);
  *  - `lpa` runs `LabelProp.propagateShuffle` over both directions of
  *    them (LPA is defined on a symmetric edge set).
  *
  * One untimed warm-up, then three timed runs, each under its own job
  * group ([[graft.Profile.run]]) and each starting with no label tables
  * of earlier runs persisted. Prints one JSON line: every run's seconds
  * and job count, the minimum seconds, the rounds and convergence of
  * `cc`, and the component-size census
  * (`[size, components of that size]`, sorted by size) with whether
  * every run produced the same one. An A/B of an operator change is
  * this main run on both commits, censuses diffed.
  *
  * Usage: sbt "runMain graft.tools.GraphScale <cc|lpa> [nNodes=2000000] [mEdges=4n] [lpaRounds=3]"
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && Set("cc", "lpa")(args(0)),
      "usage: GraphScale <cc|lpa> [nNodes] [mEdges] [lpaRounds]")
    val op = args(0)
    val n = if (args.length > 1) args(1).toLong else 2000000L
    val m = if (args.length > 2) args(2).toLong else 4 * n
    val lpaRounds = if (args.length > 3) args(3).toInt else 3
    val spark = GraftSession.local(s"graft-graph-scale-$op")
    val sc = spark.sparkContext
    val profile = Profile(spark)

    val directed = spark.range(m)
      .select(
        pmod(xxhash64(col("id")), lit(n)).as("src"),
        pmod(xxhash64(col("id") + m), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = (if (op == "cc") directed
      else directed.unionAll(directed.select(col("dst").as("src"), col("src").as("dst"))))
      .localCheckpoint()
    val edgeRdds = sc.getPersistentRDDs.keySet

    def census(labels: DataFrame): Seq[(Long, Long)] =
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

    // one run: its profile (seconds, jobs; the value is the labels and
    // cc's (rounds, converged)) and the census, taken after the clock stops
    def run(tag: String): (Profile.Run[(DataFrame, Option[(Int, Boolean)])], Seq[(Long, Long)]) = {
      sc.getPersistentRDDs.collect { case (id, rdd) if !edgeRdds(id) => rdd }
        .foreach(_.unpersist(blocking = true))
      val p = profile.run(s"graph_scale_${op}_$tag") {
        if (op == "cc") {
          val r = ConnectedComponents.resolveChecked(edges)
          (r.labels, Some((r.rounds, r.converged)))
        } else (LabelProp.propagateShuffle(edges, lpaRounds), None)
      }
      System.err.println(f"GraphScale $op $tag%-7s ${p.wallS}%8.3f s  jobs=${p.jobs}%d")
      (p, census(p.value._1))
    }

    val warmup = run("warmup")
    val timed = (1 to 3).map(i => run(s"run$i"))
    val all = warmup +: timed
    val census0 = warmup._2
    val ccFields = timed.last._1.value._2.fold("") { case (rounds, converged) =>
      s""","rounds":$rounds,"converged":$converged"""
    }
    val lpaFields = if (op == "lpa") s""","lpa_rounds":$lpaRounds""" else ""
    println(
      s"""{"tool":"graph_scale","op":"$op","n_nodes":$n,"m_edges":$m$lpaFields,""" +
        s""""cores":${sc.defaultParallelism},"warmup_s":${warmup._1.wallS},""" +
        s""""runs_s":[${timed.map(_._1.wallS).mkString(",")}],"min_s":${timed.map(_._1.wallS).min}$ccFields,""" +
        s""""runs_jobs":[${timed.map(_._1.jobs).mkString(",")}],""" +
        s""""census_identical":${all.forall(_._2 == census0)},""" +
        s""""census":[${census0.map { case (sz, k) => s"[$sz,$k]" }.mkString(",")}]}""")
    spark.stop()
  }
}
