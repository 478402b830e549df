package graft.tools

import graft.{GraftSession, Plans, SparkEntry}

/** Plan evidence writer: for each named query, executes it at the given
  * sf and writes `df.explain("formatted")` output (the pre-execution plan
  * with pushdown/join/exchange detail) plus the post-AQE executed plan,
  * printed by [[graft.Plans.tree]], to `<outDir>/<name>_<tag>.txt`. The
  * query runs through its own `queryExecution`: a `noop` write would
  * plan and run a second copy and leave this one's AQE plan unfinished.
  *
  * Both are written with the session's global counters stripped
  * (expression `#id`s, `plan_id`s, lambda-variable suffixes, RDD ids,
  * JVM lambda class numbers and object hashes), so the files of two
  * commits compare with a plain `diff`. One counter cannot be stripped: `a10_distinct_exact`'s Expand
  * orders its distinct groups by the expression-id counter, so its plan
  * depends on what ran earlier in the session; diff it from a run that
  * names it alone.
  *
  * Usage: sbt "runMain graft.tools.PlanFiles <tag> <outDir> <q1,q2,...> [sfDir]"
  */
object PlanFiles {

  private val Counters = Seq(
    "#\\d+" -> "#",
    "plan_id=\\d+" -> "plan_id=",
    "(lambda \\w+?)_\\d+" -> "$1",
    "RDD\\[\\d+\\]" -> "RDD[]",
    "\\$Lambda\\$\\d+/0x[0-9a-f]+" -> "\\$Lambda",
    "@[0-9a-f]{4,}\\b" -> "@")

  /** `plan` with the session's global counters removed. */
  private def strip(plan: String): String =
    Counters.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-planfiles")
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      df.queryExecution.toRdd.count() // runs this plan, so AQE finalizes it
      val executed = Plans.tree(df.queryExecution.executedPlan)
      val txt = s"=== $name @ $sfDir ($tag)\n\n--- explain(formatted) ---\n" +
        formatted + "\n--- executed plan (post-AQE) ---\n" + executed + "\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), strip(txt))
      spark.catalog.clearCache()
      println(s"wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
