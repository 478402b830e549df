package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Engine-level retry-correctness probe (VERDICT r10 next #2): runs a
  * representative aggregation three times — clean, with a first-attempt
  * task failure injected mid-plan, and (under a multi-process master)
  * with the executing EXECUTOR JVM halted mid-task — and verifies all
  * runs produce the bit-identical result set. Prints ONE JSON line and
  * exits nonzero on any divergence, so the run doubles as a committed
  * artifact (RETRY.json).
  *
  * Usage: SPARK_GRAFT_MASTER='local-cluster[2,2,1024]' spark-submit
  *        --class graft.tools.RetryProbe <jar> <sfDir>
  * The master must support task retries: local-cluster/standalone (where
  * spark.task.maxFailures applies) or local[N,F] with F > 1 — plain
  * local[N] pins max failures to 1 and would fail the injected run by
  * construction, proving nothing.
  */
object RetryProbe {

  /** The probed query: the q1-shaped lineitem roll-up with an injection
    * point between scan and aggregate, so the lost task is a real
    * shuffle-map task whose re-run must reproduce its partials. */
  private def probeQuery(df: DataFrame): DataFrame =
    df.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val master = GraftSession.master
    val retriesSupported =
      master.startsWith("local-cluster") ||
        master.matches("""local\[[^,\]]+,\s*([2-9]|[1-9]\d+)\]""") ||
        !master.startsWith("local") // standalone / yarn-style masters honor the conf
    require(retriesSupported,
      s"master '$master' cannot retry tasks; set SPARK_GRAFT_MASTER to local-cluster[...] or local[N,F]")
    val spark = GraftSession.builder("graft-retry-probe")
      .config("spark.task.maxFailures", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def scan() = Tables(spark, sfDir).lineitem
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"))

    val (nClean, clean) = QueryRuns.fingerprint(probeQuery(scan()))
    val (nThrow, thrown) = QueryRuns.fingerprint(probeQuery(
      FaultInjection.throwOnFirstAttempt(scan())))
    val killLeg: Option[(Long, String)] =
      if (master.startsWith("local-cluster"))
        Some(QueryRuns.fingerprint(probeQuery(FaultInjection.killExecutorOnFirstAttempt(scan()))))
      else None

    val throwMatch = nThrow == nClean && thrown == clean
    val killMatch = killLeg.map { case (n, h) => n == nClean && h == clean }
    def j(o: Option[_]): String = o.map {
      case s: String => "\"" + s + "\""
      case x => x.toString
    }.getOrElse("null")
    println(s"""{"probe":"retry","sf":"$sfDir","master":"$master","rows":$nClean,""" +
      s""""clean_hash":"$clean","throw_hash":"$thrown","throw_match":$throwMatch,""" +
      s""""kill_hash":${j(killLeg.map(_._2))},"kill_match":${j(killMatch)}}""")
    spark.stop()
    if (!throwMatch || killMatch.contains(false)) sys.exit(1)
  }
}
