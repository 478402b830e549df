package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Pins [[Profile]]: a run's counters are exact when `run` returns (the
  * listener bus is drained, nothing waits on a timer), they belong to
  * the run's own job tag, also while another tag runs, an outer run
  * counts the runs inside it, and the caller's job group is left alone. */
class ProfileSpec extends SparkSpecBase {

  // partial aggregates shuffle a row per key and map task: the key
  // count sets the bytes
  private def grouped(keys: Long): DataFrame =
    spark.range(0, 4000, 1, 4).groupBy((col("id") % keys).as("k")).agg(sum(col("id")))

  test("a groupBy run reports its shuffle bytes; a scan run right after reports none") {
    val profile = Profile(spark)
    try {
      val g = profile.run("profile-spec-groupby")(grouped(100).collect())
      assert(g.value.length == 100)
      assert(g.jobs >= 1 && g.shuffleWriteBytes > 0, s"groupBy run: $g")
      val s = profile.run("profile-spec-scan")(spark.range(0, 4000, 1, 4).collect())
      assert(s.jobs == 1 && s.shuffleWriteBytes == 0, s"scan run: jobs=${s.jobs} bytes=${s.shuffleWriteBytes}")
    } finally profile.close()
  }

  test("each group's bytes are its own, also while another group runs") {
    val profile = Profile(spark)
    try {
      def bytes(group: String, keys: Long): Long =
        profile.run(group)(grouped(keys).collect()).shuffleWriteBytes
      val (small, big) = (bytes("profile-spec-small", 10), bytes("profile-spec-big", 4000))
      assert(big > small, s"big=$big small=$small")
      val both = Future.sequence(Seq(
        Future(bytes("profile-spec-small-2", 10)), Future(bytes("profile-spec-big-2", 4000))))
      assert(Await.result(both, 2.minutes) == Seq(small, big))
    } finally profile.close()
  }

  test("a run leaves the caller's job group as it found it") {
    val sc = spark.sparkContext
    val profile = Profile(spark)
    sc.setJobGroup("profile-spec-caller", "caller's group")
    try {
      profile.run("profile-spec-in-group")(spark.range(10).collect())
      assert(sc.getLocalProperty("spark.jobGroup.id") == "profile-spec-caller")
    } finally { sc.clearJobGroup(); profile.close() }
  }

  test("an outer run's jobs include an inner run's; bad and reopened tags are rejected") {
    val profile = Profile(spark)
    try {
      val outer = profile.run("profile-spec-outer") {
        spark.range(10).collect()
        profile.run("profile-spec-inner")(spark.range(10).collect())
      }
      assert(outer.value.jobs == 1, s"inner run: ${outer.value}")
      assert(outer.jobs == 2, s"outer run: $outer")
      Seq("", "a,b").foreach(t => intercept[IllegalArgumentException](profile.run(t)(())))
      profile.run("profile-spec-twice") {
        intercept[IllegalArgumentException](profile.run("profile-spec-twice")(()))
      }
    } finally profile.close()
  }
}
