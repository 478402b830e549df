package graft

import graft.ops.PriorityBudget

/** Priority timeout ENFORCEMENT (SURVEY §4): the reference routes
  * 60/120/30 s budgets but never cancels a slow source. PriorityBudget
  * runs the action under a Spark job tag and a watchdog cancels the
  * tag's jobs at the deadline — these specs prove a slow job is actually
  * killed (promptly, not at completion), the session survives it, and
  * the caller's job group and profile still see the budgeted jobs.
  */
class PriorityBudgetSpec extends SparkSpecBase {

  test("routing table matches the reference's budgets") {
    assert(PriorityBudget.budgetMsFor("emergency", "updated") == 60000L)
    assert(PriorityBudget.budgetMsFor("normal", "created") == 120000L)
    assert(PriorityBudget.budgetMsFor("normal", "updated") == 30000L)
    // emergency wins over created, as in orchestrator.py:924-935
    assert(PriorityBudget.budgetMsFor("emergency", "created") == 60000L)
  }

  test("fast job completes inside its budget") {
    val r = PriorityBudget.run(spark, "pb-fast", budgetMs = 30000L) {
      spark.range(1000).selectExpr("sum(id)").collect()(0).getLong(0)
    }
    assert(!r.timedOut && r.value.contains(499500L))
    assert(r.elapsedMs < 30000L)
  }

  test("slow job is cancelled at the deadline, not run to completion") {
    import spark.implicits._
    val start = System.nanoTime()
    val r = PriorityBudget.run(spark, "pb-slow", budgetMs = 1500L) {
      // 4 tasks x 60 s sleep: without cancellation this takes a minute
      spark.sparkContext.parallelize(1 to 4, 4).map { i =>
        Thread.sleep(60000L); i
      }.sum()
    }
    val wallMs = (System.nanoTime() - start) / 1000000L
    assert(r.timedOut && r.value.isEmpty)
    assert(wallMs < 20000L, s"cancellation took ${wallMs}ms — not enforced")
    // the session is untouched: the next query runs normally
    val ok = Seq(1, 2, 3).toDF("v").selectExpr("sum(v)").collect()(0).getLong(0)
    assert(ok == 6L)
  }

  test("cancellation is scoped to the group — unrelated budgets unaffected") {
    val r1 = PriorityBudget.runRouted(spark, "normal", "updated", "pb-a") {
      spark.range(100).count()
    }
    val r2 = PriorityBudget.runRouted(spark, "emergency", "created", "pb-b") {
      spark.range(200).count()
    }
    assert(r1.value.contains(100L) && r1.budgetMs == 30000L)
    assert(r2.value.contains(200L) && r2.budgetMs == 60000L)
  }

  test("the caller's job group survives a budgeted run") {
    val sc = spark.sparkContext
    sc.setJobGroup("pb-caller", "caller's group")
    try {
      val r = PriorityBudget.run(spark, "pb-in-group", budgetMs = 30000L)(spark.range(10).count())
      assert(r.value.contains(10L))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "pb-caller")
    } finally sc.clearJobGroup()
  }

  test("a budgeted run inside Profile.run counts for the profile") {
    val profile = Profile(spark)
    try {
      val p = profile.run("pb-profiled") {
        PriorityBudget.run(spark, "pb-inner", budgetMs = 30000L)(spark.range(10).collect().length)
      }
      assert(p.value.value.contains(10))
      assert(p.jobs == 1, s"profile saw ${p.jobs} jobs of the budgeted run")
    } finally profile.close()
  }
}
