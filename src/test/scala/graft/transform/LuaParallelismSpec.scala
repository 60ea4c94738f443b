package graft.transform

import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}

import graft.SparkSpec

/** The Lua stages' width policy is [[graft.util.Spread]]'s: when the
  * caller already put an explicit repartition on the batch (the queries
  * spread BEFORE row assembly), the width is read statically from the
  * logical plan, and an exchange-topped batch is never probed — probing
  * `df.rdd` would finalize the AdaptiveSparkPlan and execute the
  * exchange once for the probe and again for the real action. */
class LuaParallelismSpec extends SparkSpec {

  private def repartitionCount(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    plan.collect {
      case r: Repartition => r
      case r: RepartitionByExpression => r
    }.size

  test("spread is a NO-OP (same plan, no second shuffle) on a batch " +
    "with an explicit wide repartition, even behind projections") {
    val par = spark.sparkContext.defaultParallelism
    val df = spark.range(1, 1000).repartition(par)
      .selectExpr("id AS k", "id * 2 AS v")
      .where("k > 0")
    val out = LuaParallelism.spread(df)
    assert(out eq df, "pre-spread batch must pass through untouched")
    assert(repartitionCount(out.queryExecution.logical) == 1,
      "exactly the caller's repartition, no second one")
  }

  test("coalesce(n) is NOT a static width claim: a capped-but-narrow " +
    "batch still spreads (coalesce only bounds partitions)") {
    import spark.implicits._
    val df = Seq.tabulate(50)(i => (i.toLong, s"r$i")).toDF("k", "v")
      .coalesce(8) // Repartition(shuffle=false): caps at 8, real width 1
    val out = LuaParallelism.spread(df)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("a narrow batch (no explicit repartition) still spreads via " +
    "the rdd probe") {
    import spark.implicits._
    val df = Seq.tabulate(50)(i => (i.toLong, s"r$i")).toDF("k", "v")
      .coalesce(1)
    val out = LuaParallelism.spread(df)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("an exchange-topped batch behind coalesce(8) passes through with " +
    "NO job launched by the width probe") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i.toLong % 7, i.toLong))
      .toDF("k", "v").groupBy("k").agg(
        org.apache.spark.sql.functions.sum("v").as("v"))
      .coalesce(8)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = LuaParallelism.spread(df)
      Thread.sleep(300) // let any (unexpected) job-start event arrive
      assert(jobs.get() == 0,
        s"probing a shuffled batch must launch no job, saw ${jobs.get()}")
      assert(out eq df,
        "exchange-topped batch must pass through untouched")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
