package graft.jobs

import graft.SparkSpec
import graft.control.Audit
import org.apache.spark.graftbridge.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicInteger

/** Spark jobs per call of the warehouse day, on the [[PipelineSpec]]
  * fixture. The day is small, so its wall is per-job overhead: an audit
  * append, a row count or a schema discovery that grows back as a job
  * fails here, not only at bench time.
  */
class JobBudgetSpec extends SparkSpec {

  /** `body`'s result and the Spark jobs it started, counted by a listener
    * filtered on a job group set on this thread for the call alone.
    */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("an audit bracket around a constant body runs no Spark job") {
    val audit = new Audit(spark, tmpDir("budget_audit"), () => new Timestamp(1000L))
    assert(jobs(audit.bracket("const", Date.valueOf("2025-11-24"))(42L)) == (42L, 0))
  }

  test("a warehouse day's calls stay at their job budget; a dashboard " +
      "read runs one job per chart") {
    val base = tmpDir("budget")
    val (rawDir, stagingDir, whDir, martDir) =
      (s"$base/raw", s"$base/staging", s"$base/wh", s"$base/mart")
    var now = 1000000000L
    val audit = new Audit(spark, s"$base/audit", () => { now += 1000; new Timestamp(now) })
    val dateDim = DateDim.generate(spark, "2025-01-02", "2026-12-31").cache()
    dateDim.count()
    def day(feed: org.apache.spark.sql.DataFrame, date: String): Map[String, Int] = Map(
      "extract" -> jobs(ExtractJob.run(spark, feed, rawDir, audit, "topcv_jobs", date))._2,
      "staging" -> jobs(StagingJob.run(spark, rawDir, stagingDir, dateDim, audit,
        "topcv_jobs", date))._2,
      "load" -> jobs(WarehouseLoadJob.run(spark, stagingDir, whDir, audit,
        "staging_topcv_jobs", date))._2,
      "marts" -> jobs(DataMartJob.run(spark, whDir, martDir, audit, date))._2)
    // Budgets measured on this fixture. Extract: the gate and the write.
    // Staging and load: the gate, the write and the stages its shuffles
    // need (plus the existing table's side once there is one). Marts: the
    // aggregate's two stages per mart. Audit rows and row counts add none.
    // Day 1 creates every table; day 2 has the shape of every later day.
    assert(day(PipelineSpec.fixtureDay1(spark), "2025-11-24") ==
      Map("extract" -> 2, "staging" -> 4, "load" -> 3, "marts" -> 8))
    assert(day(PipelineSpec.fixtureDay2(spark), "2025-11-25") ==
      Map("extract" -> 2, "staging" -> 6, "load" -> 5, "marts" -> 8))
    val (charts, read) = jobs(Dashboard.chartData(spark, martDir).map { case (t, df) =>
      t -> df.collect().length })
    assert(charts("agg_job_by_company") == 3)
    assert(read == Dashboard.Charts.size, "one job per chart: no schema discovery")
    dateDim.unpersist()
  }
}
