package graft.jobs

import graft.SparkSpec
import graft.control.Audit

import java.sql.{Date, Timestamp}

/** Spark jobs per call of the warehouse day, on the [[PipelineSpec]]
  * fixture. The day is small, so its wall is per-job overhead: an audit
  * append, a row count or a schema discovery that grows back as a job
  * fails here, not only at bench time.
  */
class JobBudgetSpec extends SparkSpec {

  test("an audit bracket around a constant body runs no Spark job") {
    val audit = new Audit(spark, tmpDir("budget_audit"), () => new Timestamp(1000L))
    assert(jobs(audit.bracket("const", Date.valueOf("2025-11-24"))(42L)) == (42L, 0))
  }

  test("the readiness gates run no Spark job; the per-process monitoring " +
      "view runs two") {
    var now = 1000000000L
    val audit = new Audit(spark, tmpDir("budget_gates"), () => { now += 1000; new Timestamp(now) })
    val (d1, d2) = (Date.valueOf("2025-11-24"), Date.valueOf("2025-11-25"))
    for (d <- Seq(d1, d2); p <- Seq("extract_topcv_jobs", "staging_topcv_jobs", "load_to_wh"))
      audit.bracket(p, d)(1L)
    assert(jobs(audit.isProcessDone("load_to_wh", d2)) == (true, 0))
    assert(jobs(audit.alreadySucceeded("extract_topcv_jobs", d1)) == (true, 0))
    assert(jobs(audit.isProcessDone("load_to_wh", Date.valueOf("2025-11-26"))) == (false, 0))
    val (stats, statJobs) = jobs(audit.processStats().collect())
    assert(stats.length == 3 && statJobs == 2)
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
    // Budgets measured on this fixture. Extract: the write. Staging and
    // load: the write and the stages its shuffles need (plus the existing
    // table's side once there is one). Marts: the aggregate's two stages
    // per mart. Audit rows, gates and row counts add none.
    // Day 1 creates every table; day 2 has the shape of every later day.
    assert(day(PipelineSpec.fixtureDay1(spark), "2025-11-24") ==
      Map("extract" -> 1, "staging" -> 3, "load" -> 2, "marts" -> 8))
    assert(day(PipelineSpec.fixtureDay2(spark), "2025-11-25") ==
      Map("extract" -> 1, "staging" -> 5, "load" -> 4, "marts" -> 8))
    val (charts, read) = jobs(Dashboard.chartData(spark, martDir).map { case (t, df) =>
      t -> df.collect().length })
    assert(charts("agg_job_by_company") == 3)
    assert(read == Dashboard.Charts.size, "one job per chart: no schema discovery")
    dateDim.unpersist()
  }
}
