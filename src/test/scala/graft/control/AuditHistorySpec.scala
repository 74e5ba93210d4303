package graft.control

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.sql.{Date, Timestamp}

/** The control plane against a growing log: a gate opens the files of its
  * own day only and runs no Spark job, at 30 days of history as at 365.
  */
class AuditHistorySpec extends SparkSpec {

  private val start = Date.valueOf("2025-01-01").toLocalDate
  private val processes = Seq("extract_topcv_jobs", "staging_topcv_jobs", "load_to_wh")

  /** Days `from` until `to` of synthetic history: one bracket a day (its
    * Running row and its Success row, or Failed every 7th day), the
    * process rotating by day.
    */
  private def history(audit: Audit, from: Int, to: Int): Unit =
    for (d <- from until to) {
      val day = Date.valueOf(start.plusDays(d))
      try audit.bracket(processes(d % processes.size), day) {
        if (d % 7 == 6) sys.error(s"day $d failed") else d.toLong
      } catch { case _: RuntimeException => }
    }

  /** The per-process view written with a global sort. */
  private def globalSortStats(audit: Audit) =
    audit.log().groupBy(col("process_name"))
      .agg(
        count(lit(1)).as("total_runs"),
        sum(when(lower(col("status")) === "success", 1).otherwise(0)).as("successful_runs"),
        sum(when(lower(col("status")) === "failed", 1).otherwise(0)).as("failed_runs"),
        round(avg(col("rows_processed")), 0).as("avg_rows"),
        max(col("execution_date")).as("last_run_date"))
      .orderBy(col("process_name"))

  test("a gate opens as many files and runs as many jobs (none) at 365 days " +
      "of history as at 30; processStats matches the globally sorted view") {
    var now = 1700000000000L
    val audit = new Audit(spark, tmpDir("audit_history") + "/audit",
      () => { now += 1000; new Timestamp(now) })
    // day 28 (index) is a Success of processes(28 % 3) = staging_topcv_jobs
    val (probe, probeProcess) = (Date.valueOf(start.plusDays(28)), processes(28 % 3))
    def gate(): (Int, (Boolean, Int)) =
      (audit.gateFiles(probe).size, jobs(audit.isProcessDone(probeProcess, probe)))

    history(audit, 0, 30)
    val at30 = gate()
    history(audit, 30, 365)
    val at365 = gate()
    assert(at30 == (2, (true, 0)), s"at 30 days: $at30")
    assert(at365 == at30, s"at 365 days: $at365")
    val last = Date.valueOf(start.plusDays(364))
    assert(audit.gateFiles(last).size == 2 && jobs(audit.isProcessDone(processes(364 % 3), last))
      == (true, 0))
    // a failed day is not done
    assert(!audit.isProcessDone(processes(6 % 3), Date.valueOf(start.plusDays(6))))

    val stats = audit.processStats().collect().toSeq
    assert(stats == globalSortStats(audit).collect().toSeq)
    assert(stats.map(_.getString(0)) == processes.sorted &&
      stats.map(_.getLong(1)).sum == 2 * 365)
  }
}
