package graft.jobs

import graft.control.Audit
import graft.model.Schemas
import graft.operators.AggSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Data-mart build (`datamart/load_to_dm.py:104-168`): for each
  * config-driven spec, aggregate the *active* fact rows and replace
  * the mart table (the reference drops/recreates) through
  * [[graft.sources.Zone.overwriteInPlace]]'s temp-then-swap, so a crash
  * mid-write never leaves the dashboard a missing or partial mart.
  * Per-mart audit rows mirror `load_to_dm_log`; each row count is taken
  * from the write itself ([[Audit.rowCount]]), not a read-back.
  */
object DataMartJob {

  /** The reference's four marts (`config.xml:86-123`), names verbatim. */
  val ReferenceSpecs: Seq[AggSpec] = Seq(
    AggSpec("agg_job_by_company", Seq("company_name"), Seq("COUNT(*) AS total_jobs")),
    AggSpec("agg_job_by_location", Seq("location"), Seq("COUNT(*) AS total_jobs")),
    AggSpec("agg_job_by_salary", Seq("salary"), Seq("COUNT(*) AS total_jobs")),
    AggSpec("agg_job_by_experience", Seq("experience_required"), Seq("COUNT(*) AS total_jobs")),
  )

  def run(spark: SparkSession, warehouseDir: String, martDir: String,
      audit: Audit, date: String,
      specs: Seq[AggSpec] = ReferenceSpecs): Map[String, Long] = {
    val day = java.sql.Date.valueOf(date)
    // read through Zone so its crash-recovery probe runs first (same
    // self-heal contract WarehouseLoadJob relies on — ADVICE r01)
    val fact = graft.sources.Zone.readIfExists(spark, warehouseDir, Schemas.warehouseJob)
      .getOrElse(sys.error(
        s"warehouse table missing at $warehouseDir — run WarehouseLoadJob first"))
      // marts aggregate current versions only (P7 sentinel filter —
      // the shared constant, not a re-hardcoded literal that could drift)
      .filter(col("expired") === to_date(lit(graft.operators.Scd2Merge.Sentinel)))
    specs.map { spec =>
      val n = audit.bracket(s"load_to_dm_${spec.name}", day) {
        // count what was written, as it is written; the swap keeps the
        // old mart readable until the new one is complete
        val (mart, written) = Audit.rowCount(spec.run(fact))
        graft.sources.Zone.overwriteInPlace(spark, mart, s"$martDir/${spec.name}")
        written()
      }
      spec.name -> n
    }.toMap
  }
}
