package graft.jobs

import graft.control.Audit
import graft.model.Schemas
import graft.operators.Scd2Merge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse load (SURVEY.md §3.3): readiness gate → "dump" (a filter,
  * S10) → SCD2 merge (§2.10) → overwrite, audited. The reference's
  * mysqldump | sed | scp | ssh chain collapses into a filtered read —
  * predicate pushdown *is* the dump — and Spark's exchange replaces the
  * node-to-node copy.
  */
object WarehouseLoadJob {

  val Keys: Seq[String]    = Seq("job_title", "company_name")
  /** Attributes whose change expires a version (`load_to_wh.sh:70-74`). */
  val Tracked: Seq[String] =
    Seq("salary", "location", "experience_required", "posted_time", "job_url")

  /** @param expectations optional [[graft.operators.Expectations]]
    *   gate evaluated on the collapsed incoming slice BEFORE the SCD2
    *   merge: a failed check aborts inside the audit bracket (the run
    *   records as failed, the warehouse is untouched) — the dbt-test /
    *   Deequ "verify before publish" discipline. Empty = no gate, the
    *   reference behavior.
    */
  def run(spark: SparkSession, stagingDir: String, warehouseDir: String,
      audit: Audit, upstreamProcess: String, date: String,
      legacyNullChange: Boolean = false,
      expectations: Seq[graft.operators.Expectations.Check] = Nil): Long = {
    val day = java.sql.Date.valueOf(date)
    // J3: is_process_done gate (`create_config_loadtowh.sql:56-64`)
    require(audit.isProcessDone(upstreamProcess, day),
      s"upstream $upstreamProcess not Success for $date — aborting (readiness gate)")
    audit.bracket("load_to_wh", day) {
      // Read through Zone so its crash-recovery probe runs first: after a
      // crash between StagingJob's delete and rename, the completed
      // __rewrite temp needs promoting before this read (ADVICE r01).
      val staging = graft.sources.Zone.readIfExists(spark, stagingDir, Schemas.stagingJob)
        .getOrElse(sys.error(
          s"staging table missing at $stagingDir — run StagingJob first"))
      // S10: the "dump" is a pushed-down predicate — on last_seen_date,
      // so conflict-refreshed rows re-ship (see StagingJob.RefreshCols)
      // Collapse to one row per natural key: distinct job_ids can share
      // (job_title, company_name); feeding duplicates to the merge would
      // create two active versions (the reference's INSERT does exactly
      // that — a bug we correct; Scd2Merge stays generic/faithful).
      val incoming = graft.operators.LatestPerKey(
        staging.filter(col("last_seen_date") === lit(day)),
        Keys,
        Seq(col("extracted_ts").desc, col("job_id").desc))
        .select((Keys ++ Tracked).map(col) :+ col("extracted_date"): _*)
      if (expectations.nonEmpty)
        graft.operators.Expectations.assertAll(incoming, expectations)
      val current = graft.sources.Zone.readIfExists(spark, warehouseDir, Schemas.warehouseJob)
        .getOrElse(incoming
          .withColumn("expired", to_date(lit(Scd2Merge.Sentinel)))
          .withColumn("is_deleted", lit(false))
          .limit(0))
      // rows shipped this run (audit metric), counted as the merge
      // consumes them
      val (shipped, shippedRows) = Audit.rowCount(incoming)
      // incoming is collapsed to one row per natural key above and the
      // warehouse invariant is one active version per key → the
      // single-shuffle-join merge form applies
      val merged = Scd2Merge.singlePass(
        current,
        shipped.withColumn("is_deleted", lit(false)),
        keys = Keys, tracked = Tracked,
        expiredCol = "expired", effectiveDate = lit(date),
        legacyNullChange = legacyNullChange)
      graft.sources.Zone.overwriteInPlace(spark, merged, warehouseDir)
      shippedRows()
    }
  }
}
