package graft.jobs

import graft.control.Audit
import graft.functions.{CleaningFunctions => C}
import graft.model.Schemas
import graft.operators.{LatestPerKey, Upsert}
import graft.sources.RawZone
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The staging vertical slice (SURVEY.md §3.2): one raw partition →
  * validate → clean (F1/F2/F19) → broadcast date-dim join (J4) →
  * latest-per-job_id dedup + column-selective upsert (U3) → staging
  * table, audited.
  *
  * Plan shape: everything up to the dedup is narrow (one scan, codegen
  * end-to-end); the dim join is a broadcast; the only shuffles are the
  * per-key dedup window and the upsert's outer join — exactly the two
  * the semantics require. The reference did this row-at-a-time over
  * JDBC at ~10 rows/s (`create_config_loadtowh.sql:48-52`).
  */
object StagingJob {

  /** The reference refreshes only these on job_id conflict
    * (`staging_transformer_v2.py:139-143` + parsed-salary columns that
    * ride along with salary).
    */
  /** `last_seen_date` is ours, not the reference's: because
    * `extracted_date` stays first-seen on conflict (faithful), the
    * reference's warehouse dump (`WHERE DATE(extracted_date)=d`) never
    * re-ships updated jobs — changed attributes silently skip SCD2.
    * The refresh-tracked `last_seen_date` is the corrected dump key
    * (SURVEY.md §7.4-4 "dead-but-declared capability" treatment).
    */
  val RefreshCols: Seq[String] =
    Seq("job_title", "salary", "min_salary_vnd", "max_salary_vnd",
      "posted_time", "posted_date", "date_id", "last_seen_date")

  /** Clean one raw batch into the staging schema. Pure transform —
    * unit-testable without IO.
    */
  def clean(raw: DataFrame, dateDim: DataFrame): DataFrame = {
    val valid = raw.filter( // P8: `if j_id and j_title` (topcv_scraper_v5.py:123)
      col("job_id").isNotNull && trim(col("job_id")) =!= "" &&
      col("job_title").isNotNull && trim(col("job_title")) =!= "")
    val salary = C.parseSalary(col("salary"))
    val cleaned = valid.select(
      trim(col("job_id")).as("job_id"),
      C.cleanRawField(col("job_title")).as("job_title"),
      C.cleanRawField(col("company_name")).as("company_name"),
      C.withDefault(col("salary"), "Thỏa thuận").as("salary"),
      salary.getField("min_salary_vnd").as("min_salary_vnd"),
      salary.getField("max_salary_vnd").as("max_salary_vnd"),
      col("location"),
      C.withDefault(col("experience_required"), "Không yêu cầu").as("experience_required"),
      col("posted_time"),
      C.postedDate(col("posted_time"), col("extracted_date")).as("posted_date"),
      // comma-joined tags → honest columnar representation (§2.8 note)
      split(col("tags"), ",\\s*").as("tags"),
      col("job_url"),
      to_date(col("extracted_date")).as("extracted_date"),
      to_date(col("extracted_date")).as("last_seen_date"),
      // batch-internal ordering for last-writer-wins (the reference's
      // sequential file order, made explicit and deterministic)
      to_timestamp(col("extracted_timestamp")).as("extracted_ts"))
    // J4: replicated dict probe → broadcast left join; missing date → NULL
    cleaned.join(
        broadcast(dateDim.select(col("date_sk").as("date_id"), col("full_date"))),
        cleaned("extracted_date") === col("full_date"), "left_outer")
      .drop("full_date")
  }

  /** Typed view of the cleaned batch — same plan as [[clean]] (the
    * `.as[]` is a schema cast, not a conversion); use when downstream
    * logic wants compile-time fields instead of column strings.
    */
  def cleanTyped(spark: SparkSession, raw: DataFrame,
      dateDim: DataFrame): org.apache.spark.sql.Dataset[graft.model.JobPosting] = {
    import spark.implicits._
    clean(raw, dateDim).as[graft.model.JobPosting]
  }

  /** Run the slice for one (source, logical date): idempotent — skipped
    * if already succeeded, dynamic-overwrite otherwise.
    */
  def run(spark: SparkSession, rawDir: String, stagingDir: String,
      dateDim: DataFrame, audit: Audit, sourceId: String, date: String): Long = {
    val processName = s"staging_$sourceId"
    val day = java.sql.Date.valueOf(date)
    if (audit.alreadySucceeded(processName, day)) 0L
    else audit.bracket(processName, day) {
      val raw = RawZone.readPartition(spark, rawDir, sourceId, date)
      val cleaned = clean(raw, dateDim)
      // U3: within-batch last-writer-wins, then column-selective upsert.
      // Final tie-breaker = content hash, NOT the partition key (job_id
      // is constant within its own window group, so ties on extracted_ts
      // would otherwise resolve by partition-arrival order — a retried
      // batch could upsert a different survivor)
      val latest = LatestPerKey(cleaned, Seq("job_id"),
        Seq(col("extracted_ts").desc,
          xxhash64(cleaned.columns.map(col).toIndexedSeq: _*).desc))
      val existing = graft.sources.Zone.readIfExists(spark, stagingDir, Schemas.stagingJob)
        .getOrElse(latest.limit(0))
      // rows processed THIS run (audit metric), counted as the upsert
      // consumes them
      val (incoming, batchRows) = Audit.rowCount(latest)
      val merged = Upsert(existing, incoming, "job_id", RefreshCols,
        Seq(col("extracted_ts").desc))
      graft.sources.Zone.overwriteInPlace(spark, merged, stagingDir)
      batchRows()
    }
  }
}
