package graft.model

import org.apache.spark.sql.types._

/** Explicit StructTypes for every non-parquet source (FIXTURES.md) and
  * every paper-layer parquet table. The reference reads CSV headers
  * positionally (`csv.DictReader`, `staging/staging_loader.py:72-79`);
  * we pin explicit schemas instead of `inferSchema` — at 100 TB an
  * inference pass is a full extra scan, and even a parquet read without
  * a schema runs a footer-merge job on every call.
  */
object Schemas {

  /** Raw scrape CSV — TopCV column order (`topcv_scraper_v5.py:206`).
    * All strings at the edge (CSV is untyped); typing happens in the
    * staging clean step.
    */
  val rawScrape: StructType = StructType(Seq(
    StructField("source_id", StringType),
    StructField("job_id", StringType),
    StructField("job_title", StringType),
    StructField("company_name", StringType),
    StructField("salary", StringType),
    StructField("location", StringType),
    StructField("experience_required", StringType),
    StructField("posted_time", StringType),
    StructField("tags", StringType),
    StructField("job_url", StringType),
    StructField("company_logo", StringType),
    StructField("extracted_date", StringType),
    StructField("extracted_timestamp", StringType),
  ))

  /** `date_dim` (10 columns, `loadtowh/create_warehouse_db.sql:31-43`;
    * `week_of_year`/`is_holiday` are varchar in the reference DDL).
    */
  val dateDim: StructType = StructType(Seq(
    StructField("date_sk", LongType, nullable = false),
    StructField("full_date", DateType, nullable = false),
    StructField("day_since_month_start", IntegerType),
    StructField("day_of_week_calendar", StringType),
    StructField("calendar_month_name", StringType),
    StructField("day_of_month", IntegerType),
    StructField("day_of_year", IntegerType),
    StructField("week_of_year", StringType),
    StructField("is_holiday", StringType),
    StructField("day_type", StringType),
  ))

  /** Cleaned staging row (`staging/init_staging_db_v2.sql:55-70` +
    * parsed salary struct per SURVEY.md §1.2).
    */
  val stagingJob: StructType = StructType(Seq(
    StructField("job_id", StringType, nullable = false),
    StructField("job_title", StringType),
    StructField("company_name", StringType),
    StructField("salary", StringType),
    StructField("min_salary_vnd", LongType),
    StructField("max_salary_vnd", LongType),
    StructField("location", StringType),
    StructField("experience_required", StringType),
    StructField("posted_time", StringType),
    StructField("posted_date", DateType),
    StructField("tags", ArrayType(StringType)),
    StructField("job_url", StringType),
    StructField("extracted_date", DateType),
    StructField("last_seen_date", DateType),
    StructField("extracted_ts", TimestampType),
    StructField("date_id", LongType),
  ))

  /** Warehouse fact row: one SCD2 version of a job
    * (`loadtowh/create_warehouse_db.sql`), keyed by
    * (job_title, company_name); `expired` is the sentinel
    * ([[graft.operators.Scd2Merge.Sentinel]]) on the active version.
    */
  val warehouseJob: StructType = StructType(Seq(
    StructField("job_title", StringType),
    StructField("company_name", StringType),
    StructField("salary", StringType),
    StructField("location", StringType),
    StructField("experience_required", StringType),
    StructField("posted_time", StringType),
    StructField("job_url", StringType),
    StructField("extracted_date", DateType),
    StructField("expired", DateType),
    StructField("is_deleted", BooleanType),
  ))

  /** A reference mart (`datamart/config.xml:86-123`): one group column
    * and its `COUNT(*) AS total_jobs`.
    */
  def referenceMart(groupCol: String): StructType = StructType(Seq(
    StructField(groupCol, StringType),
    StructField("total_jobs", LongType, nullable = false),
  ))

  /** Audit log row — the union shape of extract_log / process_log /
    * load_to_wh_log (`extract/create_control_db_v5.sql:34-54,76-91`,
    * `loadtowh/create_config_loadtowh.sql:86-98`).
    */
  val auditLog: StructType = StructType(Seq(
    StructField("log_id", LongType, nullable = false),
    StructField("process_name", StringType, nullable = false),
    StructField("execution_date", DateType, nullable = false),
    StructField("status", StringType, nullable = false), // Running|Success|Failed
    StructField("rows_processed", LongType),
    StructField("start_time", TimestampType),
    StructField("end_time", TimestampType),
    StructField("duration_seconds", LongType), // generated col (F11)
    StructField("error_message", StringType),
  ))
}
