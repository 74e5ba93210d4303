package graft.control

import graft.model.Schemas
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

import java.sql.{Date, Timestamp}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Control plane: audit trail + gates, the Spark re-expression of the
  * reference's `db_control` (`extract/create_control_db_v5.sql`,
  * `loadtowh/create_config_loadtowh.sql`). Every job writes
  * Running→Success/Failed rows with row counts; downstream jobs gate on
  * them (J3) and skip already-succeeded logical dates (A5).
  *
  * Storage is an append-only parquet directory holding one one-row
  * file per [[append]], written on the driver (no Spark job) under a
  * hidden `_tmp-<uuid>.parquet` name and then renamed to
  * `part-<uuid>.parquet`: readers never list a partial file, and a crash
  * mid-append leaves only an ignored temp. Older Spark-written rows
  * (INT96 timestamps) read alongside through the pinned schema. log_id
  * is a timestamp-derived long (uniqueness per (process, date, attempt)
  * is what the reference actually relies on, not density).
  */
final class Audit(spark: SparkSession, auditDir: String, clock: () => Timestamp) {

  private def emptyLog: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.auditLog)

  def log(): DataFrame =
    if (graft.sources.Zone.exists(spark, auditDir))
      spark.read.schema(Schemas.auditLog).parquet(auditDir)
    else emptyLog

  // log_id = ms clock · 10⁵ + unbounded in-process sequence: appends in
  // the same millisecond (bracket's Running→Success with a fast or
  // frozen injected clock) still order deterministically and never wrap.
  // Uniqueness contract: within one Audit writer (the per-pipeline
  // driver); cross-writer rows disambiguate by (process_name, log_id) —
  // latestRuns/recentFailures tie-break per process, so that's the
  // granularity that matters.
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  def append(processName: String, executionDate: Date, status: String,
      rowsProcessed: Option[Long], startTime: Timestamp,
      errorMessage: Option[String] = None): Unit = {
    val end = clock()
    val row = new SimpleGroupFactory(Audit.FileSchema).newGroup()
      .append("log_id", end.getTime * 100000L + seq.getAndIncrement())
      .append("process_name", processName)
      .append("execution_date", DateTimeUtils.fromJavaDate(executionDate))
      .append("status", status)
      .append("start_time", DateTimeUtils.fromJavaTimestamp(startTime))
      .append("end_time", DateTimeUtils.fromJavaTimestamp(end))
      // generated column duration_seconds (F11,
      // `create_control_db_v5.sql:47`): computed at write
      .append("duration_seconds", (end.getTime - startTime.getTime) / 1000L)
    rowsProcessed.foreach(row.append("rows_processed", _))
    errorMessage.foreach(row.append("error_message", _))
    val id = java.util.UUID.randomUUID()
    val tmp = new Path(auditDir, s"_tmp-$id.parquet")
    val part = new Path(auditDir, s"part-$id.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(tmp).withConf(conf).withType(Audit.FileSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(Audit.FileMetadata).build()
    try w.write(row) finally w.close()
    require(tmp.getFileSystem(conf).rename(tmp, part), s"audit append rename failed: $tmp -> $part")
  }

  /** Readiness gate (J3): `is_process_done_procedure` —
    * `EXISTS(… WHERE LOWER(status)='success' AND execution_date=d)`
    * (`create_config_loadtowh.sql:56-64`).
    */
  def isProcessDone(processName: String, executionDate: Date): Boolean =
    !log()
      .filter(col("process_name") === processName &&
        lower(col("status")) === "success" &&
        col("execution_date") === lit(executionDate))
      .isEmpty

  /** Idempotence check (A5): skip if this logical date already
    * succeeded (`run_all_scrapers.sh:37-44`).
    */
  def alreadySucceeded(processName: String, executionDate: Date): Boolean =
    isProcessDone(processName, executionDate)

  /** Run `body` bracketed by Running→Success/Failed audit rows; returns
    * the row count on success, rethrows on failure (the reference's
    * wrapper semantics: DB status outranks exit code).
    */
  def bracket(processName: String, executionDate: Date)(body: => Long): Long = {
    val start = clock()
    append(processName, executionDate, "Running", None, start)
    try {
      val n = body
      append(processName, executionDate, "Success", Some(n), start)
      n
    } catch {
      case e: Throwable =>
        append(processName, executionDate, "Failed", None, start,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500)))
        throw e
    }
  }

  /** The five monitoring views (`create_control_db_v5.sql:98-161`),
    * generalized: per-process stats with conditional aggs (A2).
    */
  def processStats(): DataFrame =
    log().groupBy(col("process_name"))
      .agg(
        count(lit(1)).as("total_runs"),
        sum(when(lower(col("status")) === "success", 1).otherwise(0)).as("successful_runs"),
        sum(when(lower(col("status")) === "failed", 1).otherwise(0)).as("failed_runs"),
        round(avg(col("rows_processed")), 0).as("avg_rows"),
        max(col("execution_date")).as("last_run_date"))
      .orderBy(col("process_name"))

  /** Recent failures view (O2 + F4). */
  def recentFailures(limit: Int = 5): DataFrame =
    log().filter(lower(col("status")) === "failed")
      .orderBy(col("end_time").desc, col("log_id").desc)
      .limit(limit)
      .select(col("process_name"), col("execution_date"),
        substring(col("error_message"), 1, 80).as("error_snippet"))

  /** Daily pipeline summary — the `v_daily_summary` shape
    * (`create_control_db_v5.sql:151-161`): per execution date, distinct
    * processes plus success/fail counts. The reference writes this with
    * correlated scalar subqueries; pre-aggregation is the decorrelated
    * plan Catalyst would produce anyway (SURVEY.md §2.4 A4).
    */
  def dailySummary(): DataFrame =
    log().groupBy(col("execution_date"))
      .agg(
        countDistinct(col("process_name")).as("n_processes"),
        sum(when(lower(col("status")) === "success", 1).otherwise(0)).as("n_success"),
        sum(when(lower(col("status")) === "failed", 1).otherwise(0)).as("n_failed"),
        max(col("end_time")).as("last_activity"))
      .orderBy(col("execution_date").desc)

  /** Retention GC (`extract/cleanup_old_logs.sh:11` — 30-day window):
    * drop audit rows older than `retentionDays` before `asOf`. Rewrite
    * via a temp dir (parquet can't overwrite in place from itself).
    */
  def expireOldLogs(retentionDays: Int, asOf: Date): Unit = {
    val cutoff = new Date(asOf.getTime - retentionDays * 86400000L)
    graft.sources.Zone.overwriteInPlace(spark,
      log().filter(col("execution_date") >= lit(cutoff)), auditDir)
  }

  /** Latest run per process — the per-key Top-1 the reference does with
    * `ORDER BY log_id DESC LIMIT 1` scoped by key (SURVEY.md §2.5).
    */
  def latestRuns(): DataFrame =
    graft.operators.LatestPerKey(log(), Seq("process_name"),
      Seq(col("end_time").desc, col("log_id").desc))
      .select(col("process_name"), col("execution_date"), col("status"),
        col("rows_processed"), col("duration_seconds"))
      .orderBy(col("process_name"))
}

object Audit {

  /** [[Schemas.auditLog]] as the audit files store it: timestamps as
    * UTC-adjusted INT64 micros, which a schema-less read infers back as
    * `TimestampType`.
    */
  private val FileSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 log_id;
      |  required binary process_name (STRING);
      |  required int32 execution_date (DATE);
      |  required binary status (STRING);
      |  optional int64 rows_processed;
      |  optional int64 start_time (TIMESTAMP(MICROS,true));
      |  optional int64 end_time (TIMESTAMP(MICROS,true));
      |  optional int64 duration_seconds;
      |  optional binary error_message (STRING);
      |}""".stripMargin)

  /** The footer keys Spark's own writer sets: the Catalyst schema, and
    * the writer version that marks dates and timestamps as proleptic
    * Gregorian (no calendar rebase on read).
    */
  private val FileMetadata = Map(
    "org.apache.spark.sql.parquet.row.metadata" -> Schemas.auditLog.json,
    "org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT).asJava

  /** `df` with a row counter riding its plan, and a thunk that returns
    * how many rows flowed through `df` during the first action that ran
    * it: an audit count taken from the write itself instead of a second
    * job over its output. Call the thunk only after that action; its
    * wait is bounded, so metrics that never arrive fail the bracket
    * instead of hanging it.
    */
  def rowCount(df: DataFrame): (DataFrame, () => Long) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")),
      () => Await.result(obs.future, 5.minutes).getLong(0))
  }
}
