package graft.control

import graft.model.Schemas
import graft.sources.Zone
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
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
  * Storage is one flat, append-only parquet directory. Each [[append]]
  * writes a one-row file on the driver (no Spark job) under a hidden
  * `_tmp-<uuid>.parquet` name and renames it to
  * `part-<execution_date>-<uuid>.parquet`: readers never list a partial
  * file, and a crash mid-append leaves only an ignored temp. The day in
  * the file name is the gates' index; it is not a partition directory,
  * so [[log]] and the views read the directory exactly as a plain table
  * (`execution_date=` directories would move that column last, hide the
  * flat files beside them and, past 32 days, add a parallel-listing job
  * to every read). Older Spark-written files have no day in their name
  * (and INT96 timestamps); they read alongside through the pinned schema.
  * log_id is a timestamp-derived long (uniqueness per (process, date,
  * attempt) is what the reference actually relies on, not density).
  */
final class Audit(spark: SparkSession, auditDir: String, clock: () => Timestamp) {

  private val dir = new Path(auditDir)
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = dir.getFileSystem(conf)

  private def emptyLog: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.auditLog)

  def log(): DataFrame =
    if (Zone.exists(spark, auditDir))
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
    // generated column duration_seconds (F11,
    // `create_control_db_v5.sql:47`): computed at write
    land(executionDate, Seq(Audit.group(Row(end.getTime * 100000L + seq.getAndIncrement(),
      processName, executionDate, status, rowsProcessed.map(Long.box).orNull, startTime, end,
      (end.getTime - startTime.getTime) / 1000L, errorMessage.orNull))))
  }

  /** Write `rows`, all of `executionDate`, as one dated file: temp, then rename. */
  private def land(executionDate: Date, rows: Seq[Group]): Unit = {
    val id = java.util.UUID.randomUUID()
    val tmp = new Path(dir, s"_tmp-$id.parquet")
    val part = new Path(dir, s"part-$executionDate-$id.parquet")
    val w = ExampleParquetWriter.builder(tmp).withConf(conf).withType(Audit.FileSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(Audit.FileMetadata).build()
    try rows.foreach(w.write) finally w.close()
    require(fs.rename(tmp, part), s"audit append rename failed: $tmp -> $part")
  }

  /** The visible data files, in one listing; hidden names (`_tmp-`
    * temps, `_SUCCESS`, `.crc`) are skipped as Spark skips them.
    */
  private def dataFiles(): Seq[FileStatus] =
    if (!Zone.exists(spark, auditDir)) Nil
    else fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The files a gate on `executionDate` opens: that day's files plus
    * any undated (older, Spark-written) ones. Their number depends on
    * the day's appends, not on how many days the log holds.
    */
  private[control] def gateFiles(executionDate: Date): Seq[FileStatus] = {
    val day = executionDate.toString
    dataFiles().filter(f => Audit.dayOf(f).forall(_ == day))
  }

  /** Readiness gate (J3): `is_process_done_procedure` —
    * `EXISTS(… WHERE LOWER(status)='success' AND execution_date=d)`
    * (`create_config_loadtowh.sql:56-64`). Answered on the driver from
    * [[gateFiles]], with no Spark job: each file is opened with
    * parquet-hadoop on the session's Hadoop conf (a reader that builds
    * its own `Configuration` re-parses Hadoop's XML defaults per file)
    * and only the three gate columns are decoded.
    */
  def isProcessDone(processName: String, executionDate: Date): Boolean = {
    val day = DateTimeUtils.fromJavaDate(executionDate)
    gateFiles(executionDate).exists(f => Audit.gateRows(f, conf).exists(g =>
      g.getString("process_name", 0) == processName && g.getInteger("execution_date", 0) == day &&
        g.getString("status", 0).equalsIgnoreCase("success")))
  }

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
    * generalized: per-process stats with conditional aggs (A2). The
    * aggregate holds one row per process name, so it is gathered into
    * one partition and sorted there: two jobs (the scan's shuffle stage
    * and the final one), where a global sort would add a range-sampling
    * job and a second shuffle.
    */
  def processStats(): DataFrame =
    log().groupBy(col("process_name"))
      .agg(
        count(lit(1)).as("total_runs"),
        sum(when(lower(col("status")) === "success", 1).otherwise(0)).as("successful_runs"),
        sum(when(lower(col("status")) === "failed", 1).otherwise(0)).as("failed_runs"),
        round(avg(col("rows_processed")), 0).as("avg_rows"),
        max(col("execution_date")).as("last_run_date"))
      .coalesce(1).sortWithinPartitions(col("process_name"))

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
    * drop audit rows older than `retentionDays` before `asOf`, by
    * deleting the dated files before the cutoff on the driver. Undated
    * files (an older log) are filtered once: their kept rows are
    * re-landed as dated files, then the undated files are deleted, so a
    * crash in between can only duplicate kept rows, never lose them.
    */
  def expireOldLogs(retentionDays: Int, asOf: Date): Unit = {
    val cutoff = new Date(asOf.getTime - retentionDays * 86400000L)
    val (dated, undated) = dataFiles().partition(Audit.dayOf(_).isDefined)
    if (undated.nonEmpty) {
      // bounded by the older log's kept window: one row per bracket edge
      val kept = spark.read.schema(Schemas.auditLog).parquet(undated.map(_.getPath.toString): _*)
        .filter(col("execution_date") >= lit(cutoff)).collect()
      kept.groupBy(_.getDate(2)).foreach { case (d, rows) => land(d, rows.toSeq.map(Audit.group)) }
      undated.foreach(f => fs.delete(f.getPath, false))
    }
    val first = cutoff.toString
    dated.filter(Audit.dayOf(_).exists(_ < first)).foreach(f => fs.delete(f.getPath, false))
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

  /** A [[Schemas.auditLog]] row as a file row. */
  private def group(r: Row): Group = {
    val g = new SimpleGroupFactory(FileSchema).newGroup()
      .append("log_id", r.getLong(0))
      .append("process_name", r.getString(1))
      .append("execution_date", DateTimeUtils.fromJavaDate(r.getDate(2)))
      .append("status", r.getString(3))
    def opt[T](i: Int)(get: Int => T) = if (r.isNullAt(i)) None else Some(get(i))
    opt(4)(r.getLong).foreach(g.append("rows_processed", _))
    opt(5)(r.getTimestamp).foreach(t => g.append("start_time", DateTimeUtils.fromJavaTimestamp(t)))
    opt(6)(r.getTimestamp).foreach(t => g.append("end_time", DateTimeUtils.fromJavaTimestamp(t)))
    opt(7)(r.getLong).foreach(g.append("duration_seconds", _))
    opt(8)(r.getString).foreach(g.append("error_message", _))
    g
  }

  private val DatedName = """part-(\d{4}-\d{2}-\d{2})-.+""".r

  /** The execution date a file's name carries, if it is a dated file. */
  private def dayOf(f: FileStatus): Option[String] = f.getPath.getName match {
    case DatedName(d) => Some(d)
    case _ => None
  }

  private val GateColumns = Seq("process_name", "execution_date", "status")

  /** Every row of `file`, with only [[GateColumns]] decoded. */
  private def gateRows(file: FileStatus, conf: org.apache.hadoop.conf.Configuration): Seq[Group] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath).build())
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val cols = new MessageType(schema.getName,
        schema.getFields.asScala.filter(f => GateColumns.contains(f.getName)).asJava)
      r.setRequestedSchema(cols)
      val io = new ColumnIOFactory().getColumnIO(cols)
      Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
        val rows = io.getRecordReader(pages, new GroupRecordConverter(cols))
        Iterator.fill(pages.getRowCount.toInt)(rows.read())
      }.toVector
    } finally r.close()
  }

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
