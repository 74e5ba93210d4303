package graft.control

import graft.SparkSpec
import graft.model.Schemas
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

/** The audit store's file format: one driver-written one-row parquet
  * file per append, landed by temp-then-rename, readable next to the
  * Spark-written (INT96) files of older logs.
  */
class AuditSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(dir: String): Seq[File] =
    new File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)

  private def footerType(f: File, column: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.toURI), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getFileMetaData.getSchema.getType(Array(column): _*).asPrimitiveType
    finally r.close()
  }

  private val day = Date.valueOf("2025-11-24")
  private val start = Timestamp.valueOf("2025-11-24 07:00:00.123456")
  private val end = Timestamp.valueOf("2025-11-24 07:00:03.654321")

  test("a driver-written row round-trips every column exactly through log(): " +
      "nulls, Vietnamese text and microseconds included") {
    val dir = tmpDir("audit_rt") + "/audit"
    val audit = new Audit(spark, dir, () => end)
    val msg = "Lỗi kết nối: không tải được trang tuyển dụng — thử lại sau"
    audit.append("extract_topcv_jobs", day, "Running", None, start)
    audit.append("extract_topcv_jobs", day, "Failed", None, start, Some(msg))
    audit.append("extract_topcv_jobs", day, "Success", Some(1520L), start)
    val id = end.getTime * 100000L
    assert(audit.log().orderBy("log_id").collect().toSeq == Seq(
      Row(id, "extract_topcv_jobs", day, "Running", null, start, end, 3L, null),
      Row(id + 1, "extract_topcv_jobs", day, "Failed", null, start, end, 3L, msg),
      Row(id + 2, "extract_topcv_jobs", day, "Success", 1520L, start, end, 3L, null)))
    val files = new File(dir).list().filter(_.endsWith(".parquet"))
    assert(files.length == 3 && files.forall(_.startsWith("part-")),
      s"one renamed file per append, no temp left: ${files.mkString(", ")}")
  }

  test("a schema-less read of a new file infers Schemas.auditLog's types") {
    val dir = tmpDir("audit_infer") + "/audit"
    new Audit(spark, dir, () => end).append("p", day, "Success", Some(1L), start)
    assert(spark.read.parquet(dir).schema.map(f => f.name -> f.dataType) ==
      Schemas.auditLog.map(f => f.name -> f.dataType))
    val ts = footerType(dataFiles(dir).head, "start_time")
    assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
      ts.getLogicalTypeAnnotation ==
        LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
  }

  test("the Running row is durable before the body runs") {
    val audit = new Audit(spark, tmpDir("audit_durable") + "/audit", () => end)
    val seen = audit.bracket("p", day) {
      audit.log().filter($"status" === "Running").count()
    }
    assert(seen == 1L)
  }

  test("old Spark-written rows (INT96 timestamps) and new rows read together " +
      "through log(), processStats, isProcessDone and expireOldLogs") {
    val dir = tmpDir("audit_mixed") + "/audit"
    val t = Timestamp.valueOf("2025-11-20 06:00:00.5")
    def oldRow(id: Long, status: String, rows: java.lang.Long) = Row(id,
      "staging_topcv_jobs", Date.valueOf("2025-11-20"), status, rows, t, t, 0L, null)
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try spark.createDataFrame(java.util.Arrays.asList(
        oldRow(1L, "Running", null), oldRow(2L, "Success", 5L)), Schemas.auditLog)
      .coalesce(1).write.mode("append").parquet(dir)
    finally spark.conf.set(key, prev)
    val Seq(oldFile) = dataFiles(dir)
    assert(footerType(oldFile, "start_time").getPrimitiveTypeName == PrimitiveTypeName.INT96)

    val audit = new Audit(spark, dir, () => end)
    assert(audit.bracket("staging_topcv_jobs", day)(7L) == 7L)
    val fresh = dataFiles(dir).filterNot(_ == oldFile)
    assert(fresh.length == 2 && fresh.forall(f =>
      footerType(f, "start_time").getPrimitiveTypeName == PrimitiveTypeName.INT64))

    val log = audit.log().orderBy("log_id").collect()
    assert(log.map(_.getAs[String]("status")).toSeq ==
      Seq("Running", "Success", "Running", "Success"))
    assert(log.take(2).forall(_.getAs[Timestamp]("start_time") == t))
    assert(log.drop(2).forall(_.getAs[Timestamp]("start_time") == end))
    assert(audit.isProcessDone("staging_topcv_jobs", Date.valueOf("2025-11-20")))
    assert(audit.isProcessDone("staging_topcv_jobs", day))
    val Array(stats) = audit.processStats().collect()
    assert(stats == Row("staging_topcv_jobs", 4L, 2L, 0L, 6.0, day))

    audit.expireOldLogs(retentionDays = 2, asOf = day)
    assert(audit.log().count() == 2L)
    assert(!audit.isProcessDone("staging_topcv_jobs", Date.valueOf("2025-11-20")))
    assert(audit.isProcessDone("staging_topcv_jobs", day))
  }

  test("a temp file left by a crash mid-append is invisible to log() and the gates") {
    val base = tmpDir("audit_crash")
    val dir = s"$base/audit"
    val audit = new Audit(spark, dir, () => end)
    assert(audit.bracket("load_to_wh", day)(3L) == 3L)
    // a crash after the temp file closed, before its rename: a complete
    // Success row under the hidden name ...
    val later = Date.valueOf("2025-11-25")
    new Audit(spark, s"$base/side", () => end)
      .append("load_to_wh", later, "Success", Some(9L), start)
    val Seq(complete) = dataFiles(s"$base/side")
    Files.copy(complete.toPath, Paths.get(dir, s"_tmp-${java.util.UUID.randomUUID()}.parquet"))
    // ... and a crash mid-write: a truncated one
    Files.write(Paths.get(dir, s"_tmp-${java.util.UUID.randomUUID()}.parquet"),
      Files.readAllBytes(complete.toPath).take(40))
    assert(audit.log().count() == 2L)
    assert(!audit.isProcessDone("load_to_wh", later))
    assert(!audit.alreadySucceeded("load_to_wh", later))
    assert(audit.isProcessDone("load_to_wh", day))
    assert(audit.processStats().collect().map(_.getAs[Long]("total_runs")).toSeq == Seq(2L))
  }
}
