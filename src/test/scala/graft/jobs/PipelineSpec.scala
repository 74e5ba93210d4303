package graft.jobs

import graft.SparkSpec
import graft.control.Audit
import graft.sources.RawZone
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** End-to-end golden pipeline (SURVEY.md §5.2-3): fixture scrape rows
  * (Vietnamese, dup job_ids, invalid rows) → raw zone → StagingJob →
  * WarehouseLoadJob (gated SCD2) → DataMartJob, with audit-trail
  * assertions and an idempotent re-run. Clock and logical dates are
  * injected — no wall-clock anywhere (§7.4-5).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureDay1 = PipelineSpec.fixtureDay1(spark)
  private def fixtureDay2 = PipelineSpec.fixtureDay2(spark)

  test("full pipeline: raw → staging → warehouse (SCD2) → marts, audited + idempotent") {
    val base = tmpDir("pipeline")
    val (rawDir, stagingDir, whDir, martDir, auditDir) =
      (s"$base/raw", s"$base/staging", s"$base/wh", s"$base/mart", s"$base/audit")
    var now = 1000000000L
    val audit = new Audit(spark, auditDir, () => { now += 1000; new Timestamp(now) })
    val dateDim = DateDim.generate(spark, "2025-01-02", "2026-12-31").cache()

    // ---- day 1: extract → raw zone (S3), partitioned, audited ----
    val e1 = ExtractJob.run(spark, fixtureDay1, rawDir, audit, "topcv_jobs", "2025-11-24")
    assert(e1 == 5)
    // idempotence: extract re-run is a no-op
    assert(ExtractJob.run(spark, fixtureDay1, rawDir, audit, "topcv_jobs", "2025-11-24") == 0L)
    val rawBack = RawZone.readPartition(spark, rawDir, "topcv_jobs", "2025-11-24")
    assert(rawBack.count() == 5)

    // ---- staging day 1 ----
    val n1 = StagingJob.run(spark, rawDir, stagingDir, dateDim, audit,
      "topcv_jobs", "2025-11-24")
    assert(n1 == 2, "row without job_id and row without title dropped; dup j1 collapsed")
    val staged = spark.read.parquet(stagingDir)
    val j1 = staged.filter($"job_id" === "j1").head()
    assert(j1.getAs[String]("job_title").contains("cập nhật"), "within-batch last writer wins")
    assert(j1.getAs[Long]("min_salary_vnd") == 16000000L)
    assert(j1.getAs[java.sql.Date]("posted_date") == java.sql.Date.valueOf("2025-11-23"))
    assert(j1.getAs[Long]("date_id") ==
      dateDim.filter($"full_date" === "2025-11-24").head().getAs[Long]("date_sk"),
      "broadcast date-dim join resolves date_id")

    // idempotence: re-running the same logical date is a no-op (A5 skip)
    assert(StagingJob.run(spark, rawDir, stagingDir, dateDim, audit,
      "topcv_jobs", "2025-11-24") == 0L)

    // ---- warehouse day 1 (gate satisfied by staging Success) ----
    val w1 = WarehouseLoadJob.run(spark, stagingDir, whDir, audit,
      "staging_topcv_jobs", "2025-11-24")
    assert(w1 == 2)

    // gate rejects a date staging never ran
    intercept[IllegalArgumentException] {
      WarehouseLoadJob.run(spark, stagingDir, whDir, audit,
        "staging_topcv_jobs", "2025-12-31")
    }

    // ---- day 2: changed salary expires j1's version ----
    RawZone.write(fixtureDay2, rawDir)
    StagingJob.run(spark, rawDir, stagingDir, dateDim, audit, "topcv_jobs", "2025-11-25")
    WarehouseLoadJob.run(spark, stagingDir, whDir, audit,
      "staging_topcv_jobs", "2025-11-25")
    val wh = spark.read.parquet(whDir)
    val sentinel = java.sql.Date.valueOf("9999-12-31")
    val j1Versions = wh.filter($"job_title" === "Kỹ sư dữ liệu (cập nhật)")
      .orderBy("expired").collect()
    assert(j1Versions.length == 2, "old version kept + new active version")
    assert(j1Versions(0).getAs[java.sql.Date]("expired") == java.sql.Date.valueOf("2025-11-25"))
    assert(j1Versions(1).getAs[java.sql.Date]("expired") == sentinel)
    assert(wh.filter($"expired" === sentinel).count() == 3, "j1', j2, j9 active")
    val perKey = wh.filter($"expired" === sentinel)
      .groupBy("job_title", "company_name").count().filter($"count" > 1)
    assert(perKey.isEmpty, "exactly one active version per natural key")

    // ---- marts (specs loaded from reference-shaped XML config) ----
    val cfgXml = s"$base/config.xml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgXml),
      """<configuration><aggregates>
        |<table><name>agg_job_by_company</name><source>job</source>
        |  <groupBy>company_name</groupBy>
        |  <metrics><metric>COUNT(*) AS total_jobs</metric></metrics></table>
        |<table><name>agg_job_by_location</name><source>job</source>
        |  <groupBy>location</groupBy>
        |  <metrics><metric>COUNT(*) AS total_jobs</metric></metrics></table>
        |<table><name>agg_job_by_salary</name><source>job</source>
        |  <groupBy>salary</groupBy>
        |  <metrics><metric>COUNT(*) AS total_jobs</metric></metrics></table>
        |<table><name>agg_job_by_experience</name><source>job</source>
        |  <groupBy>experience_required</groupBy>
        |  <metrics><metric>COUNT(*) AS total_jobs</metric></metrics></table>
        |</aggregates></configuration>""".stripMargin)
    val martCfg = graft.control.AppConfig.loadMartSpecs(cfgXml)
    assert(martCfg.map(_.source).toSet == Set("job"))
    assert(martCfg.map(_.spec) == DataMartJob.ReferenceSpecs,
      "XML config parses to the built-in reference specs")
    val marts = DataMartJob.run(spark, whDir, martDir, audit, "2025-11-25",
      specs = martCfg.map(_.spec))
    assert(marts("agg_job_by_company") == 3)
    val byCompany = spark.read.parquet(s"$martDir/agg_job_by_company")
    assert(byCompany.filter($"company_name" === "Công ty A")
      .head().getAs[Long]("total_jobs") == 1)

    // ---- dashboard layer (S15): chart frames from the marts ----
    val charts = Dashboard.chartData(spark, martDir, topN = 10)
    assert(charts.keySet == Dashboard.Charts.map(_._1).toSet)
    val companyChart = charts("agg_job_by_company").collect()
    assert(companyChart.length == 3 &&
      companyChart.forall(_.getAs[Long]("total_jobs") == 1L))

    // ---- integrity constraints (§1.2): domains, keys, FK containment ----
    import graft.control.Constraints
    assert(Constraints.domainViolations(audit.log(), "status",
      Seq("Running", "Success", "Failed")) == 0)
    assert(Constraints.duplicateKeys(spark.read.parquet(stagingDir), Seq("job_id")) == 0)
    assert(Constraints.nullViolations(spark.read.parquet(stagingDir), "job_id") == 0)
    assert(Constraints.fkViolations(
      spark.read.parquet(stagingDir), "date_id", dateDim, "date_sk") == 0)
    assert(Constraints.lengthViolations(spark.read.parquet(stagingDir),
      "job_title", 500) == 0)

    // ---- audit trail (§5.2-5): Running→Success transitions + counts ----
    val log = audit.log()
    assert(log.filter(lower($"status") === "success" &&
      $"process_name" === "staging_topcv_jobs").count() == 2) // two days
    assert(log.filter($"status" === "Running").count() >= 8)
    assert(log.filter($"duration_seconds" < 0).isEmpty)
    val stats = audit.processStats().collect()
    assert(stats.nonEmpty && stats.forall(_.getAs[Long]("failed_runs") == 0L))
    val daily = audit.dailySummary().collect()
    assert(daily.forall(_.getAs[Long]("n_failed") == 0L) && daily.length >= 2)
    val latest = audit.latestRuns()
    assert(latest.count() == latest.select("process_name").distinct().count(),
      "one latest row per process")

    // typed cleaning layer: same plan, compile-time fields
    val typed = StagingJob.cleanTyped(spark,
      RawZone.readPartition(spark, rawDir, "topcv_jobs", "2025-11-25"), dateDim)
    assert(typed.collect().forall(_.job_id.nonEmpty))
    assert(typed.filter((j: graft.model.JobPosting) => j.job_id == "j9")
      .head().min_salary_vnd.contains(40000000L))

    // ---- retention GC (30-day window in the reference; 1-day here) ----
    val before = audit.log().count()
    audit.expireOldLogs(retentionDays = 1,
      asOf = java.sql.Date.valueOf("2025-11-26"))
    val after = audit.log().count()
    assert(after < before && after > 0)
    assert(audit.log()
      .filter($"execution_date" < java.sql.Date.valueOf("2025-11-25")).isEmpty)
  }

  test("observed row counts on empty input: an extract with no rows for " +
      "the source and day, a staging day of only invalid rows and marts " +
      "over a fact with no active rows each count 0 and record Success") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val base = tmpDir("empty")
    val (rawDir, stagingDir, whDir, martDir) =
      (s"$base/raw", s"$base/staging", s"$base/wh", s"$base/mart")
    val audit = new Audit(spark, s"$base/audit",
      () => Timestamp.valueOf("2025-11-24 08:00:00"))
    val day = java.sql.Date.valueOf("2025-11-24")
    def successRows(process: String): Seq[Any] =
      audit.log().filter($"process_name" === process && $"status" === "Success")
        .select($"rows_processed").collect().map(_.get(0)).toSeq

    TimeLimits.failAfter(120.seconds) {
      // the feed carries only topcv_jobs rows
      assert(ExtractJob.run(spark, fixtureDay1, rawDir, audit,
        "jobsgo_jobs", "2025-11-24") == 0L)
      assert(successRows("extract_jobsgo_jobs") == Seq(0L))

      RawZone.write(fixtureDay1.filter($"job_id" === "" || $"job_title".isNull), rawDir)
      assert(StagingJob.run(spark, rawDir, stagingDir, DateDim.generate(spark), audit,
        "topcv_jobs", "2025-11-24") == 0L)
      assert(successRows("staging_topcv_jobs") == Seq(0L))

      spark.createDataFrame(java.util.Arrays.asList(org.apache.spark.sql.Row(
          "Kỹ sư dữ liệu", "Công ty A", "15 - 20 triệu", "Hà Nội", "2 năm",
          "hôm qua", "http://a/1", day, day, false)), graft.model.Schemas.warehouseJob)
        .write.parquet(whDir)
      val marts = DataMartJob.run(spark, whDir, martDir, audit, "2025-11-24")
      assert(marts == DataMartJob.ReferenceSpecs.map(_.name -> 0L).toMap)
      DataMartJob.ReferenceSpecs.foreach(spec =>
        assert(successRows(s"load_to_dm_${spec.name}") == Seq(0L)))
      assert(Dashboard.chartData(spark, martDir).values.forall(_.isEmpty))
    }
  }

  test("audit retention GC (cleanup_old_logs.sh:11): the retained window " +
      "is exact and a re-run is a no-op") {
    val audit = new Audit(spark, tmpDir("auditgc"), () => new Timestamp(7000L))
    for (d <- 1 to 5)
      audit.bracket(s"proc$d", java.sql.Date.valueOf(s"2025-11-0$d")) { 1L }
    // retention 2 days as of 11-05: survivors are EXACTLY the dates in
    // [asOf - 2d, asOf] — 03, 04, 05 (the reference keeps `-mtime -30`
    // files, i.e. newer-than-cutoff inclusive)
    audit.expireOldLogs(retentionDays = 2,
      asOf = java.sql.Date.valueOf("2025-11-05"))
    val kept = audit.log().select($"execution_date").distinct()
      .collect().map(_.getDate(0).toString).toSet
    assert(kept == Set("2025-11-03", "2025-11-04", "2025-11-05"),
      s"retained window not exact: $kept")
    // full rows survive intact (Running + Success per kept date)
    assert(audit.log().count() == 6L)
    // idempotent: a second GC at the same asOf changes nothing
    val snapshot = audit.log().collect().map(_.toString).toSet
    audit.expireOldLogs(retentionDays = 2,
      asOf = java.sql.Date.valueOf("2025-11-05"))
    assert(audit.log().collect().map(_.toString).toSet == snapshot,
      "re-run must be a no-op")
  }

  test("audit bracket records Failed with error snippet; recentFailures surfaces it") {
    val audit = new Audit(spark, tmpDir("audit"), () => new Timestamp(42000L))
    intercept[RuntimeException] {
      audit.bracket("boom", java.sql.Date.valueOf("2025-01-01")) {
        throw new RuntimeException("kaboom: detail " + "x" * 200)
      }
    }
    val failures = audit.recentFailures().collect()
    assert(failures.length == 1)
    assert(failures(0).getAs[String]("error_snippet").startsWith("kaboom"))
    assert(failures(0).getAs[String]("error_snippet").length <= 80) // F4 substring
    assert(!audit.isProcessDone("boom", java.sql.Date.valueOf("2025-01-01")))
  }

  test("expectations gate: a failing check aborts the warehouse load " +
      "inside the audit bracket; the warehouse is untouched; a passing " +
      "suite loads normally") {
    import graft.operators.Expectations._
    val base = tmpDir("gate")
    val (rawDir, stagingDir, whDir) =
      (s"$base/raw", s"$base/staging", s"$base/wh")
    val audit = new Audit(spark, s"$base/audit",
      () => Timestamp.valueOf("2025-11-24 08:00:00"))
    val dateDim = DateDim.generate(spark)
    ExtractJob.run(spark, fixtureDay1, rawDir, audit, "topcv_jobs", "2025-11-24")
    StagingJob.run(spark, rawDir, stagingDir, dateDim, audit,
      "topcv_jobs", "2025-11-24")

    // a check the fixture genuinely violates: every job_url is http://
    val e = intercept[IllegalArgumentException] {
      WarehouseLoadJob.run(spark, stagingDir, whDir, audit,
        "staging_topcv_jobs", "2025-11-24",
        expectations = Seq(MatchesRegex("job_url", "^https://"),
          parse("not_null:job_title"),
          parse("unique:job_title|company_name")))
    }
    assert(e.getMessage.contains("matches_regex(job_url)"),
      s"gate must name the failed check: ${e.getMessage}")
    assert(!new java.io.File(whDir).exists, "failed gate must not publish")
    assert(!audit.isProcessDone("load_to_wh",
      java.sql.Date.valueOf("2025-11-24")), "audit must record the failure")

    // green suite: load proceeds and publishes
    val n = WarehouseLoadJob.run(spark, stagingDir, whDir, audit,
      "staging_topcv_jobs", "2025-11-24",
      expectations = Seq(parse("not_null:job_title"),
        parse("unique:job_title|company_name"),
        parse("row_count_between:1:1000000")))
    assert(n == 2 && spark.read.parquet(whDir).count() == 2)
  }

  test("date dim: reference-equivalent range and derived columns") {
    val dim = DateDim.generate(spark).cache()
    assert(dim.count() == 7670L) // matches date_dim_without_quarter.csv
    assert(dim.columns.toSeq == Seq("date_sk", "full_date",
      "day_since_month_start", "day_of_week_calendar", "calendar_month_name",
      "day_of_month", "day_of_year", "week_of_year", "is_holiday", "day_type"),
      "column set == warehouse DDL create_warehouse_db.sql:31-43")
    // sk dense + deterministic
    assert(dim.agg(max($"date_sk")).head().getLong(0) == 7670L)
    // value parity with literal seed rows from create_warehouse_db.sql:
    //   (sk, date, day_since_month_start, dow, month, dom, doy, week, holiday, type)
    val seed = Seq(
      (1L, "2025-01-02", 2, "Thursday", "January", 2, 2, "0", "0", "Weekday"),
      (4L, "2025-01-05", 5, "Sunday", "January", 5, 5, "1", "0", "Weekend"),
      (31L, "2025-02-01", 1, "Saturday", "February", 1, 32, "4", "0", "Weekend"),
      (364L, "2025-12-31", 31, "Wednesday", "December", 31, 365, "52", "0", "Weekday"),
      (365L, "2026-01-01", 1, "Thursday", "January", 1, 1, "0", "0", "Weekday"),
      (1154L, "2028-02-29", 29, "Tuesday", "February", 29, 60, "9", "0", "Weekday"))
    seed.foreach { case (sk, d, dsm, dow, mon, dom, doy, wk, hol, typ) =>
      val row = dim.filter($"full_date" === d).head()
      assert(row.getAs[Long]("date_sk") == sk, s"date_sk of $d")
      assert(row.getAs[Int]("day_since_month_start") == dsm, s"dsm of $d")
      assert(row.getAs[String]("day_of_week_calendar") == dow, s"dow of $d")
      assert(row.getAs[String]("calendar_month_name") == mon, s"month of $d")
      assert(row.getAs[Int]("day_of_month") == dom, s"dom of $d")
      assert(row.getAs[Int]("day_of_year") == doy, s"doy of $d")
      assert(row.getAs[String]("week_of_year") == wk, s"week of $d")
      assert(row.getAs[String]("is_holiday") == hol, s"holiday of $d")
      assert(row.getAs[String]("day_type") == typ, s"day_type of $d")
    }
    dim.unpersist()
  }

  test("date dim importCsv == generate: faithful 10-col projection/rename (S14 import path)") {
    // synthesize a seed-shaped staging CSV: generate's values under the
    // SOURCE column names the reference importer reads
    // (import_date_dim.py:20-29), plus extra columns the projection must
    // drop (the real file carries ~18)
    val dir = tmpDir("datedim_csv")
    val gen = DateDim.generate(spark, "2025-01-02", "2026-12-31")
    gen.select(
        $"date_sk", $"full_date",
        $"day_since_month_start".as("day_since_2005"),
        $"day_of_week_calendar".as("day_of_week"),
        $"calendar_month_name".as("calendar_month"),
        $"day_of_month", $"day_of_year",
        $"week_of_year".as("year_week_sunday"),
        $"is_holiday".as("holiday"),
        $"day_type",
        lit("x").as("quarter_name"), lit(7).as("some_extra_col"))
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(dir)
    val imported = DateDim.importCsv(spark, dir)
    // names + types must match exactly; nullability legitimately differs
    // (a CSV source can carry nulls, a generated spine provably can't)
    assert(imported.schema.map(f => (f.name, f.dataType)) ==
      gen.schema.map(f => (f.name, f.dataType)),
      s"schema drift: ${imported.schema} vs ${gen.schema}")
    assert(imported.count() == gen.count())
    assert(imported.except(gen).isEmpty && gen.except(imported).isEmpty)
  }
}

/** The golden scrape fixture, shared with [[JobBudgetSpec]]. */
object PipelineSpec {

  def fixtureDay1(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      // source_id, job_id, title, company, salary, location, exp, posted, tags, url, logo, date, ts
      ("topcv_jobs", "j1", "Kỹ sư dữ liệu", "Công ty A", "15 - 20 triệu", "Hà Nội",
        "2 năm", "hôm qua", "spark, scala", "http://a/1", "", "2025-11-24", "2025-11-24 07:00:00"),
      ("topcv_jobs", "j2", "Lập trình viên Java", "Công ty B", "Thỏa thuận", "Đà Nẵng",
        null, "3 ngày trước", "java", "http://a/2", "", "2025-11-24", "2025-11-24 07:00:00"),
      ("topcv_jobs", "", "thiếu id — bị loại", "X", "1 triệu", "HCM",
        "", "hôm qua", "", "http://a/3", "", "2025-11-24", "2025-11-24 07:00:00"),
      ("topcv_jobs", "j3", null, "Y", "Tới 30 triệu", "HCM",
        "", "hôm qua", "", "http://a/4", "", "2025-11-24", "2025-11-24 07:00:00"),
      // duplicate job_id in one batch — upsert keeps one
      ("topcv_jobs", "j1", "Kỹ sư dữ liệu (cập nhật)", "Công ty A", "16 - 21 triệu", "Hà Nội",
        "2 năm", "hôm qua", "spark", "http://a/1", "", "2025-11-24", "2025-11-24 07:30:00"),
    ).toDF("source_id", "job_id", "job_title", "company_name", "salary", "location",
      "experience_required", "posted_time", "tags", "job_url", "company_logo",
      "extracted_date", "extracted_timestamp")
  }

  def fixtureDay2(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      // j1 salary changes → SCD2 expires day-1 version
      ("topcv_jobs", "j1", "Kỹ sư dữ liệu (cập nhật)", "Công ty A", "20 - 25 triệu", "Hà Nội",
        "2 năm", "hôm qua", "spark", "http://a/1", "", "2025-11-25", "2025-11-25 07:00:00"),
      // j2 unchanged attributes
      ("topcv_jobs", "j2", "Lập trình viên Java", "Công ty B", "Thỏa thuận", "Đà Nẵng",
        null, "4 ngày trước", "java", "http://a/2", "", "2025-11-25", "2025-11-25 07:00:00"),
      // brand-new job
      ("topcv_jobs", "j9", "DevOps", "Công ty C", "Trên 40 triệu", "Hà Nội",
        "3 năm", "vừa xong", "k8s", "http://a/9", "", "2025-11-25", "2025-11-25 07:00:00"),
    ).toDF("source_id", "job_id", "job_title", "company_name", "salary", "location",
      "experience_required", "posted_time", "tags", "job_url", "company_logo",
      "extracted_date", "extracted_timestamp")
  }
}
