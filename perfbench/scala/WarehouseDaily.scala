package perfbench

import graft.control.Audit
import graft.jobs.{Dashboard, DataMartJob, DateDim, ExtractJob, StagingJob, WarehouseLoadJob}
import graft.model.Schemas
import graft.operators.Scd2Merge
import graft.sources.RawZone
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import java.sql.{Date, Timestamp}
import scala.collection.mutable

/** Seeded two-source scrape feed for the warehouse pipeline, shaped like
  * the reference's daily TopCV/JobsGO extracts: Vietnamese salary and
  * relative posted-time strings that `CleaningFunctions` parses, and in
  * every batch fixed shares of new jobs, re-scraped unchanged jobs,
  * salary churn (which expires an SCD2 version), duplicate `job_id`s
  * and invalid rows (empty id or blank title).
  */
final class ScrapeFeed(seed: Long, perSource: Int) {
  import ScrapeFeed._
  private val pools = Sources.map(_._1 -> mutable.ArrayBuffer[Job]()).toMap
  val shapes = mutable.ArrayBuffer[Shape]()

  /** Rows of `day` (index `d` from 0) for both sources. */
  def day(d: Int, date: String): Seq[Row] = Sources.flatMap { case (src, prefix) =>
    val r = new scala.util.Random(seed * 1000003L + d * 31L + src.hashCode)
    val pool = pools(src)
    val fresh = if (pool.isEmpty) perSource else (perSource * NewShare).toInt
    val churn = if (pool.isEmpty) 0 else (perSource * ChurnShare).toInt
    val same = perSource - fresh - churn
    val old = r.shuffle(pool.indices.toVector).take(churn + same)
    val churned = old.take(churn).map(pool(_))
    churned.foreach { j =>
      var s = salary(r); while (s == j.salary) s = salary(r); j.salary = s
    }
    val created = (0 until fresh).map { _ =>
      val j = Job(pool.size, prefix, salary(r), posted(r), Locations(r.nextInt(Locations.size)),
        Experience(r.nextInt(Experience.size)), Seq("spark", "sql", "scala", "excel", "sales")
          .filter(_ => r.nextBoolean()).mkString(", "))
      pool += j
      j
    }
    val batch = r.shuffle(churned ++ old.drop(churn).map(pool(_)) ++ created)
    def row(j: Job, id: String, title: String, ts: Int): Row = Row(src, id, title, j.company,
      j.salary, j.location, j.exp, j.posted, j.tags, s"https://example.vn/viec-lam/${j.id}",
      "", date, f"$date ${ts / 3600}%02d:${ts / 60 % 60}%02d:${ts % 60}%02d")
    val rows = batch.zipWithIndex.map { case (j, i) => row(j, j.id, j.title, 3600 + 2 * i) }
    val nDup = (perSource * DupShare).toInt
    // an earlier-timestamped copy: last-writer-wins keeps the original
    val dups = batch.take(nDup).map(j => row(j, j.id, j.title, 3599))
    val nBad = (perSource * InvalidShare).toInt
    val bad = (0 until nBad).map { i =>
      val j = batch(i)
      if (i % 2 == 0) row(j, "", j.title, 7200 + i) else row(j, s"${j.id}-x", "  ", 7200 + i)
    }
    shapes += Shape(src, date, rows.size + dups.size + bad.size, batch.size, fresh, churn, nDup, nBad)
    r.shuffle(rows ++ dups ++ bad)
  }
}

object ScrapeFeed {
  val Sources = Seq("topcv_jobs" -> "tcv", "jobsgo_jobs" -> "jgo")
  val NewShare = 0.40
  val ChurnShare = 0.15
  val DupShare = 0.04
  val InvalidShare = 0.02

  /** What one (source, day) batch is made of — the checks' expectations. */
  final case class Shape(source: String, day: String, rows: Int, distinct: Int,
      fresh: Int, churn: Int, dups: Int, invalid: Int)

  private val Roles = Seq("Kỹ sư dữ liệu", "Lập trình viên Java", "Chuyên viên phân tích",
    "Kế toán tổng hợp", "Nhân viên kinh doanh", "Kỹ sư DevOps", "Thiết kế đồ họa",
    "Chuyên viên tuyển dụng", "Lập trình viên Python", "Quản lý dự án",
    "Nhân viên chăm sóc khách hàng", "Kỹ sư kiểm thử", "Trưởng nhóm backend",
    "Chuyên viên marketing", "Kỹ sư mạng", "Nhân viên hành chính",
    "Lập trình viên frontend", "Kỹ sư học máy", "Biên dịch viên", "Kiến trúc sư phần mềm",
    "Nhân viên kho", "Giáo viên tiếng Anh", "Dược sĩ", "Kỹ sư xây dựng", "Điều dưỡng")
  private val Levels = Seq("", "Junior", "Senior", "Trưởng phòng")
  private val Companies = Seq("FPT", "Viettel", "VNG", "Tiki", "MoMo", "Shopee", "VPBank",
    "Techcombank", "Vinamilk", "Masan", "Sao Mai", "Hòa Phát", "Bách Khoa", "Đông Á")
  private val Locations = Seq("Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Hải Phòng", "Cần Thơ",
    "Bình Dương", "Đồng Nai", "Huế", "Nha Trang", "Quảng Ninh")
  private val Experience = Seq("Không yêu cầu", "Dưới 1 năm", "1 năm", "2 năm", "3 năm",
    "Trên 5 năm", "")

  private def salary(r: scala.util.Random): String = r.nextInt(6) match {
    case 0 => "Thỏa thuận"
    case 1 => s"Tới ${10 + r.nextInt(40)} triệu"
    case 2 => s"Trên ${10 + r.nextInt(40)} triệu"
    case 3 | 4 => val lo = 5 + r.nextInt(30); s"$lo - ${lo + 1 + r.nextInt(15)} triệu"
    case _ => val lo = 500 + 100 * r.nextInt(15); f"${lo / 1000},${lo % 1000}%03d - ${(lo + 500) / 1000},${(lo + 500) % 1000}%03d USD"
  }
  private def posted(r: scala.util.Random): String = r.nextInt(3) match {
    case 0 => "hôm qua"
    case 1 => s"${2 + r.nextInt(5)} ngày trước"
    case _ => s"${1 + r.nextInt(3)} tuần trước"
  }

  private final case class Job(no: Int, prefix: String, var salary: String, posted: String,
      location: String, exp: String, tags: String) {
    val id: String = f"$prefix-$no%06d"
    // (title, company) is unique per job: 100 titles per company name
    val title: String = Seq(Roles((no % 100) % 25), Levels((no % 100) / 25)).filter(_.nonEmpty).mkString(" ")
    val company: String = s"Công ty ${Companies(no / 100 % Companies.size)} ${prefix.toUpperCase}${no / 100}"
  }
}

/** `warehouse_daily`: the paper's four-layer pipeline, one audited day
  * per round. Unit a = one day from both extracts through staging, the
  * SCD2 load and the four marts; unit b = one dashboard read (the four
  * chart frames collected); unit c = one read of the control plane: the
  * readiness gate on the day's warehouse load (`Audit.isProcessDone`)
  * and the per-process monitoring view (`Audit.processStats`). Each day
  * is followed by three dashboard reads and five control-plane reads.
  */
final class WarehouseDaily extends Workload {
  val PerSource = 760
  val Reads = 3
  val Polls = 5
  val Start = Date.valueOf("2025-11-01")
  private var feed: ScrapeFeed = _
  private var days = 0
  private var dateDim: org.apache.spark.sql.DataFrame = _
  private var audit: Audit = _
  private var next = 0
  private val written = mutable.ArrayBuffer[(Long, Long)]()
  private def date(d: Int) = new Date(Start.getTime + d * 86400000L).toString
  private def dirs(c: Ctx) = Seq("raw", "staging", "warehouse", "mart", "audit").map(c.sub)

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    feed = new ScrapeFeed(c.seed, PerSource)
    // one history day plus enough for the timed window (a day takes > 5 s)
    days = 1 + (c.seconds / 5).ceil.toInt + 1
    val rows = (0 until days).flatMap(d => feed.day(d, date(d)))
    dateDim = DateDim.generate(spark, date(0), date(days + 7)).cache()
    c.phase("inputs")(Par(
      () => spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.rawScrape)
        .withColumn("feed_day", col("extracted_date"))
        .write.partitionBy("feed_day").parquet(c.sub("feed")),
      () => dateDim.count()))
    audit = new Audit(spark, c.sub("audit"), () => new Timestamp(System.currentTimeMillis()))
    c.report("feed") = Map("days" -> days, "rows_per_source_day" -> PerSource,
      "new_share" -> ScrapeFeed.NewShare, "churn_share" -> ScrapeFeed.ChurnShare,
      "duplicate_share" -> ScrapeFeed.DupShare, "invalid_share" -> ScrapeFeed.InvalidShare)
    c.phase("warm_up")(round(c, -1)) // the history day
  }

  def round(c: Ctx, i: Int): Unit = {
    require(next < days, s"feed has only $days days")
    val (spark, day) = (c.spark, date(next)); next += 1
    val out0 = dirs(c).map(Host.du).reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    val upstream = s"staging_${ScrapeFeed.Sources.last._1}"
    c.unit("a") {
      val batch = spark.read.parquet(s"${c.dir}/feed/feed_day=$day")
      for ((src, _) <- ScrapeFeed.Sources)
        c.rec.span("jobs.extract")(ExtractJob.run(spark, batch, s"${c.dir}/raw", audit, src, day))
      for ((src, _) <- ScrapeFeed.Sources)
        c.rec.span("jobs.staging")(StagingJob.run(spark, s"${c.dir}/raw", s"${c.dir}/staging",
          dateDim, audit, src, day))
      c.rec.span("jobs.warehouse_load")(WarehouseLoadJob.run(spark, s"${c.dir}/staging",
        s"${c.dir}/warehouse", audit, upstream, day))
      c.rec.span("jobs.datamart")(DataMartJob.run(spark, s"${c.dir}/warehouse",
        s"${c.dir}/mart", audit, day))
    }
    val out1 = dirs(c).map(Host.du).reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    if (c.timing) written += ((out1._1 - out0._1, out1._2 - out0._2))
    // the reads are short enough that the first few still run JIT-cold:
    // set-up warms them, and the timed window reports medians
    val (reads, polls) = if (c.timing) (Reads, Polls) else (1, 2)
    for (_ <- 1 to reads) c.unit("b") {
      Dashboard.chartData(spark, s"${c.dir}/mart").values.foreach(_.collect())
    }
    for (_ <- 1 to polls) c.unit("c") {
      c.check(audit.isProcessDone("load_to_wh", Date.valueOf(day)), s"$day: load_to_wh not done")
      audit.processStats().collect()
    }
  }

  def finish(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val ran = (0 until next).map(date)
    val timed = ran.drop(1)
    val shapes = feed.shapes.filter(s => ran.contains(s.day))
    val sentinel = Date.valueOf(Scd2Merge.Sentinel).toString
    val wh = spark.read.parquet(s"${c.dir}/warehouse")
    // rows per `expired` value: the sentinel counts the active versions
    val byExpired = wh.groupBy($"expired".cast("string")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nActive = byExpired.getOrElse(sentinel, 0L)
    val jobsSeen = shapes.map(_.fresh).sum.toLong
    c.check(nActive == jobsSeen, s"active fact rows $nActive != jobs generated $jobsSeen")
    c.check(wh.filter($"expired" === lit(Date.valueOf(sentinel)))
        .groupBy("job_title", "company_name").count().filter($"count" > 1).isEmpty,
      "a natural key has more than one active version")
    for (d <- ran) {
      val want = shapes.filter(_.day == d).map(_.churn).sum.toLong
      c.check(byExpired.getOrElse(d, 0L) == want,
        s"$d: ${byExpired.getOrElse(d, 0L)} versions expired, churn generated $want")
    }
    val martTotals = DataMartJob.ReferenceSpecs.map(spec =>
        spark.read.parquet(s"${c.dir}/mart/${spec.name}").agg(sum($"total_jobs").as("n"))
          .select(lit(spec.name).as("mart"), $"n"))
      .reduce(_ unionByName _).collect()
    for (r <- martTotals)
      c.check(r.getLong(1) == nActive, s"${r.getString(0)} total_jobs ${r.getLong(1)} != active rows $nActive")
    val log = audit.log().select($"process_name", $"execution_date".cast("string"),
      lower($"status"), $"rows_processed").collect()
    val bad = log.count(r => r.getString(2) != "success" && r.getString(2) != "running")
    c.check(bad == 0, s"$bad audit rows neither Running nor Success")
    val success = log.filter(_.getString(2) == "success")
    val brackets = ran.size * (2 * ScrapeFeed.Sources.size + 1 + DataMartJob.ReferenceSpecs.size)
    c.check(success.length == brackets, s"${success.length} Success audit rows, expected $brackets")
    val staged = success.filter(_.getString(0).startsWith("staging_"))
      .map(r => (r.getString(0).stripPrefix("staging_"), r.getString(1)) -> r.getLong(3)).toMap
    val raw = RawZone.read(spark, s"${c.dir}/raw")
    val rawN = raw.groupBy("source_id", "extracted_date").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // clean() drops source_id; the feed's job URLs carry the source prefix
    val prefixes = ScrapeFeed.Sources.map(_.swap).toMap
    val cleanN = StagingJob.clean(raw, dateDim)
      .groupBy(regexp_extract($"job_url", "viec-lam/([a-z]+)-", 1), $"extracted_date".cast("string"))
      .count().collect().map(r => (prefixes(r.getString(0)), r.getString(1)) -> r.getLong(2)).toMap
    var rejectedTimed = 0L
    for (s <- shapes) {
      val k = (s.source, s.day)
      val rejected = rawN.getOrElse(k, 0L) - cleanN.getOrElse(k, 0L)
      if (timed.contains(s.day)) rejectedTimed += rejected
      c.check(rawN.getOrElse(k, -1L) == s.rows, s"$k: ${rawN.getOrElse(k, -1L)} raw rows, generated ${s.rows}")
      c.check(rejected == s.invalid, s"$k: $rejected rows rejected, generated ${s.invalid} invalid")
      c.check(staged.getOrElse(k, -1L) == s.distinct, s"$k: staging loaded ${staged.getOrElse(k, -1L)}, want ${s.distinct}")
    }
    val n = timed.size.max(1).toDouble
    c.counts("operators.scd2_expired") = timed.map(d => byExpired.getOrElse(d, 0L)).sum / n
    c.counts("operators.rows_rejected") = rejectedTimed / n
    c.counts("sources.bytes_written") = written.map(_._1).sum / n
    c.counts("sources.files") = written.map(_._2).sum / n
    c.counts("control.audit_files") = Host.du(s"${c.dir}/audit")._2.toDouble
    val inBytes = ran.map(d => Host.du(s"${c.dir}/feed/feed_day=$d")._1).sum
    c.counts("sources.stored_bytes_per_input_byte") =
      dirs(c).map(d => Host.du(d)._1).sum.toDouble / inBytes
    c.report("shape") = shapes.map(s => Map("source" -> s.source, "day" -> s.day, "rows" -> s.rows,
      "distinct" -> s.distinct, "new" -> s.fresh, "churn" -> s.churn, "duplicates" -> s.dups,
      "invalid" -> s.invalid))
    c.report("active_rows") = nActive
  }
}
