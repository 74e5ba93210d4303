package graft.jobs

import graft.{SparkSpec, Tables}
import graft.control.Audit
import graft.model.Schemas
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

class DashboardSpec extends SparkSpec {
  import spark.implicits._

  private def events = Tables.events(spark, "/root/testdata/sf0.001")

  test("cubeDaily: additive metrics roll up exactly from detail cells " +
      "to every subtotal; exact distincts deliberately do NOT") {
    val cube = Dashboard.cubeDaily(events).cache()
    try {
      val detail = cube.filter($"gid" === 0)
      // grouping_id is MSB-first over cube(event_type, day):
      // gid 1 = day aggregated away (per-type rollup), 2 = per-day
      val byType = cube.filter($"gid" === 1)
      val grand = cube.filter($"gid" === 3).head()
      // n_events is additive: each subtotal equals the sum of its details
      val rolled = detail.groupBy("event_type")
        .agg(sum("n_events").as("want")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      byType.collect().foreach { r =>
        assert(r.getAs[Long]("n_events") == rolled(r.getAs[String]("event_type")))
      }
      assert(grand.getAs[Long]("n_events") == rolled.values.sum)
      // n_users is NOT additive (same user on many days) — the reason
      // the cube materializes subtotals at all
      val naive = detail.groupBy("event_type").agg(sum("n_users").as("s"))
        .agg(max("s")).head().getLong(0)
      val trueMax = byType.agg(max("n_users")).head().getLong(0)
      assert(trueMax < naive, "distinct users must be < summed per-day distincts")
      // exactly 4 grouping sets; gid labels them
      assert(cube.select("gid").distinct().as[Int].collect().sorted.toSeq ==
        Seq(0, 1, 2, 3))
    } finally cube.unpersist()
  }

  test("pivotDaily: dense stable schema — absent types are 0 columns, " +
      "row counts reconcile with the unpivoted aggregate") {
    val types = Seq("click", "error", "purchase", "signup", "view", "nosuch")
    val p = Dashboard.pivotDaily(events, types)
    assert(p.columns.toSeq == "day" +: types, "explicit values pin the schema")
    assert(p.agg(sum("nosuch")).head().getLong(0) == 0L,
      "a type with no events is a dense zero column, not a missing one")
    val total = types.map(t => p.agg(sum(col(t))).head().getLong(0)).sum
    assert(total == events.count())
  }

  test("a mart whose swap stopped between delete and rename is promoted " +
      "on the next dashboard read") {
    val base = tmpDir("mart_swap")
    val (whDir, martDir) = (s"$base/wh", s"$base/mart")
    val (day, active) = (Date.valueOf("2025-11-25"),
      Date.valueOf(graft.operators.Scd2Merge.Sentinel))
    def job(title: String, company: String, location: String) =
      Row(title, company, "Thỏa thuận", location, "2 năm", "hôm qua",
        s"http://a/$title", day, active, false)
    spark.createDataFrame(java.util.Arrays.asList(
        job("Kỹ sư dữ liệu", "Công ty A", "Hà Nội"),
        job("DevOps", "Công ty A", "Đà Nẵng"),
        job("Lập trình viên Java", "Công ty B", "Hà Nội")), Schemas.warehouseJob)
      .write.parquet(whDir)
    DataMartJob.run(spark, whDir, martDir,
      new Audit(spark, s"$base/audit", () => new Timestamp(0L)), day.toString)
    def chart() = Dashboard.chartData(spark, martDir)("agg_job_by_company")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(chart() == Seq("Công ty A" -> 2L, "Công ty B" -> 1L))
    // the swap deleted the old mart, then stopped before the rename
    val (target, temp) = (Paths.get(martDir, "agg_job_by_company"),
      Paths.get(martDir, "agg_job_by_company__rewrite"))
    Files.move(target, temp)
    assert(chart() == Seq("Công ty A" -> 2L, "Công ty B" -> 1L))
    assert(Files.isDirectory(target) && !Files.exists(temp))
  }
}
