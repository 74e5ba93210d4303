package graft.sources

import graft.SparkSpec
import graft.model.Schemas
import org.apache.spark.sql.Row

/** [[RawZone.readPartition]] lists its own partition only, so a staging
  * read does not grow with the raw zone's history.
  */
class RawZoneSpec extends SparkSpec {

  private val days = (1 to 40).map(d => java.time.LocalDate.of(2025, 10, 1).plusDays(d).toString)

  private def row(source: String, day: String, id: String) = Row(source, id, s"title $id",
    "Công ty A", "10 - 15 triệu", "Hà Nội", "1 năm", "hôm qua", "spark", s"http://a/$id", "",
    day, s"$day 08:00:00")

  test("reading one of 40 date partitions runs no listing job and keeps the " +
      "partition columns; a missing partition reads empty") {
    val rawDir = tmpDir("rawzone") + "/raw"
    val rows = days.flatMap(d => Seq(row("topcv_jobs", d, s"t-$d"), row("jobsgo_jobs", d, s"j-$d")))
    RawZone.write(spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.rawScrape),
      rawDir)
    // more date directories than Spark lists serially
    assert(days.size > spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)

    val (df, listing) = jobs(RawZone.readPartition(spark, rawDir, "topcv_jobs", days(7)))
    assert(listing == 0, "reading one partition started a Spark job before any action")
    assert(df.columns.toSeq == RawZone.read(spark, rawDir).columns.toSeq)
    val Array(r) = df.collect()
    assert((r.getAs[String]("source_id"), r.getAs[String]("extracted_date"),
      r.getAs[String]("job_id")) == ("topcv_jobs", days(7), s"t-${days(7)}"))

    val missing = RawZone.readPartition(spark, rawDir, "topcv_jobs", "2026-01-01")
    assert(missing.schema == df.schema && missing.isEmpty)
  }
}
