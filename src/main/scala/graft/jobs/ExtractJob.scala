package graft.jobs

import graft.control.Audit
import graft.model.Schemas
import graft.sources.RawZone
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extract stage (SURVEY.md §3.1): ingest one source feed for one
  * logical date into the raw zone, audited. The Selenium scrape itself
  * is out of engine scope (external feed); the engine's contract starts
  * at "a batch of scrape records arrives" — here as a DataFrame from
  * any source (fixture generator in tests, a real feed in production).
  *
  * The reference's lock-file + temp-cron retry collapses into the
  * audit-gate idempotence check + dynamic partition overwrite: re-runs
  * of the same (source, date) are either skipped (already Success) or
  * atomically replace exactly that partition.
  */
object ExtractJob {

  def run(spark: SparkSession, feed: DataFrame, rawDir: String,
      audit: Audit, sourceId: String, date: String): Long = {
    val day = java.sql.Date.valueOf(date)
    val processName = s"extract_$sourceId"
    if (audit.alreadySucceeded(processName, day)) 0L
    else audit.bracket(processName, day) {
      val expected = Schemas.rawScrape.fieldNames.toSet
      require(feed.columns.toSet == expected,
        s"feed schema mismatch: got ${feed.columns.toSet}, want $expected")
      // the dynamic overwrite replaces exactly this partition, so the
      // rows written are the partition's rows: counted as they land
      val (batch, written) = Audit.rowCount(feed
        .filter(col("source_id") === sourceId && col("extracted_date") === date))
      RawZone.write(batch, rawDir)
      written()
    }
  }
}
