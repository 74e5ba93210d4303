package graft.sources

import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The file raw zone: Hive-partitioned CSV, layout
  * `raw/source_id=<src>/extracted_date=<yyyy-MM-dd>/part-*.csv` — the
  * Spark-native form of the reference's
  * `raw/source=<src>/date=<d>/<src>_<HHMMSS>.csv` (S3/S4/S5,
  * `extract/topcv_scraper_v5.py:198-201`, `staging/staging_loader.py:55-57`).
  *
  * Partition pruning replaces the reference's glob: a read filtered on
  * `(source_id, extracted_date)` scans exactly one directory — the same
  * I/O the glob did, but composable with Catalyst (check
  * `PartitionFilters` in `.explain`); [[readPartition]] lists only that
  * directory too. The reference's header-skip
  * concat "merge" step (S6, `run_all_scrapers.sh:99-133`) vanishes:
  * a multi-file read is already a union.
  */
object RawZone {

  /** Write one extract batch into its partition. Dynamic partition
    * overwrite keeps re-runs idempotent per (source, date) without
    * truncating sibling partitions (§2.9 exactly-once-ish).
    */
  def write(df: DataFrame, rawDir: String): Unit =
    df.write
      .partitionBy("source_id", "extracted_date")
      .option("header", "true")
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .csv(rawDir)

  // partition cols are directory-encoded, not in the files
  private val fileSchema = StructType(
    Schemas.rawScrape.filterNot(f => f.name == "source_id" || f.name == "extracted_date"))

  /** Read the raw zone with the pinned schema. `source_id` /
    * `extracted_date` come back as partition columns; filters on them
    * prune directories.
    */
  def read(spark: SparkSession, rawDir: String): DataFrame = csv(spark, rawDir, rawDir)

  /** `path` under `rawDir`, with the partition columns taken from the path. */
  private def csv(spark: SparkSession, rawDir: String, path: String): DataFrame =
    spark.read
      .schema(fileSchema)
      .option("header", "true")
      .option("basePath", rawDir)
      .csv(path)
      .withColumn("source_id", col("source_id").cast("string"))
      .withColumn("extracted_date", col("extracted_date").cast("string"))

  /** One partition: only its own directory is listed, so the read does
    * not grow with the zone's history (listing the whole zone adds a
    * parallel-listing job once a source holds more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` days).
    * A partition never written reads as an empty frame.
    */
  def readPartition(spark: SparkSession, rawDir: String,
      sourceId: String, date: String): DataFrame = {
    val dir = s"$rawDir/source_id=${escapePathName(sourceId)}/extracted_date=${escapePathName(date)}"
    if (Zone.exists(spark, dir)) csv(spark, rawDir, dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(fileSchema ++
      Seq(StructField("source_id", StringType), StructField("extracted_date", StringType))))
  }
}
