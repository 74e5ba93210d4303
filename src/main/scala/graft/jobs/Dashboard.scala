package graft.jobs

import graft.model.Schemas
import graft.sources.Zone
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dashboard data layer (`datamart/app.py:48-60`): one
  * (group, value) frame per mart table, ready for a chart renderer.
  * The reference's Flask/Plotly rendering is presentation, not engine —
  * the engine's contract ends at these frames (S15: mart reads +
  * driver-side collect).
  */
object Dashboard {

  /** The four reference charts (`config.xml:86-123`): one
    * `(mart, group column, value column)` per [[DataMartJob.ReferenceSpecs]]
    * mart, so the chart list cannot drift from the marts it reads.
    */
  val Charts: Seq[(String, String, String)] =
    DataMartJob.ReferenceSpecs.map(s => (s.name, s.groupBy.head, s.metricNames.head))

  /** Chart frames keyed by mart name; `topN` keeps the payload
    * driver-safe (TakeOrderedAndProject — never a full collect of an
    * unbounded mart). Marts are read through [[Zone.readIfExists]] with
    * their schema pinned: one job per chart, and a mart whose
    * [[DataMartJob]] swap was cut short is promoted before the read.
    */
  def chartData(spark: SparkSession, martDir: String, topN: Int = 20): Map[String, DataFrame] =
    Charts.map { case (table, groupCol, valueCol) =>
      table -> Zone.readIfExists(spark, s"$martDir/$table", Schemas.referenceMart(groupCol))
        .getOrElse(sys.error(s"mart $table missing under $martDir — run DataMartJob first"))
        .select(col(groupCol), col(valueCol))
        .orderBy(col(valueCol).desc, col(groupCol))
        .limit(topN)
    }.toMap

  /** CUBE mart over the event stream: every (event_type × day)
    * combination PLUS each dimension's subtotals and the grand total
    * in one pass — Spark's `cube` plans a single scan + Expand
    * (factor 4 = the grouping-set count), so subtotals cost one
    * aggregate, not four queries. `grouping_id` labels which
    * dimensions a row aggregates over (0 = detail cell, 3 = grand
    * total), `n_users` is exact distinct per cell — NOT additive
    * across cells, which is precisely why the cube materializes every
    * subtotal instead of letting the dashboard roll detail rows up.
    */
  def cubeDaily(events: DataFrame): DataFrame =
    events.withColumn("day", to_date(col("ts")))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"),
        // grouping_id only resolves INSIDE the cube's aggregate list
        grouping_id().cast("int").as("gid"))

  /** Pivot mart: one row per day, one count column per event type —
    * the wide frame a chart consumes directly. `types` is EXPLICIT
    * (the pivot values embed in the plan, no extra distinct-scan job,
    * and the output schema is stable when a type is absent that day —
    * its column is 0, not missing).
    */
  def pivotDaily(events: DataFrame, types: Seq[String]): DataFrame =
    events.withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      // a type with no events that day pivots to NULL (its aggregate
      // never ran); the mart contract is a dense 0
      .na.fill(0L, types)
}
