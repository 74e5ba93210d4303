package graft.control

import org.apache.spark.sql.SparkSession

/** Cluster-scale session defaults — the sizing rules this engine
  * assumes, in one place instead of scattered across submit scripts.
  *
  * These are the production settings for a real cluster (applied by
  * [[graft.GraftSession.builder]]), derived from two inputs that
  * actually matter: total executor cores and the largest table's size.
  *
  *  - `shuffle.partitions`: ~2 partitions per core, floored at the
  *    count that keeps a full-table shuffle under ~`targetPartitionMB`
  *    per partition — partitions must fit in executor memory at the
  *    TARGET scale, not today's (SURVEY.md "spill-aware").
  *  - AQE on with coalescing + skew-join: runtime re-plan fixes what
  *    static sizing gets wrong (verified engaging in SaltingSpec).
  *  - `files.maxPartitionBytes` 128m: scan-side parallelism control.
  *  - broadcast threshold 64m: every dimension in this schema
  *    (region/nation/date_dim/centroid codebooks/plane matrices) is
  *    far below it; fact-fact joins stay shuffled.
  */
object SessionDefaults {

  /** The computed settings, inspectable without building a session. */
  def settings(
      totalCores: Int,
      largestTableGB: Long,
      targetPartitionMB: Int = 200): Map[String, String] = {
    require(totalCores > 0 && largestTableGB >= 0)
    val byCores = totalCores * 2
    val bySize = (largestTableGB * 1024L) / targetPartitionMB
    val shufflePartitions = math.max(byCores.toLong, bySize).min(200000L)
    Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // AQE may re-plan cached frames: a persisted bounded frame would
      // otherwise pin its pre-AQE wide partitioning, and every
      // downstream stage over it pays a full task wave for a handful
      // of rows (measured on the pruned batch BM25 probe)
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "134217728",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      "spark.sql.session.timeZone" -> "UTC")
  }

  def configure(
      builder: SparkSession.Builder,
      totalCores: Int,
      largestTableGB: Long,
      targetPartitionMB: Int = 200): SparkSession.Builder =
    settings(totalCores, largestTableGB, targetPartitionMB)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
}
