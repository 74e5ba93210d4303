package graft.streaming

import graft.operators.HllSketch
import graft.sources.Zone
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming sketch maintenance: keep a persisted [[HllSketch]]
  * register table continuously up to date over an event stream — the
  * mergeable-sketch payoff. A COUNT(DISTINCT) can't be maintained
  * incrementally (a new batch may or may not add new members), but HLL
  * registers can: each micro-batch's register maxima max-merge into
  * the store, and the estimate over the store always equals the batch
  * estimate over everything ever seen (spec-asserted).
  *
  * Replay safety comes from the algebra, not the engine: max-merge is
  * IDEMPOTENT, so a micro-batch applied twice (checkpoint recovery,
  * manual re-run) leaves the sketch byte-identical — stronger than the
  * exactly-once bookkeeping additive counters would need.
  *
  * At 100 TB the store is groups × 2^p rows of three scalars —
  * kilobytes per group — while answering "distinct users all-time /
  * per dimension" without ever rescanning history.
  */
object SketchStream {

  /** Start the maintenance query: per micro-batch, sketch the batch and
    * max-merge into the parquet register table at `sketchDir`
    * (crash-safe swap via [[Zone.overwriteInPlace]]). Plain
    * [[CorpusStream.availableNow]], no marker gate: the merge is
    * idempotent.
    */
  def runHllMaintenance(spark: SparkSession, df: DataFrame,
      groupCols: Seq[String], valueCol: String, sketchDir: String,
      checkpointDir: String, p: Int = 8): StreamingQuery =
    CorpusStream.availableNow(df, checkpointDir) { (batch, _) =>
      val b = HllSketch.registers(batch, groupCols, valueCol, p)
      val merged = Zone.readIfExists(spark, sketchDir)
        .map(existing => HllSketch.merge(existing, b)(groupCols))
        .getOrElse(b)
      Zone.overwriteInPlace(spark, merged, sketchDir)
    }

  /** Read the maintained store's current estimates. */
  def estimates(spark: SparkSession, sketchDir: String,
      groupCols: Seq[String], p: Int = 8): DataFrame =
    HllSketch.estimate(Zone.readIfExists(spark, sketchDir)
      .getOrElse(sys.error(s"no sketch store at $sketchDir — run maintenance first")),
      groupCols, p)

  // ---- Count-Min maintenance ---------------------------------------------

  /** Maintenance for ADDITIVE sketches ([[graft.operators.CountMin]]
    * cells, [[graft.operators.QuantileHistogram]] buckets — any
    * cell-wise-summable table). Unlike HLL's max-merge, addition is
    * not idempotent — a replayed micro-batch would double-count.
    * Exactly-once comes from [[CorpusStream.exactlyOnce]] instead: each
    * micro-batch's cell table lands in its own `__batch_id` partition
    * ([[Zone.appendBatch]]) — replaying batch N rewrites partition N
    * with identical content (same input, same deterministic hashes),
    * never adds — and the `_committed` marker under `sketchRoot` is
    * written last. The read side sums cells across committed partitions
    * ([[foldAdditive]]) — the merge is deferred to read/compaction,
    * the two standard places a log-structured store folds.
    */
  def runAdditiveMaintenance(spark: SparkSession, df: DataFrame,
      sketchRoot: String, checkpointDir: String)(
      build: DataFrame => DataFrame): StreamingQuery =
    CorpusStream.exactlyOnce(spark, df, sketchRoot, checkpointDir) { (batch, bid) =>
      Zone.appendBatch(build(batch), sketchRoot, bid)
    }

  /** Current folded cell table of an additive store: sum `sumCol` per
    * key across COMMITTED batch partitions (reads restrict to
    * `marker + 1`, so a crash's orphan partition stays invisible until
    * its replay commits). Feed to `CountMin.estimate` /
    * `QuantileHistogram.quantiles`.
    */
  def foldAdditive(spark: SparkSession, sketchRoot: String,
      keyCols: Seq[String], sumCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    val upTo = Zone.lastCommittedBatch(spark, sketchRoot).map(_ + 1).getOrElse(0L)
    Zone.readBatchedBefore(spark, sketchRoot, upTo)
      .getOrElse(sys.error(s"no sketch store at $sketchRoot — run maintenance first"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col(sumCol)).as(sumCol))
  }

  /** [[runAdditiveMaintenance]] specialized to Count-Min cells. */
  def runCountMinMaintenance(spark: SparkSession, df: DataFrame,
      groupCols: Seq[String], valueCol: String, sketchRoot: String,
      checkpointDir: String, depth: Int = 4, width: Int = 1024): StreamingQuery =
    runAdditiveMaintenance(spark, df, sketchRoot, checkpointDir)(
      graft.operators.CountMin.sketch(_, groupCols, valueCol, depth, width))

  /** Current folded cell table of a Count-Min store. */
  def countMinCells(spark: SparkSession, sketchRoot: String,
      groupCols: Seq[String]): DataFrame =
    foldAdditive(spark, sketchRoot, groupCols ++ Seq("row", "bucket"), "cell_count")
}
