package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import java.sql.Timestamp

/** Structured Streaming surface — the reference's cron micro-batch +
  * manual watermark columns (`extract/create_control_db_v5.sql:43-44`,
  * SURVEY.md §2.9) re-expressed natively:
  *
  *  - file-source → transforms → sink with `Trigger.AvailableNow`
  *    (process-everything-then-stop = the daily batch);
  *  - `withWatermark` replaces the hand-rolled watermark bookkeeping;
  *  - tumbling/sliding windowed aggregates (same plan as
  *    SparkEntry.q19's batch twin);
  *  - sessionization via `flatMapGroupsWithState` — the custom-state
  *    escape hatch for semantics windows can't express.
  */
object EventStream {

  /** Schema matching `events.parquet` after ts normalization. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionUpdate(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Per-user accumulator (public: Spark's state encoder codegen needs
    * constructor access).
    */
  case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Read a parquet directory as a stream (file source discovers new
    * files per micro-batch — the raw-zone partition feed at scale).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .parquet(dir)

  /** Tumbling 1-hour aggregate with a 2-hour watermark: late events
    * inside the watermark still merge; state for closed windows is
    * dropped — bounded memory at any scale.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Per-user session windows (30-minute inactivity gap) via
    * `flatMapGroupsWithState` — emits a row when a session closes.
    * State is one small struct per active user: O(active users), not
    * O(events).
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): Dataset[SessionUpdate] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events.as[Event]
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total))
          } else {
            // Classic interval merge over (stored session ∪ new events),
            // sorted by start: an interval merges into the current one
            // iff it starts within `gap` of the current end. This gives
            // batch (gaps-and-islands) semantics for any arrival order —
            // a late event BEFORE the stored session's reach becomes its
            // own (immediately closed) session instead of being glued on
            // (the stored interval itself can no longer be split; that's
            // the inherent incremental-vs-batch approximation).
            val intervals =
              (state.getOption.toList ++
                rows.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1, e.value)))
                .sortBy(s => (s.start, s.last))
            var closed = List.empty[SessionUpdate]
            var cur: Option[SessionState] = None
            intervals.foreach { iv =>
              cur match {
                case Some(s) if iv.start - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.last, iv.last),
                    s.n + iv.n, s.total + iv.total))
                case Some(s) =>
                  closed ::= SessionUpdate(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, s.total)
                  cur = Some(iv)
                case None =>
                  cur = Some(iv)
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Batch-mode twin of [[sessionize]] for oracle-style testing: the
    * classic gaps-and-islands window rewrite (no state API).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val marked = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .drop("session_no")
  }

  /** Stream–static enrichment: join the event stream against a static
    * dimension (broadcast per micro-batch — the streaming counterpart
    * of J4's replicated lookup). Static side re-reads per batch, so a
    * slowly-changing dimension refreshes without restarting the query.
    */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey), "left_outer")
      .drop(dimKey)

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exact]] for a continuously-arriving
    * corpus: keep the first occurrence of each key (e.g. a content
    * digest `md5(text)`), drop every later one that arrives within the
    * watermark of the first. `dropDuplicatesWithinWatermark` keys the
    * state store on `keys` only (not the event time), so two
    * byte-identical documents with different arrival timestamps still
    * collapse; state for keys older than the watermark is evicted —
    * bounded memory at any scale. Semantic trades vs the batch
    * [[graft.operators.Dedup.exact]]: a duplicate arriving later than
    * the watermark horizon re-admits, and *which* row represents a key
    * is first-seen order (within one micro-batch that is partition
    * arrival order, not necessarily the earliest event time — batch
    * dedup's deterministic min-id canonical pick needs the whole group
    * in hand, which is exactly what a stream never has).
    */
  def dedupStream(df: DataFrame, keys: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Run a streaming query to completion over existing files
    * (Trigger.AvailableNow = the daily cron batch, exactly-once on the
    * checkpoint).
    */
  def runAvailableNow(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-stream time-interval join: each click matched to the same
    * user's views in the preceding `windowMinutes` — the streaming twin
    * of SparkEntry.q61 (bit-identical output columns; equivalence
    * spec-asserted). Both sides carry watermarks and the join condition
    * bounds event time in BOTH directions, so Spark can expire
    * buffered state for rows that can no longer match — without the
    * two-sided bound the state store grows forever (the classic
    * stream-stream join trap at production scale).
    */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
      watermark: String = "30 minutes", windowMinutes: Int = 10): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id"),
      col("ts").as("click_ts")).withWatermark("click_ts", watermark)
    val v = views.select(col("event_id").as("view_id"),
      col("user_id").as("v_user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    c.join(v,
        col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("click_ts") < col("view_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("micros_between"))
  }

  /** Streaming upsert sink: each micro-batch merges into the parquet
    * table via the column-selective [[graft.operators.Upsert]] — the
    * streaming twin of the staging layer's `ON DUPLICATE KEY UPDATE`
    * (SURVEY.md §2.7 U3). `foreachBatch` is the escape hatch for sinks
    * Structured Streaming can't express declaratively (an upsert is
    * neither append nor complete). It runs through plain
    * [[CorpusStream.availableNow]], not the marker-gated
    * [[CorpusStream.exactlyOnce]]: a replayed batch re-merges the same
    * rows onto the same keys — idempotent by construction
    * (last-writer-wins on identical input).
    */
  def runUpsert(spark: SparkSession, df: DataFrame, tableDir: String,
      checkpointDir: String, key: String, refreshCols: Seq[String],
      orderCol: String): StreamingQuery =
    CorpusStream.availableNow(df, checkpointDir) { (batch, _) =>
      val existing = graft.sources.Zone.readIfExists(spark, tableDir)
        .getOrElse(batch.limit(0))
      val merged = graft.operators.Upsert(
        existing, batch, key, refreshCols,
        incomingOrder = Seq(org.apache.spark.sql.functions.col(orderCol).desc))
      graft.sources.Zone.overwriteInPlace(spark, merged, tableDir)
    }
}
