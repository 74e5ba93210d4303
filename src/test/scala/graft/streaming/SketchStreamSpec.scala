package graft.streaming

import graft.SparkSpec
import graft.operators.HllSketch
import org.apache.spark.sql.functions._

class SketchStreamSpec extends SparkSpec with StreamReplay {
  import spark.implicits._

  test("streamed sketch == one-shot batch sketch; idempotent under replay") {
    val base = tmpDir("sketchstream")
    val in = s"$base/in"
    // two "days" of events arriving as separate files, overlapping users
    val day1 = (1 to 3000).map(i => ("g" + (i % 2), (i % 700).toLong))
    val day2 = (1 to 3000).map(i => ("g" + (i % 2), (i % 1100 + 300).toLong))
    day1.toDF("g", "user").repartition(2).write.parquet(in)
    day2.toDF("g", "user").repartition(2).write.mode("append").parquet(in)

    val stream = spark.readStream
      .schema("g STRING, user BIGINT")
      .option("maxFilesPerTrigger", 1) // several micro-batches, not one
      .parquet(in)
    val q = SketchStream.runHllMaintenance(spark, stream, Seq("g"), "user",
      s"$base/sketch", s"$base/ckpt")
    q.awaitTermination()

    val all = (day1 ++ day2).toDF("g", "user")
    val direct = HllSketch.approxCountDistinct(all, Seq("g"), "user")
      .orderBy("g").collect().toSeq
    val streamed = SketchStream.estimates(spark, s"$base/sketch", Seq("g"))
      .orderBy("g").collect().toSeq
    assert(streamed == direct)

    // replay: re-merging one day's sketch changes nothing (max idempotence)
    val replayed = HllSketch.merge(
      graft.sources.Zone.readIfExists(spark, s"$base/sketch").get,
      HllSketch.registers(day1.toDF("g", "user"), Seq("g"), "user"))(Seq("g"))
    val after = HllSketch.estimate(replayed, Seq("g")).orderBy("g").collect().toSeq
    assert(after == direct)
  }

  test("count-min maintenance: batch-partitioned cells; replay rewrites, never adds") {
    import graft.operators.CountMin
    val base = tmpDir("cmstream")
    val in = s"$base/in"
    val day1 = (1 to 2000).map(i => ("g", (i % 300).toLong))
    val day2 = (1 to 2000).map(i => ("g", (i % 500).toLong))
    day1.toDF("g", "k").repartition(1).write.parquet(in)
    day2.toDF("g", "k").repartition(1).write.mode("append").parquet(in)

    def start() = SketchStream.runCountMinMaintenance(spark,
      spark.readStream.schema("g STRING, k BIGINT")
        .option("maxFilesPerTrigger", 1).parquet(in),
      Seq("g"), "k", s"$base/cm", s"$base/ckpt")
    start().awaitTermination()

    val all = (day1 ++ day2).toDF("g", "k")
    val folded = SketchStream.countMinCells(spark, s"$base/cm", Seq("g"))
    val direct = CountMin.sketch(all, Seq("g"), "k")
    assert(folded.orderBy("row", "bucket").collect().toSeq ==
      direct.orderBy("row", "bucket").collect().toSeq)

    // crash after the newest batch's cells landed but before its
    // checkpoint commit and marker: the restart replays it, and the
    // replay overwrites its own __batch_id partition → store unchanged
    def marker = graft.sources.Zone.lastCommittedBatch(spark, s"$base/cm")
    assert(marker.contains(1L))
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/cm")
    assert(marker.isEmpty)
    start().awaitTermination()
    assert(marker.contains(1L), "the restart must replay and commit batch 1")
    val after = SketchStream.countMinCells(spark, s"$base/cm", Seq("g"))
    assert(after.orderBy("row", "bucket").collect().toSeq ==
      direct.orderBy("row", "bucket").collect().toSeq)
  }

  test("generic additive maintenance: streaming quantile histogram == batch") {
    import graft.operators.QuantileHistogram
    val base = tmpDir("qhstream")
    val in = s"$base/in"
    (1 to 4000).map(i => ("g", (i % 1000).toLong)).toDF("g", "v")
      .repartition(1).write.parquet(in)
    (1 to 4000).map(i => ("g", (i % 700 + 300).toLong)).toDF("g", "v")
      .repartition(1).write.mode("append").parquet(in)

    val stream = spark.readStream.schema("g STRING, v BIGINT")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = SketchStream.runAdditiveMaintenance(spark, stream, s"$base/qh",
      s"$base/ckpt")(
      QuantileHistogram.histogram(_, Seq("g"), col("v"), width = 10L))
    q.awaitTermination()

    val folded = SketchStream.foldAdditive(spark, s"$base/qh", Seq("g", "bucket"), "n")
    val all = ((1 to 4000).map(i => ("g", (i % 1000).toLong)) ++
      (1 to 4000).map(i => ("g", (i % 700 + 300).toLong))).toDF("g", "v")
    val direct = QuantileHistogram.histogram(all, Seq("g"), col("v"), 10L)
    assert(folded.orderBy("bucket").collect().toSeq ==
      direct.orderBy("bucket").collect().toSeq)
    val sq = QuantileHistogram.quantiles(folded, Seq("g"), 10L, Seq(50, 99)).head
    val dq = QuantileHistogram.quantiles(direct, Seq("g"), 10L, Seq(50, 99)).head
    assert(sq == dq)
  }
}
