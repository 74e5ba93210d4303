package perfbench

import graft.SparkEntry
import graft.operators.Dedup
import graft.streaming.CorpusStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable

/** `query_mix`: the corpus side of the system in one session. Unit a =
  * one pass over the `chain` group of `SparkEntry.queries` (operators
  * that run many small driver-blocking jobs); unit b = one pass over the
  * `scan` group (few jobs, task-CPU bound); unit c = one daily slice of
  * new documents landing as a file that the near-dup streaming twin
  * (`CorpusStream.runIncrementalNearDup`) consumes as one `AvailableNow`
  * micro-batch. The queries read one fixed set of tables, so each result
  * is checked against a pinned row count and content hash; the seed sets
  * the query order of every pass and the streamed documents, which are
  * checked against the batch operator.
  */
final class QueryMix extends Workload {
  import QueryMix._
  val PerSlice = 250
  private var dir: String = _
  private var gen: Docs = _
  private var slices = 0
  private var landed = 0
  private val progress = mutable.ArrayBuffer[(Boolean, StreamingQueryProgress)]()

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    dir = c.sub("tables")
    gen = new Docs(c.seed)
    // a warm-up slice plus enough for the timed window (a round takes > 5 s)
    slices = 1 + (c.seconds / 5).ceil.toInt + 1
    c.phase("inputs")(Par(tableWriters(spark, dir) :+ (() => {
        val rows = (0 until slices).flatMap(d => gen.next(PerSlice).map(r => Row.fromSeq(r.toSeq :+ d)))
        // one task writes every slice: one file per slice, no shuffle
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), gen.schema.add("slice", "int"))
          .coalesce(1).write.partitionBy("slice").parquet(c.sub("slices"))
      }): _*))
    new File(c.sub("landing")).mkdirs()
    c.report("stream_input") = Map("slices" -> slices, "docs_per_slice" -> PerSlice,
      "near_dup_share" -> 0.05, "exact_dup_share" -> 0.004)
    // the three unit kinds warm up side by side, untraced, which takes less
    // wall than one after the other; the timed window runs them one at a time
    c.phase("warm_up")(Par(
      () => Chain.foreach(run(c, _)),
      () => Scan.foreach(run(c, _)),
      () => { landSlice(c); stream(c) }))
  }

  private def run(c: Ctx, q: String): Unit = {
    val (rows, hash) = digest(SparkEntry.queries(q)(c.spark, dir))
    c.check(Pins.get(q).contains((rows, hash)), s"$q: rows=$rows hash=$hash, pinned ${Pins.get(q)}")
  }

  private def pass(c: Ctx, kind: String, group: Seq[String], i: Int): Unit = {
    val order = new scala.util.Random(c.seed * 7919L + i * 2L + kind.hashCode).shuffle(group)
    c.unit(kind)(order.foreach(q => c.rec.span(s"entry.${short(q)}")(run(c, q))))
  }

  /** Land the next slice as one file; a dot-prefixed name hides it until the rename. */
  private def landSlice(c: Ctx): Unit = {
    require(landed < slices, s"input has only $slices slices")
    val d = landed; landed += 1
    val Array(part) = new File(s"${c.dir}/slices/slice=$d").listFiles().filter(_.getName.endsWith(".parquet"))
    val tmp = new File(c.sub("landing"), s".slice-$d.parquet")
    Files.copy(part.toPath, tmp.toPath)
    Files.move(tmp.toPath, new File(c.sub("landing"), s"slice-$d.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The near-dup streaming twin consumes the landed file as one micro-batch. */
  private def stream(c: Ctx): Unit =
    c.rec.span("streaming.neardup") {
      val src = c.spark.readStream.schema(gen.schema).option("maxFilesPerTrigger", 1)
        .parquet(c.sub("landing"))
      val q = CorpusStream.runIncrementalNearDup(c.spark, src, "text", "doc_id",
        c.sub("index"), c.sub("pairs"), c.sub("checkpoint"))
      c.rec.adopt(q.runId.toString)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      progress ++= q.recentProgress.filter(_.numInputRows > 0).map(p => (c.timing, p))
    }

  def round(c: Ctx, i: Int): Unit = {
    pass(c, "a", Chain, i)
    pass(c, "b", Scan, i)
    landSlice(c)
    c.unit("c")(stream(c))
  }

  def finish(c: Ctx): Unit = {
    val spark = c.spark
    // the streamed index and pairs against the batch operator over the same slices
    val streamed = spark.read.parquet(c.sub("landing")).select("doc_id", "text")
    def pairs(df: DataFrame) = df.select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sp = pairs(spark.read.parquet(c.sub("pairs")))
    val bp = pairs(Dedup.minHashLsh(streamed, "text", "doc_id", 3, 64, 16, 0.8))
    c.check(sp == bp, s"streamed near-dup pairs ${sp.size} != batch pairs ${bp.size}")
    val indexed = spark.read.parquet(s"${c.sub("index")}/sigs").select("id").distinct().count()
    c.check(indexed == landed.toLong * PerSlice, s"signature index holds $indexed docs, ${landed * PerSlice} landed")

    val timed = progress.filter(_._1).map(_._2)
    def secs(k: String) = timed.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val cWall = c.walls.getOrElse("c", Nil).sum
    c.counts("streaming.batches") = timed.size.toDouble / c.walls.getOrElse("c", Nil).size.max(1)
    c.counts("streaming.add_batch_share") = if (cWall > 0) secs("addBatch") / cWall else 0.0
    c.counts("streaming.commit_share") =
      if (cWall > 0) (secs("walCommit") + secs("commitOffsets")) / cWall else 0.0
    val state = Seq("index", "pairs", "checkpoint").map(c.sub)
    c.counts("sources.stored_bytes_per_input_byte") =
      state.map(d => Host.du(d)._1).sum.toDouble / Host.du(c.sub("landing"))._1
    c.report("stream_batch_s") = timed.map(p => p.durationMs.get("triggerExecution").longValue / 1e3)
    c.report("streamed") = Map("docs" -> indexed, "near_dup_pairs" -> bp.size)
  }
}

object QueryMix {
  val Chain: Seq[String] = Seq("q158_pagerank")
  val Scan: Seq[String] = Seq("q50_corpus_filter")
  def short(q: String): String = q.takeWhile(_ != '_')
  val All: Seq[String] = (Chain ++ Scan).map(short)

  /** Rows and content hash of each query over [[tableWriters]]' output,
    * pinned after the same results matched the queries' DuckDB twins
    * (`SparkEntry.oracleSql`) on these tables.
    */
  val Pins: Map[String, (Long, String)] = Map(
    "q158_pagerank" -> ((1600L, "3b7b2ace7e42395b")),
    "q50_corpus_filter" -> ((477L, "4c369992764a43c7")))

  val TableSeed = 20251101L
  val DocCount = 500
  val Orders = 15000

  /** Writers of the fixed tables, independent of each other:
    * `documents` in the harness shape (see [[Docs]]) and TPC-H-shaped
    * `orders`/`lineitem` at the harness's sf0.01 row counts.
    */
  def tableWriters(spark: SparkSession, dir: String): Seq[() => Unit] = {
    def u(k: Column, salt: Int, n: Int) = pmod(hash(lit(TableSeed), k, lit(salt)), lit(n))
    val key = col("o_orderkey")
    val orderDate = timestamp_seconds(lit(694224000L) + u(key, 4, 2400) * 86400L)
    val orders = spark.range(1, Orders + 1L).select(col("id").as("o_orderkey"))
    def documents(): Unit = {
      val gen = new Docs(TableSeed)
      gen.frame(spark, gen.next(DocCount)).coalesce(1).write.parquet(s"$dir/documents.parquet")
    }
    def ordersTable(): Unit = orders.select(key,
        (u(key, 1, 1500) + 1).cast("long").as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")), u(key, 2, 3) + 1).as("o_orderstatus"),
        ((u(key, 3, 50000000) + 100000) / 100.0).as("o_totalprice"),
        orderDate.as("o_orderdate"),
        element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
          u(key, 5, 5) + 1).as("o_orderpriority"))
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    def lineitem(): Unit = {
      val k = col("l_orderkey") * 8 + col("l_linenumber")
      orders.select(key.as("l_orderkey"), orderDate.as("o_orderdate"),
          explode(sequence(lit(1), u(key, 6, 7) + 1)).as("l_linenumber"))
        .select(col("l_orderkey"),
          (u(k, 7, 2000) + 1).cast("long").as("l_partkey"),
          (u(k, 8, 100) + 1).cast("long").as("l_suppkey"),
          col("l_linenumber").cast("int"),
          (u(k, 9, 50) + 1).cast("double").as("l_quantity"),
          ((u(k, 10, 10000000) + 90000) / 100.0).as("l_extendedprice"),
          (u(k, 11, 11) / 100.0).as("l_discount"),
          (u(k, 12, 9) / 100.0).as("l_tax"),
          element_at(array(lit("R"), lit("A"), lit("N")), u(k, 13, 3) + 1).as("l_returnflag"),
          element_at(array(lit("O"), lit("F")), u(k, 14, 2) + 1).as("l_linestatus"),
          (col("o_orderdate") + expr("make_interval(0, 0, 0, 1, 0, 0, 0)") *
            (u(k, 15, 120) + 1)).as("l_shipdate"))
        .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    }
    Seq(documents _, ordersTable _, lineitem _)
  }

  /** Row count and an order-independent hash of a result: the sum of a
    * 64-bit MD5 prefix of each row, columns taken in name order.
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col).toIndexedSeq: _*).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def canon(v: Any): String = v match {
      case null => "∅"
      case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
      case a: Array[_] => a.map(canon).mkString("[", "\u0001", "]")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (x, y) => canon(x) + "=" + canon(y) }.sorted.mkString("{", "\u0001", "}")
      case d: Double => java.lang.Double.toString(d)
      case x => x.toString
    }
    var acc = 0L
    for (r <- rows) {
      val h = md.digest(canon(r).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(h).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }

  /** Writes the tables to `args(0)`, so the pins can be re-derived against
    * the DuckDB twins: `graft.Verify <dir> <out> <queries>`, then
    * `tools/local_verify.py <dir> <out>`.
    */
  def main(args: Array[String]): Unit = {
    val spark = Main.session(4, args(0) + "-work")
    Par(tableWriters(spark, args(0)): _*)
    val all = Chain ++ Scan
    for (q <- all) println(s"""    "$q" -> ${digest(SparkEntry.queries(q)(spark, args(0)))},""")
    spark.stop()
  }
}
