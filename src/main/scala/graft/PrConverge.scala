package graft

import org.apache.spark.sql.functions._

/** Diagnostic surface: the PageRank contraction curve on the q158
  * customer→supplier purchase graph — per-round L1 delta (absolute and
  * relative to total mass n·scale), so `iters` is sized on evidence
  * (BASELINE.md records the sf0.1 curve). Usage:
  *
  *   sbt "runMain graft.PrConverge /root/testdata/sf0.1 14"
  */
object PrConverge {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val iters = if (args.length > 1) args(1).toInt else 14
    val spark = GraftSession.local(GraftSession.localCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_suppkey"))
    val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("s"), (col("l_suppkey") + 10000000L).as("d"))
      .distinct()
    val n = edges.select(col("s")).union(edges.select(col("d")))
      .distinct().count()
    val (_, deltas) = operators.LinkGraph.pageRankWithDeltas(
      edges, "s", "d", iters = iters)
    val denom = n.toDouble * (1L << 20).toDouble
    println(s"[prconverge] sf=$sfDir nodes=$n scale=2^20")
    deltas.zipWithIndex.foreach { case (d, i) =>
      println(f"[prconverge] round=${i + 1}%-3d l1_fp=$d%-16d rel=${d / denom}%.3e")
    }
    spark.stop()
  }
}
