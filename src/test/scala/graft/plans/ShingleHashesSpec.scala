package graft.plans

import graft.SparkSpec
import graft.functions.{AuditableHash => H, TextFunctions => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

class ShingleHashesSpec extends SparkSpec {

  import spark.implicits._

  private def native(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.select(col("doc_id"),
        posexplode(ColumnBridge.column(ShingleHashes(
          ColumnBridge.expression(col("text").cast("string")), k)))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))

  /** The composed expression forest the native kernel replaced. */
  private def composed(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val toks = T.tokens(col("text"))
    val starts = when(size(toks) >= k, sequence(lit(1), size(toks) - k + 1))
      .otherwise(array().cast("array<int>"))
    df.select(col("doc_id"), explode(starts).as("pos"), toks.as("tk"))
      .select(col("doc_id"), col("pos"),
        H.h60(array_join(transform(slice(col("tk"), col("pos"), lit(k)), lower _),
          " ")).as("h"))
  }

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue(),
      r.getLong(2))).toSet

  test("bit-identical to the composed forest on the real corpus") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    for (k <- Seq(2, 8)) {
      val n = collectSet(native(docs, k))
      val c = collectSet(composed(docs, k))
      assert(n == c && n.nonEmpty, s"k=$k native=${n.size} composed=${c.size}")
    }
  }

  test("edge cases: null, empty, blank, short, mixed-case, odd whitespace") {
    val docs = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "   \t  "),
      (4L, "one two"),                    // shorter than k=3
      (5L, "  ALPHA  Beta\tgamma  "),     // trim + \s+ + lowercasing
      (6L, "a b c d")
    ).toDF("doc_id", "text")
    val n = collectSet(native(docs, 3))
    val c = collectSet(composed(docs, 3))
    assert(n == c)
    // doc 5's single shingle equals h60 of the normalized lowercase join
    val h5 = n.collect { case (5L, p, h) => (p, h) }
    assert(h5 == Set((1L, H.h60("alpha beta gamma"))))
  }

  test("SQL registration: graft_shingle_h60(text, k)") {
    Seq((1L, "x y z w")).toDF("doc_id", "text").createOrReplaceTempView("sh_t")
    val out = spark.sql(
      "SELECT graft_shingle_h60(text, 3) AS hs FROM sh_t")
      .head().getSeq[Long](0)
    assert(out == Seq(H.h60("x y z"), H.h60("y z w")))
  }
}
