package graft.plans

import graft.{SparkSpec, Tables}
import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.functions._

class LongArrayDotSpec extends SparkSpec {
  import spark.implicits._

  test("native dot == interpreted dot on real embeddings (bit-exact)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
      .select($"vec_id", V.quantize($"embedding").as("q"))
    val pairs = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        V.dotQ(col("a.q"), col("b.q")).as("fast"),
        V.dotQSlow(col("a.q"), col("b.q")).as("slow"))
    assert(pairs.filter($"fast" =!= $"slow").isEmpty)
    assert(pairs.count() > 1000)
  }

  test("null array → null; empty arrays → 0; mismatched lengths → null") {
    val df = Seq(
      (Some(Seq(1L, 2L, 3L)), Some(Seq(4L, 5L, 6L))), // 4+10+18=32
      (None, Some(Seq(1L))),
      (Some(Seq.empty[Long]), Some(Seq.empty[Long])),
      (Some(Seq(2L, 3L)), Some(Seq(10L))), // ragged → null (as zip_with+aggregate)
    ).toDF("a", "b")
    val out = df.select(V.dotQ($"a", $"b")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.toSeq == Seq(Some(32L), None, Some(0L), None))
  }

  test("ragged / null-element arrays: native matches interpreted bit-for-bit") {
    val df = Seq(
      (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 5L, 6L)),
      (Seq[java.lang.Long](2L, 3L), Seq[java.lang.Long](10L)),          // ragged
      (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](4L, 5L, 6L)), // null elem
      (Seq[java.lang.Long](), Seq[java.lang.Long]()),
    ).toDF("a", "b")
    val rows = df.select(
      V.dotQ($"a", $"b").as("fast"), V.dotQSlow($"a", $"b").as("slow")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), r.toString)
    }
    // and specifically: ragged + null-element rows are NULL, not truncated
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }

  test("SQL surface via extension registration: graft_dotq/_dotd/_quantize") {
    val r = spark.sql("SELECT graft_dotq(array(1L,2L), array(3L,4L)) AS d").head()
    assert(r.getLong(0) == 11L)
    val rd = spark.sql("SELECT graft_dotd(array(0.5D,2.0D), array(4.0D,3.0D)) AS d").head()
    assert(rd.getDouble(0) == 8.0)
    val rq = spark.sql("SELECT graft_quantize(array(1.5D, -0.25D)) AS q").head()
    assert(rq.getSeq[Long](0) == Seq(1500000L, -250000L))
    val rc = spark.sql(
      "SELECT size(graft_cdc_chunks('abcdefgh abcdefgh abcdefgh', 8, 4)) AS n").head()
    assert(rc.getInt(0) >= 1)
  }

  test("native double dot == interpreted dot, bit-for-bit (incl. ragged/null)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
      .select($"vec_id", $"embedding")
    val pairs = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        V.dot(col("a.embedding"), col("b.embedding")).as("fast"),
        V.dotSlow(col("a.embedding"), col("b.embedding")).as("slow"))
    // bit-exact equality (same accumulation order), not approximate
    assert(pairs.filter(!($"fast" <=> $"slow")).isEmpty)
    val edge = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),       // ragged
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)), // null elem
    ).toDF("a", "b")
    assert(edge.select(V.dot($"a", $"b")).collect().forall(_.isNullAt(0)))
  }

  test("native quantize == transform-lambda quantize on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(200)
    val q = emb.select(
      V.quantize($"embedding").as("fast"), V.quantizeSlow($"embedding").as("slow"))
    assert(q.filter(!($"fast" <=> $"slow")).isEmpty)
    // null input and null elements survive identically
    val edge = Seq(
      (1, Option(Seq[java.lang.Double](1.5, null, -0.25))),
      (2, None),
    ).toDF("id", "v")
    val e = edge.select(V.quantize($"v").as("fast"), V.quantizeSlow($"v").as("slow"))
    assert(e.filter(!($"fast" <=> $"slow")).isEmpty)
  }

  test("expression participates in whole-stage codegen (not fallback)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(10)
      .select(V.quantize($"embedding").as("q"))
    val plan = emb.select(V.dotQ($"q", $"q").as("d"))
      .queryExecution.executedPlan.toString
    // whole-stage-codegen'd operators print with a "*(stageId)" prefix
    assert("""\*\(\d+\) Project \[graft_dotq""".r.findFirstIn(plan).isDefined, plan)
  }
}
