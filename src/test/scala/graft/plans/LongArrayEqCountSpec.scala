package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

class LongArrayEqCountSpec extends SparkSpec {
  import spark.implicits._

  private def native(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    ColumnBridge.column(LongArrayEqCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  test("counts agreeing positions; equals the interpreted HOF form") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 8L)), // 2 agree
      (Seq(5L, 5L), Seq(5L, 5L)),                  // all (2) agree
      (Seq(1L, 2L), Seq(3L, 4L))                   // none
    ).toDF("a", "b")
    val out = df.select(
      native($"a", $"b").as("n"),
      size(filter(zip_with($"a", $"b", (x, y) => x === y), p => p)).as("hof"))
      .collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(2, 2, 0))
    assert(out.forall(r => r.getInt(0) == r.getInt(1)))
  }

  test("NULL contract: null input, ragged lengths, null elements") {
    val df = Seq(
      (Some(Seq(1L, 2L)), None: Option[Seq[Long]]),
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L))) // ragged → NULL
    ).toDF("a", "b")
    val out = df.select(native($"a", $"b").as("n")).collect()
    assert(out.forall(_.isNullAt(0)))
    // null ELEMENT never counts as equal
    val e = spark.range(1)
      .select(native(expr("array(1L, NULL, 3L)"), expr("array(1L, NULL, 3L)")).as("n"))
      .head
    assert(e.getInt(0) == 2)
  }

  test("registered SQL surface and codegen path") {
    val n = spark.sql(
      "SELECT graft_eq_count(array(1L,2L,3L), array(1L,5L,3L)) AS n").head.getInt(0)
    assert(n == 2)
  }
}
