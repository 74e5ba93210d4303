package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

class Log2FpSpec extends SparkSpec {
  import spark.implicits._

  private def native(c: org.apache.spark.sql.Column) =
    ColumnBridge.column(Log2Fp(ColumnBridge.expression(c)))

  test("bit-identical to Dsir.log2Fp across magnitudes") {
    // powers of two (exact: m << 10), dense small values, large odd
    // values near Long range — the Q30 normalization's both branches.
    val ns = (1L to 1000L) ++ (0 to 62).map(1L << _) ++
      Seq(3L, 999983L, (1L << 40) + 12345L, Long.MaxValue, Long.MaxValue - 1)
    val got = ns.toDF("n").select($"n", native($"n").as("r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ns.foreach { n =>
      assert(got(n) == graft.operators.Dsir.log2Fp(n), s"n=$n")
    }
    // spot anchors: log2(1)=0; log2(2^k)=k<<10; log2(3)≈1.585
    assert(got(1L) == 0L)
    assert(got(1L << 20) == 20L << 10)
    assert(got(3L) == (math.floor(math.log(3.0) / math.log(2.0) * 1024)).toLong)
  }

  test("NULL -> NULL; n < 1 throws") {
    val out = Seq[Option[Long]](None, Some(8L)).toDF("n")
      .select(native($"n").as("r")).collect()
    assert(out(0).isNullAt(0) && out(1).getLong(0) == 3L << 10)
    val e = intercept[Exception] {
      Seq(0L).toDF("n").select(native($"n")).collect()
    }
    assert(e.getMessage != null)
  }

  test("registered SQL surface") {
    val r = spark.sql("SELECT graft_log2fp(1024L) AS r").head.getLong(0)
    assert(r == 10L << 10)
  }
}
