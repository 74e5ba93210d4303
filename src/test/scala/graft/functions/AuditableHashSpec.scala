package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AuditableHashSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.{AuditableHash => H}

  test("column h60 == JVM h60 (ascii, unicode, empty)") {
    val samples = Seq("abc", "", "hello world", "thỏa thuận", "a b c",
      "minhash:a:0", "the quick brown fox")
    val got = samples.toDF("s").select(H.h60($"s")).as[Long].collect()
    assert(got.toSeq == samples.map(H.h60))
  }

  test("h60 is 60-bit non-negative; family params in declared ranges") {
    val samples = (0 until 200).map(i => s"tok$i")
    samples.map(H.h60).foreach { h =>
      assert(h >= 0 && h < (1L << 60))
    }
    (0 until 64).foreach { i =>
      assert(H.minhashA(i) >= 1 && H.minhashA(i) < H.M30)
      assert(H.minhashB(i) >= 0 && H.minhashB(i) < H.P)
    }
    // multipliers must not collide pathologically (they're hash-derived)
    assert((0 until 64).map(H.minhashA).distinct.size == 64)
  }

  test("minhashPerm stays in [0, p) and below any overflow boundary") {
    val hs = Seq(0L, 1L, H.M30 - 1).toDF("h")
    val out = hs.select((0 until 64).map(i => H.minhashPerm(i, $"h")): _*)
      .collect()
    out.foreach(r => (0 until 64).foreach { i =>
      val v = r.getLong(i)
      assert(v >= 0 && v < H.P)
    })
  }

  test("known cross-engine value: h60('abc') matches DuckDB's parse") {
    // CAST(concat('0x', substr(md5('abc'),1,15)) AS BIGINT) in DuckDB
    assert(H.h60("abc") == 648541476951500027L)
  }

  test("native graft_h60 == conv(substring(md5(...))) composition, incl. NULL") {
    val samples = Seq("abc", "", "xyzzy", "thỏa thuận", "a\nb\tc", null)
    val legacy = conv(substring(md5($"s".cast("string")), 1, 15), 16, 10)
      .cast("long").as("legacy")
    def check(): Unit =
      samples.toDF("s").select(H.h60($"s").as("native"), legacy).collect()
        .foreach { r =>
          assert(r.isNullAt(0) == r.isNullAt(1))
          if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
        }
    check() // codegen path
    val key = "spark.sql.codegen.factoryMode"
    val old = spark.conf.get(key)
    try { spark.conf.set(key, "NO_CODEGEN"); check() } // interpreted path
    finally spark.conf.set(key, old)
    // SQL surface
    assert(spark.sql("SELECT graft_h60('abc') AS h").as[Long].head() ==
      648541476951500027L)
  }
}
