package graft

import graft.plans.GraftExtensions

/** The shipped local session: [[TestSpark]] is built by
  * [[GraftSession.local]], so these legs pin what every main runs on.
  */
class GraftSessionSpec extends SparkSpec {

  private def messages(t: Throwable): List[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toList

  private def sqlFails(sql: String, expected: String): Unit = {
    val e = intercept[Exception](spark.sql(sql).collect())
    assert(messages(e).exists(_.contains(expected)),
      s"'$sql' should fail with '$expected', got: ${messages(e).mkString(" / ")}")
  }

  test("every catalog function resolves through spark.sql via the extension") {
    val names = GraftExtensions.descriptors.map(_._1.funcName)
    assert(names.size == 13 && names.distinct == names)
    GraftExtensions.descriptors.foreach { case (id, info, _) =>
      val desc = spark.sql(s"DESCRIBE FUNCTION ${id.funcName}")
        .collect().map(_.getString(0))
      assert(desc.contains(s"Class: ${info.getClassName}"),
        s"${id.funcName}: ${desc.mkString(" | ")}")
    }
    assert(spark.sql("SELECT graft_h60('abc')").head().getLong(0) ==
      648541476951500027L)
  }

  test("local pins the shared settings") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("wrong arity and non-literal int arguments keep their messages") {
    sqlFails("SELECT graft_h60('a', 'b')", "graft_h60 takes exactly 1 argument")
    sqlFails("SELECT graft_dotq(array(1L))", "graft_dotq takes exactly 2 arguments")
    sqlFails("SELECT graft_shingle_h60('a b')", "graft_shingle_h60 takes (text, k)")
    sqlFails("SELECT graft_char_ngrams('abc', 2, 3)", "graft_char_ngrams takes (text, k)")
    sqlFails("SELECT graft_cdc_chunks('abc', 4)",
      "graft_cdc_chunks takes (text, w, avgSize)")
    sqlFails("SELECT graft_shingle_h60(t, k) FROM VALUES ('a b c', 2) AS v(t, k)",
      "k must be an int literal")
    sqlFails("SELECT graft_char_ngrams('abc', 2L)", "k must be an int literal")
    sqlFails("SELECT graft_cdc_chunks('abc', w, 64) FROM VALUES (4) AS v(w)",
      "w must be an int literal")
    sqlFails("SELECT graft_cdc_chunks('abc', 4, 64L)", "avgSize must be an int literal")
  }

  test("register restores the catalog on a session without it") {
    val s = spark.newSession()
    GraftExtensions.descriptors.foreach(d => s.sessionState.functionRegistry.dropFunction(d._1))
    val e = intercept[Exception](s.sql("SELECT graft_h60('abc')").collect())
    assert(e.getMessage.contains("UNRESOLVED_ROUTINE"), e.getMessage)
    GraftExtensions.register(s)
    assert(s.sql("SELECT graft_h60('abc')").head().getLong(0) == 648541476951500027L)
    GraftExtensions.descriptors.foreach(d =>
      assert(s.sessionState.functionRegistry.functionExists(d._1), d._1.funcName))
    // the shared session kept its own registry throughout
    assert(spark.sessionState.functionRegistry.functionExists(
      GraftExtensions.descriptors.head._1))
  }

  test("localCores: SPARK_GRAFT_CPUS must be an integer > 0") {
    assert(GraftSession.parseCores(None) == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.parseCores(Some("8")) == 8)
    assert(GraftSession.parseCores(Some(" 2 ")) == 2)
    Seq("abc", "", "0", "-3", "4.5").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCores(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
