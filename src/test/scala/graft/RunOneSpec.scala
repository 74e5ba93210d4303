package graft

import org.scalatest.funsuite.AnyFunSuite

class RunOneSpec extends AnyFunSuite {
  test("sfDir is the first argument after the name that is not `explain`") {
    val default = RunOne.parseArgs(Array("q55"))._2
    assert(default != "explain")
    assert(RunOne.parseArgs(Array("q55")) == ("q55", default, false))
    assert(RunOne.parseArgs(Array("q55", "explain")) == ("q55", default, true))
    assert(RunOne.parseArgs(Array("q55", "/d")) == ("q55", "/d", false))
    assert(RunOne.parseArgs(Array("q55", "/d", "explain")) == ("q55", "/d", true))
    assert(RunOne.parseArgs(Array("q55", "explain", "/d")) == ("q55", "/d", true))
  }

  test("no query name is a usage error") {
    val e = intercept[IllegalArgumentException](RunOne.parseArgs(Array()))
    assert(e.getMessage.contains("usage: RunOne"))
  }

  test("extra conf: an entry with no `=` names itself in the error") {
    val e = intercept[IllegalArgumentException](RunOne.parseExtraConf("a=b;foo"))
    assert(e.getMessage.contains("'foo'"))
  }

  test("extra conf: an empty segment is an error, not a MatchError") {
    val e = intercept[IllegalArgumentException](RunOne.parseExtraConf(";a=b"))
    assert(e.getMessage.contains("entry ''"))
  }

  test("extra conf: only the first `=` splits, so a value may contain `=`") {
    assert(RunOne.parseExtraConf("spark.x=a=b;spark.y=1") ==
      Seq("spark.x" -> "a=b", "spark.y" -> "1"))
  }
}
