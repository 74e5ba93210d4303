package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guards for scaffolds that exist exactly once, so a new
  * hand-written copy fails here instead of growing back one at a time:
  *
  *  - every `foreachBatch` sink runs through
  *    [[graft.streaming.CorpusStream]]`.availableNow` (directly, or
  *    marker-gated via `exactlyOnce`); the only other streaming writer
  *    is the declarative parquet file sink of
  *    [[graft.streaming.EventStream.runAvailableNow]];
  *  - every SparkSession is built by [[GraftSession]], apart from the
  *    frozen `Bench` main.
  */
class ScaffoldGuardSpec extends AnyFunSuite {

  private val Def =
    """\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:override\s+)?def\s+(\w+).*""".r

  /** `File.scala:enclosingDef` for every line under `root` whose code
    * (comments stripped) contains `pattern`.
    */
  private def sites(root: String, pattern: String): List[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir),
      s"sources not found at ${dir.toAbsolutePath} (run from the repository root)")
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else line.split("//", 2)(0)
    }
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter(i => code(lines(i)).contains(pattern)).map { i =>
          val enclosing = (i to 0 by -1).iterator.map(lines(_))
            .collectFirst { case Def(name) => name }
          s"${f.getFileName}:${enclosing.getOrElse("<top level>")}"
        }
      }
      .sorted
  }

  test("writeStream appears only in CorpusStream.availableNow and " +
      "EventStream.runAvailableNow") {
    val found = sites("src/main/scala", ".writeStream")
    assert(found == List(
      "CorpusStream.scala:availableNow", "EventStream.scala:runAvailableNow"),
      s"writeStream sites: ${found.mkString(", ")}")
  }

  test("SparkSession.builder appears only in GraftSession (once) and Bench") {
    val main = sites("src/main/scala", "SparkSession.builder")
    assert(main == List("Bench.scala:main", "GraftSession.scala:base"),
      s"SparkSession.builder sites: ${main.mkString(", ")}")
    val test = sites("src/test/scala", "SparkSession.builder")
      .filterNot(_.startsWith("ScaffoldGuardSpec.scala:"))
    assert(test.isEmpty, s"tests build their own session: ${test.mkString(", ")}")
  }
}
