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
  *    frozen `Bench` main;
  *  - the paper-layer jobs and [[graft.control.Audit]] read parquet only
  *    with the table's schema pinned (a schema-less read runs a
  *    schema-discovery job on every call).
  */
class ScaffoldGuardSpec extends AnyFunSuite {

  private val Def =
    """\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:override\s+)?def\s+(\w+).*""".r

  /** `File.scala:enclosingDef` for every line under `root` whose code
    * (comments stripped) `hit` accepts.
    */
  private def sites(root: String, hit: String => Boolean): List[String] = {
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
        lines.indices.filter(i => hit(code(lines(i)))).map { i =>
          val enclosing = (i to 0 by -1).iterator.map(lines(_))
            .collectFirst { case Def(name) => name }
          s"${f.getFileName}:${enclosing.getOrElse("<top level>")}"
        }
      }
      .sorted
  }

  test("writeStream appears only in CorpusStream.availableNow and " +
      "EventStream.runAvailableNow") {
    val found = sites("src/main/scala", _.contains(".writeStream"))
    assert(found == List(
      "CorpusStream.scala:availableNow", "EventStream.scala:runAvailableNow"),
      s"writeStream sites: ${found.mkString(", ")}")
  }

  test("SparkSession.builder appears only in GraftSession (once) and Bench") {
    val main = sites("src/main/scala", _.contains("SparkSession.builder"))
    assert(main == List("Bench.scala:main", "GraftSession.scala:base"),
      s"SparkSession.builder sites: ${main.mkString(", ")}")
    val test = sites("src/test/scala", _.contains("SparkSession.builder"))
      .filterNot(_.startsWith("ScaffoldGuardSpec.scala:"))
    assert(test.isEmpty, s"tests build their own session: ${test.mkString(", ")}")
  }

  test("paper-layer jobs and Audit never read parquet without a schema") {
    val files = Seq("Audit.scala", "Dashboard.scala", "DataMartJob.scala",
      "ExtractJob.scala", "StagingJob.scala", "WarehouseLoadJob.scala")
    val scanned = sites("src/main/scala", _ => true).map(_.takeWhile(_ != ':')).toSet
    assert(files.forall(scanned), s"guarded sources missing: ${files.filterNot(scanned)}")
    // `spark.read.parquet(` infers; `readIfExists(spark, dir)` is the
    // schema-less overload (two arguments, no comma after the dir)
    val schemaLess = """spark\.read\.parquet\(|readIfExists\(spark, [^,()]+\)""".r
    val found = sites("src/main/scala", schemaLess.findFirstIn(_).isDefined)
      .filter(s => files.contains(s.takeWhile(_ != ':')))
    assert(found.isEmpty, s"schema-less parquet reads: ${found.mkString(", ")}")
  }
}
