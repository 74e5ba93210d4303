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
  *  - the only mains are `Bench`, `Verify`, `RunOne` and `PlanDump`,
  *    and only `GraftSession.localCores`, `RunOne` and `Bench` read the
  *    environment;
  *  - the paper-layer jobs and [[graft.control.Audit]] read parquet only
  *    with the table's schema pinned (a schema-less read runs a
  *    schema-discovery job on every call);
  *  - no driver-side parquet reader comes from `ParquetReader.builder`,
  *    which builds a fresh Hadoop `Configuration` (and re-parses its XML
  *    defaults) for every file it opens.
  */
class ScaffoldGuardSpec extends AnyFunSuite {

  private val Def =
    """\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:override\s+)?def\s+(\w+).*""".r

  /** `File.scala:enclosingDef` for every line under `root` whose code
    * (comments stripped) `hit` accepts. The enclosing def is the
    * nearest def at or above the hit that is indented less than every
    * line between them, so a sibling local def above the hit is not
    * mistaken for it.
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
        @annotation.tailrec
        def enclosing(j: Int, floor: Int): Option[String] =
          if (j < 0) None
          else if (lines(j).trim.isEmpty) enclosing(j - 1, floor)
          else {
            val indent = lines(j).segmentLength(_ == ' ')
            lines(j) match {
              case Def(name) if indent < floor => Some(name)
              case _ => enclosing(j - 1, floor.min(indent))
            }
          }
        lines.indices.filter(i => hit(code(lines(i)))).map { i =>
          s"${f.getFileName}:${enclosing(i, Int.MaxValue).getOrElse("<top level>")}"
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

  test("def main appears only in Bench, Verify, RunOne and PlanDump") {
    val found = sites("src/main/scala", """\bdef\s+main\s*\(""".r.findFirstIn(_).isDefined)
    assert(found == List("Bench.scala:main", "PlanDump.scala:main",
      "RunOne.scala:main", "Verify.scala:main"),
      s"def main sites: ${found.mkString(", ")}")
  }

  test("sys.env appears only in GraftSession.localCores, RunOne.main and Bench.main") {
    val found = sites("src/main/scala", _.contains("sys.env")).distinct
    assert(found == List("Bench.scala:main", "GraftSession.scala:localCores",
      "RunOne.scala:main"),
      s"sys.env sites: ${found.mkString(", ")}")
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

  test("no ParquetReader.builder in main code: readers use the session's Hadoop conf") {
    val found = sites("src/main/scala", _.contains("ParquetReader.builder("))
    assert(found.isEmpty, s"ParquetReader.builder sites: ${found.mkString(", ")}")
  }
}
