package graft.streaming

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guard for the streaming layer: every `foreachBatch` sink runs
  * through [[CorpusStream.availableNow]] (directly, or marker-gated via
  * [[CorpusStream.exactlyOnce]]). The only other streaming writer is
  * the declarative parquet file sink of [[EventStream.runAvailableNow]].
  * A new hand-written scaffold fails here instead of growing back one
  * copy at a time.
  */
class SinkScaffoldGuardSpec extends AnyFunSuite {

  test("writeStream appears only in CorpusStream.availableNow and " +
      "EventStream.runAvailableNow") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"main sources not found at ${root.toAbsolutePath} (run from the repository root)")
    val Def = """\s*(?:private\[\w+\]\s+)?def\s+(\w+).*""".r
    val sites = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter(lines(_).contains(".writeStream")).map { i =>
          val enclosing = (i to 0 by -1).iterator.map(lines(_))
            .collectFirst { case Def(name) => name }
          s"${f.getFileName}:${enclosing.getOrElse("<top level>")}"
        }
      }
    assert(sites.sorted == List(
      "CorpusStream.scala:availableNow", "EventStream.scala:runAvailableNow"),
      s"writeStream sites: ${sites.sorted.mkString(", ")}")
  }
}
