package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (session startup is
  * ~5s; per-suite sessions would dominate test time), built by the same
  * [[GraftSession.local]] factory the mains use.
  */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.local(4).appName("graft-test").getOrCreate()
  spark // touch so logLevel applies on first use
  def init(): SparkSession = { spark.sparkContext.setLogLevel("WARN"); spark }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.init()
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  /** Harness testdata root at scale factor `sf`, env-overridable
    * (SPARK_GRAFT_TESTDATA) so suites aren't silently
    * environment-specific (ADVICE r12).
    */
  def sfDir(sf: String = "0.001"): String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") + s"/sf$sf"
}
