package graft

import org.apache.spark.graftbridge.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

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

  /** `body`'s result and the Spark jobs it started, counted by a listener
    * filtered on a job group set on this thread for the call alone.
    */
  def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
