package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed span: a unit of work (`parent == 0`) or a layer call inside
  * one. Every span of one unit shares its `unit` id. Times are
  * `System.nanoTime` readings; `cpu`/`gc` are process CPU and JVM GC
  * deltas over the span (local mode: driver and executors share the JVM).
  */
final case class Span(id: Int, name: String, parent: Int, unit: String,
    start: Long, end: Long, cpuNs: Long, gcMs: Long)

/** A finished Spark job as the listener saw it. `group` is the job group
  * (one per span) the job ran under; `start`/`end` are `System.nanoTime`
  * readings taken when the listener received the job's start and end
  * events (the events' own times have only millisecond resolution).
  */
final case class JobRec(id: Int, group: String, start: Long, end: Long,
    tasks: Int, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long)

/** Spans kept in memory for the whole run, plus (when tracing) a
  * `SparkListener` that ties every Spark job to the innermost open span
  * through `setJobGroup`. The listener and the job groups belong to the
  * benchmark; the program under test knows nothing of them. With tracing
  * off only unit spans are kept and no listener is registered.
  */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private val open = mutable.Stack[(Int, String)]()

  private val os = ManagementFactory.getOperatingSystemMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def cpuNs(): Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }
  def gcMs(): Long = gcs.map(_.getCollectionTime.max(0L)).sum

  private final class Acc { var tasks = 0; var cpu = 0L; var gc = 0L; var shw = 0L; var spill = 0L }
  private val jobStart = TrieMap[Int, (String, Long)]()
  private val stageJob = TrieMap[Int, Int]()
  private val accs = TrieMap[Int, Acc]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart(e.jobId) = (g, System.nanoTime())
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      accs(e.jobId) = new Acc
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      for (job <- stageJob.get(e.stageId); a <- accs.get(job)) a.synchronized {
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.cpu += m.executorCpuTime
          a.gc += m.jvmGCTime
          a.shw += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t1 = System.nanoTime()
      val (g, t0) = jobStart.getOrElse(e.jobId, ("", t1))
      val a = accs.getOrElse(e.jobId, new Acc)
      a.synchronized {
        done.add(JobRec(e.jobId, g, t0, t1, a.tasks, a.cpu, a.gc, a.shw, a.spill))
      }
    }
  }
  if (tracing) sc.addSparkListener(listener)

  private def group(id: Int): Unit =
    if (tracing) sc.setJobGroup(s"pb-$id", s"perfbench span $id", interruptOnCancel = false)

  /** Time `body` as a span named `name`. A span given a `unit` id starts
    * that unit and must be top-level; other spans nest in the open unit
    * and are recorded only when tracing. Outside any unit (set-up work)
    * a layer call is not recorded.
    */
  def span[T](name: String, unit: String = "")(body: => T): T = {
    val top = open.isEmpty
    require(unit.isEmpty || top, s"unit span $name inside another unit")
    if (unit.isEmpty && (top || !tracing)) return body
    val id = nextId; nextId += 1
    val u = if (top) unit else open.top._2
    val parent = if (top) 0 else open.top._1
    open.push((id, u)); group(id)
    val (c0, g0, t0) = (cpuNs(), gcMs(), System.nanoTime())
    try body
    finally {
      val t1 = System.nanoTime()
      spans.synchronized(spans += Span(id, name, parent, u, t0, t1, cpuNs() - c0, gcMs() - g0))
      open.pop()
      if (open.nonEmpty) group(open.top._1) else if (tracing) sc.clearJobGroup()
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Attribute jobs that run under a job group Spark sets itself (a
    * streaming query uses its run id) to the innermost open span.
    */
  private val aliases = TrieMap[String, String]()
  def adopt(group: String): Unit =
    if (tracing && open.nonEmpty) aliases(group) = s"pb-${open.top._1}"

  /** All finished jobs, once the asynchronous listener bus has delivered
    * every event posted so far.
    */
  def jobs(): Seq[JobRec] = {
    org.apache.spark.perfbenchbridge.BusDrain(sc)
    done.asScala.toList.map(j => j.copy(group = aliases.getOrElse(j.group, j.group)))
  }

  def close(): Unit = if (tracing) sc.removeSparkListener(listener)
}
