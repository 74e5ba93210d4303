package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** What a workload sees of the harness: the session, the recorder, its
  * seed and time budget, a private work directory, and the bookkeeping
  * for operations, output checks and extra report fields.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val seconds: Double, val dir: String) {
  // operations: the set-up as a whole, then every unit
  private var attempted = 1
  private var lastOp = "setup"
  private val failedOps = mutable.LinkedHashSet[String]()
  private val unitNo = mutable.Map[String, Int]().withDefaultValue(0)
  val problems = mutable.ArrayBuffer[String]()
  val report = mutable.LinkedHashMap[String, Any]()
  /** Per-layer metrics that are counts, not times, set by the workload. */
  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  /** Unit walls in seconds per kind, timed window only. */
  val walls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Set-up phase walls in seconds, reported as `setup_phases_s`. */
  val phases = mutable.LinkedHashMap[String, Double]()
  var timing = false

  /** Run one operation as a unit span of `kind` (a, b or c). Inside the
    * timed window its wall is a sample; before it, it is set-up work.
    */
  def unit[T](kind: String)(body: => T): T = {
    unitNo(kind) += 1
    val id = s"$kind${unitNo(kind)}"
    val key = if (timing) kind else s"setup-$kind"
    attempted += 1; lastOp = id
    val t0 = System.nanoTime()
    val r = try rec.span(key, unit = id)(body) catch {
      case e: Throwable => failedOps += id; throw e
    }
    if (timing) walls.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
    r
  }

  /** An output check; a mismatch fails the run and the last operation. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized { problems += what; failedOps += lastOp }

  /** Time a named piece of set-up. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  def attemptedOps: Int = attempted
  def failedCount: Int = failedOps.size
  def sub(name: String): String = new File(dir, name).getPath
}

trait Workload {
  /** Inputs, history and warm-up; runs before the timed window. */
  def setup(c: Ctx): Unit
  /** One round of the closed loop; each round runs at least one unit. */
  def round(c: Ctx, i: Int): Unit
  /** Output checks and report fields, after the timed window. */
  def finish(c: Ctx): Unit
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def session(cores: Int, dir: String): SparkSession = {
    val s = graft.GraftSession.builder(totalCores = cores, largestTableGB = 1)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val tracing = arg(args, "--trace") == "1"
    val dir = arg(args, "--dir")
    val cores = arg(args, "--cores").toInt
    val wl: Workload = workload match {
      case "warehouse_daily" => new WarehouseDaily
      case "query_mix" => new QueryMix
      case other => sys.error(s"unknown workload $other")
    }
    val load0 = Host.loadAvg()
    val t0 = System.nanoTime()
    val spark = session(cores, dir)
    val rec = new Recorder(spark, tracing)
    val c = new Ctx(spark, rec, seed, seconds, dir)
    c.phases("session") = (System.nanoTime() - t0) / 1e9
    var (setupS, i, cpu0, wall0, cpu1, wall1) = (Double.NaN, 0, 0L, 0L, 0L, 0L)
    try {
      wl.setup(c)
      setupS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      c.timing = true
      cpu0 = rec.cpuNs(); wall0 = System.nanoTime()
      val deadline = wall0 + (seconds * 1e9).toLong
      while (i == 0 || System.nanoTime() < deadline) { wl.round(c, i); i += 1 }
      cpu1 = rec.cpuNs(); wall1 = System.nanoTime()
      c.timing = false
      wl.finish(c)
    } catch {
      // the failed operation is already counted; the run reports and exits non-zero
      case scala.util.control.NonFatal(e) => c.check(ok = false, s"operation failed: $e")
    }
    val load1 = Host.loadAvg()
    val metrics =
      if (!tracing) Metrics.endToEnd(c, setupS)
      else {
        val (spans, jobs) = Trace.write(c, new File(arg(args, "--trace-file")))
        Metrics.perLayer(c, spans, jobs)
      }
    c.report ++= Seq(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "rounds" -> i,
      "setup_s" -> setupS, "setup_phases_s" -> c.phases,
      "samples" -> c.walls.map { case (k, v) => k -> v.toSeq }.toMap,
      "host" -> Map("loadavg_start" -> load0, "loadavg_end" -> load1,
        "window_wall_s" -> (wall1 - wall0) / 1e9,
        "window_cpu_s" -> (cpu1 - cpu0) / 1e9),
      "problems" -> c.problems.toSeq)
    println("perfbench-report " + Json(c.report))
    println(Json(Map(
      "correct" -> c.problems.isEmpty,
      "attempted" -> c.attemptedOps,
      "failed" -> c.failedCount,
      "metrics" -> metrics)))
    rec.close()
    spark.stop()
    if (c.problems.nonEmpty) sys.exit(3)
  }
}

/** Runs set-up steps side by side and rethrows the first failure. */
object Par {
  def apply(tasks: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map(t => new Thread(() => try t() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

object Host {
  def loadAvg(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ")(0).toDouble finally src.close()
  }.getOrElse(-1.0)

  /** Bytes and regular-file count under `dir`. */
  def du(dir: String): (Long, Long) = {
    val f = new File(dir)
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File])
      .map(x => du(x.getPath)).foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }
}

/** Minimal JSON writer for the report and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
