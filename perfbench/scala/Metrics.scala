package perfbench

import java.io.File

/** The metric catalog and how each metric is computed from a run. Every
  * run reports the full catalog of its mode (end-to-end or per-layer),
  * whatever the workload: a layer a workload never calls reads 0.
  */
object Metrics {
  def m(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The unit kinds every workload runs; see each workload for what they are. */
  val Kinds: Seq[String] = Seq("a", "b", "c")

  /** Tracing off: set-up time and the median wall of each unit kind. */
  def endToEnd(c: Ctx, setupS: Double): Map[String, Any] =
    Map("setup_s" -> m(setupS, "s")) ++
      Kinds.map(k => s"unit_${k}_s" -> m(median(c.walls.getOrElse(k, Nil).toSeq), "s"))

  /** Layer calls timed as spans, reported as self time over the wall of
    * the units that contain them.
    */
  val LayerCalls: Seq[String] = Seq(
    "jobs.extract", "jobs.staging", "jobs.warehouse_load", "jobs.datamart",
    "streaming.neardup") ++
    QueryMix.All.map(q => s"entry.$q")

  /** Counts per unit of work (or per run, for end-state counts). */
  val Counts: Seq[(String, String)] = Seq(
    "control.audit_files" -> "count",
    "sources.bytes_written" -> "bytes",
    "sources.files" -> "count",
    "sources.stored_bytes_per_input_byte" -> "ratio",
    "operators.scd2_expired" -> "count",
    "operators.rows_rejected" -> "count",
    "streaming.batches" -> "count",
    "streaming.add_batch_share" -> "share",
    "streaming.commit_share" -> "share")

  /** Names and units of every per-layer metric, in report order. */
  val perLayerCatalog: Seq[(String, String)] =
    Kinds.flatMap(k => Seq(
      s"$k.traced_unit_s" -> "s",
      s"$k.spark.jobs" -> "count",
      s"$k.spark.tasks" -> "count",
      s"$k.spark.driver_s" -> "s",
      s"$k.spark.job_s_p50" -> "s",
      s"$k.spark.short_job_share" -> "share",
      s"$k.spark.task_cpu_s" -> "s",
      s"$k.spark.task_cpu_per_wall" -> "ratio",
      s"$k.spark.gc_share" -> "share",
      s"$k.spark.shuffle_write_bytes" -> "bytes",
      s"$k.spark.spill_bytes" -> "bytes",
      s"$k.host.cpu_per_wall" -> "ratio")) ++
    LayerCalls.flatMap(n => Seq(s"${n}_share" -> "share", s"${n}_jobs" -> "count")) ++ Counts

  /** Self time of each span: its wall minus its children's, by span id. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(x => x.end - x.start).sum }
    spans.map(s => s.id -> ((s.end - s.start) - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Length of the union of `[s, e)` intervals, clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var (total, cur) = (0L, lo)
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val (s, e) = (math.max(s0, cur), math.min(e0, hi))
      if (e > s) { total += e - s; cur = e }
    }
    total
  }

  def perLayer(c: Ctx, spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Any] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    val spanUnit = spans.map(s => s"pb-${s.id}" -> s.unit).toMap
    val units = spans.filter(s => s.parent == 0 && Kinds.contains(s.name))
    for (k <- Kinds) {
      val us = units.filter(_.name == k)
      val n = us.size.max(1).toDouble
      val ids = us.map(_.unit).toSet
      val js = jobs.filter(j => spanUnit.get(j.group).exists(ids.contains))
      val wallS = us.map(u => (u.end - u.start) / 1e9).sum
      val inJobs = us.map(u => covered(js.map(j => (j.start, j.end)), u.start, u.end)).sum / 1e9
      val short = us.map(u => covered(js.filter(j => j.end - j.start < 200000000L)
        .map(j => (j.start, j.end)), u.start, u.end)).sum / 1e9
      out(s"$k.traced_unit_s") = m(median(us.map(u => (u.end - u.start) / 1e9)), "s")
      out(s"$k.spark.jobs") = m(js.size / n, "count")
      out(s"$k.spark.tasks") = m(js.map(_.tasks).sum / n, "count")
      out(s"$k.spark.driver_s") = m((wallS - inJobs) / n, "s")
      out(s"$k.spark.job_s_p50") = m(median(js.map(j => (j.end - j.start) / 1e9)), "s")
      out(s"$k.spark.short_job_share") = m(if (wallS > 0) short / wallS else 0.0, "share")
      out(s"$k.spark.task_cpu_s") = m(js.map(_.cpuNs).sum / 1e9 / n, "s")
      out(s"$k.spark.task_cpu_per_wall") = m(if (wallS > 0) js.map(_.cpuNs).sum / 1e9 / wallS else 0.0, "ratio")
      out(s"$k.spark.gc_share") = m(if (wallS > 0) us.map(_.gcMs).sum / 1e3 / wallS else 0.0, "share")
      out(s"$k.spark.shuffle_write_bytes") = m(js.map(_.shuffleWrite).sum / n, "bytes")
      out(s"$k.spark.spill_bytes") = m(js.map(_.spill).sum / n, "bytes")
      out(s"$k.host.cpu_per_wall") = m(if (wallS > 0) us.map(_.cpuNs).sum / 1e9 / wallS else 0.0, "ratio")
    }
    // self time of each named layer call over the wall of its units
    val timedUnits = units.map(u => u.unit -> u).toMap
    val self = selfNs(spans)
    for (name <- LayerCalls) {
      val ss = spans.filter(s => s.name == name && timedUnits.contains(s.unit))
      val wall = ss.map(_.unit).distinct.map(u => timedUnits(u)).map(u => u.end - u.start).sum
      val groups = ss.map(s => s"pb-${s.id}").toSet
      out(s"${name}_share") = m(if (wall > 0) ss.map(x => self(x.id)).sum.toDouble / wall else 0.0, "share")
      out(s"${name}_jobs") = m(jobs.count(j => groups.contains(j.group)).toDouble / ss.size.max(1), "count")
    }
    for ((name, unit) <- Counts) out(name) = m(c.counts(name), unit)
    val catalog = perLayerCatalog
    require(catalog.map(_._1).toSet == out.keySet, "per-layer metrics differ from the catalog")
    scala.collection.immutable.ListMap(catalog.map { case (name, _) => name -> out(name) }: _*)
  }
}

/** Writes the run's spans and Spark jobs as one JSON file when it ends. */
object Trace {
  def write(c: Ctx, file: File): (Seq[Span], Seq[JobRec]) = {
    val spans = c.rec.allSpans
    val jobs = c.rec.jobs()
    Option(file.getParentFile).foreach(_.mkdirs())
    val self = Metrics.selfNs(spans)
    val js = Json(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "unit" -> s.unit, "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id),
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.group, "start_ns" -> j.start,
        "end_ns" -> j.end, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill))))
    java.nio.file.Files.write(file.toPath, js.getBytes("UTF-8"))
    (spans, jobs)
  }
}
