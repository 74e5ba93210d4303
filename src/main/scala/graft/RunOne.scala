package graft

/** Debug surface: run ONE SparkEntry query by name against an SF dir —
  * count, time, optionally dump the formatted physical plan. Saves a
  * full Verify/Bench cycle when iterating on a single operator.
  *
  * sbt "runMain graft.RunOne q55_dedup_clusters [sfDir] [explain]"
  */
object RunOne {
  /** `(name, sfDir, explain)`: sfDir is the first argument after the
    * name that is not the `explain` flag, so `q55 explain` alone keeps
    * the default data directory.
    */
  private[graft] def parseArgs(args: Array[String]): (String, String, Boolean) = {
    require(args.nonEmpty, "usage: RunOne <query> [sfDir] [explain]")
    val rest = args.tail
    (args.head, rest.find(_ != "explain").getOrElse("/root/testdata/sf0.01"),
      rest.contains("explain"))
  }

  /** `SPARK_GRAFT_EXTRA_CONF` entries: `;`-separated `key=value` pairs;
    * the value may itself contain `=` (only the first one splits).
    */
  private[graft] def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      (kv.substring(0, i), kv.substring(i + 1))
    }

  def main(args: Array[String]): Unit = {
    val (name, sfDir, explain) = parseArgs(args)
    val spark = GraftSession.local(GraftSession.localCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_JOB_TRACE=1: one stderr line per Spark job (wall,
    // stage/task counts) — the guide §1 "where does the time go" probe
    // for operators whose cost is a chain of driver-blocking jobs
    // (iterative loops, collected seams), where the SQL-plan dump
    // can't see the job boundaries
    if (sys.env.get("SPARK_GRAFT_JOB_TRACE").contains("1")) {
      import org.apache.spark.scheduler._
      spark.sparkContext.addSparkListener(new SparkListener {
        private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        private val st = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int)]()
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          t0.put(j.jobId, System.nanoTime())
          st.put(j.jobId,
            (j.stageInfos.size, j.stageInfos.map(_.numTasks).sum))
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit = {
          val w = (System.nanoTime() - t0.getOrDefault(j.jobId, 0L)) / 1e9
          val (ns, nt) = st.getOrDefault(j.jobId, (0, 0))
          System.err.println(
            f"[jobtrace] job=${j.jobId}%-4d wall=$w%7.3fs stages=$ns tasks=$nt")
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val m = i.taskMetrics
          System.err.println(
            f"[stagetrace] stage=${i.stageId}%-4d tasks=${i.numTasks}%-3d " +
              f"run=${m.executorRunTime / 1e3}%7.3fs " +
              f"cpu=${m.executorCpuTime / 1e9}%7.3fs " +
              f"deser=${m.executorDeserializeTime / 1e3}%6.3fs " +
              f"gc=${m.jvmGCTime / 1e3}%6.3fs " +
              f"in=${m.inputMetrics.recordsRead}%-7d " +
              f"sr=${m.shuffleReadMetrics.recordsRead}%-7d " +
              f"sw=${m.shuffleWriteMetrics.recordsWritten}%-7d " +
              f"${i.name.take(50)}")
        }
      })
    }
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(parseExtraConf).getOrElse(Nil)
      .foreach { case (k, v) => spark.conf.set(k, v) }
    val fn = SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    // time construction + count per run, as Bench does — operators with
    // eager driver-side stages (iterative loops, collected codebooks)
    // spend real time BEFORE the final plan exists
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[runone] $name run$i rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
