package graft

/** Regenerates the plan dumps in PLANS.md: prints the executed plan of
  * each named query (all of `SparkEntry.queries` if no names given) on
  * sf0.001. Usage:
  * `sbt "runMain graft.PlanDump [sfDir] [--execute] [--formatted] [q01_... q22_...]"`;
  * `--execute` collects each query first so the printed plan is the
  * AQE-finalized one (with runtime stage sizes), plus wall time;
  * `--formatted` prints `explain("formatted")` (numbered operators +
  * details: PushedFilters/ReadSchema/join build sides) instead of the
  * compact tree — the plans/r15 before/after artifact format.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // sfDir is the first NON-FLAG, NON-QUERY-NAME argument: with no
    // sfDir given, `runMain graft.PlanDump --formatted q01` must treat
    // neither the flag nor the query name as a data directory (r15
    // advice)
    val (flags, positional) = args.partition(_.startsWith("--"))
    val known = SparkEntry.queries.keySet
    val sfDir = positional.headOption.filterNot(known)
      .getOrElse("/root/testdata/sf0.001")
    val execute = flags.contains("--execute")
    val formatted = flags.contains("--formatted")
    val rest = positional.filterNot(_ == sfDir).toSeq
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    // pinned at 4 cores: the PLANS.md dumps show 4-partition plans
    val spark = GraftSession.local(4)
      .config("spark.sql.maxMetadataStringLength", 200)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n## $name\n")
      if (execute) {
        val t0 = System.nanoTime()
        df.collect()
        println(f"(executed in ${(System.nanoTime() - t0) / 1e9}%.2f s)%n")
      }
      println("```")
      if (formatted)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).trim)
      else println(df.queryExecution.executedPlan.toString.trim)
      println("```")
    }
    spark.stop()
  }
}
