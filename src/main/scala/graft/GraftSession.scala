package graft

import graft.control.SessionDefaults
import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The library's front door: every SparkSession the engine builds
  * starts here, with the graft SQL functions installed as a session
  * extension (the [[graft.plans.GraftExtensions.descriptors]] catalog).
  *
  *  - [[builder]] is the cluster entry: the
  *    [[graft.control.SessionDefaults]] sizing rules on top.
  *  - [[local]] is the pinned single-JVM session the mains and the test
  *    suite run on, so what they measure is what production builds.
  *
  * {{{
  * val spark = GraftSession.builder(totalCores = 4000, largestTableGB = 102400)
  *   .master(...)            // or spark-submit supplies it
  *   .getOrCreate()
  * val dev = GraftSession.local(GraftSession.localCores).getOrCreate()
  * }}}
  */
object GraftSession {
  /** The graft SQL functions, and [[graft.sources.LocalFs]] as the
    * `file:` filesystem of both Hadoop file APIs.
    */
  private def base: SparkSession.Builder =
    SparkSession.builder().withExtensions(new GraftExtensions)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.LocalFs.Fc].getName)

  def builder(totalCores: Int, largestTableGB: Long): SparkSession.Builder =
    SessionDefaults.configure(base, totalCores, largestTableGB)

  /** `local[cores]` with one shuffle partition per core, UTC session
    * time, ns parquet timestamps read as longs (`events.parquet`;
    * `Tables.events` converts them), and no UI.
    */
  def local(cores: Int): SparkSession.Builder = base
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // let AQE re-plan CACHED frames too: a persisted bounded frame
    // otherwise pins its pre-AQE wide layout and every downstream
    // stage pays a full task wave over dozens of rows
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.ui.enabled", "false")

  /** `SPARK_GRAFT_CPUS`, or every available processor when unset. */
  def localCores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCores(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      val n = v.trim.toIntOption
      require(n.exists(_ > 0), s"SPARK_GRAFT_CPUS must be an integer > 0, got '$v'")
      n.get
  }
}
