package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test suite build
  * their session here, so a setting cannot drift between harnesses. */
object Session {

  /** Cores for a harness main: `SPARK_GRAFT_CPUS`, else every processor
    * the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, no UI, WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // without this, any plan feeding a .cache() compiles with AQE OFF
      // (fixed-width shuffles, no runtime coalesce) — the cached
      // tokenize/shingle/label intermediates are exactly where adaptive
      // coalescing matters most
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // round-11 measurement hygiene: with the UI off the app/SQL
      // status stores still retain the last 1000 executions' full
      // plan graphs + metrics (~300k SQLPlanMetric live mid-run on a
      // 360-query suite — measured via jcmd GC.class_histogram) and
      // feed the old-gen churn that inflated the late isolated
      // streaming walls in r10/r11-baseline. Nothing reads them in a
      // headless run; keep a small diagnostic tail only.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
