package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (driven by `perfbench/run.py`).
  *
  * One closed-loop client thread runs a workload's queries back to back
  * through the public `graft.SparkEntry.queries` builders, pass after
  * pass, until the measuring time is up. A query is timed from the
  * builder call until its full result is written as parquet (no
  * coalesce, so every output column is evaluated); the written result is
  * what `run.py` then checks against the query's DuckDB oracle.
  *
  * Every pass runs on a fresh `spark.newSession()` after
  * `graft.util.Caches.clearAll`, so each pass re-pays the memoized
  * artifact builds instead of reading an earlier pass's copies.
  *
  * Arguments (all required unless noted):
  *   --data DIR        generated input tables
  *   --out DIR         per-pass results and `result.json`
  *   --queries q:m,..  query names, in run order, each with the `graft`
  *                     module its plan is charged to when traced
  *   --seconds N       measuring time; passes start until it is used up
  *   --trace 0|1       1 registers the benchmark's listeners (see [[Tracer]])
  *   --tmp DIR         Spark local dir
  *   --setup-only      (optional) exit once set-up is done
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val setupOnly = args.contains("--setup-only")
    val dataDir = opt("--data")
    val outDir = opt("--out")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("--tmp"))
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val builders = graft.SparkEntry.queries
    // set-up ends here: the JVM, the session and the program's query
    // table are ready for a first query
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (setupOnly) {
      Files.createDirectories(Paths.get(outDir))
      Files.writeString(Paths.get(outDir, "setup.json"), s"""{"setup_s":$setupS}""")
      Runtime.getRuntime.halt(0)
    }
    val queryModules = opt("--queries").split(",").toSeq.map(_.split(":") match {
      case Array(q, m) if Tracer.Modules.contains(m) => q -> m
      case other => throw new IllegalArgumentException(s"bad --queries entry ${other.mkString(":")}")
    })
    val names = queryModules.map(_._1)
    val oracles = graft.SparkEntry.oracleSql
    val missing = names.filterNot(n => builders.contains(n) && oracles.contains(n))
    require(missing.isEmpty, s"queries without a builder or an oracle: ${missing.mkString(",")}")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracles.json"),
      names.map(n => s"${Json.str(n)}:${Json.str(oracles(n))}").mkString("{", ",", "}"))
    val seconds = opt("--seconds").toDouble
    val tracer =
      if (opt("--trace") == "1") Some(new Tracer(spark, cores, queryModules.toMap)) else None

    val records = Seq.newBuilder[QueryRecord]
    val passWalls = Seq.newBuilder[(Boolean, Double)]
    // Pass 0 is the cold pass of a fresh JVM; later passes run warm.
    // Passes start until the measuring time is used up, and there are
    // always at least three. A traced run follows the cold pass and one
    // untraced warm-up pass (where the JIT still gains most) with
    // untraced/traced pairs in the order U T T U U T T U ..., so that
    // neither kind always runs on the warmer JIT, and ends on a whole
    // pair: the untraced passes are the reference for the tracing cost.
    val warmup = 2
    def isTraced(p: Int): Boolean = tracer.isDefined && p >= warmup &&
      ((p - warmup) / 2 % 2 == 0) == ((p - warmup) % 2 == 1)
    val minPasses = if (tracer.isDefined) warmup + 4 else 3
    var pass = 0
    val t0 = System.nanoTime()
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds ||
      (tracer.isDefined && (pass - warmup) % 2 == 1)) {
      val traced = isTraced(pass)
      graft.util.Caches.clearAll(spark)
      val s = spark.newSession()
      if (traced) tracer.get.attach(s)
      val p0 = System.nanoTime()
      for (name <- names) {
        val q0 = System.nanoTime()
        val qMs = System.currentTimeMillis()
        var built = q0
        if (traced) tracer.get.mark(name, "build")
        val error =
          try {
            val df = builders(name)(s, dataDir)
            built = System.nanoTime()
            if (traced) tracer.get.mark(name, "exec")
            df.write.mode("overwrite").parquet(s"$outDir/p$pass/$name")
            None
          } catch {
            case e: Throwable =>
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          }
        val q1 = System.nanoTime()
        if (traced) tracer.get.endQuery(name, qMs, (built - q0) / 1e9, (q1 - built) / 1e9)
        records += QueryRecord(pass, name, traced, (q1 - q0) / 1e9, error)
        // memory-sink result tables would otherwise stay live for the
        // rest of the JVM (the same hygiene graft.Bench applies)
        s.catalog.listTables().collect()
          .filter(t => t.isTemporary && t.name.startsWith("stream_"))
          .foreach(t => s.catalog.dropTempView(t.name))
        if (traced) tracer.get.mark("", "idle")
      }
      passWalls += traced -> (System.nanoTime() - p0) / 1e9
      if (traced) tracer.get.detach()
      pass += 1
    }

    graft.util.Caches.clearAll(spark)
    val traceJson = tracer.map { t =>
      val paired = passWalls.result().drop(warmup)
      t.finish(outDir, paired.collect { case (true, w) => w }, paired.collect { case (false, w) => w })
    }
    System.gc(); Thread.sleep(300); System.gc()
    val retainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val queriesJson = records.result().map(_.json).mkString("[", ",\n", "]")
    val wallsJson = passWalls.result()
      .map { case (tr, w) => s"""{"traced":$tr,"wall_s":$w}""" }.mkString("[", ",", "]")
    Files.writeString(Paths.get(outDir, "result.json"),
      s"""{"setup_s":$setupS,"cores":$cores,"retained_heap_mb":$retainedMb,""" +
        s""""peak_rss_mb":${peakRssMb()},"passes":$wallsJson,""" +
        s""""trace":${traceJson.getOrElse("null")},"queries":$queriesJson}""")
    spark.stop()
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MiB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  final case class QueryRecord(pass: Int, name: String, traced: Boolean,
                               totalS: Double, error: Option[String]) {
    def json: String =
      s"""{"pass":$pass,"query":"$name","traced":$traced,"total_s":$totalS,""" +
        s""""error":${error.map(Json.str).getOrElse("null")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
