package graft

/** Targeted micro-bench with Bench's exact methodology (same session,
  * warmup, noop sink, two passes with a GC settle, per-query MIN,
  * streaming queries on their own session, errors recorded) over a
  * named subset — so a single optimization can be re-measured in
  * seconds instead of a full 360-query run. Prints one JSON line per
  * query; a query that threw gets an `error` field and the exit code
  * is nonzero.
  * `runMain graft.QBench <sfDir> <q1,q2,…>`
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = Session.local(Session.cpus)
    Bench.warmup(spark, sfDir)
    val errors = new Bench.Errors()
    Bench.passes(spark, sfDir, names, errors).foreach { case (n, a, b) =>
      val err = Option(errors.get(n))
        .fold("")(e => ",\"error\":" + graft.util.Json.string(e))
      println(f"""{"q":"$n","min":${math.min(a, b)}%.2f,"p1":$a%.2f,"p2":$b%.2f$err}""")
    }
    spark.stop()
    if (!errors.isEmpty) sys.exit(1)
  }
}
