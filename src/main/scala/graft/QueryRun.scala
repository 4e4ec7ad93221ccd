package graft

/** Debug runner: execute ONE declared query and show its result.
  * `sbt "runMain graft.QueryRun q120_kmeanspar_recluster /root/testdata/sf0.001"` */
object QueryRun {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Session.local(Session.cpus)
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.length > 2) {
      df.coalesce(1).write.mode("overwrite").parquet(s"${args(2)}/$name")
      println(s"wrote ${args(2)}/$name")
    } else df.show(50, truncate = false)
    println(s"rows: ${df.count()}")
    spark.stop()
  }
}
