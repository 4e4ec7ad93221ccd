package graft

/** Plan inspector: `runMain graft.ExplainMain [sfDir] [query...]` —
  * prints the formatted physical plan of each named query (all queries
  * when none named). Used to audit pushdown / pruning / join strategy /
  * codegen spans per SURVEY §4.
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { q =>
      println(s"===== $q")
      try SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"  failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
