package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated name prefixes — dump (and list
    // in oracle_sql.json) only matching queries. Local iteration aid;
    // the driver always calls with exactly two args.
    val only: String => Boolean = args.lift(2) match {
      case Some(p) =>
        val ps = p.split(",").toSeq; name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    graft.util.Caches.clearAll(spark)
    // every string fully escaped: one raw control char would make
    // oracle_sql.json unparsable and fail every oracle compare
    import graft.util.Json.{string => q}
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
