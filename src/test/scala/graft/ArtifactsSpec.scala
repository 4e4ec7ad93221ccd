package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Artifacts built once per dataset are keyed on the dataset path
  * exactly as passed: two paths that differ only in punctuation
  * (`…/a/b` vs `…/a_b`) must never read each other's artifact, in one
  * session or across sessions. */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("datasets at …/a/b and …/a_b never share an artifact") {
    val base = Files.createTempDirectory("artifacts-collision").toFile
    try {
      val ab = new File(base, "c/a/b")
      val a_b = new File(base, "c/a_b")
      for (d <- Seq(ab, a_b)) FileUtils.copyDirectory(new File(TestSession.sf), d)
      // a_b: drop the events of half the users
      FileUtils.deleteQuietly(new File(a_b, "events.parquet"))
      spark.read.parquet(s"${TestSession.sf}/events.parquet")
        .where(col("user_id") % 2 === 0)
        .write.parquet(new File(a_b, "events.parquet").getPath)

      val q81 = SparkEntry.queries("q81_session_overlap")
      def run(s: org.apache.spark.sql.SparkSession, d: File) =
        q81(s, d.getPath).collect().map(_.toString).toSeq
      val fresh = Seq(ab, a_b).map(d => d -> run(spark.newSession(), d)).toMap
      assert(fresh(ab) != fresh(a_b), "the two datasets must differ")

      val s = spark.newSession()
      for (d <- Seq(ab, a_b, ab))
        assert(run(s, d) == fresh(d), s"q81 on $d read another dataset's artifact")
    } finally {
      graft.util.Caches.clearAll(spark)
      FileUtils.deleteQuietly(base)
    }
  }
}
