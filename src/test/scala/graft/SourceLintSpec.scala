package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Query modules build no artifact store of their own: memos, tables
  * and workspaces go through graft.util.Artifacts, which keys them on
  * the exact dataset path and releases them in Caches.clearAll. Streams
  * drain through graft.queries.StreamRunner, the one owner of their
  * sink and state partitioning. And no main or suite builds its own
  * session: graft.Session is the one factory. */
class SourceLintSpec extends AnyFunSuite {

  private def lines(f: File): Seq[(String, Int)] =
    scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
      _.getLines().toVector).zipWithIndex

  private lazy val querySources = {
    val files = new File("src/main/scala/graft/queries").listFiles()
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.size >= 5, "query sources not found")
    files
  }

  test("query modules use no private memo map, /tmp path or path slug") {
    val banned = Seq("TrieMap", "\"/tmp", "replaceAll(\"[^A-Za-z0-9]\"")
    val hits = for {
      f <- querySources
      (line, i) <- lines(f)
      b <- banned if line.contains(b)
    } yield s"${f.getName}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only StreamRunner drains a query's stream into a memory sink") {
    val sink = ".format(\"memory\")"
    val hits = for {
      f <- querySources if f.getName != "StreamRunner.scala"
      (line, i) <- lines(f) if line.contains(sink)
    } yield s"${f.getName}:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only graft/Session.scala builds a SparkSession") {
    val builder = "SparkSession" + ".builder"
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val files = Seq("src/main/scala", "src/test/scala").flatMap(d => sources(new File(d)))
    assert(files.size >= 100, "sources not found")
    val hits = for {
      f <- files if !f.getPath.endsWith("src/main/scala/graft/Session.scala")
      (line, i) <- lines(f) if line.contains(builder)
    } yield s"${f.getPath}:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
