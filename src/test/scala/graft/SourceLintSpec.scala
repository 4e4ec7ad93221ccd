package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Query modules build no artifact store of their own: memos, tables
  * and workspaces go through graft.util.Artifacts, which keys them on
  * the exact dataset path and releases them in Caches.clearAll. */
class SourceLintSpec extends AnyFunSuite {

  test("query modules use no private memo map, /tmp path or path slug") {
    val files = new File("src/main/scala/graft/queries").listFiles()
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.size >= 5, "query sources not found")
    val banned = Seq("TrieMap", "\"/tmp", "replaceAll(\"[^A-Za-z0-9]\"")
    val hits = for {
      f <- files
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toVector).zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getName}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
