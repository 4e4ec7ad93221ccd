package graft.util

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.Bridge

/** The one owner of the build-once / reuse / release rule for query
  * intermediates — the engine's copy of the reference pipeline, where
  * task1_2's filtered counts and `TFIDF.txt` are written once and
  * re-read by every later job. Everything on disk lives under one
  * directory per JVM, created lazily in `java.io.tmpdir` and deleted by
  * [[clear]] (from [[Caches.clearAll]]) or a shutdown hook. Paths and
  * catalog tables are named `graft_<kind>_<hex SHA-256 of the dataset
  * path exactly as passed>`: two datasets share an artifact only when
  * their paths are the same string, and two JVMs never share one. */
object Artifacts {

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, SparkSession, String), Any]
  private val tables = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile private var rootDir: Option[File] = None
  sys.addShutdownHook(rootDir.foreach(FileUtils.deleteQuietly))

  private def root: File = synchronized {
    rootDir.getOrElse {
      val r = java.nio.file.Files.createTempDirectory("graft-artifacts-").toFile
      rootDir = Some(r)
      r
    }
  }

  /** The artifact root, if one exists (nothing is created on disk
    * before the first [[table]] or [[dir]] call). */
  private[graft] def rootIfCreated: Option[File] = rootDir

  private def name(kind: String, d: String): String = {
    val h = MessageDigest.getInstance("SHA-256").digest(d.getBytes(StandardCharsets.UTF_8))
    s"graft_${kind}_${h.map(b => f"${b & 0xff}%02x").mkString}"
  }

  /** `build` once per (kind, session, dataset); later calls return the
    * first result. A memoized optimizer rule is unregistered from its
    * session by [[clear]]. */
  def memo[T](kind: String, s: SparkSession, d: String)(build: => T): T =
    entries.getOrElseUpdate((kind, s, d), build).asInstanceOf[T]

  /** Write `df` once per (kind, session, dataset) as a bucketed (and
    * in-bucket sorted) external table `graft_<kind>_<hash>` under the
    * artifact root (see [[graft.io.Bucketing.writeBucketed]]) and read
    * it back — the scan carries the bucket spec, so joins and
    * aggregations on `key` are exchange-free. */
  def table(kind: String, s: SparkSession, d: String, key: String, buckets: Int,
            extraSort: Seq[String] = Nil)(df: => DataFrame): DataFrame = {
    val tbl = memo(kind, s, d) {
      val n = name(kind, d)
      tables.add(n)
      graft.io.Bucketing.writeBucketed(df, n, new File(root, n).getPath, key,
        buckets, extraSort)
      n
    }
    graft.io.Bucketing.read(s, tbl)
  }

  /** The per-dataset workspace `graft_<kind>_<hash>` under the artifact
    * root, deleted on every call: repeated invocations reuse one
    * directory instead of leaking one per call, and a returned
    * DataFrame may read it until the next call. */
  def dir(kind: String, d: String): String = {
    val f = new File(root, name(kind, d))
    FileUtils.deleteQuietly(f)
    f.getPath
  }

  /** Release everything: forget every entry (of every session),
    * unregister memoized rules, drop the registered tables and delete
    * the artifact root. Cached data is the caller's to unpersist
    * ([[Caches.clearAll]] sweeps it). Creates nothing on disk. */
  def clear(s: SparkSession): Unit = synchronized {
    entries.foreach {
      case ((_, es, _), r: Rule[LogicalPlan] @unchecked) =>
        Bridge.removeOptimization(es, r)
      case _ => ()
    }
    entries.clear()
    tables.forEach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
    tables.clear()
    rootDir.foreach(FileUtils.deleteQuietly)
    rootDir = None
  }
}
