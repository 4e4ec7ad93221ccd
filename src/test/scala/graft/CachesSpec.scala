package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import graft.util.{Artifacts, Caches}

/** End-of-run cache hygiene: after exercising the cache-heavy query
  * paths (Dedup per-call caches, TF-IDF/doc-vector memos),
  * Caches.clearAll must leave zero persisted RDDs — the invariant the
  * harness mains rely on in a long-lived session. */
class CachesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("clearAll leaves no persistent RDDs after cache-heavy queries") {
    val qs = SparkEntry.queries
    // q26: Dedup shingle+signature caches; q11: TextQueries memo;
    // q22: Clustering doc-vector memo + fit-loop cache; q52:
    // dedupGroups iterative caches + materialized result cache;
    // q79: bm25's tokenize-explode cache
    Seq("q26_dedup_minhash", "q11_doc_term_counts", "q22_kmeans_sparse",
        "q52_dedup_groups", "q79_bm25")
      .foreach(n => qs(n)(spark, TestSession.sf).collect())
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the query paths to have cached something")
    Caches.clearAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("clearAll releases every artifact: tables, files, rules; q224 reruns") {
    val qs = SparkEntry.queries
    val s = spark.newSession()
    def rows(n: String) = qs(n)(s, TestSession.sf).collect().map(_.toString).toSeq
    // memos (q15), bucketed tables (q109, q273), the MV rule and its
    // summary (q224), the grec table (q312) and per-call workspaces
    // (q122, q313 twice)
    Seq("q15_tfidf", "q109_triangles", "q224_mv_rewrite", "q273_bucketed_join",
        "q312_custom_source", "q122_stream_cdc_upsert",
        "q313_grec_write_roundtrip").foreach(rows)
    val q224 = rows("q224_mv_rewrite")
    rows("q313_grec_write_roundtrip")
    val root = Artifacts.rootIfCreated.getOrElse(fail("no artifact root"))
    assert(root.listFiles().count(_.getName.startsWith("graft_grec_rt_")) == 1,
      s"q313 leaked workspaces: ${root.list().toSeq}")
    def graftTables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSeq
    def mvRules = s.experimental.extraOptimizations
      .filter(_.isInstanceOf[graft.plans.SummaryRewrite])
    assert(graftTables.nonEmpty && mvRules.nonEmpty)

    Caches.clearAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
    assert(!root.exists(), s"artifact root survived: $root")
    assert(Artifacts.rootIfCreated.isEmpty)
    assert(graftTables.isEmpty, s"tables survived: $graftTables")
    assert(mvRules.isEmpty, "a SummaryRewrite over deleted files survived")

    // clearing an empty registry creates nothing on disk
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def roots = tmp.list().count(_.startsWith("graft-artifacts-"))
    val before = roots
    Caches.clearAll(spark)
    assert(Artifacts.rootIfCreated.isEmpty && roots == before)

    // the summary is rebuilt, not read from a deleted path
    assert(rows("q224_mv_rewrite") == q224)
    Caches.clearAll(spark)
  }
}
