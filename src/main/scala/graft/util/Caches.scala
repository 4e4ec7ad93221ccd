package graft.util

import org.apache.spark.sql.SparkSession

/** End-of-run cache hygiene. Query builders cache intermediates that
  * are reused within and across queries (shingle sets, TF-IDF counts,
  * doc vectors, bucketed artifacts) — correct for a batch run, a leak
  * in a long-lived session. The harness mains (Verify, Bench) call
  * [[clearAll]] after their query loop; tests assert nothing stays
  * persisted and no artifact outlives it. */
object Caches {

  /** Release every [[Artifacts]] entry (memos, tables, files, rules),
    * then unpersist every cached DataFrame/RDD. */
  def clearAll(spark: SparkSession): Unit = {
    Artifacts.clear(spark)
    // memoized and per-call caches (Dedup shingles/signatures, K-Means
    // inputs) are catalog-level cached plans:
    spark.catalog.clearCache()
    // staged snapshots (Snapshots.stage) are persisted at the RDD level:
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
