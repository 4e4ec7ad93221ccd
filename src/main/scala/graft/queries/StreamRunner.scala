package graft.queries

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of stream execution for the declared queries: every
  * memory-sink stream drains through [[toMemory]], and a stream that
  * keeps its own sink (q122's foreachBatch) takes the same partitioning
  * through [[onStatePartition]].
  *
  * A stateful operator keeps one state store per shuffle partition,
  * pinned from `spark.sql.shuffle.partitions` at query start, and each
  * store pays its own load and commit (a delta file, or a RocksDB
  * checkpoint with its file syncs) on every micro-batch, however few
  * rows it holds. The declared streams run one or two micro-batches of
  * at most ~10^5 events into at most ~10^5 state rows, so that fixed
  * cost set their time, not compute. Measured at sf0.01 on 4 cores,
  * the operator's `commitTimeMs` for one batch, summed over its
  * stores, was 530–750 ms on the HDFS-backed store (q41, q42, q101,
  * q107, q169) and ~950 ms on q310's RocksDB store (~850 ms of it
  * file sync) with 8 partitions; with one it is 30–140 ms and
  * 130–145 ms. 4 and 2 partitions land between (330–545 and 80–170
  * ms). At sf0.1 no stream was slower on one partition than on 8
  * beyond run-to-run spread (q107's session window, the largest
  * state at ~95k rows, moved +4%), and q64's stream-stream join,
  * which keeps four stores per partition, got faster than on its
  * former 4. Scales above sf0.1 are unmeasured: a stream whose state
  * outgrows one task's memory needs more partitions.
  */
private[queries] object StreamRunner {
  private val StatePartitions = 1
  private val ids = new AtomicInteger(0)

  /** Run `f` with [[StatePartitions]] shuffle partitions, restoring the
    * session's setting afterwards, also when `f` throws. */
  def onStatePartition[A](s: SparkSession)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StatePartitions.toString)
    try f finally s.conf.set(key, prev)
  }

  /** Drain `df` to completion in `mode` into a fresh memory table
    * `stream_<prefix>_<n>` and return that table. Each of `laterEpochs`
    * then commits more input while the query runs, and is drained in
    * turn. The query is stopped also when a batch throws. */
  def toMemory(s: SparkSession, prefix: String, df: DataFrame, mode: String,
      laterEpochs: Seq[() => Unit] = Nil): DataFrame = {
    val name = s"stream_${prefix}_${ids.incrementAndGet()}"
    onStatePartition(s) {
      val q = df.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        laterEpochs.foreach { ingest => ingest(); q.processAllAvailable() }
      } finally q.stop()
    }
    s.table(name)
  }
}
