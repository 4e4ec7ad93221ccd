package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Queries run in name order (stable across rounds for diffing);
  * a short untimed warmup action first so the earliest query doesn't
  * absorb JVM/JIT/codegen startup.
  *
  * Bench also owns the measurement loop that [[QBench]] and
  * [[ScaleProbe]] run over a named subset: [[warmup]], [[gcSettle]],
  * [[timedNoop]], [[twoPasses]] and [[passes]].
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame
  /** Query name → message of each query that threw while timed. */
  type Errors = ConcurrentHashMap[String, String]

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    warmup(spark, sfDir)
    // record the error message per query and exit nonzero at the end
    val errors = new Errors()
    // Structured Streaming entries each pay a fixed query start/stop,
    // offset/commit log writes and state-store commits per micro-batch
    // beside a trivial slice of compute. Most of what was once ~1-3 s
    // per stream was the commits of 8 state stores; the runner
    // (graft.queries.StreamRunner) now keeps one. The streaming set
    // (SparkEntry.streaming) runs CONCURRENTLY so the remaining fixed
    // costs overlap on idle cores, each on its own cloned session so
    // the runner's shuffle-partition pin can't race across threads.
    // Each is still timed by its own start→finish wall clock, and
    // Verify runs them unchanged (sequentially).
    val streaming = SparkEntry.streaming
    val (streamQ, batchQ) =
      SparkEntry.queries.toSeq.sortBy(_._1).partition(q => streaming(q._1))
    def timed(s: SparkSession, name: String, fn: Query) =
      timedNoop(s, sfDir, errors, name, fn)
    // timedPass returns (per-query seconds, pass wall seconds, streaming
    // group wall seconds, batch wall seconds). The pass wall is what
    // "run the whole suite" actually costs: the streaming group
    // overlaps, so it's less than the per-query sum (whose streaming
    // entries each still report their own start→finish wall, inflated
    // by running beside the others — the GROUP wall is the attributable
    // number for the concurrent block; see streaming_isolated for
    // per-query nets).
    def timedPass(): (Seq[(String, Double)], Double, Double, Double) = {
      val w0 = System.nanoTime()
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      // pool sizing, round-12 (r11 verdict item 1): r11's fixed pool
      // of 10 was tuned on the builder's machine (local A/B: unbounded
      // 8.00 s, pool=10 7.16 s — a 12% edge) but DOUBLED the group
      // wall in the driver's environment (9.03 s in r10's unbounded
      // shape → 17.68 s), because 17 queries over 10 slots serialize
      // into two waves and the 7 wave-2 rows (q358/q359 showed 10.2/
      // 9.0 s in-group vs 3.0/1.9 s isolated) each re-pay the fixed
      // query-start/state-store cost on a now-busy JVM. The pool is
      // now derived from the session's core count — at ≥16 cores every
      // streaming query runs in the single wave the r10 driver
      // measurement validated; below that the pool shrinks with the
      // machine so a small host isn't thrashed by 17 concurrent
      // state-store inits. Daemon threads so the pool never pins the
      // JVM.
      val poolSize = math.min(streamQ.size,
        math.max(4, spark.sparkContext.defaultParallelism))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(
          java.util.concurrent.Executors.newFixedThreadPool(poolSize, r => {
            val t = new Thread(r); t.setDaemon(true); t
          }))
      val streamed = Await.result(
        Future.sequence(streamQ.map { case (name, fn) =>
          Future(timed(spark.newSession(), name, fn))
        }), Duration.Inf)
      val streamWall = (System.nanoTime() - w0) / 1e9
      val b0 = System.nanoTime()
      val batched = batchQ.map { case (name, fn) => timed(spark, name, fn) }
      val batchWall = (System.nanoTime() - b0) / 1e9
      ((streamed ++ batched).sortBy(_._1), (System.nanoTime() - w0) / 1e9,
        streamWall, batchWall)
    }
    val ((pass1, wall1, sWall1, bWall1), (pass2, wall2, sWall2, bWall2)) =
      twoPasses(spark)(timedPass())
    // diagnostic third mini-pass: the streaming group SEQUENTIALLY,
    // one query at a time, so each row's wall is attributable (the
    // concurrent group's per-query walls mutually inflate — a real
    // regression in one streaming query can hide inside that). Not
    // part of the headline numbers (those stay concurrent min-of-two,
    // comparable with earlier rounds).
    // A STATELESS CONTROL row leads the pass: a pass-through file
    // stream → memory sink (no watermark, no state store, no join),
    // so its wall is purely the fixed query start/stop + source-read
    // overhead — if the control drifts across rounds the environment
    // moved, if only stateful rows drift the state path did.
    gcSettle()
    val isoControl = timed(spark.newSession(), "iso_control_stateless",
      (s, dir) => {
        val name = "stream_isoctl"
        val q = graft.io.Tables.eventsStream(s, dir)
          .select(org.apache.spark.sql.functions.col("event_id"),
            org.apache.spark.sql.functions.col("user_id"))
          .writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        q.processAllAvailable(); q.stop()
        s.table(name)
      })._2
    // per-row GC settle (round-11): the whole point of this pass is
    // per-query ATTRIBUTION — without the settle, a row inherits its
    // predecessor's un-collected allocation debt (the r10 "isolated
    // regression" was exactly this: late-JVM old-gen churn billed to
    // whichever stateful row ran next). ~4 s/row of untimed overhead,
    // bought for walls that track the fresh-JVM truth.
    val streamingIsolated = streamQ.map { case (name, fn) =>
      gcSettle()
      timed(spark.newSession(), name, fn)
    }
    graft.util.Caches.clearAll(spark)
    val results = pass1.zip(pass2).map { case ((n, a), (_, b)) => n -> math.min(a, b) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total = the better pass's measured wall (the real cost of running
    // the suite once); per-query values are per-query min-of-two walls,
    // and the streaming four overlap, so summing them overstates total
    val total = math.min(wall1, wall2)
    val errJson =
      if (errors.isEmpty) ""
      else {
        import scala.jdk.CollectionConverters._
        val es = errors.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
          graft.util.Json.string(k) + ":" + graft.util.Json.string(v)
        }.mkString("{", ",", "}")
        s""","errors":$es"""
      }
    // The driver's BENCH artifact keeps only the TAIL of this line once
    // the per-query map outgrows its buffer — so the headline numbers
    // ride at the END, where truncation can't eat them.
    val times = results.map(_._2).sorted
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    // control row (q02 = trivial filter-project): a fixed-shape query
    // whose drift across rounds isolates host/environment speed from
    // per-query regressions. streaming_group_wall = the attributable
    // cost of the concurrent streaming block; streaming_isolated =
    // per-query walls with no concurrent siblings.
    val control = results.toMap.getOrElse("q02_filter_project", -1.0)
    val isoJson = streamingIsolated
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    // batch_total_sec + streaming_group_wall_sec are the CROSS-ROUND
    // comparables (round-11, verdict ask #4): total_sec still sums a
    // suite pass whose streaming block runs concurrently, so adding
    // queries to the streaming group moves total_sec without any
    // per-query regression — r10's 603 vs r9's 427 read as a 41%
    // regression while the streaming group wall had IMPROVED.
    val summary = s""""summary":{"n":${results.size},"total_sec":$total,""" +
      f""""batch_total_sec":${math.min(bWall1, bWall2)}%.2f,""" +
      f""""median_sec":${times(times.size / 2)}%.3f,""" +
      f""""max_sec":${times.last}%.3f,"slowest":$slowest,""" +
      f""""control_q02_sec":$control%.3f,""" +
      f""""streaming_group_wall_sec":${math.min(sWall1, sWall2)}%.2f,""" +
      f""""streaming_iso_control_sec":$isoControl%.2f,""" +
      s""""streaming_isolated":$isoJson,""" +
      s""""comparable_fields":"batch_total_sec+streaming_group_wall_sec",""" +
      s""""n_errors":${errors.size}}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"$errJson,$summary}""")
    spark.stop()
    if (!errors.isEmpty) sys.exit(1)
  }

  /** Untimed: exercises codegen, shuffle machinery and the parquet
    * reader once so per-query numbers measure the queries. */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(2000000).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
  }

  private[graft] def gcSettle(): Unit = { System.gc(); Thread.sleep(2000); System.gc() }

  /** Wall seconds of one `fn` run into the noop sink. The noop-format
    * write evaluates EVERY output column (count() lets Catalyst prune
    * deterministic projections, underreporting expression-heavy
    * queries) while writing nothing. A throwing query must NOT bench as
    * a phantom-fast green number: its message goes into `errors`. */
  private[graft] def timedNoop(s: SparkSession, sfDir: String, errors: Errors,
      name: String, fn: Query): (String, Double) = {
    val t0 = System.nanoTime()
    try fn(s, sfDir).write.mode("overwrite").format("noop").save()
    catch {
      case e: Throwable =>
        errors.put(name,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // MEMORY-SINK HYGIENE (round-11, measured root cause of the r10
    // "isolated streaming regression"): every streaming query's
    // memory-sink result table was RETAINED for the rest of the JVM
    // — by the late isolated pass ~2.5 GB of dead result rows sat in
    // an 8 GB heap and GC pressure inflated exactly the allocation-
    // heavy stateful rows (q311 6.4→10.8 s at 30 retained tables in
    // a round-11 contamination A/B; dropping the views recovered
    // 10.8→4.2 s with heap 2564→67 MB). Dropping AFTER the timed
    // window keeps the measurement itself unchanged. Only `stream_*`
    // views are dropped — the co-purchase memo table is a cross-query
    // cache.
    try s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_"))
      .foreach(t => s.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
    name -> sec
  }

  /** Two timed passes, each after a GC settle and followed by a cache
    * clear; callers report the per-query MIN. A single pass right after
    * other JVM work (Bench usually runs right after the test suite) shows
    * 2-6x phantom spikes from GC/JIT interference that vanish on a
    * quiet JVM; min-of-two is immune to one-off stalls while still
    * charging real per-query cost (caches are cleared between passes so
    * the second pass re-pays cache builds, not just reads). */
  private[graft] def twoPasses[A](spark: SparkSession)(pass: => A): (A, A) = {
    gcSettle()
    val p1 = pass
    graft.util.Caches.clearAll(spark)
    gcSettle()
    val p2 = pass
    graft.util.Caches.clearAll(spark)
    (p1, p2)
  }

  /** [[twoPasses]] over `names` one query at a time, each a
    * [[timedNoop]]; a streaming query runs on its own `newSession()`,
    * as in Bench's streaming group, so its shuffle-partition pin never
    * touches `spark`. Returns (name, pass-1 s, pass-2 s) in `names`
    * order. */
  private[graft] def passes(spark: SparkSession, sfDir: String,
      names: Seq[String], errors: Errors): Seq[(String, Double, Double)] = {
    val all = SparkEntry.queries
    val (p1, p2) = twoPasses(spark)(names.map { n =>
      val s = if (SparkEntry.streaming(n)) spark.newSession() else spark
      timedNoop(s, sfDir, errors, n, all(n))._2
    })
    names.lazyZip(p1).lazyZip(p2).map((n, a, b) => (n, a, b))
  }
}
