package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.queries.UserSessState

/** Streaming-specific behavior not covered by the oracle checks:
  * state must carry across micro-batches, not just within one. */
class StreamingStateSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("flatMapGroupsWithState session counts survive multiple batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    val gapUs = 1800L * 1000000L

    // batch 1: two events 10 min apart (same session)
    Seq((1L, 1L, 0L), (1L, 2L, 600L * 1000000L))
      .toDF("user_id", "event_id", "us").repartition(1)
      .write.parquet(s"$dir/b1")
    // batch 2: one event 2 h after the last -> second session
    Seq((1L, 3L, 7800L * 1000000L))
      .toDF("user_id", "event_id", "us").repartition(1)
      .write.parquet(s"$dir/b2")

    val schema = spark.read.parquet(s"$dir/b1").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // force one file per micro-batch
      .parquet(s"$dir/*/")
      .as[(Long, Long, Long)]
    val sess = src.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[UserSessState]) =>
          var st = state.getOption.getOrElse(UserSessState(Long.MinValue, 0L, 0L))
          it.toSeq.sortBy(e => (e._3, e._2)).foreach { e =>
            val ns = st.lastUs == Long.MinValue || e._3 - st.lastUs > gapUs
            st = UserSessState(e._3, st.nSessions + (if (ns) 1 else 0), st.nEvents + 1)
          }
          state.update(st)
          Iterator((uid, st.nSessions, st.nEvents))
      }.toDF("user_id", "n_sessions", "n_events")
    val q = sess.writeStream.outputMode("update")
      .format("memory").queryName("sess_batches").start()
    q.processAllAvailable()
    q.stop()
    // latest update row: 2 sessions, 3 events — state crossed batches
    val last = spark.table("sess_batches").collect().last
    assert(last.getLong(1) == 2L && last.getLong(2) == 3L)
    // and more than one update row proves multiple micro-batches ran
    assert(spark.table("sess_batches").count() >= 2)
  }

  test("transformWithState (state v2) session counts survive multiple batches " +
    "and match the flatMapGroupsWithState fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_tws").toString
    // same fixture as the fMGWS test: one session in batch 1, a
    // second opened by batch 2 — state must carry across batches
    // through the RocksDB ValueState
    Seq((1L, 1L, 0L), (1L, 2L, 600L * 1000000L))
      .toDF("user_id", "event_id", "us").repartition(1)
      .write.parquet(s"$dir/b1")
    Seq((1L, 3L, 7800L * 1000000L))
      .toDF("user_id", "event_id", "us").repartition(1)
      .write.parquet(s"$dir/b2")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(providerKey, "")
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/*/")
        .as[(Long, Long, Long)]
      val sess = src.groupByKey(_._1)
        .transformWithState(new graft.queries.SessionizeProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_sessions", "n_events")
      val q = sess.writeStream.outputMode("update")
        .format("memory").queryName("tws_batches").start()
      q.processAllAvailable()
      q.stop()
    } finally {
      if (prev.isEmpty) spark.conf.unset(providerKey)
      else spark.conf.set(providerKey, prev)
    }
    val last = spark.table("tws_batches").collect().last
    assert(last.getLong(1) == 2L && last.getLong(2) == 3L)
    assert(spark.table("tws_batches").count() >= 2)
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon across batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_ddw").toString
    val h = 3600L * 1000000L
    // batch 1: key A at 10:00 (plus an in-batch duplicate), key B
    Seq((1L, "A", 10 * h), (2L, "A", 10 * h + 60L * 1000000L),
        (3L, "B", 10 * h))
      .toDF("event_id", "k", "us").repartition(1).write.parquet(s"$dir/b1")
    // batch 2: duplicate of A 30 min later — inside the 2 h horizon,
    // so the carried state drops it; new key C survives
    Seq((4L, "A", 10 * h + h / 2), (5L, "C", 11 * h))
      .toDF("event_id", "k", "us").repartition(1).write.parquet(s"$dir/b2")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*/")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("k")
    val q = src.writeStream.outputMode("append")
      .format("memory").queryName("ddw_batches").start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("ddw_batches").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("k"))).toSet
    // exactly one A (the first), one B, one C — the cross-batch
    // duplicate was dropped by carried state, not batch-local dedup
    assert(kept == Set((1L, "A"), (3L, "B"), (5L, "C")))
  }

  test("session_window boundary is inclusive: gap == size still merges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_swin").toString
    // user 1: events at 0 and exactly +30 min  -> one merged session
    //         (inclusive boundary == q40's `> gap` island rule)
    // user 2: events at 0 and +30 min + 1 µs   -> two sessions
    val gapUs = 1800L * 1000000L
    Seq((1L, 0L), (1L, gapUs), (2L, 0L), (2L, gapUs + 1))
      .toDF("user_id", "us").repartition(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val src = spark.readStream.schema(schema).parquet(s"$dir/*/")
      .withColumn("ts", timestamp_micros(col("us")))
    val agg = src.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("start_us"),
        col("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("swin_boundary").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("swin_boundary").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 0L, 2L), (2L, 0L, 1L), (2L, gapUs + 1, 1L)))
  }

  test("watermark drops late data: an event below the watermark never updates its window") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_late").toString
    val h = 3600L * 1000000L // one hour in µs
    // batch 1: events at 10:00 and 12:30 → watermark after it: 12:20
    Seq((1L, 10 * h), (1L, 12 * h + h / 2))
      .toDF("user_id", "us").repartition(1).write.parquet(s"$dir/b1")
    // batch 2: on-time event; the 12:20 watermark now EVICTS the
    // [10:00, 11:00) window's state at this batch boundary
    Seq((1L, 12 * h + 3 * h / 4))
      .toDF("user_id", "us").repartition(1).write.parquet(s"$dir/b2")
    // batch 3: a LATE event back at 10:00 — its window's state is
    // gone and the row is below the watermark: must be dropped, not
    // resurrected as a fresh (10:00 → 1) state row
    Seq((1L, 10 * h))
      .toDF("user_id", "us").repartition(1).write.parquet(s"$dir/b3")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*/")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes")
    val agg = src.groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("w"), col("n"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("late_drop").start()
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("late_drop").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the 10:00 window was updated exactly once (batch 1, count 1);
    // the batch-3 late arrival after eviction produced NO update —
    // neither an increment nor a resurrected fresh count
    assert(updates.filter(_._1 == 10 * h) == Seq((10 * h, 1L)))
    // the 12:00 window reflects both on-time events across batches
    assert(updates.filter(_._1 == 12 * h).map(_._2).max == 2L)
  }

  test("foreachBatch upsert sink: streamed CDC compaction equals the batch result") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{DataFrame, functions => F}
    val in = java.nio.file.Files.createTempDirectory("stream_cdc_in").toString
    val state = java.nio.file.Files.createTempDirectory("stream_cdc_state").toString + "/t"
    // three micro-batches of (user, seq, value) upserts with overlaps
    Seq((1L, 1L, 10.0), (2L, 2L, 20.0)).toDF("user_id", "seq", "value")
      .repartition(1).write.parquet(s"$in/b1")
    Seq((1L, 3L, 11.0), (3L, 4L, 30.0)).toDF("user_id", "seq", "value")
      .repartition(1).write.parquet(s"$in/b2")
    Seq((2L, 5L, 21.0), (1L, 2L, 99.0)).toDF("user_id", "seq", "value")
      .repartition(1).write.parquet(s"$in/b3")

    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(F.col("user_id"))
        .orderBy(F.col("seq").desc)
      df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") === 1)
        .drop("rk")
    }
    val schema = spark.read.parquet(s"$in/b1").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*/")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // MERGE-by-key emulation on plain parquet: union current state
        // with the batch, keep latest per key, swap in atomically via
        // a cache barrier (real lakehouses do this with table formats).
        // `state` starts absent, so only batch 0 has no state to read.
        val cur = if (batchId == 0) batch.limit(0)
          else batch.sparkSession.read.parquet(state)
        val merged = latest(cur.unionByName(batch)).cache()
        merged.count() // materialize BEFORE overwriting what we read
        merged.write.mode("overwrite").parquet(state)
        merged.unpersist(blocking = false)
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(state).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = latest(spark.read.parquet(s"$in/*/")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got == Set((1L, 3L, 11.0), (2L, 5L, 21.0), (3L, 4L, 30.0)))
  }

  test("chained stateful aggs: complete days emit exact, watermark " +
    "withholds the open tail (q319's mechanics)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_chain").toString
    val h = 3600L * 1000000L
    val day = 24L * h
    // day 0: events in hours 0 (x2) and 5 (x1); day 1: hour 2 (x1);
    // a sentinel far in day 3 pushes the watermark past day 1's end,
    // leaving only day 3 itself open
    Seq((1L, 0L), (2L, 10L * 60L * 1000000L), (3L, 5L * h),
        (4L, day + 2L * h), (5L, 3L * day + 2L * h))
      .toDF("event_id", "us").repartition(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val src = spark.readStream.schema(schema).parquet(s"$dir/*/")
      .withColumn("ts", timestamp_micros(col("us")))
    val hourly = src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val daily = hourly
      .groupBy(window(col("window"), "1 day"))
      .agg(sum(col("n")).as("n_day"), max(col("n")).as("peak"),
        count(lit(1)).as("n_hours"))
    val q = daily.writeStream.outputMode("append")
      .format("memory").queryName("chain_batches").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("chain_batches").collect()
      .map(r => (r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 86400000L,
        r.getAs[Long]("n_day"), r.getAs[Long]("peak"),
        r.getAs[Long]("n_hours"))).toSet
    // days 0 and 1 are final (watermark = day3+2h−1h > their ends);
    // day 3 is still open and must be withheld
    assert(rows == Set((0L, 3L, 2L, 2L), (1L, 1L, 1L, 1L)),
      s"unexpected chained-agg emissions: $rows")
  }

  test("streaming fp-dedup election (q333): one row per closed bucket, " +
    "event-time-first canonical, tail withheld") {
    val sf = TestSession.sf
    val out = graft.queries.EventQueries
      .queries("q333_stream_fp_dedup")(spark, sf).collect()
    assert(out.nonEmpty, "closed buckets must emit")
    // one election per bucket, dup accounting consistent
    val buckets = out.map(_.getLong(0))
    assert(buckets.distinct.length == buckets.length,
      "a bucket must be elected exactly once")
    out.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) - 1L, "dup_count = n_docs - 1")
    }
    // the finality cutoff really withholds the tail: every emitted
    // bucket's last minute sits strictly inside the knife edge
    val maxM = graft.io.Tables.documents(spark, sf)
      .agg(max(col("doc_id") % 1440)).head().getLong(0)
    assert(out.forall(_.getLong(4) < maxM - 61L))
    // and a rerun (fresh stream + state store) emits identically
    val again = graft.queries.EventQueries
      .queries("q333_stream_fp_dedup")(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("incremental crawl pipeline (q358): epoched grec ingest, " +
    "exactly-once windowed elections, tail withheld, deterministic") {
    val sf = TestSession.sf
    val out = graft.queries.EventQueries
      .queries("q358_stream_crawl_incremental")(spark, sf).collect()
    assert(out.nonEmpty, "closed (fp-prefix, window) keys must emit")
    // exactly one election per composite key, even though the docs of
    // a key can arrive across two source epochs
    val keys = out.map(_.getLong(0))
    assert(keys.distinct.length == keys.length,
      "a (bucket, window) key must be elected exactly once")
    // the composite key's window component must span multiple ingest
    // windows — i.e. elections really happened across epochs
    assert(out.map(r => r.getLong(0) % 4).distinct.length > 1,
      "elections must cover more than one ingest window")
    out.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) - 1L, "dup_count = n_docs - 1")
      val split = r.getString(5)
      assert(r.getString(6) == s"${split}_${r.getLong(2) % 4}",
        "shard = split _ canonical%4")
    }
    // finality knife edge (q333's discipline)
    val maxM = graft.io.Tables.documents(spark, sf)
      .agg(max(col("doc_id") % 1440)).head().getLong(0)
    assert(out.forall(_.getLong(4) < maxM - 61L))
    // a rerun (fresh grec table + stream + state store) is identical
    val again = graft.queries.EventQueries
      .queries("q358_stream_crawl_incremental")(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}

class TokenizerAntiJoinSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("anti-join stop filter equals the isin filter") {
    import graft.text.Tokenizer
    import spark.implicits._
    val docs = graft.io.Tables.documents(spark, TestSession.sf)
    val stopDf = Tokenizer.defaultStopWords.toDF("w")
    val a = Tokenizer.tokens(docs, "text")
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Tokenizer.tokensAntiJoin(docs, "text", stopDf)
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b && a.nonEmpty)
  }
}

package queries {
  /** StreamRunner's partitioning step is scoped: the session's shuffle
    * partitions come back however the stream ends. */
  class StreamRunnerSpec extends AnyFunSuite {
    lazy val spark = TestSession.spark

    test("a stream that throws inside the runner restores the session's " +
      "shuffle partitions and stops its query") {
      import spark.implicits._
      val key = "spark.sql.shuffle.partitions"
      val before = spark.conf.get(key)
      assert(before != "1", "the test session must not already run on one")
      val dir = java.nio.file.Files.createTempDirectory("stream_throw").toString
      Seq(1L, 2L).toDF("v").write.mode("overwrite").parquet(dir)
      val failing = spark.readStream.schema(spark.read.parquet(dir).schema)
        .parquet(dir).as[Long]
        .map(v => if (v > 0) throw new IllegalStateException("boom") else v)
        .groupBy("value").count()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        StreamRunner.toMemory(spark, "throws", failing, "complete"))
      assert(spark.conf.get(key) == before)
      assert(spark.streams.active.isEmpty)
    }
  }
}
