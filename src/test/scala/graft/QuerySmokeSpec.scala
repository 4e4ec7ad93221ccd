package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

class QuerySmokeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** One execution per declared query at sf0.001: its row count (or what
    * it threw), whether its builder started a streaming query, and the
    * state-store counts its streams' stateful operators reported. The
    * noop sink evaluates every output column — count() would let
    * Catalyst prune them, so a throwing output expression would pass —
    * and an Observation counts the rows in the same job. */
  private lazy val run
      : (Map[String, Try[Long]], Set[String], Map[String, Set[Long]]) = {
    val current = new AtomicReference[String]()
    val streamed = new ConcurrentHashMap[UUID, String]()
    val stores = ConcurrentHashMap.newKeySet[(String, Long)]()
    val terminated = new AtomicInteger()
    // onQueryStarted fires before start() returns, and no builder
    // clones the session it is given; progress and termination arrive
    // later, in order, on the listener bus
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        streamed.put(e.id, current.get)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op =>
          stores.add(streamed.get(e.progress.id) -> op.numShufflePartitions))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      val rows = SparkEntry.queries.map { case (name, fn) =>
        current.set(name)
        name -> Try {
          val obs = Observation()
          fn(spark, TestSession.sf).observe(obs, count(lit(1)).as("rows"))
            .write.mode("overwrite").format("noop").save()
          obs.get("rows").asInstanceOf[Long]
        }
      }
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (terminated.get < streamed.size && System.nanoTime() < deadline)
        Thread.sleep(50)
      (rows, streamed.values.asScala.toSet,
        stores.asScala.toSet[(String, Long)].groupMap(_._1)(_._2))
    } finally spark.streams.removeListener(listener)
  }

  test("all declared queries run at sf0.001 and return rows") {
    val failed = run._1.collect { case (n, Failure(e)) => s"$n: $e" }
    assert(failed.isEmpty, s"queries that threw:\n${failed.mkString("\n")}")
    val empty = run._1.collect {
      case (n, Success(0L)) if n != "q10_customers_without_orders" => n
    }
    assert(empty.isEmpty, s"queries with 0 rows: $empty")
  }

  test("the declared streaming set is exactly the queries that start a stream") {
    assert(run._2 == SparkEntry.streaming,
      s"undeclared: ${run._2 -- SparkEntry.streaming}, " +
        s"never streamed: ${SparkEntry.streaming -- run._2}")
  }

  test("every stateful operator of every declared stream keeps one state store") {
    // q122 (foreachBatch MERGE) and q336 (grec sink) hold no stream state
    val stateful = SparkEntry.streaming --
      Set("q122_stream_cdc_upsert", "q336_grec_stream_sink")
    assert(run._3.keySet == stateful,
      s"no state progress: ${stateful -- run._3.keySet}, " +
        s"unexpected state: ${run._3.keySet -- stateful}")
    val wide = run._3.filter(_._2 != Set(1L))
    assert(wide.isEmpty, s"streams with more than one state store: $wide")
  }

  test("query and oracle key sets are equal") {
    val (q, o) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert(q == o, s"queries without oracles: ${q -- o}, oracles without queries: ${o -- q}")
  }
}
