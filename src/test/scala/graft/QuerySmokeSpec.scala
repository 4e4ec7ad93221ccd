package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

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
    * it threw) and whether its builder started a streaming query. The
    * noop sink evaluates every output column — count() would let
    * Catalyst prune them, so a throwing output expression would pass —
    * and an Observation counts the rows in the same job. */
  private lazy val run: (Map[String, Try[Long]], Set[String]) = {
    val current = new AtomicReference[String]()
    val streamed = ConcurrentHashMap.newKeySet[String]()
    // onQueryStarted fires before start() returns, and no builder
    // clones the session it is given
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        streamed.add(current.get)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
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
      (rows, streamed.asScala.toSet)
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

  test("query and oracle key sets are equal") {
    val (q, o) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert(q == o, s"queries without oracles: ${q -- o}, oracles without queries: ${o -- q}")
  }
}
