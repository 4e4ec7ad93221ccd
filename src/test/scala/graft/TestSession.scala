package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (one JVM per `sbt test` fork),
  * pinned to 4 cores whatever the host has, so plans and partition
  * counts do not depend on the machine. */
object TestSession {
  lazy val spark: SparkSession = Session.local(4)
  val sf = "/root/testdata/sf0.001"
}
