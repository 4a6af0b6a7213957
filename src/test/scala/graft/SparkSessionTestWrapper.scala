package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (JVM-wide — Spark session
  * startup dominates test wall time otherwise). */
object SparkTestSession {
  lazy val spark: SparkSession = graft.util.Sessions.create("local[4]", 4, "graft-test")
}

trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkTestSession.spark
}
