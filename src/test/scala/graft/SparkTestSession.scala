package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkTestSession {
  lazy val spark: SparkSession = graft.core.Session.local(4)
}
