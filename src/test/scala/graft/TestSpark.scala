package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (forked test JVM exits at the end —
  * no explicit stop, so suites can't kill each other's session). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(4, "spark.app.name" -> "graft-test")
}
