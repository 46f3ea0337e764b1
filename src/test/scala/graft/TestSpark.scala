package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt runs suites in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Engine.session("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}
