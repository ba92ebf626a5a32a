package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suite-level lazy vals
  * all resolve here, so we pay session bring-up once). */
object SparkTestSession {
  lazy val spark: SparkSession = Session.build(Session.Test, 8)
  val sf: String = "/root/testdata/sf0.001"
}
