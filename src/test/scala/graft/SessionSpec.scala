package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the single session definition (graft.Session) against renewed
  * drift: no second builder, and the deliberate profile differences stay
  * exactly the documented ones. */
class SessionSpec extends AnyFunSuite {

  test("graft/Session.scala holds the only session builder under src/") {
    // spelled in two pieces so this file does not match itself
    val needle = "SparkSession" + ".builder("
    val hits = Seq("src/main", "src/test").flatMap { root =>
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }.filter(p => java.nio.file.Files.readString(p).contains(needle))
      .map(_.toString.replace('\\', '/'))
    assert(hits == Seq("src/main/scala/graft/Session.scala"),
      s"session builders outside graft.Session: $hits")
  }

  test("bench and verify differ only in receipts, timestamp type and log level") {
    val b = Session.confs(Session.Bench, 4)
    val v = Session.confs(Session.Verify, 4)
    val differ = (b.keySet ++ v.keySet).filter(k => b.get(k) != v.get(k))
    assert(differ == Set("spark.graft.publish.receipts",
      "spark.sql.parquet.outputTimestampType"), s"conf drift: $differ")
    assert(Session.Bench.logLevel == "ERROR")
    assert(Session.Verify.logLevel == "WARN")
    assert(Session.Bench.appName == Session.Verify.appName)
  }
}
