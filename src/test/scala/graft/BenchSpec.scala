package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDefs.Q

class BenchSpec extends AnyFunSuite {
  import SparkTestSession._

  // A query that throws must be loud: counted in the stdout line's
  // n_failed and reported with its error text under bench.json's
  // "errors", not silently dropped from the total.
  test("a throwing query is counted in n_failed and reported with its error") {
    // a child session: Bench's per-rep cleanup drops its temp views
    val s2 = spark.newSession()
    val planted: Seq[(String, Q)] = Seq(
      "q_ok" -> ((s, _) => s.range(5).toDF()),
      "q_planted" -> ((_, _) =>
        throw new IllegalStateException("planted \"failure\"")))
    val rs = Bench.runQueries(s2, sf, planted, new ObservedMetrics)
    val byName = rs.map(r => r.name -> r).toMap
    assert(byName("q_ok").error.isEmpty && byName("q_ok").best >= 0)
    assert(byName("q_planted").best == -1.0)
    assert(byName("q_planted").reps == Seq(-1.0, -1.0, -1.0))
    assert(byName("q_planted").error.contains(
      "java.lang.IllegalStateException: planted \"failure\""))
    assert(Bench.totalSec(rs) == byName("q_ok").best)
    val line = Bench.summaryLine(sf, rs)
    assert(line.contains("\"n_queries\":2,\"n_failed\":1,"), line)
    assert(Bench.errorsJson(rs) ==
      "{\"q_planted\":\"java.lang.IllegalStateException: planted \\\"failure\\\"\"}")
  }
}
