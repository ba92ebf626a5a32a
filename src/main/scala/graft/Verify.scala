package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal. Escapes backslash, quote, and ALL control chars
    * (<0x20): a tab or CR in builder-authored SQL (or in an error text)
    * would otherwise make the reader's json.load fail — for
    * oracle_sql.json, silently zeroing the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: restrict to the named queries (local dev loop).
    val only = args.drop(2).toSet
    val spark = Session.build(Session.Verify, Session.graftCpus)
    new java.io.File(outDir).mkdirs()
    // capture observe() pipeline telemetry (checkpoint-time metrics
    // arrive via the async listener; final-plan metrics synchronously)
    val observed = new ObservedMetrics
    spark.listenerManager.register(observed)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val hasObs = df.queryExecution.analyzed.collectFirst {
          case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => c
        }.nonEmpty
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // the write runs through withAction, so the listener receives its
        // final-plan metrics too — but asynchronously; the events are
        // already POSTED by the time the action returns, so draining the
        // bus (not a fixed sleep, which races on a loaded host) is exact
        if (hasObs) {
          org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark, 10000)
          println(s"[observed] $name ${observed.drainJson()}")
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries may cache intermediates for their own reuse; drop them so
      // the 70-query dump doesn't accumulate executor storage memory
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
