package graft.tools

/** Dev-only: write the `explain("formatted")` output of named library
  * queries to files (plans/<round>/<query>_<tag>.txt) — the before/after
  * plan artifacts for optimization rounds. Builds Bench's session
  * (`graft.Session.Bench` on $SPARK_GRAFT_CPUS cores) so the captured
  * plans match what the bench runs.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <query...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Session.graftCpus
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    val names = args.drop(2)
    val spark = graft.Session.build(graft.Session.Bench, cpus)
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, d)
      // QueryExecution.explainString is what Dataset.explain("formatted")
      // prints; capture it instead of stdout-redirecting the console.
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        outDir.resolve(s"${q}_$tag.txt"), txt.getBytes("UTF-8"))
      println(s"wrote ${outDir.resolve(s"${q}_$tag.txt")}")
      // streaming queries: the interesting plan is the per-TRIGGER
      // micro-batch plan (constructing the df above already ran the
      // stream to completion), captured by the runToMemory /
      // publishKeyedUpsert census hook — append it when present
      graft.streaming.EventStreams.sinkToQuery.collectFirst {
        case (prefix, name) if name == q &&
            graft.streaming.EventStreams.lastPlans.contains(prefix) =>
          graft.streaming.EventStreams.lastPlans(prefix)
      }.foreach { p =>
        java.nio.file.Files.write(
          outDir.resolve(s"${q}_microbatch_$tag.txt"),
          p.toString.getBytes("UTF-8"))
        println(s"wrote ${outDir.resolve(s"${q}_microbatch_$tag.txt")}")
      }
      // drop per-query temp state like Bench's cleanup does
      spark.catalog.clearCache()
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      spark.streams.resetTerminated()
    }
    spark.stop()
  }
}
