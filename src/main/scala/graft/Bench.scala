package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every library query
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON metrics line.
  *
  * Mirrors the reference's measurement protocol (wall-clock seconds
  * around the complete query, /root/reference/main.cc:321-329) at the
  * reference's parallelism default of 32 threads (`Env_jobs`,
  * main.cc:376-385) — here `local[32]` executor threads instead of a
  * pthread pool. Each query runs three times; the min is reported (all
  * rep times are emitted too), so one-off JIT/GC pauses don't
  * masquerade as plan cost.
  */
object Bench {

  /** One query's record: `best` is the min of its 3 rep times, or -1 if
    * any rep threw; `reps` holds each rep's time (-1 for a rep that
    * threw); `error` is the first thrown `"<class>: <message>"`. */
  private[graft] final case class QueryRun(name: String, best: Double,
      reps: Seq[Double], error: Option[String])

  /** Run each query three times, timing the complete execution. */
  private[graft] def runQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, graft.queries.QueryDefs.Q)],
      observed: ObservedMetrics): Seq[QueryRun] = {
    def once(fn: graft.queries.QueryDefs.Q): Either[String, Double] = {
      val t0 = System.nanoTime()
      // toRdd.count(), not Dataset.count(): wrapping the query in a count
      // aggregate lets EliminateSorts drop the final ORDER BY, which would
      // under-measure relative to what Verify actually executes.
      try {
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        observed.harvestFrom(df)
        Right(dt)
      }
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    }

    // min-of-3: this host shows intermittent multi-second stalls
    // unrelated to plan cost (identical queries measured 1.7s and 47s in
    // different minutes); the min is the statistic that reflects the
    // plan. ALL three rep times are also emitted ("reps") so an in-suite
    // stall that eats every rep (q_projection_expr, round 6: min 3.86 s
    // vs 0.78 s isolated) is self-diagnosing post-hoc.
    queries.map { case (name, fn) =>
      // Per-rep cleanup OUTSIDE the timed region, so every rep starts
      // from rep 1's environment: (a) cached intermediates (shingles,
      // token explodes) a query reuses across its own branches; (b) the
      // memory-sink temp view each streaming rep leaves behind
      // ("tumbling_<nanos>", …) whose rows pin driver memory and grow
      // the catalog monotonically — with the terminated-query registry,
      // the prime suspects for r7's monotone per-rep growth on
      // q_stream_tumbling (reps 1.32/2.25/3.96 s); (c) that registry
      // itself. Fixture views some SQL queries register (registerAll)
      // are re-registered by any query that needs them, so dropping all
      // temp views is safe.
      def cleanup(): Unit = {
        spark.catalog.clearCache()
        spark.catalog.listTables().collect()
          .filter(_.isTemporary)
          .foreach(t => spark.catalog.dropTempView(t.name))
        spark.streams.resetTerminated()
      }
      val runs = Seq.fill(3) { val t = once(fn); cleanup(); t }
      val error = runs.collectFirst { case Left(e) => e }
      val reps = runs.map(_.getOrElse(-1.0))
      QueryRun(name, if (error.isDefined) -1.0 else reps.min, reps, error)
    }
  }

  /** Headline total: the summed min times of the queries that ran. A
    * failing query is not in it, so `n_failed` travels with it. */
  private[graft] def totalSec(results: Seq[QueryRun]): Double =
    results.map(_.best).filter(_ >= 0).sum

  /** `{"<query>":"<class>: <message>", …}` for the queries that threw. */
  private[graft] def errorsJson(results: Seq[QueryRun]): String =
    results.flatMap(r => r.error.map(e =>
      Verify.jsonString(r.name) + ":" + Verify.jsonString(e)))
      .mkString("{", ",", "}")

  /** The short stdout line: total, counts, and the 10 slowest queries. */
  private[graft] def summaryLine(sfDir: String,
      results: Seq[QueryRun]): String = {
    val totalStr = f"${totalSec(results)}%.1f"
    val top10 = results.sortBy(-_.best).take(10)
      .map(r => "\"" + r.name + "\":" + f"${r.best}%.2f")
      .mkString("{", ",", "}")
    val nFailed = results.count(_.error.isDefined)
    s"""{"metric":"total","value":$totalStr,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":$nFailed,"queries":$top10,"full":"target/bench.json"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args: restrict to the named queries (local dev loop)
    val only = args.toSet
    val spark = Session.build(Session.Bench, Session.graftCpus)
    // Session.Bench logs at ERROR (see there for why). One ERROR source
    // remains above that floor: the per-rep cleanup unpersists cached
    // RDDs while a straggler task's completion event
    // is still queued in the DAGScheduler event loop, and its
    // accumulators are already unregistered — the scheduler logs a full
    // "attempted to access non-existent accumulator" stack per event
    // (r10's stderr tail carried one ending ONE character before the
    // final JSON line). Benign here — the accumulators belong to a
    // finished, already-measured rep — but it is exactly the class of
    // interleaved-output noise that defeated the driver's parse for
    // five rounds. Suppression is a MESSAGE filter on that one logger,
    // not a level cut (ADVICE r11: raising the whole logger to FATAL
    // would also hide a genuine scheduler failure): only events whose
    // text carries the unregistered-accumulator signature are denied,
    // every other DAGScheduler ERROR still reaches stderr.
    locally {
      import org.apache.logging.log4j.core.{Filter, LogEvent}
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      val cfg = ctx.getConfiguration
      val name = "org.apache.spark.scheduler.DAGScheduler"
      val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
        name, org.apache.logging.log4j.Level.ERROR, true)
      lc.addFilter(new org.apache.logging.log4j.core.filter.AbstractFilter() {
        override def filter(event: LogEvent): Filter.Result = {
          val m = if (event.getMessage == null) null
            else event.getMessage.getFormattedMessage
          // two spellings of the same benign event (a straggler task's
          // completion arriving after per-rep cleanup unregistered its
          // accumulators): the scheduler logs "attempted to access
          // non-existent accumulator" or, per accumulator, "Failed to
          // update accumulator N (Unknown class)" — the latter leaked
          // past the r11 filter and is the same stdout-interleaving
          // parse hazard (r16: 50 such lines in one run's capture)
          if (m != null && (m.contains("non-existent accumulator") ||
              m.contains("Failed to update accumulator")))
            Filter.Result.DENY
          else Filter.Result.NEUTRAL
        }
      })
      cfg.addLogger(name, lc)
      ctx.updateLoggers()
    }

    // State-store observability: per-stream state metrics (rows held,
    // memory, commit latency) from every streaming query's progress
    // events, keyed by the FULL memory-sink name ("tumbling_<nanos>",
    // "tws_<nanos>", ...) — one entry per RUN. The old per-prefix keying
    // summed commit time across all 3 bench reps, so a rep disturbed by
    // suite-wide JVM pressure (commit threads compete with the other
    // 141 queries' GC) inflated the reported number unrecoverably:
    // r6's q_stream_left_join "commit_ms 30.4k" was ~10k in one loaded
    // rep vs 4.8k/run measured isolated, at flat wall time. Emitted as
    // a "state" block so wall time isn't the only stateful-streaming
    // signal; per sink prefix the run with the smallest summed commit
    // is reported — the same statistic as min-of-3 wall — plus its
    // micro-batch count so per-batch cost is derivable.
    val stateAgg =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = {
          val p = e.progress
          val ops = p.stateOperators
          if (p.name != null && ops != null && ops.nonEmpty) {
            // rows/memory: latest snapshot wins; commit time: summed
            // across THIS run's micro-batches; batches counted
            val cur =
              stateAgg.computeIfAbsent(p.name, _ => Array(0L, 0L, 0L, 0L, 0L))
            cur.synchronized {
              cur(0) = ops.map(_.numRowsTotal).sum
              cur(1) = ops.map(_.memoryUsedBytes).sum
              cur(2) += ops.map(_.commitTimeMs).sum
              // latest batch's commit alone = the steady state (batch 0
              // carries one-time costs: store bring-up, and under
              // changelog checkpointing the base-snapshot upload)
              cur(3) = ops.map(_.commitTimeMs).sum
              cur(4) += 1L
            }
          }
        }
      })

    // observe() pipeline telemetry: checkpoint-time metrics arrive via
    // the async listener; final-plan metrics are harvested synchronously
    // after each run (toRdd.count() bypasses listener dispatch)
    val observed = new ObservedMetrics
    spark.listenerManager.register(observed)

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val results = runQueries(spark, sfDir, queries, observed)
    val qs = results.map(r => "\"" + r.name + "\":" + r.best)
      .mkString("{", ",", "}")
    val repsJson = results.map { r =>
      "\"" + r.name + "\":" + r.reps.map(t => f"$t%.3f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val total = totalSec(results)
    // map the memory-sink name prefixes back to library query names
    // one definition, shared with the streaming plan census
    val sinkToQuery = graft.streaming.EventStreams.sinkToQuery
    // listener bus is async; block until the queued tail is dispatched
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark, 10000)
    import scala.jdk.CollectionConverters._
    val state = stateAgg.asScala.toSeq
      .flatMap { case (name, v) =>
        sinkToQuery.get(name.takeWhile(_ != '_')).map(q => (q, v)) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, reps) =>
        // min-by-summed-commit rep = the run least disturbed by host
        // stalls, matching the min-of-3 wall-time statistic
        val v = reps.map(_._2).minBy(_(2))
        s""""$q":{"rows":${v(0)},"mem_bytes":${v(1)},"commit_ms":${v(2)},"commit_last_ms":${v(3)},"batches":${v(4)}}""" }
      .mkString("{", ",", "}")
    val obsJson = observed.drainJson()
    // memo hit/miss counters (r9 verdict item 5): a cost drift in a
    // memo-consumer family now self-diagnoses — unchanged hits ⇒ host
    // contention; unexpected misses ⇒ the shared table stopped carrying
    // its family and every consumer is re-mining.
    val memoJson = graft.MemoStats.json()
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$repsJson,"state":$state,"observed":$obsJson,"memo":$memoJson,"errors":${errorsJson(results)},"sf":"$sfDir"}"""
    // The driver captures only the last ~2,000 chars of stdout, and the
    // sbt runner appends its own "[success] Total time: …" epilogue
    // AFTER this program's last print — r5-r8's ~1,900-char compact line
    // left no headroom, so it reached the driver truncated mid-JSON and
    // BENCH_r{5..8}.json all carry "parsed": null. The stdout artifact
    // is therefore a SHORT self-contained line (total + the 10 slowest
    // queries and the failure count, ≲ 720 chars — over 1,200 chars of
    // epilogue headroom); the complete per-query map (all queries, 3-rep
    // arrays, state, observed, error texts) lives exclusively in
    // target/bench.json.
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    println(summaryLine(sfDir, results))
    spark.stop()
  }
}
