package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The JVM half of the benchmark: one process, one Spark session, one
  * closed-loop client issuing the ops of one workload pass after pass.
  *
  * It calls only the program's public entry points (ScanRunner.run, the
  * SparkEntry query functions, `df.queryExecution` for planning and its
  * `toRdd` for execution) and counts through public hooks (SparkListener,
  * StreamingQueryListener, MonitoredFs.snapshot, MemoStats). It records
  * raw observations only; run.py turns them into metrics and checks each
  * op's output against the expected values.
  *
  * Arguments are key=value pairs: workload, data, inputs, work, out,
  * seconds, cores, trace (0|1), ops (comma list), min_samples, warmup
  * (passes after the cold one that are run but not measured; default 0),
  * dump.
  */
object Harness {

  /** Session confs, the ones `graft.Bench` sets, sized to this host. */
  def confs(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.graft.dedup.dfCapGuard" -> "on",
    "spark.graft.publish.receipts" -> "off",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.local.dir" -> s"$work/spark-local")

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val work = a("work")
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val minSamples = a("min_samples").toInt
    val warmup = a.getOrElse("warmup", "0").toInt
    val opNames = a.getOrElse("ops", "").split(',').filter(_.nonEmpty).toSeq

    val spark = confs(cores, work).foldLeft(
      SparkSession.builder().appName(s"perfbench-$workload")) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)

    val wl: Workload = workload match {
      case "scan_fanout" => new ScanWorkload(spark, a("inputs"), cores, rec)
      case "batch_library" | "stream_state" =>
        new LibraryWorkload(spark, a("data"), opNames, rec, a.get("dump"))
      case "selftest" => new SelfTestWorkload(spark, a("data"), rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val firstOp = java.time.Instant.now()
    val passes = ArrayBuffer(rec.pass(0, "cold", traced = false, wl)(wl.runPass(0)))
    if (workload != "selftest") {
      // warm-up: passes that bring the JIT to its steady state, measured
      // like the others but excluded from every warm figure
      for (i <- 1 to warmup)
        passes += rec.pass(i, "warmup", traced = false, wl)(wl.runPass(i))
      // closed loop: keep issuing warm passes while the next one fits in
      // a window of `seconds` that opens after the warm-up, and always
      // enough of them for the percentile rule; a traced run alternates
      // untraced and traced passes so the tracing overhead is measured
      // inside one process
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      def warm = passes.drop(1 + warmup)
      def samples = warm.map(_.samples).sum
      def need = warm.size < (if (traced) 2 else 1) ||
        (samples < minSamples && elapsed < 4 * seconds)
      while (need || elapsed + warm.last.wallS <= seconds) {
        val i = passes.size
        val tracedPass = traced && i % 2 == 0
        passes += rec.pass(i, "warm", tracedPass, wl)(wl.runPass(i))
      }
    }
    val out = Json.obj(
      "workload" -> workload,
      "cores" -> cores,
      "first_op_epoch_s" ->
        (firstOp.getEpochSecond + firstOp.getNano / 1e9),
      "passes" -> passes.map(_.json).toSeq,
      "spans" -> rec.spansJson,
      "selftest" -> wl.extraJson,
      "heap_peak_mb" -> Recorder.heapPeakMb,
      "rss_peak_mb" -> Recorder.rssPeakMb)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out.s)
    spark.stop()
  }
}

/** One workload: a pass is one ordered round of ops. */
trait Workload {
  def runPass(pass: Int): PassBody
  /** Extra per-layer observations of a traced pass, made after it. */
  def traceExtra(): Seq[(String, Any)] = Nil
  def extraJson: Json.Raw = Json.obj()
}

/** What a pass returns besides what the Recorder measured around it. */
final case class PassBody(ops: Seq[OpRec], extra: Seq[(String, Any)])

/** One op's outcome: its output (rows + order-independent digest) or
  * the error it threw, plus its phase timings. */
final class OpRec(val name: String) {
  var rows: Long = -1L
  var digest: String = ""
  var error: String = null
  var buildS, planS, execS, cleanupS = 0.0
  var analysisMs, optimizerMs, physicalMs = 0.0
  var exchanges = 0
  def json: Json.Raw = Json.obj(
    "name" -> name, "rows" -> rows, "digest" -> digest, "error" -> error,
    "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
    "cleanup_s" -> cleanupS, "wall_s" -> (buildS + planS + execS + cleanupS),
    "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs,
    "physical_ms" -> physicalMs, "exchanges" -> exchanges)
}

object Digest {
  /** (rows, digest): the wrapping sum of a 64-bit hash of each row's
    * binary form, so the value does not depend on row order or
    * partitioning. Computed in the same job that executes the plan. */
  def of(df: DataFrame): (Long, Long) = {
    val types = df.queryExecution.executedPlan.output.map(_.dataType).toArray
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }

  def hex(h: Long): String = f"$h%016x"
}

/** Runs SparkEntry queries as ops: build, plan, execute, cleanup. */
class LibraryWorkload(spark: SparkSession, data: String, names: Seq[String],
    rec: Recorder, dump: Option[String]) extends Workload {
  private val queries = graft.SparkEntry.queries
  names.foreach(n => require(queries.contains(n), s"no query $n"))

  // dump mode (perfbench/pin.py): the cold pass also writes each result
  // and its oracle SQL in graft.Verify's layout, for tools/paritycheck.py
  dump.foreach { d =>
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    val sql = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/oracle_sql.json"),
      Json.obj(names.filter(sql.contains).map(n => n -> sql(n)): _*).s)
  }
  private def save(pass: Int, name: String)(df: DataFrame): Unit =
    if (pass == 0) dump.foreach { d =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
    }

  def runPass(pass: Int): PassBody =
    PassBody(names.map(n =>
      rec.op(n, queries(n)(spark, data), save(pass, n))), Nil)
}

/** The reference's own program: ScanRunner over a directory of files. */
class ScanWorkload(spark: SparkSession, inputs: String, cores: Int,
    rec: Recorder) extends Workload {
  private val files = new java.io.File(inputs).listFiles.filter(_.isFile)
    .map(_.getPath).sorted.toSeq

  def runPass(pass: Int): PassBody = {
    val group = s"scan:$pass"
    spark.sparkContext.setJobGroup(group, group)
    val r = try rec.span("scan_run") {
      graft.runner.ScanRunner.run(spark, Seq(inputs), "ke", 0.5, cores)
    } finally spark.sparkContext.clearJobGroup()
    val op = new OpRec("scan_pass")
    op.rows = r.totalRows
    if (r.failedFiles > 0) op.error = s"${r.failedFiles} files failed"
    PassBody(Seq(op), Seq(
      "group" -> group, "files" -> r.files, "failed_files" -> r.failedFiles,
      "rows_out" -> r.totalRows, "read_ops" -> r.readOps))
  }

  /** The planning layer: plan a few of the files the way ScanRunner
    * does, since its own per-file plans are not reachable from outside. */
  override def traceExtra(): Seq[(String, Any)] = {
    val plans = files.take(8).map { f =>
      val df = spark.read.parquet(s"${graft.runner.MonitoredFs.Scheme}:$f")
        .where(col("ke").cast("double") > 0.5)
      df.queryExecution.executedPlan
      Recorder.phasesMs(df)
    }
    Seq("file_plans_ms" -> plans.map(p => Json.arr(p._1, p._2, p._3)))
  }
}

/** Planted ops for the benchmark's own test: one good query, one that
  * throws, one whose expected digest the test pins wrong; plus the
  * digest of one result under two row orders and partitionings. */
class SelfTestWorkload(spark: SparkSession, data: String, rec: Recorder)
    extends Workload {
  def runPass(pass: Int): PassBody = {
    val q = graft.SparkEntry.queries
    PassBody(Seq(
      rec.op("q_topk_custom", q("q_topk_custom")(spark, data)),
      rec.op("planted_throw", throw new IllegalStateException("planted")),
      rec.op("planted_wrong", q("q_topk_sql")(spark, data))), Nil)
  }

  override def extraJson: Json.Raw = {
    val df = graft.sources.Tables.orders(spark, data).select("o_orderkey", "o_totalprice")
    val a = Digest.of(df.orderBy(col("o_orderkey")))
    val b = Digest.of(df.orderBy(col("o_orderkey").desc).repartition(3))
    val c = Digest.of(df.limit(10))
    Json.obj("a" -> Digest.hex(a._2), "b" -> Digest.hex(b._2),
      "c" -> Digest.hex(c._2), "rows_a" -> a._1, "rows_b" -> b._1)
  }
}

/** Job and task observations, always on. Jobs are timed with the
  * listener's own clock on receipt, which resolves below a millisecond. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, site: String, start: Long,
      var end: Long = -1L)
  val jobs = new ConcurrentHashMap[Int, Job]()
  val inputBytes, inputRecords = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, group, site, System.nanoTime()))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      inputBytes.add(m.inputMetrics.bytesRead)
      inputRecords.add(m.inputMetrics.recordsRead)
    }
  }
  def drain(): Seq[Job] = {
    val done = jobs.values.asScala.filter(_.end >= 0).toSeq.sortBy(_.id)
    done.foreach(j => jobs.remove(j.id))
    done
  }
}

/** Task-level execution counters, registered for traced passes only. */
final class ExecListener extends SparkListener {
  val stages, tasks, failedTasks, runMs, cpuNs, gcMs, inputBytes, shuffleRead,
    shuffleWrite, spill, outputBytes = new LongAdder
  @volatile var peakExecMem = 0L
  // stageId -> (max task ms, sum task ms, task count)
  val perStage = new ConcurrentHashMap[Int, Array[Long]]()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (e.reason != org.apache.spark.Success) failedTasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      shuffleRead.add(m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      outputBytes.add(m.outputMetrics.bytesWritten)
      synchronized { peakExecMem = math.max(peakExecMem, m.peakExecutionMemory) }
      val s = perStage.computeIfAbsent(e.stageId, _ => Array(0L, 0L, 0L))
      s.synchronized {
        s(0) = math.max(s(0), m.executorRunTime); s(1) += m.executorRunTime; s(2) += 1
      }
    }
  }
  def json: Json.Raw = {
    // skew: summed slowest-task time over summed mean-task time, across
    // stages with more than one task
    val multi = perStage.values.asScala.filter(_(2) > 1)
    val skew = if (multi.isEmpty) 1.0
      else multi.map(_(0).toDouble).sum /
        math.max(multi.map(s => s(1).toDouble / s(2)).sum, 1e-9)
    Json.obj("stages" -> stages.sum, "tasks" -> tasks.sum,
      "failed_tasks" -> failedTasks.sum, "run_ms" -> runMs.sum,
      "cpu_ns" -> cpuNs.sum, "gc_ms" -> gcMs.sum,
      "input_bytes" -> inputBytes.sum, "shuffle_read_bytes" -> shuffleRead.sum,
      "shuffle_write_bytes" -> shuffleWrite.sum, "spill_bytes" -> spill.sum,
      "output_bytes" -> outputBytes.sum, "peak_exec_mem_bytes" -> peakExecMem,
      "task_skew" -> skew)
  }
}

/** Streaming progress per trigger, always on. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Json.Raw]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    progress.add(Json.obj(
      "query" -> Option(p.name).getOrElse(""), "run" -> p.runId.toString,
      "batch" -> p.batchId,
      "trigger_ms" -> d.get("triggerExecution").map(_.longValue).getOrElse(0L),
      "add_batch_ms" -> d.get("addBatch").map(_.longValue).getOrElse(0L),
      "commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "input_rows" -> p.numInputRows))
  }
  def drain(): Seq[Json.Raw] = Iterator.continually(progress.poll())
    .takeWhile(_ != null).toSeq
}

final case class Span(id: Int, op: Int, name: String, start: Long, end: Long,
    parent: Int)

/** Measures passes and ops, and keeps spans in memory while tracing. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  val jobsL = new JobListener
  val streamL = new StreamListener
  sc.addSparkListener(jobsL)
  spark.streams.addListener(streamL)

  @volatile var tracing = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var opId = 0
  // epoch-ns minus nanoTime, to place listener times on the span clock
  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!tracing) body else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, opId, name, System.nanoTime(), -1L, parent)
      stack ::= id
      try body finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  private def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** One op: build the DataFrame, plan it, execute it (digesting the
    * rows in the same job), then clean up as graft.Bench does. A throw
    * in any phase is recorded as the op's error. */
  def op(name: String, build: => DataFrame,
      after: DataFrame => Unit = _ => ()): OpRec = {
    opId += 1
    val r = new OpRec(name)
    span("op") {
      try {
        sc.setJobGroup(s"build:$name", name)
        val (df, b) = timed(span("build")(build))
        r.buildS = b
        sc.setJobGroup(s"exec:$name", name)
        r.planS = timed(span("plan")(df.queryExecution.executedPlan))._2
        val ((n, h), e) = timed(span("execute")(Digest.of(df)))
        r.execS = e
        r.rows = n
        r.digest = Digest.hex(h)
        after(df)
        if (tracing) {
          val (an, opt, ph) = Recorder.phasesMs(df)
          r.analysisMs = an; r.optimizerMs = opt; r.physicalMs = ph
          r.exchanges = Recorder.exchanges(df)
        }
      } catch {
        case NonFatal(e) => r.error = s"${e.getClass.getName}: ${e.getMessage}"
      } finally sc.clearJobGroup()
      r.cleanupS = timed(span("cleanup")(cleanup()))._2
    }
    r
  }

  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.streams.resetTerminated()
  }

  final class PassRec(val wallS: Double, val samples: Int, val json: Json.Raw)

  /** Run one pass and measure it: wall, process CPU, GC, input counts,
    * memo deltas, jobs, stream triggers; task counters if traced. */
  def pass(index: Int, kind: String, traced: Boolean, wl: Workload)(
      body: => PassBody): PassRec = {
    tracing = traced
    val exec = if (traced) { val l = new ExecListener; sc.addSparkListener(l); Some(l) } else None
    val memo0 = graft.MemoStats.json()
    val (ops0, bytes0) = graft.runner.MonitoredFs.snapshot()
    val in0 = (jobsL.inputBytes.sum, jobsL.inputRecords.sum)
    val gc0 = Recorder.gcMs
    val cpu0 = Recorder.cpuNs
    val jit0 = Recorder.jitMs
    val t0 = System.nanoTime()
    val passSpan = if (traced) spans.size else -1
    val b = span("pass")(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Recorder.cpuNs - cpu0) / 1e9
    val gc = (Recorder.gcMs - gc0) / 1e3
    val jit = (Recorder.jitMs - jit0) / 1e3
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark, 30000)
    exec.foreach(sc.removeSparkListener)
    val (ops1, bytes1) = graft.runner.MonitoredFs.snapshot()
    val jobs = jobsL.drain()
    val triggers = streamL.drain()
    tracing = false
    val extra = if (!traced) Nil else {
      val e = wl.traceExtra()
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark, 30000)
      jobsL.drain()
      e
    }
    // the per-file jobs become child spans of the ScanRunner call
    if (traced) {
      val parent = spans.indexWhere(s => s.name == "scan_run" && s.id > passSpan)
      if (parent >= 0) jobs.filter(_.group == s"scan:$index").foreach { j =>
        spans += Span(spans.size, spans(parent).op, "file_job", j.start, j.end, parent)
      }
    }
    val samples = if (kind != "warm") 0 else b.ops.headOption.map(_.name) match {
      case Some("scan_pass") => jobs.count(j => j.group == s"scan:$index" && isCount(j))
      case _ if triggers.nonEmpty => triggers.size
      case _ => b.ops.size
    }
    val m = Json.obj(Seq[(String, Any)](
      "index" -> index, "kind" -> kind, "traced" -> traced, "wall_s" -> wall,
      "cpu_s" -> cpu, "gc_s" -> gc, "jit_s" -> jit, "samples" -> samples,
      "input_bytes" -> (jobsL.inputBytes.sum - in0._1),
      "input_records" -> (jobsL.inputRecords.sum - in0._2),
      "fs_read_ops" -> (ops1 - ops0), "fs_read_bytes" -> (bytes1 - bytes0),
      "memo_before" -> Json.raw(memo0), "memo_after" -> Json.raw(graft.MemoStats.json()),
      "ops" -> b.ops.map(_.json),
      "jobs" -> jobs.map(j => Json.obj("group" -> j.group, "site" -> j.site,
        "start_ns" -> (j.start - t0), "end_ns" -> (j.end - t0))),
      "triggers" -> triggers,
      "exec" -> exec.map(_.json).orNull) ++ b.extra ++ extra: _*)
    new PassRec(wall, samples, m)
  }

  def isCount(j: JobListener#Job): Boolean = j.site.startsWith("count at")

  def spansJson: Seq[Json.Raw] = spans.toSeq.map(s => Json.obj(
    "id" -> s.id, "op" -> s.op, "name" -> s.name,
    "start_ns" -> (s.start + clockOffset), "end_ns" -> (s.end + clockOffset),
    "parent" -> s.parent))
}

object Recorder {
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** (analysis, optimization, physical planning) ms from the query's
    * planning tracker. */
  def phasesMs(df: DataFrame): (Double, Double, Double) = {
    val ph = df.queryExecution.tracker.phases
    def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    (ms("analysis"), ms("optimization"), ms("planning"))
  }

  private object Plans extends AdaptiveSparkPlanHelper
  def exchanges(df: DataFrame): Int =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }.size
}

/** Just enough JSON writing for the harness's output. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(vs: Any*): Raw = Raw(vs.map(value).mkString("[", ",", "]"))
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
}
