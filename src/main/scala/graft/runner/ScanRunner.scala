package graft.runner

import java.io.File
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Layer-A harness parity (SURVEY.md §2a): the reference program's spine
  * rebuilt Spark-first.
  *
  * Reference behavior being reproduced (all cites /root/reference):
  *  - list every regular file in each data dir, non-recursively
  *    (main.cc:297-320) — A1;
  *  - one filter-scan query per file, `SELECT * FROM '<file>' WHERE
  *    <col> > θ` (ToSql, main.cc:164-169) — A2/A3/A4;
  *  - J-way inter-file parallelism, intra-query parallelism 1
  *    (main.cc:376-385 `Env_jobs` default 32; main.cc:177) — A5/A10;
  *  - per-file fail-soft: an unreadable file logs and contributes 0 rows
  *    (main.cc:263-283) — A12;
  *  - aggregate report: predicate, threads, query time, total rows, read
  *    bytes (main.cc:327-335) — A9/A13/A16/A18;
  *  - optional /sys/block disk deltas (`Env_mon_disks`,
  *    main.cc:338-363) — A15.
  *
  * Spark mapping: the pthread pool becomes a bounded driver-side executor
  * issuing concurrent Spark *jobs*, exactly one per file; Spark's
  * scheduler runs each job's tasks. Each pool thread first reads its
  * file's parquet footer on the driver (through the metered filesystem)
  * and hands that schema to the reader, as DuckDB reads the footer inside
  * the query — so Spark launches no schema-inference job, and the
  * file's one job is the count. Read bytes come from task `InputMetrics` via a
  * SparkListener (the monitored-filesystem equivalent, main.cc:107-113,
  * without wrapping Hadoop's FileSystem). Row counting executes the full
  * `SELECT *` plan (`toRdd.count()` — column pruning deliberately NOT
  * applied, matching the reference's full-row retrieval experiment,
  * main.cc:166).
  *
  * At 100 TB the per-file-job shape is still right when per-file result
  * isolation matters (the reference's design); when it doesn't, a single
  * `spark.read.parquet(dirs: _*).where(...)` job scans everything with
  * one task per split and is strictly faster — both paths are provided.
  */
object ScanRunner {

  /** Aggregates task input metrics across all jobs (the mutex-merged
    * ReadStats of main.cc:273-281, listener-style). */
  final class InputMetricsListener extends SparkListener {
    val bytesRead = new LongAdder
    val recordsRead = new LongAdder
    val tasks = new LongAdder
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        bytesRead.add(m.inputMetrics.bytesRead)
        recordsRead.add(m.inputMetrics.recordsRead)
        tasks.increment()
      }
    }
  }

  final case class Report(predicate: String, threads: Int, seconds: Double,
      totalRows: Long, readOps: Long, readBytes: Long, readRecords: Long,
      files: Int, failedFiles: Int, diskDeltas: Map[String, DiskStats])

  /** Run the harness over `dataDirs`. Mirrors `process_dir`
    * (main.cc:297-336). Every file is read through [[MonitoredFileSystem]]
    * so the report carries the reference's op-count metric (one op per
    * `Read()` call, main.cc:107-113) alongside task-metric bytes. */
  def run(spark: SparkSession, dataDirs: Seq[String], filterCol: String,
      threshold: Double, jobs: Int, monDisks: Seq[String] = Nil,
      printRows: Int = 0): Report = {
    val files = dataDirs.flatMap { d =>
      val dir = new File(d)
      require(dir.isDirectory, s"cannot open data dir $d")
      dir.listFiles.filter(_.isFile).map(_.getPath).sorted
    }

    spark.sparkContext.hadoopConfiguration
      .set(MonitoredFs.ImplKey, classOf[MonitoredFileSystem].getName)
    val listener = new InputMetricsListener
    val pool = Executors.newFixedThreadPool(math.max(jobs, 1))
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = DiskStats.snapshot(monDisks)
      val (ops0, _) = MonitoredFs.snapshot()

      val predicate = s"$filterCol > $threshold"
      val totalRows = new AtomicLong
      val failed = new AtomicLong
      val t0 = System.nanoTime()
      files.foreach { f =>
        // per-file scheduling line, reference format (main.cc:259)
        println(s"Scheduling scan::$f[$predicate]...")
        pool.execute { () =>
          try {
            // SELECT * FROM '<f>' WHERE <col> > θ — executed via toRdd so
            // every column is materialized (no count-driven pruning),
            // matching the reference's full-row fetch loop. The schema
            // comes from f's own footer, read here on the driver, so the
            // count below is the file's only Spark job.
            val path = s"${MonitoredFs.Scheme}:$f"
            val df = spark.read.schema(Bridge.parquetFooterSchema(spark, path))
              .parquet(path)
              .where(org.apache.spark.sql.functions.col(filterCol)
                .cast("double") > threshold)
            // A8 pretty-print sink (the reference's print_binary=0 path,
            // main.cc:193-195) — debug mode, costs a second scan
            if (printRows > 0) df.show(printRows, truncate = false)
            val n = df.queryExecution.toRdd.count()
            totalRows.addAndGet(n)
          } catch {
            // fail-soft per file (main.cc:269-271); NonFatal so an executor
            // OOM/VM error still aborts the run instead of scoring as one
            // more unreadable file
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"error processing $f: ${e.getMessage}")
              failed.incrementAndGet()
          } finally {
            println(s"scan::$f[$predicate] done!") // main.cc:275
          }
        }
      }
      pool.shutdown()
      // a run that outlives the wait must not report partial totals
      if (!pool.awaitTermination(1, TimeUnit.HOURS))
        throw new TimeoutException(
          s"scan of ${files.size} files did not finish within 1 h")
      val secs = (System.nanoTime() - t0) / 1e9

      val after = DiskStats.snapshot(monDisks)
      val deltas = before.keySet.intersect(after.keySet)
        .map(d => d -> (after(d) - before(d))).toMap
      val (ops1, _) = MonitoredFs.snapshot()

      Report(predicate, jobs, secs, totalRows.get(), ops1 - ops0,
        listener.bytesRead.sum(), listener.recordsRead.sum(),
        files.size, failed.get().toInt, deltas)
    } finally {
      pool.shutdownNow()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Arrow IPC stream sink (A7's stream-to-client semantics): run the
    * merged filter-scan and stream the result batches to `out` — the
    * Spark mapping of the reference's serialized-column-vector stdout
    * sink (main.cc:186-192). Batches serialize in the executors; the
    * driver relays them one partition at a time. */
  def runArrow(spark: SparkSession, dataDirs: Seq[String], filterCol: String,
      threshold: Double, out: java.io.OutputStream): Unit = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(dataDirs: _*)
      .where(col(filterCol).cast("double") > threshold)
    org.apache.spark.sql.graftbridge.Bridge.writeArrowStream(df, out)
  }

  /** Single-job variant: all dirs in one scan (the idiomatic-Spark path —
    * one job, one task per file split, one aggregate count). */
  def runMerged(spark: SparkSession, dataDirs: Seq[String], filterCol: String,
      threshold: Double): Long = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(dataDirs: _*)
      .where(col(filterCol).cast("double") > threshold)
      .queryExecution.toRdd.count()
  }

  /** CLI entry honoring the reference's env knobs: Env_ke (threshold,
    * default 0.5, main.cc:369-375), Env_jobs (default 32, main.cc:376-385),
    * Env_mon_disks (main.cc:386-404); plus Env_col (filter column name —
    * the fixtures have no `ke`, FIXTURES.md suggests l_extendedprice). */
  def main(args: Array[String]): Unit = {
    val threshold = sys.env.getOrElse("Env_ke", "0.5").toDouble
    val jobs = math.max(sys.env.getOrElse("Env_jobs", "32").toInt, 1)
    val disks = sys.env.get("Env_mon_disks")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val colName = sys.env.getOrElse("Env_col", "ke")
    // pretty-print sink: rows per file to dump (reference print_binary=0)
    val printRows = sys.env.getOrElse("Env_print_rows", "0").toInt
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.001")

    val spark = graft.Session.build(graft.Session.Scan, jobs)

    val r = run(spark, dirs, colName, threshold, jobs, disks, printRows)

    // Optional Arrow IPC stream of the merged scan (A7 binary sink):
    // Env_arrow_out=- streams to stdout, any other value is a file path.
    sys.env.get("Env_arrow_out").foreach { dest =>
      val out = if (dest == "-") System.out
        else new java.io.FileOutputStream(dest)
      try runArrow(spark, dirs, colName, threshold, out)
      finally if (dest != "-") out.close()
    }

    // Reference report field set (main.cc:327-335, 350-361).
    System.err.println(s"Predicate: ${r.predicate}")
    System.err.println(s"Threads: ${r.threads}")
    System.err.println(f"Query time: ${r.seconds}%.2f s")
    System.err.println(s"Total rows: ${r.totalRows}")
    System.err.println(s"Total read ops: ${r.readOps}")
    System.err.println(s"Total read bytes: ${r.readBytes}")
    System.err.println(s"Total read records: ${r.readRecords}")
    r.diskDeltas.foreach { case (d, s) =>
      System.err.println(s"${d}_read_ops: ${s.readIos}")
      System.err.println(s"${d}_read_sectors: ${s.readSectors}")
      System.err.println(s"${d}_read_ticks: ${s.readTicks}")
    }
    System.err.println("Done")
    spark.stop()
  }
}
