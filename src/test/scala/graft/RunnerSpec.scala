package graft

import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.runner.{DiskStats, ScanRunner}

class RunnerSpec extends AnyFunSuite {
  import SparkTestSession._

  test("driver contract: oracles ⊆ queries; rows-only set is exactly the documented two") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle entries without a query: ${o -- q}")
    // every query is oracle-checked except the two inherently
    // engine-specific rows (HLL++ sketch internals, engine-seeded RNG) —
    // adding a query without an oracle must be a conscious decision here
    assert((q -- o) == Set("q_agg_approx", "q_sample_stratified"),
      s"rows-only queries drifted: ${q -- o}")
    assert(q.forall(_.startsWith("q_")), "query naming convention")
  }

  test("per-file fan-out scans all files, fail-soft on schema mismatch") {
    val r = ScanRunner.run(spark, Seq(sf), "l_extendedprice",
      threshold = 30000.0, jobs = 8)
    assert(r.files == 10)              // one per fixture table
    assert(r.failedFiles == 9)         // only lineitem has the column
    assert(r.totalRows > 0)
    assert(r.readOps > 0, "monitored FS must count read calls")
    assert(r.readBytes > 0, "listener must observe input bytes")
    assert(r.seconds > 0)
    assert(r.predicate == "l_extendedprice > 30000.0")
  }

  test("footer schema equals Spark's inferred schema on every fixture file") {
    val files = new java.io.File(sf).listFiles.filter(_.isFile)
      .map(_.getPath).sorted
    assert(files.length == 10)
    files.foreach { f =>
      assert(Bridge.parquetFooterSchema(spark, f) ==
        spark.read.parquet(f).schema, s"schema drift on $f")
    }
  }

  test("per-file fan-out runs exactly one Spark job per readable file") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bridge.waitListenerBus(spark, 30000)
    spark.sparkContext.addSparkListener(counter)
    val r = try ScanRunner.run(spark, Seq(sf), "l_extendedprice",
      threshold = 30000.0, jobs = 8)
    finally {
      Bridge.waitListenerBus(spark, 30000)
      spark.sparkContext.removeSparkListener(counter)
    }
    assert(r.files - r.failedFiles == 1)
    assert(jobs.get == r.files - r.failedFiles,
      s"${jobs.get} jobs for ${r.files - r.failedFiles} readable files")
  }

  test("per-file fan-out is fail-soft on a file that is not parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_bad")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
        dir.resolve("lineitem.parquet"))
      java.nio.file.Files.write(dir.resolve("notes.txt"),
        "not a parquet file\n".getBytes("UTF-8"))
      val r = ScanRunner.run(spark, Seq(dir.toString), "l_extendedprice",
        threshold = 30000.0, jobs = 2)
      assert(r.files == 2)
      assert(r.failedFiles == 1)
      assert(r.totalRows == ScanRunner.runMerged(spark,
        Seq(s"$sf/lineitem.parquet"), "l_extendedprice", 30000.0))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("arrow sink round-trips the filter scan") {
    val buf = new java.io.ByteArrayOutputStream()
    ScanRunner.runArrow(spark, Seq(s"$sf/lineitem.parquet"), "l_quantity",
      25.0, buf)
    val expected = ScanRunner.runMerged(spark,
      Seq(s"$sf/lineitem.parquet"), "l_quantity", 25.0)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(buf.toByteArray), alloc)
    try {
      var rows = 0L
      while (reader.loadNextBatch()) {
        rows += reader.getVectorSchemaRoot.getRowCount
      }
      assert(reader.getVectorSchemaRoot.getSchema.getFields.size == 11,
        "all lineitem columns must survive the stream")
      assert(rows == expected, s"arrow stream carried $rows of $expected rows")
    } finally { reader.close(); alloc.close() }
  }

  test("manifest sink commits atomically: parts, counts, temp cleanup") {
    import org.apache.spark.sql.functions._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_manifest_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val src = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(4)
    src.write.format("graft.sources.GraftManifestSink")
      .option("path", dir).mode("append").save()
    // the manifest is the commit: it lists every part with its rows,
    // the parts exist, the temp dir does not
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MANIFEST")), "UTF-8")
    val entries = manifest.trim.split("\n").map(_.split("\t"))
    assert(entries.length == 4, s"expected 4 parts: $manifest")
    assert(entries.map(_(1).toLong).sum == src.count(),
      "manifest row counts must sum to the source")
    entries.foreach { e =>
      assert(new java.io.File(dir, e(0)).isFile, s"missing part ${e(0)}")
    }
    assert(!new java.io.File(dir, "_temp").exists, "temp dir must be gone")
    // the parts round-trip: TSV un-escape restores the exact rows
    val back = spark.read.option("sep", "\t").csv(
        entries.map(e => s"$dir/${e(0)}"): _*)
      .select(col("_c0").cast("long").as("doc_id"), col("_c1").as("lang"),
        col("_c2").as("text"))
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "TSV round-trip must be lossless on the fixture")
    // abort leaves nothing behind: a task-level abort deletes its file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = new graft.sources.ManifestWriterFactory(dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))),
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)).createWriter(9, 99L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(1L))
    w.abort()
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_temp/part-9-99.tsv")), "aborted part must be deleted")
  }

  test("streaming manifest sink: a manifest per epoch, idempotent replay") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tmp = sys.props("java.io.tmpdir")
    val srcDir = s"$tmp/graft_mstream_src"
    val dst = s"$tmp/graft_mstream_out"
    Seq(srcDir, dst, dst + "_chk").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val src = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    src.repartition(3).write.parquet(srcDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream.format("graft.sources.GraftManifestSink")
      .option("path", dst)
      .option("checkpointLocation", dst + "_chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def manifests(): Seq[java.io.File] =
      new java.io.File(dst).listFiles.toSeq
        .filter(_.getName.startsWith("_MANIFEST-")).sortBy(_.getName)
    def committedRows(): Long = manifests()
      .flatMap(m => scala.io.Source.fromFile(m).getLines())
      .map(_.split("\t")(1).toLong).sum
    assert(manifests().size >= 2,
      s"maxFilesPerTrigger=1 over 3 files must yield multiple epochs: ${manifests()}")
    assert(committedRows() == src.count(), "epoch manifests must sum to source")
    // idempotent replay: re-committing an already-manifested epoch must
    // discard the replayed temps, not double-publish
    val epoch = manifests().head.getName.stripPrefix("_MANIFEST-").toLong
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val sw = new graft.sources.ManifestStreamingWrite(dst, schema, conf)
    val w = new graft.sources.ManifestWriterFactory(dst, schema, conf)
      .createWriter(7, 777L, epoch)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      42L, org.apache.spark.unsafe.types.UTF8String.fromString("xx")))
    val msg = w.commit()
    sw.commit(epoch, Array(msg))
    assert(committedRows() == src.count(), "replayed epoch must not re-publish")
    assert(!new java.io.File(s"$dst/_temp/part-$epoch-7-777.tsv").exists,
      "replayed temp part must be cleaned up")
  }

  test("merged single-job scan agrees with per-file fan-out row count") {
    val fanout = ScanRunner.run(spark, Seq(sf), "l_quantity", 25.0, jobs = 4)
    val merged = ScanRunner.runMerged(spark,
      Seq(s"$sf/lineitem.parquet"), "l_quantity", 25.0)
    assert(fanout.totalRows == merged)
  }

  test("disk stats snapshot parses /sys/block when disks exist") {
    val disks = new java.io.File("/sys/block").list()
    if (disks != null && disks.nonEmpty) {
      val snap = DiskStats.snapshot(disks.toSeq.take(1))
      snap.values.foreach { s =>
        assert(s.readIos >= 0 && s.readSectors >= 0 && s.readTicks >= 0)
      }
    }
    assert(DiskStats.read("no_such_disk_xyz").isEmpty)
  }
}
