package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import QueryDefs._

/** Coverage beyond the core relational families (SURVEY.md §2b rows that
  * need non-obvious Spark renditions): as-of join, typed Dataset
  * aggregation, approximate aggregates, SQL-registered custom
  * expressions, and CSV/JSON source round-trips.
  */
object Extended {

  /** PSI value-bucketing kernel shared by q_drift_psi and the streaming
    * q_stream_drift (ONE spelling per engine, per the shared-kernel
    * discipline): 10 fixed-width 50.0 buckets, last open-ended. */
  private[graft] def psiBucket: org.apache.spark.sql.Column =
    least(lit(9), floor(col("value") / lit(50.0)).cast("int"))
  private[graft] val PsiBucketSql =
    "LEAST(9, CAST(FLOOR(value / 50.0) AS INTEGER))"
  /** Reference/current boundary for both drift queries. */
  private[graft] val PsiSplitSql = "TIMESTAMP '2024-01-16 00:00:00'"

  /** Typed row for the Dataset[T] surface. */
  case class Line(l_returnflag: String, l_quantity: Double,
      l_extendedprice: Double)

  /** Typed Aggregator: share of lineitems with quantity > 25. Integer
    * accumulators on purpose — the merge order across partitions is
    * nondeterministic, so only exact (associative-commutative) state
    * keeps the DuckDB oracle hash-stable. */
  object HighQtyShare extends Aggregator[Line, (Long, Long), Double] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), a: Line): (Long, Long) =
      (b._1 + (if (a.l_quantity > 25.0) 1L else 0L), b._2 + 1L)
    def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
      (x._1 + y._1, x._2 + y._2)
    def finish(r: (Long, Long)): Double =
      if (r._2 == 0) 0.0 else r._1.toDouble / r._2
    def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Typed row for the flatMapGroups surface. */
  case class DocLen(lang: String, doc_id: Long, n_chars: Long)

  /** Spark-dialect z-value: interleave the low 10 bits of `a` (odd
    * positions) and `b` (even positions) into a 20-bit Morton code.
    * Pure integer expression — replayed verbatim (with `>>` spelling)
    * in the DuckDB oracle. */
  private[graft] def zInterleaveSpark(a: String, b: String): String =
    (0 until 10).map { i =>
      s"(((shiftright($a, $i) & 1) * ${1L << (2 * i + 1)}) + " +
        s"((shiftright($b, $i) & 1) * ${1L << (2 * i)}))"
    }.mkString(" + ")

  private[graft] def zInterleaveDuck(a: String, b: String): String =
    (0 until 10).map { i =>
      s"((($a >> $i) & 1) * ${1L << (2 * i + 1)} + " +
        s"(($b >> $i) & 1) * ${1L << (2 * i)})"
    }.mkString(" + ")

  /** Drop a managed table's catalog entry AND its warehouse files (the
    * warehouse dir outlives the in-memory catalog: a fresh JVM doesn't
    * know the table, so overwrite would CREATE over the old location and
    * fail). */
  private def dropManaged(s: SparkSession, tables: String*): Unit =
    tables.foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir") + "/" + t)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  /** Write a bucketed managed table once per (JVM, dataset) — the same
    * reuse the DPP layout got in round 7: the table name carries the
    * dataset hash, so a catalog hit IS a complete prior write by this
    * session, and bench reps 2-3 (plus sibling queries on the same
    * table) measure the bucketed JOIN/SCAN they demonstrate instead of
    * re-timing the one-time layout write. A fresh JVM starts with an
    * empty in-memory catalog, so its first call clears any stale files
    * from an earlier JVM and rewrites. */
  private def ensureBucketed(s: SparkSession, table: String, key: String,
      df: => DataFrame): Unit =
    if (!s.catalog.tableExists(table)) {
      dropManaged(s, table)
      df.write.mode("overwrite")
        .bucketBy(8, key).sortBy(key)
        .format("parquet").saveAsTable(table)
    }

  /** The bucket-pruned point-lookup scan under q_join_bucket_prune,
    * exposed so PlanSpec can assert `SelectedBucketsCount: 1 out of 8`
    * on the same plan the query runs. Writes (once per sf dir) a
    * lineitem table bucketed 8 ways on l_orderkey, then filters on one
    * key: Spark prunes the scan to the single bucket file set that can
    * contain it — the read-side payoff of bucketing beyond shuffle-free
    * joins (at 100 TB a point lookup reads 1/8th of the files with NO
    * index structure, just the bucket hash). */
  private[graft] def bucketPrunedScan(s: SparkSession, d: String): DataFrame = {
    val t = s"li_bktp_${math.abs(d.hashCode)}"
    ensureBucketed(s, t, "l_orderkey",
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")))
    s.table(t).where(col("l_orderkey") === 1L)
  }

  /** Conf pinning bucketed reads on for scan-shaped plans: Spark's
    * autoBucketedScan heuristic turns bucketed scans OFF when no
    * join/aggregate consumes the bucketing — which also turns off bucket
    * PRUNING, the thing q_join_bucket_prune demonstrates. At 100 TB the
    * consumer (a bucketed join or keyed agg) keeps it on automatically;
    * the pin makes the fixture-scale plan show what the cluster-scale
    * plan does. */
  private[graft] val BucketScanKnobs = Seq(
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  /** The skewed shuffle join under q_join_skew_aqe, exposed so PlanSpec
    * can run it with the skew knobs and assert the AQE final plan split
    * the skewed partitions. l_returnflag has 3 values, so each key is a
    * third of the fact table funneling into one reducer — the textbook
    * skew shape AQE's OptimizeSkewedJoin exists for. */
  private[graft] def skewedJoin(s: SparkSession, d: String): DataFrame = {
    // Fan the single-file fixture scan out first: OptimizeSkewedJoin
    // splits a skewed reduce partition into groups of MAP-side blocks,
    // so a shuffle fed by ONE map task (one parquet file = one split)
    // is unsplittable no matter how skewed — at corpus scale the scan
    // has thousands of splits and this repartition doesn't exist (same
    // single-file-fixture argument as Dedup.withShingles).
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"))
      .repartition(16)
    // The dim side must reach the join as shuffle→sort directly:
    // OptimizeSkewedJoin only rewrites the canonical
    // SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) shape, so an
    // aggregate (e.g. a distinct) sitting between the dim's shuffle and
    // the join defeats it — a real pipeline materializes such dims
    // first for exactly this reason. Here the status dimension is a
    // 3-row local relation (flag → ascii weight), replayed verbatim by
    // the oracle.
    import s.implicits._
    val dim = Seq("A", "N", "R").toDF("l_returnflag")
      .withColumn("w", ascii(col("l_returnflag")).cast("long"))
    li.join(dim, Seq("l_returnflag"))
  }

  /** Knobs that force AQE skew handling at fixture scale (thresholds are
    * sized for clusters; a real 100 TB run hits them without help):
    * tiny skew threshold + advisory size so the per-flag partitions
    * qualify and split, broadcast off so the join is the shuffle join
    * skew optimization applies to, force=true because the downstream
    * per-flag aggregate would otherwise veto the split (it introduces an
    * extra shuffle — the documented trade AQE makes). */
  private[graft] val SkewKnobs = Seq(
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Run `body` with `knobs` set, restoring previous values after. */
  private[graft] def withConf[A](s: SparkSession,
      knobs: Seq[(String, String)])(body: => A): A = {
    val prev = knobs.map { case (k, _) => k -> s.conf.getOption(k) }
    knobs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** The star join under q_join_dpp, exposed so PlanSpec can assert the
    * `dynamicpruningexpression` on the same plan the query runs.
    *
    * Layout: fact = orders partitioned by o_orderstatus; dim = one row
    * per status carrying a NON-partition attribute (d_open). The dim is
    * round-tripped through parquet on purpose — a LocalRelation dim
    * would constant-fold its filter away at optimization time and
    * PartitionPruning would see no selective predicate to subscribe to.
    * The dim filter (d_open = 1) is invisible to static pruning, so the
    * only way the fact scan can skip directories is the runtime DPP
    * subquery fed by the reused dim broadcast. */
  private[graft] def dppStarJoin(s: SparkSession, d: String): DataFrame = {
    val base = s"${sys.props("java.io.tmpdir")}/graft_dpp_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
    // Write the fact/dim layout once per (JVM, dataset) and reuse it
    // across bench reps — the _SUCCESS marker proves a complete prior
    // write. Re-writing per invocation made q_join_dpp's min-of-3 time
    // two parquet writes instead of the DPP scan it demonstrates.
    def missing(sub: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$base/$sub/_SUCCESS")
      !p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    }
    if (missing("fact"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$base/fact")
    if (missing("dim"))
      Tables.orders(s, d)
        .select(col("o_orderstatus").as("d_status")).distinct()
        .withColumn("d_open", when(col("d_status") === "O", 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$base/dim")
    val fact = s.read.parquet(s"$base/fact")
    val dim = s.read.parquet(s"$base/dim").where(col("d_open") === 1)
    fact.join(dim, fact("o_orderstatus") === dim("d_status"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Per-(layout path) zone-map manifests, built once per JVM — kept as
    * a DataFrame (one (file, min, max) row per layout file,
    * localCheckpointed onto the executors), NOT a driver array: at
    * 100 TB (~10⁵-10⁶ files) the manifest is itself a table the planner
    * filters, and only the files that can match a predicate should ever
    * surface to the driver. */
  private val zmapManifests =
    scala.collection.mutable.Map.empty[String, DataFrame]

  /** Zone-map (min/max) file pruning — the manifest-consults-stats scan
    * every lake table format runs at 100 TB (Iceberg/Delta manifests,
    * parquet footer stats): the documents corpus is laid out ONCE per
    * (JVM, dataset) as 8 doc_id-range files; a manifest of per-file
    * (min, max) is aggregated distributed and memoized (driver
    * traffic = one row per FILE, never per data row — at 100 TB the
    * manifest is itself a table and this filter is a scan over it);
    * and the range query plans its file list FROM the manifest, so
    * files that cannot contain matches are never opened — scan cost
    * tracks the predicate's selectivity, not the table size. The
    * pruned-vs-total file counts are returned for PlanSpec, which
    * asserts strict pruning; the in-file residual predicate still
    * pushes to the parquet reader (row-group zone maps prune WITHIN
    * the chosen files). The query range derives from the manifest
    * itself (max doc_id), oracle-replayed as a scalar subquery. */
  private[graft] def zonemapScan(s: SparkSession, d: String)
      : (DataFrame, Int, Int) = {
    val base = s"${sys.props("java.io.tmpdir")}/graft_zmap_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
    val success = new org.apache.hadoop.fs.Path(s"$base/_SUCCESS")
    if (!success.getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(success))
      Tables.documents(s, d).repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").parquet(base)
    val manifest = zmapManifests.synchronized {
      graft.MemoStats.record("zonemap_manifest", zmapManifests.contains(base))
      zmapManifests.getOrElseUpdate(base, {
        s.read.parquet(base)
          .groupBy(input_file_name().as("file"))
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .localCheckpoint() // the manifest TABLE: rows live on executors
      })
    }
    // the query range: one bounded scalar off the manifest table
    val maxId = manifest.agg(max(col("mx"))).head.getLong(0)
    val (lo, hi) = (maxId / 10, maxId / 5)
    // planning is a FILTER ON THE MANIFEST TABLE — only files whose
    // [min, max] can intersect the predicate ever reach the driver, so
    // the collected list is ∝ the predicate's selectivity, never the
    // total file count (the Iceberg/Delta planner shape)
    val hit = manifest.where(col("mx") >= lo && col("mn") <= hi)
      .select(col("file")).collect().map(_.getString(0)).sorted
    val total = manifest.count().toInt // bounded scalar: file count
    val df = s.read.parquet(hit.toIndexedSeq: _*)
      .where(col("doc_id") >= lo && col("doc_id") <= hi)
    (df, hit.length, total)
  }

  /** The join under q_join_runtime_filter, exposed so PlanSpec can
    * assert the injected bloom filter on the same plan the query runs. */
  private[graft] def runtimeFilteredJoin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).where(col("o_orderstatus") === "P"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        QueryDefs.dsum(col("l_extendedprice")).as("sum_price"))

  val defs: Map[String, Q] = Map(

    // Runtime bloom-filter join pruning (InjectRuntimeFilter): the
    // selective dimension predicate is turned into a bloom filter,
    // built on the dim side at RUN time and applied to the fact scan
    // BEFORE the join shuffle — at 100 TB this is the difference
    // between shuffling every lineitem row and shuffling only the ~3%
    // that can possibly match. Spark's size thresholds are tuned for
    // real clusters, so the fixture-scale knobs here force what a 100 TB
    // plan gets for free (broadcast is disabled for the same reason —
    // at real fact×dim scale this join is a shuffle join, which is
    // exactly when runtime filters matter). Materialized inside the
    // conf window because injection happens at optimization time.
    "q_join_runtime_filter" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_rtf_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      withConf(s, Seq(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
        runtimeFilteredJoin(s, d).write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("o_orderstatus"))
    }),

    // Dynamic partition pruning — the partition-level twin of
    // q_join_runtime_filter's row-level bloom: a star join whose
    // dimension predicate lives on a NON-partition dim attribute, so
    // the partitions the fact scan may skip are only knowable at RUN
    // time, after the dim broadcast materializes. Spark subscribes the
    // fact scan's PartitionFilters to that broadcast
    // (dynamicpruningexpression — plan-asserted in PlanSpec). On a
    // partitioned 100 TB star schema this is the single largest
    // scan-eliminator: the skipped partitions are never even listed.
    "q_join_dpp" -> ((s, d) => dppStarJoin(s, d)),

    // AQE skew-join splitting — the AUTOMATIC twin of q_join_salted: the
    // 3-valued join key funnels a third of the fact table into single
    // reducers, and OptimizeSkewedJoin splits those partitions into
    // advisory-sized chunks at RUNTIME (the dim side is replicated per
    // chunk by the skew-aware shuffle read). At 100 TB this is the
    // first line of defense against skew — salting is the fallback when
    // the skew is in a build side or AQE's trade is refused. Result
    // provably equals the unsalted/unsplit join, which is what the
    // oracle runs; the split itself is plan-asserted in PlanSpec.
    // Materialized inside the conf window (skew handling happens at
    // execution time under AQE).
    "q_join_skew_aqe" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_skew_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      withConf(s, SkewKnobs) {
        skewedJoin(s, d)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"),
            max(col("w")).as("weight"))
          .write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("l_returnflag"))
    }),

    // Bucket-pruned point lookup: filter on the bucketBy key reads ONLY
    // the one bucket (of 8) that can contain it — plan-asserted via
    // SelectedBucketsCount in PlanSpec. Materialized inside the
    // BucketScanKnobs window so the pruned scan is what actually runs
    // (see the knob's comment). See bucketPrunedScan.
    "q_join_bucket_prune" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_bkp_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      withConf(s, BucketScanKnobs) {
        bucketPrunedScan(s, d)
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("l_orderkey"))
    }),

    // Dynamic-partition-overwrite incremental write — the write-side
    // primitive an incrementally maintained 100 TB corpus needs (the
    // role Delta MERGE would play; Delta jars don't exist in this
    // offline container, so this is the expressible-today equivalent):
    // a full partitioned baseline, then an INSERT OVERWRITE carrying
    // ONLY partition P, with partitionOverwriteMode=dynamic replacing
    // just the partitions present in the incoming data. The result
    // carries file-level PROOF: per partition, whether the baseline
    // part-files survived byte-identical (same file names — a rewrite
    // generates fresh UUIDs), which the oracle pins to F/O=true,
    // P=false.
    "q_layout_incremental" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_dpo_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      // baseline: static overwrite, all three partitions written fresh
      orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      def listing(): Map[String, Seq[String]] = {
        val base = new org.apache.hadoop.fs.Path(out)
        val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
        Seq("F", "O", "P").map { st =>
          val dir = new org.apache.hadoop.fs.Path(base, s"o_orderstatus=$st")
          val files =
            if (fs.exists(dir))
              fs.listStatus(dir).map(_.getPath.getName)
                .filter(_.startsWith("part-")).sorted.toSeq
            else Seq.empty[String]
          st -> files
        }.toMap
      }
      val before = listing()
      // the increment: only P rows (restated at double price); dynamic
      // mode overwrites just the partitions present in this write
      withConf(s, Seq(
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
        orders.where(col("o_orderstatus") === "P")
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      }
      val after = listing()
      import s.implicits._
      val unchanged = Seq("F", "O", "P")
        .map(st => (st, before(st).nonEmpty && before(st) == after(st)))
        .toDF("o_orderstatus", "files_unchanged")
      s.read.parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .join(broadcast(unchanged), Seq("o_orderstatus"))
        .orderBy(col("o_orderstatus"))
    }),

    // Small-file compaction: the maintenance pass that rewrites a
    // many-small-files dataset into few large ones (here 64 shuffle-
    // grain files → 4 via repartition, with maxRecordsPerFile as the
    // upper-bound guard). At 100 TB this is the difference between a
    // scan planning 10M tasks and 10k — file count, not byte count, is
    // what kills listing and scheduling. The oracle checks the rewrite
    // preserved the data exactly; CompactionSpec-style file-count
    // assertions live in PlanSpec.
    "q_layout_compaction" -> ((s, d) => {
      val base = s"${sys.props("java.io.tmpdir")}/graft_cmp_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      val (small, big) = (s"$base/small", s"$base/big")
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("value"))
      ev.repartition(64).write.mode("overwrite").parquet(small)
      s.read.parquet(small)
        .repartition(4)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1000000)
        .parquet(big)
      s.read.parquet(big)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    }),

    // Parquet schema evolution (mergeSchema): two write generations —
    // the newer one adds a column — read back as ONE table with the
    // union'd schema, old files null-filled by NAME. The 100 TB reality
    // this models: a corpus written over months drifts schema, and the
    // reader must reconcile footers without rewriting petabytes.
    // mergeSchema costs a footer pass per file at planning, so real
    // deployments pin it per-dataset, not globally.
    "q_source_mergeschema" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_ms_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      val p = Tables.part(s, d)
      p.select(col("p_partkey"), col("p_brand"))
        .where(col("p_partkey") % 2 === 0)
        .write.mode("overwrite").parquet(s"$out/gen=1")
      p.select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .where(col("p_partkey") % 2 === 1)
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          count(col("p_retailprice")).as("n_priced"),
          dsum(coalesce(col("p_retailprice"), lit(0.0))).as("total"))
        .orderBy(col("p_brand"))
    }),

    // Event-time RANGE window frame: per-user trailing-hour count and
    // sum — the time-based sliding aggregate, where the frame is an
    // INTERVAL over the ORDER BY column, not a row count (q_window_frame
    // covers ROWS). RANGE includes ts-ties as peers, so the result is
    // order-deterministic even with duplicate timestamps; the decimal
    // sum keeps the frame aggregate bit-exact across engines. One
    // shuffle on user_id, sort within partition — same cost envelope as
    // any window at scale.
    "q_window_range_frame" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("n_1h", expr(
          """count(*) OVER (PARTITION BY user_id ORDER BY ts
            |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"""
            .stripMargin))
        .withColumn("sum_1h", expr(
          """CAST(sum(CAST(value AS DECIMAL(30,4))) OVER (
            |  PARTITION BY user_id ORDER BY ts
            |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
            |AS DOUBLE)""".stripMargin))
        .where(col("event_id") % 13 === 0)
        .select(col("event_id"), col("user_id"), col("n_1h"), col("sum_1h"))
        .orderBy(col("event_id"))
    }),

    // Typed per-group transformation (KeyValueGroupedDataset
    // .flatMapGroups): per-language z-score of document length, computed
    // by materializing each group on one executor. The group payload
    // here is (id, len) pairs keyed by language — bounded and safe; at
    // 100 TB the same statistic should come from an aggregate +
    // broadcast join (q_agg_stats shape) because flatMapGroups holds a
    // whole group in memory and a skewed key becomes one giant task.
    // This entry exists to cover the typed API surface itself.
    // Cross-engine exactness: z_milli = floor(1000·(n·x − Σx)/√(n·Σx²
    // − (Σx)²)) — integer sufficient statistics, then one sqrt, one
    // multiply, one divide, in the same order in both engines.
    "q_typed_mapgroups" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .as[DocLen]
        .groupByKey(_.lang)
        .flatMapGroups { (lang: String, it: Iterator[DocLen]) =>
          val rows = it.toVector
          val n = rows.size.toLong
          val sm = rows.iterator.map(_.n_chars).sum
          val sq = rows.iterator.map(r => r.n_chars * r.n_chars).sum
          val varN = n * sq - sm * sm // n² · variance, exact integer
          val sd = math.sqrt(varN.toDouble) // = n · stddev
          rows.map { r =>
            val z =
              if (varN == 0L) 0L
              else math.floor(1000.0 * (n * r.n_chars - sm).toDouble / sd).toLong
            (r.doc_id, lang, r.n_chars, z)
          }
        }
        .toDF("doc_id", "lang", "n_chars", "z_milli")
        .orderBy(col("doc_id"))
    }),

    // Z-order (Morton) data layout: interleave the bits of two filter
    // keys into one clustering value, range-partition + sort the write
    // by it, and serve a 2-D box filter from the clustered files. Both
    // dimensions' ranges land in FEW row groups (a 1-D sort would
    // scatter the second key across all of them), so parquet min/max
    // stats skip most of the file — the same lever as Delta's OPTIMIZE
    // ZORDER, built from repartitionByRange + sortWithinPartitions.
    // The oracle replays the box filter on the original table.
    "q_layout_zorder" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_zorder_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_custkey") % 1024).as("za"),
          (col("o_orderkey") % 1024).as("zb"))
        .withColumn("z", expr(zInterleaveSpark("za", "zb")))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .where(col("za").between(100, 300) && col("zb").between(200, 400))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"))
    }),

    // As-of join: each click matched to that user's most recent purchase
    // at-or-before the click. Spark lacks a batch as-of operator, so this
    // is the union + running-`last` rendition (SURVEY.md §2b): tag both
    // streams, sort within user by event time (purchases first on ties),
    // carry the last purchase forward, keep the click rows. ONE shuffle
    // on user_id and no per-row subquery — the shape that survives 100 TB
    // (a broadcast-range or per-key sort merge, never a cross product).
    // Oracle: DuckDB's native ASOF LEFT JOIN.
    "q_join_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(0).as("is_p"), lit(null).cast("long").as("p_event"),
          lit(null).cast("double").as("p_value"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(1).as("is_p"), col("event_id").as("p_event"),
          col("value").as("p_value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_p").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      purchases.unionAll(clicks)
        .withColumn("last_p", last(col("p_event"), ignoreNulls = true).over(w))
        .withColumn("last_v", last(col("p_value"), ignoreNulls = true).over(w))
        .where(col("is_p") === 0)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_ts_us"),
          col("last_p").as("p_event"), col("last_v").as("p_value"))
        .orderBy(col("event_id"))
    }),

    // Typed Dataset + Aggregator (the Dataset[T]/Encoder surface).
    "q_typed_agg" -> ((s, d) => {
      import s.implicits._
      val ds = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .as[Line]
      ds.groupByKey(_.l_returnflag)
        .agg(HighQtyShare.toColumn.name("high_qty_share"))
        .toDF("l_returnflag", "high_qty_share")
        .orderBy(col("l_returnflag"))
    }),

    // Approximate distinct (HyperLogLog++): sketches are engine-specific,
    // so no DuckDB oracle (rows-only) — but the query shape (partial
    // sketch merge, then two shuffles: the hash exchange on the group
    // key and the ORDER BY's range exchange) is exactly what replaces
    // exact COUNT(DISTINCT) at 100 TB. Each sketch is ONE binary buffer
    // (graft.functions.HllppAgg, ~13 KB at rsd 0.01) instead of
    // approx_count_distinct's 1,639 long buffer columns; its estimates
    // are Spark's HLL++ bit for bit (ExtendedSpec, PlanSpec pin both).
    "q_agg_approx" -> ((s, d) => {
      import graft.functions.HllppAgg.hllpp_count
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(hllpp_count(col("l_partkey"), 0.01).as("approx_parts"),
          hllpp_count(col("l_orderkey"), 0.01).as("approx_orders"))
        .orderBy(col("l_returnflag"))
    }),

    // Grouped top-k through the CUSTOM PHYSICAL OPERATOR (logical node +
    // planner strategy + bounded-heap exec — graft.plans.TopKPerGroup):
    // top-3 orders by total price per priority class. The window
    // spelling (row_number <= k) sorts every group completely; this
    // plans a hash Exchange + one heap pass, no sort — plan-asserted in
    // PlanSpec, result-identical to the window oracle because the
    // (score DESC, tie ASC) tiebreak makes the kept set deterministic.
    "q_topk_custom" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"))
      graft.plans.TopK.topKPerGroup(o, Seq("o_orderpriority"),
          "o_totalprice", "o_orderkey", 3)
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    // The same grouped top-k reached from PLAIN SQL TEXT: the session
    // carries TopKSqlRewrite (extraOptimizations), which recognizes the
    // row_number-filter spelling — the only way SQL can express grouped
    // top-k — and swaps in TopKPerGroupNode, stripping the Sort +
    // WindowExec (and the WindowGroupLimit Spark itself infers). Same
    // oracle as q_topk_custom; PlanSpec asserts the physical plan is
    // the heap exec with no window/sort below it.
    "q_topk_sql" -> ((s, d) => {
      graft.plans.TopK.register(s)
      Tables.orders(s, d).createOrReplaceTempView("orders_topk_sql")
      s.sql("""
        SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey)
                   AS rn
          FROM orders_topk_sql)
        WHERE rn <= 3
        ORDER BY o_orderpriority, o_orderkey
      """)
    }),

    // Linear-counting cardinality estimate (Whang et al. 1990) — the
    // ORACLE-CHECKABLE twin of q_agg_approx's HLL (whose sketch
    // internals are Spark-private, hence that row's rows-only check):
    // hash each distinct key to ONE bit of a 4096-bit bitmap (the k=1
    // BloomFilterAgg — same mergeable OR-combine, same engine-neutral
    // fold, so DuckDB replays the exact bit set), then invert the
    // occupancy: n̂ = -M·ln(empty/M). Input is word bigrams (~920
    // distinct at the fixtures — load factor ~0.22, squarely in LC's
    // sweet spot, with ~90 real hash collisions for the estimator to
    // correct). bits_set is integer-exact parity; the estimate is
    // floor-quantized at 1e6 (the ln is the one libm call — same
    // discipline and risk envelope as q_text_lm_score). At 100 TB the
    // bitmap merges map-side like the CMS and the memory is M/8 bytes
    // per partition — cardinality estimation without a shuffle of keys.
    "q_agg_distinct_lc" -> ((s, d) => {
      import graft.functions.BloomFilterAgg.lc_agg
      val bg = Tables.documents(s, d)
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          """CASE WHEN size(w) >= 2 THEN
            |  transform(sequence(1, size(w) - 1),
            |    i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))
            |ELSE array() END""".stripMargin)).as("bg"))
      bg.agg(count_distinct(col("bg")).as("n_exact"),
          lc_agg(col("bg")).as("bits"))
        .select(col("n_exact"),
          expr("aggregate(transform(bits, x -> bit_count(x)), 0, " +
            "(a, x) -> a + x)").cast("long").as("bits_set"))
        .withColumn("lc_est_q",
          floor(lit(-4096.0) *
            log((lit(4096.0) - col("bits_set").cast("double")) / lit(4096.0)) *
            lit(1e6)).cast("long"))
    }),

    // Custom expressions through the SQL surface: registered in the
    // session function registry, then used from spark.sql text. The
    // codegen'd double fold is left-to-right, so it agrees with DuckDB's
    // sequential SUM to ~1e-14; floor-quantizing at 1e-6 (the q_math_funcs
    // trick) absorbs that and makes the oracle hash-exact.
    "q_sim_cosine_sql" -> ((s, d) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
      s.sql("""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(floor(cosine_sim(a.embedding, b.embedding) * 1e6)
                 AS BIGINT) AS cos_q
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 3
        ORDER BY vec_a, vec_b
      """)
    }),

    // Exact percentiles (median/p90). Both engines interpolate with the
    // same rank formula but not necessarily the same FP op order, so the
    // emitted values are floor-quantized to 1e-3 (same trick as ln/pow).
    "q_agg_median" -> ((s, d) => {
      // One percentile(ARRAY(...)) aggregate, not two scalar ones: each
      // scalar percentile builds its own value→count map per group per
      // partition and merges it through the shuffle; the array form
      // computes both ranks from ONE shared buffer (half the hashing,
      // half the merge traffic), with identical interpolation per rank.
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.9))").as("pcts"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          floor(element_at(col("pcts"), 1) * 1000).cast("long")
            .as("median_price_m"),
          floor(element_at(col("pcts"), 2) * 1000).cast("long")
            .as("p90_price_m"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Histogram-sketch quantiles — the one-pass scale alternative to
    // q_agg_median's exact percentile, which needs a per-group sort (at
    // 100 TB, a full shuffle of the column). Here the corpus work is
    // two cheap scans: a 3-scalar stats aggregate, then a 100-cell
    // equi-width histogram with map-side partials; rank selection and
    // within-bucket linear interpolation run on the 100-row tail. The
    // estimate is within one bucket width of the true quantile by
    // construction (spec-asserted against exact percentiles); bucket
    // count is the accuracy knob. All arithmetic is deterministic
    // IEEE doubles spelled identically in the oracle, est floor-
    // quantized at 1e-3 like the exact-percentile query.
    "q_agg_quantile_hist" -> ((s, d) => {
      val v = Tables.lineitem(s, d).select(col("l_extendedprice").as("x"))
      val r0 = v.agg(count(lit(1)).as("n"), min(col("x")).as("mn"),
        max(col("x")).as("mx")).collect()(0)
      val (n, mn, mx) = (r0.getLong(0), r0.getDouble(1), r0.getDouble(2))
      val hist = v.select(least(lit(99L),
          floor((col("x") - lit(mn)) / (lit(mx) - lit(mn)) * 100))
          .as("bkt"))
        .groupBy(col("bkt")).agg(count(lit(1)).as("c"))
      val cum = hist.withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      import s.implicits._
      val tr = Seq(0.5, 0.9, 0.99).toDF("p")
        .withColumn("tr", ceil(col("p") * lit(n)))
      val pick = tr.join(cum, col("cum") >= col("tr"))
        .groupBy(col("p"), col("tr")).agg(min(col("bkt")).as("bkt"))
      pick.join(cum, "bkt")
        .select(col("p"), col("bkt"),
          floor((lit(mn) + (col("bkt").cast("double") +
            (col("tr") - (col("cum") - col("c"))).cast("double") /
              col("c").cast("double")) *
            (lit(mx) - lit(mn)) / lit(100.0)) * 1000).cast("long")
            .as("est_m"))
        .orderBy(col("p"))
    }),

    // Deterministic collect: collect_set is unordered, so sort_array
    // canonicalizes and array_join flattens to one scalar string —
    // result columns must never be array-typed (the driver comparator
    // can't hash them), and a bounded joined string is how a collect
    // should ship at scale anyway.
    "q_agg_collect" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val sup = Tables.supplier(s, d)
      sup.join(n, sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(array_join(sort_array(collect_set(col("s_name"))), "|")
            .as("suppliers"),
          count(lit(1)).as("n_sup"))
        .orderBy(col("n_name"))
    }),

    // Pivot (wide aggregation): explicit value list so the plan is a
    // single pass (no extra distinct-values job). Oracle: conditional
    // aggregation, the relational-algebra spelling of the same thing.
    "q_agg_pivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum(col("l_quantity")))
        .toDF("l_linestatus", "qty_a", "qty_n", "qty_r")
        .orderBy(col("l_linestatus"))
    }),

    // Stratified sampling (sampleBy with per-stratum fractions, fixed
    // seed): the training-data downsampling primitive. Sampling is
    // engine-specific → rows-only check; determinism within Spark comes
    // from the seed.
    "q_sample_stratified" -> ((s, d) => {
      Tables.lineitem(s, d)
        .stat.sampleBy("l_returnflag",
          Map("A" -> 0.1, "N" -> 0.05, "R" -> 0.1), 42L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("l_returnflag"))
    }),

    // Bucketed co-located join: both sides written bucketBy(join key) +
    // sortBy, then joined with ZERO join-side shuffles — the scan feeds
    // SortMergeJoin directly from the bucket files (PlanSpec asserts the
    // missing Exchanges). At 100 TB this is THE answer for a fact table
    // joined repeatedly on the same key: pay one bucketed write, skip
    // the shuffle on every subsequent join.
    "q_join_bucketed" -> ((s, d) => {
      val suffix = math.abs(d.hashCode).toString
      val liT = s"li_bkt_$suffix"
      val oT = s"o_bkt_$suffix"
      ensureBucketed(s, liT, "l_orderkey",
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice")))
      ensureBucketed(s, oT, "o_orderkey",
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus")))
      // merge hint: at test scale the small side would broadcast, which
      // hides what's being demonstrated — that bucketed sides feed
      // SortMergeJoin with no Exchange (at fact×fact scale SMJ is what
      // the planner picks anyway)
      s.table(liT).hint("merge").join(s.table(oT),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          QueryDefs.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // Skew-mitigated aggregation: two-phase salt → partial agg → final
    // agg. l_returnflag has 3 values — at 100 TB a plain groupBy funnels
    // a third of the table through one reducer; salting fans the partial
    // aggregation across salt×key reducers and the final pass combines
    // 16 tiny partials. Decimal partials keep the result bit-identical
    // to the unsalted oracle.
    "q_agg_salted" -> ((s, d) => {
      val partial = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(sum(col("l_quantity").cast("decimal(30,4)")).as("pq"),
          count(lit(1)).as("pn"))
      partial.groupBy(col("l_returnflag"))
        .agg(sum(col("pq")).cast("double").as("sum_qty"),
          sum(col("pn")).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Skew-mitigated JOIN (the join-side twin of q_agg_salted): the fact
    // side gets a deterministic salt, the dimension side is replicated
    // once per salt value, and the join key becomes (key, salt) — a hot
    // key's rows spread over `salts` reducers instead of funneling into
    // one. At 100 TB this is the standard fallback when AQE skew-join
    // splitting can't help (e.g. the skew is in the build side or the
    // join feeds a wider pipeline). Result provably equals the unsalted
    // join, which is what the oracle runs.
    "q_join_salted" -> ((s, d) => {
      val salts = 16
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .withColumn("salt",
          pmod(xxhash64(col("l_orderkey"), col("l_quantity")), lit(salts)))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .crossJoin(s.range(salts).select(col("id").as("salt")))
      li.join(o, li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // Partition-pruned source: write partitioned by a low-cardinality
    // column, then filter on it — the scan must touch ONLY the matching
    // partition directories (PartitionFilters in the plan, asserted in
    // PlanSpec). At 100 TB partition layout is the first and cheapest
    // pruning lever: a pruned scan never even lists the skipped data.
    "q_source_partitioned" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_part_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .where(col("o_orderstatus") === "F")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // Footer-only aggregation: COUNT/MIN/MAX answered from parquet
    // row-group statistics with ZERO data pages read — the DSv2 scan
    // rewrites the aggregate into a metadata walk (PushedAggregation in
    // the plan, asserted in PlanSpec). At 100 TB this is the difference
    // between a full corpus scan and listing footers: row counts and
    // column envelopes are the first questions asked of any new
    // dataset, and they are already materialized in the files. Runs on
    // a child session because the V2 parquet path + pushdown are
    // session confs (parquet is on useV1SourceList by default) that
    // must not leak into the other queries' planning; timestamp and
    // string columns are deliberately absent (parquet min/max pushdown
    // excludes them — timestamp for int96 ambiguity, string for stats
    // truncation), which is itself part of the documented envelope.
    "q_scan_agg_pushdown" -> ((s, d) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.read.parquet(s"$d/lineitem.parquet").agg(
        count(lit(1)).as("n"),
        min(col("l_orderkey")).as("min_ok"),
        max(col("l_orderkey")).as("max_ok"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
    }),

    // Custom DSv2 connector end-to-end: scan the deterministic synth
    // source (graft.sources.GraftSynthSource — TableProvider → pruning
    // + filter-pushdown ScanBuilder → range partitions → row readers)
    // through an id-range filter and an aggregate. The id filter
    // narrows the generator's range AT PLANNING TIME (the connector's
    // partition pruning — asserted in PlanSpec via planInputPartitions)
    // and rows are a pure function of id, so the DuckDB oracle replays
    // the whole scan with generate_series. Outputs avoid double
    // SUMMATION entirely (min/max/count/distinct are exact; the val
    // doubles are bit-identical per row in both engines by IEEE
    // division), so parity is definitional.
    "q_source_custom" -> ((s, d) => {
      s.read.format("graft.sources.GraftSynthSource")
        .option("rows", "100000").option("parts", "8").load()
        .where(col("id") >= 25000L && col("id") < 75000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("val")).as("min_val"),
          max(col("val")).as("max_val"),
          countDistinct(col("tok")).as("n_tok"))
        .orderBy(col("bucket"))
    }),

    // Storage-partitioned aggregation over the DSv2 connector's
    // key-grouped layout (`layout=mod`: partition p owns the ids ≡ p
    // mod 8, and the scan REPORTS KeyGroupedPartitioning over `part`
    // via HasPartitionKey) — so the per-part aggregate's clustering
    // requirement is satisfied AT THE SCAN and Catalyst plans NO
    // shuffle exchange (PlanSpec-asserted). This is the at-scale story
    // for any source whose physical layout already matches the query's
    // grouping — shard-per-file logs, Kafka partitions, Iceberg
    // storage-partitioned tables: the largest shuffle of a per-shard
    // rollup costs ZERO bytes because the connector declares where the
    // data already is. countDistinct is deliberately absent: a distinct
    // aggregate plans an Expand + re-shuffle regardless of layout.
    "q_source_kgrouped" -> ((s, d) => {
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.read.format("graft.sources.GraftSynthSource")
        .option("rows", "100000").option("parts", "8")
        .option("layout", "mod").load()
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n"),
          sum(col("bucket").cast("long")).as("sum_bucket"),
          min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy(col("part"))
    }),

    // Time-series gap-fill: hourly per-type event counts with explicit
    // zero rows for silent hours — the resample/densify primitive behind
    // rate metrics and training-data time slicing. The hour spine comes
    // from sequence() over the global bounds (one tiny aggregate, spine
    // broadcast), NOT from a per-key loop; the heavy side stays one
    // groupBy of the raw events.
    // Distribution-drift monitoring (shared kernel with the streaming
    // twin q_stream_drift — graft.streaming.EventStreams):
    // Population Stability Index of the
    // event `value` distribution, first half-month (reference window) vs
    // second (current), per event type — the standard gate a production
    // pipeline runs before trusting new data. Fixed-width value buckets
    // (10 × 50.0, last open-ended) with Laplace smoothing so empty cells
    // stay defined; each bucket's (p₂−p₁)·ln(p₂/p₁) term is
    // 1e9-floor-quantized (the q_text_lm_score pattern) and the per-type
    // PSI is the exact integer sum. Scale shape: ONE scan with map-side
    // conditional counts onto |types|×10 rows; everything after is
    // broadcast-size.
    "q_drift_psi" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        psiBucket.as("bkt"),
        expr(s"ts < $PsiSplitSql").as("is_ref"))
      val cnt = ev.groupBy(col("event_type"), col("bkt"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c2"))
      val spine = ev.select(col("event_type")).distinct()
        .select(col("event_type"), explode(sequence(lit(0), lit(9))).as("bkt"))
      val tot = cnt.groupBy(col("event_type"))
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      spine.join(cnt, Seq("event_type", "bkt"), "left")
        .select(col("event_type"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
        .join(broadcast(tot), "event_type")
        .withColumn("p1",
          (col("c1") + 1).cast("double") / (col("n1") + 10).cast("double"))
        .withColumn("p2",
          (col("c2") + 1).cast("double") / (col("n2") + 10).cast("double"))
        .groupBy(col("event_type"))
        .agg(max(col("n1")).as("n_ref"), max(col("n2")).as("n_cur"),
          sum(floor(((col("p2") - col("p1")) * log(col("p2") / col("p1")))
            * lit(1e9)).cast("long")).as("psi_nn"))
        .orderBy(col("event_type"))
    }),

    // Batch sessionization: split each user's event stream wherever the
    // inter-event gap exceeds 12 h, then aggregate per session — the
    // batch twin of q_stream_session's session windows (same semantics,
    // no watermark). Two stacked windows over the SAME
    // (user_id ORDER BY m, event_id) partitioning — Spark plans one
    // shuffle and one sort for both — then the session aggregate reuses
    // that partitioning (user_id is a prefix of the grouping key), so
    // the corpus shuffles once total. All session math is in epoch
    // MICROS (exact integers on both engines); the value sum goes
    // through the decimal-exact dsum.
    "q_event_sessionize" -> ((s, d) => {
      val gapUs = 43200000000L // 12 h
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("m"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          unix_micros(col("ts")).as("m"))
        .withColumn("pm", lag(col("m"), 1).over(byUser))
        .withColumn("brk",
          when(col("pm").isNull || col("m") - col("pm") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("brk")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("m")).as("start_us"), max(col("m")).as("end_us"),
          QueryDefs.dsum(col("value")).as("value_sum"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // Per-key EWMA smoothing (α = 1/4) — the time-series baseline a
    // monitoring pipeline keeps per entity, here as ALL-INTEGER
    // arithmetic: values quantize to micros, and each step is
    // y ← (3·y + v) div 4, so the recurrence is bit-exact on any
    // engine (no float accumulation drift; values are non-negative so
    // truncating and flooring division agree). An ordered per-key FOLD
    // is the one shape windowed aggregates can't express (each output
    // depends on the previous output, not a frame of inputs) — this is
    // the honest use of the typed KeyValueGroupedDataset path: one
    // shuffle on user_id, per-group time-ordered fold, group size
    // bounded by per-entity event volume (the same documented caveat
    // as q_typed_mapgroups; a group too large for memory would chunk
    // by time and carry y across chunks). DuckDB replays the fold as a
    // per-rank recursive CTE.
    // Autocorrelation of the daily event-count series at lags 1..7 —
    // the periodicity diagnostic behind seasonality detection (is
    // there a weekly cycle?) and residual whiteness checks, feeding
    // q_timeseries_seasonal's profile with EVIDENCE for its period
    // choice. The whole statistic is INTEGER-exact: with n days, total
    // S and daily counts x_t, center through y_t = n·x_t − S (no
    // rational mean), then acf_pm(k) = ⌊1000·Σ y_t·y_{t+k} / Σ y_t²⌋
    // using the explicit floor-div spelling since lagged sums are
    // legitimately negative (envelope: n²·x² per product must stay
    // under 2^63 — at 30 days × fixture volumes that's ~1e12; a
    // century of billion-event days still fits by rescaling counts to
    // thousands). Scale shape: the corpus collapses to one day-grain
    // aggregate (≤ series length rows); everything after — the
    // row_number index (bounded global window, census-whitelisted like
    // q_event_survival's day grid), the ×7 lag explode, the per-lag
    // sums — is series-sized, never event-sized.
    "q_timeseries_acf" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val idx = daily.select(col("x"),
        row_number().over(Window.orderBy(col("day"))).as("t"))
      val tot = idx.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      // materialize the centered series ONCE (≤ day-span rows): three
      // consumers (numerator, lag side, denominator) would otherwise
      // each re-derive the corpus aggregate — three full scans
      val y = idx.crossJoin(broadcast(tot))
        .select(col("t"), (col("n") * col("x") - col("s")).as("y"))
        .localCheckpoint()
      val den = y.agg(sum(col("y") * col("y")).as("den"))
      val lagged = y.select(col("t").as("t2"), col("y").as("y2"))
      val num = y
        .crossJoin(s.range(1, 8).select(col("id").as("lag")))
        .join(lagged, col("t2") === col("t") + col("lag"))
        .groupBy(col("lag"))
        .agg(sum(col("y") * col("y2")).as("num"),
          count(lit(1)).as("n_pairs"))
      num.crossJoin(broadcast(den))
        .select(col("lag").cast("long").as("lag"), col("n_pairs"),
          expr("(1000 * num - ((1000 * num % den + den) % den)) div den")
            .as("acf_pm"))
        .orderBy(col("lag"))
    }),

    "q_timeseries_ewma" -> ((s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("m"),
          floor(col("value") * lit(1e6)).cast("long").as("v"))
        .as[(Long, Long, Long, Long)]
      e.groupByKey(_._1)
        .flatMapGroups { (uid: Long, it: Iterator[(Long, Long, Long, Long)]) =>
          val sorted = it.toSeq.sortBy(x => (x._3, x._2))
          var y = 0L
          var first = true
          sorted.iterator.map { case (_, eid, m, v) =>
            y = if (first) { first = false; v } else (3 * y + v) / 4
            (uid, eid, m, v, y)
          }
        }
        .toDF("user_id", "event_id", "m_us", "v_us", "ewma_us")
        .orderBy(col("user_id"), col("m_us"), col("event_id"))
    }),

    // Holt double-exponential smoothing (Holt 1957) — q_timeseries_ewma
    // with a TREND state, the level/slope decomposition single
    // smoothing lags behind on drifting series: l' = α·v + (1−α)(l+b),
    // b' = β(l'−l) + (1−β)b, α = β = 1/4 as integer recurrences.
    // The trend is legitimately NEGATIVE, where division conventions
    // matter: measured head-on, Scala's / and DuckDB's // BOTH truncate
    // toward zero (-7/4 = -1 in each), so the recurrence uses plain
    // truncating division on both sides. (The floor-division spelling
    // elsewhere — the (num - mod_floor) div den idiom — exists for
    // SQL-vs-SQL parity where Spark SQL's div is in play; here the
    // Scala fold and the DuckDB recursion already agree.)
    // Init l₁ = v₁, b₁ = 0.
    // Same scale shape as EWMA: the ordered per-key fold windows can't
    // express, one user_id shuffle via the typed per-group pass, state
    // two longs per key; the oracle replays as a per-rank recursive
    // CTE with the level expression repeated inside the trend update.
    "q_timeseries_holt" -> ((s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("m"),
          floor(col("value") * lit(1e6)).cast("long").as("v"))
        .as[(Long, Long, Long, Long)]
      e.groupByKey(_._1)
        .flatMapGroups { (uid: Long, it: Iterator[(Long, Long, Long, Long)]) =>
          val sorted = it.toSeq.sortBy(x => (x._3, x._2))
          var l = 0L
          var b = 0L
          var first = true
          sorted.iterator.map { case (_, eid, m, v) =>
            if (first) { first = false; l = v; b = 0L }
            else {
              val l2 = (v + 3L * (l + b)) / 4L
              b = ((l2 - l) + 3L * b) / 4L
              l = l2
            }
            (uid, eid, m, v, l, b)
          }
        }
        .toDF("user_id", "event_id", "m_us", "v_us", "level_us", "trend_us")
        .orderBy(col("user_id"), col("m_us"), col("event_id"))
    }),

    // One-sided CUSUM change detection (Page 1954) — the SEQUENTIAL
    // drift detector that completes the drift family: PSI/KS compare
    // whole distributions after the fact, CUSUM accumulates per-event
    // deviations s ← max(0, s + v − target − slack) and alarms the
    // moment sustained upward drift crosses h, resetting after each
    // alarm. Reference = each user's own truncated mean (the offline
    // audit form; online, target comes from a frozen in-control
    // window like q_stream_anomaly's pre-split stats), slack =
    // target/10, h = 4·target — all integer, all per-user. Scale
    // shape: same typed per-key fold as EWMA/Holt (one user_id
    // shuffle, 3 longs of state per key), output one row per user;
    // the oracle replays the fold as a per-rank recursive CTE with
    // the alarm/reset CASE repeated (a recursive step can't name its
    // own output columns).
    "q_drift_cusum" -> ((s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("m"),
          floor(col("value") * lit(1e6)).cast("long").as("v"))
        .as[(Long, Long, Long, Long)]
      e.groupByKey(_._1)
        .mapGroups { (uid: Long, it: Iterator[(Long, Long, Long, Long)]) =>
          val sorted = it.toSeq.sortBy(x => (x._3, x._2))
          val n = sorted.length.toLong
          val tgt = sorted.map(_._4).sum / n
          val slack = tgt / 10L
          val h = 4L * tgt
          var sAcc = 0L
          var alarms = 0L
          var mx = 0L
          sorted.foreach { case (_, _, _, v) =>
            val s1 = math.max(0L, sAcc + v - tgt - slack)
            mx = math.max(mx, s1)
            if (s1 > h) { alarms += 1; sAcc = 0L } else sAcc = s1
          }
          (uid, n, tgt, alarms, mx)
        }
        .toDF("user_id", "n_events", "tgt", "n_alarms", "max_s")
        .orderBy(col("user_id"))
    }),

    // Ordered conversion funnel view → click → purchase: per user, the
    // earliest view, the earliest click STRICTLY AFTER that view, and
    // the earliest purchase strictly after that click — sequential
    // event-pattern matching, the analytics shape sessionization
    // doesn't cover (sessions group by gaps; funnels require order
    // across types). Times ride epoch micros (exact integers, the
    // established events parity convention); missing steps emit 0 with
    // the reached-step count alongside. Scale shape: every aggregate
    // and join keys on user_id — one hash partitioning reused down the
    // chain — and each step's table can only SHRINK (funnel
    // monotonicity), so the step-2/step-3 joins run against
    // successively smaller per-user aggregates, never the raw event
    // stream twice; the full events table is scanned once per step
    // filter but only (user_id, m) pairs for one event type survive
    // the scan's predicate into the shuffle.
    "q_event_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("m"))
      val users = e.select(col("user_id")).distinct()
      val v = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("m")).as("t1"))
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("m") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("m")).as("t2"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("m") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("m")).as("t3"))
      users.join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("t1"), lit(0L)).as("t1_us"),
          coalesce(col("t2"), lit(0L)).as("t2_us"),
          coalesce(col("t3"), lit(0L)).as("t3_us"),
          when(col("t3").isNotNull, 3L)
            .when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L)
            .otherwise(0L).as("steps"))
        .orderBy(col("user_id"))
    }),

    // Data-quality constraint suite (the Deequ/great-expectations
    // shape): declarative checks validated in ONE pass per table plus
    // one anti-join per foreign key, emitted as a (check, violations,
    // checked, ok) report — the admission gate a pipeline runs before
    // letting a new batch into the lake. Checks: PK uniqueness,
    // FK containment (orders→customer, lineitem→orders), null rate,
    // numeric range, and a date-window rule that the fixture GENUINELY
    // violates (orders dated past 2000-12-31 exist), so the report
    // exercises both verdicts. Scale shape: per-table checks fold into
    // one conditional aggregate over one scan (no per-check passes);
    // FK checks are LEFT ANTI joins that shuffle only the key columns;
    // the report is |checks| rows.
    "q_dq_constraints" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val ords = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val liAgg = li.agg(count(lit(1)).as("n"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("qty_bad"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
          .as("price_bad"))
      val ordAgg = ords.agg(count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("nk"),
        sum(when(col("o_orderdate") < to_timestamp(lit("1995-01-01")) ||
            col("o_orderdate") > to_timestamp(lit("2000-12-31")), 1L)
          .otherwise(0L)).as("date_bad"))
      val custAgg = cust.agg(count(lit(1)).as("n"),
        sum(when(col("c_name").isNull, 1L).otherwise(0L)).as("name_null"))
      val fkOrd = ords.join(cust,
          ords("o_custkey") === cust("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("v"))
      val fkLi = li.select(col("l_orderkey"))
        .join(ords, li("l_orderkey") === ords("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v"))
      def row(name: String, viol: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val v = viol.cast("long")
        org.apache.spark.sql.functions.struct(
          lit(name).as("check"), v.as("n_violations"),
          n.cast("long").as("n_checked"), (v === 0L).as("ok"))
      }
      val rows = Seq(
        liAgg.select(row("lineitem_qty_range", col("qty_bad"), col("n"))
          .as("r")),
        liAgg.select(row("lineitem_price_positive", col("price_bad"),
          col("n")).as("r")),
        ordAgg.select(row("orders_pk_unique", col("n") - col("nk"),
          col("n")).as("r")),
        ordAgg.select(row("orders_date_window", col("date_bad"), col("n"))
          .as("r")),
        custAgg.select(row("customer_name_notnull", col("name_null"),
          col("n")).as("r")),
        fkOrd.crossJoin(ordAgg.select(col("n")))
          .select(row("orders_custkey_fk", col("v"), col("n")).as("r")),
        fkLi.crossJoin(liAgg.select(col("n")))
          .select(row("lineitem_orderkey_fk", col("v"), col("n")).as("r")))
      rows.reduce(_ unionAll _)
        .select(col("r.check").as("check"),
          col("r.n_violations").as("n_violations"),
          col("r.n_checked").as("n_checked"), col("r.ok").as("ok"))
        .orderBy(col("check"))
    }),

    // Cohort retention — the third leg of the event-analytics triad
    // (sessionize = within-visit, funnel = conversion order, retention
    // = return-over-time): users are cohorted by the DAY of their first
    // signup; for each (cohort_day, days_since) the count of cohort
    // members active that day, with per-mille retention against the
    // cohort size. Day-0 retention is 1000‰ by construction (the
    // signup day itself is active — spec-asserted). Dates ride
    // 'yyyy-MM-dd' strings (session-UTC cast both engines, naive date
    // math). Scale shape: first-signup is one user_id aggregate;
    // activity is a (user_id, day) distinct; the join keys on user_id
    // (co-partitioned with both aggregates); the output is
    // |cohorts|×|days| — analytics-sized, never event-sized.
    "q_event_retention" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          to_date(col("ts")).as("day"))
      val cohort = e.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("day")).as("c_day"))
      val csize = cohort.groupBy(col("c_day"))
        .agg(countDistinct(col("user_id")).as("cohort_n"))
      val act = e.select(col("user_id"), col("day")).distinct()
      act.join(cohort, "user_id")
        .where(col("day") >= col("c_day"))
        .groupBy(col("c_day"), datediff(col("day"), col("c_day"))
          .cast("long").as("days_since"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(csize), "c_day")
        .select(date_format(col("c_day"), "yyyy-MM-dd").as("cohort_day"),
          col("days_since"), col("n_active"), col("cohort_n"),
          expr("(1000 * n_active) div cohort_n").as("retention_pm"))
        .orderBy(col("cohort_day"), col("days_since"))
    }),

    // Interval-overlap join, binned with interior-bucket aggregation:
    // user sessions (the q_event_sessionize intervals) × 1-hour
    // incident windows opened by each error event. The naive spelling
    // is a pure-inequality theta join — Spark can only nested-loop
    // that, O(sessions × incidents) at scale. The overlap condition
    // `st < its + H ∧ its ≤ en` is a POINT-in-interval test on the
    // incident START against (st−H, en], so each incident is OWNED by
    // exactly one hour bucket and per-bucket incident COUNTS are
    // join-able without any distinct. Sessions explode to the hour
    // buckets of their extended interval; a bucket fully inside the
    // interval contributes its pre-aggregated count through a
    // broadcast join (one row per bucket, no per-incident fan-out —
    // this is what caps the per-bucket quadratic: a first-cut
    // raw-candidate bucket join measured 19.9M candidate rows at
    // sf0.1 where this shape touches 361k session-bucket rows + the
    // ≤2 edge buckets per session), and only the edge buckets join
    // raw incidents under the exact epoch-micros predicate. Bucket
    // width stays the knob; all integer math, so the oracle (the
    // direct theta join, affordable at fixture scale) agrees exactly.
    "q_join_interval" -> ((s, d) => {
      val hrUs = 3600000000L
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("m"), col("event_id"))
      val sess = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("m"))
        .withColumn("pm", lag(col("m"), 1).over(byUser))
        .withColumn("brk",
          when(col("pm").isNull || col("m") - col("pm") > 43200000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("brk")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(min(col("m")).as("start_us"), max(col("m")).as("end_us"))
      val inc = Tables.events(s, d)
        .where(col("event_type") === "error")
        .select(unix_micros(col("ts")).as("its"))
        .withColumn("bkt", expr(s"its div $hrUs"))
      val cnts = inc.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      // buckets of (start_us − H, end_us]; a bucket [b·H, (b+1)·H) is
      // interior iff its whole micro-tick range satisfies the overlap
      // predicate — then every owned incident matches unconditionally
      val sb = sess
        .withColumn("bkt", explode(sequence(
          expr(s"(start_us - $hrUs) div $hrUs"),
          expr(s"end_us div $hrUs"))))
        .withColumn("interior",
          col("bkt") * hrUs > col("start_us") - hrUs &&
            (col("bkt") + 1) * hrUs - 1 <= col("end_us"))
      val interior = sb.where(col("interior"))
        .join(broadcast(cnts), Seq("bkt"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(sum(col("cnt")).as("n_int"))
      val edge = sb.where(!col("interior"))
        .join(inc, Seq("bkt"))
        .where(col("start_us") - hrUs < col("its") &&
          col("its") <= col("end_us"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_edge"))
      sess.join(interior, Seq("user_id", "session_idx"), "left")
        .join(edge, Seq("user_id", "session_idx"), "left")
        .select(col("user_id"), col("session_idx"),
          col("start_us"), col("end_us"),
          (coalesce(col("n_int"), lit(0L)) +
            coalesce(col("n_edge"), lit(0L))).as("n_inc"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    "q_timeseries_gapfill" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      val counts = ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"))
      val spine = ev.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 HOUR"))).as("h"))
      val types = ev.select(col("event_type")).distinct()
      spine.crossJoin(broadcast(types))
        .join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), unix_timestamp(col("h")).as("hour_s"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type"), col("hour_s"))
    }),

    // Distribution window functions (rank-derived rationals — exact in
    // both engines). Filtered AFTER the windows so the sampled output
    // still reflects the full partition statistics.
    "q_window_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          ntile(10).over(w).as("decile"))
        .where(col("o_orderkey") % 100 === 0)
        .orderBy(col("o_orderkey"))
    }),

    // ORC source round-trip (the third columnar format Spark bundles).
    "q_source_orc" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_orc_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          QueryDefs.dsum(col("p_retailprice")).as("total"))
        .orderBy(col("p_brand"))
    }),

    // CSV source round-trip: write a projection as CSV (header + typed
    // schema on read-back), aggregate from the CSV scan. Oracle computes
    // the same aggregate from the original parquet — proving the CSV
    // reader/writer preserve the data.
    "q_source_csv" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_csv_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
        .csv(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), QueryDefs.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // XML source round-trip — Spark 4 ships the (donated spark-xml)
    // XML data source built in; rowTag framing on write and read.
    "q_source_xml" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_xml_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").option("rowTag", "supplier").xml(out)
      s.read.option("rowTag", "supplier")
        .schema("s_suppkey LONG, s_nationkey LONG, s_acctbal DOUBLE")
        .xml(out)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), QueryDefs.dsum(col("s_acctbal")).as("total"))
        .orderBy(col("s_nationkey"))
    }),

    // JSON source round-trip (schema-on-read on the way back).
    "q_source_json" -> ((s, d) => {
      val out = s"${sys.props("java.io.tmpdir")}/graft_json_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").json(out)
      s.read
        .schema("c_custkey LONG, c_mktsegment STRING, c_acctbal DOUBLE")
        .json(out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), QueryDefs.dsum(col("c_acctbal")).as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // Pareto frontier (skyline) over per-supplier totals: a supplier is
    // on the frontier iff no other supplier ships at least as much
    // quantity for at most as much spend (strictly better in one
    // dimension). The textbook spelling is the O(n²) NOT-EXISTS
    // anti-join (the oracle runs exactly that at fixture scale); the
    // Spark side computes the same set in O(n log n) with a 2-D sweep:
    // a row survives iff its cost is strictly below the minimum cost of
    // every strictly-higher-quantity row, and no same-quantity row is
    // strictly cheaper. The prefix-min over higher quantities is
    // DECOMPOSED so no global single-partition window exists: quantity
    // buckets (qty >> 8) pre-aggregate to a bucket-min table (bounded
    // by the value range, thousands of rows at any corpus size) whose
    // strictly-higher-bucket prefix-min is a window over that TINY
    // table and broadcasts back; the within-bucket remainder is a
    // RANGE-frame window PARTITIONED by bucket, so the big sort runs
    // parallel per bucket. Both metrics are exact integers (quantity
    // sums are integral doubles, spend rides the decimal-cents cast),
    // so the frontier is bit-stable across engines.
    "q_skyline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // persisted: the bucket-min branch and the main sweep would
      // otherwise each re-aggregate the corpus (the same two-consumer
      // trap q_mix_waterfill documents); the cache is |suppliers| rows
      val a = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) * 100 " +
            "AS BIGINT)").as("cost_c"))
        .select(col("l_suppkey").as("supp"), col("qty"), col("cost_c"))
        .withColumn("bkt", shiftright(col("qty"), 8))
        .persist()
      // bucket-min table: |value range / 256| rows — broadcast-sized at
      // any corpus scale, so its global window is bounded by design
      val bmin = a.groupBy(col("bkt")).agg(min(col("cost_c")).as("bc"))
        .withColumn("pref_higher", min(col("bc")).over(
          Window.orderBy(col("bkt").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("bkt"), col("pref_higher"))
      val wSame = Window.partitionBy(col("bkt")).orderBy(col("qty").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      a.join(broadcast(bmin), "bkt")
        .withColumn("min_higher",
          least(min(col("cost_c")).over(wSame), col("pref_higher")))
        .withColumn("min_equal",
          min(col("cost_c")).over(Window.partitionBy(col("qty"))))
        .where((col("min_higher").isNull ||
            col("min_higher") > col("cost_c")) &&
          col("cost_c") === col("min_equal"))
        .select(col("supp"), col("qty"), col("cost_c"))
        .orderBy(col("qty").desc, col("supp"))
    }),

    // Pairwise co-occurrence mining with lift — the market-basket core
    // (support + lift per event-type pair) over per-user behavior:
    // which pairs of event types the same user performs more (or less)
    // often than independence predicts. lift stays integer per-mille
    // ((1000·n_both·n_users) div (n_a·n_b)) so both engines emit the
    // identical value. Scale shape: the basket table is one DISTINCT
    // over (user_id, event_type) — a single shuffle on user_id; the
    // pair fan-out is a self-equi-join on user_id whose per-user output
    // is bounded by |event_types|² (a small CONSTANT, not data-sized —
    // the itemset alphabet, not the event volume); per-type supports
    // and the user count are k-row aggregates that broadcast. A full
    // FP-growth generalizes the alphabet; pairwise support/lift is the
    // curation-relevant core (correlated behaviors, leakage checks).
    "q_event_lift" -> ((s, d) => {
      // persisted: four consumers (user count, supports, both pair
      // sides) would otherwise each re-scan events and re-run the
      // DISTINCT; the basket table is |users|×|types| rows max
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        .persist()
      val nu = ut.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val supp = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n1"))
      val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
        .join(ut.select(col("user_id"), col("event_type").as("type_b")),
          "user_id")
        .where(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(supp.select(col("event_type").as("type_a"),
          col("n1").as("n_a"))), "type_a")
        .join(broadcast(supp.select(col("event_type").as("type_b"),
          col("n1").as("n_b"))), "type_b")
        .crossJoin(broadcast(nu))
        .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
          col("n_b"),
          expr("(1000 * n_both * n_users) div (n_a * n_b)").as("lift_pm"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Pairwise Pearson correlation of the lineitem measures from ONE
    // pass of exact integer moments. The builtin corr() accumulates
    // floating co-moments whose partition merge order makes the last
    // ulp nondeterministic across engines, so instead the inputs
    // quantize to integers (quantity units, price cents, discount
    // percent — all exact), the ten sufficient statistics (n, Σx, Σx²,
    // Σxy per pair) accumulate as DECIMAL(38,0) — associative, order-
    // independent, overflow-safe to ~1e38 — and the textbook formula
    // corr = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
    // evaluates in double on the 1-ROW aggregate with the oracle
    // spelling the identical operation order, so the quantized result
    // is bit-stable. Scale shape: one corpus scan with map-side
    // partial aggregation into ten cells; the 3-row output assembles
    // by exploding a literal array over the single aggregate row — no
    // second scan, no per-pair pass (the k²-moment generalization is
    // the same single aggregate with k² cells).
    "q_agg_corr" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("q"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(30,4)) * 100 " +
          "AS BIGINT)").as("p"),
        expr("CAST(CAST(l_discount AS DECIMAL(30,4)) * 100 AS BIGINT)")
          .as("dc"))
      val m = li.agg(
        count(lit(1)).as("n"),
        expr("SUM(CAST(q AS DECIMAL(38,0)))").as("s_q"),
        expr("SUM(CAST(p AS DECIMAL(38,0)))").as("s_p"),
        expr("SUM(CAST(dc AS DECIMAL(38,0)))").as("s_d"),
        expr("SUM(CAST(q*q AS DECIMAL(38,0)))").as("s_qq"),
        expr("SUM(CAST(p*p AS DECIMAL(38,0)))").as("s_pp"),
        expr("SUM(CAST(dc*dc AS DECIMAL(38,0)))").as("s_dd"),
        expr("SUM(CAST(q*p AS DECIMAL(38,0)))").as("s_qp"),
        expr("SUM(CAST(q*dc AS DECIMAL(38,0)))").as("s_qd"),
        expr("SUM(CAST(p*dc AS DECIMAL(38,0)))").as("s_pd"))
      def corrQ(sx: String, sy: String, sxx: String, syy: String,
          sxy: String): org.apache.spark.sql.Column = {
        val n = col("n").cast("double")
        val cv = n * col(sxy).cast("double") -
          col(sx).cast("double") * col(sy).cast("double")
        val vx = n * col(sxx).cast("double") -
          col(sx).cast("double") * col(sx).cast("double")
        val vy = n * col(syy).cast("double") -
          col(sy).cast("double") * col(sy).cast("double")
        when(vx > 0 && vy > 0,
          floor(lit(1e9) * cv / sqrt(vx * vy))).otherwise(0L)
          .cast("long")
      }
      m.select(explode(array(
          struct(lit("qty_price").as("pair"),
            corrQ("s_q", "s_p", "s_qq", "s_pp", "s_qp").as("corr_q")),
          struct(lit("qty_discount").as("pair"),
            corrQ("s_q", "s_d", "s_qq", "s_dd", "s_qd").as("corr_q")),
          struct(lit("price_discount").as("pair"),
            corrQ("s_p", "s_d", "s_pp", "s_dd", "s_pd").as("corr_q"))))
          .as("r"))
        .select(col("r.pair").as("pair"), col("r.corr_q").as("corr_q"))
        .orderBy(col("pair"))
    }),

    // Time-series resampling with LINEAR interpolation onto a regular
    // hourly grid — the companion to q_timeseries_gapfill (which fills
    // MISSING buckets with zeros; this estimates BETWEEN observations).
    // All-integer: epoch millis × milli-quantized values keep every
    // product under 2^53-ish (≤ ~1.5e16 for a year-long gap), and the
    // two-sided weighted form (v0·(t1−t) + v1·(t−t0)) div (t1−t0)
    // keeps the dividend non-negative so Spark's `div` and DuckDB's
    // `//` agree without a floor-vs-truncate hazard. Scale shape: one
    // user_id shuffle for the segment windows (lead), then ticks
    // GENERATE inside each segment — output is grid-sized, the
    // explode never exceeds span/step per segment, and no global
    // structure exists beyond the per-key sort.
    "q_timeseries_interp" -> ((s, d) => {
      val stepMs = 3600000L
      val pt = Tables.events(s, d)
        .select(col("user_id"), unix_millis(col("ts")).as("m"),
          col("event_id"),
          floor(col("value") * lit(1000)).cast("long").as("vm"))
        .groupBy(col("user_id"), col("m"))
        .agg(min_by(col("vm"), col("event_id")).as("vm"))
      val wu = Window.partitionBy(col("user_id")).orderBy(col("m"))
      pt
        .withColumn("m1", lead(col("m"), 1).over(wu))
        .withColumn("vm1", lead(col("vm"), 1).over(wu))
        .where(col("m1").isNotNull)
        .withColumn("t0",
          expr(s"((m + ${stepMs - 1}) div $stepMs) * $stepMs"))
        .where(col("t0") < col("m1"))
        .select(col("user_id"), col("m"), col("vm"), col("m1"),
          col("vm1"),
          explode(expr(s"sequence(t0, m1 - 1, $stepMs)")).as("t_ms"))
        .select(col("user_id"), col("t_ms"),
          expr("(vm * (m1 - t_ms) + vm1 * (t_ms - m)) div (m1 - m)")
            .as("v_mq"))
        .orderBy(col("user_id"), col("t_ms"))
    }),

    // Event-sequence pattern matching — the MATCH_RECOGNIZE analogue:
    // per user, the time-ordered event stream folds to one
    // single-char-coded string, and "view, then click, then purchase,
    // with no error anywhere between" becomes the regex
    // v[^e]*c[^e]*p evaluated ONCE per user — CEP as string algebra.
    // This is strictly stronger than q_event_funnel's step joins: the
    // funnel cannot express the no-error-between exclusion without a
    // per-step anti-join per gap. The per-user string is bounded by
    // per-entity event volume (the same documented caveat as the typed
    // folds); the pattern has no alternation, so Java and RE2 regex
    // engines produce the identical leftmost match and the oracle
    // compares exactly. Scale shape: one user_id shuffle into a
    // sorted collect, then per-row regex in the scan stage of a
    // user-sized table.
    "q_event_pattern" -> ((s, d) => {
      val pat = "v[^e]*c[^e]*p"
      val code = when(col("event_type") === "view", "v")
        .when(col("event_type") === "click", "c")
        .when(col("event_type") === "purchase", "p")
        .when(col("event_type") === "error", "e")
        .otherwise("s")
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("m"),
          col("event_id"), code.as("ch"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(array_sort(collect_list(
              struct(col("m"), col("event_id"), col("ch")))),
            x => x.getField("ch")), "").as("seq"))
        .select(col("user_id"), col("n_events"),
          size(regexp_extract_all(col("seq"), lit(pat), lit(0)))
            .cast("long").as("n_clean"),
          length(regexp_extract(col("seq"), pat, 0)).cast("long")
            .as("first_len"))
        .orderBy(col("user_id"))
    }),

    // First-order Markov transition matrix of event types: for every
    // (from, to) pair of consecutive events within a user's stream,
    // the transition count and the integer-ppm row-normalized
    // probability — the behavioral model behind next-event prediction
    // and synthetic-stream generation, and the drift baseline a
    // monitoring pipeline diffs against (PSI over transition rows).
    // Scale shape: one user_id-partitioned LEAD window (the same sort
    // every sequence operator here shares), then the transition table
    // is |types|² rows — the alphabet squared, never event-sized —
    // and the row totals broadcast back onto it.
    "q_event_markov" -> ((s, d) => {
      val wUser = Window.partitionBy(col("user_id"))
        .orderBy(col("m"), col("event_id"))
      val trans = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("m"),
          col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(wUser))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = trans.groupBy(col("from_type"))
        .agg(sum(col("n")).as("row_n"))
      trans.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          expr("(1000000 * n) div row_n").as("p_ppm"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Slowly-changing-dimension Type-2 merge: apply a daily update
    // extract to a versioned dimension — changed keys close their prior
    // version (valid_to = effective date) and open a new current one,
    // no-op updates (same attribute value) must NOT version, unseen
    // keys insert as current, untouched keys pass through. Both inputs
    // derive deterministically from the customer fixture: the base dim
    // is custkey % 11 != 0; the extract updates custkey % 5 == 0
    // (suffixing the segment, except % 15 == 0 rows which arrive
    // unchanged — the no-op case) and inserts the % 11 == 0 keys.
    //
    // Scale shape: ONE full-outer shuffle join on the dimension key,
    // then the 1-or-2 output versions per key are emitted map-side from
    // a conditional struct array + explode — no second pass over the
    // join and no union of three re-scans (the naive spelling re-joins
    // per branch; the oracle IS that spelling). When the extract is
    // small relative to the dim — the production case — split instead
    // into base LEFT JOIN broadcast(upd) + upd ANTI base so the big
    // side never reshuffles; the full outer here keeps one plan for
    // arbitrary extract/dim ratios.
    "q_scd2" -> ((s, d) =>
      scd2Dim(s, d).orderBy(col("c_custkey"), col("valid_from"))),

    // Two-sample Kolmogorov–Smirnov drift test per event type, the
    // nonparametric complement to q_drift_psi (PSI needs a bucketing
    // choice; KS is the max CDF gap over the pooled values, so it
    // catches shifts PSI's 10 fixed buckets can average away). The
    // whole statistic is INTEGER-exact: per distinct value the two
    // cumulative counts cross-multiply against the opposite side's
    // total — D(v) = |cum_ref·n_cur − cum_cur·n_ref| — so the max and
    // the per-mille division never touch a float. Scale shape: one
    // (type, value) aggregation, one per-type window over distinct
    // values (bounded by value cardinality, not event count), and the
    // per-type totals broadcast back.
    // Cohen's kappa between two quality gates (the length gate vs the
    // distinct-word-ratio gate): chance-corrected agreement is the
    // right audit when comparing labelers — raw agreement flatters any
    // pair that fires at similar rates. Both counts and the statistic
    // are exact integers (kappa·1000 = 1000·(n·agree − Σ marginal
    // products) floor-div (n² − Σ marginal products); envelope: exact
    // to n ≈ 3e9 rows — n² must stay under 2^63 — past which compute
    // the audit per shard or rescale the marginals; the explicit
    // floor-div spelling since kappa is legitimately negative — the
    // fixture's gates agree WORSE than chance, ≈ −420 pm, which is
    // itself the finding: the two gates encode anti-correlated length
    // signals). One corpus scan, one 5-long aggregate row out.
    // Poisson-bootstrap confidence interval for the per-type mean value
    // — the uncertainty quantification every eval-metric pipeline owes
    // its point estimates (is purchase value REALLY higher this week,
    // or is that within resampling noise?). Poisson bootstrap because
    // it's the one bootstrap that distributes: each row contributes to
    // replicate r with weight ~ Poisson(1) drawn as a pure function of
    // (event_id, r) — no resampling pass, no global n needed per draw,
    // and the whole thing is ONE groupBy with 64 extra aggregate
    // buffers (Σw, Σw·v per replicate) built map-side; the 32
    // replicate means then sort INSIDE the row as an array. Ranks 2/31
    // of 32 give a ~94% interval. Everything is integer-exact: v is
    // micro-quantized, weights come from the engine-neutral Knuth
    // permille hash against the Poisson(1) cdf (368/736/920/981/996),
    // and means are truncating divisions of non-negative sums, so the
    // oracle replays the interval bit-for-bit (its replicate axis is
    // an explode — fine at oracle scale; the 32-buffer spelling is the
    // 100 TB shape precisely because it AVOIDS the 32× fan-out).
    "q_audit_bootstrap" -> ((s, d) => {
      def u(r: Int) =
        s"((event_id * 2654435761L + $r * 1540483477L) % 2147483648L) % 1000"
      def w(r: Int) =
        s"""(CASE WHEN ${u(r)} < 368 THEN 0 WHEN ${u(r)} < 736 THEN 1
           |  WHEN ${u(r)} < 920 THEN 2 WHEN ${u(r)} < 981 THEN 3
           |  WHEN ${u(r)} < 996 THEN 4 ELSE 5 END)""".stripMargin
      val reps = (0 until 32).flatMap { r =>
        Seq(sum(expr(w(r))).as(s"n_$r"),
          sum(expr(s"${w(r)} * v")).as(s"s_$r"))
      }
      val means = (0 until 32)
        .map(r => s"s_$r div n_$r").mkString("array(", ", ", ")")
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * lit(1e6)).cast("long").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("v")).as("sv") +: reps): _*)
        .select(col("event_type"), col("n"),
          expr("sv div n").as("mean_q"),
          expr(s"sort_array($means)").as("ms"))
        .select(col("event_type"), col("n"), col("mean_q"),
          expr("element_at(ms, 2)").as("lo_q"),
          expr("element_at(ms, 31)").as("hi_q"))
        .orderBy(col("event_type"))
    }),

    "q_audit_kappa" -> ((s, d) => {
      Tables.documents(s, d)
        .select(split(col("text"), " ").as("toks"))
        .select((size(col("toks")) >= 30).as("a"),
          (size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double") > 0.45).as("b"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          expr("""1000 * (n * (n11 + n00)
                 |  - ((n11 + n10) * (n11 + n01)
                 |     + (n01 + n00) * (n10 + n00)))""".stripMargin)
            .as("num"),
          expr("""n * n - ((n11 + n10) * (n11 + n01)
                 |  + (n01 + n00) * (n10 + n00))""".stripMargin).as("den"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          expr("""CASE WHEN den = 0 THEN NULL
                 |ELSE (num - ((num % den + den) % den)) div den
                 |END""".stripMargin).as("kappa_pm"))
    }),

    // Kaplan–Meier survival over user activity: treat a user's last
    // event day as churn UNLESS it falls on the corpus's final day
    // (right-censored — still active when observation ended; ignoring
    // censoring is the classic retention-curve bias, understating
    // survival near the end). Per day: n_risk (users whose last day is
    // ≥ t), d (uncensored churns at t), and the running log-survival
    // ln Π(1 − d_i/n_i) = Σ [ln(n_i − d_i) − ln(n_i)] — every term an
    // ln of an INTEGER, 1e6-floor-quantized so the cumulative sum is
    // an exact integer (the lm-score envelope). Completes the event
    // triad's missing curve: retention says who came back, survival
    // says how long they stay. Scale shape: one per-user aggregate,
    // one day-level aggregate (output is day-sized), one ordered
    // prefix sum over days.
    "q_event_survival" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lastDay = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(expr("unix_micros(max(ts)) div 86400000000")
          .as("last_day"))
      val horizon = lastDay.agg(max(col("last_day")).as("max_day"))
      val perDay = lastDay.crossJoin(broadcast(horizon))
        .groupBy(col("last_day").as("day"))
        .agg(count(lit(1)).as("n_leaving"),
          sum(when(col("last_day") < col("max_day"), 1L).otherwise(0L))
            .as("d_churn"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perDay
        .withColumn("n_risk",
          sum(col("n_leaving")).over(wAll) -
            sum(col("n_leaving")).over(w) + col("n_leaving"))
        .withColumn("term_q",
          when(col("d_churn") > 0,
            floor(log(col("n_risk") - col("d_churn")) * 1e6).cast("long") -
              floor(log(col("n_risk")) * 1e6).cast("long"))
            .otherwise(lit(0L)))
        .withColumn("log_s_q", sum(col("term_q")).over(w))
        .select(col("day"), col("n_risk"), col("d_churn"),
          (col("n_leaving") - col("d_churn")).as("n_censored"),
          col("log_s_q"))
        .orderBy(col("day"))
    }),

    // Chi-square independence audit of the lang × source contingency
    // table — the data-audit that catches a skewed pipeline (one crawler
    // feeding one language) before it skews the mix. Per-cell statistic
    // (O·n − r·c)²/(n·r·c) is exact-in-double (every product < 2^53)
    // and 1e3-floor-quantized per cell so the corpus χ² is an exact
    // integer sum; the grid is the CROSS join of the marginals (tiny),
    // LEFT-joined to observed counts so zero cells contribute their
    // expected mass — dropping them understates the statistic. One
    // corpus scan feeds all three aggregations.
    "q_audit_chisq" -> ((s, d) => {
      val d0 = Tables.documents(s, d).select(col("lang"), col("source"))
      val cell = d0.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("o_cnt"))
      val rows = d0.groupBy(col("lang")).agg(count(lit(1)).as("r"))
      val cols = d0.groupBy(col("source")).agg(count(lit(1)).as("c"))
      val tot = d0.agg(count(lit(1)).as("n"))
      rows.crossJoin(broadcast(cols)).crossJoin(broadcast(tot))
        .join(cell, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"),
          coalesce(col("o_cnt"), lit(0L)).as("o_cnt"),
          col("r"), col("c"), col("n"))
        .select(col("lang"), col("source"), col("o_cnt"),
          expr("""CAST(FLOOR(
                 |  CAST((o_cnt * n - r * c) * (o_cnt * n - r * c) AS DOUBLE)
                 |  / CAST(n * r * c AS DOUBLE) * 1000) AS BIGINT)"""
            .stripMargin).as("term_q"))
        .orderBy(col("lang"), col("source"))
    }),

    "q_drift_ks" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("event_type"), col("value"),
        (col("ts") < expr(PsiSplitSql)).as("is_ref"))
      val perVal = ev.groupBy(col("event_type"), col("value"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_cur"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perVal
        .withColumn("cum_ref", sum(col("c_ref")).over(w))
        .withColumn("cum_cur", sum(col("c_cur")).over(w))
      val tot = perVal.groupBy(col("event_type"))
        .agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))
      cum.join(broadcast(tot), "event_type")
        .groupBy(col("event_type"), col("n_ref"), col("n_cur"))
        .agg(max(abs(col("cum_ref") * col("n_cur") -
          col("cum_cur") * col("n_ref"))).as("d_max"))
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          expr("(1000 * d_max) div (n_ref * n_cur)").as("ks_pm"))
        .orderBy(col("event_type"))
    }),

    // Point-in-time-correct temporal join: enrich each event with the
    // dimension attribute that was valid AT EVENT TIME — the
    // training-serving-skew killer (joining the CURRENT attribute
    // backfills future information into training features; the version
    // filter makes the feature reproducible as-of any date). Equi-join
    // on the key with the validity-window filter in the join condition;
    // the SCD2 dim carries ≤ 2 versions per key, so no fan-out, and at
    // fact×dim scale the dim side broadcasts exactly like any other
    // star join — versioning adds a filter, not a shuffle. Events whose
    // key entered the dim only at the effective date correctly find no
    // version before it (inner join drops them: the feature did not
    // exist then).
    "q_join_temporal" -> ((s, d) => {
      val dim = scd2Dim(s, d).select(col("c_custkey"), col("segment"),
        col("valid_from").cast("timestamp").as("vf"),
        col("valid_to").cast("timestamp").as("vt"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
        .join(broadcast(dim),
          col("user_id") === col("c_custkey") && col("ts") >= col("vf") &&
            (col("vt").isNull || col("ts") < col("vt")))
        .select(col("event_id"), col("user_id"), col("segment"))
        .orderBy(col("event_id"))
    }),

    // Last-touch revenue attribution: each purchase credits the most
    // recent PRECEDING view/click of the same user inside a 7-day
    // lookback, else the 'direct' bucket — the marketing-analytics twin
    // of the funnel (funnel asks "did the path complete", attribution
    // asks "which touch gets the revenue"). One per-user window pass
    // (carrying the last-touch (ts, type) pair as a struct so both
    // fields come from the SAME row), then an alphabet-sized channel
    // aggregate; revenue is per-row 1e6-floor-quantized so the sums are
    // exact integers. The strict 1-PRECEDING frame keeps a purchase
    // from attributing to a same-timestamp touch ordered after it.
    "q_event_attribution" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"),
          floor(col("value") * lit(1e6)).cast("long").as("v_q"))
        .withColumn("touch",
          last(when(col("event_type").isin("view", "click"),
            struct(col("ts").as("tts"), col("event_type").as("ttype"))),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .select(
          when(col("touch").isNotNull &&
            col("touch.tts") >= col("ts") - expr("INTERVAL 7 DAYS"),
            col("touch.ttype")).otherwise(lit("direct")).as("channel"),
          col("v_q"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("conversions"), sum(col("v_q")).as("revenue_q"))
        .orderBy(col("channel"))
    }),

    // Hour-of-day seasonal profile per event type: mean value per
    // (type, hour) cell and its residual against the type's overall
    // mean — the seasonality decomposition that turns "traffic dipped"
    // into "traffic dipped RELATIVE TO the 3am baseline" (the gapfill /
    // ewma / interp family's missing piece). ONE corpus scan: the
    // type-level totals re-aggregate from the 120-cell table rather
    // than re-reading events. Values are per-row 1e6-floor-quantized
    // (exact IEEE product, both engines agree), sums and the floor
    // divisions are then pure nonnegative-integer arithmetic.
    "q_timeseries_seasonal" -> ((s, d) => {
      val cell = Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).as("hr"),
          floor(col("value") * lit(1e6)).cast("long").as("v_q"))
        .groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("cnt"), sum(col("v_q")).as("sum_q"))
      val tot = cell.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("tcnt"), sum(col("sum_q")).as("tsum_q"))
      cell.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("hr"), col("cnt"),
          expr("sum_q div cnt").as("mean_q"),
          expr("(sum_q div cnt) - (tsum_q div tcnt)").as("resid_q"))
        .orderBy(col("event_type"), col("hr"))
    }),

    // k-anonymity audit over the quasi-identifier tuple (lang, source,
    // 64-char length bucket): any group smaller than k = 5 is a
    // re-identification risk — the PRIVACY complement of q_pii_scrub
    // (scrubbing direct identifiers does nothing about a document being
    // the ONLY Italian crawl doc of its length). Output is the full
    // group grid (bounded by |langs|·|sources|·buckets, corpus-size-
    // independent) with each group's population and risk verdict, so
    // the safe and risky verdicts both exercise. One groupBy, no
    // window, no join.
    "q_audit_kanonymity" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), col("source"),
          expr("n_chars div 64").as("len_b"))
        .groupBy(col("lang"), col("source"), col("len_b"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("lang"), col("source"), col("len_b"), col("cnt"),
          (col("cnt") < lit(5)).as("at_risk"))
        .orderBy(col("lang"), col("source"), col("len_b"))
    }),

    // Zone-map-pruned range scan — see [[zonemapScan]]: the manifest
    // picks the doc_id-range files, only those are opened, and the
    // per-source aggregate runs over the pruned scan. PlanSpec asserts
    // the file set actually shrank.
    "q_scan_zonemap" -> ((s, d) => {
      zonemapScan(s, d)._1
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // Grid-bucketed spatial neighbor join: all point pairs within L∞
    // distance 25 over a deterministic 2-D embedding of the customer
    // keys (the engine-neutral Knuth/MurmurX mixes → a 1000×1000
    // plane). The classic spatial-join decomposition: bucket points
    // into distance-sized grid cells, probe each point's 3×3 cell
    // neighborhood via a 9-offset map-side explode, and equi-join on
    // the cell key — candidates ∝ local density, never n², and each
    // qualifying pair is found EXACTLY once (the partner lives in one
    // cell, so exactly one probe offset hits it; no distinct needed).
    // The oracle is the direct quadratic theta join — grid pruning is
    // an access path, not a semantics change. At 100 TB this is the
    // proximity-join shape for any metric with a cheap cell bound
    // (geo tiles, embedding block-max, time×value bands); skewed
    // cells (urban hotspots) split by salting the cell key exactly
    // like any other hot join key.
    "q_join_spatial" -> ((s, d) => {
      val pts = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("id"),
          expr("((c_custkey * 2654435761L) % 2147483648L) % 1000")
            .as("x"),
          expr("((c_custkey * 1540483477L) % 2147483648L) % 1000")
            .as("y"))
      val cells = pts
        .withColumn("cx", expr("x div 25"))
        .withColumn("cy", expr("y div 25"))
      val offsets = (for (dx <- -1 to 1; dy <- -1 to 1)
        yield s"struct(${dx}L AS dx, ${dy}L AS dy)").mkString(",")
      val probes = cells
        .select(col("id").as("a_id"), col("x").as("ax"),
          col("y").as("ay"),
          explode(expr(s"array($offsets)")).as("o"),
          col("cx"), col("cy"))
        .select(col("a_id"), col("ax"), col("ay"),
          (col("cx") + col("o.dx")).as("pcx"),
          (col("cy") + col("o.dy")).as("pcy"))
      probes
        .join(cells,
          col("pcx") === col("cx") && col("pcy") === col("cy") &&
            col("a_id") < col("id"))
        .where(abs(col("ax") - col("x")) <= 25 &&
          abs(col("ay") - col("y")) <= 25)
        .select(col("a_id").as("a"), col("id").as("b"),
          greatest(abs(col("ax") - col("x")), abs(col("ay") - col("y")))
            .as("d"))
        .orderBy(col("a"), col("b"))
    }),

    // Frequent-sequence mining over the event log: every length-3
    // event-type sequence a user emits (in (ts, event_id) order), its
    // total occurrence count, and its user support — the sequential-
    // pattern complement to q_event_markov (the Markov matrix is
    // memoryless by construction; "view>view>purchase vs
    // click>view>purchase" is exactly what it cannot distinguish).
    // Top-20 by (support, n, seq), fully tie-broken. Scale shape: both
    // lead() offsets share ONE window pass (same partition/order spec
    // → a single WindowExec over the per-user sort), the pattern
    // aggregate is keyed on a ≤ |types|³ domain, and the top-20 is
    // distributed TakeOrdered — no global sort, no second scan.
    "q_event_seqmine" -> ((s, d) => {
      val wUser = Window.partitionBy(col("user_id"))
        .orderBy(col("m"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("m"),
          col("event_id"), col("event_type"))
        .withColumn("t1", lead(col("event_type"), 1).over(wUser))
        .withColumn("t2", lead(col("event_type"), 2).over(wUser))
        .where(col("t2").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("event_type"), col("t1"), col("t2"))
            .as("seq"))
        .groupBy(col("seq"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("support"))
        .orderBy(col("support").desc, col("n").desc, col("seq"))
        .limit(20)
    })
  )

  /** The SCD2 merge result (unsorted) — shared by q_scd2 (which adds
    * the published ORDER BY) and q_join_temporal (which joins events
    * against the versions). Validity dates straddle the events
    * fixture's January-2024 span so the temporal join exercises BOTH
    * versions: base valid from 2024-01-01, updates effective
    * 2024-01-16 (the same mid-month boundary the PSI drift split
    * uses). */
  private[queries] def scd2Dim(s: SparkSession, d: String): DataFrame = {
    {
      val cust = Tables.customer(s, d)
      val base = cust.where(col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment").as("seg_old"))
      val upd = cust
        .where(col("c_custkey") % 5 === 0 && col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 15 === 0, col("c_mktsegment"))
            .otherwise(concat(col("c_mktsegment"), lit("-R"))).as("seg_new"))
        .unionByName(cust.where(col("c_custkey") % 11 === 0)
          .select(col("c_custkey"), col("c_mktsegment").as("seg_new")))
      val from0 = lit(java.sql.Date.valueOf("2024-01-01"))
      val eff = lit(java.sql.Date.valueOf("2024-01-16"))
      base.join(upd, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"), explode(filter(array(
          // close the prior version — only on a REAL attribute change
          when(col("seg_old").isNotNull && col("seg_new").isNotNull &&
              col("seg_old") =!= col("seg_new"),
            struct(col("seg_old").as("segment"),
              from0.as("valid_from"), eff.as("valid_to"),
              lit(false).as("is_current"))),
          // open the new current version: changed update or fresh insert
          when(col("seg_new").isNotNull &&
              (col("seg_old").isNull || col("seg_old") =!= col("seg_new")),
            struct(col("seg_new").as("segment"),
              eff.as("valid_from"), lit(null).cast("date").as("valid_to"),
              lit(true).as("is_current"))),
          // untouched (no update, or a no-op update): keep as-is
          when(col("seg_old").isNotNull &&
              (col("seg_new").isNull || col("seg_old") === col("seg_new")),
            struct(col("seg_old").as("segment"),
              from0.as("valid_from"), lit(null).cast("date").as("valid_to"),
              lit(true).as("is_current")))),
          x => x.isNotNull)).as("r"))
        .select(col("c_custkey"), col("r.segment").as("segment"),
          col("r.valid_from").as("valid_from"),
          col("r.valid_to").as("valid_to"),
          col("r.is_current").as("is_current"))
    }
  }

  val oracles: Map[String, String] = Map(
    // The custom connector's rows are a pure function of id, so DuckDB
    // rebuilds the identical scan from generate_series: same Knuth /
    // Murmur-mix constants, same exact IEEE division for val.
    "q_source_custom" ->
      """WITH e AS (
        |  SELECT g.g AS id,
        |    CAST(((g.g * 2654435761) % 2147483648) % 100 AS INTEGER)
        |      AS bucket,
        |    CAST((g.g * 1540483477) % 2147483648 AS DOUBLE) / 2147483648
        |      AS val,
        |    't' || CAST(g.g % 97 AS VARCHAR) AS tok
        |  FROM generate_series(0, 99999) AS g(g)
        |  WHERE g.g >= 25000 AND g.g < 75000)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(val) AS min_val, MAX(val) AS max_val,
        |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_tok
        |FROM e GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Same deterministic generator; DuckDB groups by the mod-8 key
    // directly — the contract is values, the Spark plan additionally
    // proves the shuffle-free storage-partitioned aggregation.
    "q_source_kgrouped" ->
      """WITH e AS (
        |  SELECT g.g AS id,
        |    CAST(((g.g * 2654435761) % 2147483648) % 100 AS INTEGER)
        |      AS bucket,
        |    CAST(g.g % 8 AS INTEGER) AS part
        |  FROM generate_series(0, 99999) AS g(g))
        |SELECT part, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(bucket) AS BIGINT) AS sum_bucket,
        |  MIN(id) AS min_id, MAX(id) AS max_id
        |FROM e GROUP BY part ORDER BY part""".stripMargin,

    // DuckDB computes the same envelope by scanning (its own zone-map
    // skipping aside); the CONTRACT is identical values, the Spark plan
    // additionally proves footer-only execution via PushedAggregation.
    "q_scan_agg_pushdown" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin,

    // Same gates, marginal products, and floor-div spelling.
    "q_audit_kappa" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |l AS (SELECT len(w) >= 30 AS a,
        |        len(list_distinct(w)) * 1.0 / len(w) > 0.45 AS b
        |      FROM t),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(COUNT(*) FILTER (WHERE a AND b) AS BIGINT) AS n11,
        |        CAST(COUNT(*) FILTER (WHERE a AND NOT b) AS BIGINT) AS n10,
        |        CAST(COUNT(*) FILTER (WHERE NOT a AND b) AS BIGINT) AS n01,
        |        CAST(COUNT(*) FILTER (WHERE NOT a AND NOT b) AS BIGINT)
        |          AS n00
        |      FROM l),
        |nd AS (SELECT n, n11, n10, n01, n00,
        |         1000 * (n * (n11 + n00)
        |           - ((n11 + n10) * (n11 + n01)
        |              + (n01 + n00) * (n10 + n00))) AS num,
        |         n * n - ((n11 + n10) * (n11 + n01)
        |           + (n01 + n00) * (n10 + n00)) AS den
        |       FROM c)
        |SELECT n, n11, n10, n01, n00,
        |  CASE WHEN den = 0 THEN NULL
        |       ELSE (num - ((num % den + den) % den)) // den
        |  END AS kappa_pm
        |FROM nd""".stripMargin,

    // Same censoring rule, suffix-sum n_risk, and per-term quantized
    // integer-ln sum.
    "q_event_survival" ->
      """WITH ld AS (SELECT user_id,
        |              epoch_us(MAX(ts)) // 86400000000 AS last_day
        |            FROM events GROUP BY user_id),
        |h AS (SELECT MAX(last_day) AS max_day FROM ld),
        |pd AS (SELECT last_day AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n_leaving,
        |         CAST(SUM(CASE WHEN last_day < (SELECT max_day FROM h)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS d_churn
        |       FROM ld GROUP BY last_day),
        |c AS (SELECT day, n_leaving, d_churn,
        |        CAST(SUM(n_leaving) OVER ()
        |          - SUM(n_leaving) OVER (ORDER BY day
        |              ROWS UNBOUNDED PRECEDING)
        |          + n_leaving AS BIGINT) AS n_risk
        |      FROM pd),
        |tq AS (SELECT day, n_risk, d_churn, n_leaving,
        |         CASE WHEN d_churn > 0 THEN
        |           CAST(FLOOR(LN(CAST(n_risk - d_churn AS DOUBLE)) * 1e6)
        |             AS BIGINT)
        |           - CAST(FLOOR(LN(CAST(n_risk AS DOUBLE)) * 1e6)
        |             AS BIGINT)
        |         ELSE 0 END AS term_q
        |       FROM c)
        |SELECT day, n_risk, d_churn,
        |  n_leaving - d_churn AS n_censored,
        |  CAST(SUM(term_q) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS log_s_q
        |FROM tq ORDER BY day""".stripMargin,

    // Same grid construction and the identically-spelled exact-in-double
    // per-cell statistic.
    "q_audit_chisq" ->
      """WITH d0 AS (SELECT lang, source FROM documents),
        |cell AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o_cnt
        |         FROM d0 GROUP BY lang, source),
        |r AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS r
        |      FROM d0 GROUP BY lang),
        |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM d0 GROUP BY source),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d0),
        |g AS (SELECT r.lang, c.source, r.r, c.c, n.n,
        |        COALESCE(cell.o_cnt, 0) AS o_cnt
        |      FROM r CROSS JOIN c CROSS JOIN n
        |      LEFT JOIN cell ON cell.lang = r.lang
        |        AND cell.source = c.source)
        |SELECT lang, source, o_cnt,
        |  CAST(FLOOR(
        |    CAST((o_cnt * n - r * c) * (o_cnt * n - r * c) AS DOUBLE)
        |    / CAST(n * r * c AS DOUBLE) * 1000) AS BIGINT) AS term_q
        |FROM g ORDER BY lang, source""".stripMargin,

    // Same cumulative cross-multiplication; the boundary literal is the
    // shared PsiSplitSql constant.
    "q_drift_ks" -> {
      s"""WITH e AS (SELECT event_type, value,
         |             ts < $PsiSplitSql AS is_ref FROM events),
         |pv AS (SELECT event_type, value,
         |         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
         |           AS c_ref,
         |         CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
         |           AS c_cur
         |       FROM e GROUP BY event_type, value),
         |cum AS (SELECT event_type, value, c_ref, c_cur,
         |          CAST(SUM(c_ref) OVER (PARTITION BY event_type
         |            ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |            AS cum_ref,
         |          CAST(SUM(c_cur) OVER (PARTITION BY event_type
         |            ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |            AS cum_cur
         |        FROM pv),
         |tot AS (SELECT event_type, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         |          CAST(SUM(c_cur) AS BIGINT) AS n_cur
         |        FROM pv GROUP BY event_type),
         |d AS (SELECT c.event_type, t.n_ref, t.n_cur,
         |        MAX(ABS(c.cum_ref * t.n_cur - c.cum_cur * t.n_ref))
         |          AS d_max
         |      FROM cum c JOIN tot t USING (event_type)
         |      GROUP BY c.event_type, t.n_ref, t.n_cur)
         |SELECT event_type, n_ref, n_cur,
         |  (1000 * d_max) // (n_ref * n_cur) AS ks_pm
         |FROM d ORDER BY event_type""".stripMargin
    },

    // The SCD2 version table rebuilt by the same three-branch spelling,
    // then the validity-window join at event time.
    "q_join_temporal" ->
      """WITH base AS (SELECT c_custkey, c_mktsegment AS seg_old
        |              FROM customer WHERE c_custkey % 11 <> 0),
        |upd AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 15 = 0 THEN c_mktsegment
        |              ELSE c_mktsegment || '-R' END AS seg_new
        |  FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 11 <> 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 11 = 0),
        |j AS (SELECT COALESCE(b.c_custkey, u.c_custkey) AS c_custkey,
        |        seg_old, seg_new
        |      FROM base b FULL OUTER JOIN upd u
        |        ON b.c_custkey = u.c_custkey),
        |dim AS (
        |  SELECT c_custkey, seg_old AS segment,
        |         TIMESTAMP '2024-01-01 00:00:00' AS vf,
        |         TIMESTAMP '2024-01-16 00:00:00' AS vt
        |  FROM j WHERE seg_old IS NOT NULL AND seg_new IS NOT NULL
        |         AND seg_old <> seg_new
        |  UNION ALL
        |  SELECT c_custkey, seg_new, TIMESTAMP '2024-01-16 00:00:00',
        |         CAST(NULL AS TIMESTAMP)
        |  FROM j WHERE seg_new IS NOT NULL
        |         AND (seg_old IS NULL OR seg_old <> seg_new)
        |  UNION ALL
        |  SELECT c_custkey, seg_old, TIMESTAMP '2024-01-01 00:00:00',
        |         CAST(NULL AS TIMESTAMP)
        |  FROM j WHERE seg_old IS NOT NULL
        |         AND (seg_new IS NULL OR seg_old = seg_new))
        |SELECT e.event_id, e.user_id, d.segment
        |FROM events e JOIN dim d
        |  ON e.user_id = d.c_custkey AND e.ts >= d.vf
        |  AND (d.vt IS NULL OR e.ts < d.vt)
        |ORDER BY e.event_id""".stripMargin,

    // The three-branch UNION ALL spelling of the SCD2 merge (per-branch
    // re-scan of the joined frame — the naive plan the single-pass
    // struct-array emit avoids).
    "q_scd2" ->
      """WITH base AS (SELECT c_custkey, c_mktsegment AS seg_old
        |              FROM customer WHERE c_custkey % 11 <> 0),
        |upd AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 15 = 0 THEN c_mktsegment
        |              ELSE c_mktsegment || '-R' END AS seg_new
        |  FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 11 <> 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 11 = 0),
        |j AS (SELECT COALESCE(b.c_custkey, u.c_custkey) AS c_custkey,
        |        seg_old, seg_new
        |      FROM base b FULL OUTER JOIN upd u
        |        ON b.c_custkey = u.c_custkey)
        |SELECT c_custkey, seg_old AS segment,
        |       DATE '2024-01-01' AS valid_from,
        |       DATE '2024-01-16' AS valid_to, FALSE AS is_current
        |FROM j WHERE seg_old IS NOT NULL AND seg_new IS NOT NULL
        |       AND seg_old <> seg_new
        |UNION ALL
        |SELECT c_custkey, seg_new, DATE '2024-01-16',
        |       CAST(NULL AS DATE), TRUE
        |FROM j WHERE seg_new IS NOT NULL
        |       AND (seg_old IS NULL OR seg_old <> seg_new)
        |UNION ALL
        |SELECT c_custkey, seg_old, DATE '2024-01-01',
        |       CAST(NULL AS DATE), TRUE
        |FROM j WHERE seg_old IS NOT NULL
        |       AND (seg_new IS NULL OR seg_old = seg_new)
        |ORDER BY c_custkey, valid_from""".stripMargin,

    "q_topk_custom" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 3
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_topk_sql" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 3
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    // Replays the k=1 bit set from the shared fold (codepoint spelling —
    // ASCII fixture) and the LC inversion; bits_set is integer-exact,
    // the estimate shares q_text_lm_score's single-libm-ln envelope.
    "q_agg_distinct_lc" ->
      """WITH bg AS (SELECT UNNEST(
        |    [w[i] || ' ' || w[i + 1] for i in generate_series(1, len(w) - 1)])
        |    AS t
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents)),
        |b AS (SELECT DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(t, ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (h, c) -> (h * 31 + c) % 1048576) AS base
        |      FROM bg),
        |pos AS (SELECT DISTINCT ((base * 2654435761) >> 16) % 4096 AS p
        |        FROM b),
        |m AS (SELECT CAST((SELECT COUNT(DISTINCT t) FROM bg) AS BIGINT)
        |        AS n_exact,
        |      CAST((SELECT COUNT(*) FROM pos) AS BIGINT) AS bits_set)
        |SELECT n_exact, bits_set,
        |  CAST(FLOOR(-4096.0 * LN((4096.0 - bits_set) / 4096.0) * 1e6)
        |       AS BIGINT) AS lc_est_q
        |FROM m""".stripMargin,

    "q_layout_compaction" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value,
        |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_source_mergeschema" ->
      """WITH u AS (
        |  SELECT p_partkey, p_brand, CAST(NULL AS DOUBLE) AS p_retailprice
        |  FROM part WHERE p_partkey % 2 = 0
        |  UNION ALL
        |  SELECT p_partkey, p_brand, p_retailprice
        |  FROM part WHERE p_partkey % 2 = 1)
        |SELECT p_brand, COUNT(*) AS n, COUNT(p_retailprice) AS n_priced,
        |  CAST(SUM(CAST(COALESCE(p_retailprice, 0.0) AS DECIMAL(30,4)))
        |    AS DOUBLE) AS total
        |FROM u GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_window_range_frame" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL '1 hour' PRECEDING
        |               AND CURRENT ROW)
        |QUALIFY event_id % 13 = 0
        |ORDER BY event_id""".stripMargin,

    // The skew split is a pure execution-strategy change: the result is
    // the unsplit join, and the dim side contributes w = ascii(flag).
    "q_join_dpp" ->
      """WITH dim AS (
        |  SELECT DISTINCT o_orderstatus AS d_status,
        |         CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS d_open
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
        |FROM orders JOIN dim ON o_orderstatus = d_status
        |WHERE d_open = 1
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_join_skew_aqe" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
        |  CAST(ascii(l_returnflag) AS BIGINT) AS weight
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_join_bucket_prune" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem WHERE l_orderkey = 1
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    // Untouched partitions keep their baseline files (names unchanged),
    // the overwritten partition gets fresh ones — the oracle pins that
    // per-partition expectation alongside the post-write aggregates.
    "q_layout_incremental" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2
        |                     ELSE o_totalprice END AS DECIMAL(30,4)))
        |       AS DOUBLE) AS total,
        |  o_orderstatus <> 'P' AS files_unchanged
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_join_runtime_filter" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_typed_mapgroups" ->
      """WITH s AS (
        |  SELECT lang, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sm,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sq
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CASE WHEN s.n * s.sq = s.sm * s.sm THEN 0
        |       ELSE CAST(FLOOR(1000.0 * (s.n * d.n_chars - s.sm)
        |              / SQRT(CAST(s.n * s.sq - s.sm * s.sm AS DOUBLE)))
        |            AS BIGINT)
        |  END AS z_milli
        |FROM documents d JOIN s USING (lang)
        |ORDER BY d.doc_id""".stripMargin,

    "q_layout_zorder" ->
      s"""WITH z AS (
         |  SELECT o_orderkey, o_totalprice,
         |    o_custkey % 1024 AS za, o_orderkey % 1024 AS zb
         |  FROM orders)
         |SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total,
         |  MIN(${zInterleaveDuck("za", "zb")}) AS z_min,
         |  MAX(${zInterleaveDuck("za", "zb")}) AS z_max
         |FROM z
         |WHERE za BETWEEN 100 AND 300 AND zb BETWEEN 200 AND 400""".stripMargin,

    "q_sim_cosine_sql" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        (SELECT SUM(x * x) FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        (SELECT SUM(a.v[i] * b.v[i])
        |         FROM generate_series(1, 64) AS s(i)) AS dot,
        |        a.nsq AS na, b.nsq AS nb
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id
        |      WHERE a.vec_id < 3)
        |SELECT vec_a, vec_b,
        |  CAST(FLOOR(dot / SQRT(na * nb) * 1e6) AS BIGINT) AS cos_q
        |FROM p ORDER BY vec_a, vec_b""".stripMargin,

    "q_join_asof" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |p AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_ts_us,
        |       p.event_id AS p_event, p.value AS p_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_typed_agg" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(*) FILTER (WHERE l_quantity > 25.0) AS DOUBLE)
        |    / COUNT(*) AS high_qty_share
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_median" ->
      """SELECT l_returnflag,
        |  CAST(FLOOR(QUANTILE_CONT(l_extendedprice, 0.5) * 1000) AS BIGINT)
        |    AS median_price_m,
        |  CAST(FLOOR(QUANTILE_CONT(l_extendedprice, 0.9) * 1000) AS BIGINT)
        |    AS p90_price_m,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Same two passes, 100-row tail, and double op order; DECIMAL p
    // literals are cast to DOUBLE up front so p·n is double arithmetic
    // on both engines.
    "q_agg_quantile_hist" ->
      """WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
        |st AS (SELECT COUNT(*) AS n, MIN(x) AS mn, MAX(x) AS mx FROM v),
        |h AS (SELECT LEAST(99, CAST(FLOOR(
        |         (x - (SELECT mn FROM st))
        |           / ((SELECT mx FROM st) - (SELECT mn FROM st)) * 100)
        |         AS BIGINT)) AS bkt,
        |        COUNT(*) AS c
        |      FROM v GROUP BY 1),
        |cu AS (SELECT bkt, c,
        |         SUM(c) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING) AS cum
        |       FROM h),
        |ps AS (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                      CAST(0.99 AS DOUBLE)]) AS p),
        |tr AS (SELECT p, CAST(CEIL(p * (SELECT n FROM st)) AS BIGINT) AS tr
        |       FROM ps),
        |pick AS (SELECT t.p, t.tr, MIN(cu.bkt) AS bkt
        |         FROM tr t JOIN cu ON cu.cum >= t.tr GROUP BY t.p, t.tr)
        |SELECT p.p, p.bkt,
        |  CAST(FLOOR(((SELECT mn FROM st)
        |    + (CAST(p.bkt AS DOUBLE)
        |       + CAST(p.tr - (cu.cum - cu.c) AS DOUBLE)
        |         / CAST(cu.c AS DOUBLE))
        |      * ((SELECT mx FROM st) - (SELECT mn FROM st)) / 100.0)
        |    * 1000) AS BIGINT) AS est_m
        |FROM pick p JOIN cu ON cu.bkt = p.bkt
        |ORDER BY p.p""".stripMargin,

    "q_agg_collect" ->
      """SELECT n_name,
        |  ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT s_name)), '|') AS suppliers,
        |  COUNT(*) AS n_sup
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_agg_pivot" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity END
        |    AS DECIMAL(30,4))) AS DOUBLE) AS qty_a,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity END
        |    AS DECIMAL(30,4))) AS DOUBLE) AS qty_n,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity END
        |    AS DECIMAL(30,4))) AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_join_bucketed" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_agg_salted" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_join_salted" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_source_partitioned" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_drift_psi" ->
      (s"""WITH ev AS (SELECT event_type,
         |    $PsiBucketSql AS bkt,
         |    ts < $PsiSplitSql AS is_ref
         |  FROM events),""".stripMargin + "\n" +
      """cnt AS (SELECT event_type, bkt,
        |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2
        |  FROM ev GROUP BY event_type, bkt),
        |spine AS (SELECT event_type, bkt
        |          FROM (SELECT DISTINCT event_type FROM events)
        |          CROSS JOIN (SELECT UNNEST(generate_series(0, 9)) AS bkt)),
        |tot AS (SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
        |          CAST(SUM(c2) AS BIGINT) AS n2
        |        FROM cnt GROUP BY event_type),
        |f AS (SELECT s.event_type, COALESCE(cnt.c1, 0) AS c1,
        |        COALESCE(cnt.c2, 0) AS c2, tot.n1, tot.n2
        |      FROM spine s LEFT JOIN cnt USING (event_type, bkt)
        |      JOIN tot USING (event_type)),
        |p AS (SELECT event_type, n1, n2,
        |        CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 10 AS DOUBLE) AS p1,
        |        CAST(c2 + 1 AS DOUBLE) / CAST(n2 + 10 AS DOUBLE) AS p2
        |      FROM f)
        |SELECT event_type, MAX(n1) AS n_ref, MAX(n2) AS n_cur,
        |  CAST(SUM(CAST(FLOOR(((p2 - p1) * LN(p2 / p1)) * 1e9) AS BIGINT))
        |       AS BIGINT) AS psi_nn
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin),

    "q_event_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, value,
        |             CAST(epoch_us(ts) AS BIGINT) AS m FROM events),
        |l AS (SELECT *, lag(m) OVER (PARTITION BY user_id
        |                             ORDER BY m, event_id) AS pm FROM e),
        |b AS (SELECT *, CASE WHEN pm IS NULL OR m - pm > 43200000000
        |                     THEN 1 ELSE 0 END AS brk FROM l),
        |sx AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |         ORDER BY m, event_id ROWS UNBOUNDED PRECEDING)
        |         AS session_idx FROM b)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(*) AS n_events,
        |  MIN(m) AS start_us, MAX(m) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS value_sum
        |FROM sx GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // Same n·x − S centering and integer lag products; the explicit
    // floored-division spelling on BOTH sides (Spark div truncates,
    // DuckDB // also truncates on integers — the kappa precedent).
    "q_timeseries_acf" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
        |                 COUNT(*) AS x
        |               FROM events GROUP BY 1),
        |idx AS (SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS t
        |        FROM daily),
        |tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM idx),
        |y AS (SELECT t, n * x - s AS y FROM idx, tot),
        |den AS (SELECT SUM(y * y) AS den FROM y),
        |num AS (SELECT k.lag, SUM(a.y * b.y) AS num,
        |          COUNT(*) AS n_pairs
        |        FROM generate_series(1, 7) AS k(lag)
        |        JOIN y a ON TRUE
        |        JOIN y b ON b.t = a.t + k.lag
        |        GROUP BY k.lag)
        |SELECT CAST(lag AS BIGINT) AS lag,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST((1000 * num - ((1000 * num % den + den) % den)) // den
        |       AS BIGINT) AS acf_pm
        |FROM num, den ORDER BY lag""".stripMargin,

    // Identical micro-quantization and integer recurrence, replayed as
    // a per-rank recursive CTE (all users advance one rank per level).
    "q_timeseries_ewma" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS m,
        |             CAST(FLOOR(value * 1e6) AS BIGINT) AS v
        |           FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                                   ORDER BY m, event_id) AS rn
        |      FROM e),
        |rec AS (
        |  WITH RECURSIVE w(user_id, event_id, m, v, rn, y) AS (
        |    SELECT user_id, event_id, m, v, rn, v FROM r WHERE rn = 1
        |    UNION ALL
        |    SELECT r.user_id, r.event_id, r.m, r.v, r.rn,
        |      (3 * w.y + r.v) // 4
        |    FROM w JOIN r ON r.user_id = w.user_id AND r.rn = w.rn + 1)
        |  SELECT * FROM w)
        |SELECT user_id, event_id, m AS m_us, v AS v_us,
        |  CAST(y AS BIGINT) AS ewma_us
        |FROM rec ORDER BY user_id, m_us, event_id""".stripMargin,

    // Same per-rank recursion with two state columns; DuckDB's //
    // truncates toward zero exactly like the Scala fold's /, including
    // on the negative trend values. The level expression repeats inside
    // the trend update because the recursive step can't name its own
    // output column.
    "q_timeseries_holt" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS m,
        |             CAST(FLOOR(value * 1e6) AS BIGINT) AS v
        |           FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                                   ORDER BY m, event_id) AS rn
        |      FROM e),
        |rec AS (
        |  WITH RECURSIVE w(user_id, event_id, m, v, rn, l, b) AS (
        |    SELECT user_id, event_id, m, v, rn, v, CAST(0 AS BIGINT)
        |    FROM r WHERE rn = 1
        |    UNION ALL
        |    SELECT r.user_id, r.event_id, r.m, r.v, r.rn,
        |      (r.v + 3 * (w.l + w.b)) // 4,
        |      (((r.v + 3 * (w.l + w.b)) // 4) - w.l + 3 * w.b) // 4
        |    FROM w JOIN r ON r.user_id = w.user_id AND r.rn = w.rn + 1)
        |  SELECT * FROM w)
        |SELECT user_id, event_id, m AS m_us, v AS v_us,
        |  CAST(l AS BIGINT) AS level_us, CAST(b AS BIGINT) AS trend_us
        |FROM rec ORDER BY user_id, m_us, event_id""".stripMargin,

    // Per-rank recursive replay of the CUSUM fold: the per-user
    // truncated-mean target joins into the ranked rows, and the
    // accumulate/alarm/reset CASE is repeated across the three state
    // columns (s, alarms, running max).
    "q_drift_cusum" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS m,
        |             CAST(FLOOR(value * 1e6) AS BIGINT) AS v
        |           FROM events),
        |t AS (SELECT user_id,
        |        CAST(CAST(SUM(v) AS BIGINT) // COUNT(*) AS BIGINT) AS tgt,
        |        COUNT(*) AS n
        |      FROM e GROUP BY user_id),
        |r AS (SELECT e.*, t.tgt, t.n,
        |        ROW_NUMBER() OVER (PARTITION BY e.user_id
        |                           ORDER BY m, event_id) AS rn
        |      FROM e JOIN t USING (user_id)),
        |rec AS (
        |  WITH RECURSIVE w(user_id, rn, tgt, n, s, alarms, mx) AS (
        |    SELECT user_id, rn, tgt, n,
        |      CASE WHEN GREATEST(0, v - tgt - tgt // 10) > 4 * tgt
        |           THEN 0 ELSE GREATEST(0, v - tgt - tgt // 10) END,
        |      CASE WHEN GREATEST(0, v - tgt - tgt // 10) > 4 * tgt
        |           THEN 1 ELSE 0 END,
        |      GREATEST(0, v - tgt - tgt // 10)
        |    FROM r WHERE rn = 1
        |    UNION ALL
        |    SELECT r.user_id, r.rn, r.tgt, r.n,
        |      CASE WHEN GREATEST(0, w.s + r.v - r.tgt - r.tgt // 10)
        |                > 4 * r.tgt
        |           THEN 0
        |           ELSE GREATEST(0, w.s + r.v - r.tgt - r.tgt // 10) END,
        |      w.alarms +
        |      CASE WHEN GREATEST(0, w.s + r.v - r.tgt - r.tgt // 10)
        |                > 4 * r.tgt
        |           THEN 1 ELSE 0 END,
        |      GREATEST(w.mx,
        |        GREATEST(0, w.s + r.v - r.tgt - r.tgt // 10))
        |    FROM w JOIN r ON r.user_id = w.user_id AND r.rn = w.rn + 1)
        |  SELECT * FROM w)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events, tgt,
        |  CAST(alarms AS BIGINT) AS n_alarms, CAST(mx AS BIGINT) AS max_s
        |FROM rec WHERE rn = n ORDER BY user_id""".stripMargin,

    // Same conditional aggregates and anti-join counts, one row per
    // check.
    "q_dq_constraints" ->
      """WITH li AS (SELECT COUNT(*) AS n,
        |    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |             THEN 1 ELSE 0 END) AS qty_bad,
        |    SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
        |      AS price_bad
        |  FROM lineitem),
        |od AS (SELECT COUNT(*) AS n,
        |    COUNT(DISTINCT o_orderkey) AS nk,
        |    SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
        |              OR o_orderdate > TIMESTAMP '2000-12-31'
        |             THEN 1 ELSE 0 END) AS date_bad
        |  FROM orders),
        |cu AS (SELECT COUNT(*) AS n,
        |    SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS name_null
        |  FROM customer),
        |f1 AS (SELECT COUNT(*) AS v FROM orders o
        |       WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                         WHERE c.c_custkey = o.o_custkey)),
        |f2 AS (SELECT COUNT(*) AS v FROM lineitem l
        |       WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                         WHERE o.o_orderkey = l.l_orderkey)),
        |r AS (
        |  SELECT 'lineitem_qty_range' AS check_name,
        |    CAST(qty_bad AS BIGINT) AS v, CAST(n AS BIGINT) AS n FROM li
        |  UNION ALL SELECT 'lineitem_price_positive',
        |    CAST(price_bad AS BIGINT), CAST(n AS BIGINT) FROM li
        |  UNION ALL SELECT 'orders_pk_unique',
        |    CAST(n - nk AS BIGINT), CAST(n AS BIGINT) FROM od
        |  UNION ALL SELECT 'orders_date_window',
        |    CAST(date_bad AS BIGINT), CAST(n AS BIGINT) FROM od
        |  UNION ALL SELECT 'customer_name_notnull',
        |    CAST(name_null AS BIGINT), CAST(n AS BIGINT) FROM cu
        |  UNION ALL SELECT 'orders_custkey_fk',
        |    CAST(f1.v AS BIGINT), CAST(od.n AS BIGINT) FROM f1, od
        |  UNION ALL SELECT 'lineitem_orderkey_fk',
        |    CAST(f2.v AS BIGINT), CAST(li.n AS BIGINT) FROM f2, li)
        |SELECT check_name AS "check", v AS n_violations, n AS n_checked,
        |  (v = 0) AS ok
        |FROM r ORDER BY check_name""".stripMargin,

    // Same day-truncation, first-signup aggregate, distinct activity
    // days, and integer per-mille.
    "q_event_retention" ->
      """WITH e AS (SELECT user_id, event_type,
        |             CAST(ts AS DATE) AS day FROM events),
        |co AS (SELECT user_id, MIN(day) AS c_day FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |cs AS (SELECT c_day, COUNT(DISTINCT user_id) AS cohort_n
        |       FROM co GROUP BY c_day),
        |act AS (SELECT DISTINCT user_id, day FROM e),
        |ret AS (SELECT co.c_day,
        |          CAST(date_diff('day', co.c_day, act.day) AS BIGINT)
        |            AS days_since,
        |          COUNT(DISTINCT act.user_id) AS n_active
        |        FROM act JOIN co ON co.user_id = act.user_id
        |        WHERE act.day >= co.c_day
        |        GROUP BY 1, 2)
        |SELECT strftime(r.c_day, '%Y-%m-%d') AS cohort_day,
        |  r.days_since, CAST(r.n_active AS BIGINT) AS n_active,
        |  CAST(cs.cohort_n AS BIGINT) AS cohort_n,
        |  CAST((1000 * r.n_active) // cs.cohort_n AS BIGINT)
        |    AS retention_pm
        |FROM ret r JOIN cs ON cs.c_day = r.c_day
        |ORDER BY cohort_day, r.days_since""".stripMargin,

    // Step-wise min aggregates with the same strict-after conditions;
    // epoch micros end to end.
    "q_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS m FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |v AS (SELECT user_id, MIN(m) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.m) AS t2 FROM e
        |      JOIN v ON v.user_id = e.user_id AND e.m > v.t1
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.m) AS t3 FROM e
        |      JOIN c ON c.user_id = e.user_id AND e.m > c.t2
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT u.user_id,
        |  COALESCE(v.t1, 0) AS t1_us,
        |  COALESCE(c.t2, 0) AS t2_us,
        |  COALESCE(p.t3, 0) AS t3_us,
        |  CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
        |            WHEN c.t2 IS NOT NULL THEN 2
        |            WHEN v.t1 IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS steps
        |FROM u LEFT JOIN v USING (user_id)
        |LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,

    // The oracle affords the direct theta join at fixture scale — the
    // binning is a plan strategy, not a semantics change, so both must
    // produce identical rows.
    "q_join_interval" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS m FROM events),
        |l AS (SELECT *, lag(m) OVER (PARTITION BY user_id
        |                             ORDER BY m, event_id) AS pm FROM e),
        |b AS (SELECT *, CASE WHEN pm IS NULL OR m - pm > 43200000000
        |                     THEN 1 ELSE 0 END AS brk FROM l),
        |sx AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |         ORDER BY m, event_id ROWS UNBOUNDED PRECEDING)
        |         AS session_idx FROM b),
        |sess AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |           MIN(m) AS start_us, MAX(m) AS end_us
        |         FROM sx GROUP BY user_id, session_idx),
        |inc AS (SELECT event_id AS inc_id, m AS its FROM e
        |        WHERE event_type = 'error'),
        |hits AS (SELECT s.user_id, s.session_idx, COUNT(*) AS n_inc
        |         FROM sess s JOIN inc i
        |           ON s.start_us < i.its + 3600000000
        |          AND i.its <= s.end_us
        |         GROUP BY s.user_id, s.session_idx)
        |SELECT s.user_id, s.session_idx, s.start_us, s.end_us,
        |  CAST(COALESCE(h.n_inc, 0) AS BIGINT) AS n_inc
        |FROM sess s LEFT JOIN hits h
        |  ON h.user_id = s.user_id AND h.session_idx = s.session_idx
        |ORDER BY s.user_id, s.session_idx""".stripMargin,

    "q_timeseries_gapfill" ->
      """WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS h
        |            FROM events),
        |b AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM ev),
        |spine AS (
        |  SELECT UNNEST(generate_series((SELECT mn FROM b),
        |                                (SELECT mx FROM b),
        |                                INTERVAL '1 hour')) AS h),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |c AS (SELECT event_type, h, COUNT(*) AS n
        |      FROM ev GROUP BY event_type, h)
        |SELECT t.event_type, CAST(epoch(s.h) AS BIGINT) AS hour_s,
        |       COALESCE(c.n, 0) AS n
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN c ON c.event_type = t.event_type AND c.h = s.h
        |ORDER BY t.event_type, hour_s""".stripMargin,

    "q_window_dist" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume,
        |  NTILE(10) OVER w AS decile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |QUALIFY o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "q_source_orc" ->
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(30,4))) AS DOUBLE) AS total
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_source_csv" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_source_json" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS total
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_source_xml" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS total
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // The oracle affords the quadratic NOT-EXISTS dominance test at
    // fixture scale — the Spark side's bucketed sweep is a plan
    // strategy, not a semantics change, so the frontiers must match
    // row for row.
    "q_skyline" ->
      """WITH a AS (
        |  SELECT l_suppkey AS supp,
        |    CAST(SUM(l_quantity) AS BIGINT) AS qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) * 100
        |         AS BIGINT) AS cost_c
        |  FROM lineitem GROUP BY 1)
        |SELECT supp, qty, cost_c FROM a x
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM a y
        |  WHERE y.qty >= x.qty AND y.cost_c <= x.cost_c
        |    AND (y.qty > x.qty OR y.cost_c < x.cost_c))
        |ORDER BY qty DESC, supp""".stripMargin,

    "q_event_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
        |supp AS (SELECT event_type, COUNT(*) AS n1 FROM ut
        |         GROUP BY event_type),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        COUNT(*) AS n_both
        |      FROM ut a JOIN ut b ON a.user_id = b.user_id
        |        AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, CAST(p.n_both AS BIGINT) AS n_both,
        |  CAST(sa.n1 AS BIGINT) AS n_a, CAST(sb.n1 AS BIGINT) AS n_b,
        |  CAST((1000 * p.n_both * nu.n_users) // (sa.n1 * sb.n1)
        |       AS BIGINT) AS lift_pm
        |FROM p
        |JOIN supp sa ON sa.event_type = p.type_a
        |JOIN supp sb ON sb.event_type = p.type_b
        |CROSS JOIN nu
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    // Identical quantization, identical decimal moments, identical
    // double-arithmetic order — IEEE determinism does the rest.
    "q_agg_corr" ->
      """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(30,4)) * 100
        |         AS BIGINT) AS p,
        |    CAST(CAST(l_discount AS DECIMAL(30,4)) * 100 AS BIGINT)
        |      AS dc
        |  FROM lineitem),
        |m AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(q AS DECIMAL(38,0))) AS s_q,
        |    SUM(CAST(p AS DECIMAL(38,0))) AS s_p,
        |    SUM(CAST(dc AS DECIMAL(38,0))) AS s_d,
        |    SUM(CAST(q*q AS DECIMAL(38,0))) AS s_qq,
        |    SUM(CAST(p*p AS DECIMAL(38,0))) AS s_pp,
        |    SUM(CAST(dc*dc AS DECIMAL(38,0))) AS s_dd,
        |    SUM(CAST(q*p AS DECIMAL(38,0))) AS s_qp,
        |    SUM(CAST(q*dc AS DECIMAL(38,0))) AS s_qd,
        |    SUM(CAST(p*dc AS DECIMAL(38,0))) AS s_pd
        |  FROM li),
        |c AS (
        |  SELECT 'qty_price' AS pair, CAST(CASE WHEN
        |      CAST(n AS DOUBLE) * CAST(s_qq AS DOUBLE)
        |        - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE) > 0
        |      AND CAST(n AS DOUBLE) * CAST(s_pp AS DOUBLE)
        |        - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE) > 0
        |    THEN FLOOR(1e9 * (CAST(n AS DOUBLE) * CAST(s_qp AS DOUBLE)
        |        - CAST(s_q AS DOUBLE) * CAST(s_p AS DOUBLE))
        |      / SQRT((CAST(n AS DOUBLE) * CAST(s_qq AS DOUBLE)
        |          - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(s_pp AS DOUBLE)
        |          - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE))))
        |    ELSE 0 END AS BIGINT) AS corr_q FROM m
        |  UNION ALL
        |  SELECT 'qty_discount', CAST(CASE WHEN
        |      CAST(n AS DOUBLE) * CAST(s_qq AS DOUBLE)
        |        - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE) > 0
        |      AND CAST(n AS DOUBLE) * CAST(s_dd AS DOUBLE)
        |        - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE) > 0
        |    THEN FLOOR(1e9 * (CAST(n AS DOUBLE) * CAST(s_qd AS DOUBLE)
        |        - CAST(s_q AS DOUBLE) * CAST(s_d AS DOUBLE))
        |      / SQRT((CAST(n AS DOUBLE) * CAST(s_qq AS DOUBLE)
        |          - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(s_dd AS DOUBLE)
        |          - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE))))
        |    ELSE 0 END AS BIGINT) FROM m
        |  UNION ALL
        |  SELECT 'price_discount', CAST(CASE WHEN
        |      CAST(n AS DOUBLE) * CAST(s_pp AS DOUBLE)
        |        - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE) > 0
        |      AND CAST(n AS DOUBLE) * CAST(s_dd AS DOUBLE)
        |        - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE) > 0
        |    THEN FLOOR(1e9 * (CAST(n AS DOUBLE) * CAST(s_pd AS DOUBLE)
        |        - CAST(s_p AS DOUBLE) * CAST(s_d AS DOUBLE))
        |      / SQRT((CAST(n AS DOUBLE) * CAST(s_pp AS DOUBLE)
        |          - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(s_dd AS DOUBLE)
        |          - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE))))
        |    ELSE 0 END AS BIGINT) FROM m)
        |SELECT pair, corr_q FROM c ORDER BY pair""".stripMargin,

    // Identical integer grid/interp arithmetic; epoch millis both
    // sides; non-negative dividends so // and div agree.
    "q_timeseries_interp" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS m, event_id,
        |             CAST(FLOOR(value * 1000) AS BIGINT) AS vm
        |           FROM events),
        |pt AS (SELECT user_id, m, MIN_BY(vm, event_id) AS vm
        |       FROM e GROUP BY 1, 2),
        |seg AS (SELECT user_id, m, vm,
        |          LEAD(m) OVER (PARTITION BY user_id ORDER BY m) AS m1,
        |          LEAD(vm) OVER (PARTITION BY user_id ORDER BY m)
        |            AS vm1
        |        FROM pt),
        |s2 AS (SELECT user_id, m, vm, m1, vm1,
        |         ((m + 3599999) // 3600000) * 3600000 AS t0
        |       FROM seg WHERE m1 IS NOT NULL),
        |g AS (SELECT user_id, m, vm, m1, vm1,
        |        UNNEST(generate_series(t0, m1 - 1, 3600000)) AS t_ms
        |      FROM s2 WHERE t0 < m1)
        |SELECT user_id, t_ms,
        |  (vm * (m1 - t_ms) + vm1 * (t_ms - m)) // (m1 - m) AS v_mq
        |FROM g ORDER BY user_id, t_ms""".stripMargin,

    // Same coded-string fold (string_agg with the identical tie-break
    // order) and the same alternation-free regex.
    "q_event_pattern" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS m,
        |             event_id,
        |             CASE event_type WHEN 'view' THEN 'v'
        |               WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |               WHEN 'error' THEN 'e' ELSE 's' END AS ch
        |           FROM events),
        |sq AS (SELECT user_id, COUNT(*) AS n_events,
        |         string_agg(ch, '' ORDER BY m, event_id) AS seq
        |       FROM e GROUP BY user_id)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(len(regexp_extract_all(seq, 'v[^e]*c[^e]*p'))
        |       AS BIGINT) AS n_clean,
        |  CAST(length(regexp_extract(seq, 'v[^e]*c[^e]*p'))
        |       AS BIGINT) AS first_len
        |FROM sq ORDER BY user_id""".stripMargin,

    "q_event_markov" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS m,
        |             event_id, event_type FROM events),
        |l AS (SELECT user_id, event_type,
        |        LEAD(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY m, event_id)
        |          AS next_type
        |      FROM e),
        |tr AS (SELECT event_type AS from_type, next_type AS to_type,
        |         COUNT(*) AS n
        |       FROM l WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, SUM(n) AS row_n FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, CAST(tr.n AS BIGINT) AS n,
        |  CAST((1000000 * tr.n) // tot.row_n AS BIGINT) AS p_ppm
        |FROM tr JOIN tot USING (from_type)
        |ORDER BY tr.from_type, tr.to_type""".stripMargin,

    // Same strict 1-PRECEDING frame, the same paired IGNORE NULLS
    // last_value windows (both non-null exactly on touch rows, so they
    // pick the same row), and the identical 7-day lookback gate.
    "q_event_attribution" ->
      """WITH e AS (SELECT event_id, user_id, ts, event_type,
        |             CAST(FLOOR(value * 1e6) AS BIGINT) AS v_q
        |           FROM events),
        |t AS (SELECT *,
        |        LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
        |                        THEN ts END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND 1 PRECEDING) AS touch_ts,
        |        LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
        |                        THEN event_type END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND 1 PRECEDING) AS touch_type
        |      FROM e)
        |SELECT CASE WHEN touch_ts IS NOT NULL
        |              AND touch_ts >= ts - INTERVAL 7 DAY
        |            THEN touch_type ELSE 'direct' END AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS conversions,
        |  CAST(SUM(v_q) AS BIGINT) AS revenue_q
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same permille hash → Poisson(1) cdf weights, replicate axis as an
    // explicit generate_series explode (oracle scale), identical
    // truncating divisions of non-negative sums.
    "q_audit_bootstrap" ->
      """WITH e AS (SELECT event_type, event_id,
        |             CAST(FLOOR(value * 1e6) AS BIGINT) AS v
        |           FROM events),
        |b AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(v) AS sv FROM e GROUP BY 1),
        |w AS (SELECT event_type, r.r,
        |        CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
        |             WHEN u < 920 THEN 2 WHEN u < 981 THEN 3
        |             WHEN u < 996 THEN 4 ELSE 5 END AS w, v
        |      FROM e CROSS JOIN generate_series(0, 31) AS r(r)
        |      CROSS JOIN LATERAL (SELECT
        |        ((event_id * 2654435761 + r.r * 1540483477)
        |         % 2147483648) % 1000 AS u) t),
        |rep AS (SELECT event_type, r,
        |          CAST(SUM(w * v) // SUM(w) AS BIGINT) AS m
        |        FROM w GROUP BY 1, 2),
        |rk AS (SELECT event_type, m,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY m) AS k
        |       FROM rep)
        |SELECT b.event_type, b.n,
        |  CAST(b.sv // b.n AS BIGINT) AS mean_q,
        |  CAST(MAX(CASE WHEN k = 2 THEN m END) AS BIGINT) AS lo_q,
        |  CAST(MAX(CASE WHEN k = 31 THEN m END) AS BIGINT) AS hi_q
        |FROM rk JOIN b USING (event_type)
        |GROUP BY b.event_type, b.n, b.sv
        |ORDER BY b.event_type""".stripMargin,

    // Same one-scan shape: type totals re-aggregate from the cell
    // table; nonnegative integer floor divisions agree across engines.
    "q_timeseries_seasonal" ->
      """WITH cell AS (SELECT event_type,
        |                CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
        |                CAST(COUNT(*) AS BIGINT) AS cnt,
        |                CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT))
        |                  AS BIGINT) AS sum_q
        |              FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tcnt,
        |          CAST(SUM(sum_q) AS BIGINT) AS tsum_q
        |        FROM cell GROUP BY 1)
        |SELECT cell.event_type, cell.hr, cell.cnt,
        |  CAST(sum_q // cnt AS BIGINT) AS mean_q,
        |  CAST((sum_q // cnt) - (tsum_q // tcnt) AS BIGINT) AS resid_q
        |FROM cell JOIN tot USING (event_type)
        |ORDER BY cell.event_type, cell.hr""".stripMargin,

    // Same quasi-identifier bucketing and k = 5 threshold.
    "q_audit_kanonymity" ->
      """SELECT lang, source, n_chars // 64 AS len_b,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  COUNT(*) < 5 AS at_risk
        |FROM documents
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // The pruned scan must equal the full-table range query — pruning
    // is an optimization, never a semantics change. Range bounds
    // replay the manifest-derived max as a scalar subquery.
    "q_scan_zonemap" ->
      """WITH b AS (SELECT MAX(doc_id) AS mx FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents, b
        |WHERE doc_id >= mx // 10 AND doc_id <= mx // 5
        |GROUP BY source ORDER BY source""".stripMargin,

    // The grid-pruned join must equal the direct quadratic theta join;
    // same Knuth-mix plane, Chebyshev distance in plain integers.
    "q_join_spatial" ->
      """WITH p AS (SELECT c_custkey AS id,
        |             ((c_custkey * 2654435761) % 2147483648) % 1000 AS x,
        |             ((c_custkey * 1540483477) % 2147483648) % 1000 AS y
        |           FROM customer)
        |SELECT a.id AS a, b.id AS b,
        |  CAST(GREATEST(ABS(a.x - b.x), ABS(a.y - b.y)) AS BIGINT) AS d
        |FROM p a JOIN p b ON a.id < b.id
        |  AND ABS(a.x - b.x) <= 25 AND ABS(a.y - b.y) <= 25
        |ORDER BY a, b""".stripMargin,

    // The same (m, event_id) per-user order; t2 non-null implies t1
    // non-null, so the concat never sees a NULL arm.
    "q_event_seqmine" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS m,
        |             event_id, event_type FROM events),
        |l AS (SELECT user_id, event_type,
        |        LEAD(event_type, 1) OVER w AS t1,
        |        LEAD(event_type, 2) OVER w AS t2
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY m, event_id))
        |SELECT event_type || '>' || t1 || '>' || t2 AS seq,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS support
        |FROM l WHERE t2 IS NOT NULL
        |GROUP BY 1
        |ORDER BY support DESC, n DESC, seq LIMIT 20""".stripMargin
  )
}
