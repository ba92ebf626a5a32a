package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("streaming tumbling-window agg equals the batch equivalent") {
    val stream = SparkEntry.queries("q_stream_tumbling")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("w"), col("event_type"),
        col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(stream == batch)
  }

  test("cluster gate agrees with the full batch CC exactly where it can") {
    // q_stream_clusters sees stored(old)-side edges only; the batch CC
    // (q_dedup_clusters) additionally sees new-new edges. Three pinned
    // relationships follow (proofs in the query's doc comment):
    //  (1) monotonicity: the batch label can only be ≤ the gate label
    //      (more edges only grow components, labels are component mins);
    //  (2) consistency: a merged arrival and its gate target share a
    //      batch component (the gate edge exists in the full graph);
    //  (3) exactness: an arrival whose batch component holds no OTHER
    //      new doc has NO new-new edges, so gate ≡ batch on it.
    // the batch family's max·4/5 cut convention (shared since r12)
    val cut = spark.read.parquet(s"$sf/documents.parquet")
      .agg((max(col("doc_id")) * 4).as("m")).head.getLong(0) / 5
    val gate = SparkEntry.queries("q_stream_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val batch = SparkEntry.queries("q_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gate.nonEmpty && gate.keys.forall(_ >= cut))
    val newPerComp = batch.collect { case (id, lbl) if id >= cut => lbl }
      .groupBy(identity).map { case (l, xs) => l -> xs.size }
    var exactHits = 0
    gate.foreach { case (id, (keep, merged)) =>
      assert(batch(id) <= keep, s"batch ${batch(id)} > gate $keep for $id")
      if (merged)
        assert(batch(id) == batch(keep),
          s"arrival $id and gate target $keep in different batch components")
      if (newPerComp(batch(id)) == 1) {
        assert(keep == batch(id), s"delta-isolated $id: gate $keep != batch")
        exactHits += 1
      }
    }
    assert(exactHits > 0, "fixture should have delta-isolated arrivals")
  }

  test("composed pipeline v2 agrees with its constituent gates per text") {
    import graft.functions.VectorFunctions.neutral_hash40
    val cut = spark.read.parquet(s"$sf/documents.parquet")
      .agg((max(col("doc_id")) * 4).as("m")).head.getLong(0) / 5
    val arrivals = Tables.documents(spark, sf)
      .where(col("doc_id") >= cut)
      .select(col("doc_id"), col("source"),
        neutral_hash40(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val v2 = SparkEntry.queries("q_stream_pipeline_v2")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    // content-addressed: one row per DISTINCT admitted text
    assert(v2.keySet == arrivals.map(_._3).toSet)
    // cluster leg ≡ q_stream_clusters (same cut, same stored index):
    // per arrival doc, merged-ness and target label must agree through
    // the fp indirection — both are pure functions of the text
    val gate = SparkEntry.queries("q_stream_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    arrivals.foreach { case (id, _, fp) =>
      val row = v2(fp)
      val (keep, merged) = gate(id)
      assert(row.getBoolean(9) == merged, s"is_merge mismatch for doc $id")
      if (merged) assert(row.getLong(8) == keep,
        s"merge target mismatch for doc $id: ${row.getLong(8)} != $keep")
    }
    // decontamination leg ≡ the batch span worklist (maximal-run
    // semantics both sides; q_contamination_spans covers every
    // non-src0 doc, so compare on non-src0 arrivals)
    val spans = SparkEntry.queries("q_contamination_spans")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    arrivals.filter(_._2 != "src0").foreach { case (id, _, fp) =>
      val row = v2(fp)
      val got = (row.getLong(6), row.getLong(5), row.getLong(7))
      assert(got == spans(id), s"span stats mismatch for doc $id")
    }
    // the decon leg must fire somewhere: at this SF the contaminated
    // arrivals are the src0 docs themselves (their grams ARE the eval
    // set — an arriving benchmark copy reports fully contaminated,
    // which is exactly what the gate should hold back)
    assert(v2.values.exists(_.getLong(5) > 0), "no contamination found")
    // the dup gate must actually fire somewhere (the fixture plants
    // duplicated passages in the arrival fifth)
    assert(v2.values.exists(_.getLong(3) > 0), "no dup windows found")
  }

  test("streaming drift monitor equals the batch drift signal row-for-row") {
    // the per-row argmax assignment (array_sort over (-cos, cent_id)
    // structs) must reproduce nearestCents' window tie order exactly,
    // and complete-mode count accumulation is order-free — so the
    // whole monitor trajectory must land on the batch table
    val stream = SparkEntry.queries("q_stream_ann_drift")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    val batch = SparkEntry.queries("q_sim_ann_drift")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    assert(stream.nonEmpty && stream == batch)
    // the verdict column is exactly the quantized-term sum vs the
    // measured PSI >= 0.01 operating point
    val tot = stream.head._5
    assert(stream.forall(_._5 == tot), "psi_total_nn must ride every row")
    assert(stream.map(_._4).sum == tot,
      "psi_total_nn must be the exact sum of the quantized terms")
    assert(stream.forall(_._6 ==
      (tot >= graft.operators.Similarity.RetrainPsiNn)))
  }

  test("streaming index-stats fold equals the batch merge row-for-row") {
    // df/N/Σdl are order-free sums, so the end-of-stream state folded
    // onto the stored side must land on the batch fold exactly — and
    // the fixture delta must actually contribute (df_delta > 0
    // somewhere), else the fold claim is vacuous
    val stream = SparkEntry.queries("q_stream_index_stats")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val batch = SparkEntry.queries("q_retrieval_incremental")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(stream.nonEmpty && stream == batch)
    assert(stream.forall { case (_, dfS, dfD, df, _, _, _) =>
      df == dfS + dfD })
    assert(stream.exists(_._3 > 0), "delta must contribute df somewhere")
  }

  test("tokenizer drift monitor charges unseen words at byte fallback") {
    import spark.implicits._
    // the fixture delta has NO unseen words (n_oov = 0 at every SF), so
    // the OOV/fallback arm is oracle-covered but never EXERCISED there
    // — plant a corpus whose delta carries genuinely new vocabulary
    val dir = s"${sys.props("java.io.tmpdir")}/graft_tokdrift_plant"
    val stored = (0L until 8L).map(i => (i, "aaa bbb", "en", "s"))
    val delta = Seq((8L, "aaa qq zzzz", "en", "s"),
      (9L, "aaa qq zzzz", "en", "s"))
    (stored ++ delta).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // cut = 10*4/5 = 8: the stored tokenizer trains on docs 0-7 only,
    // so qq (2 chars) and zzzz (4 chars) are OOV and must be charged
    // at character count; aaa is in-vocabulary at its trained n_sub
    val rows = SparkEntry.queries("q_stream_tokenizer_drift")(spark, dir)
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getString(0) == "en")
    assert(r.getLong(1) == 6, s"n_words ${r.getLong(1)}") // 2 docs x 3
    assert(r.getLong(2) == 4, s"n_oov ${r.getLong(2)}")   // qq,zzzz x 2
    val aaaSub = graft.operators.Bpe.train(spark, dir, 8L)._1
      .where(col("w") === "aaa")
      .select(expr(graft.operators.Bpe.NSubExpr).cast("long"))
      .head().getLong(0)
    assert(r.getLong(3) == 2 * aaaSub + 2 * (2 + 4),
      s"n_subwords ${r.getLong(3)} vs aaa=$aaaSub")
  }

  // Monitor → action for the VOCABULARY loop (the r14 ANN wiring
  // pattern applied to the tokenizer): on the planted new-vocab corpus
  // the delta's OOV rate (666‰) crosses the retrain operating point
  // (EventStreams.RetrainOovPm, 100‰), so with
  // autoRetrain=on the monitor must execute the full-corpus BPE
  // retrain and REPLACE the session's stored tokenizer — and its own
  // NEXT run must measurably recover: OOV → 0 (the new words are in
  // the retrained vocabulary) and the fallback fertility penalty gone.
  test("firing tokenizer-drift verdict retrains; the next encode recovers") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_tokretrain_plant"
    val stored = (0L until 8L).map(i => (i, "aaa bbb", "en", "s"))
    val delta = Seq((8L, "aaa qq zzzz", "en", "s"),
      (9L, "aaa qq zzzz", "en", "s"))
    (stored ++ delta).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    def monitor() = SparkEntry.queries("q_stream_tokenizer_drift")(
      spark, dir).collect()(0)
    spark.conf.set("spark.graft.bpe.autoRetrain", "on")
    try {
      val stale = monitor()
      // the firing run reports against the STALE tokenizer it measured
      assert(stale.getLong(2) == 4 && stale.getLong(5) == 666,
        s"plant must fire the verdict: $stale")
      // ... and the NEXT run encodes under the REPLACED tokenizer
      val next = monitor()
      assert(next.getLong(2) == 0,
        s"retrained vocabulary must cover the delta words: $next")
      assert(next.getLong(5) == 0)
      assert(next.getLong(3) < stale.getLong(3),
        "dropping the byte-fallback charge must reduce total subwords: " +
          s"${stale.getLong(3)} -> ${next.getLong(3)}")
    } finally spark.conf.unset("spark.graft.bpe.autoRetrain")
  }

  test("streaming decontamination gate measures planted eval overlaps") {
    import spark.implicits._
    // the fixture arrivals carry zero eval overlap at every SF (the
    // contaminated docs all sit in the stored 4/5), so the gate's hit
    // arm — covered-position union, island count, longest run — is
    // oracle-covered but never exercised there; plant both shapes
    val dir = s"${sys.props("java.io.tmpdir")}/graft_scont_plant"
    val ev = (1 to 12).map(i => s"e$i")
    val oneSpan = Seq("x1", "x2") ++ ev.take(10) ++ Seq("y1", "y2")
    val twoSpans = ev.take(8) ++ Seq("z1", "z2", "z3") ++ ev.drop(4)
    val docs = Seq((0L, ev.mkString(" "), "src0")) ++
      (1L to 7L).map(i => (i, (0 until 9).map(j => s"f${i}w$j")
        .mkString(" "), "src1")) ++
      Seq((8L, oneSpan.mkString(" "), "src1"),
        (9L, twoSpans.mkString(" "), "src2"))
    docs.map { case (id, t, src) => (id, t, "en", src) }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // cut = 10*4/5 = 8: arrivals are docs 8 and 9
    val got = SparkEntry.queries("q_stream_contamination")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // doc 8: e1..e10 = positions 3-12 covered → 1 span of 10 tokens
    assert(got(8L) == ((14L, 10L, 1L, 10L, 1000L * 10 / 14)), s"${got(8L)}")
    // doc 9: e1..e8 at p=1 and e5..e12 at p=12 → spans 1-8 and 12-19
    assert(got(9L) == ((19L, 16L, 2L, 8L, 1000L * 16 / 19)), s"${got(9L)}")
  }

  test("streaming dedup emits each key exactly once") {
    val out = SparkEntry.queries("q_stream_dedup")(spark, sf).collect()
    assert(out.length == out.map(r => (r.getLong(0), r.getString(1))).toSet.size)
    val expected = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    assert(out.length == expected)
  }

  test("streaming curation pipeline equals the batch gates+dedup+blocklist") {
    val out = SparkEntry.queries("q_stream_pipeline")(spark, sf).collect()
    val fps = out.map(_.getLong(0))
    assert(fps.length == fps.toSet.size, "content fingerprints must be unique")
    // batch twin: same gates, distinct text, blocklist removed
    import graft.functions.VectorFunctions.neutral_hash40
    val toks = split(col("text"), " ")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val blocked = docs.where(col("doc_id") % 50 === 0).select(col("text"))
    val batch = docs
      .where(size(toks) >= 30 &&
        size(array_distinct(toks)).cast("double") /
          size(toks).cast("double") > 0.45 &&
        size(filter(toks, t => t === "a" || t === "the")) > 0)
      .join(blocked, Seq("text"), "left_anti")
      .select(col("text")).distinct()
      .select(neutral_hash40(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == batch)
  }

  // One gate, two sink disciplines: the update-mode keyed-upsert
  // publication (foreachBatch + dynamic partition overwrite) must land
  // on exactly the complete-mode memory sink's table — same rows, no
  // duplicates from re-emission, no rows lost to partition rewrites.
  test("published cluster table equals the complete-mode gate exactly") {
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val pub = rows("q_stream_cluster_publish")
    assert(pub == rows("q_stream_clusters"))
    // finalize-in-arrival-batch, PROVED not argued (r13 verdict item 1):
    // update mode emitted each key exactly once across the 4 triggers —
    // total emissions equal the published key count, and the keys
    // really did arrive spread over multiple triggers
    val emitted = graft.streaming.EventStreams.publishBatchRows("scpub")
    assert(emitted.size >= 2 && emitted.count(_ > 0) >= 2,
      s"keys must arrive across multiple triggers: $emitted")
    assert(emitted.sum == pub.size.toLong,
      s"update mode must emit each key exactly once: $emitted vs ${pub.size}")
    // static-isin partition pruning: every upsert trigger's keep-read
    // scanned exactly the touched buckets that EXISTED on disk (at fine
    // bucketings later arrivals touch buckets nothing wrote yet, so
    // scanned < touched is correct pruning, not a failure)
    val scans = graft.streaming.EventStreams.publishScanStats("scpub")
    assert(scans.nonEmpty &&
      scans.forall { case (t, ex, sc, _, _) => ex == sc && sc <= t },
      s"keep-read must scan exactly the existing touched buckets: $scans")
  }

  // The composed pipeline's production sink (r13 verdict missing #1):
  // the update-mode keyed-upsert publication must land on exactly the
  // complete-mode flagship's table, and the finalize-in-arrival-batch
  // property must be PROVED — after exact dedup each fp survives as one
  // stream row whose explode products share its micro-batch and every
  // probe side is static, so update mode emits each fp exactly once
  // (output ∝ batch, never corpus × triggers).
  test("published pipeline table equals the complete-mode flagship exactly") {
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(_.toSeq).toSeq
    val pub = rows("q_stream_pipeline_publish")
    assert(pub == rows("q_stream_pipeline_v2"))
    val emitted = graft.streaming.EventStreams.publishBatchRows("spv2pub")
    assert(emitted.size >= 2 && emitted.count(_ > 0) >= 2,
      s"fps must arrive across multiple triggers: $emitted")
    assert(emitted.sum == pub.size.toLong,
      s"update mode must emit each fp exactly once: $emitted vs ${pub.size}")
    val scans = graft.streaming.EventStreams.publishScanStats("spv2pub")
    assert(scans.nonEmpty &&
      scans.forall { case (t, ex, sc, _, _) => ex == sc && sc <= t },
      s"keep-read must scan exactly the existing touched buckets: $scans")
  }

  // The published-table bucket count is a deployment conf
  // (spark.graft.publish.buckets, r13 verdict "what's wrong" #1 — the
  // fixture default 8 is not the mechanism): at 256 buckets the rows,
  // the exactly-once emission, and the plan-level isin pruning must all
  // hold, and the on-disk layout must genuinely spread to the finer
  // partitioning.
  test("publish sink holds its contract at 256 buckets") {
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // the NEWEST per-invocation run dir (since r15 each invocation
    // publishes under its own run_<nanos> child — ADVICE r14: a fixed
    // leaf raced concurrent JVMs), and the part-file count of each of
    // its pb= bucket dirs. The write clusters rows by pb first, so each
    // bucket holds one file, not one per writing task.
    def newestRunBuckets(): Map[String, Int] = {
      val parent = new java.io.File(s"${sys.props("java.io.tmpdir")}/" +
        s"graft_pub_scpub_${sf.replaceAll("[^0-9a-zA-Z]", "_")}")
      val outDir = parent.listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("run_")).maxBy(_.getName.drop(4).toLong)
      outDir.listFiles().filter(d => d.isDirectory && d.getName.startsWith("pb="))
        .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-")))
        .toMap
    }
    val base = rows("q_stream_cluster_publish")
    val baseBuckets = newestRunBuckets()
    assert(baseBuckets.nonEmpty && baseBuckets.values.forall(_ == 1),
      s"each bucket must hold exactly one part file: $baseBuckets")
    spark.conf.set("spark.graft.publish.buckets", "256")
    try {
      val fine = rows("q_stream_cluster_publish")
      assert(fine == base, "published rows must be bucket-count-invariant")
      val emitted = graft.streaming.EventStreams.publishBatchRows("scpub")
      assert(emitted.sum == base.size.toLong)
      val scans = graft.streaming.EventStreams.publishScanStats("scpub")
      assert(scans.nonEmpty &&
        scans.forall { case (t, ex, sc, _, _) => ex == sc && sc <= t },
        s"isin pruning must hold at 256 buckets: $scans")
      // the layout really is finer: distinct pb dirs == distinct key % 256
      val buckets = newestRunBuckets()
      val want = base.map(_._1 % 256).toSet.map((v: Long) => s"pb=$v")
      assert(buckets.keySet == want,
        s"on-disk buckets ${buckets.size} != ${want.size}")
      assert(buckets.values.forall(_ == 1),
        s"each bucket must hold exactly one part file: " +
          buckets.filter(_._2 != 1))
    } finally spark.conf.unset("spark.graft.publish.buckets")
  }

  // The proof receipts (per-trigger count job + dir listing + plan
  // walk + partition-size walks) are telemetry, not mechanics (r14
  // verdict "what's wrong" #1): with spark.graft.publish.receipts=off
  // the sink must publish the identical table while recording nothing —
  // the production setting once the contract is trusted.
  test("publish receipts off: same table, zero telemetry") {
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val base = rows("q_stream_cluster_publish")
    spark.conf.set("spark.graft.publish.receipts", "off")
    try {
      assert(rows("q_stream_cluster_publish") == base,
        "published rows must not depend on the receipts conf")
      assert(graft.streaming.EventStreams.publishBatchRows("scpub").isEmpty)
      assert(graft.streaming.EventStreams.publishScanStats("scpub").isEmpty)
    } finally spark.conf.unset("spark.graft.publish.receipts")
  }

  // The pruning-WIN regime in-spec (r14 verdict missing #1): with the
  // drop zone sliced 16 ways, each trigger carries ~1/16 of the
  // arrivals, so its keys touch a small SUBSET of a 64-bucket published
  // table — the keep-read must scan only that subset (scanned ≡
  // touched∧existing, now with touched ≪ buckets), and the write-
  // amplification receipts must price every upsert: bytes_rewritten
  // (touched partitions after the overwrite) ≥ bytes_new (net payload)
  // > 0. Rows must equal the 4-slice default run's exactly — the gate
  // is batching-invariant THROUGH the sink.
  test("publish sink in the narrow-trigger regime: subset pruning + byte receipts") {
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val base = rows("q_stream_cluster_publish")
    spark.conf.set("spark.graft.cluster.zoneSlices", "16")
    spark.conf.set("spark.graft.publish.buckets", "64")
    try {
      val fine = rows("q_stream_cluster_publish")
      assert(fine == base, "rows must be slice- and bucket-invariant")
      val emitted = graft.streaming.EventStreams.publishBatchRows("scpub")
      assert(emitted.sum == base.size.toLong,
        s"exactly-once must hold across 16 triggers: $emitted")
      val scans = graft.streaming.EventStreams.publishScanStats("scpub")
      assert(scans.nonEmpty &&
        scans.forall { case (t, ex, sc, _, _) => ex == sc && sc <= t },
        s"isin pruning must hold per narrow trigger: $scans")
      // the WIN: every upsert trigger touched a strict subset of the
      // buckets the published table occupies
      val tableBuckets = base.map(_._1 % 64).distinct.size
      assert(scans.forall(_._1 < tableBuckets),
        s"narrow triggers must touch < $tableBuckets buckets: " +
          scans.map(_._1))
      assert(scans.forall { case (_, _, _, rw, nw) => rw >= nw && nw > 0 },
        s"every upsert must price its write: $scans")
    } finally {
      spark.conf.unset("spark.graft.cluster.zoneSlices")
      spark.conf.unset("spark.graft.publish.buckets")
    }
  }

  // ADVICE r14: an empty micro-batch must not create a schemaless
  // parquet dir (which would poison the next trigger's read), and a
  // stream that emits nothing must come back as an empty frame of the
  // publish schema, not a PATH_NOT_FOUND.
  test("publish sink survives empty batches and an all-empty stream") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val dir = s"${sys.props("java.io.tmpdir")}/graft_pub_empty_zone"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    spark.range(8).select(col("id").as("doc_id"))
      .repartition(2).write.parquet(dir)
    val gate = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType))))
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .where(col("doc_id") < 0) // every trigger emits nothing
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val out = graft.streaming.EventStreams.publishKeyedUpsert(
      spark, gate, "doc_id", "pubempty", dir)
    assert(out.columns.toSeq == Seq("doc_id", "n"),
      "the empty result must still carry the publish schema")
    assert(out.count() == 0)
  }

  // DEFERRED maintenance for the vocabulary loop (r14 verdict item 6):
  // autoRetrain=deferred must RECORD the intent without executing the
  // rebuild inline — the monitor's next run still measures the stale
  // tokenizer — and draining the intent (the maintenance window's
  // runPendingRetrain) must execute the same swap `on` does inline.
  test("deferred tokenizer retrain: verdict records intent; drain executes") {
    import spark.implicits._
    import graft.operators.Bpe
    val dir = s"${sys.props("java.io.tmpdir")}/graft_tokretrain_plant_d"
    val stored = (0L until 8L).map(i => (i, "aaa bbb", "en", "s"))
    val delta = Seq((8L, "aaa qq zzzz", "en", "s"),
      (9L, "aaa qq zzzz", "en", "s"))
    (stored ++ delta).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    def monitor() = SparkEntry.queries("q_stream_tokenizer_drift")(
      spark, dir).collect()(0)
    spark.conf.set("spark.graft.bpe.autoRetrain", "deferred")
    try {
      val stale = monitor()
      assert(stale.getLong(5) == 666, s"plant must fire the verdict: $stale")
      assert(Bpe.pendingRetrainRecorded(spark, dir),
        "deferred mode must record the intent")
      // intent only — the NEXT run still encodes under the STALE table
      assert(monitor().getLong(5) == 666,
        "deferred mode must not execute the rebuild inline")
      assert(Bpe.runPendingRetrain(spark, dir),
        "the drain must find the recorded intent")
      assert(!Bpe.pendingRetrainRecorded(spark, dir))
      val next = monitor()
      assert(next.getLong(2) == 0 && next.getLong(5) == 0,
        s"post-drain encode must run the retrained vocabulary: $next")
    } finally spark.conf.unset("spark.graft.bpe.autoRetrain")
  }

  // The streaming pipelines dedup on (sha2-256, length) instead of the
  // raw text so the state store holds ~40 B/doc, never the corpus. The
  // key change is semantics-preserving iff digest equality ≡ text
  // equality on the data; pin BOTH directions on the fixture corpus —
  // distinct texts ↔ distinct digest keys — so any future digest
  // collision (or a digest that ignores part of the text) fails loudly
  // here rather than as a confusing oracle mismatch.
  test("digest dedup key partitions the corpus exactly like raw text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text"),
        unhex(sha2(col("text"), 256)).as("dg"),
        length(col("text")).as("dg_len"))
    val nText = docs.select("text").distinct().count()
    val nKey = docs.select("dg", "dg_len").distinct().count()
    val nBoth = docs.distinct().count()
    assert(nText == nKey, s"digest keys ($nKey) != distinct texts ($nText)")
    // a (text, key) pair count equal to both proves the key is a pure
    // function of text AND injective on the fixture
    assert(nBoth == nText, s"(text,key) pairs ($nBoth) != texts ($nText)")
  }

  test("streaming drift monitor equals the batch PSI per day") {
    val stream = SparkEntry.queries("q_stream_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // batch twin of the whole trajectory via the shared bucket kernel
    val split = 1705363200L * 1000000L // 2024-01-16T00:00:00Z in micros
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), unix_micros(col("ts")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    def bkt(v: Double) = math.min(9, math.floor(v / 50.0).toInt)
    val ref = ev.filter(_._3 < split)
    val cur = ev.filter(_._3 >= split)
    assert(stream.nonEmpty && cur.nonEmpty)
    val dayUs = 86400L * 1000000L
    stream.keys.map(_._1).foreach(d => assert(d % 86400 == 0,
      "windows must align to UTC midnight"))
    stream.foreach { case ((day, t), (nCur, psi)) =>
      val c1 = Array.fill(10)(0L); val c2 = Array.fill(10)(0L)
      ref.filter(_._1 == t).foreach(e => c1(bkt(e._2)) += 1)
      cur.filter(e => e._1 == t && e._3 >= day * 1000000L &&
        e._3 < day * 1000000L + dayUs).foreach(e => c2(bkt(e._2)) += 1)
      val (n1, n2) = (c1.sum, c2.sum)
      assert(nCur == n2, s"($day,$t) n_cur")
      val expected = (0 until 10).map { b =>
        val p1 = (c1(b) + 1).toDouble / (n1 + 10).toDouble
        val p2 = (c2(b) + 1).toDouble / (n2 + 10).toDouble
        math.floor(((p2 - p1) * math.log(p2 / p1)) * 1e9).toLong
      }.sum
      assert(psi == expected, s"($day,$t) psi $psi != $expected")
    }
  }

  test("streaming anomaly monitor equals a batch z-score replay") {
    val stream = SparkEntry.queries("q_stream_anomaly")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val split = 1705363200L * 1000000L // 2024-01-16T00:00:00Z in micros
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), unix_micros(col("ts")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val ref = ev.filter(_._3 < split)
    val cur = ev.filter(_._3 >= split)
    assert(stream.nonEmpty && ref.nonEmpty && cur.nonEmpty)
    def dec(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
    val stats = ref.groupBy(_._1).map { case (t, es) =>
      val n = es.length
      val mu = es.map(e => dec(e._2)).reduce(_.add(_)).doubleValue() / n
      val s2 = es.map(e => dec(e._2 * e._2)).reduce(_.add(_))
        .doubleValue() / n
      t -> ((mu, math.sqrt(math.max(s2 - mu * mu, 0.0))))
    }
    val dayUs = 86400L * 1000000L
    val expected = cur.groupBy(e =>
      ((e._3 / dayUs) * 86400L, e._1)).map { case (k, es) =>
      val (mu, sd) = stats(k._2)
      val zs = es.map(e => if (sd > 0)
        math.floor(math.abs((e._2 - mu) / sd) * 1e6).toLong else 0L)
      k -> ((es.length.toLong, zs.count(_ > 3000000L).toLong, zs.max))
    }
    assert(stream == expected)
    // the monitor must fire somewhere in the fixture tail
    assert(stream.values.exists(_._2 > 0), "no anomalies flagged")
  }

  test("stateful flatMapGroupsWithState equals batch per-user aggregates") {
    val stream = SparkEntry.queries("q_stream_stateful")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream == batch)
  }

  test("stream-stream join equals the batch time-range join") {
    val stream = SparkEntry.queries("q_stream_join")(spark, sf)
      .select("click_id", "p_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, sf)
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
        col("p_ts") <= col("c_ts"))
      .select("click_id", "p_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture should contain click/purchase matches")
    assert(stream == batch)
  }

  test("full outer stream join flushes both unmatched sides by watermark") {
    val rows = SparkEntry.queries("q_stream_full_join")(spark, sf).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val matched = rows.collect { case (Some(c), Some(p)) => (c, p) }.toSet
    val loneClicks = rows.collect { case (Some(c), None) => c }.toSet
    val lonePurch = rows.collect { case (None, Some(p)) => p }.toSet
    // in-memory truth from the fixture
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val hourUs = 3600000000L
    val clicks = ev.filter(_._4 == "click")
    val purch = ev.filter(_._4 == "purchase")
    val matchedB = (for {
      c <- clicks; p <- purch
      if p._2 == c._2 && p._3 >= c._3 - hourUs && p._3 <= c._3
    } yield (c._1, p._1)).toSet
    val wm = math.min(clicks.map(_._3).max - hourUs,
      purch.map(_._3).max - 2 * hourUs)
    val cMatched = matchedB.map(_._1)
    val pMatched = matchedB.map(_._2)
    val loneClicksB = clicks
      .filter(c => !cMatched.contains(c._1) && c._3 < wm).map(_._1).toSet
    val lonePurchB = purch
      .filter(p => !pMatched.contains(p._1) && p._3 + hourUs < wm)
      .map(_._1).toSet
    assert(matched == matchedB, "matched pairs must equal the batch join")
    assert(loneClicks == loneClicksB,
      "unmatched clicks must flush exactly when the watermark passes c_ts")
    assert(lonePurch == lonePurchB,
      "unmatched purchases must flush when the watermark passes p_ts + 1h")
    assert(loneClicks.nonEmpty && lonePurch.nonEmpty,
      "both outer sides must actually flush on the fixture")
  }

  test("dynamic-gap sessions equal the interval-union replay; gap matters") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def sessions(gapOf: String => Long) =
      ev.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
        val sorted = es.sortBy(_._2)
        val out = scala.collection.mutable.ListBuffer
          .empty[(Long, Long, Long, Long, Long)]
        var (st, end, n, np) = (0L, Long.MinValue, 0L, 0L)
        sorted.foreach { case (_, m, tpe) =>
          if (n > 0 && m < end) {
            n += 1; np += (if (tpe == "purchase") 1L else 0L)
            end = math.max(end, m + gapOf(tpe))
          } else {
            if (n > 0) out += ((uid, st, end, n, np))
            st = m; end = m + gapOf(tpe); n = 1
            np = if (tpe == "purchase") 1L else 0L
          }
        }
        if (n > 0) out += ((uid, st, end, n, np))
        out
      }.sortBy(t => (t._1, t._2))
    val dynGap = (t: String) =>
      if (t == "purchase") 3600000000L else 1800000000L
    val expected = sessions(dynGap)
    val got = SparkEntry.queries("q_stream_session_dynamic")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected,
      "dynamic sessions must equal the interval-union replay")
    // the per-event gap must DO something: purchases bridging 30-60 min
    // gaps merge sessions a fixed 30-min gap would split
    val fixedCount = sessions(_ => 1800000000L).length
    assert(got.length < fixedCount,
      "dynamic purchase gap should merge sessions vs the fixed gap")
  }

  test("timer sessions equal batch sessionization; both close paths fire") {
    val got = SparkEntry.queries("q_stream_timers")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // in-memory gap sessionization over the raw events
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      val ts = es.map(_._2).sorted
      val sessions = scala.collection.mutable.ListBuffer
        .empty[(Long, Long, Long, Long)]
      var (st, last, n) = (ts.head, ts.head, 1L)
      ts.tail.foreach { t =>
        if (t - last > 1800000000L) {
          sessions += ((uid, st, last, n)); st = t; last = t; n = 1L
        } else { n += 1L; last = t }
      }
      sessions += ((uid, st, last, n))
      sessions
    }.sortBy(t => (t._1, t._2))
    assert(got == expected,
      "timer-closed stream sessions must equal the batch replay")
    // both close paths demonstrably ran: inline gap closures mean MORE
    // sessions than users; timer closures mean every user's TAIL
    // session is present (equality above would fail on exactly one
    // missing session per user if timers never fired)
    val users = ev.map(_._1).distinct.length
    assert(got.length > users,
      "fixture must contain multi-session users (inline close path)")
    assert(got.map(_._1).distinct.length == users,
      "every user's tail session must have been timer-flushed")
  }

  test("stream-static enrichment join equals the batch join") {
    val stream = SparkEntry.queries("q_stream_static_join")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture purchases should hit the customer dim")
    assert(stream == batch)
  }

  test("streaming embed admission gate equals the batch LSH near-dup check") {
    val rows = SparkEntry.queries("q_stream_embed_dedup")(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    val cut = n * 4 / 5
    assert(rows.length == n - cut, "one verdict row per arriving vector")
    assert(rows.forall(_.getLong(0) >= cut), "verdicts only for arrivals")
    val flagged = rows.filter(_.getLong(3) == 1L)
    assert(flagged.nonEmpty, "fixture plants cross-split near-dups")
    flagged.foreach { r =>
      assert(!r.isNullAt(1) && r.getLong(1) < cut,
        "dup_of must point into the static index")
      assert(r.getLong(2) > 400000L, "best cosine must clear the bar")
    }
    // batch replay with the same compiled band keys must agree exactly
    import graft.functions.VectorFunctions.{decimal_dot, srp_band_keys}
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nsq", decimal_dot(col("v"), col("v")).cast("double"))
      .select(col("vec_id"), col("v"), col("nsq"),
        posexplode(srp_band_keys(col("v"), 64, 12)).as(Seq("band", "bucket")))
    val batch = e.where(col("vec_id") >= cut)
      .join(e.where(col("vec_id") < cut)
          .select(col("vec_id").as("idx_id"), col("v").as("iv"),
            col("nsq").as("insq"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .withColumn("cos_q",
        floor(decimal_dot(col("v"), col("iv")).cast("double") /
          sqrt(col("nsq") * col("insq")) * lit(1e6)).cast("long"))
      .where(col("cos_q") > 400000L)
      .groupBy(col("vec_id"))
      .agg(min(col("idx_id")).as("dup_of"), max(col("cos_q")).as("best"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val streamed = flagged
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch)
  }

  test("streaming passage gate equals an in-memory gram replay") {
    val rows = SparkEntry.queries("q_stream_dup_spans")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val cut = docs.length.toLong * 4 / 5
    def grams(toks: Seq[String]): Seq[String] =
      if (toks.length >= 8) toks.sliding(8).map(_.mkString(" ")).toSeq
      else Seq(toks.mkString(" "))
    val ref = docs.filter(_._1 < cut).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(_._1 >= cut).map { case (id, toks) =>
      val g = grams(toks)
      val hits = g.count(ref.contains).toLong
      (id, (g.length.toLong, hits, 1000L * hits / g.length))
    }.toMap
    assert(rows.length == expected.size, "one verdict row per arrival")
    rows.foreach { r =>
      assert(expected(r.getLong(0)) ==
        ((r.getLong(1), r.getLong(2), r.getLong(3))),
        s"arrival ${r.getLong(0)} gate stats")
    }
    // the gate must fire on this fixture, or it demonstrates nothing
    assert(rows.count(_.getLong(2) > 0) > 0,
      "fixture should contain cross-split duplicated passages")
  }

  test("streaming CMS sketch equals the batch sketch, over-estimates only") {
    val stream = SparkEntry.queries("q_stream_heavy_hitters")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
    assert(stream.length == 20)
    // CMS never under-counts
    stream.foreach { case (t, (exact, est)) =>
      assert(est >= exact, s"term $t under-counted: $est < $exact")
    }
    // counter merges are order-free, so the state-store-accumulated
    // sketch must be bit-identical to the batch-built one
    val batch = SparkEntry.queries("q_text_heavy_hitters_approx")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
    assert(stream.toMap == batch.toMap)
  }

  test("a restarted stream resumes from its checkpoint exactly once") {
    // the recovery contract a 100 TB ingest relies on: the file source
    // records processed files in the checkpoint's offset log and the
    // parquet sink commits atomically through its own log, so a restart
    // (here: a second AvailableNow run over the same checkpoint) picks
    // up ONLY files that arrived since — nothing reprocessed, nothing
    // lost, even though run 2 can still see run 1's input files.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    val src = new java.io.File(root, "in").getPath
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ck").getPath
    val schema = StructType(Seq(StructField("id", LongType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .selectExpr("id", "id * 2 AS doubled")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.range(0, 5).write.mode("append").parquet(src)
    runOnce()
    val afterRun1 = spark.read.parquet(out).count()
    assert(afterRun1 == 5, s"run 1 must emit the first batch, saw $afterRun1")
    spark.range(5, 9).write.mode("append").parquet(src)
    runOnce()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == (0L until 9L).map(i => (i, i * 2)),
      s"restart must process ONLY the new file (no dups, no loss): $rows")
  }

  test("session windows respect the 30-minute gap") {
    val sessions = SparkEntry.queries("q_stream_session")(spark, sf)
    // session count per user can never exceed event count per user
    val perUser = sessions.groupBy("user_id").count()
    val events = Tables.events(spark, sf).groupBy("user_id").count()
      .withColumnRenamed("count", "n_ev")
    val joined = perUser.join(events, "user_id").collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r => r.getLong(1) <= r.getLong(2)))
  }

  test("streaming funnel equals the batch funnel row for row") {
    val stream = SparkEntry.queries("q_stream_funnel")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val batch = SparkEntry.queries("q_event_funnel")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(stream.nonEmpty)
    assert(stream.toSeq == batch.toSeq,
      "stateful fold must equal the batch step-wise minima")
  }

  test("streaming attribution equals an in-memory last-touch walk") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val lookbackUs = 7L * 86400000000L
    val expected = ev.groupBy(_._2).toSeq.flatMap { case (uid, es) =>
      var touch: Option[(Long, String)] = None
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      es.sortBy(e => (e._3, e._1)).foreach { e =>
        if (e._4 == "purchase") {
          val ch = touch match {
            case Some((tts, tt)) if tts >= e._3 - lookbackUs => tt
            case _ => "direct"
          }
          val (c, r) = acc.getOrElse(ch, (0L, 0L))
          acc(ch) = (c + 1, r + math.floor(e._5 * 1e6).toLong)
        }
        if (e._4 == "view" || e._4 == "click") touch = Some((e._3, e._4))
      }
      acc.toSeq.map { case (ch, (c, r)) => (uid, ch, c, r) }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q_stream_attribution")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected, "stateful online walk must equal batch replay")
    assert(got.exists(_._2 == "direct") &&
      got.exists(t => t._2 == "view" || t._2 == "click"),
      "both attributed and direct conversions must occur")
  }

  test("streaming CEP pattern equals the batch regex row for row") {
    val stream = SparkEntry.queries("q_stream_pattern")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = SparkEntry.queries("q_event_pattern")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stream.nonEmpty && stream.exists(_._3 > 0),
      "some user must complete a clean pattern")
    assert(stream.toSeq == batch.toSeq,
      "incremental block fold must equal the batch leftmost-greedy regex")
  }

  test("streaming KMV distinct equals a batch replay of the sketch") {
    import graft.functions.VectorFunctions.{avalanche31, neutral_hash40}
    import graft.functions.KmvAgg.{kmv_agg, K}
    val stream = SparkEntry.queries("q_stream_distinct")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"),
        kmv_agg(avalanche31(neutral_hash40(col("user_id").cast("string"))))
          .as("kmv"))
      .select(unix_timestamp(col("window.start")).as("w"), col("n_events"),
        when(size(col("kmv")) < K, size(col("kmv")).cast("long"))
          .otherwise(expr(
            s"(${K - 1} * 2147483648) div element_at(kmv, $K)"))
          .as("dv"))
      .orderBy(col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream.nonEmpty && stream == batch,
      "micro-batch KMV state must merge to the single-batch sketch")
  }

  test("the KMV estimator branch engages above K and lands near exact") {
    // the fixture's per-day user cardinality sits under K at sf0.001, so
    // drive the SAME aggregate over a synthetic high-cardinality column
    // and check the order-statistic estimate is sane (within 25% here;
    // the estimator's relative error concentrates ~1/sqrt(K-2) ≈ 13%).
    // Sequential short keys are the adversarial case that forced the
    // avalanche — the raw fold overestimated this by 50%+.
    import graft.functions.VectorFunctions.{avalanche31, neutral_hash40}
    import graft.functions.KmvAgg.{kmv_agg, K}
    import spark.implicits._
    val n = 5000
    val est = (1 to n).map(i => s"user_$i").toDF("u")
      .agg(kmv_agg(avalanche31(neutral_hash40(col("u")))).as("kmv"))
      .select(when(size(col("kmv")) < K, size(col("kmv")).cast("long"))
        .otherwise(expr(
          s"(${K - 1} * 2147483648) div element_at(kmv, $K)")))
      .head.getLong(0)
    assert(est > K, s"estimator branch must engage (est=$est)")
    assert(math.abs(est - n) < n / 4, s"estimate $est too far from $n")
  }

  test("streaming weighted reservoir equals the in-memory A-ES replay") {
    // independent replay: fold the doc_id hash, the quantized-ln A-ES
    // key, per-lang top-50 — plain Scala, no Spark expressions
    def h40(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 1000003L + c.toLong) % 1099511627776L)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val keyed = docs.map { case (id, text, lang) =>
      val q = text.split(" ").distinct.length.toLong
      val key = math.floor(math.log((h40(id.toString).toDouble + 1.0) /
        1099511627776.0) * 1e4 / q.toDouble).toLong
      (lang, id, q, key)
    }
    val expected = keyed.groupBy(_._1).toSeq.flatMap { case (lang, g) =>
      val n = g.length.toLong
      g.sortBy { case (_, id, _, k) => (-k, id) }.take(50).zipWithIndex
        .map { case ((_, id, q, k), i) =>
          (lang, (i + 1).toLong, id, q, k, n) }
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("q_stream_sample")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // n_seen == the language's full count proves all four micro-batches
    // folded into the state (any single batch sees only ~a quarter);
    // every reservoir is exactly K — the budget binds on each language
    val langCounts = docs.groupBy(_._3).map { case (l, g) => (l, g.size) }
    got.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == 50, s"$lang reservoir size ${rows.length}")
      assert(rows.forall(_._6 == langCounts(lang).toLong),
        s"$lang n_seen must equal the language's document count")
    }
  }

  // The drop-zone expose relies on an ATOMIC no-overwrite rename: Hadoop's
  // FileSystem.rename on RawLocalFileSystem falls back to
  // FileUtil.copy(deleteSource=true) when File.renameTo fails, which NESTS
  // the loser's copy inside the winner's zone as a `*.tmp_*` subdirectory
  // that Spark's recursive listing then reads as data — every document
  // streamed twice, forever (ADVICE r13 medium). Pin the two defenses:
  // the FileContext.rename(Rename.NONE) contract on the shipped Hadoop
  // (throws, never copies, when dest exists), and the marked-zone scrub
  // that repairs zones corrupted by pre-r14 code.
  test("staged zone survives the rename race without nesting or doubling") {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = sys.props("java.io.tmpdir")
    // (1) the Hadoop contract this JVM actually ships: rename onto an
    // existing dir with Rename.NONE must THROW, not copy-nest
    val a = new Path(s"$tmp/graft_rttest_a_${java.util.UUID.randomUUID}")
    val b = new Path(s"$tmp/graft_rttest_b_${java.util.UUID.randomUUID}")
    val fs = a.getFileSystem(conf)
    fs.mkdirs(a); fs.mkdirs(b)
    val fc = FileContext.getFileContext(a.toUri, conf)
    intercept[java.io.IOException] {
      fc.rename(a, b, Options.Rename.NONE)
    }
    assert(fs.listStatus(b).isEmpty,
      "a failed rename must leave nothing nested inside dest")
    fs.delete(a, true); fs.delete(b, true)
    // (2) end-to-end: stage a zone, corrupt it the way the old copy
    // fallback did (a nested tmp_* dir holding a full duplicate), and
    // assert the next stagedZone call scrubs the nest and the zone
    // reads at the true row count
    import spark.implicits._
    def build = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    // count the zone the way every gate consumes it: a FileStreamSource
    // scan (whose listing, unlike a batch read, descends into nested
    // non-hidden directories)
    def streamCount(zone: String): Long = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))
      val name = s"racecnt_${System.nanoTime()}"
      val q = spark.readStream.schema(schema).parquet(zone)
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).count()
    }
    val ds = s"racespec_${java.util.UUID.randomUUID}"
    val zone = graft.streaming.EventStreams.stagedZone(
      spark, "spectest", ds)(build)
    assert(streamCount(zone) == 3)
    val nest = new Path(s"$zone/loser.tmp_deadbeef")
    build.write.parquet(nest.toString)
    // measured on this Spark: the FileStreamSource listing does NOT
    // descend into the nested dir, so a pre-r14 corrupted zone reads
    // correctly today — the scrub exists so that stays true under any
    // future listing-mode change, and so the zone holds no junk copy
    assert(streamCount(zone) == 3,
      "this Spark's stream listing must not descend into the nest")
    val again = graft.streaming.EventStreams.stagedZone(
      spark, "spectest", ds)(build)
    assert(again == zone)
    assert(!fs.exists(nest), "marked-zone scrub must remove the nest")
    assert(streamCount(zone) == 3,
      "zone must stream at the true count after the scrub")
    fs.delete(new Path(zone), true)
  }
}
