package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the incremental-ANN maintenance invariants that the DuckDB
  * oracle (a one-shot recompute) cannot distinguish on its own:
  *
  *  1. the delta batch genuinely lands in EXISTING cells — no delta
  *     vector creates or requires a new centroid (the fold is an
  *     assignment, not a retrain);
  *  2. merge-equals-recompute — the stored-index rows unioned with the
  *     folded delta rows are exactly the rows a single one-shot
  *     assignment of the full corpus to the stored centroids produces
  *     (so the incremental path's oracle hash-match against the
  *     recompute is a real proof, not a coincidence of the fixture);
  *  3. the split is live: both sides non-empty, and at least one delta
  *     vector shares a cell with a stored vector (the merged postings
  *     actually interleave).
  */
class AnnIncrementalSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val parts =
    graft.operators.Similarity.annIncrementalParts(spark, sf)

  test("delta vectors land in existing cells only") {
    val (stored, delta, _, centIds, cut) = parts
    val cents = centIds.toSet
    val deltaCells = delta.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSet
    val storedCells = stored.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(deltaCells.nonEmpty && storedCells.nonEmpty)
    assert(deltaCells.subsetOf(cents),
      s"delta cells must be stored centroid ids: ${deltaCells -- cents}")
    assert(storedCells.subsetOf(cents))
    // ids split where claimed
    assert(stored.agg(max(col("vec_id"))).head.getLong(0) < cut)
    assert(delta.agg(min(col("vec_id"))).head.getLong(0) >= cut)
    assert(delta.count() > 0 && stored.count() > 0)
  }

  test("merge equals recompute: stored ∪ delta == one-shot assignment") {
    val (stored, delta, oneShot, _, _) = parts
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val merged = rows(stored) ++ rows(delta)
    val once = rows(oneShot)
    assert(merged == once,
      s"incremental fold diverges from the one-shot assignment: " +
        s"only-merged=${(merged -- once).take(5)} " +
        s"only-once=${(once -- merged).take(5)}")
  }

  test("merged postings interleave old and new in shared cells") {
    val (stored, delta, _, _, _) = parts
    val shared = stored.select(col("cell")).distinct()
      .join(delta.select(col("cell")).distinct(), "cell").count()
    assert(shared > 0, "some cell should hold both stored and delta rows")
  }

  test("index-drift monitor equals the in-memory PSI replay") {
    val (stored, delta, _, _, _) = parts
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("cell")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (cs, cd) = (counts(stored), counts(delta))
    val cells = (cs.keySet ++ cd.keySet).toSeq.sorted
    val (ns, nd, k) = (cs.values.sum, cd.values.sum, cells.size.toLong)
    val expected = cells.map { c =>
      val ps = (cs.getOrElse(c, 0L) + 1).toDouble / (ns + k).toDouble
      val pd = (cd.getOrElse(c, 0L) + 1).toDouble / (nd + k).toDouble
      (c, cs.getOrElse(c, 0L), cd.getOrElse(c, 0L),
        math.floor((pd - ps) * math.log(pd / ps) * 1e9).toLong)
    }
    val got = SparkEntry.queries("q_sim_ann_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    // the monitor must be non-degenerate on the fixture: occupancy
    // proportions differ somewhere, so some term is nonzero
    assert(got.exists(_._4 != 0), "expected a nonzero PSI term")
  }

  test("query output is the merged-index top-5 with delta flags") {
    val got = SparkEntry.queries("q_sim_ann_incremental")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getBoolean(4)))
    // 3 queries × top-5 (a thin home cell may yield fewer, never more)
    assert(got.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    got.groupBy(_._1).values.foreach { g =>
      assert(g.length >= 1 && g.length <= 5, s"top-k size ${g.length}")
      assert(g.map(_._4).sorted.toSeq == (1 to g.length).toSeq, "ranks")
      // ranks follow descending cosine
      val cs = g.sortBy(_._4).map(_._3)
      assert(cs.zip(cs.drop(1)).forall { case (a, b) => a >= b })
    }
  }

  // The CTE-prefix rename runs over the caller-supplied extra/trainPred
  // text too, so an argument using a vocabulary identifier (e, w,
  // cells, …) must fail LOUDLY instead of emitting silently mangled
  // SQL (ADVICE r13). Current call sites (cutv/cut) must stay clean.
  test("ivfCtesPrefixed rejects vocabulary identifiers in its arguments") {
    import graft.operators.Similarity.ivfCtesPrefixed
    // clean args pass and get a fully prefixed block
    val ok = ivfCtesPrefixed("z",
      "cutv AS (SELECT 1 AS cut),\n", "vec_id < (SELECT cut FROM cutv)")
    assert(ok.contains("zcells") && ok.contains("znv") &&
      !("\\b(cells|nv|nt)\\b".r.findFirstIn(ok).isDefined))
    // a predicate that names the `w` CTE as its own identifier is a bug
    intercept[IllegalArgumentException] {
      ivfCtesPrefixed("z", "", "vec_id IN (SELECT vec_id FROM w)")
    }
    intercept[IllegalArgumentException] {
      ivfCtesPrefixed("z", "cells AS (SELECT 1 AS x),\n", "TRUE")
    }
  }

  // Monitor → action, WIRED (r13 verdict item 6): plant a drifted delta
  // (SCALE.md §24's drift manifold — shifted mass concentrates
  // in few cells), run the STREAMING drift monitor with
  // spark.graft.ann.autoRetrain=on, and assert the closed loop: the
  // verdict fires, the session's stored-index memo is swapped to the
  // full-corpus retrain, and the NEXT home-cell probe — the same code
  // path every index consumer takes — runs against the retrained index
  // with recall@5 recovered. All data is deterministic, so the
  // measured recall levels are pinned, not flaky.
  test("firing drift verdict retrains the index; the next probe recovers") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.decimal_dot
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.DataFrame
    val dir = s"${sys.props("java.io.tmpdir")}/graft_driftplant"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val nStored = 4000L; val nDelta = 1000L; val a = 0.5
    val baseGen = "sin(CAST(id * 64 + j AS DOUBLE))"
    val shiftGen = "(CASE WHEN j < 8 THEN 4.0 + sin(CAST(id * 64 + j " +
      "AS DOUBLE)) ELSE 0.05 * sin(CAST(id * 64 + j AS DOUBLE)) END)"
    val stored = spark.range(nStored).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, 63), j -> CAST($baseGen AS FLOAT))")
        .as("embedding"))
    val delta = spark.range(nDelta)
      .select((col("id") + nStored).as("vec_id"),
        expr(s"transform(sequence(0, 63), j -> CAST((1.0 - $a) * " +
          s"$baseGen + $a * $shiftGen AS FLOAT))").as("embedding"))
    stored.unionAll(delta).withColumn("label", lit(0))
      .repartition(4).write.parquet(s"$dir/embeddings.parquet")
    // recall@5 of delta-side home-cell probes vs exact, over the index
    // AS THE SESSION MEMO CURRENTLY HOLDS IT (incCentroids feeds
    // annIncrementalParts — exactly what q_sim_ann_incremental queries)
    def recallNow(): Double = {
      val (st, dl, _, _, cut) = Similarity.annIncrementalParts(spark, dir)
      val merged = st.unionAll(dl)
      val q = dl.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nsq").as("qnsq"), col("cell").as("qcell"))
      def top5(cand: DataFrame) = cand
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (decimal_dot(col("qv"), col("v")).cast("double") /
            sqrt(col("qnsq") * col("nsq"))).as("cos"))
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
        .where(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (qq, xs) => qq -> xs.map(_._2).toSet }
      val exact = top5(merged.crossJoin(broadcast(q)))
      val probed = top5(merged.join(broadcast(q),
        col("cell") === col("qcell")))
      exact.keys.toSeq.map { qq =>
        (probed.getOrElse(qq, Set.empty[Long]) & exact(qq)).size / 5.0
      }.sum / exact.size
    }
    val staleRecall = recallNow()
    assert(staleRecall < 1.0,
      s"the plant must degrade the stale index: recall $staleRecall")
    spark.conf.set("spark.graft.ann.autoRetrain", "on")
    try {
      val monitor = SparkEntry.queries("q_stream_ann_drift")(spark, dir)
        .collect()
      assert(monitor.nonEmpty && monitor.forall(
        r => r.getBoolean(r.fieldIndex("retrain"))),
        "the planted drift must flip the monitor's verdict")
    } finally spark.conf.unset("spark.graft.ann.autoRetrain")
    // the swap is visible to every consumer: the stored-index memo now
    // holds the FULL-corpus retrain (k = ivfCells(n_total), not
    // ivfCells(n_stored)) ...
    val (cents, _) = Similarity.incCentroids(spark, dir)
    assert(cents.size == Similarity.ivfCells(nStored + nDelta),
      s"memo must hold the retrained table: k=${cents.size}")
    // ... and the NEXT probe's recall recovers
    val retrainedRecall = recallNow()
    info(s"recall@5 stale=$staleRecall retrained=$retrainedRecall")
    assert(retrainedRecall > staleRecall,
      s"retrain must recover recall: $staleRecall -> $retrainedRecall")
    fs.delete(p, true)
  }

  // DEFERRED maintenance (r14 verdict item 6): at corpus scale the
  // full-corpus Lloyd rebuild is minutes-to-hours, so
  // autoRetrain=deferred must only RECORD the firing verdict in the
  // monitor's trigger path — the stored-index memo stays stale until
  // the maintenance window drains the intent (runPendingRetrain),
  // which executes the exact `on`-mode session swap.
  test("deferred drift verdict: intent recorded, swap only on drain") {
    import graft.operators.Similarity
    val dir = s"${sys.props("java.io.tmpdir")}/graft_driftplant_deferred"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val nStored = 4000L; val nDelta = 1000L; val a = 0.5
    val baseGen = "sin(CAST(id * 64 + j AS DOUBLE))"
    val shiftGen = "(CASE WHEN j < 8 THEN 4.0 + sin(CAST(id * 64 + j " +
      "AS DOUBLE)) ELSE 0.05 * sin(CAST(id * 64 + j AS DOUBLE)) END)"
    val stored = spark.range(nStored).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, 63), j -> CAST($baseGen AS FLOAT))")
        .as("embedding"))
    val delta = spark.range(nDelta)
      .select((col("id") + nStored).as("vec_id"),
        expr(s"transform(sequence(0, 63), j -> CAST((1.0 - $a) * " +
          s"$baseGen + $a * $shiftGen AS FLOAT))").as("embedding"))
    stored.unionAll(delta).withColumn("label", lit(0))
      .repartition(4).write.parquet(s"$dir/embeddings.parquet")
    spark.conf.set("spark.graft.ann.autoRetrain", "deferred")
    try {
      val monitor = SparkEntry.queries("q_stream_ann_drift")(spark, dir)
        .collect()
      assert(monitor.nonEmpty && monitor.forall(
        r => r.getBoolean(r.fieldIndex("retrain"))),
        "the planted drift must flip the monitor's verdict")
      assert(Similarity.pendingRetrainRecorded(spark, dir),
        "deferred mode must record the intent")
      // the memo is UNtouched: the stored index still holds the stale
      // k = ivfCells(n_stored) table
      val (stale, _) = Similarity.incCentroids(spark, dir)
      assert(stale.size == Similarity.ivfCells(nStored),
        s"deferred must not swap inline: k=${stale.size}")
      assert(Similarity.runPendingRetrain(spark, dir),
        "the drain must find the recorded intent")
      assert(!Similarity.pendingRetrainRecorded(spark, dir))
      val (cents, _) = Similarity.incCentroids(spark, dir)
      assert(cents.size == Similarity.ivfCells(nStored + nDelta),
        s"the drained swap must install the retrain: k=${cents.size}")
    } finally spark.conf.unset("spark.graft.ann.autoRetrain")
    fs.delete(p, true)
  }
}
