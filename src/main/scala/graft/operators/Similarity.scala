package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDefs.Q
import graft.sources.Tables
import graft.functions.VectorFunctions.cosine_sim

/** Similarity search over the `embeddings` fixture (vector column
  * `array<float>`, dim 64 — FIXTURES.md).
  *
  * Two paths, mirroring what a 100 TB corpus needs:
  *  - brute-force cosine top-k: the correctness baseline. The query set is
  *    broadcast; the corpus side streams through a whole-stage-codegen'd
  *    cosine (custom Catalyst expression) — one scan, no shuffle except
  *    the final per-query top-k (TakeOrdered-sized, k×|queries| rows).
  *  - SRP-LSH (signed-random-projection) bucketed ANN: corpus is hashed
  *    once into 16-bit sign buckets; a query only scans its own bucket.
  *    At scale the bucket id becomes the partition key, so a lookup reads
  *    ~1/65536 of the data; recall is tunable via bands/probes.
  */
object Similarity {

  /** Decimal-exact cosine (order-independent, DuckDB-hash-identical) via
    * the compiled DecimalDotProduct expression — same arithmetic as the
    * SQL decimal fold, without interpreted per-element lambdas. */
  private def exactCos(va: Column, vb: Column): Column = {
    import graft.functions.VectorFunctions.decimal_dot
    decimal_dot(va, vb).cast("double") /
      sqrt(decimal_dot(va, va).cast("double") *
           decimal_dot(vb, vb).cast("double"))
  }

  /** Deterministic ±1 hyperplane weights for SRP-LSH — canonical impl in
    * [[graft.functions.SrpBandKeys.weight]]; re-computable in plain SQL,
    * which is how the q_dedup_embedding_lsh oracle derives the identical
    * hyperplanes engine-independently. */
  private[operators] def planeWeightD(p: Int, j: Int): Double =
    graft.functions.SrpBandKeys.weight(p, j)

  /** Corpus-size-derived SRP bucket width: floor(log2(max(1, n/target)))
    * clamped to [1, 30], keeping the EXPECTED bucket population ≈
    * `target` as the corpus grows. The r7 lesson made this mandatory: a
    * width fixed at 16 bits put every vector of a 500-row fixture alone
    * in its bucket (an ANN query that finds nothing demonstrates nothing
    * at any scale), while at 100 TB a width fixed small collapses the
    * corpus into huge buckets and the per-bucket quadratic explodes.
    * Integer bit-math, not floor(log2(double)) — exact at power-of-two
    * boundaries in every engine; the oracle replays it in SQL as
    * MAX(b) WHERE (1 << b) <= n // target. */
  private[graft] def lshBits(n: Long, target: Long): Int = {
    val cells = math.max(1L, n / target)
    math.min(30, math.max(1, 63 - java.lang.Long.numberOfLeadingZeros(cells)))
  }

  /** Corpus-size-derived IVF/SemDeDup cell count: max(2, ⌊√n⌋). With
    * k ∝ √n both the per-cell population (n/k ≈ √n) and the centroid
    * table (k rows) grow as the square root of the corpus, so the
    * within-cell quadratic candidate join does k·(n/k)² = n^1.5 work
    * total — bounded, vs n² for any FIXED k as n grows (the r7 flag:
    * k hard-wired to 8 means 100 TB cells of ~10⁹ vectors each).
    * Exact integer sqrt (no floor(sqrt(double)) drift at perfect
    * squares); the oracle replays it as MAX(b) WHERE b*b <= COUNT(*). */
  private[graft] def ivfCells(n: Long): Int = {
    var b = math.max(0L, math.sqrt(n.toDouble).toLong - 2)
    while ((b + 1) * (b + 1) <= n) b += 1
    math.max(2L, b).toInt
  }

  // ---- product-quantization machinery (q_sim_ann_pq + q_sim_ann_ivfpq) —
  // see q_sim_ann_pq's comment for the full design rationale. ----

  /** (vec_id, s, 8-dim sub-vector) — the fan-out is ×8 rows but the same
    * total doubles; at scale this is the one-time index build. Cached
    * because codebook training, encoding, and the LUT all read it; it
    * feeds the returned query's lineage, so in-query unpersist is
    * impossible — the harness's per-query clearCache is the documented
    * handoff. */
  private def pqSubs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(
        array((0 until 8).map(ss => slice(col("v"), ss * 8 + 1, 8)): _*))
        .as(Seq("s", "sv")))
      .cache()

  /** Nearest centroid per (vec_id, s) by decimal-exact squared L2, ties
    * to the smallest centroid id. */
  private def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.decimal_sqdist
    subs.join(broadcast(cents), Seq("s"))
      .withColumn("dist", decimal_sqdist(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("s"))
          .orderBy(col("dist").asc, col("c"))))
      .where(col("rn") === 1)
  }

  /** 4-centroid codebook per subspace: stride-spread seed sub-vectors
    * (ids 0, ⌊n/4⌋, 2⌊n/4⌋, 3⌊n/4⌋ — same rationale as ivfAssigned's
    * stride seeding: consecutive ids sample one id-local slice and
    * collapse the codebook on any corpus with id locality) + one Lloyd
    * round with double-mean centroids. Bounded driver materialization
    * (≤ 8×4 cells × 8 doubles), same rationale as q_sim_ann_ivf's
    * centroid loop. */
  private def pqCodebooks(s: SparkSession, subs: DataFrame,
      d: String, n: Long): DataFrame = {
    import s.implicits._
    // memoized per (session, dataset): same build-once / query-many
    // rationale as centMemo — the codebook is 8×4 cells of 8 doubles,
    // and both PQ consumers plus every bench rep share it.
    val rows = graft.MemoStats.memoized("pq_codebooks", pqMemo,
      (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d)) {
      val st = math.max(1L, n / 4)
      val seeds = subs.where(col("vec_id") % st === 0 &&
          col("vec_id") < st * 4)
        .select((col("vec_id") / st).cast("long").as("c"),
          col("s"), col("sv").as("cv"))
      val sums = (0 until 8).map(i =>
        sum(element_at(col("sv"), i + 1).cast("decimal(30,12)")).as(s"m$i"))
      pqAssign(subs, seeds)
        .groupBy(col("s"), col("c"))
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
        .select(col("s"), col("c"), array((0 until 8).map(i =>
          col(s"m$i").cast("double") / col("n").cast("double")): _*).as("cv"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    }
    rows.toDF("s", "c", "cv")
  }

  /** Retrain trigger for the ANN index-drift monitors, in the 1e9-
    * quantized PSI domain (1e7 ≡ PSI 0.01). A MEASURED operating
    * point, not a convention: SCALE.md §24 records that recall@5 over
    * the incrementally-maintained index bottoms out (0.91) at PSI ≈
    * 0.014 — 18× below the textbook 0.25 banding rule — and is
    * NON-monotone in drift, so the trigger sits just under the measured
    * knee. q_sim_ann_drift and q_stream_ann_drift ship this verdict as
    * a `retrain` column. */
  private[graft] val RetrainPsiNn = 10000000L

  /** Trained PQ codebooks per (session identity, dataset) — see the
    * memo comment in [[pqCodebooks]]. */
  private val pqMemo = new scala.collection.concurrent.TrieMap[
    (String, String), Seq[(Int, Long, Seq[Double])]]

  /** Corpus encoding: each (vec_id, s) → its nearest refined centroid. */
  private def pqCodes(subs: DataFrame, cents1: DataFrame): DataFrame =
    pqAssign(subs, cents1)
      .where(col("vec_id") >= 3)
      .select(col("vec_id"), col("s"), col("c"))

  /** ADC lookup table: query sub-vector × every centroid of its subspace
    * (|queries| × 8 × 4 rows — broadcast-sized by design). */
  private def pqLut(subs: DataFrame, cents1: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.decimal_sqdist
    subs.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("s"), col("sv"))
      .join(broadcast(cents1), Seq("s"))
      .select(col("query_id"), col("s"), col("c"),
        decimal_sqdist(col("sv"), col("cv")).as("dd"))
  }

  /** Deterministic IVF clustering shared by q_sim_ann_ivf and
    * q_dedup_semantic: k = [[ivfCells]](n) seed vectors, two Lloyd rounds
    * with decimal-exact coordinate sums, cosine assignment (ties →
    * lowest centroid id). Returns (vec_id, v, nsq, cell), CACHED —
    * every caller consumes it from multiple branches, and the harness
    * clears the session cache per query (the documented handoff).
    * The count() driving k is a parquet-footer metadata read, not a
    * scan; the oracle recomputes the identical k from COUNT(*).
    *
    * Decimal norms are computed once per vector / per centroid, not once
    * per pair: the VALUES are identical to the inline spelling (the
    * oracle mirrors SQRT(q.nsq * c.nsq)), this just stops recomputing a
    * per-row constant k times across the broadcast join. */
  /** The (vec_id, v, nsq) embedding projection every IVF consumer reads;
    * decimal norms computed once per vector (see the [[ivfAssigned]]
    * comment). */
  private def embWithNorms(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.decimal_dot
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nsq", decimal_dot(col("v"), col("v")).cast("double"))
  }

  /** Cosine-nearest assignment of `e` (vec_id, v, nsq) to a broadcast
    * centroid table (cent_id, cv); ties → lowest centroid id. */
  private[graft] def nearestCents(e: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.decimal_dot
    e.join(broadcast(cents.withColumn("cnsq",
        decimal_dot(col("cv"), col("cv")).cast("double"))))
      .select(col("vec_id"), col("v"), col("nsq"), col("cent_id"),
        (decimal_dot(col("v"), col("cv")).cast("double") /
          sqrt(col("nsq") * col("cnsq"))).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("sim").desc, col("cent_id"))))
      .where(col("rn") === 1)
  }

  /** Two deterministic Lloyd rounds over `train` (a (vec_id, v, nsq)
    * table): stride-spread seeds, decimal-exact coordinate sums.
    *
    * Each round materializes the k×64-double centroid table to the
    * driver and restarts from a local relation: leaving each round as a
    * chained plan re-derives the whole k-means history inside every
    * downstream branch (callers consume the assignment twice), which
    * measured ~4× the query's cost. This is the one driver-side loop in
    * the library, and it is bounded: k × dim doubles per round —
    * k = ⌊√n⌋, so ~16 MB even at 10⁹ vectors — never data-sized. */
  private[graft] def lloyd(s: SparkSession, train: DataFrame, k: Int,
      stride: Long): Seq[(Long, Seq[Double])] = {
    import s.implicits._
    var cents = train.where(col("vec_id") % stride === 0 &&
        col("vec_id") < stride * k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    var collected: Seq[(Long, Seq[Double])] = Nil
    for (_ <- 1 to 2) {
      val sums = (0 until 64).map(i =>
        sum(element_at(col("v"), i + 1).cast("decimal(30,12)")).as(s"s$i"))
      val agg = nearestCents(train, cents).groupBy(col("cent_id"))
        .agg(sums.head, sums.tail: _*)
        .select(col("cent_id"),
          array((0 until 64).map(i => col(s"s$i").cast("double")): _*)
            .as("cv"))
      collected = agg.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      cents = collected.toDF("cent_id", "cv")
    }
    collected
  }

  private[graft] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embWithNorms(s, d)
    val n = e.count()
    val k = ivfCells(n)
    // Seeds are STRIDE-SPREAD (every ⌊n/k⌋-th id), not consecutive:
    // consecutive ids sample one narrow slice of the corpus — on any
    // corpus with locality in its id order (duplicates land adjacent,
    // crawls cluster by site, an amplified test corpus interleaves
    // replicas) that collapses the effective centroid count and with it
    // the clustering. Stride seeding is the deterministic, RNG-free,
    // SQL-replayable analogue of uniform seed sampling.
    val stride = math.max(1L, n / k)
    // The trained centroid table is memoized per (session, dataset, k)
    // — the BPE-merge-table precedent: the index BUILD (two Lloyd
    // rounds, each an action) runs once per session; both consumers
    // (q_sim_ann_ivf, q_dedup_semantic) and every bench rep reuse it,
    // which is the production shape — a coarse index is built once and
    // queried many times. Bounded entries (k = ⌊√n⌋ rows × 64 doubles);
    // sessions keyed by their stable UUID (hit/miss counted in the
    // bench `memo` block).
    val centRows = graft.MemoStats.memoized("ivf_centroids", centMemo,
      (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d,
        s"full$k"))(lloyd(s, e, k, stride))
    nearestCents(e, centRows.toDF("cent_id", "cv"))
      .select(col("vec_id"), col("v"), col("nsq"), col("cent_id").as("cell"))
      .cache()
  }

  /** Incremental ANN index maintenance — the nightly-delta pattern
    * (q_agg_incremental for algebra, q_dedup_clusters_incremental for
    * graphs) lifted to the vector index (r9 verdict item 3): the corpus
    * splits at a data-derived cut (last fifth of the id space = the
    * delta batch); the STORED index is the IVF build over the existing
    * 4/5 (its own k = ⌊√n_old⌋, its own Lloyd rounds — trained WITHOUT
    * the delta), and the delta folds in as pure ASSIGNMENT to the
    * stored centroids: no retraining, postings merged by union. Because
    * per-vector assignment is stateless given the centroids, the merged
    * index is row-for-row the one-shot assignment of the full corpus to
    * those same centroids — [[annIncrementalParts]] exposes both paths
    * and AnnIncrementalSpec asserts the equality, so the full-recompute
    * DuckDB oracle hash-match is a real merge-equals-recompute proof.
    * At 100 TB: centroids are a stored k×dim table, the nightly job
    * scans ONLY the delta (one broadcast join), and cell ids keep
    * partitioning the merged postings — the index never rebuilds until
    * cell-size drift says so. Returns (stored, delta, oneShot,
    * centroid ids, cut). */
  /** The stored-index centroids and the delta cut — the two things
    * every consumer of the incrementally-maintained index shares
    * (batch maintenance, the drift monitor, and its streaming twin).
    * Memoized per session under the SAME key the batch path uses, so a
    * streaming monitor watches the IDENTICAL index its fold maintains. */
  /** The stored-index coordinates every consumer of the incrementally-
    * maintained index derives: (memo key, cut, n_old, k). Factored so
    * [[incCentroids]] and [[swapRetrainedCentroids]] share ONE
    * derivation (ADVICE r14: a re-derived inline copy could drift and
    * leave the swap writing under a key no consumer reads). */
  private def incIndexCoords(s: SparkSession, d: String)
      : ((String, String, String), Long, Long, Int) = {
    val e = embWithNorms(s, d)
    // bounded driver scalar (the split point), oracle-replayed as
    // (MAX(vec_id) * 4) // 5 — the q_dedup_clusters_incremental cut
    val cut = e.agg((max(col("vec_id")) * 4).as("m")).head.getLong(0) / 5
    val nOld = e.where(col("vec_id") < cut).count()
    val k = ivfCells(nOld)
    ((org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d,
      s"inc$k"), cut, nOld, k)
  }

  private[graft] def incCentroids(s: SparkSession, d: String)
      : (Seq[(Long, Seq[Double])], Long) = {
    val (incKey, cut, nOld, k) = incIndexCoords(s, d)
    val old = embWithNorms(s, d).where(col("vec_id") < cut)
    val stride = math.max(1L, nOld / k)
    val centRows = graft.MemoStats.memoized("ivf_centroids", centMemo,
      incKey)(lloyd(s, old, k, stride))
    (centRows, cut)
  }

  /** (vec_id, v, nsq) of the full embeddings table — the projection the
    * streaming drift twin re-derives per micro-batch on its static side. */
  private[graft] def embProjection(s: SparkSession, d: String): DataFrame =
    embWithNorms(s, d)

  private[graft] def annIncrementalParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Seq[Long], Long) = {
    import s.implicits._
    val e = embWithNorms(s, d)
    val (centRows, cut) = incCentroids(s, d)
    val cents = centRows.toDF("cent_id", "cv")
    def assign(part: DataFrame): DataFrame =
      nearestCents(part, cents)
        .select(col("vec_id"), col("v"), col("nsq"),
          col("cent_id").as("cell"))
    (assign(e.where(col("vec_id") < cut)),
      assign(e.where(col("vec_id") >= cut)), assign(e),
      centRows.map(_._1), cut)
  }

  /** Trained IVF centroids per (session UUID, dataset, variant) — see
    * the memo comment in [[ivfAssigned]]. */
  private val centMemo = new scala.collection.concurrent.TrieMap[
    (String, String, String), Seq[(Long, Seq[Double])]]

  /** Execute the retrain ACTION against the session's live index:
    * retrain centroids on the FULL corpus (the q_sim_ann_retrain /
    * [[ivfAssigned]] build — the same memoized table, so a session
    * that already paid the full build pays nothing here) and SWAP the
    * result in under the stored-index memo key that every consumer of
    * the incrementally-maintained index reads ([[incCentroids]]) — the
    * NEXT probe in this session runs against the retrained index.
    * Returns (stale, retrained) centroid tables for observability.
    *
    * Deliberately NOT part of any `queries` entry: the oracle suite
    * replays the STALE-index semantics by construction. This is the
    * maintenance path the streaming drift monitor triggers when
    * `spark.graft.ann.autoRetrain=on` (EventStreams.q_stream_ann_drift,
    * r13 verdict item 6); AnnIncrementalSpec drives the full
    * plant-drift → verdict-fires → swap → recall-recovers loop. */
  private[graft] def swapRetrainedCentroids(s: SparkSession, d: String)
      : (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])]) = {
    val (incKey, _, _, _) = incIndexCoords(s, d)
    val e = embWithNorms(s, d)
    val n = e.count()
    // the same k as ivfAssigned (ADVICE r14): same k ⇒ same full-build
    // memo key ⇒ a session that already paid the q_sim_ann_retrain
    // build reuses it here
    val k = ivfCells(n)
    val retrained = graft.MemoStats.memoized("ivf_centroids", centMemo,
      (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d,
        s"full$k"))(lloyd(s, e, k, math.max(1L, n / k)))
    val stale = centMemo.put(incKey, retrained)
    pendingRetrain.remove(incKey._1 -> d)
    (stale.getOrElse(Nil), retrained)
  }

  /** Retrain intents recorded by the DEFERRED maintenance mode
    * (`spark.graft.ann.autoRetrain=deferred`, r14 verdict item 6): at
    * corpus scale the full Lloyd rebuild is minutes-to-hours (SCALE.md
    * §23 already pays 159 s at 200k vectors), so the streaming monitor
    * must not execute it inline in its trigger path. The monitor
    * records the intent here ([[recordPendingRetrain]] — a TrieMap put,
    * zero jobs); the deployment's maintenance window drains it with
    * [[runPendingRetrain]], after which the session-memo swap is
    * exactly the `on`-mode one. Cleared with the other memos. */
  private val pendingRetrain =
    new scala.collection.concurrent.TrieMap[(String, String), Long]

  private[graft] def recordPendingRetrain(s: SparkSession, d: String)
      : Unit = {
    graft.MemoStats.registerForEviction(pendingRetrain)
    pendingRetrain.put(
      (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d),
      System.currentTimeMillis())
  }

  private[graft] def pendingRetrainRecorded(s: SparkSession, d: String)
      : Boolean = pendingRetrain.contains(
    (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d))

  /** Execute (and clear) a recorded retrain intent; returns whether one
    * was pending. The no-intent case is a cheap no-op so a maintenance
    * window can call this unconditionally. */
  private[graft] def runPendingRetrain(s: SparkSession, d: String)
      : Boolean = {
    val key = (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d)
    val was = pendingRetrain.contains(key)
    if (was) swapRetrainedCentroids(s, d) // removes the intent itself
    was
  }

  val defs: Map[String, Q] = centroidDefs ++ Map(

    // Brute-force k-NN, decimal-exact scores (oracle-checked): queries =
    // vec_id < 3, k = 5, ties broken by neighbor id.
    // ColBERT-style MaxSim late interaction: the query is a SET of
    // vectors (label-0 sample) and each candidate "document" is a set
    // (labels 1-4); score(Q, D) = Σ_{q∈Q} max_{d∈D} cos(q, d). This is
    // the multi-vector retrieval primitive — single-vector cosine loses
    // token-level matches that MaxSim keeps. Shape: the small query set
    // broadcasts, the corpus is scanned once, the per-(q, doc) max is a
    // partial-aggregable groupBy, and the final score is k rows. The
    // per-pair cosine is floor-quantized BEFORE max/sum, so both the
    // selection and the (integer) sum replay exactly in the oracle. At
    // 100 TB candidates come from an ANN shortlist (q_sim_ann_*) and
    // MaxSim re-ranks only that shortlist.
    "q_sim_maxsim" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      import graft.functions.VectorFunctions.decimal_dot
      // norms once per VECTOR (scan stage), never per pair — with an
      // ANN-shortlisted candidate set this is the dominant saving
      val q = e.where(col("label") === 0 && col("vec_id") % 7 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          decimal_dot(col("v"), col("v")).cast("double").as("qn"))
      val c = e.where(col("label").between(1, 4))
        .select(col("label").as("c_label"), col("v"),
          decimal_dot(col("v"), col("v")).cast("double").as("cn"))
      c.join(broadcast(q))
        .select(col("q_id"), col("c_label"),
          floor(decimal_dot(col("qv"), col("v")).cast("double") /
            sqrt(col("qn") * col("cn")) * lit(1e6)).cast("long").as("cq"))
        .groupBy(col("q_id"), col("c_label"))
        .agg(max(col("cq")).as("best_q"))
        .groupBy(col("c_label"))
        .agg(sum(col("best_q")).as("maxsim_q"), count(lit(1)).as("n_q"))
        .orderBy(col("c_label"))
    }),

    "q_sim_cosine_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = e.where(col("vec_id") >= 3).as("c")
        .join(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          exactCos(col("qv"), col("v")).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // Maximum-inner-product search — the scoring mode of dot-product-
    // trained retrieval embeddings (DPR-style), where the UNNORMALIZED
    // inner product is the relevance signal and cosine's normalization
    // actively destroys it (a long, confident document SHOULD outrank a
    // short one at equal angle). Exact top-5 per query by decimal-exact
    // inner product (ties to neighbor_id). The published aug_resid_q
    // column is the norm-augmentation certificate (Bachrach et al.
    // 2014): with M² = max corpus squared norm, appending
    // √(M²−‖x‖²)/M to each corpus vector makes every augmented vector
    // unit-length and the query's augmented COSINE order equal to the
    // inner-product order — so at 100 TB this exact scan swaps for the
    // SRP/IVF cosine ANN index over augmented vectors with NO change to
    // scoring semantics (the spec proves order-equality on the
    // fixture). aug_resid_q = M²_q − ‖x‖²_q ≥ 0 is the augmented
    // dimension's squared magnitude, integer by quantization.
    "q_sim_mips" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val corpus = e.where(col("vec_id") >= 3)
      val m2 = corpus.agg(max(
        floor(decimal_dot(col("v"), col("v")).cast("double") * lit(1e6))
          .cast("long")).as("m2_q"))
      val scored = corpus.join(broadcast(q)).crossJoin(broadcast(m2))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          decimal_dot(col("qv"), col("v")).as("ip"),
          floor(decimal_dot(col("qv"), col("v")).cast("double") * lit(1e6))
            .cast("long").as("ip_q"),
          (col("m2_q") -
            floor(decimal_dot(col("v"), col("v")).cast("double") * lit(1e6))
              .cast("long")).as("aug_resid_q"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("ip").desc, col("neighbor_id"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("ip_q"),
          col("aug_resid_q"), col("rn"))
        .orderBy(col("query_id"), col("rn"))
    }),

    // Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
    // Buettcher 2009): fuse a LEXICAL ranking (document-level BM25 — the
    // per-term scores of q_text_bm25 summed per doc) with a DENSE
    // ranking (exact cosine against query vector 0) by
    //   rrf(d) = Σ_arms 1e6 div (60 + rank_arm(d))
    // over each arm's top-20 list — the standard decontamination-by-
    // retrieval / curation-search shape, where neither signal alone
    // finds everything (BM25 misses paraphrase, dense misses rare
    // surface terms) and RRF needs no score calibration because it
    // consumes only RANKS. Determinism: both arms' orderings are total
    // ((score desc, id)), and the fused score is pure integer division.
    // Scale shape: each arm's top-20 is a distributed TakeOrdered (never
    // a global sort); rank assignment windows over exactly k rows; the
    // fusion is a k-row full-outer join. At 100 TB the dense arm's
    // candidate source becomes the ANN index (q_sim_ann_ivfpq) instead
    // of the brute-force scan — the fusion stage is unchanged. Docs
    // absent from an arm contribute only the other arm's term (rank
    // reported as 0 = "not retrieved").
    "q_sim_hybrid_rrf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val dtop = e.where(col("vec_id") >= 1).crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          exactCos(col("qv"), col("v")).as("cos"))
        .orderBy(col("cos").desc, col("id")).limit(20)
      val dr = dtop.withColumn("dense_rank",
          row_number().over(Window.orderBy(col("cos").desc, col("id"))))
        .select(col("id"), col("dense_rank"))
      val ltop = TextAnalysis.bm25TermScores(s, d)
        .groupBy(col("doc_id")).agg(sum(col("bm25_q")).as("lex"))
        .orderBy(col("lex").desc, col("doc_id")).limit(20)
      val lr = ltop.withColumn("lex_rank",
          row_number().over(Window.orderBy(col("lex").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("lex_rank"))
      lr.join(dr, Seq("id"), "full")
        .select(col("id").as("doc_id"),
          coalesce(col("lex_rank"), lit(0)).cast("long").as("lex_rank"),
          coalesce(col("dense_rank"), lit(0)).cast("long").as("dense_rank"),
          (when(col("lex_rank").isNotNull,
              expr("1000000 div (60 + lex_rank)")).otherwise(lit(0L)) +
           when(col("dense_rank").isNotNull,
              expr("1000000 div (60 + dense_rank)")).otherwise(lit(0L)))
            .as("rrf_q"))
        .orderBy(col("rrf_q").desc, col("doc_id"))
    }),

    // SRP-LSH ANN: one sign-bit bucket per vector (width derived from
    // corpus size by [[lshBits]] — expected ~8 vectors/bucket at every
    // SF); a query scans only its bucket, then re-ranks decimal-exact.
    // Approximate by construction (bucket recall < 1), but fully
    // DETERMINISTIC: the hyperplanes come from the fixed avalanched
    // integer hash (engine-independent — same derivation as the
    // q_dedup_embedding_lsh oracle) and the re-rank is the
    // order-independent decimal cosine, so a DuckDB oracle replays the
    // whole query bit-exactly — including the bit-width derivation,
    // which the oracle computes from COUNT(*). The scale path is
    // bucket-partitioned storage + multi-probe. The bucket is the
    // compiled SrpBandKeys expression — the HOF-lambda spelling of the
    // same hash ran interpreted per element. The count() driving the
    // width is a parquet metadata read (row-group footers), not a scan.
    "q_sim_ann_lsh" -> ((s, d) => {
      import graft.functions.VectorFunctions.srp_band_keys
      val e0 = Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val bits = lshBits(e0.count(), 8)
      val e = e0
        .withColumn("bucket", element_at(srp_band_keys(col("v"), 1, bits), 1))
      val q = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("bucket"))
      val cand = e.where(col("vec_id") >= 3)
        .join(q, Seq("bucket"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          exactCos(col("qv"), col("v")).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      cand.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // Multi-probe SRP-LSH ANN: same corpus-size-derived bucketing as
    // q_sim_ann_lsh, but each query probes its home bucket PLUS the
    // `bits` single-bit-flip neighbor buckets — the recall knob for
    // bucketed ANN at scale (probing bits+1 of 2^bits buckets reads
    // ~(bits+1)/2^bits of a bucket-partitioned corpus while recovering
    // most of what one probe misses: a near neighbor that disagrees on
    // exactly one hyperplane sign). The probe buckets per query are
    // distinct by construction (flipping different bits of the same
    // word), so the (bucket) equi-join yields each candidate at most
    // once — no distinct pass needed. Deterministic hyperplanes → the
    // oracle replays the identical probe set; OperatorsSpec asserts
    // recall ≥ the single-probe query's recall against the exact top-k,
    // and that both arms are non-vacuous.
    "q_sim_ann_multiprobe" -> ((s, d) => {
      import graft.functions.VectorFunctions.srp_band_keys
      val e0 = Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val bits = lshBits(e0.count(), 8)
      val e = e0
        .withColumn("bucket", element_at(srp_band_keys(col("v"), 1, bits), 1))
      val probes = col("bucket") +: (0 until bits).map(b =>
        expr(s"bucket ^ ${1L << b}"))
      val q = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          explode(array(probes: _*)).as("bucket"))
      val cand = e.where(col("vec_id") >= 3)
        .join(q, Seq("bucket"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          exactCos(col("qv"), col("v")).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      cand.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // IVF-style ANN: coarse-quantize to the nearest of k = ⌊√n⌋ centroids
    // from a real (if short) Lloyd's k-means — deterministic stride-spread
    // seeds refined by 2 assign/recompute rounds (ivfAssigned) — then
    // probe only the query's cell. The k-means is the scale shape: assignment is a broadcast
    // join over one corpus scan, and the centroid update reuses the
    // no-explode 64-sums-in-one-groupBy trick of q_sim_centroids (only
    // 8×64 doubles ever return to the driver-side plan as the next
    // broadcast). At 100 TB you'd run it on a sample; the fixture IS
    // sample-sized.
    //
    // Every numeric step is engine-independent, so the whole trajectory
    // replays in the DuckDB oracle: similarities are the decimal-exact
    // cosine (order-independent sums), and each "centroid" is the
    // UN-normalized per-cell decimal SUM vector (cast to double) —
    // cosine is scale-invariant, so skipping the ÷n changes nothing
    // about assignments while eliminating decimal-division rounding,
    // which differs between engines (same reasoning as q_sim_centroids
    // emitting sums, not means).
    // SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    // k-means-cluster the embedding space, then deduplicate ONLY within
    // cells — a vector is removed iff some lower-id cell-mate sits above
    // the cosine threshold; emitted per vector: its cell, the keep
    // decision, and the lowest-id duplicate partner. The deliberate
    // recall trade vs all-pairs (q_dedup_embedding's fenced baseline):
    // cross-cell duplicates are missed, and in exchange candidate
    // generation is an EQUI-JOIN on the cell id — k·(n/k)² comparisons
    // instead of n², and at corpus scale k grows with the corpus so the
    // per-cell pair volume stays bounded and the cell id doubles as the
    // partition key. Keep-lowest-id is the deterministic stand-in for the
    // paper's keep-farthest-from-centroid: greedy by id, NOT transitive
    // (a removed doc's dup_of may itself be removed), which is exactly
    // how a greedy id-ordered sweep behaves on a chain of near-dups.
    // Same codegen'd double prefilter → decimal-exact rescore margin
    // argument as q_dedup_embedding.
    "q_dedup_semantic" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val assigned = ivfAssigned(s, d)
      val a = assigned.select(col("cell"), col("vec_id").as("va"),
        col("v").as("xa"), col("nsq").as("na"))
      val b = assigned.select(col("cell"), col("vec_id").as("vb"),
        col("v").as("xb"), col("nsq").as("nb"))
      val rm = a.join(b, Seq("cell")).where(col("va") < col("vb"))
        .where(cosine_sim(col("xa"), col("xb")) > 0.399)
        .select(col("vb").as("vec_id"), col("va"),
          (decimal_dot(col("xa"), col("xb")).cast("double") /
            sqrt(col("na") * col("nb"))).as("cos"))
        .where(col("cos") > 0.4)
        .groupBy(col("vec_id")).agg(min(col("va")).as("dup_of"))
      assigned.select(col("vec_id"), col("cell"))
        .join(rm, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"),
          col("dup_of"))
        .orderBy(col("vec_id"))
    }),

    "q_sim_ann_ivf" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val assigned = ivfAssigned(s, d)
      val q = assigned.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nsq").as("qnsq"), col("cell"))
      val cand = assigned.where(col("vec_id") >= 3)
        .join(q, Seq("cell"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (decimal_dot(col("qv"), col("v")).cast("double") /
            sqrt(col("qnsq") * col("nsq"))).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      cand.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // Query over the INCREMENTALLY-MAINTAINED index (annIncrementalParts
    // above): merged postings = stored index ∪ folded delta batch; probe
    // the query's home cell, rank by decimal-exact cosine, emit the
    // top-5 with each neighbor's delta-membership flag. The oracle is a
    // one-shot recompute (assign the FULL corpus to the old-trained
    // centroids in one pass), so the hash match — together with
    // AnnIncrementalSpec's stored∪delta ≡ one-shot row equality — is the
    // merge-equals-recompute proof for the vector index.
    "q_sim_ann_incremental" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val (stored, delta, _, _, cut) = annIncrementalParts(s, d)
      // cached: the merged posting table feeds both the query-side
      // lookup and the candidate side; harness clears per query
      val merged = stored.unionAll(delta).cache()
      val q = merged.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nsq").as("qnsq"), col("cell"))
      val cand = merged.where(col("vec_id") >= 3)
        .join(broadcast(q), Seq("cell"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (decimal_dot(col("qv"), col("v")).cast("double") /
            sqrt(col("qnsq") * col("nsq"))).as("cos"),
          (col("vec_id") >= cut).as("is_new"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      cand.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rn"), col("is_new"))
        .orderBy(col("query_id"), col("rn"))
    }),

    // The WHEN-to-retrain signal for the incrementally-maintained index
    // (the production knob SCALE.md §23 leaves open): PSI between the
    // stored index's cell-occupancy distribution and the delta batch's —
    // the q_drift_psi kernel pointed at the index itself. A delta that
    // concentrates in few cells (new data from a different manifold)
    // shows up as a large positive PSI long before per-cell scan costs
    // degrade; a delta that mirrors the stored distribution folds in
    // indefinitely. Laplace-smoothed over the occupied-cell spine,
    // per-cell terms 1e9-floor-quantized (the established ln envelope)
    // so the oracle replays exactly. Scale shape: two k-row aggregates
    // off the already-maintained posting counts + one 1-row broadcast —
    // the monitor is free relative to the fold it governs.
    //
    // r12 (r11 verdict item 7): the operator ships its DECISION, not
    // just its evidence — psi_total_nn (the exact sum of the quantized
    // per-cell terms, so Spark and the oracle agree bit-for-bit) and a
    // `retrain` boolean at the MEASURED operating point
    // [[RetrainPsiNn]] (PSI ≥ 0.01; SCALE.md §24's drift_recall probe
    // put the recall@5 floor at PSI ≈ 0.014, 18× below the textbook
    // 0.25, so the trigger sits just under the measured knee). The
    // total rides every row via a 1-row broadcast join — never a
    // global window, which the plan census bans corpus-wide.
    "q_sim_ann_drift" -> ((s, d) => {
      val (stored, delta, _, _, _) = annIncrementalParts(s, d)
      val cs = stored.groupBy(col("cell")).agg(count(lit(1)).as("c_s"))
      val cd = delta.groupBy(col("cell")).agg(count(lit(1)).as("c_d"))
      // k-row occupancy table, materialized ONCE (localCheckpoint — the
      // zone-map-manifest pattern): both consumers (the totals aggregate
      // and the per-cell projection) would otherwise re-derive the two
      // assignment broadcasts each
      val cells = cs.join(cd, Seq("cell"), "full")
        .select(col("cell"), coalesce(col("c_s"), lit(0L)).as("c_s"),
          coalesce(col("c_d"), lit(0L)).as("c_d"))
        .localCheckpoint()
      val tot = cells.agg(sum(col("c_s")).as("n_s"),
        sum(col("c_d")).as("n_d"), count(lit(1)).as("k"))
      val terms = cells.join(broadcast(tot))
        .withColumn("p_s", (col("c_s") + 1).cast("double") /
          (col("n_s") + col("k")).cast("double"))
        .withColumn("p_d", (col("c_d") + 1).cast("double") /
          (col("n_d") + col("k")).cast("double"))
        .select(col("cell"), col("c_s").as("n_stored"),
          col("c_d").as("n_delta"),
          floor((col("p_d") - col("p_s")) * log(col("p_d") / col("p_s"))
            * lit(1e9)).cast("long").as("psi_term_nn"))
        .localCheckpoint() // k rows; total + projection share one pass
      val psiTot = terms.agg(sum(col("psi_term_nn")).as("psi_total_nn"))
      terms.join(broadcast(psiTot))
        .withColumn("retrain", col("psi_total_nn") >= lit(RetrainPsiNn))
        .orderBy(col("cell"))
    }),

    // RETRAIN EXECUTION — closes the monitor→action loop (r12 verdict
    // item 6): q_sim_ann_drift emits `retrain`; this operator IS the
    // maintenance job that verdict triggers. It (1) recomputes the
    // monitor's scalar from the STALE (old-trained) index — identical
    // quantized arithmetic, so the decision columns replay
    // bit-for-bit; (2) retrains centroids on stored+delta — the
    // full-corpus Lloyd build, k = ivfCells(n), the same memoized
    // table q_sim_ann_ivf queries, so at 100 TB the retrain cost is
    // the index build the session already amortizes; (3) re-assigns
    // every vector, emitting old_cell vs new_cell and a `moved` flag
    // per vector alongside the verdict. A production job gates steps
    // 2–3 on the flag; here both branches' inputs are deterministic,
    // so the oracle replays decision AND action — two independently
    // parameterized k-means replays coexisting under disjoint CTE
    // prefixes ([[ivfCtesPrefixed]]). What the action BUYS — recall@5
    // recovering at the drift points where the stale index bottoms
    // out — is recorded in SCALE.md §24/§28, measured by running this
    // exact retrain+re-assign at every planted shift.
    "q_sim_ann_retrain" -> ((s, d) => {
      val (stored, delta, _, _, _) = annIncrementalParts(s, d)
      val old = stored.unionAll(delta)
        .select(col("vec_id"), col("cell").as("old_cell"))
      val cs = stored.groupBy(col("cell")).agg(count(lit(1)).as("c_s"))
      val cd = delta.groupBy(col("cell")).agg(count(lit(1)).as("c_d"))
      val cells = cs.join(cd, Seq("cell"), "full")
        .select(coalesce(col("c_s"), lit(0L)).as("c_s"),
          coalesce(col("c_d"), lit(0L)).as("c_d"))
      val tot = cells.agg(sum(col("c_s")).as("n_s"),
        sum(col("c_d")).as("n_d"), count(lit(1)).as("k"))
      def p(cc: String, nn: String) = (col(cc) + 1).cast("double") /
        (col(nn) + col("k")).cast("double")
      val psiTot = cells.join(broadcast(tot))
        .select(floor((p("c_d", "n_d") - p("c_s", "n_s")) *
            log(p("c_d", "n_d") / p("c_s", "n_s")) * lit(1e9))
          .cast("long").as("t"))
        .agg(sum(col("t")).as("psi_total_nn"))
      val fresh = ivfAssigned(s, d)
        .select(col("vec_id"), col("cell").as("new_cell"))
      old.join(fresh, Seq("vec_id"))
        .join(broadcast(psiTot))
        .select(col("vec_id"), col("old_cell"), col("new_cell"),
          (col("old_cell") =!= col("new_cell")).as("moved"),
          col("psi_total_nn"),
          (col("psi_total_nn") >= lit(RetrainPsiNn)).as("retrain"))
        .orderBy(col("vec_id"))
    }),

    // Product-quantization ANN (IVF-PQ's compression half): split the
    // 64-dim vector into 8 subspaces of 8 dims, learn a 4-centroid
    // codebook per subspace (stride-spread seed sub-vectors, one
    // deterministic Lloyd round — the full-k-means story is
    // q_sim_ann_ivf; PQ's own content is the subspace decomposition),
    // encode every vector as 8 codes (64 doubles → 8 × 2 bits — the
    // memory shape that fits a 100 TB corpus's index in executor RAM),
    // and answer queries by Asymmetric Distance Computation: a
    // |queries|×8×4 lookup table of query-subvector→centroid distances
    // is broadcast, and each candidate's approximate distance is the
    // 8-way sum of ITS codes' table cells — the corpus is scanned as
    // codes only, full vectors never touch the query path. All
    // distances are decimal-exact squared L2 (compiled DecimalSqDist);
    // codebook means divide a decimal-sum-cast-to-double by the cell
    // count (one IEEE division — engine-identical), so the entire
    // trajectory replays in the DuckDB oracle. Ties break by centroid
    // id / neighbor id in both engines.
    "q_sim_ann_pq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val subs = pqSubs(e)
      val cents1 = pqCodebooks(s, subs, d, e.count())
      val codes = pqCodes(subs, cents1)
      val lut = pqLut(subs, cents1)
      val ad = codes.join(broadcast(lut), Seq("s", "c"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum(col("dd")).cast("double").as("adist"))
      val w2 = Window.partitionBy(col("query_id"))
        .orderBy(col("adist").asc, col("neighbor_id"))
      ad.withColumn("rn", row_number().over(w2))
        .where(col("rn") <= 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // The composed ANN index — coarse partition + PQ compression +
    // exact rescore, the three-stage shape a 100 TB vector index
    // actually runs: (1) an SRP cell (width from [[lshBits]], expected
    // ~32 vectors/cell) prunes the candidate set to its cell (the
    // k-means coarse stage is demonstrated in
    // q_sim_ann_ivf; SRP cells keep this oracle compact), (2) the PQ
    // codes (same codebooks/LUT as q_sim_ann_pq) rank ONLY the probed
    // cell's candidates by ADC — full vectors never touch this stage,
    // (3) the ADC top-10 shortlist is re-scored at full precision
    // (decimal-exact squared L2) and the top-5 emitted. Every stage is
    // deterministic, so the whole three-stage trajectory replays in
    // DuckDB. At scale: the cell is the partition key, codes live in
    // RAM (1 byte/vector here), and only k·|queries| full vectors are
    // ever fetched for the rescore.
    "q_sim_ann_ivfpq" -> ((s, d) => {
      import graft.functions.VectorFunctions.{decimal_sqdist, srp_band_keys}
      val e0 = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cellBits = lshBits(e0.count(), 32)
      val e = e0
        .withColumn("cell",
          element_at(srp_band_keys(col("v"), 1, cellBits), 1))
        .cache() // probe + rescore both read it; harness clears per query
      val subs = pqSubs(e.select(col("vec_id"), col("v")))
      val cents1 = pqCodebooks(s, subs, d, e0.count())
      val codes = pqCodes(subs, cents1)
        .withColumnRenamed("vec_id", "neighbor_id")
      val lut = pqLut(subs, cents1)
      val q = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
      // stage 1: candidates = the query's cell only (equi-join, no
      // cross product; at scale this is a partition-pruned read)
      val cand = e.where(col("vec_id") >= 3)
        .select(col("vec_id").as("neighbor_id"), col("cell"))
        .join(broadcast(q.select(col("query_id"), col("cell"))), Seq("cell"))
      // stage 2: ADC over the probed candidates' codes
      val ad = cand.join(codes, Seq("neighbor_id"))
        .join(broadcast(lut), Seq("query_id", "s", "c"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(col("dd")).cast("double").as("adist"))
      val short = ad.withColumn("arn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("adist").asc, col("neighbor_id"))))
        .where(col("arn") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      // stage 3: full-precision rescore of the 10-row shortlist
      val res = short
        .join(e.select(col("vec_id").as("neighbor_id"), col("v")),
          Seq("neighbor_id"))
        .join(broadcast(q.select(col("query_id"), col("qv"))),
          Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          decimal_sqdist(col("qv"), col("v")).cast("double").as("dist"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("dist").asc, col("neighbor_id"))
      res.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .orderBy(col("query_id"), col("rn"))
    }),

    // Symmetric int8 quantization of the embedding column — the storage
    // shape for an ANN index at 100 TB (4→1 bytes/dim before similarity
    // search; rescore the shortlist at full precision). Pure per-row math,
    // no shuffle: scale = max|x|/127, q_i = floor(x_i/scale + 0.5). Every
    // step is one correctly-rounded IEEE double op, and the per-vector
    // reductions (q_sum, q_sqsum over int64; reconstruction error summed
    // in decimal in ARRAY ORDER via a left fold) are order-fixed, so the
    // whole thing oracle-checks bit-exactly. All-zero vectors quantize to
    // zeros (scale 0 guard) rather than dividing by zero.
    "q_embed_quantize" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
        .withColumn("scale", col("mx") / lit(127.0))
        .withColumn("q", expr(
          """CASE WHEN mx = 0d THEN transform(v, x -> 0L)
            |ELSE transform(v, x -> CAST(floor(x / scale + 0.5d) AS LONG))
            |END""".stripMargin))
      e.select(col("vec_id"),
          floor(col("scale") * lit(1e9)).cast("long").as("scale_q"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_sqsum"),
          floor(expr(
            """aggregate(zip_with(v, q, (x, qi) -> abs(x - qi * scale)),
              |  CAST(0 AS DECIMAL(30,12)),
              |  (acc, e) -> CAST(acc + CAST(e AS DECIMAL(30,12))
              |              AS DECIMAL(30,12)))""".stripMargin)
            .cast("double") * lit(1e9)).cast("long").as("err_q"))
        .orderBy(col("vec_id"))
    }),

    // Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    // diversity-aware selection a retrieval/context-assembly pipeline
    // runs after ANN: greedily pick k=10 vectors maximizing
    // 7·rel − 3·redundancy (λ=0.7 scaled to integers), where rel is
    // cosine to the query (the min-id vector) and redundancy is the max
    // cosine to anything already selected. All cosines are the
    // decimal-dot exact kind, 1e6-floor-quantized, so every score is an
    // exact integer and the greedy argmax is bit-deterministic. Scale
    // shape: relevance is ONE scan (query broadcast as a literal);
    // each of the k rounds is a map stage over the checkpointed
    // candidates (selected vectors re-enter as literals — k·64 doubles
    // of bounded driver traffic, the centroid pattern) plus a
    // TakeOrdered(1); the k-round driver loop is the algorithm's
    // inherent sequential dependency, not a scale bug.
    "q_sim_mmr" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val k = 10
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nsq", decimal_dot(col("v"), col("v")).cast("double"))
      val qRow = e.orderBy(col("vec_id")).limit(1).collect()(0)
      val (qid, qv, qn) =
        (qRow.getLong(0), qRow.getSeq[Double](1), qRow.getDouble(2))
      val qvLit = array(qv.map(lit(_)): _*)
      // msim (max similarity to any already-selected vector) is a
      // RUNNING max: after each pick, fold exactly ONE new decimal dot
      // per candidate into a checkpointed msim column, instead of
      // re-evaluating greatest() over every selected vector each round
      // (that first cut cost O(k²) decimal dots per candidate —
      // 4.6 s → the incremental fold is the k-round MMR at O(k) dots).
      // The oracle's unrolled rounds compute max-over-selected
      // directly; max-over-all ≡ running max, so results are
      // bit-identical.
      // The sentinel sits below the −1e6 cosine floor so the first
      // fold's greatest() yields the true (possibly NEGATIVE) running
      // max — seeding with 0 would clamp negative similarities and
      // corrupt later picks (caught by the in-memory greedy spec).
      // Round 1 publishes msim = 0 by definition (no selected set),
      // exactly the old unrolled spelling and the oracle's round 1.
      var cur = e.where(col("vec_id") > qid)
        .withColumn("rel_q",
          floor((decimal_dot(col("v"), qvLit).cast("double") /
            sqrt(col("nsq") * lit(qn))) * lit(1e6)).cast("long"))
        .withColumn("msim_q", lit(-2000000L))
        .localCheckpoint() // each round folds one dot into this
      var selected = Vector.empty[(Long, Seq[Double], Double, Long, Long, Long)]
      for (round <- 1 to k) {
        val msimEff = if (selected.isEmpty) lit(0L) else col("msim_q")
        val pick = cur
          .where(!col("vec_id").isInCollection(
            if (selected.isEmpty) Seq(-1L) else selected.map(_._1)))
          .withColumn("msim_eff", msimEff)
          .withColumn("score_q",
            lit(7L) * col("rel_q") - lit(3L) * col("msim_eff"))
          .orderBy(col("score_q").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("v"), col("nsq"), col("rel_q"),
            col("msim_eff"), col("score_q"))
          .collect()(0)
        selected :+= ((pick.getLong(0), pick.getSeq[Double](1),
          pick.getDouble(2), pick.getLong(3), pick.getLong(4),
          pick.getLong(5)))
        if (round < k) {
          val (sv, snsq) = (pick.getSeq[Double](1), pick.getDouble(2))
          // persist-materialize-unpersist chain, NOT one localCheckpoint
          // per round: checkpoint blocks are only freed by driver GC, so
          // k checkpoints would hold k copies of the candidate table in
          // executor storage at once — the chain bounds it at 2 (the
          // count() materializes the child before its parent's blocks
          // drop, so eviction never recomputes the whole fold stack)
          val next = cur.withColumn("msim_q",
            greatest(col("msim_q"),
              floor((decimal_dot(col("v"), array(sv.map(lit(_)): _*))
                  .cast("double") / sqrt(col("nsq") * lit(snsq))) *
                lit(1e6)).cast("long")))
            .persist()
          next.count()
          cur.unpersist(false)
          cur = next
        } else {
          cur.unpersist(false)
        }
      }
      import s.implicits._
      selected.zipWithIndex
        .map { case ((id, _, _, rel, ms, sc), i) => (i + 1L, id, rel, ms, sc) }
        .toDF("sel_rank", "vec_id", "rel_q", "msim_q", "score_q")
        .orderBy(col("sel_rank"))
    }),

    // Per-dimension standardization (whitening) — the feature-store
    // normalization step before clustering or metric learning: every
    // component is re-expressed as (x − μ_j)/σ_j against CORPUS dim
    // statistics. Inputs are first quantized to integer micros
    // (floor(x·1e6)) so the corpus sums are exact integer arithmetic;
    // μ/σ derive from them in doubles whose every op (two divisions, a
    // multiply-subtract, IEEE sqrt) is correctly rounded — NO
    // transcendental anywhere, so cross-engine parity is by
    // construction, not by quantization-grid luck. Scale shape: dim
    // stats are one posexplode + 64-row aggregate; the 64 (μ, σ) pairs
    // return to the driver (bounded — the DSIR/centroid pattern) and
    // re-enter as array literals, so the whitening pass is a pure map
    // stage over the corpus with no second shuffle.
    "q_embed_whiten" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(
          """transform(cast(embedding as array<double>),
            |  x -> CAST(floor(x * 1e6) AS LONG))""".stripMargin).as("xq"))
      val st = e.select(posexplode(col("xq")).as(Seq("j", "x")))
        .groupBy(col("j"))
        .agg(sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val mArr = Array.tabulate(64) { j =>
        val (s1, _, n) = st(j); s1.toDouble / n.toDouble
      }
      val sdArr = Array.tabulate(64) { j =>
        val (_, s2, n) = st(j)
        val v = s2.toDouble / n.toDouble - mArr(j) * mArr(j)
        if (v > 0) math.sqrt(v) else 0.0
      }
      val mLit = array(mArr.map(lit(_)): _*)
      val sdLit = array(sdArr.map(lit(_)): _*)
      val terms = transform(sequence(lit(0), lit(63)), j => {
        val i = (j + 1).cast("int")
        val x = element_at(col("xq"), i).cast("double")
        val mj = element_at(mLit, i)
        val sj = element_at(sdLit, i)
        when(sj > 0.0,
          floor(((x - mj) / sj) * lit(1e6)).cast("long"))
          .otherwise(lit(0L))
      })
      e.select(col("vec_id"), terms.as("t"))
        .select(col("vec_id"),
          aggregate(col("t"), lit(0L), (a, c) => a + c).as("white_sum"),
          aggregate(col("t"), lit(0L), (a, c) => a + c * c).as("white_sqsum"))
        .orderBy(col("vec_id"))
    }),

    // Top principal direction by distributed Gramian + driver power
    // iteration — the tall-skinny PCA decomposition every
    // embedding-space diagnostic (anisotropy checks, dominant-direction
    // removal, spectral outlier axes) starts from. The corpus-sized
    // work is ONE aggregation: each row emits its 64×64 outer-product
    // cells (pure integer products of the 1e6-quantized components) and
    // map-side partial aggregation collapses them to 4,096 running sums
    // per partition, so the shuffle is 4,096 cells × partitions no
    // matter the corpus — the MLlib computeGramianMatrix shape. The
    // 64×64 result and the 3 power-iteration rounds live on the driver
    // (bounded: 4,096 longs in, 64 doubles out; exact-long cells are
    // overflow-safe to ~10⁶ rows at these magnitudes — beyond that the
    // cell sum moves to double, same shape). Round arithmetic follows
    // the library's decimal discipline (per-term double product →
    // HALF_UP scale-12 decimal → exact sum) so DuckDB replays the whole
    // trajectory; the per-vector projection is floor-quantized in
    // 1e6-component units.
    "q_embed_pca_power" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(
          """transform(cast(embedding as array<double>),
            |  x -> CAST(floor(x * 1e6) AS LONG))""".stripMargin).as("xq"))
      // one-pass native Gramian (graft.functions.GramMatrixAgg): each
      // row folds its outer product into a 4,096-long buffer, buffers
      // merge map-side — same exact integer cells as the explode/
      // groupBy spelling this replaced, at ~5× less wall (no 4,096-
      // structs-per-row fan-out)
      val gramRow = e.agg(graft.functions.VectorFunctions
          .gram_matrix_agg(col("xq")).as("g"))
        .collect()(0).getSeq[Long](0)
      val gram = (for (j <- 0 until 64; k <- 0 until 64)
        yield (j, k) -> gramRow(j * 64 + k)).toMap
      def dec(x: Double): java.math.BigDecimal =
        java.math.BigDecimal.valueOf(x)
          .setScale(12, java.math.RoundingMode.HALF_UP)
      var v = Array.fill(64)(0.125) // exact binary start, unit norm
      for (_ <- 1 to 3) {
        // cells leave the 1e12 (µ-unit²) scale here: raw G·v terms are
        // ~1e17 and their squares overflow DECIMAL(30,12) in the norm —
        // the ÷1e12 double is deterministic IEEE on both engines (cells
        // stay under 2^53 so the long→double conversion is exact)
        val w = Array.tabulate(64) { j =>
          var acc = java.math.BigDecimal.ZERO
          var k = 0
          while (k < 64) {
            acc = acc.add(dec(gram((j, k)).toDouble / 1e12 * v(k))); k += 1
          }
          acc.doubleValue()
        }
        val nrm = math.sqrt(
          w.map(x => dec(x * x)).reduce(_.add(_)).doubleValue())
        v = w.map(_ / nrm)
      }
      val vLit = typedLit(v.toSeq)
      e.select(col("vec_id"),
          floor(decimal_dot(expr("transform(xq, x -> CAST(x AS DOUBLE))"),
            vLit).cast("double")).cast("long").as("pc1_q"))
        .orderBy(col("vec_id"))
    }),

    // Embedding outlier gate: squared distance to the corpus centroid,
    // flagged beyond mean + 2σ of the distance distribution — the
    // cheap curation pass that catches corrupt/degenerate vectors
    // (failed encodes, zero rows, wrong-modality strays) before they
    // poison ANN buckets and k-means cells. Two bounded driver
    // round-trips (64 per-dim integer sums, then 3 distance scalars);
    // both corpus passes are shuffle-free map stages against literal
    // stats — at 100 TB this is two scans and two 64-cell/3-cell
    // aggregates, nothing else. Distances leave the µ-unit² scale
    // (÷1e12, deterministic IEEE) so their squares fit the scale-12
    // decimal sums; the threshold compare runs on bit-identical
    // doubles on both engines.
    "q_embed_outliers" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(
          """transform(cast(embedding as array<double>),
            |  x -> CAST(floor(x * 1e6) AS LONG))""".stripMargin).as("xq"))
      val st = e.select(posexplode(col("xq")).as(Seq("j", "x")))
        .groupBy(col("j"))
        .agg(sum(col("x")).as("s1"), count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val mLit = array(Array.tabulate(64) { j =>
        lit(st(j)._1.toDouble / st(j)._2.toDouble)
      }: _*)
      val tArr = transform(sequence(lit(0), lit(63)), j => {
        val i = (j + 1).cast("int")
        element_at(col("xq"), i).cast("double") - element_at(mLit, i)
      })
      // materialized once: the stats aggregate and the published gate
      // both read this tiny (vec_id, dist_s) table
      val dist = e.select(col("vec_id"),
          (decimal_dot(tArr, tArr).cast("double") / lit(1e12)).as("dist_s"))
        .localCheckpoint()
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val r0 = dist.agg(
        sum(col("dist_s").cast(dec12)).cast("double").as("s1"),
        sum((col("dist_s") * col("dist_s")).cast(dec12)).cast("double")
          .as("s2"),
        count(lit(1)).as("n")).collect()(0)
      val n = r0.getLong(2)
      val mu = r0.getDouble(0) / n
      val thr = mu + 2.0 * math.sqrt(
        math.max(r0.getDouble(1) / n - mu * mu, 0.0))
      dist.select(col("vec_id"),
          floor(col("dist_s") * lit(1e6)).cast("long").as("dist_q"),
          (col("dist_s") > lit(thr)).as("is_outlier"))
        .orderBy(col("vec_id"))
    }),

    // Johnson-Lindenstrauss random projection 64 → 16 dims with a
    // deterministic ±1 sign matrix (same public Knuth-hash family as the
    // SRP-LSH planes, so both engines derive the identical matrix). THE
    // dimensionality-reduction step before clustering / coarse ANN at
    // 100 TB: 4× smaller vectors with pairwise distances preserved in
    // expectation (E[p_k²] = ‖v‖² per component). Pure per-row math — a
    // map stage, no shuffle; each component folds in ARRAY ORDER into a
    // decimal accumulator and is emitted 1e-6-quantized (the
    // q_sim_centroids discipline: the double→decimal cast of a single
    // term can differ between engines by one decimal ulp at scale 12,
    // so raw decimal sums aren't hash-safe — the quantized component
    // is).
    "q_embed_project" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // the sign matrix rows are CONSTANT vectors, so each component is
      // one compiled decimal_dot against a literal array (term-wise
      // HALF_UP decimal cast + exact sum — identical semantics to a SQL
      // fold, ~10× faster than the interpreted per-element lambda)
      val comps = (0 until 16).map { k =>
        val signs = (0 until 64).map { j =>
          if ((((k * 64 + j) * 2654435761L) >> 16 & 1L) == 0L) 1.0 else -1.0
        }
        floor(decimal_dot(col("v"), typedLit(signs)).cast("double") *
          lit(1e6)).cast("long").as(s"p$k")
      }
      e.select(col("vec_id") +: comps: _*)
        .orderBy(col("vec_id"))
    }),

    // k-NN JOIN (every vector × its top-3 neighbors), LSH-bucketed: one
    // SRP bucket per vector (width from [[lshBits]] — expected ~16
    // vectors/bucket at every SF, so each vector always has candidates
    // and the per-bucket quadratic stays bounded), candidates from the
    // bucket equi-join (vectors meet only bucket-mates — no cross
    // product), decimal-exact re-rank. THE batch primitive behind
    // embedding-cluster curation and semantic dedup at scale: the
    // bucket id is the shuffle/partition key, per-bucket work is
    // quadratic only in bucket size, and norms are computed once per
    // vector, not per pair. Deterministic hyperplanes → full DuckDB
    // oracle, including the COUNT(*)-derived width.
    //
    // The emitted score is floor-quantized at 1e6: this query evaluates
    // the most decimal casts in the library (~25M element-products at
    // sf0.1), and the round-5 cross-scale sweep caught exactly ONE of
    // them landing on the scale-12 double→decimal rounding boundary,
    // where Spark (shortest-repr HALF_UP) and DuckDB (nearbyint of
    // value·10¹²) legally disagree by one decimal ulp — a raw-cos hash
    // compare is therefore not scale-stable. Quantizing shrinks the
    // knife-edge by 10⁶ and puts the column under paritycheck's ±1
    // tolerance reporting. Ranking still uses the full-precision cos.
    "q_sim_knn_join" -> ((s, d) => {
      import graft.functions.VectorFunctions.{decimal_dot, srp_band_keys}
      val e0 = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val bits = lshBits(e0.count(), 16)
      val e = e0
        .withColumn("bucket", element_at(srp_band_keys(col("v"), 1, bits), 1))
        .withColumn("nsq", decimal_dot(col("v"), col("v")).cast("double"))
        // both self-join sides read the bucketed table; materialized
        // once so the SRP signature + decimal norm pass runs once, not
        // twice (r15, the Dedup.jaccardPairsFrom argument)
        .localCheckpoint()
      val cand = e.as("a").join(e.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
          (decimal_dot(col("a.v"), col("b.v")).cast("double") /
            sqrt(col("a.nsq") * col("b.nsq"))).as("cos"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("nbr_id"))
      cand.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("vec_id"), col("nbr_id"),
          floor(col("cos") * lit(1e6)).cast("long").as("cos_q"), col("rn"))
        .orderBy(col("vec_id"), col("rn"))
    })
  )

  /** Per-label embedding centroids — the vector-aggregate primitive that
    * IVF/k-means coarse quantization is built from. Spark-first shape:
    * ONE groupBy carrying 64 codegen'd decimal sums (the same no-explode
    * trick as the MinHash signature — element_at projections fold into
    * map-side partial aggregation, so the shuffle moves only per-partition
    * partials, never the exploded (row × dim) table, and never the raw
    * vectors). Sums stay decimal-exact (merge-order-independent), and the
    * emitted centroid is a 1e-6-quantized joined string: result columns
    * must never be array-typed (driver comparator), and sums rather than
    * means are emitted because decimal division rounding differs between
    * engines while the sums are bit-reproducible. */
  private def centroidDefs: Map[String, Q] = Map(
    "q_sim_centroids" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
      val sums = (0 until 64).map(i =>
        sum(element_at(col("v"), i + 1).cast("decimal(30,12)")).as(s"s$i"))
      val quant = (0 until 64).map(i =>
        floor(col(s"s$i").cast("double") * 1e6).cast("long").cast("string"))
      e.groupBy(col("label"))
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
        .select(col("label"), col("n"),
          concat_ws("|", quant: _*).as("centroid_sum_q"))
        .orderBy(col("label"))
    })
  )

  /** DuckDB replay of [[ivfAssigned]] — k = max(2, ⌊√COUNT(*)⌋) seed
    * vectors, stride-spread (every ⌊n/k⌋-th id — the SQL spelling of
    * [[ivfCells]] + the stride seeding; exact integer sqrt via MAX(b)
    * WHERE b*b <= n), two Lloyd rounds with decimal-exact coordinate
    * sums, final cosine assignment (ties → lowest centroid id) —
    * ending in `w(vec_id, v, nsq, cell)`.
    * Shared CTE prefix of the q_sim_ann_ivf, q_dedup_semantic, and
    * q_sim_ann_incremental oracles so the clustering replay exists
    * exactly once — parameterized over the TRAINING subset: seeds,
    * Lloyd-round assignments (a0/a1) and centroid sums (s1/s2) range
    * over `trainPred` rows only, while the final `cells`/`w` assignment
    * (a2) covers the whole corpus. trainPred = TRUE degenerates to the
    * r4–r9 full-corpus replay; the incremental oracle trains on the
    * pre-cut ids, which makes its one-shot recompute exactly the stored
    * index + folded delta. */
  private def ivfCtesGen(extra: String, trainPred: String): String =
    s"""${extra}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |et AS (SELECT * FROM e WHERE $trainPred),
      |kp AS (SELECT k, GREATEST(1, (SELECT COUNT(*) FROM et) // k)
      |         AS stride
      |       FROM (SELECT GREATEST(2, (SELECT MAX(b)
      |         FROM generate_series(1, 46341) AS g(b)
      |         WHERE b * b <= (SELECT COUNT(*) FROM et))) AS k)),
      |nv AS (SELECT vec_id, v,
      |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
      |         FROM UNNEST(v) AS t(x)) AS nsq
      |       FROM e),
      |nt AS (SELECT * FROM nv WHERE $trainPred),
      |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM et CROSS JOIN kp
      |       WHERE vec_id % kp.stride = 0
      |         AND vec_id < kp.stride * kp.k),
      |a0 AS (SELECT q.vec_id, c.cent_id,
      |        (SELECT CAST(SUM(CAST(q.v[i] * c.cv[i] AS DECIMAL(30,12)))
      |                AS DOUBLE)
      |         FROM generate_series(1, 64) AS t(i))
      |          / SQRT(q.nsq *
      |            (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12)))
      |                    AS DOUBLE) FROM UNNEST(c.cv) AS u(x))) AS sim
      |       FROM nt q CROSS JOIN c0 c),
      |g0 AS (SELECT vec_id, cent_id FROM (
      |         SELECT vec_id, cent_id, ROW_NUMBER() OVER (
      |           PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
      |         FROM a0) WHERE rn = 1),
      |s1 AS (SELECT g.cent_id, t.i AS i,
      |        CAST(SUM(CAST(e2.v[t.i] AS DECIMAL(30,12))) AS DOUBLE) AS sv
      |       FROM g0 g JOIN e e2 USING (vec_id)
      |       CROSS JOIN generate_series(1, 64) AS t(i)
      |       GROUP BY g.cent_id, t.i),
      |c1 AS (SELECT cent_id, LIST(sv ORDER BY i) AS cv FROM s1
      |       GROUP BY cent_id),
      |a1 AS (SELECT q.vec_id, c.cent_id,
      |        (SELECT CAST(SUM(CAST(q.v[i] * c.cv[i] AS DECIMAL(30,12)))
      |                AS DOUBLE)
      |         FROM generate_series(1, 64) AS t(i))
      |          / SQRT(q.nsq *
      |            (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12)))
      |                    AS DOUBLE) FROM UNNEST(c.cv) AS u(x))) AS sim
      |       FROM nt q CROSS JOIN c1 c),
      |g1 AS (SELECT vec_id, cent_id FROM (
      |         SELECT vec_id, cent_id, ROW_NUMBER() OVER (
      |           PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
      |         FROM a1) WHERE rn = 1),
      |s2 AS (SELECT g.cent_id, t.i AS i,
      |        CAST(SUM(CAST(e2.v[t.i] AS DECIMAL(30,12))) AS DOUBLE) AS sv
      |       FROM g1 g JOIN e e2 USING (vec_id)
      |       CROSS JOIN generate_series(1, 64) AS t(i)
      |       GROUP BY g.cent_id, t.i),
      |c2 AS (SELECT cent_id, LIST(sv ORDER BY i) AS cv FROM s2
      |       GROUP BY cent_id),
      |a2 AS (SELECT q.vec_id, c.cent_id,
      |        (SELECT CAST(SUM(CAST(q.v[i] * c.cv[i] AS DECIMAL(30,12)))
      |                AS DOUBLE)
      |         FROM generate_series(1, 64) AS t(i))
      |          / SQRT(q.nsq *
      |            (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12)))
      |                    AS DOUBLE) FROM UNNEST(c.cv) AS u(x))) AS sim
      |       FROM nv q CROSS JOIN c2 c),
      |cells AS (SELECT vec_id, cent_id AS cell FROM (
      |         SELECT vec_id, cent_id, ROW_NUMBER() OVER (
      |           PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
      |         FROM a2) WHERE rn = 1),
      |w AS (SELECT nv.vec_id, nv.v, nv.nsq, cells.cell
      |      FROM nv JOIN cells USING (vec_id))""".stripMargin

  private val IvfCellsCtes: String = ivfCtesGen("", "TRUE")

  /** [[ivfCtesGen]] with every CTE name prefixed, so two INDEPENDENTLY
    * parameterized k-means replays can coexist in one oracle query
    * (q_sim_ann_retrain: the stale old-trained index and the retrained
    * full-trained one). A pure textual rename over the generator's
    * fixed CTE vocabulary — names are matched on word boundaries
    * (longest first), which cannot collide with the block's SQL
    * keywords (uppercase) or its longer column names.
    *
    * CONSTRAINT (ADVICE r13): the rename also runs over the spliced
    * `extra`/`trainPred` text, so those must not use any vocabulary
    * token (`e`, `w`, `cells`, …) as an identifier — asserted loudly
    * here rather than emitting silently mangled SQL. */
  private val IvfCteVocab =
    "cells|e2|et|kp|nv|nt|c0|a0|g0|s1|c1|a1|g1|s2|c2|a2|e|w"

  private[graft] def ivfCtesPrefixed(p: String, extra: String,
      trainPred: String): String = {
    Seq("extra" -> extra, "trainPred" -> trainPred).foreach {
      case (arg, text) => require(
        !s"\\b($IvfCteVocab)\\b".r.findFirstIn(text).isDefined,
        s"ivfCtesPrefixed: $arg uses a CTE-vocabulary identifier " +
          s"and would be silently renamed: $text")
    }
    ivfCtesGen(extra, trainPred).replaceAll(
      s"\\b($IvfCteVocab)\\b", p + "$1")
  }

  /** DuckDB CTE pair `params(bits)` + `proj(vec_id, p, pr)` replaying
    * (a) [[lshBits]]'s integer-exact width derivation from COUNT(*) and
    * (b) the avalanched SrpBandKeys.weight hyperplane hash — the SQL
    * spelling of VectorExpressions.scala's two xor-shift/multiply
    * rounds, identical to the q_dedup_embedding_lsh oracle's
    * (Dedup.scala). Expects a prior CTE `e(vec_id, v)`. Kept in ONE
    * place so a kernel change can never again update some replicas and
    * miss others (the r7 regression: 4 oracle CTEs replayed a stale
    * hash). */
  private def srpCtes(target: Int): String =
    s"""params AS (
       |  SELECT GREATEST(1, COALESCE((SELECT MAX(b)
       |    FROM generate_series(0, 30) AS g(b)
       |    WHERE (1 << b) <= (SELECT COUNT(*) // $target FROM e)), 0))
       |    AS bits),
       |proj AS (
       |  SELECT vec_id, p,
       |    (SELECT SUM(v[j + 1] *
       |        CASE WHEN (xor(h3, h3 >> 12) & 1) = 0
       |             THEN 1.0 ELSE -1.0 END)
       |     FROM (SELECT j,
       |             (xor(h1, h1 >> 15) * 1540483477) % 2147483648 AS h3
       |           FROM (SELECT j,
       |                   ((p * 64 + j) * 2654435761) % 2147483648 AS h1
       |                 FROM generate_series(0, 63) AS t(j)))) AS pr
       |  FROM e CROSS JOIN generate_series(0, 30) AS pp(p)
       |  CROSS JOIN params WHERE p < params.bits)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Replays the quantization arithmetic step-for-step: same doubles in,
    // same correctly-rounded IEEE ops, decimal (exact, order-free) sum
    // for the reconstruction error.
    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        (SELECT MAX(ABS(x)) FROM UNNEST(v) AS t(x)) AS mx
        |      FROM e),
        |s AS (SELECT vec_id, v, mx, mx / 127.0 AS scale FROM m),
        |q AS (SELECT vec_id, v, scale,
        |        CASE WHEN mx = 0 THEN [CAST(0 AS BIGINT) FOR x IN v]
        |             ELSE [CAST(FLOOR(x / scale + 0.5) AS BIGINT)
        |                   FOR x IN v] END AS qv
        |      FROM s)
        |SELECT vec_id,
        |  CAST(FLOOR(scale * 1e9) AS BIGINT) AS scale_q,
        |  (SELECT CAST(SUM(qi) AS BIGINT) FROM UNNEST(qv) AS t(qi))
        |    AS q_sum,
        |  (SELECT CAST(SUM(qi * qi) AS BIGINT) FROM UNNEST(qv) AS t(qi))
        |    AS q_sqsum,
        |  CAST(FLOOR(CAST((SELECT SUM(CAST(ABS(v[i] - qv[i] * scale)
        |                   AS DECIMAL(30,12)))
        |         FROM generate_series(1, 64) AS t(i)) AS DOUBLE) * 1e9)
        |       AS BIGINT) AS err_q
        |FROM q ORDER BY vec_id""".stripMargin,

    // Greedy MMR unrolled: pk1..pk10 each argmax 7·rel − 3·maxsim over
    // the not-yet-selected candidates, every cosine the decimal-exact
    // 1e6-floor kind (the q_sim_cosine_topk spelling).
    "q_sim_mmr" -> {
      def sim(p: String): String =
        s"""CAST(FLOOR(((SELECT CAST(SUM(CAST(c.v[i] * $p.v[i]
           |      AS DECIMAL(30,12))) AS DOUBLE)
           |    FROM generate_series(1, 64) AS t(i))
           |   / SQRT(c.nsq * $p.nsq)) * 1e6) AS BIGINT)""".stripMargin
      val rounds = (1 to 10).map {
        case 1 =>
          """pk1 AS MATERIALIZED (SELECT c.vec_id, c.v, c.nsq, c.rel_q,
            |  CAST(0 AS BIGINT) AS msim_q,
            |  7 * c.rel_q - 3 * CAST(0 AS BIGINT) AS score_q
            |  FROM c ORDER BY score_q DESC, c.vec_id LIMIT 1)""".stripMargin
        case t =>
          val prior = 1 until t
          val joins = prior.map(j => s"CROSS JOIN pk$j p$j").mkString(" ")
          val sims = prior.map(j => sim(s"p$j")).mkString(",\n")
          val gr = if (prior.size == 1) sims else s"GREATEST(\n$sims)"
          val notIn = prior.map(j => s"SELECT vec_id FROM pk$j")
            .mkString(" UNION ALL ")
          s"""pk$t AS MATERIALIZED (SELECT c.vec_id, c.v, c.nsq, c.rel_q,
             |  $gr AS msim_q,
             |  7 * c.rel_q - 3 * $gr AS score_q
             |  FROM c $joins
             |  WHERE c.vec_id NOT IN ($notIn)
             |  ORDER BY score_q DESC, c.vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val out = (1 to 10).map(t =>
        s"SELECT CAST($t AS BIGINT) AS sel_rank, vec_id, rel_q, " +
          s"msim_q, score_q FROM pk$t").mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v,
         |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
         |         FROM UNNEST(v) AS t(x)) AS nsq
         |      FROM e),
         |q AS (SELECT vec_id, v, nsq FROM n ORDER BY vec_id LIMIT 1),
         |c AS MATERIALIZED (SELECT n.vec_id, n.v, n.nsq,
         |        CAST(FLOOR(((SELECT CAST(SUM(CAST(n.v[i] * q.v[i]
         |            AS DECIMAL(30,12))) AS DOUBLE)
         |          FROM generate_series(1, 64) AS t(i))
         |         / SQRT(n.nsq * q.nsq)) * 1e6) AS BIGINT) AS rel_q
         |      FROM n CROSS JOIN q WHERE n.vec_id > q.vec_id),
         |$rounds
         |$out
         |ORDER BY sel_rank""".stripMargin
    },

    // Micro-quantized inputs ⇒ integer corpus sums; μ/σ/terms replay the
    // exact double shape (div, div, mul-sub, IEEE sqrt — no libm).
    "q_embed_whiten" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS xq
        |  FROM embeddings),
        |ex AS (SELECT vec_id, j, xq[j + 1] AS xi
        |       FROM e CROSS JOIN generate_series(0, 63) AS t(j)),
        |st AS (SELECT j, CAST(SUM(xi) AS BIGINT) AS s1,
        |         CAST(SUM(xi * xi) AS BIGINT) AS s2,
        |         COUNT(*) AS n
        |       FROM ex GROUP BY j),
        |ms AS (SELECT j,
        |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS v
        |       FROM st),
        |sd AS (SELECT j, m,
        |         CASE WHEN v > 0 THEN SQRT(v) ELSE 0 END AS sd
        |       FROM ms),
        |tm AS (SELECT ex.vec_id,
        |         CASE WHEN sd.sd > 0
        |           THEN CAST(FLOOR(((CAST(ex.xi AS DOUBLE) - sd.m) / sd.sd)
        |                           * 1e6) AS BIGINT)
        |           ELSE 0 END AS t
        |       FROM ex JOIN sd USING (j))
        |SELECT vec_id, CAST(SUM(t) AS BIGINT) AS white_sum,
        |  CAST(SUM(t * t) AS BIGINT) AS white_sqsum
        |FROM tm GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Replays both passes: integer per-dim sums → double means, decimal
    // per-term distance sums (÷1e12 to double), decimal distance stats,
    // then the identical mean + 2σ threshold compare on bit-identical
    // doubles.
    "q_embed_outliers" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS xq
        |  FROM embeddings),
        |ex AS (SELECT vec_id, j, xq[j + 1] AS xi
        |       FROM e CROSS JOIN generate_series(0, 63) AS t(j)),
        |st AS (SELECT j, CAST(SUM(xi) AS BIGINT) AS s1, COUNT(*) AS n
        |       FROM ex GROUP BY j),
        |m AS (SELECT j, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m
        |      FROM st),
        |ds AS MATERIALIZED (SELECT ex.vec_id,
        |    CAST(SUM(CAST(
        |      (CAST(ex.xi AS DOUBLE) - m.m) * (CAST(ex.xi AS DOUBLE) - m.m)
        |      AS DECIMAL(30,12))) AS DOUBLE) / 1e12 AS dist_s
        |  FROM ex JOIN m USING (j) GROUP BY ex.vec_id),
        |sts AS (SELECT
        |    CAST(SUM(CAST(dist_s AS DECIMAL(30,12))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(dist_s * dist_s AS DECIMAL(30,12))) AS DOUBLE)
        |      AS s2,
        |    COUNT(*) AS n FROM ds),
        |thr AS (SELECT s1 / n + 2.0 * SQRT(GREATEST(
        |          s2 / n - (s1 / n) * (s1 / n), 0)) AS t FROM sts)
        |SELECT vec_id, CAST(FLOOR(dist_s * 1e6) AS BIGINT) AS dist_q,
        |  dist_s > (SELECT t FROM thr) AS is_outlier
        |FROM ds ORDER BY vec_id""".stripMargin,

    // Replays the whole trajectory: integer Gram cells (exact, order-
    // free), then each power round as one CTE — per-term double product
    // cast to scale-12 decimal and summed (the DecimalDotProduct
    // discipline), norm in double, division in double — so every v
    // component is bit-identical to the driver's BigDecimal loop.
    "q_embed_pca_power" -> {
      val rounds = (1 to 3).map { r =>
        s"""w$r AS (SELECT gm.j,
           |    SUM(CAST(CAST(gm.gv AS DOUBLE) / 1e12 * v${r - 1}.v
           |        AS DECIMAL(30,12))) AS w
           |  FROM gm JOIN v${r - 1} ON v${r - 1}.j = gm.k GROUP BY gm.j),
           |n$r AS (SELECT SQRT(CAST(SUM(CAST(
           |    CAST(w AS DOUBLE) * CAST(w AS DOUBLE)
           |    AS DECIMAL(30,12))) AS DOUBLE)) AS nrm FROM w$r),
           |v$r AS (SELECT j, CAST(w AS DOUBLE) / (SELECT nrm FROM n$r) AS v
           |  FROM w$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS xq
         |  FROM embeddings),
         |ex AS MATERIALIZED (SELECT vec_id, j, xq[j + 1] AS xi
         |      FROM e CROSS JOIN generate_series(0, 63) AS t(j)),
         |gm AS MATERIALIZED (
         |  SELECT a.j AS j, b.j AS k,
         |    CAST(SUM(a.xi * b.xi) AS BIGINT) AS gv
         |  FROM ex a JOIN ex b USING (vec_id) GROUP BY a.j, b.j),
         |v0 AS (SELECT j, 0.125::DOUBLE AS v
         |       FROM generate_series(0, 63) AS t(j)),
         |$rounds
         |SELECT ex.vec_id,
         |  CAST(FLOOR(CAST(SUM(CAST(CAST(ex.xi AS DOUBLE) * v3.v
         |    AS DECIMAL(30,12))) AS DOUBLE)) AS BIGINT) AS pc1_q
         |FROM ex JOIN v3 USING (j)
         |GROUP BY ex.vec_id ORDER BY ex.vec_id""".stripMargin
    },

    // Identical ±1 matrix from the shared integer hash; decimal sums are
    // associative (order-free) and the 1e-6 quantization absorbs the
    // engines' one-ulp disagreement on double→decimal term rounding.
    "q_embed_project" -> {
      val comps = (0 until 16).map { k =>
        s"""  CAST(FLOOR(CAST((SELECT SUM(CAST(v[j + 1] *
           |    (CASE WHEN ((($k * 64 + j) * 2654435761 >> 16) & 1) = 0
           |          THEN 1.0 ELSE -1.0 END) AS DECIMAL(30,12)))
           |   FROM generate_series(0, 63) AS t(j)) AS DOUBLE) * 1e6)
           |   AS BIGINT) AS p$k""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings)
         |SELECT vec_id,
         |$comps
         |FROM e ORDER BY vec_id""".stripMargin
    },

    // The knn-join oracle: identical corpus-size-derived SRP bucketing
    // from the shared avalanched hash (srpCtes), then the decimal-exact
    // rescore and per-vector top-3.
    "q_sim_knn_join" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |${srpCtes(16)},
         |""".stripMargin +
      """bk AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN pr > 0 THEN 1 << (params.bits - 1 - p)
        |        ELSE 0 END) AS bucket
        |  FROM proj CROSS JOIN params GROUP BY vec_id),
        |n AS (SELECT e.vec_id, e.v, bk.bucket,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e JOIN bk USING (vec_id)),
        |s AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
        |        (SELECT CAST(SUM(CAST(a.v[i] * b.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS t(i))
        |          / SQRT(a.nsq * b.nsq) AS cos
        |      FROM n a JOIN n b
        |        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |r AS (SELECT vec_id, nbr_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY vec_id
        |                           ORDER BY cos DESC, nbr_id) AS rn
        |      FROM s)
        |SELECT vec_id, nbr_id,
        |  CAST(FLOOR(cos * 1e6) AS BIGINT) AS cos_q, rn FROM r
        |WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin),

    // Replays the corpus-size-derived SRP bucketing from the same
    // avalanched integer hash as the q_dedup_embedding_lsh oracle
    // (srpCtes), then the decimal-exact re-rank — the whole approximate
    // query is deterministic, so it oracle-checks like an exact one.
    "q_sim_ann_lsh" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |${srpCtes(8)},
         |""".stripMargin +
      """bk AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN pr > 0 THEN 1 << (params.bits - 1 - p)
        |        ELSE 0 END) AS bucket
        |  FROM proj CROSS JOIN params GROUP BY vec_id),
        |n AS (SELECT e.vec_id, e.v, bk.bucket,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e JOIN bk USING (vec_id)),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT CAST(SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS t(i))
        |          / SQRT(q.nsq * c.nsq) AS cos
        |      FROM n q JOIN n c
        |        ON q.bucket = c.bucket AND q.vec_id < 3 AND c.vec_id >= 3),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM s)
        |SELECT query_id, neighbor_id, cos, rn FROM r
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),

    // The multiprobe twin: identical corpus-size-derived bucketing, then
    // each query's probe set = home bucket + the `bits` single-bit xor
    // flips, the same derivation the Spark side runs.
    "q_sim_ann_multiprobe" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |${srpCtes(8)},
         |""".stripMargin +
      """bk AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN pr > 0 THEN 1 << (params.bits - 1 - p)
        |        ELSE 0 END) AS bucket
        |  FROM proj CROSS JOIN params GROUP BY vec_id),
        |pr2 AS (
        |  SELECT vec_id, CASE WHEN g.g = params.bits THEN bucket
        |                      ELSE xor(bucket, 1 << g.g) END AS bucket
        |  FROM bk CROSS JOIN generate_series(0, 30) AS g(g)
        |  CROSS JOIN params
        |  WHERE vec_id < 3 AND g.g <= params.bits),
        |n AS (SELECT e.vec_id, e.v, bk.bucket,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e JOIN bk USING (vec_id)),
        |s AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT CAST(SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS t(i))
        |          / SQRT(q.nsq * c.nsq) AS cos
        |      FROM pr2 p
        |      JOIN n q ON q.vec_id = p.vec_id
        |      JOIN n c ON c.bucket = p.bucket AND c.vec_id >= 3),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM s)
        |SELECT query_id, neighbor_id, cos, rn FROM r
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),

    // Replays the full deterministic k-means trajectory: k = ⌊√n⌋
    // stride-spread seed centroids, two assign/update rounds with
    // decimal-exact
    // similarities and UN-normalized decimal-sum centroids (cosine is
    // scale-invariant — see the query's comment), then the cell-probe
    // top-k. Assignment ties break by cent_id in both engines.
    "q_sim_ann_ivf" -> (s"WITH $IvfCellsCtes,\n" +
      """sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT CAST(SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS t(i))
        |          / SQRT(q.nsq * c.nsq) AS cos
        |       FROM w q JOIN w c
        |         ON q.cell = c.cell AND q.vec_id < 3 AND c.vec_id >= 3),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM sc)
        |SELECT query_id, neighbor_id, cos, rn FROM r
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),

    // The one-shot recompute: k-means trained on the PRE-CUT corpus only
    // (et/nt under the cut predicate), every vector — old and delta —
    // assigned to those centroids in a single pass, then the identical
    // home-cell top-5. Hash-matching the Spark side's stored ∪ folded
    // delta proves the incremental fold (see annIncrementalParts).
    "q_sim_ann_incremental" -> (s"WITH ${ivfCtesGen(
      "cutv AS (SELECT (MAX(vec_id) * 4) // 5 AS cut FROM embeddings),\n",
      "vec_id < (SELECT cut FROM cutv)")},\n" +
      """sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT CAST(SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS t(i))
        |          / SQRT(q.nsq * c.nsq) AS cos,
        |        c.vec_id >= (SELECT cut FROM cutv) AS is_new
        |       FROM w q JOIN w c
        |         ON q.cell = c.cell AND q.vec_id < 3 AND c.vec_id >= 3),
        |r AS (SELECT query_id, neighbor_id, cos, is_new,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM sc)
        |SELECT query_id, neighbor_id, cos, rn, is_new FROM r
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),

    // Same old-trained clustering replay; then per-cell stored/delta
    // occupancy, the Laplace-smoothed PSI terms, 1e9-floor-quantized;
    // the total and the retrain verdict are a window-SUM over the
    // ALREADY-quantized terms, so the decision replays exactly.
    "q_sim_ann_drift" -> (s"WITH ${ivfCtesGen(
      "cutv AS (SELECT (MAX(vec_id) * 4) // 5 AS cut FROM embeddings),\n",
      "vec_id < (SELECT cut FROM cutv)")},\n" +
      s"""cs AS (SELECT cell, COUNT(*) AS c_s FROM w CROSS JOIN cutv
        |       WHERE vec_id < cutv.cut GROUP BY cell),
        |cd AS (SELECT cell, COUNT(*) AS c_d FROM w CROSS JOIN cutv
        |       WHERE vec_id >= cutv.cut GROUP BY cell),
        |occ AS (SELECT cell, COALESCE(c_s, 0) AS c_s,
        |          COALESCE(c_d, 0) AS c_d
        |        FROM cs FULL JOIN cd USING (cell)),
        |tot AS (SELECT CAST(SUM(c_s) AS BIGINT) AS n_s,
        |          CAST(SUM(c_d) AS BIGINT) AS n_d,
        |          COUNT(*) AS k
        |        FROM occ),
        |terms AS (SELECT cell, CAST(c_s AS BIGINT) AS n_stored,
        |  CAST(c_d AS BIGINT) AS n_delta,
        |  CAST(FLOOR((CAST(c_d + 1 AS DOUBLE) / CAST(n_d + k AS DOUBLE)
        |        - CAST(c_s + 1 AS DOUBLE) / CAST(n_s + k AS DOUBLE))
        |      * LN((CAST(c_d + 1 AS DOUBLE) / CAST(n_d + k AS DOUBLE))
        |          / (CAST(c_s + 1 AS DOUBLE) / CAST(n_s + k AS DOUBLE)))
        |      * 1e9) AS BIGINT) AS psi_term_nn
        |FROM occ CROSS JOIN tot)
        |SELECT cell, n_stored, n_delta, psi_term_nn,
        |  CAST(SUM(psi_term_nn) OVER () AS BIGINT) AS psi_total_nn,
        |  CAST(SUM(psi_term_nn) OVER () AS BIGINT) >= $RetrainPsiNn
        |    AS retrain
        |FROM terms
        |ORDER BY cell""".stripMargin),

    // Decision AND action in one replay: the stale old-trained
    // clustering (prefix o) for the monitor's quantized PSI scalar and
    // the old cells, the retrained full-trained clustering (prefix r)
    // for the new cells — two parameterized k-means replays under
    // disjoint CTE prefixes (ivfCtesPrefixed).
    "q_sim_ann_retrain" -> (s"WITH ${ivfCtesPrefixed("o",
      "cutv AS (SELECT (MAX(vec_id) * 4) // 5 AS cut FROM embeddings),\n",
      "vec_id < (SELECT cut FROM cutv)")},\n" +
      s"${ivfCtesPrefixed("r", "", "TRUE")},\n" +
      s"""cs AS (SELECT cell, COUNT(*) AS c_s FROM ow CROSS JOIN cutv
        |       WHERE vec_id < cutv.cut GROUP BY cell),
        |cd AS (SELECT cell, COUNT(*) AS c_d FROM ow CROSS JOIN cutv
        |       WHERE vec_id >= cutv.cut GROUP BY cell),
        |occ AS (SELECT COALESCE(c_s, 0) AS c_s, COALESCE(c_d, 0) AS c_d
        |        FROM cs FULL JOIN cd USING (cell)),
        |tot AS (SELECT CAST(SUM(c_s) AS BIGINT) AS n_s,
        |          CAST(SUM(c_d) AS BIGINT) AS n_d,
        |          COUNT(*) AS k
        |        FROM occ),
        |psi AS (SELECT CAST(SUM(
        |    CAST(FLOOR((CAST(c_d + 1 AS DOUBLE) / CAST(n_d + k AS DOUBLE)
        |          - CAST(c_s + 1 AS DOUBLE) / CAST(n_s + k AS DOUBLE))
        |        * LN((CAST(c_d + 1 AS DOUBLE) / CAST(n_d + k AS DOUBLE))
        |            / (CAST(c_s + 1 AS DOUBLE) / CAST(n_s + k AS DOUBLE)))
        |        * 1e9) AS BIGINT)) AS BIGINT) AS psi_total_nn
        |    FROM occ CROSS JOIN tot)
        |SELECT o.vec_id, o.cell AS old_cell, n.cell AS new_cell,
        |  o.cell <> n.cell AS moved, psi.psi_total_nn,
        |  psi.psi_total_nn >= $RetrainPsiNn AS retrain
        |FROM ocells o JOIN rcells n USING (vec_id) CROSS JOIN psi
        |ORDER BY vec_id""".stripMargin),

    // Reuses the identical k-means replay, then marks each vector removed
    // iff some LOWER-id cell-mate sits above the cosine threshold.
    "q_dedup_semantic" -> (s"WITH $IvfCellsCtes,\n" +
      """p AS (SELECT a.vec_id AS va, b.vec_id AS vb
        |      FROM w a JOIN w b
        |        ON a.cell = b.cell AND a.vec_id < b.vec_id
        |      WHERE (SELECT CAST(SUM(CAST(a.v[i] * b.v[i]
        |                     AS DECIMAL(30,12))) AS DOUBLE)
        |             FROM generate_series(1, 64) AS t(i))
        |              / SQRT(a.nsq * b.nsq) > 0.4),
        |rm AS (SELECT vb AS vec_id, MIN(va) AS dup_of FROM p GROUP BY vb)
        |SELECT w.vec_id, w.cell,
        |  CAST(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS kept,
        |  rm.dup_of
        |FROM w LEFT JOIN rm ON w.vec_id = rm.vec_id
        |ORDER BY w.vec_id""".stripMargin),

    // Replays the full PQ trajectory: 8×8 sub-vectors, stride-spread
    // seed codebooks, one Lloyd round with decimal-exact squared-L2
    // assignment and double-mean centroids, corpus encoding, then the
    // ADC lookup-table sum. The subspace/centroid loops are
    // generate_series, so the SQL is generic over (s, c).
    "q_sim_ann_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |sub AS (SELECT vec_id, ss.s AS s, v[ss.s*8+1 : ss.s*8+8] AS sv
        |        FROM e CROSS JOIN generate_series(0, 7) AS ss(s)),
        |seed AS (SELECT vec_id // sp.st AS c, s, sv AS cv FROM sub
        |         CROSS JOIN (SELECT GREATEST(1,
        |             (SELECT COUNT(*) FROM e) // 4) AS st) sp
        |         WHERE vec_id % sp.st = 0 AND vec_id < sp.st * 4),
        |d0 AS (SELECT x.vec_id, x.s, sd.c, x.sv,
        |        (SELECT SUM(CAST((x.sv[i] - sd.cv[i]) * (x.sv[i] - sd.cv[i])
        |                AS DECIMAL(30,12)))
        |         FROM generate_series(1, 8) AS t(i)) AS dist
        |       FROM sub x JOIN seed sd ON sd.s = x.s),
        |g0 AS (SELECT vec_id, s, c, sv FROM (
        |         SELECT vec_id, s, c, sv, ROW_NUMBER() OVER (
        |           PARTITION BY vec_id, s ORDER BY dist ASC, c) AS rn
        |         FROM d0) WHERE rn = 1),
        |m1 AS (SELECT s, c, t.i AS i,
        |        CAST(SUM(CAST(sv[t.i] AS DECIMAL(30,12))) AS DOUBLE)
        |          / COUNT(*) AS mv
        |       FROM g0 CROSS JOIN generate_series(1, 8) AS t(i)
        |       GROUP BY s, c, t.i),
        |c1 AS (SELECT s, c, LIST(mv ORDER BY i) AS cv FROM m1
        |       GROUP BY s, c),
        |d1 AS (SELECT x.vec_id, x.s, cc.c,
        |        (SELECT SUM(CAST((x.sv[i] - cc.cv[i]) * (x.sv[i] - cc.cv[i])
        |                AS DECIMAL(30,12)))
        |         FROM generate_series(1, 8) AS t(i)) AS dist
        |       FROM sub x JOIN c1 cc ON cc.s = x.s),
        |codes AS (SELECT vec_id, s, c FROM (
        |            SELECT vec_id, s, c, ROW_NUMBER() OVER (
        |              PARTITION BY vec_id, s ORDER BY dist ASC, c) AS rn
        |            FROM d1) WHERE rn = 1 AND vec_id >= 3),
        |lut AS (SELECT x.vec_id AS query_id, x.s, cc.c,
        |        (SELECT SUM(CAST((x.sv[i] - cc.cv[i]) * (x.sv[i] - cc.cv[i])
        |                AS DECIMAL(30,12)))
        |         FROM generate_series(1, 8) AS t(i)) AS dd
        |        FROM sub x JOIN c1 cc ON cc.s = x.s WHERE x.vec_id < 3),
        |ad AS (SELECT l.query_id, k.vec_id AS neighbor_id,
        |         CAST(SUM(l.dd) AS DOUBLE) AS adist
        |       FROM codes k JOIN lut l ON l.s = k.s AND l.c = k.c
        |       GROUP BY l.query_id, k.vec_id),
        |r AS (SELECT query_id, neighbor_id, adist, ROW_NUMBER() OVER (
        |        PARTITION BY query_id ORDER BY adist ASC, neighbor_id) AS rn
        |      FROM ad)
        |SELECT query_id, neighbor_id, adist, rn FROM r
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,

    // Replays all three index stages: the PQ chain (identical to the
    // q_sim_ann_pq oracle), the corpus-size-derived SRP cell probe
    // (srpCtes — avalanched hash), ADC over the probed candidates, and
    // the decimal-exact rescore of the top-10.
    "q_sim_ann_ivfpq" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |sub AS (SELECT vec_id, ss.s AS s, v[ss.s*8+1 : ss.s*8+8] AS sv
        |        FROM e CROSS JOIN generate_series(0, 7) AS ss(s)),
        |seed AS (SELECT vec_id // sp.st AS c, s, sv AS cv FROM sub
        |         CROSS JOIN (SELECT GREATEST(1,
        |             (SELECT COUNT(*) FROM e) // 4) AS st) sp
        |         WHERE vec_id % sp.st = 0 AND vec_id < sp.st * 4),
        |d0 AS (SELECT x.vec_id, x.s, sd.c, x.sv,
        |        (SELECT SUM(CAST((x.sv[i] - sd.cv[i]) * (x.sv[i] - sd.cv[i])
        |                AS DECIMAL(30,12)))
        |         FROM generate_series(1, 8) AS t(i)) AS dist
        |       FROM sub x JOIN seed sd ON sd.s = x.s),
        |g0 AS (SELECT vec_id, s, c, sv FROM (
        |         SELECT vec_id, s, c, sv, ROW_NUMBER() OVER (
        |           PARTITION BY vec_id, s ORDER BY dist ASC, c) AS rn
        |         FROM d0) WHERE rn = 1),
        |m1 AS (SELECT s, c, t.i AS i,
        |        CAST(SUM(CAST(sv[t.i] AS DECIMAL(30,12))) AS DOUBLE)
        |          / COUNT(*) AS mv
        |       FROM g0 CROSS JOIN generate_series(1, 8) AS t(i)
        |       GROUP BY s, c, t.i),
        |c1 AS (SELECT s, c, LIST(mv ORDER BY i) AS cv FROM m1
        |       GROUP BY s, c),
        |d1 AS (SELECT x.vec_id, x.s, cc.c,
        |        (SELECT SUM(CAST((x.sv[i] - cc.cv[i]) * (x.sv[i] - cc.cv[i])
        |                AS DECIMAL(30,12)))
        |         FROM generate_series(1, 8) AS t(i)) AS dist
        |       FROM sub x JOIN c1 cc ON cc.s = x.s),
        |codes AS (SELECT vec_id, s, c FROM (
        |            SELECT vec_id, s, c, ROW_NUMBER() OVER (
        |              PARTITION BY vec_id, s ORDER BY dist ASC, c) AS rn
        |            FROM d1) WHERE rn = 1 AND vec_id >= 3),
        |lut AS (SELECT x.vec_id AS query_id, x.s, cc.c,
        |        (SELECT SUM(CAST((x.sv[i] - cc.cv[i]) * (x.sv[i] - cc.cv[i])
        |                AS DECIMAL(30,12)))
        |         FROM generate_series(1, 8) AS t(i)) AS dd
        |        FROM sub x JOIN c1 cc ON cc.s = x.s WHERE x.vec_id < 3),
        |""".stripMargin + srpCtes(32) + ",\n" +
      """bk AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN pr > 0 THEN 1 << (params.bits - 1 - p)
        |        ELSE 0 END) AS cell
        |  FROM proj CROSS JOIN params GROUP BY vec_id),
        |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |         FROM bk q JOIN bk c
        |           ON q.cell = c.cell AND q.vec_id < 3 AND c.vec_id >= 3),
        |ad AS (SELECT ca.query_id, ca.neighbor_id,
        |         CAST(SUM(l.dd) AS DOUBLE) AS adist
        |       FROM cand ca
        |       JOIN codes k ON k.vec_id = ca.neighbor_id
        |       JOIN lut l ON l.query_id = ca.query_id
        |         AND l.s = k.s AND l.c = k.c
        |       GROUP BY ca.query_id, ca.neighbor_id),
        |short AS (SELECT query_id, neighbor_id FROM (
        |            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
        |              PARTITION BY query_id ORDER BY adist ASC, neighbor_id)
        |              AS arn
        |            FROM ad) WHERE arn <= 10),
        |res AS (SELECT sh.query_id, sh.neighbor_id,
        |         (SELECT CAST(SUM(CAST((q.v[i] - c.v[i]) * (q.v[i] - c.v[i])
        |                 AS DECIMAL(30,12))) AS DOUBLE)
        |          FROM generate_series(1, 64) AS t(i)) AS dist
        |        FROM short sh
        |        JOIN e q ON q.vec_id = sh.query_id
        |        JOIN e c ON c.vec_id = sh.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, dist, ROW_NUMBER() OVER (
        |        PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rn
        |      FROM res)
        |SELECT query_id, neighbor_id, dist, rn FROM r
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),

    "q_sim_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT label, i,
        |        SUM(CAST(v[i] AS DECIMAL(30,12))) AS s
        |      FROM e CROSS JOIN generate_series(1, 64) AS t(i)
        |      GROUP BY label, i),
        |c AS (SELECT label,
        |        STRING_AGG(CAST(CAST(FLOOR(CAST(s AS DOUBLE) * 1e6)
        |            AS BIGINT) AS VARCHAR), '|' ORDER BY i)
        |          AS centroid_sum_q
        |      FROM x GROUP BY label),
        |n AS (SELECT label, COUNT(*) AS n FROM e GROUP BY label)
        |SELECT c.label, n.n, c.centroid_sum_q
        |FROM c JOIN n USING (label) ORDER BY c.label""".stripMargin,

    "q_sim_maxsim" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e),
        |q AS (SELECT vec_id AS q_id, v AS qv, nsq AS qn
        |      FROM n WHERE label = 0 AND vec_id % 7 = 0),
        |c AS (SELECT label AS c_label, v, nsq AS cn
        |      FROM n WHERE label BETWEEN 1 AND 4),
        |s AS (SELECT q.q_id, c.c_label,
        |        CAST(FLOOR(
        |          ((SELECT CAST(SUM(CAST(q.qv[i] * c.v[i]
        |                    AS DECIMAL(30,12))) AS DOUBLE)
        |            FROM generate_series(1, 64) AS t(i))
        |           / SQRT(q.qn * c.cn)) * 1e6) AS BIGINT) AS cq
        |      FROM q CROSS JOIN c),
        |b AS (SELECT q_id, c_label, MAX(cq) AS best_q
        |      FROM s GROUP BY q_id, c_label)
        |SELECT c_label, CAST(SUM(best_q) AS BIGINT) AS maxsim_q,
        |  COUNT(*) AS n_q
        |FROM b GROUP BY c_label ORDER BY c_label""".stripMargin,

    "q_sim_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT CAST(SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS t(i))
        |          / SQRT(q.nsq * c.nsq) AS cos
        |      FROM n q JOIN n c ON q.vec_id < 3 AND c.vec_id >= 3),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM s)
        |SELECT query_id, neighbor_id, cos, rn FROM r
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,

    // Same decimal-exact inner product for ranking; ip_q / the norm
    // quantizations replay the identical decimal→double→floor path.
    "q_sim_mips" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        CAST(FLOOR((SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12)))
        |                           AS DOUBLE)
        |                    FROM UNNEST(v) AS t(x)) * 1e6) AS BIGINT)
        |          AS n2_q
        |      FROM e WHERE vec_id >= 3),
        |m AS (SELECT MAX(n2_q) AS m2_q FROM n),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(30,12)))
        |         FROM generate_series(1, 64) AS t(i)) AS ip,
        |        c.n2_q
        |      FROM e q JOIN n c ON q.vec_id < 3),
        |r AS (SELECT query_id, neighbor_id,
        |        CAST(FLOOR(CAST(ip AS DOUBLE) * 1e6) AS BIGINT) AS ip_q,
        |        (SELECT m2_q FROM m) - n2_q AS aug_resid_q,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY ip DESC, neighbor_id) AS rn
        |      FROM s)
        |SELECT query_id, neighbor_id, ip_q, aug_resid_q, rn FROM r
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,

    // Dense arm = the q_sim_cosine_topk decimal-cosine spelling against
    // query vector 0; lexical arm = the q_text_bm25 oracle summed per
    // doc; fusion is pure integer division over the two rank columns.
    "q_sim_hybrid_rrf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e),
        |q AS (SELECT v AS qv, nsq AS qnsq FROM n WHERE vec_id = 0),
        |dsc AS (SELECT c.vec_id AS id,
        |        (SELECT CAST(SUM(CAST(q.qv[i] * c.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS t(i))
        |          / SQRT(q.qnsq * c.nsq) AS cos
        |      FROM n c, q WHERE c.vec_id >= 1),
        |drk AS (SELECT id, ROW_NUMBER() OVER (ORDER BY cos DESC, id)
        |          AS dense_rank FROM dsc),
        |dtop AS (SELECT id, dense_rank FROM drk WHERE dense_rank <= 20),
        |dlt AS (SELECT doc_id,
        |          CAST(LEN(string_split(text, ' ')) AS BIGINT) AS dl
        |        FROM documents),
        |nn AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS dlsum
        |       FROM dlt),
        |tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        |        FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |       WHERE term IN ('scan', 'filter', 'vector')
        |       GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |bs AS (SELECT tf.doc_id,
        |         CAST(FLOOR(
        |           LN((CAST(nn.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE)
        |                 + CAST(0.5 AS DOUBLE))
        |               / (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |              + CAST(1.0 AS DOUBLE)) *
        |           (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
        |           (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |             (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
        |               * CAST(dlt.dl AS DOUBLE)
        |               / (CAST(nn.dlsum AS DOUBLE)
        |                  / CAST(nn.n_docs AS DOUBLE)))) *
        |           1e4) AS BIGINT) AS bm25_q
        |       FROM tf JOIN dlt USING (doc_id) JOIN df USING (term)
        |       CROSS JOIN nn),
        |lex AS (SELECT doc_id, CAST(SUM(bm25_q) AS BIGINT) AS lex
        |        FROM bs GROUP BY doc_id),
        |lrk AS (SELECT doc_id AS id,
        |          ROW_NUMBER() OVER (ORDER BY lex DESC, doc_id)
        |            AS lex_rank FROM lex),
        |ltop AS (SELECT id, lex_rank FROM lrk WHERE lex_rank <= 20)
        |SELECT COALESCE(l.id, d.id) AS doc_id,
        |  CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
        |  CAST(COALESCE(d.dense_rank, 0) AS BIGINT) AS dense_rank,
        |  CAST(CASE WHEN l.id IS NULL THEN 0
        |            ELSE 1000000 // (60 + l.lex_rank) END
        |     + CASE WHEN d.id IS NULL THEN 0
        |            ELSE 1000000 // (60 + d.dense_rank) END
        |    AS BIGINT) AS rrf_q
        |FROM ltop l FULL OUTER JOIN dtop d ON l.id = d.id
        |ORDER BY rrf_q DESC, doc_id""".stripMargin
  )
}
