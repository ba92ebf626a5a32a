package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.QueryDefs.Q
import graft.sources.Tables
import graft.functions.VectorFunctions.cosine_sim

/** Deduplication operators over the `documents` / `embeddings` fixtures —
  * the LLM-data-pipeline extensions beyond the reference's own surface
  * (BASELINE.json north_star; the reference itself only ever filter-scans,
  * /root/reference/main.cc:164-169).
  *
  * Scale design notes (100 TB):
  *  - exact dedup is a hash groupBy — one shuffle on the full text (or a
  *    content hash: group on xxhash64+length to avoid shuffling bodies).
  *  - near-dup goes shingle→MinHash signature→LSH band buckets→bucket-local
  *    pairs→exact verify. Work is O(docs × shingles + Σ bucket²), never
  *    the O(n²) all-pairs of the naive approach; bucket skew is bounded
  *    because a band key is a 64-bit hash of two 64-bit minhashes.
  *  - the shingle inverted index drops stop-shingles (document frequency
  *    above a cap) from the feature set before its self-join — a df=k
  *    shingle fans out to k(k-1)/2 join rows, and hot shingles carry no
  *    discriminative signal; on the fixtures the cap is provably inactive.
  *  - embedding near-dup ships in two renditions: the exact all-pairs
  *    baseline (oracle ground truth) and the SRP-LSH-bucketed variant
  *    whose candidate stage never materializes the cross product.
  */
object Dedup {

  /** Distinct word-trigram shingles from a `toks` array column, guarded
    * for texts shorter than 3 words (whole text as one shingle). */
  private[graft] val ShingleExpr =
    """CASE WHEN size(toks) >= 3 THEN
      |  array_distinct(transform(
      |    sequence(1, size(toks) - 2),
      |    i -> concat_ws(' ', element_at(toks, i),
      |                        element_at(toks, i + 1),
      |                        element_at(toks, i + 2))))
      |ELSE array(array_join(toks, ' ')) END""".stripMargin

  /** Word-trigram shingle set (distinct) per document. Guarded for texts
    * shorter than 3 words (falls back to the whole text as one shingle).
    * Tokenization happens in its own projection: inlining `split(text)`
    * into the shingle lambda would re-split the text once per element
    * (O(words²) per doc — measured 2-3× on the whole query). */
  private[graft] def withShingles(s: SparkSession, d: String,
      withQuality: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, d)
    // The single-file fixture arrives as one input split, which would run
    // the O(docs × words) shingle compute on one core — fan out only when
    // the scan is short of the session's parallelism. The repartition is
    // NOT free (it shuffles full text bodies); at corpus scale the source
    // is many splits, the condition is false, and no shuffle runs.
    val par = s.sparkContext.defaultParallelism
    val fanned =
      if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    val toksDf = fanned
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // `withQuality` additionally carries the distinct-word count in the
    // SAME projection (q_dedup_canonical's argmax key) — one text
    // split/scan for the whole query instead of a second corpus pass.
    // It's a parameter, not unconditional: the column would change the
    // cached plan every OTHER shingle consumer shares.
    val proj =
      if (withQuality)
        toksDf.select(col("doc_id"),
          size(array_distinct(col("toks"))).as("quality"),
          expr(ShingleExpr).as("sh"))
      else toksDf.select(col("doc_id"), expr(ShingleExpr).as("sh"))
    // reused by the inverted index, the LSH signature, and the verify
    // joins — and across the dedup queries themselves; cache once
    // instead of recomputing the shingle transform per branch. The
    // harness (Bench/Verify) clears the session cache between queries
    // so the entry does not outlive its query family.
    proj.cache()
  }

  /** jaccard = |A∩B| / |A∪B| from intersection count + set sizes. */
  private def jaccard(inter: Column, na: Column, nb: Column): Column =
    inter / (na + nb - inter)

  /** Shingles appearing in more than this many documents are dropped from
    * the feature set before the inverted-index self-join — classic
    * stop-shingle removal. A shingle of df=k fans out to k(k-1)/2 join
    * rows, so one stop-phrase shingle dominates the whole self-join at
    * corpus scale; the cap bounds fan-out at df² ≤ 4096 rows per shingle
    * and drops only features with no discriminative value. Measured on
    * the fixtures the max shingle df is 25 (sf0.1), so 64 drops nothing
    * at any tested SF and the capped Jaccard provably equals the full
    * Jaccard there (which is what the full-set oracle checks) — and
    * [[assertDfCapInactive]] now ASSERTS that equality's precondition
    * per (session, dataset) instead of leaving it argued in comments. */
  private[graft] val ShingleDfCap = 64

  /** r10 verdict item 2: every query whose DuckDB oracle replays the
    * pair join with NO df cap (q_dedup_ngram_jaccard / containment /
    * the pipeline despan+cluster stages / the pair-memo's seven graph
    * consumers) silently diverges from its oracle the day any shingle's
    * document frequency crosses [[ShingleDfCap]] — a confusing
    * hash-mismatch instead of a loud precondition failure. This is the
    * q_dedup_substring collation-guard pattern applied to the cap: ONE
    * scalar aggregate (the max df over the exact feature set the pair
    * join consumes) checked against the cap, memoized per (session,
    * dataset, feature-set tag) like the other bounded training scalars
    * so repeat constructions — bench reps 2-3, every memo-hit consumer
    * — skip the scan entirely. The corpus-level entry also covers
    * q_pipeline_e2e: its feature set is the SAME ShingleExpr over a
    * SUBSET of documents, and dropping documents can only lower a
    * shingle's df. v2's despanned text does NOT inherit that bound
    * (token removal splices new trigrams into existence), so the v2
    * pipeline guards its own cleaned-shingle table under its own tag. */
  private val dfCapGuardMemo = new scala.collection.concurrent.TrieMap[
    (String, String), Long]

  private[graft] def assertDfCapInactive(s: SparkSession, tag: String,
      g: DataFrame): Unit = {
    // The guard protects the ORACLE contract (capped ≡ uncapped), not
    // production semantics — at real corpus scale the cap is SUPPOSED
    // to fire (it is the skew fence), so a default-on guard would make
    // every production construction of the jaccard/containment/
    // pipeline/cluster families pay a corpus pre-scan and then throw
    // (ADVICE r11). Default is therefore OFF (production: capped join,
    // no pre-scan, no hard failure); the oracle-replayed contexts —
    // Verify, Bench, SparkTestSession — OPT IN via session conf
    // `spark.graft.dedup.dfCapGuard=on`, where capped ≡ uncapped must
    // be a checked precondition because the DuckDB twins replay the
    // pair join uncapped. Every session graft.Session builds for a
    // library query (Bench, Verify, Test) has the guard on, so a
    // graft.sources.Amplify corpus whose stop-shingles pass the cap
    // (its replica cliques reach max df 70 on sf0.1 ×10) fails here
    // loudly instead of running the capped join.
    if (s.conf.get("spark.graft.dedup.dfCapGuard", "off") != "on") return
    val mx = graft.MemoStats.memoized("dfcap_guard", dfCapGuardMemo,
      (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), tag)) {
      val r = g.select(explode(col("sh")).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .agg(max(col("df"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    require(mx <= ShingleDfCap,
      s"stop-shingle df cap is ACTIVE for '$tag': max shingle df $mx > " +
        s"$ShingleDfCap, so the capped pair join would diverge from the " +
        "uncapped oracle replay — raise ShingleDfCap or route this " +
        "corpus through q_dedup_prefix_filter (the lossless path)")
  }

  /** Unrolled degree-peeling rounds for q_graph_kcore. Peeling a 2-core
    * removes every degree<2 vertex per round, so a dangling chain of
    * length L clears in ⌈L/2⌉ rounds (it erodes from both ends); the
    * fixture near-dup components are duplicate clusters with diameter
    * ≤ ~4 (the CC probe's pointer-jump converges in 2 rounds), so 6
    * rounds leaves a ≥2× margin. The count is FIXED — not a
    * data-dependent early stop — so the DuckDB oracle unrolls the
    * identical rounds; OperatorsSpec asserts round-6 = round-5 edge
    * count (fixpoint), making the published result the true 2-core. */
  private[graft] val PeelRounds = 6

  /** Exact Jaccard for candidate pairs, verified against the FULL shingle
    * sets. Arrays travel only for the candidate pairs (few — near-dup
    * survivors of banding), never through an index self-join. */
  private def verifiedJaccard(g: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(size(array_intersect(col("sha"), col("shb"))),
          size(col("sha")), size(col("shb"))).as("jaccard"))

  /** Exact pairwise trigram-Jaccard > 0.5 over the df-capped feature set
    * of any (doc_id, sh) table: inverted-index self-join (only docs
    * sharing a shingle ever meet — no all-pairs cross product),
    * intersection counts straight from the join rows via one groupBy. No
    * shingle ARRAYS ever travel through a join: an array-verify variant
    * measured 5-20× slower at sf0.1, where median shingle df is 9 and
    * candidate pairs are numerous — counting join rows IS the
    * intersection, no per-pair set intersection needed. */
  private def jaccardPairsFrom(g: DataFrame): DataFrame = {
    val ex = g.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val rare = ex.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= ShingleDfCap)
      .select(col("shingle"))
    // The capped posting table feeds THREE consumers below (both sides
    // of the intersection self-join and the per-doc size aggregate);
    // left as a plan it is re-derived per consumer — the shingle
    // explode and df join ran 3× per query (AQE's runtime stage reuse
    // does not cover the explode, which is below the first exchange).
    // One materialization per invocation measured −38% on the whole
    // pair query at sf0.1 (r15 probe, same-JVM A/B); at corpus scale
    // this table IS the stored inverted index every production near-dup
    // pass reads, so materializing it once is the 100 TB shape too.
    val exRare = ex.join(rare, Seq("shingle")).localCheckpoint()
    val sizes = exRare.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = exRare.as("a").join(exRare.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("inter"), col("sa.n"), col("sb.n")).as("jaccard"))
      .where(col("jaccard") > 0.5)
  }

  /** The whole-corpus pair query (see [[jaccardPairsFrom]]). */
  private[graft] def ngramJaccardPairsRaw(s: SparkSession, d: String): DataFrame =
    jaccardPairsFrom(withShingles(s, d))

  /** Memoized (doc_a, doc_b) near-dup pair table per (session, dataset)
    * — the IVF-centroid / BPE-merge-table precedent applied to the
    * library's single most re-derived intermediate: SEVEN consumers
    * (clusters, stars, report, canonical's label stage, PageRank,
    * triangles, 2-core) each previously re-ran the full inverted-index
    * pipeline (~2-3 s at sf0.1 apiece). The survivor pairs are TINY
    * (near-dup pairs only — 256 rows at sf0.1), so one localCheckpoint
    * materialization per session is bounded executor storage, and this
    * is the production shape: a 100 TB pipeline materializes the pair
    * graph ONCE and every downstream graph analysis reads that table,
    * it never re-mines pairs per query. Sessions keyed by their stable
    * UUID; MemoStats clears all memo maps on ApplicationEnd, so a dead
    * context's checkpointed plans don't pin driver memory. The
    * published q_dedup_ngram_jaccard stays on the raw path (it emits
    * the jaccard scores, and is the one query whose COST should be the
    * mining itself). */
  private val pairsMemo = new scala.collection.concurrent.TrieMap[
    (String, String), DataFrame]

  private[graft] def ngramJaccardPairsMemo(s: SparkSession,
      d: String): DataFrame = {
    // guard BEFORE the memo body: the cluster-family oracles replay the
    // pair join uncapped too, and the memoized table feeds all of them
    assertDfCapInactive(s, s"$d#corpus", withShingles(s, d))
    graft.MemoStats.memoized("pair_table", pairsMemo,
      (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d))(
      ngramJaccardPairsRaw(s, d)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint())
  }

  /** STORED cluster-label table per (session, dataset, cut) — the
    * incremental family's other shared materialization: both the batch
    * nightly merge (q_dedup_clusters_incremental) and the streaming
    * ingest gate (q_stream_clusters) read "labels over the existing
    * corpus", and at 100 TB that IS a stored table, not a per-query CC
    * run. One pointer-jumping CC over the old-old edge subgraph per
    * (session, dataset, cut), localCheckpointed (corpus-count rows of
    * two longs — bounded); keyed by the cut VALUE so the two cut
    * conventions in the family (max·4/5 vs count·4/5) coexist without
    * colliding. */
  private val storedLabelsMemo = new scala.collection.concurrent.TrieMap[
    (String, String, Long), DataFrame]

  private[graft] def storedClusterLabels(s: SparkSession, d: String,
      cut: Long): DataFrame =
    graft.MemoStats.memoized("stored_labels", storedLabelsMemo,
      (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d, cut)) {
      val pairs = ngramJaccardPairsMemo(s, d)
        .where(col("doc_a") < cut && col("doc_b") < cut)
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      val docs = Tables.documents(s, d).where(col("doc_id") < cut)
        .select(col("doc_id"), col("doc_id").as("lbl"))
      val (labels, _) = connectedComponents(docs, edges)
      labels.select(col("doc_id"), col("lbl")).localCheckpoint()
    }

  /** Shared near-dup cluster resolution (q_dedup_clusters,
    * q_dedup_report): pointer-jumping CC over the pair graph, labelled
    * by cluster-minimum doc_id. Raw (unsorted) pairs: the edge list
    * feeds groupBy/join shuffles, so the pair query's published ORDER BY
    * would be pure waste. Pairs come from the session memo
    * ([[ngramJaccardPairsMemo]]): union-ing a raw pair plan with its
    * own swap would re-derive the whole inverted-index pipeline once
    * per branch (measured ~2× the query's cost), and the memo shares
    * ONE materialization across every graph consumer. */
  private[operators] def clusterLabels(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccardPairsMemo(s, d)
    val edges = pairs.unionAll(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("doc_id").as("lbl"))
    val (labels, _) = connectedComponents(docs, edges)
    labels.select(col("doc_id"), col("lbl").as("keep_id"),
      (col("doc_id") === col("lbl")).as("is_keeper"))
  }

  /** Stages 1-2 of q_pipeline_e2e: the shared single-scan projection
    * (cached — Spark's CacheManager dedupes by logical plan, so every
    * caller shares one in-memory relation), the quality funnel, and
    * exact dedup via one window over (content-hash, length) — text
    * shuffles once, never again (same 64-bit collision envelope as
    * q_dedup_incremental). Exposed for PlanSpec's scan-count assertion.
    *
    * `observed = true` threads `observe()` survivor counters through the
    * funnel and exact stages (the Spark-idiomatic embedded-measurement
    * analogue of the reference's in-run I/O accounting,
    * /root/reference/main.cc:327-335): CollectMetrics accumulators ride
    * the SAME job that does the work — at 100 TB, per-stage counts for
    * free instead of one recount scan per stage. Only ONE e2eExact
    * instance per query tree may observe (duplicate CollectMetrics
    * names in a single plan are rejected at analysis). */
  private[graft] def e2eExact(s: SparkSession, d: String,
      observed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        size(col("toks")).as("n_tok"),
        size(array_distinct(col("toks"))).as("quality"),
        (size(filter(col("toks"), t => t === "a" || t === "the")) > 0)
          .as("has_stop"),
        expr(ShingleExpr).as("sh"))
      .cache() // shared by every pipeline stage via CacheManager plan
               // dedup; feeds the returned lineage, so in-query
               // unpersist is impossible — harness clearCache is the
               // documented handoff
    // stage 1: quality funnel (the q_text_filter_funnel gates)
    val funneled0 = base.where(col("n_tok") >= 30 &&
      col("quality").cast("double") / col("n_tok").cast("double") > 0.45 &&
      col("has_stop"))
    val funneled = if (observed)
      funneled0.observe("e2e_funnel", count(lit(1)).as("rows"))
    else funneled0
    // stage 2: exact dedup — keep the min doc_id per identical text
    val hw = Window.partitionBy(xxhash64(col("text")), length(col("text")))
    val exact = funneled
      .withColumn("keep_id", min(col("doc_id")).over(hw))
      .where(col("doc_id") === col("keep_id"))
    if (observed) exact.observe("e2e_exact", count(lit(1)).as("rows"))
    else exact
  }

  /** Stage 3 of q_pipeline_e2e: near-dup candidate pairs among the exact
    * survivors, via the shared inverted shingle index. */
  private[graft] def e2eCandidates(s: SparkSession, d: String): DataFrame =
    jaccardPairsFrom(e2eExact(s, d).select(col("doc_id"), col("sh")))

  /** The pair query as published: raw pairs + the total ORDER BY the
    * oracle compare needs. Consumers that feed the pairs into further
    * shuffles (q_dedup_clusters) use the raw variant — a sort below a
    * cache() boundary can't be optimized away by EliminateSorts. */
  private def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairsRaw(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** Min-label propagation WITH pointer jumping to fixpoint over an
    * undirected edge list: connected components, each labelled by its
    * minimum doc_id.
    *
    * Each round computes, per node,
    *   lbl' = min(lbl, min over in-neighbors' lbl, lbl(lbl))
    * — hash-min plus a shortcut hop through the current label table.
    * Both operations are monotone (labels only decrease within the
    * component, and every assigned label is a component member's id), so
    * the fixpoint is unchanged from plain hash-min: the component
    * minimum. The shortcut contracts label chains exponentially —
    * O(log diameter) rounds instead of O(diameter) — and each driver
    * round is dominated by fixed job overhead (two joins over a tiny
    * (id,lbl) table), so fewer rounds is the whole game. At web scale
    * swap in alternating large-star/small-star; same join primitive.
    *
    * Every round `localCheckpoint`s the new label table — the plan would
    * otherwise double per round (labels feeds the propagation joins and
    * the carry-forward), reaching 2^rounds re-derivations of the pair
    * query. The loop stops when a round changes zero labels; `maxRounds`
    * is a safety bound. Superseded checkpoint blocks are unreferenced
    * after each round and reclaimed by the ContextCleaner.
    *
    * `docs` may carry PAYLOAD columns beyond (doc_id, lbl) — they ride
    * along unchanged through the label table (a few extra bytes per NODE
    * per round), which lets consumers like q_dedup_canonical avoid a
    * second corpus scan + join after convergence.
    * Returns (labels, roundsRun). */
  private[graft] def connectedComponents(docs: DataFrame, edges: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val payload = docs.columns.filterNot(Set("doc_id", "lbl")).toSeq
    var labels = docs.localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val prop = edges
        .join(labels.select(col("doc_id"), col("lbl")),
          edges("src") === col("doc_id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      // pointer jump: the label of my label, one hop up the chain
      val jump = labels.select(col("doc_id").as("jid"), col("lbl").as("jlbl"))
      // lazy checkpoint: the convergence count below is the job that
      // materializes it, so each round runs one job, not two
      val next = labels
        .join(prop, labels("doc_id") === prop("dst"), "left")
        .join(jump, labels("lbl") === col("jid"), "left")
        .select(col("doc_id") +: payload.map(col) :+
          least(col("lbl"),
            coalesce(col("nlbl"), col("lbl")),
            coalesce(col("jlbl"), col("lbl"))).as("nxt") :+
          col("lbl"): _*)
        .select(col("doc_id") +: payload.map(col) :+
          col("nxt").as("lbl") :+
          (col("nxt") < col("lbl")).as("chg"): _*)
        .localCheckpoint(eager = false)
      changed = next.where(col("chg")).count()
      labels = next.drop("chg")
      rounds += 1
    }
    (labels, rounds)
  }

  /** Alternating large-star/small-star connected components — the
    * documented at-scale swap for [[connectedComponents]] (same contract:
    * docs (doc_id, lbl = doc_id), undirected edges (src, dst); returns
    * (labels, rounds)).
    *
    * Why it exists: min-label propagation moves labels ONE HOP per join
    * round (pointer jumping shortcuts chains but still serializes through
    * the label table), so a web-scale pair graph with long path
    * components pays O(log d) rounds of full-table joins. Star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) instead rewrites the EDGE LIST: large-star hangs
    * every larger neighbor of u under min(Γ(u) ∪ {u}), small-star does
    * the same for smaller neighbors, and the alternation converges to
    * one star per component in O(log² n) rounds of two groupBy+join
    * passes over edges — no label table, no chain to serialize through,
    * and each round's shuffle is proportional to the (monotonically
    * shrinking) edge list.
    *
    * Convergence is detected by an (count, hash-sum) checksum of the
    * canonicalized edge set — one tiny aggregate per round, no
    * edge-set diff join. Labels fall out of the final star edges:
    * child → its star center, center → itself. SCALE.md §2–§3 record
    * its rounds and per-round edge-list size against pointer jumping. */
  private[graft] def connectedComponentsStars(docs: DataFrame,
      edges: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
    var e = canon(edges.select(col("src").as("x"), col("dst").as("y")))
      .localCheckpoint()
    def checksum(df: DataFrame): (Long, Long) = {
      // hashes bounded to < 2^31 before summing so the ANSI-mode sum
      // can't overflow below ~2^32 edges
      val r = df.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("a"), col("b")),
          lit(2147483647L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = checksum(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // large-star: from each endpoint u, hang strictly-larger
      // neighbors (and u itself) under m = min(Γ(u) ∪ {u})
      val nbr = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val mins = nbr.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = canon(
        nbr.join(mins, "u").where(col("v") > col("u"))
          .select(col("v").as("x"), col("m").as("y"))
          .unionAll(mins.select(col("u").as("x"), col("m").as("y"))))
        .localCheckpoint(eager = false)
      // small-star: direct edges large→small; hang every smaller
      // neighbor (and u) under the minimum
      val nbr2 = ls.select(col("b").as("u"), col("a").as("v"))
      val mins2 = nbr2.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = canon(
        nbr2.join(mins2, "u")
          .select(col("v").as("x"), col("m").as("y"))
          .unionAll(mins2.select(col("u").as("x"), col("m").as("y"))))
        .localCheckpoint(eager = false)
      val nsig = checksum(ss)
      converged = nsig == sig
      sig = nsig
      e = ss
      rounds += 1
    }
    val lbl = e.groupBy(col("b")).agg(min(col("a")).as("lbl"))
      .select(col("b").as("doc_id"), col("lbl"))
    val labels = docs.select(col("doc_id"))
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("lbl"))
    (labels, rounds)
  }

  val defs: Map[String, Q] = Map(

    // Exact dedup: keep the smallest doc_id per identical text.
    "q_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("text"))
        .orderBy(col("keep_id"))
    }),

    // Incremental dedup: documents arriving from one source (src0,
    // standing in for a new crawl batch) are kept only if their text
    // doesn't already exist in the established corpus (all other
    // sources) — the ingest-time shape, where the corpus side is a
    // pre-built content-hash index and the delta is left-anti-joined
    // against it. Hash join on xxhash64+length (both codegen'd) so full
    // text bodies never shuffle; anti join materializes nothing from the
    // corpus side. (Collision safety: a 64-bit hash + length pair at
    // corpus scale gives ~n²/2⁶⁵ false drops — add the first/last 8 bytes
    // to the key if that matters.) The oracle spells the same thing as
    // NOT EXISTS over the raw text.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val delta = docs.where(col("source") === "src0")
        .select(col("doc_id"), col("text"),
          xxhash64(col("text")).as("h"), length(col("text")).as("len"))
      val corpus = docs.where(col("source") =!= "src0")
        .select(xxhash64(col("text")).as("h"), length(col("text")).as("len"))
        .distinct()
      delta.join(corpus, Seq("h", "len"), "left_anti")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-filter membership pre-filter for incremental dedup — the
    // 100 TB shape of q_dedup_incremental's corpus side: fold the
    // established corpus into ONE mergeable 4096-bit filter (native
    // aggregate, map-side combined — M/8 bytes of state per partition,
    // OR-merged to a single row), broadcast it, and probe each delta doc
    // with the K=3 shared-fold bit positions. A bloom miss is a verdict
    // (no false negatives — asserted per-row in OperatorsSpec); only the
    // bloom-positive sliver would proceed to the exact anti-join, so the
    // corpus is never re-shuffled against the delta. Emits the verdict
    // pair (bloom_hit, true_dup) per delta doc so all three classes are
    // visible and oracle-checked — true dup (1,1), clean miss (0,0), and
    // false positive (1,0): the DuckDB twin replays the identical bit
    // positions from the shared UTF-8 fold
    // ([[graft.functions.CountMinAgg.baseHash]]; codepoint spelling —
    // equal on the ASCII fixtures, invariant-asserted like the CMS).
    // The corpus/delta split is overlapping modular slices (a re-crawl
    // where half the batch was already ingested) because the fixture
    // has no cross-SOURCE exact duplicates to find.
    "q_dedup_bloom" -> ((s, d) => {
      import graft.functions.BloomFilterAgg.bloom_agg
      import graft.functions.CountMinAgg.cms_base
      val docs = Tables.documents(s, d)
      val delta = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val corpus = docs.where(col("doc_id") % 6 =!= 3).select(col("text"))
      val filt = corpus.agg(bloom_agg(col("text")).as("bloom"))
      val probed = delta.crossJoin(broadcast(filt))
        .withColumn("base", cms_base(col("text")))
      val hit = (0 until graft.functions.BloomFilterAgg.K).map { r =>
        val p = s"((shiftright(base * ${2654435761L + r}, 16)) % 4096)"
        expr(s"(shiftrightunsigned(element_at(bloom, CAST($p DIV 64 AS INT) + 1)," +
          s" CAST($p % 64 AS INT)) & 1) = 1")
      }.reduce(_ && _)
      val dup = corpus.distinct().withColumn("true_dup", lit(1L))
      probed
        .withColumn("bloom_hit", when(hit, lit(1L)).otherwise(lit(0L)))
        .join(dup, Seq("text"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("true_dup"), lit(0L)).as("true_dup"))
        .orderBy(col("doc_id"))
    }),

    // Exact n-gram Jaccard near-dup (ground truth for the LSH variant).
    "q_dedup_ngram_jaccard" -> ((s, d) => {
      assertDfCapInactive(s, s"$d#corpus", withShingles(s, d))
      ngramJaccardPairs(s, d)
    }),

    // Asymmetric n-gram CONTAINMENT (|A∩B| / |A|): catches quotation /
    // subset duplication that symmetric Jaccard structurally misses — a
    // short doc fully quoted inside a long one has Jaccard ≈ |A|/|B|
    // (tiny) but containment 1.0, and containment-based pruning is a
    // standard second pass after exact/near dedup in training-data
    // pipelines. Same inverted-index candidate machinery as
    // q_dedup_ngram_jaccard (stop-shingle df cap, join-row counting, no
    // arrays through the join); both directions derive from ONE a<b
    // pair table and union, each emitted as (contained, container) with
    // the family's 1e6-floor-quantized score.
    "q_dedup_containment" -> ((s, d) => {
      val g = withShingles(s, d)
      // the oracle's na/nb are FULL set sizes; the cap would shrink both
      // the intersection counts and the sizes — assert it is inactive
      assertDfCapInactive(s, s"$d#corpus", g)
      val ex = g.select(col("doc_id"), explode(col("sh")).as("shingle"))
      val rare = ex.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .where(col("df") <= ShingleDfCap)
        .select(col("shingle"))
      // one materialization, three consumers (both self-join sides +
      // sizes) — the [[jaccardPairsFrom]] r15 fix applied to the same
      // inline pattern here
      val exRare = ex.join(rare, Seq("shingle")).localCheckpoint()
      val sizes = exRare.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = exRare.as("a").join(exRare.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      val scored = inter
        .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("sa.n").as("na"), col("sb.n").as("nb"))
      // both directions from ONE pass over the scored pairs: a union of
      // two selects re-derives the whole inverted-index pipeline per
      // branch (the clusterLabels lesson — measured 2× this query's
      // cost), where a per-row 2-element struct array + explode emits
      // the swap map-side with zero recompute
      scored.select(explode(array(
          struct(col("doc_a").as("contained"), col("doc_b").as("container"),
            floor(col("inter").cast("double") / col("na").cast("double")
              * lit(1e6)).cast("long").as("containment_q")),
          struct(col("doc_b").as("contained"), col("doc_a").as("container"),
            floor(col("inter").cast("double") / col("nb").cast("double")
              * lit(1e6)).cast("long").as("containment_q")))).as("r"))
        .select(col("r.contained").as("contained"),
          col("r.container").as("container"),
          col("r.containment_q").as("containment_q"))
        .where(col("containment_q") > 800000L)
        .orderBy(col("contained"), col("container"))
    }),

    // MinHash + LSH near-dup: 32 minhashes (hash family h_k(s) =
    // xxhash64(s, k)), 16 bands × 2 rows, bucket-join for candidates,
    // exact-Jaccard verify. With the fixture's near-dups at J ≥ 0.88 the
    // per-pair miss probability is (1 - J²)^16 < 1e-11, so the verified
    // output equals the exact result — which is exactly what the oracle
    // checks.
    "q_dedup_minhash_lsh" -> ((s, d) => {
      val g = withShingles(s, d)
      // signature: explode shingles once, 32 codegen'd xxhash64 columns,
      // ONE groupBy with 32 min() aggregates (map-side partial combine) —
      // not nested lambda folds, which run interpreted per element.
      val ex = g.select(col("doc_id"), explode(col("sh")).as("t"))
      val hashCols = (0 until 32).map(k => xxhash64(col("t"), lit(k)).as(s"h$k"))
      val hashed = ex.select(col("doc_id") +: hashCols: _*)
      val minAggs = (0 until 32).map(k => min(col(s"h$k")).as(s"m$k"))
      val sig = hashed.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
      // 16 bands × 2 rows: band key hashes two adjacent minhashes + band id
      val bandStructs = (0 until 16).map(b => struct(lit(b).as("b"),
        xxhash64(col(s"m${2 * b}"), col(s"m${2 * b + 1}"), lit(b)).as("k")))
      val bands = sig.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("bk"))
        // both self-join sides read the band table; without this the
        // 32-hash signature pipeline runs twice (r15, the
        // [[jaccardPairsFrom]] materialization argument)
        .localCheckpoint()
      val cand = bands.as("a").join(bands.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      // exact verify: join the shingle sets back by id (arrays travel
      // only for the few candidates, not through the 16× band explosion)
      verifiedJaccard(g, cand)
        .where(col("jaccard") > 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // SimHash near-dup: 40-bit signature from per-shingle bit votes
    // (trigram shingles — the same feature space as the Jaccard ground
    // truth; unigrams over the fixture's ~30-word vocabulary make every
    // document collide). Computed scale-friendly: explode shingles, hash
    // once (the compiled engine-neutral fold, graft.functions
    // .NeutralHash40), then a one-pass native aggregate in ONE groupBy
    // (a single shuffle) — not nested lambda folds. Candidates via
    // 8×5-bit chunk banding (pigeonhole: hamming ≤ 7 over 8 chunks ⇒
    // some chunk is identical, so the advertised hamming ≤ 7 filter has
    // GUARANTEED recall — a 5×8 split only guaranteed ≤ 4, surfacing
    // 5..7 by luck). The neutral hash is what
    // makes this ORACLE-checked: DuckDB rebuilds signature, bands, and
    // hamming filter bit-for-bit, where the previous xxhash64 spelling
    // allowed only a rows-only check.
    "q_dedup_simhash" -> ((s, d) => {
      val ex = withShingles(s, d)
        .select(col("doc_id"), explode(col("sh")).as("t"))
        .withColumn("h", graft.functions.VectorFunctions.neutral_hash40(col("t")))
      // one-pass native aggregate (TypedImperativeAggregate): the vote
      // vector is the buffer, partial/final combine is vector addition
      val sims = ex.groupBy(col("doc_id"))
        .agg(graft.functions.SimHashAgg.simhash_agg(col("h")).as("simhash"))
      val chunks = sims.select(col("doc_id"), col("simhash"),
        explode(expr(
          """transform(sequence(0, 7),
            |  c -> named_struct('c', c,
            |    'v', shiftright(simhash, c * 5) & 31))""".stripMargin))
          .as("ck"))
        // self-join input materialized once — the vote-vector aggregate
        // otherwise runs on both sides (r15)
        .localCheckpoint()
      chunks.as("a").join(chunks.as("b"),
          col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
        .distinct()
        .where(col("hamming") <= 7)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Cluster resolution: connected components over the near-dup pair
    // graph, keeping the min-doc_id as each cluster's canonical doc —
    // the step that turns pair detection into corpus dedup. Oracle:
    // recursive-CTE reachability in DuckDB.
    "q_dedup_clusters" -> ((s, d) =>
      clusterLabels(s, d).orderBy(col("doc_id"))),

    // INCREMENTAL cluster maintenance — the nightly-delta shape for the
    // near-dup graph (q_agg_incremental's pattern, lifted from algebra
    // to graphs): the corpus splits at a data-derived cut (last fifth =
    // the delta batch); the existing 4/5 is clustered as the stored
    // state, and the delta merges in WITHOUT re-clustering the corpus —
    // old components CONTRACT to their label (one super-node per
    // component), delta edges rewrite onto super-nodes, and CC runs on
    // the contracted delta subgraph only (new docs + touched
    // components, never the full graph). Because old labels are their
    // components' min ids, the contracted CC's min-label compose gives
    // exactly the from-scratch canonical labels — so the full-recompute
    // oracle hash-match IS the merge-equals-recompute proof. At 100 TB
    // the old labels are a stored table, the delta's candidate pairs
    // come from probing the persisted shingle index, and the nightly
    // CC cost tracks the DELTA's component sizes, not the corpus.
    "q_dedup_clusters_incremental" -> ((s, d) => {
      val pairs = ngramJaccardPairsMemo(s, d)
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      val docs = Tables.documents(s, d).select(col("doc_id"))
      // bounded driver scalar (the split point), like PageRank's node
      // count; oracle replays it as (MAX(doc_id)*4)//5
      val cut = docs.agg((max(col("doc_id")) * 4).as("m"))
        .head.getLong(0) / 5
      // stored state: labels over the existing corpus only — the shared
      // memoized stored-label table (checkpointed there)
      val oldLabels = storedClusterLabels(s, d, cut)
      val mapOld = oldLabels
        .select(col("doc_id").as("m_id"), col("lbl").as("m_lbl"))
      // delta: edges touching any new doc, endpoints contracted to the
      // stored label (new endpoints stand for themselves)
      val delta = edges.where(col("src") >= cut || col("dst") >= cut)
        .join(mapOld.withColumnRenamed("m_id", "src")
          .withColumnRenamed("m_lbl", "src_lbl"), Seq("src"), "left")
        .join(mapOld.withColumnRenamed("m_id", "dst")
          .withColumnRenamed("m_lbl", "dst_lbl"), Seq("dst"), "left")
        .select(coalesce(col("src_lbl"), col("src")).as("src"),
          coalesce(col("dst_lbl"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
      val newDocs = docs.where(col("doc_id") >= cut)
      val rnodes = delta.select(col("src").as("doc_id"))
        .unionAll(delta.select(col("dst").as("doc_id")))
        .unionAll(newDocs)
        .distinct()
        .select(col("doc_id"), col("doc_id").as("lbl"))
      val (redLabels, _) = connectedComponents(rnodes, delta)
      val redMap = redLabels
        .select(col("doc_id").as("r_id"), col("lbl").as("r_lbl"))
      // compose: untouched old components keep their stored label
      val finalOld = oldLabels
        .join(redMap, col("lbl") === col("r_id"), "left")
        .select(col("doc_id"),
          coalesce(col("r_lbl"), col("lbl")).as("keep_id"))
      val finalNew = newDocs
        .join(redMap, col("doc_id") === col("r_id"), "left")
        .select(col("doc_id"),
          coalesce(col("r_lbl"), col("doc_id")).as("keep_id"))
      finalOld.unionAll(finalNew)
        .select(col("doc_id"), col("keep_id"),
          (col("doc_id") === col("keep_id")).as("is_keeper"),
          (col("doc_id") >= cut).as("is_new"))
        .orderBy(col("doc_id"))
    }),

    // Dedup REPORT — the number people actually quote: the cluster-size
    // histogram of the near-dup graph (1-clusters = unique docs; the
    // tail is the duplication mass) from the same label pipeline as
    // q_dedup_clusters. Two tiny aggregates over the checkpointed label
    // table; n_docs cross-foots to the corpus size (spec-asserted).
    "q_dedup_report" -> ((s, d) => {
      val sizes = clusterLabels(s, d)
        .groupBy(col("keep_id")).agg(count(lit(1)).as("cluster_size"))
      sizes.groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),

    // Graph centrality over the near-dup graph: 5 rounds of integer
    // PageRank (teleport 0.15). Centrality ranks which copy of a
    // duplicated document is the "hub" — an influence signal for
    // canonical selection beyond q_dedup_canonical's per-doc quality
    // argmax. All arithmetic is INTEGER nano-rank (per-neighbor
    // contribution r div deg, damping (85·m) div 100), so the fixpoint
    // iteration is bit-exact on both engines — no float accumulation
    // order to disagree on. Scale shape: each round is one edge⋈rank
    // join + one groupBy(dst) over the near-dup edge list (tiny —
    // survivors only) and the per-round label table is localCheckpointed
    // so the plan doesn't double per round (the CC-loop discipline);
    // the only driver traffic is the node count.
    "q_graph_pagerank" -> ((s, d) => {
      val pairs = ngramJaccardPairsMemo(s, d)
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      // degree-annotated edge list, materialized ONCE: the 5 rounds each
      // only join it with the current rank table — deriving deg inside
      // the loop re-ran the pair shuffle per round (measured 13.2 s →
      // ~6 s at sf0.1 after hoisting).
      val g = edges.join(
          edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
        .localCheckpoint()
      val nodes = Tables.documents(s, d).select(col("doc_id"))
        .localCheckpoint()
      val n = nodes.count() // bounded driver scalar (node count)
      val base = 1000000000L / n
      val tele = 15L * base / 100L
      var ranks = nodes.select(col("doc_id"), lit(base).as("r"))
        .localCheckpoint()
      for (_ <- 1 to 5) {
        val mass = g
          .join(ranks.withColumnRenamed("doc_id", "src"), "src")
          .select(col("dst"), expr("r div deg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        // lazy (r16): each round's checkpoint still truncates the plan
        // (the returned frame is a flat LogicalRDD) but materializes
        // only when the FINAL query runs — the rank table is consumed
        // exactly once per round, so eager per-round jobs bought
        // nothing except 5 extra scheduling barriers (the CC loop's
        // lazy-checkpoint argument without the convergence count).
        // Probe: 2.04 → 1.67 s min same-JVM A/B.
        ranks = nodes.join(mass, nodes("doc_id") === mass("dst"), "left")
          .select(col("doc_id"),
            expr(s"$tele + (85 * coalesce(m, 0L)) div 100").as("r"))
          .localCheckpoint(eager = false)
      }
      val deg = g.select(col("src"), col("deg")).distinct()
      ranks
        .join(deg, ranks("doc_id") === deg("src"), "left")
        .select(col("doc_id"), col("r").as("rank_nn"),
          coalesce(col("deg"), lit(0L)).as("deg"))
        .orderBy(col("doc_id"))
    }),

    // Triangle count + local clustering coefficient over the near-dup
    // graph — the density diagnostic that separates tight duplicate
    // cliques (template farms, boilerplate families: lcc → 1) from
    // chain-shaped borderline matches (lcc → 0), deciding between
    // keep-one-per-cluster and manual review. Edges are oriented
    // low-degree → high-degree endpoint (ties by id) before the wedge
    // self-join — the standard O(m^1.5) enumeration bound: every wedge
    // is generated at its lowest-degree vertex, so a degree-10⁶ hub on
    // a 100 TB near-dup graph contributes wedges only through its
    // (bounded-degree) neighbors, never deg² rows of its own. The
    // oriented edge list is localCheckpointed once (near-dup survivor
    // pairs only — tiny relative to the corpus) and the three
    // triangle-join probes read that one materialization. Counts and
    // the coefficient are pure integer arithmetic (lcc quantized as
    // (2e6·tri) div (deg·(deg−1))), so the oracle replays exactly.
    "q_graph_triangles" -> ((s, d) => {
      val pairs = ngramJaccardPairsMemo(s, d)
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      val dg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      // oriented edge (src → dst) iff (deg, id) of src < (deg, id) of
      // dst; carries the dst-side degree so the wedge join can compare
      // endpoint orders without re-joining degrees
      val o = edges
        .join(dg.withColumnRenamed("deg", "sd"), "src")
        .join(dg.select(col("src").as("dst"), col("deg").as("dd")), "dst")
        .where(col("sd") < col("dd") ||
          (col("sd") === col("dd") && col("src") < col("dst")))
        .select(col("src"), col("dst"), col("dd"))
        .localCheckpoint()
      // wedges at the lowest-order vertex, closed by a third probe of o:
      // orientation is a strict total order, so each triangle matches
      // exactly once
      val tri = o.as("e1")
        .join(o.as("e2"), col("e1.src") === col("e2.src") &&
          (col("e1.dd") < col("e2.dd") ||
            (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
        .select(col("e1.src").as("a"), col("e1.dst").as("b"),
          col("e2.dst").as("c"))
        .join(o.select(col("src").as("b"), col("dst").as("c")),
          Seq("b", "c"))
      val perNode = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("tri"))
      val docs = Tables.documents(s, d).select(col("doc_id"))
      docs
        .join(dg, docs("doc_id") === dg("src"), "left")
        .join(perNode, col("doc_id") === perNode("node"), "left")
        .select(col("doc_id"),
          coalesce(col("deg"), lit(0L)).as("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"),
          when(coalesce(col("deg"), lit(0L)) >= 2,
            expr("(2000000 * coalesce(tri, 0L)) div (deg * (deg - 1))"))
            .otherwise(lit(0L)).as("lcc_q"))
        .orderBy(col("doc_id"))
    }),

    // 2-core of the near-dup graph via iterated degree peeling
    // (Matula/Beck's k-core algorithm, the k=2 instance): repeatedly
    // drop every vertex of degree < 2 until fixpoint. The 2-core
    // separates CYCLE-BEARING duplicate families (template farms,
    // mutually-copying mirror sets — redundant evidence, safe to
    // machine-dedup) from tree/chain-shaped components (each pair edge
    // is the only evidence for its link — the review queue), the
    // structural complement of q_graph_triangles' local density score.
    // Exactly PeelRounds peeling rounds are unrolled in BOTH engines
    // (no data-dependent early stop, so the oracle replays round for
    // round); OperatorsSpec asserts the fixpoint is reached by then, so
    // the result IS the true 2-core. Scale shape: each round is one
    // groupBy(src) degree count plus two semi-join filters over the
    // SURVIVING near-dup edge list (tiny relative to the corpus, and
    // monotonically shrinking — peeling only removes), localCheckpointed
    // per round so the plan doesn't nest; rounds are bounded by the peel
    // depth (max chain overhang), not the component diameter, and each
    // is a fixed number of shuffles of a shrinking table — the classic
    // bounded-round MapReduce k-core shape.
    "q_graph_kcore" -> ((s, d) => {
      val pairs = ngramJaccardPairsMemo(s, d)
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      var alive = edges.localCheckpoint()
      for (_ <- 1 to PeelRounds) {
        val keep = alive.groupBy(col("src"))
          .agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 2)
          .select(col("src"))
        alive = alive
          .join(keep, Seq("src"), "semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "semi")
          .select(col("src"), col("dst"))
          // lazy (r16): the plan still truncates per round; the rounds
          // fold into the final consuming job instead of 6 eager jobs
          // (each round's persisted RDD computes once there — the keep
          // aggregate's stage materializes it before the semi-join
          // stage reads it back). Probe: 1.21 → 1.17 s min, and 6
          // fewer per-query scheduling barriers.
          .localCheckpoint(eager = false)
      }
      val coreDeg = alive.groupBy(col("src"))
        .agg(count(lit(1)).as("core_deg"))
      val docs = Tables.documents(s, d).select(col("doc_id"))
      docs.join(coreDeg, docs("doc_id") === coreDeg("src"), "left")
        .select(col("doc_id"),
          when(col("core_deg").isNull, 0L).otherwise(1L).as("in_2core"),
          coalesce(col("core_deg"), lit(0L)).as("core_deg"))
        .orderBy(col("doc_id"))
    }),

    // Multi-source BFS: hop distance from the manually-audited seed
    // set (the 2% sample doc_id % 50 == 0) through the CHUNK-SHARE
    // graph — two docs are adjacent when they share a content-defined
    // chunk (the q_dedup_cdc kernel), so provenance chains through
    // PARTIAL overlaps: A shares a passage with B, B shares a
    // different passage with C, and distance measures how far audited
    // trust (or taint, from a flagged seed set) extends through
    // copy-with-edit lineage. The near-dup Jaccard graph is useless
    // here BY DESIGN — its 0.5 whole-doc threshold yields tiny
    // star components (measured: nothing past hop 1), while
    // chunk-sharing is exactly the relation that chains. Frequent
    // chunks (shared by > 16 docs — boilerplate) are dropped before
    // pairing, the posting-length cap every similarity join needs at
    // scale (the stop-chunk analogue of prefix filtering) and the
    // bound that keeps per-chunk pair fan-out ≤ 16².
    //
    // Frontier BFS, the at-scale alternative to per-node shortest
    // paths: each round joins only the CURRENT frontier against the
    // edge list (shuffle ∝ frontier-adjacent edges, never the corpus),
    // newly-reached nodes anti-join away everything already labelled,
    // and the loop early-stops the round the frontier empties —
    // O(reached diameter) rounds, each one bounded driver scalar (the
    // frontier count). The 6-hop cap both bounds the loop and defines
    // the published semantics (min-hop ≤ 6; the recursive oracle
    // replays the same cap). The fixture graph genuinely reaches the
    // cap (depths 0-6 at sf0.01), so every round does real work.
    "q_graph_bfs" -> ((s, d) => {
      import graft.functions.TextFunctions.cdc_chunk_codes
      val rows = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(cdc_chunk_codes(col("text"))).as("code"))
        .select(col("doc_id"),
          expr("code % 1099511627776").as("chunk_hash"))
        .distinct()
      val keep = rows.groupBy(col("chunk_hash"))
        .agg(count(lit(1)).as("nd"))
        .where(col("nd") >= 2 && col("nd") <= 16)
        .select(col("chunk_hash"))
      val shared = rows.join(keep, Seq("chunk_hash"))
      val edges = shared
        .select(col("chunk_hash"), col("doc_id").as("src"))
        .join(shared.select(col("chunk_hash"), col("doc_id").as("dst")),
          Seq("chunk_hash"))
        .where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .distinct()
        .localCheckpoint() // six frontier joins reuse the edge list
      var dist = Tables.documents(s, d).select(col("doc_id"))
        .where(col("doc_id") % 50 === 0)
        .select(col("doc_id"), lit(0L).as("dist"))
        .localCheckpoint()
      var frontier = dist
      var round = 0
      var growing = true
      while (growing && round < 6) {
        round += 1
        val fresh = frontier
          .join(edges, frontier("doc_id") === edges("src"))
          .select(col("dst").as("doc_id"))
          .distinct()
          .join(dist.select(col("doc_id")), Seq("doc_id"), "anti")
          .select(col("doc_id"), lit(round.toLong).as("dist"))
          .localCheckpoint(eager = false)
        val grew = fresh.count()
        growing = grew > 0
        if (growing) {
          dist = dist.unionAll(fresh).localCheckpoint(eager = false)
          frontier = fresh
        }
      }
      dist.orderBy(col("doc_id"))
    }),

    // Content-defined-chunking dedup (the LBFS/rsync/CDC idea at token
    // granularity): chunk boundaries are cut where the rolling content
    // hash — here the trigram shingle hash ending at the boundary —
    // is ≡ 0 (mod 8), so boundaries are a function of CONTENT, not
    // offset. An insertion near the head of a copied document shifts
    // every fixed-width window but leaves all downstream CDC chunks
    // identical — exactly the duplication mode fixed-stride chunking
    // (q_text_chunk) and whole-text hashing (q_dedup_exact) both miss.
    // Emitted per doc: chunk count, cross-document duplicate chunks
    // (hash seen in ≥2 DISTINCT docs — internal repetition doesn't
    // count), and the token-weighted duplicated fraction. Scale shape:
    // chunking is a pure map stage (array HOFs over the scan — expected
    // chunk length 8 trigrams ≈ 10 tokens, so output rows ≈ n_tokens/10);
    // the only shuffles are the (chunk_hash → distinct-doc count)
    // aggregate and the hash-join back — both on hashes, never text.
    // Hashes ride the engine-neutral 40-bit fold, so the oracle replays
    // chunking byte-for-byte; 40-bit collisions are the documented
    // content-hash envelope (~1e-12 for fixture chunk volumes — same
    // argument as q_dedup_exact's xxhash64, and a production run widens
    // the fold, it doesn't change the plan). Chunking is the compiled
    // CdcChunkCodes expression — the array-HOF spelling ran interpreted
    // and CollapseProject inlined the split/hash arrays into every
    // per-element lambda (560 s CPU at sf0.1 vs sub-second compiled;
    // see the expression's doc comment).
    "q_dedup_cdc" -> ((s, d) => {
      import graft.functions.TextFunctions.cdc_chunk_codes
      val rows = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(cdc_chunk_codes(col("text"))).as("code"))
        .select(col("doc_id"),
          expr("code % 1099511627776").as("chunk_hash"),
          expr("code div 1099511627776").as("n_tok"))
      val occ = rows.groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      rows.join(occ, Seq("chunk_hash"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(col("n_tok")).as("tt"),
          sum(when(col("nd") >= 2, col("n_tok")).otherwise(0L)).as("dt"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          expr("(1000000 * dt) div tt").as("dup_ratio_q"))
        .orderBy(col("doc_id"))
    }),

    // Cluster resolution on the large-star/small-star path — the
    // diameter-independent web-scale swap for the pointer-jumping loop
    // above (Kiveris et al., "Connected Components in MapReduce and
    // Beyond"): same pair graph, same labels (asserted against
    // q_dedup_clusters' recursive-CTE oracle), but each round is two
    // edge-relinking shuffles whose work shrinks with the graph instead
    // of growing label-propagation frontiers — the variant to reach for
    // when a 100 TB near-dup graph has long chains.
    "q_dedup_clusters_stars" -> ((s, d) => {
      val pairs = ngramJaccardPairsMemo(s, d)
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val (labels, _) = connectedComponentsStars(docs, edges)
      labels.select(col("doc_id"), col("lbl").as("keep_id"),
          (col("doc_id") === col("lbl")).as("is_keeper"))
        .orderBy(col("doc_id"))
    }),

    // Canonical-document selection: the step after cluster resolution
    // that actually builds the deduplicated corpus — per near-dup
    // cluster, keep the highest-quality member (quality = distinct-word
    // count, an integer so the argmax is exactly reproducible; ties
    // break to the smallest doc_id). Composition of the pair pipeline,
    // connected components, and a per-cluster window argmax; the window
    // partitions by cluster label, so at scale it shuffles only
    // (doc_id, label, quality) triples — never text. Quality rides in
    // the SAME cached shingle projection the pair pipeline reads
    // (withQuality — CacheManager dedupes by logical plan, so both the
    // inverted index and the label seed hit one in-memory relation) and
    // is carried through the CC loop as payload: the whole query splits
    // the corpus text exactly once (it was the suite's slowest query
    // when quality came from a second scan).
    "q_dedup_canonical" -> ((s, d) => {
      // pairs from the session memo (one mining pass shared with every
      // graph consumer); quality is ONE extra projection scan — the
      // original fused-scan spelling saved that scan but re-mined the
      // whole pair pipeline per call (4.9 s vs ~1.4 s at sf0.1)
      val pairs = ngramJaccardPairsMemo(s, d)
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(array_distinct(split(col("text"), " "))).as("quality"),
          col("doc_id").as("lbl"))
      val (labels, _) = connectedComponents(docs, edges)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id"))
      labels.select(col("doc_id"), col("lbl").as("cluster_id"), col("quality"))
        .withColumn("rn", row_number().over(w))
        .withColumn("canonical", first(col("doc_id")).over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("cluster_id"), col("quality"),
          col("canonical").as("canonical_id"),
          (col("rn") === 1).as("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // Edit-distance fuzzy dedup: exact Levenshtein verify over blocked
    // candidates — catches single-character edits and reorderings that
    // set-based Jaccard scores bluntly. The blocking stage is the same
    // inverted shingle index as the Jaccard family (pairs sharing ≥ 3
    // rare trigrams; never all-pairs), so the O(len²) DP runs only on
    // the candidate survivors. Distance is unit-cost Levenshtein —
    // integer, engine-independent — thresholded at 25% of the longer
    // text (relative edit similarity ≥ 0.75). Text bodies join in by id
    // AFTER blocking: only (doc_a, doc_b) pairs flow through the index.
    "q_dedup_editdist" -> ((s, d) => {
      val g = withShingles(s, d)
      val ex = g.select(col("doc_id"), explode(col("sh")).as("shingle"))
      val rare = ex.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .where(col("df") <= ShingleDfCap)
        .select(col("shingle"))
      // self-join input materialized once (r15, [[jaccardPairsFrom]])
      val exRare = ex.join(rare, Seq("shingle")).localCheckpoint()
      val cand = exRare.as("a").join(exRare.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .where(col("inter") >= 3)
        .select(col("doc_a"), col("doc_b"))
      val t = Tables.documents(s, d).select(col("doc_id"), col("text"))
      cand
        .join(t.select(col("doc_id").as("doc_a"), col("text").as("ta")),
          "doc_a")
        .join(t.select(col("doc_id").as("doc_b"), col("text").as("tb")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"),
          greatest(length(col("ta")), length(col("tb"))).as("max_len"))
        // necessary condition first: dist ≥ |len gap|, so pairs whose
        // lengths differ by more than the budget never run the DP
        .where(abs(length(col("ta")) - length(col("tb"))).cast("double") <=
          col("max_len").cast("double") * 0.25)
        // banded DP: the threshold caps the band width at the per-pair
        // budget (O(len × budget) instead of O(len²)); distances within
        // the band are exact, beyond it the result is -1 (dropped by the
        // same ≤ budget predicate we'd apply anyway)
        .select(col("doc_a"), col("doc_b"),
          expr("levenshtein(ta, tb, CAST(floor(max_len * 0.25) AS INT))")
            .as("dist"),
          col("max_len"))
        .where(col("dist") >= 0 && col("dist").cast("double") <=
          col("max_len").cast("double") * 0.25)
        .select(col("doc_a"), col("doc_b"), col("dist"),
          (lit(1.0) - col("dist").cast("double") /
            col("max_len").cast("double")).as("edit_sim"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Fuzzy record linkage by JARO-WINKLER on the document head — the
    // typo-robust name/title matcher of entity-resolution pipelines,
    // here canonicalizing near-identical document openings. Candidates
    // come from standard BLOCKING, not all pairs: the (first two
    // tokens) key is an equi-join — at 100 TB the block key just gets
    // richer (more tokens / sorted-token signature), the plan shape is
    // unchanged, and per-block fan-out stays bounded because heads that
    // disagree in their first two tokens can't be linkage candidates at
    // a 0.9 threshold anyway. The score is the library's compiled
    // [[graft.functions.JaroWinkler]] expression, bit-identical to
    // DuckDB's jaro_winkler_similarity (rapidfuzz) — raw doubles cross
    // the oracle hash-compare with no quantization.
    "q_dedup_jarowinkler" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 48).as("h"),
        concat(element_at(split(col("text"), " "), 1), lit(" "),
          coalesce(try_element_at(split(col("text"), " "), lit(2)),
            lit(""))).as("blk"))
      docs.select(col("doc_id").as("doc_a"), col("h").as("ha"), col("blk"))
        .join(docs.select(col("doc_id").as("doc_b"), col("h").as("hb"),
          col("blk")), "blk")
        .where(col("doc_a") < col("doc_b"))
        .withColumn("jw",
          graft.functions.TextFunctions.jaro_winkler(col("ha"), col("hb")))
        .where(col("jw") >= 0.9)
        .select(col("doc_a"), col("doc_b"), col("jw"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // The linkage family's second scorer: unrestricted DAMERAU-
    // LEVENSHTEIN on the same blocked candidates — the transposition-
    // aware edit distance (adjacent-swap typos cost 1, not 2), which
    // Spark's builtin levenshtein can't express. Same blocking doctrine
    // as q_dedup_jarowinkler (equi-join on the first-two-tokens key);
    // the integer distance makes oracle parity exact by construction.
    "q_dedup_damerau" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 48).as("h"),
        concat(element_at(split(col("text"), " "), 1), lit(" "),
          coalesce(try_element_at(split(col("text"), " "), lit(2)),
            lit(""))).as("blk"))
      docs.select(col("doc_id").as("doc_a"), col("h").as("ha"), col("blk"))
        .join(docs.select(col("doc_id").as("doc_b"), col("h").as("hb"),
          col("blk")), "blk")
        .where(col("doc_a") < col("doc_b"))
        .withColumn("dl", graft.functions.TextFunctions
          .damerau_levenshtein(col("ha"), col("hb")))
        .where(col("dl") <= 10)
        .select(col("doc_a"), col("doc_b"), col("dl"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // The linkage DECISION stage — Fellegi-Sunter in miniature: the
    // three independent scorers (Jaro-Winkler typo similarity,
    // transposition-aware edit distance, token-set Jaccard) vote on the
    // SAME blocked candidates and a pair links on ≥ 2 agreements.
    // Fusion is the point: at sf0.1 two pairs link that no single
    // feature's threshold admits alone, and 28 single-feature
    // borderliners are rejected. One blocked join computes all three
    // features in a single projection — the decision adds NO plan
    // stages over a single-feature pass.
    "q_dedup_linkage" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 48).as("h"),
        concat(element_at(split(col("text"), " "), 1), lit(" "),
          coalesce(try_element_at(split(col("text"), " "), lit(2)),
            lit(""))).as("blk"))
      docs.select(col("doc_id").as("doc_a"), col("h").as("ha"), col("blk"))
        .join(docs.select(col("doc_id").as("doc_b"), col("h").as("hb"),
          col("blk")), "blk")
        .where(col("doc_a") < col("doc_b"))
        .withColumn("jw",
          graft.functions.TextFunctions.jaro_winkler(col("ha"), col("hb")))
        .withColumn("dl", graft.functions.TextFunctions
          .damerau_levenshtein(col("ha"), col("hb")))
        .withColumn("wa", array_distinct(split(col("ha"), " ")))
        .withColumn("wb", array_distinct(split(col("hb"), " ")))
        .withColumn("it", size(array_intersect(col("wa"), col("wb")))
          .cast("long"))
        .withColumn("jac_pm", expr(
          "(1000 * it) div (size(wa) + size(wb) - it)"))
        .withColumn("votes",
          (col("jw") >= 0.9).cast("long") +
            (col("dl") <= 10).cast("long") +
            (col("jac_pm") >= 600).cast("long"))
        .where(col("votes") >= 2)
        .select(col("doc_a"), col("doc_b"), col("votes"), col("jw"),
          col("dl"), col("jac_pm"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Benchmark-contamination check: which corpus documents share ≥ 5
    // word trigrams with any document in the held-out set (source src0
    // stands in for an eval benchmark)? The scale shape is the same
    // inverted-index discipline as the Jaccard pair query, but CROSS-SET
    // (corpus × eval, not corpus × corpus): only the eval side's posting
    // list — millions of times smaller than the corpus at 100 TB — is
    // joined against corpus shingles, and the overlap count falls out of
    // the join-row groupBy; no shingle arrays travel. (The df-cap is not
    // applied here: contamination wants exact overlap counts, and the
    // eval side bounds the fan-out per shingle by ITS df, not the
    // corpus's.)
    "q_contamination" -> ((s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val ex = withShingles(s, d)
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
        .join(src, "doc_id")
      val evalEx = ex.where(col("source") === "src0")
        .select(col("doc_id").as("eval_id"), col("shingle"))
      val corpEx = ex.where(col("source") =!= "src0")
        .select(col("doc_id").as("corpus_id"), col("shingle"))
      corpEx.join(evalEx, "shingle")
        .groupBy(col("corpus_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 5)
        .orderBy(col("corpus_id"), col("eval_id"))
    }),

    // SPAN-level contamination — the Lee/Brown-style decontamination
    // report (GPT-3/PaLM's "remove any ≥N-gram overlap with the evals"
    // pass, at this library's MinLen = 8 window): where q_contamination
    // counts SHARED SHINGLES per (corpus, eval) pair — good for "which
    // eval leaked where" — this query answers the operational question
    // "which TOKENS of which corpus docs must be excised", by pointing
    // the substring-dedup machinery at a bipartite corpus. Corpus-side
    // positional 8-grams hit the DISTINCT eval gram set (source 'src0'
    // = the benchmark slice) through a semi join on the same 80-bit
    // hashed-gram pair the despan family shuffles (16 key bytes; the
    // eval set broadcasts as hashes, never text); hit windows tile the
    // maximal contaminated span exactly (every window start inside a
    // ≥8-token overlap is itself a hit — the q_dedup_substring_rebuild
    // tiling argument), so the per-doc interval union emits the true
    // spans with no extension pass. The union merges ADJACENT intervals
    // too (new span only when s0 > rm + 1): two abutting 8-token hits
    // at p and p+8 cover positions p..p+15 with no gap, ONE maximal
    // contaminated run of 16 — the same semantics as the streaming
    // gate's position-set islands and the first-principles token-level
    // replay in ContaminationSemanticSpec. (Strict s0 > rm would split
    // that run in two; ADVICE r11.) Output: every non-eval doc with its
    // contaminated span count, token mass, and longest span — zeros
    // kept, so the table is the decontamination WORKLIST.
    "q_contamination_spans" -> ((s, d) => {
      import graft.functions.VectorFunctions.{neutral_hash40, neutral_hash40b}
      import org.apache.spark.sql.expressions.Window
      val ml = SubstringDedup.MinLen
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      def grams(df: DataFrame): DataFrame = df.where(size(col("w")) >= ml)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(w) - ${ml - 1}), p -> struct(
             |  p AS p, concat_ws(' ', slice(w, p, $ml)) AS gram))"""
            .stripMargin)).as("x"))
        .select(col("doc_id"), col("x.p").as("p"),
          neutral_hash40(col("x.gram")).as("h1"),
          neutral_hash40b(col("x.gram")).as("h2"))
      val evalG = grams(toks.where(col("source") === "src0"))
        .select(col("h1"), col("h2")).distinct()
      val marked = grams(toks.where(col("source") =!= "src0"))
        .join(evalG, Seq("h1", "h2"), "left_semi")
        .select(col("doc_id"), col("p").as("s0"),
          (col("p") + lit(ml - 1)).as("e0"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s0"), col("e0"))
      val merged = marked
        .withColumn("rm", max(col("e0"))
          .over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("ng",
          when(col("rm").isNull || col("s0") > col("rm") + 1, 1L)
            .otherwise(0L))
        .withColumn("g", sum(col("ng"))
          .over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("g"))
        .agg(min(col("s0")).as("s"), max(col("e0")).as("e"))
      val perDoc = merged.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1).cast("long").as("contam_tokens"),
          max(col("e") - col("s") + 1).cast("long").as("max_span"))
      toks.where(col("source") =!= "src0").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("contam_tokens"), lit(0L)).as("contam_tokens"),
          coalesce(col("max_span"), lit(0L)).as("max_span"))
        .orderBy(col("doc_id"))
    }),

    // SEMANTIC contamination (r9 verdict item 6): eval-set leakage in
    // PARAPHRASED form — high cosine, low shingle overlap — which the
    // exact check above provably misses (ContaminationSemanticSpec
    // plants a reversed-word rewrite: zero shared trigrams, cos ≈ 1).
    // Composition: the SRP band stage of q_dedup_embedding_lsh, made
    // BIPARTITE — eval vectors (label 0, the benchmark embeddings) only
    // ever join corpus vectors (label ≠ 0), so candidate volume is the
    // band-collision rate times |eval|·|corpus|, never the corpus
    // self-join — then the same decimal-exact rescore at τ = 0.35 (the
    // paraphrase regime sits far above any isotropic tail; at cos 0.9
    // band recall is 1−2e-5, see the LSH comment above). At 100 TB the
    // eval side is tiny and effectively broadcast: the corpus is
    // scanned once for signatures, and only colliding (band, bucket)
    // cells ever pair. Same MaxSrpBucket skew fence, hot cells derived
    // from the corpus side (the side that can degenerate).
    "q_contamination_semantic" -> ((s, d) => {
      import graft.functions.VectorFunctions.{decimal_dot, srp_band_keys}
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val bk = e
        .select(col("vec_id"), col("label"),
          posexplode(srp_band_keys(col("v"), Bands, Bits)))
        .select(col("vec_id"), col("label"),
          struct(col("pos").as("band"), col("col").as("bucket")).as("bk"))
        .cache()
      val hot = bk.where(col("label") =!= 0)
        .groupBy(col("bk")).agg(count(lit(1)).as("bsz"))
        .where(col("bsz") > MaxSrpBucket).select(col("bk"))
      val corpBk = bk.where(col("label") =!= 0)
        .join(hot, Seq("bk"), "left_anti")
        .select(col("bk"), col("vec_id").as("corpus_id"))
      val evalBk = bk.where(col("label") === 0)
        .select(col("bk"), col("vec_id").as("eval_id"))
      val cand = corpBk.join(evalBk, "bk")
        .select(col("corpus_id"), col("eval_id"))
        .distinct()
      val n = e.select(col("vec_id"), col("v"),
        decimal_dot(col("v"), col("v")).cast("double").as("nsq"))
      cand
        .join(n.select(col("vec_id").as("corpus_id"), col("v").as("va"),
          col("nsq").as("na")), "corpus_id")
        .join(n.select(col("vec_id").as("eval_id"), col("v").as("vb"),
          col("nsq").as("nb")), "eval_id")
        .where(cosine_sim(col("va"), col("vb")) > 0.349)
        .select(col("corpus_id"), col("eval_id"),
          (decimal_dot(col("va"), col("vb")).cast("double") /
            sqrt(col("na") * col("nb"))).as("cos"))
        .where(col("cos") > 0.35)
        .orderBy(col("corpus_id"), col("eval_id"))
    }),

    // ==================== FIXTURE-SCALE ONLY ====================
    // The candidate stage below is an all-pairs nested-loop join:
    // Ω(n²) comparisons. It exists ONLY as the exact ground-truth
    // baseline the oracle checks the LSH path against. NEVER use this
    // query as a template for corpus-scale embedding dedup — that is
    // q_dedup_embedding_lsh below (bucketed candidates, no cross
    // product, plan-asserted in PlanSpec).
    // ============================================================
    // Embedding near-dup, exact baseline: codegen'd double cosine
    // prefilter (custom Catalyst expression, whole-stage codegen) +
    // decimal-exact cosine on survivors so the oracle hash is
    // order-independent. The candidate stage IS all-pairs — deliberately:
    // the fixture's embeddings are isotropic noise (measured: max pair
    // cos ≈ 0.5-0.6, and the τ=0.4 output is a continuous tail starting
    // at 0.401), and NO exact pruning scheme separates cos 0.4 from 0.39
    // on isotropic data — an exact τ=0.4 join is Ω(n²) comparisons there.
    // This query is the exact ground truth; the 100 TB path is
    // q_dedup_embedding_lsh below, which never builds the cross product.
    "q_dedup_embedding" -> ((s, d) => {
      import graft.functions.VectorFunctions.decimal_dot
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          col("embedding").cast("array<double>").as("v"))
      val pre = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .where(cosine_sim(col("a.embedding"), col("b.embedding")) > 0.399)
      pre.select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          (decimal_dot(col("a.v"), col("b.v")).cast("double") /
            sqrt(decimal_dot(col("a.v"), col("a.v")).cast("double") *
                 decimal_dot(col("b.v"), col("b.v")).cast("double")))
            .as("cos"))
        .where(col("cos") > 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Embedding near-dup, SRP-LSH-bucketed (the scale path): 64 bands ×
    // 12 sign-bits of deterministic random hyperplane projections; a pair
    // is a candidate iff some band's 12 bits all agree; candidates get the
    // same decimal-exact rescore at τ=0.4. The plan contains NO cross
    // product — candidates come from an equi-join on (band, bucket).
    //
    // Tuning is for the real near-dup regime, not this noise fixture: at
    // cos 0.9 (p = 1 - θ/π = 0.856) recall is 1-(1-p^12)^64 ≈ 1-2e-5 and
    // an isotropic pair becomes a candidate w.p. 1-(1-2^-12)^64 ≈ 0.015 —
    // 98.5% of the quadratic candidate space never materializes. On this
    // fixture's τ=0.4 tail (p = 0.63) recall is ~0.22 by design — which
    // the oracle reproduces bit-exactly, because the hyperplanes derive
    // from a fixed integer hash both engines compute identically.
    "q_dedup_embedding_lsh" -> ((s, d) => {
      import graft.functions.VectorFunctions.{decimal_dot, srp_band_keys}
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // compiled SRP signature (array index = band, value = bucket);
      // posexplode recovers the band id so the join key is (band, bucket)
      // cached: consumed by the size census AND both sides of the
      // candidate self-join — one SRP evaluation (768 planes × 64 dims
      // per vector) instead of three; (vec_id, band, bucket) rows are a
      // few MB at fixture scale, and at corpus scale this table is the
      // thing you'd persist/bucket-partition anyway. Harness clears the
      // session cache per query.
      val bk = e
        .select(col("vec_id"),
          posexplode(srp_band_keys(col("v"), Bands, Bits)))
        .select(col("vec_id"),
          struct(col("pos").as("band"), col("col").as("bucket")).as("bk"))
        .cache()
      // Explicit skew bound: a (band,bucket) cell of size k fans out to
      // k(k-1)/2 candidate rows, so one degenerate bucket (all-zero
      // vectors, a constant embedding column, an adversarial cluster)
      // could dominate the whole join at corpus scale. Cells above
      // MaxSrpBucket are dropped from THIS band — the same pair stays
      // discoverable through its other 63 bands, exactly the
      // stop-shingle argument of ShingleDfCap. Measured fixture max cell
      // is 98 (sf0.1) / 31 (sf0.01), so 256 is provably inactive here
      // and the oracle (which has no cap) checks that: OperatorsSpec
      // asserts the margin.
      val hot = bk.groupBy(col("bk")).agg(count(lit(1)).as("bsz"))
        .where(col("bsz") > MaxSrpBucket).select(col("bk"))
      val cold = bk.join(hot, Seq("bk"), "left_anti")
      val cand = cold.as("a").join(cold.as("b"),
          col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      // norms once per VECTOR (n rows), not once per candidate pair —
      // label-clustered data collides far above the isotropic estimate
      // (175k candidates at sf0.1), so per-pair norm recompute is 2/3 of
      // the rescore for nothing
      val n = e.select(col("vec_id"), col("v"),
        decimal_dot(col("v"), col("v")).cast("double").as("nsq"))
      cand
        .join(n.select(col("vec_id").as("vec_a"), col("v").as("va"),
          col("nsq").as("na")), "vec_a")
        .join(n.select(col("vec_id").as("vec_b"), col("v").as("vb"),
          col("nsq").as("nb")), "vec_b")
        // codegen'd double prefilter before the decimal rescore, same
        // margin argument as q_dedup_embedding: double and decimal
        // cosine agree to ~1e-9, so a 1e-3 threshold slack is lossless —
        // and it spares ~all of the 175k-candidate BigDecimal work
        .where(cosine_sim(col("va"), col("vb")) > 0.399)
        .select(col("vec_a"), col("vec_b"),
          (decimal_dot(col("va"), col("vb")).cast("double") /
            sqrt(col("na") * col("nb"))).as("cos"))
        .where(col("cos") > 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // ==================== THE END-TO-END PIPELINE ====================
    // The north-star composition: quality funnel → exact dedup →
    // near-dup clustering → canonical selection → per-domain cap →
    // token-shard packing, as ONE DataFrame DAG over ONE corpus scan.
    // Everything derives from a single cached projection (doc_id,
    // source, lang, text, token stats, shingles) — PlanSpec asserts the
    // final plan reads `documents` at most twice. The per-stage
    // operators exist standalone elsewhere in this library; this query
    // is what a user actually runs, and its oracle is the per-stage
    // oracles composed into one CTE chain.
    //
    // Scale notes, stage by stage: the funnel is scan-stage predicates;
    // exact dedup is one window over (content-hash, length) — text
    // travels that shuffle once, never again (same collision envelope
    // as q_dedup_incremental); pair candidates come from the inverted
    // shingle index (df-capped, no cross product); CC carries
    // (source, lang, n_tok, quality) as loop payload so no post-CC
    // corpus join; canonical/cap/packing are windows over id-sized
    // rows. Hash ranks, integer quality, and integer bin arithmetic
    // keep every stage engine-replayable.
    "q_pipeline_e2e" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // observe survivor counts on the CC-seed instance only: funnel +
      // exact fire with the label table's eager checkpoint, canonical +
      // capped with the final job (harvested by Verify/Bench's
      // QueryExecutionListener — no extra scan for any of the four)
      // exact survivors are a document SUBSET under the same ShingleExpr,
      // so the corpus-level df bound dominates this stage's feature set
      // (dropping documents can only lower a shingle's df) — the guard
      // entry is usually already warm from the dedup family
      assertDfCapInactive(s, s"$d#corpus", withShingles(s, d))
      val exact = e2eExact(s, d, observed = true)
      // stage 3: near-dup pairs among the exact survivors
      val pairs = e2eCandidates(s, d)
        .select(col("doc_a"), col("doc_b")).cache()
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      // stage 4: connected components, metadata carried as payload
      val docs = exact.select(col("doc_id"), col("source"), col("lang"),
        col("n_tok").cast("long").as("n_tok"), col("quality"),
        col("doc_id").as("lbl"))
      val (labels, _) = connectedComponents(docs, edges)
      pairs.unpersist()
      // stage 5: canonical member per cluster (max quality, tie min id)
      val wc = Window.partitionBy(col("lbl"))
        .orderBy(col("quality").desc, col("doc_id"))
      val canon = labels.withColumn("rn", row_number().over(wc))
        .where(col("rn") === 1)
        .observe("e2e_canonical", count(lit(1)).as("rows"))
      // stage 6: per-domain cap (hash rank, at most 10 docs per source)
      val wd = Window.partitionBy(col("source"))
        .orderBy(col("hs"), col("doc_id"))
      val capped = canon
        .withColumn("hs",
          expr("shiftright((doc_id % 1048576) * 2654435761, 16)"))
        .withColumn("rk", row_number().over(wd))
        .where(col("rk") <= 10)
        .observe("e2e_capped", count(lit(1)).as("rows"))
      // stage 7: pack survivors into 2048-token shards per language
      val wp = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      capped
        .withColumn("cum", sum(col("n_tok")).over(wp))
        .withColumn("bin", ((col("cum") - col("n_tok")) / 2048).cast("long"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
          col("bin"))
        .orderBy(col("doc_id"))
    }),

    // ================= THE END-TO-END PIPELINE, v2 ====================
    // v1's stage order predates substring dedup (r9 verdict): the
    // Lee-et-al. production order runs exact-substring SPAN REMOVAL on
    // the deduplicated corpus — exact dedup FIRST (the measured ×100
    // lesson: replica cliques both explode the suffix buckets and break
    // df-capped shingles, SCALE.md §12), then the despan rebuild, and
    // only then near-dup clustering, canonical selection, cap, and
    // packing — all downstream stages consuming the CLEANED text:
    // shingles, quality, and token counts are recomputed on the
    // despanned arrays, so packing bins reflect the tokens a trainer
    // would actually see. Stage shapes are the standalone operators'
    // (q_dedup_substring_rebuild's ownership window + RemoveTokensAt;
    // v1's CC/canonical/cap/pack); everything still derives from the
    // ONE cached e2eExact projection (despan re-splits survivor text in
    // a projection — no extra corpus read, PlanSpec pins ≤2), and the
    // emitted rows carry the per-doc removed-token count so the despan
    // stage's work is visible in the output.
    "q_pipeline_e2e_v2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.{neutral_hash40, neutral_hash40b}
      val ml = SubstringDedup.MinLen
      val surv = e2eExact(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          split(col("text"), " ").as("w"))
      // substring despan over the exact survivors (occurrence-grain
      // ownership — the q_dedup_substring_rebuild stage verbatim:
      // SubstringDedup.MinLen interpolated, not hardcoded, so a window
      // change there can't silently decouple this pipeline (ADVICE
      // r10), and the ownership key is the same 80-bit hashed-gram pair
      // so the position exchange never carries gram text)
      val pos = surv.where(size(col("w")) >= ml)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(w) - ${ml - 1}), p -> struct(
             |  p AS p, concat_ws(' ', slice(w, p, $ml)) AS gram))"""
            .stripMargin)).as("x"))
        .select(col("doc_id"), col("x.p").as("p"),
          neutral_hash40(col("x.gram")).as("h1"),
          neutral_hash40b(col("x.gram")).as("h2"))
      val rm = pos
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("h1"), col("h2"))
            .orderBy(col("doc_id"), col("p"))))
        .where(col("rn") > 1)
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + lit(ml - 1))).as("q"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("q"))).as("ps"))
      // rebuild + REFUNNEL: a despanned doc below the 30-token floor no
      // longer carries enough signal to train on and exits the pipeline
      val clean = surv.join(rm, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("lang"),
          coalesce(size(col("ps")), lit(0)).cast("long").as("n_rm"),
          when(col("ps").isNull, concat_ws(" ", col("w")))
            .otherwise(graft.functions.TextFunctions.remove_tokens_at(
              col("w"), expr("transform(ps, x -> x - 1)"))).as("ct"))
        .select(col("doc_id"), col("source"), col("lang"), col("n_rm"),
          split(col("ct"), " ").as("toks"))
        .where(size(col("toks")) >= 30)
        // The despanned corpus feeds the cleaned-shingle table (whose
        // pair miner reads it on BOTH sides of [[jaccardPairsFrom]]'s
        // df aggregate + posting join) AND the CC label/canonical
        // stage — left as a plan, the despan chain above (two
        // corpus-sized window exchanges) re-ran per consumer (r16; the
        // r15 exRare argument one stage earlier). One materialization
        // per invocation; at 100 TB the despanned corpus IS a stored
        // pipeline stage, not a per-consumer derivation.
        .localCheckpoint()
      // near-dup clustering on the CLEANED shingles. Despanning can
      // splice NEW trigrams into existence (tokens on either side of a
      // removed span become adjacent), so the corpus-level df bound does
      // NOT carry over — this stage guards its own feature set.
      val g2 = clean.select(col("doc_id"), expr(ShingleExpr).as("sh"))
      assertDfCapInactive(s, s"$d#e2e_v2_clean", g2)
      val pairs = jaccardPairsFrom(g2)
        .select(col("doc_a"), col("doc_b")).cache()
      val edges = pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      val docs = clean.select(col("doc_id"), col("source"), col("lang"),
        col("n_rm"), size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).as("quality"),
        col("doc_id").as("lbl"))
      val (labels, _) = connectedComponents(docs, edges)
      pairs.unpersist()
      val wc = Window.partitionBy(col("lbl"))
        .orderBy(col("quality").desc, col("doc_id"))
      val canon = labels.withColumn("rn", row_number().over(wc))
        .where(col("rn") === 1)
      val wd = Window.partitionBy(col("source"))
        .orderBy(col("hs"), col("doc_id"))
      val capped = canon
        .withColumn("hs",
          expr("shiftright((doc_id % 1048576) * 2654435761, 16)"))
        .withColumn("rk", row_number().over(wd))
        .where(col("rk") <= 10)
      val wp = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      capped
        .withColumn("cum", sum(col("n_tok")).over(wp))
        .withColumn("bin", ((col("cum") - col("n_tok")) / 2048).cast("long"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
          col("n_rm"), col("bin"))
        .orderBy(col("doc_id"))
    }),

    // Exact set-similarity self-join via PREFIX FILTERING (the PPJoin
    // family's core): trigram-shingle Jaccard ≥ 1/2 with NO false
    // negatives (unlike LSH) and NO df-cap compromise (unlike the
    // stop-capped inverted index above) — the third point in the
    // exact/approx design space, on the SAME shingle kernel as the
    // rest of the dedup family. Each document's shingles sort by a
    // global rarity order that is IMPLICIT in the (df, shingle) sort
    // key — no vocabulary-wide ranking pass, no global window — and
    // only the first ⌊s/2⌋+1 shingles (s − ⌈τ·s⌉ + 1 for τ = 1/2)
    // enter the candidate join: if J(A,B) ≥ τ the sets must share an
    // element in BOTH prefixes under any common total order
    // (pigeonhole: the excluded suffixes are too small to cover the
    // required overlap), so the filter is lossless — and the DuckDB
    // oracle PROVES it by considering every shingle-sharing pair.
    // Candidates also length-filter (τ = 1/2 ⇒ sizes within 2×).
    // Verification counts shared shingles only for surviving pairs,
    // and the τ test is the integer identity J ≥ 1/2 ⟺
    // 3·inter ≥ sa + sb — no float anywhere. Scale shape: the df
    // table is one shingle aggregate; candidate fan-out is per PREFIX
    // shingle — the rarest by construction, so the join has the
    // OPPOSITE skew profile of a raw inverted index; the verify joins
    // key on (doc, shingle) and touch only candidates.
    "q_dedup_prefix_filter" -> ((s, d) => {
      val t = withShingles(s, d)
        .select(col("doc_id"), explode(col("sh")).as("tok"))
      val dfreq = t.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // The prefix is a RANK cut, not an array build: ranking each
      // doc's shingles by the global (df, shingle) order with a
      // per-doc window costs one doc_id-partitioned sort and streams —
      // the collect_list/sort_array/slice spelling materializes every
      // doc's full shingle set as an array through the same shuffle
      // and measured ~2× slower at both probe factors (SCALE.md §12).
      import org.apache.spark.sql.expressions.Window
      val wDoc = Window.partitionBy(col("doc_id"))
      val pref = t.join(dfreq, "tok")
        .withColumn("sz", count(lit(1)).over(wDoc).cast("long"))
        .withColumn("rn", row_number().over(
          wDoc.orderBy(col("df"), col("tok"))))
        .where(col("rn") <= expr("sz div 2 + 1"))
        // df=1 prefix tokens exist in exactly ONE doc (df counts docs —
        // shingle sets are distinct per doc), so they cannot match in
        // the pair join below; they still had to exist upstream for the
        // rank cut (dropping them BEFORE rn would shift every doc's
        // prefix boundary). Trigram shingles are mostly unique, so this
        // removes the bulk of the self-join input without changing its
        // output.
        .where(col("df") >= 2)
        .select(col("doc_id"), col("sz"), col("tok"))
        // both sides of the candidate self-join read the prefix table;
        // materialized once per invocation (r15: the df-join + double
        // window above otherwise runs twice — measured ~−10% on the
        // query, same-JVM A/B). At scale this is the PPJoin prefix
        // index a production pass stores, same argument as
        // [[jaccardPairsFrom]]'s posting table.
        .localCheckpoint()
      val cand = pref.select(col("tok"), col("doc_id").as("doc_a"),
          col("sz").as("sa"))
        .join(pref.select(col("tok"), col("doc_id").as("doc_b"),
          col("sz").as("sb")), "tok")
        .where(col("doc_a") < col("doc_b") &&
          col("sb") <= col("sa") * 2 && col("sa") <= col("sb") * 2)
        .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
        .distinct()
      // Verification by doc-level set intersection, not a token-level
      // pair join: collecting each doc's (distinct) shingles into one
      // array costs a single doc_id aggregate of t, and each surviving
      // pair is checked with a hash-set array_intersect — versus
      // shuffling the full token table through TWO pair joins and a
      // (pair × shared-token)-row groupBy. The intermediate is one row
      // per candidate pair (arrays in tow), never one per shared
      // shingle; shingle sets are list_distinct by construction so
      // |array_intersect| IS the overlap count.
      val docArr = t.groupBy(col("doc_id"))
        .agg(collect_list(col("tok")).as("toks"))
        .localCheckpoint() // verify side: read twice (doc_a and doc_b)
      cand
        .join(docArr.select(col("doc_id").as("doc_a"),
          col("toks").as("ta")), "doc_a")
        .join(docArr.select(col("doc_id").as("doc_b"),
          col("toks").as("tb")), "doc_b")
        .withColumn("inter",
          size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .where(lit(3) * col("inter") >= col("sa") + col("sb"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("sa"),
          col("sb"),
          expr("(1000 * inter) div (sa + sb - inter)").as("jac_pm"))
        .orderBy(col("doc_a"), col("doc_b"))
    })
  )

  /** SRP-LSH banding for the embedding near-dup: 64 bands × 12 bits. */
  private val Bands = 64
  private val Bits = 12

  /** Per-(band,bucket) size cap for the SRP candidate join — see the
    * comment at its use site. Package-visible so OperatorsSpec can assert
    * the fixture margin (max measured cell 98 at sf0.1). */
  private[graft] val MaxSrpBucket = 256

  /** DuckDB twin of the exact trigram-Jaccard pair query (also the oracle
    * for the LSH variant — see q_dedup_minhash_lsh's recall argument). */
  private val ngramOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
      |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                       for i in generate_series(1, len(w) - 2)])
      |      ELSE [array_to_string(w, ' ')] END AS sh
      |      FROM t),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        len(list_intersect(a.sh, b.sh)) AS inter,
      |        len(a.sh) AS na, len(b.sh) AS nb
      |      FROM g a JOIN g b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, inter / (na + nb - inter) AS jaccard
      |FROM p WHERE inter / (na + nb - inter) > 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, text
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q_dedup_incremental" ->
      """SELECT doc_id, text FROM documents d
        |WHERE source = 'src0' AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.source <> 'src0' AND c.text = d.text)
        |ORDER BY doc_id""".stripMargin,

    // Replays the bloom filter's bit array as a position SET: every
    // corpus text folds to its base hash (codepoint spelling of the
    // UTF-8 byte fold — equal on ASCII fixtures), each base sets K=3
    // Knuth-family positions, and a delta doc is bloom-positive iff all
    // 3 of its own probe positions are in the set — definitionally the
    // same verdict as reading the packed 64-long words.
    "q_dedup_bloom" ->
      """WITH delta AS (SELECT doc_id, text FROM documents
        |               WHERE doc_id % 3 = 0),
        |corpus AS (SELECT text FROM documents WHERE doc_id % 6 <> 3),
        |cb AS (SELECT DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(text, ''),
        |           c -> CAST(ascii(c) AS BIGINT))),
        |         (h, c) -> (h * 31 + c) % 1048576) AS base
        |       FROM corpus),
        |r AS (SELECT UNNEST([0, 1, 2]) AS r),
        |setpos AS (SELECT DISTINCT
        |             ((base * (2654435761 + r)) >> 16) % 4096 AS p
        |           FROM cb CROSS JOIN r),
        |db AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(text, ''),
        |           c -> CAST(ascii(c) AS BIGINT))),
        |         (h, c) -> (h * 31 + c) % 1048576) AS base
        |       FROM delta),
        |probe AS (SELECT doc_id,
        |            ((base * (2654435761 + r)) >> 16) % 4096 AS p
        |          FROM db CROSS JOIN r),
        |hits AS (SELECT pr.doc_id,
        |           CAST(CASE WHEN COUNT(sp.p) = 3 THEN 1 ELSE 0 END
        |                AS BIGINT) AS bloom_hit
        |         FROM probe pr LEFT JOIN setpos sp ON sp.p = pr.p
        |         GROUP BY pr.doc_id),
        |td AS (SELECT d.doc_id, CAST(CASE WHEN EXISTS (
        |           SELECT 1 FROM corpus c WHERE c.text = d.text)
        |         THEN 1 ELSE 0 END AS BIGINT) AS true_dup
        |       FROM delta d)
        |SELECT h.doc_id, h.bloom_hit, t.true_dup
        |FROM hits h JOIN td t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_ngram_jaccard" -> ngramOracle,

    // Full-set containment replay (no df cap — the Spark side ASSERTS
    // the cap is inactive via assertDfCapInactive, so capped ≡ uncapped
    // is a checked precondition, not an argument), both directions from
    // one a<b pair table.
    "q_dedup_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |u AS (
        |  SELECT doc_a AS contained, doc_b AS container,
        |    CAST(FLOOR(inter / na * 1e6) AS BIGINT) AS containment_q
        |  FROM p
        |  UNION ALL
        |  SELECT doc_b, doc_a,
        |    CAST(FLOOR(inter / nb * 1e6) AS BIGINT)
        |  FROM p)
        |SELECT contained, container, containment_q FROM u
        |WHERE containment_q > 800000
        |ORDER BY contained, container""".stripMargin,
    "q_dedup_minhash_lsh" -> ngramOracle,

    // Full replay of the SimHash pipeline: shingles → neutral 40-bit
    // fold → per-bit votes → signature → 8×5-bit bands → hamming ≤ 7.
    "q_dedup_simhash" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |e AS (SELECT doc_id, UNNEST(sh) AS sg FROM g),
        |h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(sg, ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (h, c) -> (h * 1000003 + c) % 1099511627776) AS hv
        |      FROM e),
        |bits AS (SELECT UNNEST(generate_series(0, 39)) AS b),
        |votes AS (SELECT doc_id, b,
        |            SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM h CROSS JOIN bits GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |          CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
        |                        ELSE 0 END) AS BIGINT) AS simhash
        |        FROM votes GROUP BY doc_id),
        |ck AS (SELECT doc_id, simhash, c, (simhash >> (c * 5)) & 31 AS cv
        |       FROM sig CROSS JOIN
        |         (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS c)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           a.simhash AS sa, b.simhash AS sb
        |         FROM ck a JOIN ck b
        |           ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sa, sb)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Candidates from full shingle-set intersections (the df-cap is
    // provably inactive on the fixtures — same argument as the Jaccard
    // twin); unit-cost Levenshtein is integer and engine-independent.
    // All three features in DuckDB's own spellings (native JW + DL,
    // list_intersect token Jaccard — both engines dedup before
    // intersecting); floor-div on positive jac_pm so div and // agree.
    "q_dedup_linkage" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 48) AS h,
        |             split_part(text, ' ', 1) || ' ' ||
        |             split_part(text, ' ', 2) AS blk
        |           FROM documents),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        a.h AS ha, b.h AS hb
        |      FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |f AS (SELECT doc_a, doc_b,
        |        jaro_winkler_similarity(ha, hb) AS jw,
        |        CAST(damerau_levenshtein(ha, hb) AS BIGINT) AS dl,
        |        len(list_intersect(list_distinct(string_split(ha, ' ')),
        |                           list_distinct(string_split(hb, ' '))))
        |          AS it,
        |        len(list_distinct(string_split(ha, ' '))) AS sa,
        |        len(list_distinct(string_split(hb, ' '))) AS sb
        |      FROM p),
        |v AS (SELECT doc_a, doc_b, jw, dl,
        |        CAST((1000 * it) // (sa + sb - it) AS BIGINT) AS jac_pm,
        |        CAST((jw >= 0.9) AS BIGINT) + CAST((dl <= 10) AS BIGINT) +
        |          CAST(((1000 * it) // (sa + sb - it) >= 600) AS BIGINT)
        |          AS votes
        |      FROM f)
        |SELECT doc_a, doc_b, votes, jw, dl, jac_pm
        |FROM v WHERE votes >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Same blocking, DuckDB's native damerau_levenshtein — the compiled
    // expression implements the identical unrestricted Lowrance-Wagner
    // DP; integers, so parity is definitional.
    "q_dedup_damerau" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 48) AS h,
        |             split_part(text, ' ', 1) || ' ' ||
        |             split_part(text, ' ', 2) AS blk
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(damerau_levenshtein(a.h, b.h) AS BIGINT) AS dl
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE damerau_levenshtein(a.h, b.h) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Same blocking, DuckDB's native jaro_winkler_similarity — the
    // compiled expression replays its exact arithmetic (see
    // TextExpressions.scala), so raw doubles compare hash-exact.
    "q_dedup_jarowinkler" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 48) AS h,
        |             split_part(text, ' ', 1) || ' ' ||
        |             split_part(text, ' ', 2) AS blk
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  jaro_winkler_similarity(a.h, b.h) AS jw
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE jaro_winkler_similarity(a.h, b.h) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_editdist" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, text, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           a.text AS ta, b.text AS tb
        |         FROM g a JOIN g b ON a.doc_id < b.doc_id
        |         WHERE len(list_intersect(a.sh, b.sh)) >= 3),
        |v AS (SELECT doc_a, doc_b,
        |        CAST(levenshtein(ta, tb) AS INT) AS dist,
        |        GREATEST(LENGTH(ta), LENGTH(tb)) AS max_len
        |      FROM cand)
        |SELECT doc_a, doc_b, dist,
        |  1.0 - CAST(dist AS DOUBLE) / CAST(max_len AS DOUBLE) AS edit_sim
        |FROM v
        |WHERE CAST(dist AS DOUBLE) <= CAST(max_len AS DOUBLE) * 0.25
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Cross-set overlap via full distinct-shingle sets; the Spark side
    // counts the same intersection from inverted-index join rows.
    "q_contamination" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, source, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |p AS (SELECT a.doc_id AS corpus_id, b.doc_id AS eval_id,
        |        len(list_intersect(a.sh, b.sh)) AS inter
        |      FROM g a JOIN g b
        |        ON a.source <> 'src0' AND b.source = 'src0')
        |SELECT corpus_id, eval_id, CAST(inter AS BIGINT) AS n_shared
        |FROM p WHERE inter >= 5
        |ORDER BY corpus_id, eval_id""".stripMargin,

    // Span-level replay: corpus positional 8-grams (hashed with both
    // ownership folds) EXISTS-probe the distinct eval gram-hash set;
    // then the running-max interval union — merging ADJACENT intervals
    // (s0 > rm + 1 starts a span, mirroring the Spark side's
    // maximal-contaminated-run semantics) — and the per-doc span
    // aggregate, zeros kept via the final LEFT join.
    "q_contamination_spans" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |           FROM documents),
         |pos AS MATERIALIZED (
         |  SELECT doc_id, source, p,
         |    array_to_string(w[p : p + ${SubstringDedup.MinLen - 1}], ' ')
         |      AS gram
         |  FROM (SELECT doc_id, source, w,
         |      UNNEST(generate_series(1, len(w) - ${SubstringDedup.MinLen - 1}))
         |        AS p
         |    FROM t WHERE len(w) >= ${SubstringDedup.MinLen})),
         |ph AS MATERIALIZED (
         |  SELECT doc_id, source, p,
         |    ${SubstringDedup.fold40Sql("gram", SubstringDedup.FoldA)} AS h1,
         |    ${SubstringDedup.fold40Sql("gram", SubstringDedup.FoldB)} AS h2
         |  FROM pos),
         |ev AS MATERIALIZED (
         |  SELECT DISTINCT h1, h2 FROM ph WHERE source = 'src0'),
         |mk AS (SELECT doc_id, p AS s0,
         |    p + ${SubstringDedup.MinLen - 1} AS e0
         |  FROM ph WHERE source <> 'src0'
         |    AND EXISTS (SELECT 1 FROM ev
         |                WHERE ev.h1 = ph.h1 AND ev.h2 = ph.h2)),
         |g AS (SELECT doc_id, s0, e0,
         |    SUM(CASE WHEN rm IS NULL OR s0 > rm + 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s0, e0
         |            ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM (SELECT doc_id, s0, e0,
         |      MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
         |                    ROWS BETWEEN UNBOUNDED PRECEDING
         |                    AND 1 PRECEDING) AS rm
         |    FROM mk)),
         |m AS (SELECT doc_id, grp, MIN(s0) AS s, MAX(e0) AS e
         |  FROM g GROUP BY doc_id, grp),
         |pd AS (SELECT doc_id, COUNT(*) AS n_spans,
         |    CAST(SUM(e - s + 1) AS BIGINT) AS contam_tokens,
         |    CAST(MAX(e - s + 1) AS BIGINT) AS max_span
         |  FROM m GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(COALESCE(pd.contam_tokens, 0) AS BIGINT) AS contam_tokens,
         |  CAST(COALESCE(pd.max_span, 0) AS BIGINT) AS max_span
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |WHERE d.source <> 'src0'
         |ORDER BY d.doc_id""".stripMargin,

    // The q_dedup_embedding_lsh SRP replay, bipartite: eval (label 0)
    // signatures only ever join corpus (label ≠ 0) signatures; the
    // decimal-exact rescore and the τ = 0.35 cut mirror the Spark plan.
    "q_contamination_semantic" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
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
        |  FROM e CROSS JOIN generate_series(0, 767) AS pp(p)),
        |bk AS (
        |  SELECT vec_id, p // 12 AS band,
        |    SUM(CASE WHEN pr > 0 THEN 1 << (11 - (p % 12)) ELSE 0 END)
        |      AS bucket
        |  FROM proj GROUP BY vec_id, p // 12),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS corpus_id, b.vec_id AS eval_id
        |  FROM bk a
        |  JOIN e ea ON ea.vec_id = a.vec_id AND ea.label <> 0
        |  JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
        |  JOIN e eb ON eb.vec_id = b.vec_id AND eb.label = 0),
        |n AS (SELECT vec_id, v,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e),
        |p2 AS (SELECT c.corpus_id, c.eval_id,
        |        (SELECT CAST(SUM(CAST(a.v[i] * b.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS s(i)) AS dot,
        |        a.nsq AS na, b.nsq AS nb
        |       FROM cand c
        |       JOIN n a ON a.vec_id = c.corpus_id
        |       JOIN n b ON b.vec_id = c.eval_id)
        |SELECT corpus_id, eval_id, dot / SQRT(na * nb) AS cos
        |FROM p2 WHERE dot / SQRT(na * nb) > 0.35
        |ORDER BY corpus_id, eval_id""".stripMargin,

    // Identical oracle for both CC spellings: the stars variant must
    // produce the exact same labeling as pointer jumping.
    "q_dedup_clusters_stars" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE inter / (na + nb - inter) > 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |rec AS (
        |  WITH RECURSIVE reach(id, lbl) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |    WHERE r.lbl < e.dst
        |  ) SELECT id, MIN(lbl) AS keep_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, keep_id, (id = keep_id) AS is_keeper
        |FROM rec ORDER BY doc_id""".stripMargin,

    "q_dedup_clusters" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE inter / (na + nb - inter) > 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |rec AS (
        |  WITH RECURSIVE reach(id, lbl) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |    WHERE r.lbl < e.dst
        |  ) SELECT id, MIN(lbl) AS keep_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, keep_id, (id = keep_id) AS is_keeper
        |FROM rec ORDER BY doc_id""".stripMargin,

    // The incremental path must equal the FULL from-scratch recompute —
    // this oracle IS that recompute (the q_dedup_clusters reachability
    // verbatim), plus the data-derived delta flag.
    "q_dedup_clusters_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE inter / (na + nb - inter) > 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |cut AS (SELECT (MAX(doc_id) * 4) // 5 AS c FROM documents),
        |rec AS (
        |  WITH RECURSIVE reach(id, lbl) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |    WHERE r.lbl < e.dst
        |  ) SELECT id, MIN(lbl) AS keep_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, keep_id, (id = keep_id) AS is_keeper,
        |  id >= (SELECT c FROM cut) AS is_new
        |FROM rec ORDER BY doc_id""".stripMargin,

    // Clusters twin, aggregated twice into the size histogram.
    "q_dedup_report" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE inter / (na + nb - inter) > 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |rec AS (
        |  WITH RECURSIVE reach(id, lbl) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |    WHERE r.lbl < e.dst
        |  ) SELECT id, MIN(lbl) AS keep_id FROM reach GROUP BY id),
        |cs AS (SELECT keep_id, COUNT(*) AS cluster_size
        |       FROM rec GROUP BY keep_id)
        |SELECT cluster_size, COUNT(*) AS n_clusters,
        |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
        |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // Same pair/edge CTEs as clusters; the 5 PageRank rounds unroll into
    // r1..r5, each replaying the integer update (tele + (85·m) div 100)
    // exactly.
    "q_graph_pagerank" -> {
      val rounds = (1 to 5).map { k =>
        s"""r$k AS MATERIALIZED (SELECT nd.doc_id,
           |  (SELECT tele FROM params)
           |    + (85 * COALESCE(s.m, 0)) // 100 AS r
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst, CAST(SUM(r${k - 1}.r // dg.deg) AS BIGINT) AS m
           |    FROM edges e JOIN dg USING (src)
           |    JOIN r${k - 1} ON r${k - 1}.doc_id = e.src
           |    GROUP BY e.dst) s ON s.dst = nd.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
         |           FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
         |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                       for i in generate_series(1, len(w) - 2)])
         |      ELSE [array_to_string(w, ' ')] END AS sh
         |      FROM t),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        len(list_intersect(a.sh, b.sh)) AS inter,
         |        len(a.sh) AS na, len(b.sh) AS nb
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM p
         |          WHERE inter / (na + nb - inter) > 0.5),
         |edges AS MATERIALIZED (
         |          SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT doc_id FROM documents),
         |params AS (SELECT 1000000000 // COUNT(*) AS base,
         |             (15 * (1000000000 // COUNT(*))) // 100 AS tele
         |           FROM nodes),
         |dg AS MATERIALIZED (
         |         SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT doc_id, (SELECT base FROM params) AS r FROM nodes),
         |$rounds
         |SELECT nd.doc_id, r5.r AS rank_nn,
         |  COALESCE(dg.deg, 0) AS deg
         |FROM nodes nd JOIN r5 ON r5.doc_id = nd.doc_id
         |LEFT JOIN dg ON dg.src = nd.doc_id
         |ORDER BY nd.doc_id""".stripMargin
    },

    // Same all-pairs pair CTE, then the identical degree-ordered
    // orientation and wedge-close joins; counts and the quantized
    // coefficient are pure integer arithmetic on both engines.
    "q_graph_triangles" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE inter / (na + nb - inter) > 0.5),
        |edges AS MATERIALIZED (
        |          SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |dg AS MATERIALIZED (
        |         SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |o AS MATERIALIZED (
        |     SELECT e.src, e.dst, dd.deg AS dd
        |     FROM edges e
        |     JOIN dg ds ON ds.src = e.src
        |     JOIN dg dd ON dd.src = e.dst
        |     WHERE ds.deg < dd.deg
        |        OR (ds.deg = dd.deg AND e.src < e.dst)),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |        FROM o e1 JOIN o e2 ON e1.src = e2.src
        |          AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
        |        JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |pn AS (SELECT node, COUNT(*) AS tri FROM (
        |         SELECT a AS node FROM tri
        |         UNION ALL SELECT b FROM tri
        |         UNION ALL SELECT c FROM tri) GROUP BY node)
        |SELECT d.doc_id,
        |  CAST(COALESCE(dg.deg, 0) AS BIGINT) AS deg,
        |  CAST(COALESCE(pn.tri, 0) AS BIGINT) AS tri,
        |  CAST(CASE WHEN COALESCE(dg.deg, 0) >= 2
        |    THEN (2000000 * COALESCE(pn.tri, 0)) // (dg.deg * (dg.deg - 1))
        |    ELSE 0 END AS BIGINT) AS lcc_q
        |FROM documents d
        |LEFT JOIN dg ON dg.src = d.doc_id
        |LEFT JOIN pn ON pn.node = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Identical trigram construction and 40-bit fold as the winnow
    // oracle, then the same cut-selection / list-slice chunking and
    // distinct-doc occurrence count. DuckDB list slices are 1-based
    // inclusive — the same tokens slice(w, a, b−a+1) takes in Spark.
    "q_dedup_cdc" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, text, w, CASE WHEN len(w) >= 3 THEN
        |        [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |         for i in generate_series(1, len(w) - 2)]
        |      ELSE [text] END AS sh
        |      FROM t),
        |hh AS (SELECT doc_id, text, w, list_transform(sh, s ->
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(s, ''),
        |             c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 1000003 + c) % 1099511627776)) AS h
        |       FROM g),
        |cu AS (SELECT doc_id, text, w,
        |         list_filter(generate_series(1, len(w) - 3),
        |                     i -> h[i] % 8 = 0) AS cuts
        |       FROM hh),
        |se AS (SELECT doc_id, text, w,
        |         list_prepend(1, list_transform(cuts, i -> i + 3)) AS ss,
        |         list_append(list_transform(cuts, i -> i + 2), len(w)) AS ee
        |       FROM cu),
        |ch AS (SELECT doc_id, CASE WHEN len(w) >= 4 THEN
        |         [array_to_string(w[ss[j]:ee[j]], ' ')
        |          for j in generate_series(1, len(ss))]
        |       ELSE [text] END AS cs
        |       FROM se),
        |r AS (SELECT doc_id, UNNEST(cs) AS c FROM ch),
        |rw AS (SELECT doc_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(c, ''),
        |             b -> CAST(ascii(b) AS BIGINT))),
        |           (h, b) -> (h * 1000003 + b) % 1099511627776)
        |           AS chunk_hash,
        |         CAST(len(string_split(c, ' ')) AS BIGINT) AS n_tok
        |       FROM r),
        |occ AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd
        |        FROM rw GROUP BY 1)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  CAST((1000000 * SUM(CASE WHEN nd >= 2 THEN n_tok ELSE 0 END))
        |       // SUM(n_tok) AS BIGINT) AS dup_ratio_q
        |FROM rw JOIN occ USING (chunk_hash)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Same pair/edge CTEs, then PeelRounds unrolled degree-peel rounds
    // (each: degree count + both-endpoint semi filter) — round for
    // round the Spark loop's twin.
    "q_graph_kcore" -> {
      val rounds = (1 to PeelRounds).map { k =>
        s"""k$k AS (SELECT src FROM e${k - 1}
           |        GROUP BY src HAVING COUNT(*) >= 2),
           |e$k AS MATERIALIZED (
           |     SELECT e.src, e.dst FROM e${k - 1} e
           |     JOIN k$k a ON a.src = e.src
           |     JOIN k$k b ON b.src = e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
         |           FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
         |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                       for i in generate_series(1, len(w) - 2)])
         |      ELSE [array_to_string(w, ' ')] END AS sh
         |      FROM t),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        len(list_intersect(a.sh, b.sh)) AS inter,
         |        len(a.sh) AS na, len(b.sh) AS nb
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM p
         |          WHERE inter / (na + nb - inter) > 0.5),
         |e0 AS MATERIALIZED (
         |          SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |$rounds,
         |cd AS (SELECT src, COUNT(*) AS core_deg
         |       FROM e$PeelRounds GROUP BY src)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN cd.src IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS in_2core,
         |  CAST(COALESCE(cd.core_deg, 0) AS BIGINT) AS core_deg
         |FROM documents d LEFT JOIN cd ON cd.src = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    // The q_dedup_cdc chunking CTEs rebuild the same (doc, chunk_hash)
    // postings; the df ∈ [2,16] keep-filter, the symmetric pair join,
    // and a depth-capped recursive walk from the seed set. UNION dedups
    // (id, depth) pairs so cycles terminate, and MIN(d) per node is the
    // ≤ 6-hop BFS distance.
    "q_graph_bfs" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, text, w, CASE WHEN len(w) >= 3 THEN
        |        [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |         for i in generate_series(1, len(w) - 2)]
        |      ELSE [text] END AS sh
        |      FROM t),
        |hh AS (SELECT doc_id, text, w, list_transform(sh, s ->
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(s, ''),
        |             c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 1000003 + c) % 1099511627776)) AS h
        |       FROM g),
        |cu AS (SELECT doc_id, text, w,
        |         list_filter(generate_series(1, len(w) - 3),
        |                     i -> h[i] % 8 = 0) AS cuts
        |       FROM hh),
        |se AS (SELECT doc_id, text, w,
        |         list_prepend(1, list_transform(cuts, i -> i + 3)) AS ss,
        |         list_append(list_transform(cuts, i -> i + 2), len(w)) AS ee
        |       FROM cu),
        |ch AS (SELECT doc_id, CASE WHEN len(w) >= 4 THEN
        |         [array_to_string(w[ss[j]:ee[j]], ' ')
        |          for j in generate_series(1, len(ss))]
        |       ELSE [text] END AS cs
        |       FROM se),
        |r AS (SELECT doc_id, UNNEST(cs) AS c FROM ch),
        |rw AS (SELECT DISTINCT doc_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(c, ''),
        |             b -> CAST(ascii(b) AS BIGINT))),
        |           (h, b) -> (h * 1000003 + b) % 1099511627776)
        |           AS chunk_hash
        |       FROM r),
        |keep AS (SELECT chunk_hash FROM rw GROUP BY chunk_hash
        |         HAVING COUNT(*) BETWEEN 2 AND 16),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM rw a JOIN rw b USING (chunk_hash)
        |  JOIN keep USING (chunk_hash)
        |  WHERE a.doc_id <> b.doc_id),
        |walk AS (
        |  WITH RECURSIVE rr(id, d) AS (
        |    SELECT doc_id, 0 FROM documents WHERE doc_id % 50 = 0
        |    UNION
        |    SELECT e.dst, rr.d + 1 FROM rr JOIN edges e ON e.src = rr.id
        |    WHERE rr.d < 6
        |  ) SELECT id, MIN(d) AS dist FROM rr GROUP BY id)
        |SELECT id AS doc_id, CAST(dist AS BIGINT) AS dist
        |FROM walk ORDER BY doc_id""".stripMargin,

    // Clusters twin + integer-quality argmax per cluster.
    "q_dedup_canonical" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM t),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE inter / (na + nb - inter) > 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |rec AS (
        |  WITH RECURSIVE reach(id, lbl) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |    WHERE r.lbl < e.dst
        |  ) SELECT id, MIN(lbl) AS keep_id FROM reach GROUP BY id),
        |q AS (SELECT doc_id,
        |        CAST(LEN(list_distinct(string_split(text, ' '))) AS INT)
        |          AS quality
        |      FROM documents),
        |j AS (SELECT r.id AS doc_id, r.keep_id AS cluster_id, q.quality
        |      FROM rec r JOIN q ON q.doc_id = r.id),
        |w AS (SELECT doc_id, cluster_id, quality,
        |        ROW_NUMBER() OVER (PARTITION BY cluster_id
        |          ORDER BY quality DESC, doc_id) AS rn,
        |        FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
        |          ORDER BY quality DESC, doc_id) AS canonical_id
        |      FROM j)
        |SELECT doc_id, cluster_id, quality, canonical_id,
        |       rn = 1 AS is_canonical
        |FROM w ORDER BY doc_id""".stripMargin,

    "q_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        (SELECT CAST(SUM(CAST(a.v[i] * b.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS s(i)) AS dot,
        |        a.nsq AS na, b.nsq AS nb
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, dot / SQRT(na * nb) AS cos
        |FROM p WHERE dot / SQRT(na * nb) > 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,

    // Twin of the SRP-LSH variant: the hyperplane weights are derived from
    // the same fixed integer hash (Knuth multiplicative, bit 16), so both
    // engines compute the identical bucketing, candidate set, and
    // decimal-exact rescore.
    // The per-stage oracles composed into one CTE chain: funnel gates →
    // min-id-per-text exact dedup → trigram-Jaccard pairs → recursive
    // CC → quality argmax per cluster → hash-rank domain cap → running
    // token packing. Every step is integer/rational, so the whole
    // pipeline hash-matches.
    "q_pipeline_e2e" ->
      """WITH t AS (
        |  SELECT doc_id, source, lang, text, string_split(text, ' ') AS w
        |  FROM documents),
        |f AS (
        |  SELECT * FROM t
        |  WHERE len(w) >= 30
        |    AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.45
        |    AND len(list_filter(w, x -> x = 'a' OR x = 'the')) > 0),
        |e AS (
        |  SELECT * FROM (
        |    SELECT f.*, MIN(doc_id) OVER (PARTITION BY text) AS keep_id
        |    FROM f)
        |  WHERE doc_id = keep_id),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM e),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE inter / (na + nb - inter) > 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |rec AS (
        |  WITH RECURSIVE reach(id, lbl) AS (
        |    SELECT doc_id, doc_id FROM e
        |    UNION
        |    SELECT e2.dst, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.id
        |    WHERE r.lbl < e2.dst
        |  ) SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
        |q AS (SELECT e.doc_id, e.source, e.lang,
        |        CAST(len(e.w) AS BIGINT) AS n_tok,
        |        len(list_distinct(e.w)) AS quality, r.cluster_id
        |      FROM e JOIN rec r ON r.id = e.doc_id),
        |canon AS (
        |  SELECT * FROM (
        |    SELECT q.*, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |      ORDER BY quality DESC, doc_id) AS rn FROM q)
        |  WHERE rn = 1),
        |capped AS (
        |  SELECT * FROM (
        |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY ((doc_id % 1048576) * 2654435761 >> 16), doc_id) AS rk
        |    FROM canon c)
        |  WHERE rk <= 10),
        |packed AS (
        |  SELECT doc_id, lang, source, n_tok,
        |    (CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |     - n_tok) // 2048 AS bin
        |  FROM capped)
        |SELECT doc_id, lang, source, n_tok, bin FROM packed
        |ORDER BY doc_id""".stripMargin,

    // v1's funnel/exact CTEs, then the substring-rebuild replay over the
    // exact survivors, the ≥30-token refunnel on CLEANED tokens, and
    // v1's cluster/canonical/cap/pack chain recomputed on the cleaned
    // arrays (shingles, quality, n_tok all post-despan).
    "q_pipeline_e2e_v2" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, lang, text, string_split(text, ' ') AS w
        |  FROM documents),
        |f AS (
        |  SELECT * FROM t
        |  WHERE len(w) >= 30
        |    AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.45
        |    AND len(list_filter(w, x -> x = 'a' OR x = 'the')) > 0),
        |e AS (
        |  SELECT * FROM (
        |    SELECT f.*, MIN(doc_id) OVER (PARTITION BY text) AS keep_id
        |    FROM f)
        |  WHERE doc_id = keep_id),
        |pos2 AS MATERIALIZED (
        |  SELECT doc_id, p,
        |    array_to_string(w[p : p + ${SubstringDedup.MinLen - 1}], ' ')
        |      AS gram
        |  FROM (SELECT doc_id, w,
        |      UNNEST(generate_series(1, len(w) - ${SubstringDedup.MinLen - 1}))
        |        AS p
        |    FROM e WHERE len(w) >= ${SubstringDedup.MinLen})),
        |rep2 AS (SELECT doc_id, p FROM (
        |    SELECT doc_id, p, ROW_NUMBER() OVER (
        |      PARTITION BY h1, h2 ORDER BY doc_id, p) AS rn
        |    FROM (SELECT doc_id, p,
        |        ${SubstringDedup.fold40Sql("gram", SubstringDedup.FoldA)} AS h1,
        |        ${SubstringDedup.fold40Sql("gram", SubstringDedup.FoldB)} AS h2
        |      FROM pos2))
        |  WHERE rn > 1),
        |rmq2 AS (SELECT DISTINCT doc_id, q FROM (
        |    SELECT doc_id,
        |      UNNEST(generate_series(p, p + ${SubstringDedup.MinLen - 1})) AS q
        |    FROM rep2)),
        |rm2 AS (SELECT doc_id, LIST(q ORDER BY q) AS ps FROM rmq2
        |  GROUP BY doc_id),
        |d2 AS MATERIALIZED (
        |  SELECT e.doc_id, e.source, e.lang,
        |    CAST(COALESCE(len(rm2.ps), 0) AS BIGINT) AS n_rm,
        |    CASE WHEN rm2.ps IS NULL THEN e.w
        |         ELSE [e.w[i] for i in generate_series(1, len(e.w))
        |               if NOT list_contains(rm2.ps, i)] END AS w
        |  FROM e LEFT JOIN rm2 USING (doc_id)),
        |d3 AS (SELECT * FROM d2 WHERE len(w) >= 30),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d3),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter,
        |        len(a.sh) AS na, len(b.sh) AS nb
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE inter / (na + nb - inter) > 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |rec AS (
        |  WITH RECURSIVE reach(id, lbl) AS (
        |    SELECT doc_id, doc_id FROM d3
        |    UNION
        |    SELECT e2.dst, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.id
        |    WHERE r.lbl < e2.dst
        |  ) SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
        |q AS (SELECT d.doc_id, d.source, d.lang, d.n_rm,
        |        CAST(len(d.w) AS BIGINT) AS n_tok,
        |        len(list_distinct(d.w)) AS quality, r.cluster_id
        |      FROM d3 d JOIN rec r ON r.id = d.doc_id),
        |canon AS (
        |  SELECT * FROM (
        |    SELECT q.*, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |      ORDER BY quality DESC, doc_id) AS rn FROM q)
        |  WHERE rn = 1),
        |capped AS (
        |  SELECT * FROM (
        |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY ((doc_id % 1048576) * 2654435761 >> 16), doc_id) AS rk
        |    FROM canon c)
        |  WHERE rk <= 10),
        |packed AS (
        |  SELECT doc_id, lang, source, n_tok, n_rm,
        |    (CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |     - n_tok) // 2048 AS bin
        |  FROM capped)
        |SELECT doc_id, lang, source, n_tok, n_rm, bin FROM packed
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_embedding_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
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
        |  FROM e CROSS JOIN generate_series(0, 767) AS pp(p)),
        |bk AS (
        |  SELECT vec_id, p // 12 AS band,
        |    SUM(CASE WHEN pr > 0 THEN 1 << (11 - (p % 12)) ELSE 0 END)
        |      AS bucket
        |  FROM proj GROUP BY vec_id, p // 12),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |       AND a.vec_id < b.vec_id),
        |n AS (SELECT vec_id, v,
        |        (SELECT CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE)
        |         FROM UNNEST(v) AS t(x)) AS nsq
        |      FROM e),
        |p2 AS (SELECT c.vec_a, c.vec_b,
        |        (SELECT CAST(SUM(CAST(a.v[i] * b.v[i] AS DECIMAL(30,12)))
        |                AS DOUBLE)
        |         FROM generate_series(1, 64) AS s(i)) AS dot,
        |        a.nsq AS na, b.nsq AS nb
        |       FROM cand c
        |       JOIN n a ON a.vec_id = c.vec_a
        |       JOIN n b ON b.vec_id = c.vec_b)
        |SELECT vec_a, vec_b, dot / SQRT(na * nb) AS cos
        |FROM p2 WHERE dot / SQRT(na * nb) > 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,

    // The oracle considers EVERY shingle-sharing pair — so any prefix
    // that was one element too short on the Spark side would drop a
    // pair and fail the compare. The parity check doubles as a proof
    // of the prefix-filter completeness bound. Shingle CTEs are the
    // ngramOracle spelling (the shared kernel).
    "q_dedup_prefix_filter" ->
      """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in generate_series(1, len(w) - 2)])
        |      ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM w0),
        |t AS (SELECT doc_id, unnest(sh) AS tok FROM g),
        |sz AS (SELECT doc_id, COUNT(*) AS s FROM t GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        COUNT(*) AS inter
        |      FROM t a JOIN t b
        |        ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
        |  CAST(sa.s AS BIGINT) AS sa, CAST(sb.s AS BIGINT) AS sb,
        |  CAST((1000 * i.inter) // (sa.s + sb.s - i.inter) AS BIGINT)
        |    AS jac_pm
        |FROM i
        |JOIN sz sa ON sa.doc_id = i.doc_a
        |JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE 3 * i.inter >= sa.s + sb.s
        |ORDER BY i.doc_a, i.doc_b""".stripMargin
  )
}
