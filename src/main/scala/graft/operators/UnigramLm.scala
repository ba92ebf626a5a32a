package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.QueryDefs.Q
import graft.sources.Tables

/** Unigram-LM (SentencePiece-style) subword tokenizer, trained with
  * deterministic hard EM — the second canonical tokenizer family next
  * to [[Bpe]] (Kudo 2018: "Subword Regularization"; the unigram model
  * of SentencePiece). Where BPE greedily fuses the most frequent pair,
  * the unigram model keeps a piece VOCABULARY with costs (-log p) and
  * segments each word by minimum total cost; EM alternates segmenting
  * (E) with re-estimating piece frequencies from the chosen
  * segmentations and pruning pieces whose loss contribution drops to
  * zero (M). Words beyond [[MaxWordLen]] are skipped-and-counted on
  * BOTH engines (the trainer's census scalar / the oracle's `w` CTE
  * length filter), so real-corpus URLs and hashes degrade coverage
  * instead of crashing training. Like the reference's embedded engine,
  * every step is
  * replayed by the DuckDB oracle — the EM rounds unroll as CTE stages
  * exactly like [[Bpe.trainCtes]].
  *
  * Determinism (the cross-engine contract):
  *  - The E-step is exact: candidate segmentations are ENUMERATED from
  *    a precomputed composition table (all ways to cut a length-n word
  *    into pieces of 1..[[MaxPieceLen]] chars) rather than DP-folded.
  *    A min-cost DP is the textbook spelling, but its per-prefix
  *    tie-break does not commute with the global (cost, segmentation)
  *    tie-break this operator pins down — two equal-cost segmentations
  *    can differ at a prefix boundary in opposite lexicographic order —
  *    so both engines take the SAME min over the SAME enumerated set:
  *    min over "cost₈|p1~p2~…" strings (cost zero-padded to 8 digits,
  *    so string order = (cost, seg) order; piece costs stay < 10⁶ by
  *    construction, see the require below).
  *  - Costs are ⌊-ln(freq/total)·1e4⌋ — the floor-quantized ln envelope
  *    every scoring query here shares (BM25, PMI, LM-score).
  *  - Seeding and pruning are total-ordered: seed = all single chars
  *    (coverage guarantee, never pruned) + the top-[[SeedK]] substrings
  *    of length 2..[[MaxPieceLen]] by weighted start-position frequency,
  *    ties broken (freq DESC, piece ASC); the M-step keeps multi-char
  *    pieces with nonzero usage (zero loss contribution = pruned) and
  *    floors char frequencies at 1.
  *
  * Scale shape: the corpus is touched once (word counting — the same
  * single shuffle as BPE); every EM round runs on the VOCABULARY
  * projection (distinct words × ≤ tetranacci(len) candidate
  * segmentations, broadcast-joined to the ≤ [[SeedK]]+alphabet piece
  * table), and driver traffic per round is one bounded piece-usage
  * table (≤ |vocab| rows — the k-means-centroid class, never
  * corpus-sized). The composition table bounds segmentable word length
  * at [[MaxWordLen]]; longer words are censused with one scalar
  * aggregate and skipped (see [[TrainStats]]) — a corpus where they
  * matter needs the table widened, a compile-time constant, or the DP
  * spelling with a DP-consistent tie-break on both sides.
  */
object UnigramLm {

  /** Composition-table word-length bound (fixture max is 8). */
  private[graft] val MaxWordLen = 9

  /** Max piece length in characters. */
  private[graft] val MaxPieceLen = 4

  /** Seed vocabulary: top-K multi-char substrings. */
  private[graft] val SeedK = 40

  /** Hard-EM rounds (the encode pass after round [[Rounds]] makes the
    * oracle's final segmentation stage Rounds+1). */
  private[graft] val Rounds = 3

  /** All compositions of n into ordered parts of 1..[[MaxPieceLen]],
    * enumerated lexicographically — pure combinatorics shared by the
    * Spark plan (as a broadcast table) and the oracle (as a VALUES
    * literal), so both engines score the identical candidate set. */
  private def comps(n: Int): Seq[List[Int]] =
    if (n == 0) Seq(Nil)
    else (1 to math.min(MaxPieceLen, n)).flatMap(k => comps(n - k).map(k :: _))

  /** Flattened (len, seg_id, n_parts, idx, start, plen) rows. */
  private lazy val compRows: Seq[(Int, Int, Int, Int, Int, Int)] =
    for {
      len <- 1 to MaxWordLen
      (parts, s0) <- comps(len).zipWithIndex
      starts = parts.scanLeft(1)(_ + _)
      (plen, i0) <- parts.zipWithIndex
    } yield (len, s0 + 1, parts.length, i0 + 1, starts(i0), plen)

  private def compDf(s: SparkSession): DataFrame = {
    import s.implicits._
    compRows.toDF("len", "seg_id", "n_parts", "idx", "start", "plen")
  }

  /** Distinct words with counts, UNBOUNDED length — the raw projection
    * the trainer profiles for over-long words before filtering. */
  private def rawWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .coalesce(4)

  /** The corpus projection every round runs on: distinct words with
    * counts — vocabulary-sized, one corpus shuffle (see [[Bpe]]).
    * Words longer than [[MaxWordLen]] are SKIPPED (and counted by the
    * trainer — see [[TrainStats]]), not fatal: the composition table
    * cannot segment them, so they are excluded from the alphabet, the
    * seeds, EM, and the encode passes alike, and the oracle's `w` CTE
    * applies the identical length filter. */
  private def baseWords(s: SparkSession, d: String): DataFrame =
    rawWords(s, d).where(length(col("w")) <= MaxWordLen)

  /** Piece table with floor-quantized -ln costs; total is an exact
    * integer sum, the ln rides Spark's codegen'd log (the same
    * expression class the oracle's LN replays — the established
    * floor-1e4 envelope). */
  private def costDf(s: SparkSession, vocab: Seq[(String, Long)]): DataFrame = {
    import s.implicits._
    val total = vocab.map(_._2).sum
    vocab.toDF("piece", "freq")
      .select(col("piece"),
        floor(-log(col("freq").cast("double") / lit(total.toDouble)) * lit(1e4))
          .cast("long").as("cost"))
  }

  /** E-step: per distinct word, the minimum-cost segmentation under
    * `cost`, as "cccccccc|p1~p2~…" (zero-padded cost, then pieces) so
    * MIN over strings is MIN over (cost, segmentation) in both engines.
    * The candidate set is words ⨝ composition table (broadcast) with
    * every piece present in the vocabulary. */
  private def bestSegs(s: SparkSession, words: DataFrame,
      cost: DataFrame): DataFrame =
    words
      .join(broadcast(compDf(s)), length(col("w")) === col("len"))
      .select(col("w"), col("n"), col("seg_id"), col("n_parts"), col("idx"),
        expr("substring(w, start, plen)").as("piece"))
      .join(broadcast(cost), "piece")
      .groupBy(col("w"), col("n"), col("seg_id"), col("n_parts"))
      .agg(count(lit(1)).as("matched"), sum(col("cost")).as("tc"),
        expr("array_join(transform(array_sort(collect_list(struct(idx, piece)))," +
          " x -> x.piece), '~')").as("seg"))
      .where(col("matched") === col("n_parts"))
      .groupBy(col("w"), col("n"))
      .agg(min(concat(lpad(col("tc").cast("string"), 8, "0"),
        lit("|"), col("seg"))).as("best"))

  /** Greedy longest-match-first segmentation (the WordPiece inference
    * rule, Devlin et al. 2019) under the trained vocabulary: at each
    * position consume the longest vocab piece prefixing the remainder.
    * One codegen'd [[MaxWordLen]]-step fold per distinct word — each
    * step is ≤ [[MaxPieceLen]] lookups into the vocabulary map literal
    * (bounded at [[SeedK]] + alphabet entries); substring clamps at the
    * word end in both engines, so a truncated lookup IS the
    * longest-remaining-prefix test. Total because single chars are
    * always in the vocabulary. */
  private def greedySegs(s: SparkSession, words: DataFrame,
      vocab: Seq[String]): DataFrame = {
    // pieces are corpus-derived strings interpolated into SQL literals:
    // escape backslash and quote or a token like "it's" breaks expr()
    // parsing (ADVICE r9) — UnigramLmSpec round-trips both characters
    def lit0(p: String): String =
      "'" + p.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val mapLit = vocab.sorted.map(p => s"${lit0(p)},${lit0(p)}")
      .mkString("map(", ",", ")")
    def pc(pos: String) = (MaxPieceLen to 1 by -1)
      .map(l => s"element_at($mapLit, substring(w, $pos, $l))")
      .mkString("coalesce(", ", ", ")")
    words.select(col("w"), expr(
      s"""aggregate(sequence(1, $MaxWordLen),
         |  named_struct('pos', 1, 'seg', ''),
         |  (acc, i) -> IF(acc.pos > length(w), acc, named_struct(
         |    'pos', acc.pos + length(${pc("acc.pos")}),
         |    'seg', concat(acc.seg, '~', ${pc("acc.pos")}))),
         |  acc -> substring(acc.seg, 2))""".stripMargin).as("seg"))
  }

  /** Trainer result + instrumentation: the final vocabulary (bounded at
    * ≤ [[SeedK]] + alphabet rows), the skipped over-long-word counts
    * (distinct types / weighted tokens), per-phase walls (seed stage vs
    * EM rounds — the two costs that scale differently with |vocab|),
    * and the largest per-round usage map (= the driver traffic bound,
    * ≤ alphabet + SeedK rows by construction). SCALE.md §22 records the
    * phase walls at a growing vocabulary. */
  private[graft] case class TrainStats(vocab: Seq[(String, Long)],
      skippedTypes: Long, skippedTokens: Long,
      seedWallS: Double, emWallS: Double, usageRowsMax: Long)

  /** Memoized [[TrainStats]] per (session UUID, dataset). */
  private val memo = new scala.collection.concurrent.TrieMap[
    (String, String), TrainStats]

  private[graft] def train(s: SparkSession, d: String): Seq[(String, Long)] =
    stats(s, d).vocab

  private[graft] def stats(s: SparkSession, d: String): TrainStats =
    graft.MemoStats.memoized("unigram_vocab", memo,
      (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s), d))(
      trainImpl(s, d))

  private def trainImpl(s: SparkSession, d: String): TrainStats = {
    val all = rawWords(s, d).cache()
    try {
      // one scalar row: corpus non-emptiness (a NULL max would NPE
      // opaquely — ADVICE r9) and the over-long-word census. Long words
      // are SKIPPED AND COUNTED, not fatal: real corpora carry URLs and
      // hashes the composition table was never meant to segment.
      val prof = all.agg(
        count(lit(1)).as("types"),
        coalesce(sum(when(length(col("w")) > MaxWordLen, lit(1L))), lit(0L)),
        coalesce(sum(when(length(col("w")) > MaxWordLen, col("n"))),
          lit(0L))).head
      require(prof.getLong(0) > 0L,
        "unigram trainer: empty corpus (no non-empty words)")
      val (skTypes, skToks) = (prof.getLong(1), prof.getLong(2))
      require(prof.getLong(0) > skTypes,
        s"unigram trainer: every word exceeds MaxWordLen=$MaxWordLen — " +
          "nothing to train on")
      val words = all.where(length(col("w")) <= MaxWordLen)
      val t0 = System.nanoTime()
      // alphabet with weighted char frequencies — ≤ alphabet rows
      val chars = words
        .select(col("n"), explode(split(col("w"), "")).as("p"))
        .where(col("p") =!= "")
        .groupBy(col("p")).agg(sum(col("n")).as("freq"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
      // top-K multi-char seeds by weighted start-position frequency —
      // a distributed TakeOrdered, K rows to the driver
      val seedMulti = words
        .select(col("n"), explode(expr(
          s"""flatten(transform(sequence(2, $MaxPieceLen), l ->
             |  filter(transform(sequence(1, length(w)), i ->
             |    CASE WHEN i + l - 1 <= length(w)
             |         THEN substring(w, i, l) END),
             |    x -> x IS NOT NULL)))""".stripMargin)).as("p"))
        .groupBy(col("p")).agg(sum(col("n")).as("freq"))
        .where(col("freq") >= 2)
        .orderBy(col("freq").desc, col("p")).limit(SeedK)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val seedWall = (System.nanoTime() - t0) / 1e9
      var vocab: Seq[(String, Long)] = chars ++ seedMulti
      var usageMax = 0L
      val t1 = System.nanoTime()
      for (_ <- 1 to Rounds) {
        // E: segment; M: piece usage (≤ |vocab| rows to the driver),
        // chars floored at 1, zero-usage multi pieces pruned
        val usage = bestSegs(s, words, costDf(s, vocab))
          .select(col("n"),
            explode(split(expr("substring(best, 10)"), "~")).as("p"))
          .groupBy(col("p")).agg(sum(col("n")).as("u"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        usageMax = math.max(usageMax, usage.size.toLong)
        vocab = chars.map { case (c, _) =>
            (c, math.max(usage.getOrElse(c, 0L), 1L)) } ++
          usage.toSeq.filter(_._1.length >= 2).sortBy(_._1)
      }
      TrainStats(vocab, skTypes, skToks, seedWall,
        (System.nanoTime() - t1) / 1e9, usageMax)
    } finally { all.unpersist(); () }
  }

  val defs: Map[String, Q] = Map(

    // The trained piece table (piece, freq, cost_q) — oracle-checking
    // THIS row set proves the whole seed → 3×(E,M) loop engine-exact,
    // the q_text_bpe_merges analogue.
    "q_text_unigram_lm" -> ((s, d) => {
      import s.implicits._
      val vocab = train(s, d)
      vocab.toDF("piece", "freq")
        .join(costDf(s, vocab), "piece")
        .select(col("piece"), col("freq"), col("cost").as("cost_q"))
        .orderBy(col("piece"))
    }),

    // Token-ID emission under the FINAL model (one more E pass with the
    // round-3 costs — what an encoder does at inference): ids are a pure
    // function of the trained vocabulary (rank by freq DESC, piece ASC),
    // each doc's ids ride as a '-'-joined string. Scale shape mirrors
    // q_text_bpe_ids: (word → id-string) is vocabulary-sized and
    // broadcast against the exploded corpus; the per-doc reassembly is
    // the encoded output itself.
    "q_text_unigram_ids" -> ((s, d) => {
      import s.implicits._
      val vocab = train(s, d)
      val ids = vocab.sortBy { case (p, f) => (-f, p) }.zipWithIndex
        .map { case ((p, _), i) => (p, (i + 1).toLong) }
        .toDF("piece", "id")
      val wordIds = bestSegs(s, baseWords(s, d), costDf(s, vocab))
        .select(col("w"),
          posexplode(split(expr("substring(best, 10)"), "~"))
            .as(Seq("pi", "piece")))
        .join(broadcast(ids), "piece")
        .groupBy(col("w"))
        .agg(expr("array_join(transform(array_sort(collect_list(struct(pi, id)))," +
            " x -> cast(x.id as string)), '-')").as("ids"),
          count(lit(1)).as("n_p"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("wp", "w")))
        .where(col("w") =!= "")
        .join(wordIds, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_p")).as("n_ids"),
          expr("array_join(transform(array_sort(collect_list(struct(wp, ids)))," +
            " x -> x.ids), '-')").as("token_ids"))
        .orderBy(col("doc_id"))
    }),

    // WordPiece-style GREEDY encode under the same trained vocabulary —
    // the third canonical tokenizer inference rule next to BPE's merge
    // replay and the unigram model's min-cost segmentation: longest
    // vocab piece first at every position, no costs consulted. Same
    // vocabulary, same ids, different cuts (the fixtures segment ~92%
    // of documents differently from the Viterbi encode, at equal total
    // piece count — greedy's classic near-optimality on natural text).
    // Scale shape identical to q_text_unigram_ids; the oracle replays
    // the greedy consume as a recursive CTE stepping one piece per
    // iteration with LEFT-JOIN longest-match lookups.
    "q_text_wordpiece" -> ((s, d) => {
      import s.implicits._
      val vocab = train(s, d)
      val ids = vocab.sortBy { case (p, f) => (-f, p) }.zipWithIndex
        .map { case ((p, _), i) => (p, (i + 1).toLong) }
        .toDF("piece", "id")
      val wordIds = greedySegs(s, baseWords(s, d), vocab.map(_._1))
        .select(col("w"),
          posexplode(split(col("seg"), "~")).as(Seq("pi", "piece")))
        .join(broadcast(ids), "piece")
        .groupBy(col("w"))
        .agg(expr("array_join(transform(array_sort(collect_list(struct(pi, id)))," +
            " x -> cast(x.id as string)), '-')").as("ids"),
          count(lit(1)).as("n_p"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("wp", "w")))
        .where(col("w") =!= "")
        .join(wordIds, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_p")).as("n_ids"),
          expr("array_join(transform(array_sort(collect_list(struct(wp, ids)))," +
            " x -> x.ids), '-')").as("token_ids"))
        .orderBy(col("doc_id"))
    })
  )

  /** Composition table as a VALUES literal (len, seg_id, n_parts,
    * piece lengths, piece starts — both '-'-packed). */
  private lazy val compValues: String = {
    val rows = for {
      len <- 1 to MaxWordLen
      (parts, s0) <- comps(len).zipWithIndex
    } yield {
      val starts = parts.scanLeft(1)(_ + _).init
      s"($len,${s0 + 1},${parts.length}," +
        s"'${parts.mkString("-")}','${starts.mkString("-")}')"
    }
    rows.mkString(",\n")
  }

  /** Shared oracle prefix: word counts, composition expansion, the
    * candidate-segmentation table, char + seed frequencies, round-0
    * costs. */
  private def baseCtes: String =
    s"""WITH w AS MATERIALIZED (SELECT w, COUNT(*) AS n FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND LENGTH(w) <= $MaxWordLen GROUP BY w),
       |comp AS (SELECT * FROM (VALUES
       |$compValues) AS t(len, seg_id, n_parts, pls, sts)),
       |cp AS MATERIALIZED (SELECT len, seg_id, n_parts,
       |    CAST(x.i AS INT) AS idx, CAST(x.st AS INT) AS start,
       |    CAST(x.pl AS INT) AS plen
       |  FROM (SELECT len, seg_id, n_parts,
       |      UNNEST([struct_pack(i := i, pl := string_split(pls, '-')[i],
       |                          st := string_split(sts, '-')[i])
       |              for i in generate_series(1, n_parts)]) AS x
       |    FROM comp)),
       |segs AS MATERIALIZED (SELECT w.w, w.n, cp.seg_id, cp.n_parts, cp.idx,
       |    substr(w.w, cp.start, cp.plen) AS piece
       |  FROM w JOIN cp ON LENGTH(w.w) = cp.len),
       |cf AS MATERIALIZED (SELECT ch AS p, CAST(SUM(n) AS BIGINT) AS freq
       |  FROM (SELECT n, UNNEST(string_split(w, '')) AS ch FROM w)
       |  WHERE ch <> '' GROUP BY ch),
       |ms AS (SELECT p, freq FROM (
       |    SELECT p, CAST(SUM(n) AS BIGINT) AS freq FROM (
       |      SELECT n, UNNEST(flatten([[substr(w, i, l)
       |          for i in generate_series(1, LENGTH(w) - l + 1)]
       |        for l in generate_series(2, $MaxPieceLen)])) AS p
       |      FROM w)
       |    GROUP BY p HAVING SUM(n) >= 2)
       |  ORDER BY freq DESC, p LIMIT $SeedK),
       |v0 AS MATERIALIZED (SELECT p, freq FROM cf
       |  UNION ALL SELECT p, freq FROM ms),
       |c0 AS MATERIALIZED (SELECT p, CAST(FLOOR(-LN(CAST(freq AS DOUBLE)
       |    / CAST((SELECT SUM(freq) FROM v0) AS DOUBLE)) * 1e4) AS BIGINT)
       |    AS cost
       |  FROM v0)""".stripMargin

  /** One E stage: score every vocabulary-valid candidate segmentation
    * under c{prev}, keep the min (cost, seg) string per word. */
  private def eCtes(r: Int, prev: Int): String =
    s""",
       |sc$r AS (SELECT sg.w, sg.n, sg.seg_id, sg.n_parts,
       |    COUNT(*) AS matched, CAST(SUM(c.cost) AS BIGINT) AS tc,
       |    string_agg(sg.piece, '~' ORDER BY sg.idx) AS seg
       |  FROM segs sg JOIN c$prev c ON c.p = sg.piece
       |  GROUP BY sg.w, sg.n, sg.seg_id, sg.n_parts),
       |b$r AS MATERIALIZED (SELECT w, n,
       |    MIN(lpad(CAST(tc AS VARCHAR), 8, '0') || '|' || seg) AS best
       |  FROM sc$r WHERE matched = n_parts GROUP BY w, n)""".stripMargin

  /** One M stage: usage recount, char floor, zero-usage pruning, new
    * costs. */
  private def mCtes(r: Int): String =
    s""",
       |u$r AS (SELECT piece AS p, CAST(SUM(n) AS BIGINT) AS u FROM (
       |    SELECT n, UNNEST(string_split(substr(best, 10), '~')) AS piece
       |    FROM b$r)
       |  GROUP BY piece),
       |v$r AS MATERIALIZED (
       |  SELECT cf.p, CAST(GREATEST(COALESCE(u.u, 0), 1) AS BIGINT) AS freq
       |  FROM cf LEFT JOIN u$r u ON u.p = cf.p
       |  UNION ALL
       |  SELECT u.p, u.u AS freq FROM u$r u WHERE LENGTH(u.p) >= 2),
       |c$r AS MATERIALIZED (SELECT p, CAST(FLOOR(-LN(CAST(freq AS DOUBLE)
       |    / CAST((SELECT SUM(freq) FROM v$r) AS DOUBLE)) * 1e4) AS BIGINT)
       |    AS cost
       |  FROM v$r)""".stripMargin

  private def emCtes: String =
    (1 to Rounds).map(r => eCtes(r, r - 1) + mCtes(r)).mkString

  val oracles: Map[String, String] = Map(
    "q_text_unigram_lm" ->
      (baseCtes + emCtes + s"""
        |SELECT v.p AS piece, v.freq, c.cost AS cost_q
        |FROM v$Rounds v JOIN c$Rounds c USING (p) ORDER BY piece""".stripMargin),

    // Replays the final-encode pass (stage Rounds+1 under the round-3
    // costs), the freq-ranked id assignment, and the two ordered
    // reassemblies (pieces within word, words within doc).
    "q_text_unigram_ids" ->
      (baseCtes + emCtes + eCtes(Rounds + 1, Rounds) + s""",
        |vid AS (SELECT p,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, p) AS BIGINT) AS id
        |  FROM v$Rounds),
        |bp AS (SELECT w, x.i AS pi, x.piece AS piece FROM (
        |    SELECT w, UNNEST([struct_pack(i := i, piece := ps[i])
        |        for i in generate_series(1, len(ps))]) AS x
        |    FROM (SELECT w, string_split(substr(best, 10), '~') AS ps
        |          FROM b${Rounds + 1}))),
        |wid AS (SELECT bp.w,
        |    string_agg(CAST(v.id AS VARCHAR), '-' ORDER BY bp.pi) AS ids,
        |    COUNT(*) AS n_p
        |  FROM bp JOIN vid v ON v.p = bp.piece GROUP BY bp.w),
        |dw AS (SELECT doc_id, UNNEST([struct_pack(w := ws[i], i := i)
        |    for i in generate_series(1, len(ws))]) AS p
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        |SELECT d.doc_id, CAST(SUM(wi.n_p) AS BIGINT) AS n_ids,
        |  string_agg(wi.ids, '-' ORDER BY d.p.i) AS token_ids
        |FROM dw d JOIN wid wi ON wi.w = d.p.w
        |WHERE d.p.w <> ''
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    // Greedy consume as a recursive CTE: one piece per iteration, the
    // longest match found by LEFT JOINs against the trained vocabulary
    // at lengths MaxPieceLen..1 (substr clamps at the word end exactly
    // like Spark's substring, so the truncated lookup is the same
    // longest-remaining-prefix test); a word completes when pos passes
    // its length. Ids and reassembly replay q_text_unigram_ids.
    "q_text_wordpiece" ->
      (baseCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + emCtes + s""",
        |g AS (
        |  SELECT w, n, 1 AS pos, CAST('' AS VARCHAR) AS seg FROM w
        |  UNION ALL
        |  SELECT g.w, g.n,
        |    g.pos + LENGTH(COALESCE(${(MaxPieceLen to 1 by -1)
               .map(l => s"m$l.p").mkString(", ")})) AS pos,
        |    g.seg || '~' || COALESCE(${(MaxPieceLen to 1 by -1)
               .map(l => s"m$l.p").mkString(", ")}) AS seg
        |  FROM g
        |${(MaxPieceLen to 1 by -1).map(l =>
             s"  LEFT JOIN v$Rounds m$l ON m$l.p = substr(g.w, g.pos, $l)")
             .mkString("\n")}
        |  WHERE g.pos <= LENGTH(g.w)),
        |bg AS (SELECT w, seg FROM g WHERE pos = LENGTH(w) + 1),
        |vid AS (SELECT p,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, p) AS BIGINT) AS id
        |  FROM v$Rounds),
        |bp AS (SELECT w, x.i AS pi, x.piece AS piece FROM (
        |    SELECT w, UNNEST([struct_pack(i := i, piece := ps[i])
        |        for i in generate_series(1, len(ps))]) AS x
        |    FROM (SELECT w, string_split(substr(seg, 2), '~') AS ps
        |          FROM bg))),
        |wid AS (SELECT bp.w,
        |    string_agg(CAST(v.id AS VARCHAR), '-' ORDER BY bp.pi) AS ids,
        |    COUNT(*) AS n_p
        |  FROM bp JOIN vid v ON v.p = bp.piece GROUP BY bp.w),
        |dw AS (SELECT doc_id, UNNEST([struct_pack(w := ws[i], i := i)
        |    for i in generate_series(1, len(ws))]) AS p
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        |SELECT d.doc_id, CAST(SUM(wi.n_p) AS BIGINT) AS n_ids,
        |  string_agg(wi.ids, '-' ORDER BY d.p.i) AS token_ids
        |FROM dw d JOIN wid wi ON wi.w = d.p.w
        |WHERE d.p.w <> ''
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)
  )
}
