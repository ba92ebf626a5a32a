package graft.sources

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic ×F fixture amplifier: pure Spark generation, no RNG, no
  * new fixtures. It writes a fixture directory in which `documents`,
  * `embeddings` and `events` are ×F the source's, with controlled
  * duplicate structure, and the other seven tables are copied verbatim —
  * so every library query resolves against it:
  *
  * {{{
  * sbt "runMain graft.sources.Amplify <srcDir> 10 <outDir>"
  * SPARK_GRAFT_SF_DIR=<outDir> sbt "runMain graft.Bench q_stream_tumbling"
  * }}}
  *
  * Documents are keyed by base doc_id % 10:
  *   - fam 0: every replica keeps the base text verbatim → exact-dup
  *     clusters of size F (exercises the exact-dedup window);
  *   - fam 1: replicas 0-4 append a one-token suffix → near-dup
  *     CLIQUES of size min(F, 5) (bounded so candidate-pair volume
  *     stays O(F·docs), not O(F²·docs));
  *   - fam 2: replaced by synthetic CHAIN docs — replica r's text is a
  *     41-token sliding window (stride 10) over a per-base token
  *     stream, so consecutive replicas share 29 of ~40 trigram
  *     shingles (J ≈ 0.57 > 0.5) and skip-replicas share 19 (J ≈ 0.31
  *     < 0.5): a near-dup CHAIN of length F per base doc, the
  *     diameter-F component shape web-scale pair graphs exhibit;
  *   - fams 3-9: every 3rd token is tagged with the replica id, so
  *     replicas share no shingle → unique documents (volume filler).
  * Every document carries a "the" stopword and ≥30 distinct-enough
  * tokens where its family requires surviving the quality funnel.
  *
  * Sessions built by [[graft.Session]] for Bench, Verify and the specs
  * run the df-cap guard, and the fam 0/1 replica cliques push
  * stop-shingles past `Dedup.ShingleDfCap` from about ×10 on, so the
  * shingle-join dedup family fails loudly there (SCALE.md header).
  *
  * SCALE.md is the frozen record of what the amplified corpora measured.
  */
object Amplify {

  /** `true` iff a previous run completed `table` under `out`. */
  private def written(s: SparkSession, out: String, table: String): Boolean = {
    val marker = new Path(s"$out/$table.parquet/_SUCCESS")
    marker.getFileSystem(s.sparkContext.hadoopConfiguration).exists(marker)
  }

  /** The deterministic ×`factor` document amplifier. */
  private[graft] def amplify(s: SparkSession, d: String, factor: Int,
      out: String): Unit = {
    if (written(s, out, "documents")) return
    val reps = s.range(factor).select(col("id").as("r"))
    val base = Tables.documents(s, d)
    val fam = pmod(col("doc_id"), lit(10L))
    val regular = base.where(fam =!= 2).crossJoin(reps)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("text2",
        when(fam === 0, col("text"))
          .when(fam === 1 && col("r") < 5,
            concat(col("text"), lit(" v"), col("r")))
          .otherwise(expr(
            "array_join(transform(toks, (t, i) -> " +
              "IF(i % 3 = 0, concat('r', CAST(r AS STRING), '_', t), t))," +
              " ' ')")))
      .select((col("doc_id") * factor + col("r")).as("doc_id"),
        col("text2").as("text"), col("lang"), col("source"),
        length(col("text2")).cast("long").as("n_chars"))
    val chains = base.where(fam === 2)
      .select(col("doc_id"), col("lang"), col("source"))
      .crossJoin(reps)
      .withColumn("text", expr(
        "concat('the ', array_join(transform(" +
          "sequence(r * 10, r * 10 + 40), " +
          "i -> concat('t', CAST(doc_id AS STRING), 'x'," +
          " CAST(i AS STRING))), ' '))"))
      .select((col("doc_id") * factor + col("r")).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    regular.unionByName(chains)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** Deterministic ×`factor` EMBEDDING amplifier, keyed by vec_id % 10:
    * fam 0 → every replica keeps the base vector verbatim (exact-dup
    * clusters of size F, cos = 1); fam 1, r < 5 → one coordinate scaled
    * 1.05 (near-dup cliques, cos ≈ 0.9988 — above any SRP band's miss
    * probability at the probed bit widths); everything else → per-replica
    * deterministic sign flips (xxhash64 of (new_id, dim)), pairwise
    * ~orthogonal unique vectors. No RNG: reruns produce byte-identical
    * corpora.
    *
    * The flip hash must NOT be the Knuth bit-16 family: that is the SRP
    * hyperplane family itself (SrpBandKeys.weight is bit16((p·64+j)·c),
    * and a flip pattern keyed bit16((nid·64+j)·c) IS plane nid's weight
    * row), so flipped vectors self-interfere with the LSH — measured at
    * ×100: 5,000-vector band cells, 55k vectors over the bucket cap in
    * all 64 bands, 70 planted clusters invisible. An independent hash
    * family restores the isotropy the unique fill is supposed to have —
    * the same independence requirement any production pipeline has
    * between its sharding hash and its LSH hash. */
  private[graft] def amplifyEmbeddings(s: SparkSession, d: String,
      factor: Int, out: String): Unit = {
    if (written(s, out, "embeddings")) return
    val reps = s.range(factor).select(col("id").as("r"))
    val fam = pmod(col("vec_id"), lit(10L))
    Tables.embeddings(s, d).crossJoin(reps)
      .withColumn("nid", col("vec_id") * factor + col("r"))
      .withColumn("v2",
        when(fam === 0, col("embedding"))
          .when(fam === 1 && col("r") < 5, expr(
            "transform(embedding, (x, i) -> " +
              "IF(i = CAST(r % 64 AS INT), x * CAST(1.05 AS FLOAT), x))"))
          .otherwise(expr(
            "transform(embedding, (x, i) -> " +
              "IF(pmod(xxhash64(nid * 64 + i), 2) = 0, x, -x))")))
      .select(col("nid").as("vec_id"), col("v2").as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Deterministic ×`factor` EVENTS amplifier: event and user ids shift
    * by replica (nid = id·F + r), timestamps and everything else kept
    * verbatim — models USER-dimension growth at a constant time span,
    * the streaming scale axis: per-key state (dedup rows in the
    * watermark, per-user/session state, join buffers) must grow
    * linearly in F while the watermark frontier and window count stay
    * fixed. Raw read/write (no Tables.events ts cast) so the parquet
    * stays TIMESTAMP_NTZ and the stream schema applies unchanged. */
  private[graft] def amplifyEvents(s: SparkSession, d: String,
      factor: Int, out: String): Unit = {
    if (written(s, out, "events")) return
    val reps = s.range(factor).select(col("id").as("r"))
    s.read.parquet(s"$d/events.parquet").crossJoin(reps)
      .select((col("event_id") * factor + col("r")).as("event_id"),
        col("ts"),
        (col("user_id") * factor + col("r")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** The tables [[write]] amplifies; every other fixture is copied. */
  val amplified: Seq[String] = Seq("documents", "embeddings", "events")

  /** Write the ×`factor` fixture directory `out` from the one at `src`. */
  def write(s: SparkSession, src: String, factor: Int, out: String): Unit = {
    amplify(s, src, factor, out)
    amplifyEmbeddings(s, src, factor, out)
    amplifyEvents(s, src, factor, out)
    val conf = s.sparkContext.hadoopConfiguration
    Tables.names.filterNot(amplified.contains).foreach { t =>
      val (from, to) = (new Path(s"$src/$t.parquet"), new Path(s"$out/$t.parquet"))
      FileUtil.copy(from.getFileSystem(conf), from, to.getFileSystem(conf), to,
        false, true, conf)
    }
  }

  /** `Amplify <srcDir> <factor> <outDir>` */
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Amplify <srcDir> <factor> <outDir>")
    val Array(src, factor, out) = args
    val spark = graft.Session.build(graft.Session.Bench, graft.Session.graftCpus)
    try write(spark, src, factor.toInt, out)
    finally spark.stop()
  }
}
