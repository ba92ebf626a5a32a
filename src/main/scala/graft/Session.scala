package graft

import org.apache.spark.sql.SparkSession

/** The one definition of a graft SparkSession — the role the reference's
  * single `duckdb::DBConfig` plays for every DuckDB instance it opens
  * (main.cc:174-179). Every entry point builds its session here from the
  * shared [[base]] plus one named [[Profile]]; each deliberate difference
  * between entry points is a delta listed below, nowhere else.
  *
  * The base, for `n` local cores:
  *  - `local[n]` with `n` shuffle partitions, AQE on;
  *  - `spark.sql.sources.v2.bucketing.enabled`: storage-partitioned DSv2
  *    scans (SynthSource layout=mod) report KeyGroupedPartitioning, and
  *    this flag lets Catalyst honor it;
  *  - UTC session time zone (the fixtures' naive timestamps read as UTC,
  *    matching DuckDB), no UI, and the warehouse under `target/`.
  */
object Session {

  /** A delta over [[base]]: extra confs, the log level, and an app name
    * (unset ⇒ Spark's random one). */
  final case class Profile(confs: Map[String, String], logLevel: String,
      appName: Option[String] = None)

  def base(n: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // resolved against the working directory, the repo root under sbt
    "spark.sql.warehouse.dir" ->
      java.nio.file.Paths.get("target/warehouse").toAbsolutePath.toString)

  /** Oracle-replayed context: the DuckDB twins replay the shingle pair
    * join with NO df cap, so assert capped ≡ uncapped (see
    * Dedup.assertDfCapInactive). Default is off for production. */
  private val DfCapGuardOn = "spark.graft.dedup.dfCapGuard" -> "on"

  /** graft.Bench and PlanDump (whose plans must match what Bench runs).
    * The publish sink's proof receipts — a count job on the persisted
    * batch frame, a driver dir listing, a plan walk and two bucket-size
    * walks per upsert trigger — are telemetry, not query computation:
    * off here so the bench measures the published table's cost, not its
    * audit trail (rows are identical either way). ERROR, not WARN: the
    * k-row presentation windows legitimately log WindowExec
    * single-partition warnings, and hundreds of those lines around the
    * final JSON line are a parse hazard for whoever reads Bench's
    * stdout. */
  val Bench = Profile(Map(DfCapGuardOn,
    "spark.graft.publish.receipts" -> "off"), "ERROR")

  /** graft.Verify: int64 micros, not int96, so DuckDB and pyarrow read
    * the exact instants the oracle computes. */
  val Verify = Profile(Map(DfCapGuardOn,
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"), "WARN")

  /** The shared spec session (built on `local[8]`). */
  val Test = Profile(Map(DfCapGuardOn), "WARN", Some("graft-tests"))

  /** ScanRunner.main, the reference's own per-file scan program. */
  val Scan = Profile(Map.empty, "WARN", Some("graft-scan-runner"))

  /** Every conf a `p` session on `n` cores is built with. */
  def confs(p: Profile, n: Int): Map[String, String] = base(n) ++ p.confs

  /** Cores for the library entry points: `SPARK_GRAFT_CPUS`, default 32
    * (the reference's `Env_jobs` default, main.cc:376-385). */
  def graftCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def build(p: Profile, n: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$n]")
    p.appName.foreach(b.appName)
    confs(p, n).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(p.logLevel)
    s
  }
}
