package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Amplify, Tables}

class AmplifySpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private val F = 3
  private val dirs = Seq.newBuilder[String]

  /** A fresh ×F fixture dir (fresh, so no `_SUCCESS` marker is reused). */
  private def amplified(): String = {
    val out = Files.createTempDirectory("graft_amplify").toString
    dirs += out
    Amplify.write(spark, sf, F, out)
    out
  }

  private lazy val amp = amplified()

  override def afterAll(): Unit =
    dirs.result().foreach(d => FileUtils.deleteDirectory(new java.io.File(d)))

  /** Order-independent row digest: the sorted multiset of row hashes. */
  private def digest(df: DataFrame): Seq[Long] =
    df.select(xxhash64(df.columns.map(col).toSeq: _*)).collect()
      .map(_.getLong(0)).sorted.toSeq

  test("documents, embeddings and events are ×3; the other 7 tables are copies") {
    Amplify.amplified.foreach { t =>
      assert(Tables.load(spark, amp, t).count() ==
        F * Tables.load(spark, sf, t).count(), t)
    }
    val copied = Tables.names.filterNot(Amplify.amplified.contains)
    assert(copied.size == 7)
    copied.foreach { t =>
      val (a, b) = (Tables.load(spark, amp, t), Tables.load(spark, sf, t))
      assert(a.schema == b.schema, t)
      assert(a.collect().toSeq == b.collect().toSeq, t)
    }
  }

  test("a second amplification gives the same rows (no RNG)") {
    val again = amplified()
    Amplify.amplified.foreach { t =>
      assert(digest(Tables.load(spark, again, t)) ==
        digest(Tables.load(spark, amp, t)), t)
    }
  }

  // SCALE.md §16's shape: the events amplifier grows the user dimension
  // at a fixed time span, so tumbling windows keep their keys and every
  // count scales by F, while per-user dedup state repeats F times.
  test("streaming on ×3 events: same windows with 3× counts, n_types ×3") {
    def run(q: String, d: String) = SparkEntry.queries(q)(spark, d).collect().toSeq
    val base = run("q_stream_tumbling", sf)
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val scaled = run("q_stream_tumbling", amp)
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
    assert(scaled.size == base.size)
    assert(scaled.map(_._1).toSet == base.keySet)
    scaled.foreach { case (k, n) => assert(n == F * base(k), k) }

    val nTypes = run("q_stream_dedup_watermark", sf).map(_.getLong(1))
    val nTypesScaled = run("q_stream_dedup_watermark", amp).map(_.getLong(1))
    assert(nTypesScaled.sorted == Seq.fill(F)(nTypes).flatten.sorted)
  }
}
