package org.apache.spark.sql.graftbridge

import java.io.OutputStream

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.arrow.ArrowBatchStreamWriter

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils, Spark 4.x) and the
  * Arrow batch serializer. Lives under the org.apache.spark.sql package
  * namespace solely to satisfy the access modifiers; this is the standard
  * pattern for libraries that ship custom Catalyst expressions against
  * Spark 4's ColumnNode API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point a
    * custom LogicalPlan node needs (Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Stable per-session UUID (`private[sql]` on the classic
    * SparkSession) — the memo key that replaces
    * `System.identityHashCode(session)`, which can collide after GC
    * and never evicts a stopped session's alias (ADVICE r9). */
  def sessionUUID(s: org.apache.spark.sql.SparkSession): String =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** The Spark schema of one parquet file, read from its footer on the
    * calling thread and converted the way Spark's own schema inference
    * converts it (`ParquetFileFormat.mergeSchemasInParallel`: the same
    * footer read and converter, from the session's SQLConf) — without
    * the Spark job that inference launches to read that one footer. */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val p = new org.apache.hadoop.fs.Path(path)
    val input = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
      state.newHadoopConf())
    val footer = new org.apache.parquet.hadoop.Footer(p,
      ParquetFooterReader.readFooter(input, org.apache.parquet.format
        .converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(state.conf))
  }

  /** Block until the shared LiveListenerBus has dispatched every queued
    * event (QueryExecutionListener and StreamingQueryListener both ride
    * it), or `timeoutMs` elapses. Replaces fixed-sleep races when
    * harvesting async listener state right after an action returns. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession,
      timeoutMs: Long): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The physical plan of a StreamingQuery's LAST executed micro-batch
    * (IncrementalExecution.executedPlan), or None before the first
    * trigger completes. This is what the streaming plan census walks:
    * per-trigger plans are the only place a streaming query's join
    * strategies and exchanges are visible. */
  def lastMicroBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[org.apache.spark.sql.execution.SparkPlan] = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).map(_.executedPlan)
    case _ => None
  }

  /** Partition directories each file scan in `df`'s physical plan will
    * read after STATIC partition pruning (selectedPartitions — before
    * any runtime DPP), one entry per scan. The keyed-upsert publish
    * sink records this against its touched-bucket set to prove the
    * isin filter prunes at plan time, at any bucket count. */
  def scannedPartitionDirs(df: DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }

  /** Stream `df` to `out` as an Arrow IPC stream (schema header + one
    * record batch per partition batch). Batches are serialized
    * DISTRIBUTED (`toArrowBatchRdd`, the same path `collectAsArrowToPython`
    * uses); the driver only relays opaque byte batches one partition at a
    * time (`toLocalIterator`), so the full result never materializes
    * driver-side — the stream-to-client shape of the reference's binary
    * columnar sink. */
  def writeArrowStream(df: DataFrame, out: OutputStream): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val tz = ds.sparkSession.sessionState.conf.sessionLocalTimeZone
    val writer = new ArrowBatchStreamWriter(ds.schema, out, tz,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    writer.writeBatches(ds.toArrowBatchRdd.toLocalIterator)
    writer.end()
  }
}
