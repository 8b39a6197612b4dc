package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Column <-> Expression bridge. Spark 4 made these converters
  * private[sql]; custom Catalyst expressions still need them to surface
  * as Columns, so we expose the two calls from inside the sql package.
  */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (custom) logical plan; classic.Dataset.ofRows is
    * private[sql] in Spark 4.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Parquet scan of exactly the files `index` lists, read under
    * `dataSchema`: the relation `spark.read.parquet` builds, minus its
    * path discovery and schema inference. Nullable like every file
    * source relation (`StructType.asNullable` is private[spark]). */
  def parquetScan(spark: SparkSession, index: FileIndex,
      dataSchema: StructType): DataFrame =
    ofRows(spark, LogicalRelation(HadoopFsRelation(index, new StructType(),
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(spark)))

  /** Schema of one parquet file from its footer, read on the driver —
    * what parquet schema inference derives for a single file, without
    * the one-task job it runs to get there. */
  def parquetFooterSchema(spark: SparkSession, file: FileStatus): StructType = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, s.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf))
  }

  /** Memory-manager page size for custom spillable operators (what
    * SortExec passes to UnsafeExternalRowSorter); SparkEnv.memoryManager
    * is private[spark].
    */
  def pageSizeBytes: Long =
    org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** Fork of `s` sharing its SparkContext with a COPY of its session
    * state (conf, catalog, registered functions) — the isolation tool
    * for operators that must flip a session conf (Bfs's AQE toggle)
    * without the flip leaking to unrelated queries planned
    * concurrently on the caller's session. `SparkSession.cloneSession`
    * is private[sql] in Spark 4.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Drain the async listener bus so a SparkListener's counters are
    * consistent with the jobs that already finished — Bench snapshots
    * per-query job counts around each timed run and the delta is only
    * attributable once queued events are delivered. `listenerBus` is
    * private[spark]. Best-effort: a timeout must not fail a bench.
    */
  def waitListenerBus(s: SparkSession, timeoutMs: Long = 10000L): Unit =
    try s.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Exception => () }

  /** The RDD backing a localCheckpoint()'d frame. Needed for explicit
    * release in iterative fixpoints: Dataset.unpersist only clears
    * cacheManager entries (.cache/.persist) and does NOT touch the
    * RDD-level persistence a checkpoint pins — without this, superseded
    * per-round frames leak storage for the session lifetime.
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
}
