package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface: converting between
  * `Column` and catalyst `Expression` so graft's native expressions can
  * be used from the public DataFrame API. Spark 4 routes Column through
  * ColumnNode (Connect refactor); `classic.ExpressionUtils` is the
  * supported classic-session conversion and is package-private to sql —
  * hence this one-file residence in the sql package namespace. Every
  * other member names the internal it reaches.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the listener bus so a SparkListener's counters
    * ([[graft.Profile]]'s jobs, stages, task CPU and shuffle bytes) are
    * complete before they are read — job, stage and task events post
    * asynchronously and the last ones can otherwise land after the body
    * returns. Throws if the bus is not empty within `timeoutMs`.
    * `listenerBus` is `private[spark]`; this is the only internal touched.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
                       timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Whether a stage writes a shuffle (a shuffle-map stage): it carries
    * the id of the shuffle it produces. `StageInfo.shuffleDepId` is
    * `private[spark]`.
    */
  def isShuffleMapStage(stage: org.apache.spark.scheduler.StageInfo): Boolean =
    stage.shuffleDepId.isDefined

  /** Register a function builder on a LIVE session's function registry
    * (the post-construction analog of `SparkSessionExtensions
    * .injectFunction`, which only applies at session build). Same
    * `private[sql]` rationale as the Column conversions above.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name),
        builder)

  /** The Spark schema of one parquet data file, read from its footer
    * on the driver exactly as Spark's schema inference reads it
    * (`ParquetFileFormat.readSchemaFromFooter` — the Spark row schema
    * stored in the footer when present, else the parquet message type
    * converted under the session's `SQLConf`), without the one-task
    * job `spark.read.parquet` submits to do the same. The footer is
    * read without its row-group metadata.
    */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
                          conf: org.apache.hadoop.conf.Configuration,
                          file: org.apache.hadoop.fs.FileStatus)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val meta = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
