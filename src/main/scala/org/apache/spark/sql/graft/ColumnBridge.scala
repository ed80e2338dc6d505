package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.util.SerializableConfiguration

/** Expression <-> Column bridge. Spark 4 made the classic converters
  * `private[sql]` (Column is ColumnNode-backed for Connect parity), so
  * this one-file shim lives under the sql package namespace — the
  * standard extension-library pattern for native `Expression` surfaces.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable unique session id (`sessionUUID` is private[sql] in
    * Spark 4); None for non-classic sessions.
    */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): Option[String] =
    spark match {
      case c: org.apache.spark.sql.classic.SparkSession => Some(c.sessionUUID)
      case _ => None
    }

  /** DataFrame from a logical plan (classic Dataset.ofRows is
    * private[sql] in Spark 4).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's Hadoop conf (the one a file scan such as `binaryFile`
    * reads with), broadcast once; the returned function runs in tasks.
    */
  def hadoopConfInTask(spark: org.apache.spark.sql.SparkSession): () => Configuration = {
    val conf = SerializableConfiguration.broadcast(spark.sparkContext,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf())
    () => conf.value.value
  }

  /** `binaryFile`'s error for a file longer than
    * `spark.sql.sources.binaryFile.maxLength`.
    */
  def fileTooLong(status: FileStatus, maxLength: Int): Throwable =
    QueryExecutionErrors.fileLengthExceedsMaxLengthError(status, maxLength)
}
