package org.apache.spark.sql.graft

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.internal.SQLConf
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

  /** What a `binaryFile` scan would read, taken from the relation's file
    * index on the driver, so no job runs: the files that Spark's own
    * recursive lookup, glob, hidden-file and empty-file rules keep, with
    * the session's `spark.sql.files.openCostInBytes` and
    * `spark.sql.files.ignoreMissingFiles`. A file longer than
    * `spark.sql.sources.binaryFile.maxLength` fails here with
    * `binaryFile`'s own error, before any task starts. `files` must be
    * the bare relation `spark.read.format("binaryFile").load(...)` gives;
    * any other plan fails.
    */
  def binaryFileListing(files: DataFrame): BinaryFileListing = {
    val plan = files.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
    val relation = plan match {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.fileFormat.isInstanceOf[BinaryFileFormat] => r
      case _ => throw new IllegalArgumentException(
        s"expected a bare binaryFile relation as the listing, got:\n$plan")
    }
    val conf = files.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    val maxLength = conf.getConf(SQLConf.SOURCES_BINARY_FILE_MAX_LENGTH)
    val listed = relation.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    listed.find(_.getLen > maxLength).foreach { status =>
      throw QueryExecutionErrors.fileLengthExceedsMaxLengthError(status, maxLength)
    }
    BinaryFileListing(listed, conf.filesOpenCostInBytes, conf.ignoreMissingFiles)
  }

  final case class BinaryFileListing(
      files: Seq[FileStatus], openCostInBytes: Long, ignoreMissingFiles: Boolean)

  /** A file scan's error for a listed file that is gone when read. */
  def fileNotFound(path: String, e: FileNotFoundException): Throwable =
    QueryExecutionErrors.fileNotExistError(path, e)

  /** Inside a task: counts the task's input as a file scan does. The
    * returned function, called after each file, adds one record and sets
    * the bytes read to those this thread has read through Hadoop
    * FileSystems since this call.
    */
  def inputCounter(): () => Unit = {
    val metrics = TaskContext.get().taskMetrics().inputMetrics
    val before = metrics.bytesRead
    val readOnThread = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    () => {
      metrics.incRecordsRead(1)
      metrics.setBytesRead(before + readOnThread())
    }
  }
}
