package org.apache.spark.sql.graft

import java.io.{ByteArrayOutputStream, FileNotFoundException, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource, FileIndex, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
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

  private def classic(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The session's Hadoop conf (the one a file scan such as `binaryFile`
    * reads with) for tasks; the returned function runs in tasks. One
    * broadcast is kept per SparkContext, keyed on a SHA-256 over the
    * conf's sorted entries, and reused while the key holds: a changed
    * Hadoop key, or a session SQL conf that `newHadoopConf` copies, gives
    * the next call a new broadcast.
    */
  def hadoopConfInTask(spark: org.apache.spark.sql.SparkSession): ConfInTask = {
    val conf = classic(spark).sessionState.newHadoopConf()
    val key = confKey(conf)
    val sc = spark.sparkContext
    val broadcast = synchronized {
      heldConf match {
        case Some(HeldConf(`sc`, k, b)) if MessageDigest.isEqual(k, key) => b
        case _ =>
          val b = SerializableConfiguration.broadcast(sc, conf)
          heldConf = Some(HeldConf(sc, key, b))
          b
      }
    }
    new ConfInTask(broadcast)
  }

  /** A broadcast Hadoop conf, read in tasks. */
  final class ConfInTask(conf: Broadcast[SerializableConfiguration])
      extends (() => Configuration) with Serializable {
    def apply(): Configuration = conf.value.value
    def broadcastId: Long = conf.id
  }

  private final case class HeldConf(
      sc: SparkContext, key: Array[Byte], conf: Broadcast[SerializableConfiguration])

  private var heldConf: Option[HeldConf] = None

  private def confKey(conf: Configuration): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = {
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(bytes.length).array())
      md.update(bytes)
    }
    for (e <- conf.iterator().asScala.toSeq.sortBy(_.getKey)) {
      put(e.getKey)
      put(e.getValue)
    }
    md.digest()
  }

  /** What a `binaryFile` scan would read, taken from the relation's file
    * index on the driver, so no job runs (see [[binaryFileListing]] of a
    * root). `files` must be the bare relation
    * `spark.read.format("binaryFile").load(...)` gives; any other plan
    * fails.
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
    listing(classic(files.sparkSession), relation.location)
  }

  /** What `spark.read.format("binaryFile").options(options).load(root)`
    * would read, from the file index that relation would hold, built
    * directly: the same options (with the `path` the reader adds), the
    * same root glob expansion and missing-path error, and the same
    * index, with no data source lookup, relation or plan. The files are
    * those Spark's own recursive lookup, glob, hidden-file and
    * empty-file rules keep, with the session's
    * `spark.sql.files.openCostInBytes` and
    * `spark.sql.files.ignoreMissingFiles`. A file longer than
    * `spark.sql.sources.binaryFile.maxLength` fails here with
    * `binaryFile`'s own error, before any task starts.
    */
  def binaryFileListing(
      spark: org.apache.spark.sql.SparkSession, root: String,
      options: Map[String, String]): BinaryFileListing = {
    val session = classic(spark)
    val withPath = options + ("path" -> root)
    val rootPaths = DataSource.checkAndGlobPathIfNecessary(Seq(root),
      session.sessionState.newHadoopConfWithOptions(withPath),
      checkEmptyGlobPath = true, checkFilesExist = true,
      enableGlobbing = CaseInsensitiveMap(withPath).get(DataSource.GLOB_PATHS_KEY).forall(_ == "true"))
    listing(session, new InMemoryFileIndex(session, rootPaths, withPath, None,
      FileStatusCache.getOrCreate(session)))
  }

  private def listing(
      session: org.apache.spark.sql.classic.SparkSession, index: FileIndex): BinaryFileListing = {
    val conf = session.sessionState.conf
    val maxLength = conf.getConf(SQLConf.SOURCES_BINARY_FILE_MAX_LENGTH)
    val listed = index.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    listed.find(_.getLen > maxLength).foreach { status =>
      throw QueryExecutionErrors.fileLengthExceedsMaxLengthError(status, maxLength)
    }
    BinaryFileListing(listed, conf.filesOpenCostInBytes, conf.ignoreMissingFiles)
  }

  final case class BinaryFileListing(
      files: Seq[FileStatus], openCostInBytes: Long, ignoreMissingFiles: Boolean)

  /** The rows of `df`, collected once as one SQL execution, as Catalyst
    * rows of `df.schema`.
    */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** CSV text of `rows` under a header line, encoded as
    * `write.option("header", "true").csv` encodes one partition: Spark's
    * CSV generator with the writer's default options for this session,
    * into the options' charset.
    */
  def csvBytes(
      spark: org.apache.spark.sql.SparkSession, schema: StructType,
      rows: Iterable[InternalRow]): Array[Byte] = {
    val conf = classic(spark).sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val bytes = new ByteArrayOutputStream()
    val gen = new UnivocityGenerator(schema,
      new OutputStreamWriter(bytes, Charset.forName(options.charset)), options)
    gen.writeHeaders()
    rows.foreach(gen.write)
    gen.close()
    bytes.toByteArray
  }

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
