package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CaseWhen, ElementAt, Expression,
  FormatNumber, FormatString, GenericInternalRow, IsNull, Literal, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.{Chunk, FileStats, Page}
import graft.sources.ExtractedPage
import graft.split.{RecursiveCharacterSplitter, SplitConfig}

/** The reference's core dataflow, Spark-first (SURVEY.md §0):
  *
  * {{{
  * a file's pages --chunksOf--> chunks with file ordinal and offset
  *   --> chunk rows (ingestion), or count + sum --> per-file row
  *   --> rollup report
  * }}}
  *
  * Stage mapping to `/root/reference/pdf_reader.py`:
  *   - chunking `:446-453`, per-chunk normalize+measure `:459-477` and
  *     the chunk ordinal and running file offset `:483-485` ->
  *     [[chunksOf]], one walk over one file's pages in page order
  *     (C1-C4); [[chunkMetrics]] adds the normalized text as a column
  *   - per-file aggregate `:487-503` -> [[fileStatsOf]], a count and a
  *     sum over [[chunksOf]] (A1)
  *   - corpus totals + SUM TOTAL row `:130-164` (A2/U1) -> on the PDF
  *     path, the local `statsWithTotal(spark, rows)`: the collected
  *     per-file rows totalled and ordered on the driver, as the
  *     reference's main process does; on the documents path, the lazy
  *     `rollup` form
  *   - report formatting `:59-97` (P8/P9) -> one set of [[report]]
  *     expressions: resolved over a DataFrame, or bound to the local
  *     rows and evaluated on the driver with no plan ([[localReport]])
  *   - CSV sink `:174-186` (S5) -> [[writeCsv]], the lines made by
  *     Spark's CSV generator and written by the driver
  *
  * Every chunk or stats producer runs the kernel once per file, in the
  * task that holds the file's pages, so no chunk is shuffled to learn
  * its place in the file. The source decides which pages make up a
  * file: [[graft.sources.FileSources.perFile]] (a decoded file),
  * [[perDocument]] (a `documents` row) or [[chunk]] (a page Dataset
  * grouped by `path`). Column pruning keeps `rawText` out of rows whose
  * consumer doesn't select it — the reference's `b_get_content=False`
  * (`pdf_reader.py:406`) — though the splitter builds it either way.
  */
object ChunkPipeline {

  /** Parquet-backed page source (SURVEY.md §2.1 S3 stand-in): each row
    * of `documents.parquet` is one single-page file; `doc_id` plays
    * the file path and `n_chars` plays the on-disk file size.
    */
  def pagesFromDocuments(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    graft.sources.Tables.table(spark, dir, "documents")
      .select(
        col("doc_id").cast("string").as("path"),
        lit(0).as("page"),
        col("text"),
        col("n_chars").cast("long").as("fileSize"),
        lit(0L).as("unmappedFonts")) // no fonts in a parquet text source
      .as[Page]
  }

  /** [[pagesFromDocuments]] as a file source: `f` sees each row as one
    * file, as [[graft.sources.FileSources.perFile]] shows a decoded file.
    */
  def perDocument[T: Encoder](spark: SparkSession, dir: String)(
      f: (String, Long, Seq[ExtractedPage]) => IterableOnce[T]): Dataset[T] =
    pagesFromDocuments(spark, dir).flatMap(p =>
      f(p.path, p.fileSize, Seq(ExtractedPage(p.page, p.text, p.unmappedFonts))))

  /** C1-C4, the chunk kernel: one file's chunks from its pages in page
    * order, as the reference's worker walks them (`pdf_reader.py:446-485`).
    * No chunk spans pages. Each carries its normalized length in code
    * points ([[Normalize.normalizedLength]]), its ordinal in the file and
    * the sum of the lengths of the file's chunks before it.
    */
  def chunksOf(
      path: String, fileSize: Long, pages: Seq[ExtractedPage],
      cfg: SplitConfig): Iterator[Chunk] = {
    var chunkInFile = 0L
    var offsetInFile = 0L
    for {
      p <- pages.iterator
      ((text, start), idx) <-
        RecursiveCharacterSplitter.splitWithStartIndex(p.text, cfg).iterator.zipWithIndex
    } yield {
      val len = Normalize.normalizedLength(text).toLong
      val c = Chunk(path, p.page, idx, start, text, fileSize, len, chunkInFile, offsetInFile)
      chunkInFile += 1
      offsetInFile += len
      c
    }
  }

  /** [[chunksOf]] over any page Dataset: one shuffle groups each file's
    * pages by `path`, and they are walked in page order, whatever the
    * input's partitioning and order.
    */
  def chunk(pages: Dataset[Page], cfg: SplitConfig = SplitConfig()): Dataset[Chunk] = {
    import pages.sparkSession.implicits._
    pages.groupByKey(_.path).flatMapGroups { (path, group) =>
      val inOrder = group.toVector.sortBy(_.page)
      chunksOf(path, inOrder.head.fileSize,
        inOrder.map(p => ExtractedPage(p.page, p.text, p.unmappedFonts)), cfg)
    }
  }

  /** C2-C4 under the reference's names: the [[chunksOf]] fields plus
    * the normalized chunk text ([[Normalize.normalizeCol]]).
    */
  def chunkMetrics(chunks: Dataset[Chunk]): DataFrame =
    chunks.toDF().select(
      col("path"), col("page"), col("chunkIdx"), col("offsetInPage"),
      col("rawText"), col("fileSize"),
      Normalize.normalizeCol(col("rawText")).as("norm_text"),
      col("chunkLen").as("chunk_len"),
      col("chunkInFile").as("chunk_in_file"),
      col("offsetInFile").as("offset_in_file"))

  /** A2 + U1: per-file rows plus the corpus-total row — expressed as a
    * `rollup("path")` (one pass, partial aggregation map-side) with the
    * grand-total row labeled `SUM TOTAL` and ordered last
    * (`pdf_reader.py:154-164` append-last invariant). The total ratio
    * is ratio-of-sums, NOT mean-of-ratios (`pdf_reader.py:148`).
    *
    * The report is one row per file, and its sinks write one file, so
    * it is ordered in a single partition (`coalesce(1)` +
    * `sortWithinPartitions`): the rollup's exchange stays the only one
    * and the last stage boundary, so the scan keeps its parallelism,
    * and no range-partitioning sample job or sort shuffle runs.
    */
  def statsWithTotal(stats: Dataset[FileStats]): DataFrame = {
    stats.toDF()
      .rollup(col("path"))
      .agg(
        sum(col("pages")).as("pages"),
        sum(col("chunks")).as("chunks"),
        sum(col("fileSize")).as("file_size"),
        sum(col("textSize")).as("text_size"),
        sum(col("unmappedFonts")).as("unmapped_fonts"),
        grouping(col("path")).as("is_total"))
      .withColumn("ratio",
        when(col("text_size") === 0, lit(null).cast("double"))
          .otherwise(col("file_size").cast("double") / col("text_size")))
      .withColumn("path", coalesce(col("path"), lit("SUM TOTAL")))
      .coalesce(1)
      .sortWithinPartitions(col("is_total"), col("path"))
      .drop("is_total")
  }

  /** The schema both [[statsWithTotal]] forms give. */
  private val StatsWithTotalSchema = StructType(
    StructField("path", StringType, nullable = false) +:
      Seq("pages", "chunks", "file_size", "text_size", "unmapped_fonts")
        .map(StructField(_, LongType)) :+
      StructField("ratio", DoubleType))

  /** A2 + U1 over per-file rows already on the driver: the rows and
    * schema the lazy `rollup` form gives, as a local relation, so the
    * [[report]] formatting over it runs on the driver with no job — the
    * reference's main process totals its workers' rows the same way
    * (`pdf_reader.py:130-164`). Rows of one path are summed, as the
    * rollup groups them; they sort by the UTF-8 bytes of `path` (Spark's
    * binary string order, not `String`'s UTF-16 order), `SUM TOTAL`
    * comes last, every ratio is a ratio of sums, null on zero text, and
    * a sum that overflows fails, as Spark's ANSI `sum` does. No rows, no
    * total row: the rollup of an empty input is empty too.
    */
  def statsWithTotal(spark: SparkSession, rows: Seq[FileStats]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(totalled(rows): _*), StatsWithTotalSchema)

  /** The rows of [[statsWithTotal]], in [[StatsWithTotalSchema]]. */
  private def totalled(rows: Seq[FileStats]): Seq[Row] = {
    def add(a: FileStats, b: FileStats): FileStats = FileStats(a.path,
      Math.addExact(a.pages, b.pages), Math.addExact(a.chunks, b.chunks),
      Math.addExact(a.fileSize, b.fileSize), Math.addExact(a.textSize, b.textSize),
      None, Math.addExact(a.unmappedFonts, b.unmappedFonts))
    def row(path: String, s: FileStats): Row = Row(path, s.pages, s.chunks,
      s.fileSize, s.textSize, s.unmappedFonts,
      if (s.textSize == 0) null else s.fileSize.toDouble / s.textSize)
    val utf8 = Ordering.comparatorToOrdering[Array[Byte]](java.util.Arrays.compareUnsigned(_, _))
    val perPath = rows.groupMapReduce(_.path)(identity)(add).values.toSeq
      .sortBy(_.path.getBytes(UTF_8))(utf8)
    perPath.map(s => row(s.path, s)) ++ perPath.reduceOption(add).map(row("SUM TOTAL", _))
  }

  /** Report formatting (P8/P9): thousands-separated counts and
    * 2-decimal ratio, exactly the reference's console/CSV string forms
    * (`pdf_reader.py:59-97`). Kept at the sink boundary — inner stages
    * stay raw-typed (SURVEY.md §7.4). The seven columns as expressions
    * over the [[statsWithTotal]] columns, each named by `in`: [[report]]
    * resolves them over a DataFrame, [[localReport]] binds them to rows
    * on the driver.
    */
  private def reportColumns(in: String => Expression): Seq[(String, Expression)] = Seq(
    // P2: basename projection for display (`os.path.basename`,
    // pdf_reader.py:73); the SUM TOTAL label has no '/' and passes
    // through unchanged
    "Filename" -> ElementAt(StringSplit(in("path"), Literal("/"), Literal(-1)), Literal(-1)),
    "Pages" -> FormatNumber(in("pages"), Literal(0)),
    "Chunks" -> FormatNumber(in("chunks"), Literal(0)),
    "File Size" -> FormatNumber(in("file_size"), Literal(0)),
    "Text Size" -> FormatNumber(in("text_size"), Literal(0)),
    "Ratio" -> CaseWhen(Seq(IsNull(in("ratio")) -> Literal("N/A")),
      FormatString(Literal("%.2f"), in("ratio"))),
    // 7th column beyond the reference's six (deliberate extension,
    // VERDICT r6/r7): fonts whose shown text was dropped as opaque
    // — "0" everywhere the reference's own corpora tread, nonzero
    // exactly where a page would otherwise read as silently blank
    "Unmapped Fonts" -> FormatNumber(in("unmapped_fonts"), Literal(0)))

  /** The formatted report of a [[statsWithTotal]] DataFrame. */
  def report(statsWithTotal: DataFrame): DataFrame =
    statsWithTotal.select(reportColumns(name => ColumnBridge.expression(col(name))).map {
      case (name, e) => ColumnBridge.column(e).as(name)
    }: _*)

  /** A formatted report held on the driver, in the schema [[report]]
    * gives.
    */
  final case class LocalReport(schema: StructType, rows: Seq[InternalRow]) {
    def toDF(spark: SparkSession): DataFrame =
      ColumnBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }

  /** `report(statsWithTotal(spark, rows))` with no plan: the [[report]]
    * expressions bound to the local [[statsWithTotal]] rows and
    * evaluated on the driver, so no analyzer, optimizer, planner or SQL
    * execution runs.
    */
  def localReport(rows: Seq[FileStats]): LocalReport = {
    val columns = reportColumns { name =>
      val field = StatsWithTotalSchema(name)
      BoundReference(StatsWithTotalSchema.fieldIndex(name), field.dataType, field.nullable)
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(StatsWithTotalSchema)
    val in = totalled(rows).map(toCatalyst(_).asInstanceOf[InternalRow])
    LocalReport(
      StructType(columns.map { case (name, e) => StructField(name, e.dataType, e.nullable) }),
      in.map(r => new GenericInternalRow(columns.map(_._2.eval(r)).toArray)))
  }

  /** S5: CSV sink — header, one file (the reference writes one CSV per
    * root, `pdf_reader.py:174-186`). The bytes are those of
    * `coalesce(1).write.option("header", "true").mode("overwrite").csv`:
    * the header and every row come from Spark's own CSV generator with
    * the writer's defaults ([[ColumnBridge.csvBytes]]). The rows are
    * collected once (one SQL execution), and the driver writes them
    * through the out path's file system, so no write job or commit
    * protocol runs: one `part-00000-*.csv` plus `_SUCCESS` go to a hidden
    * sibling directory that then replaces `out`, and is removed if the
    * write or the rename fails. The report must fit the driver: one row
    * per file. A report over a local relation (as [[graft.Engine.report]]
    * gives) starts no job at all.
    */
  def writeCsv(report: DataFrame, out: String): Unit =
    writeCsv(report.sparkSession, report.schema, ColumnBridge.collectInternal(report), out)

  /** [[writeCsv]] of a report already on the driver: no plan at all. */
  def writeCsv(spark: SparkSession, report: LocalReport, out: String): Unit =
    writeCsv(spark, report.schema, report.rows, out)

  private def writeCsv(
      spark: SparkSession, schema: StructType, rows: Iterable[InternalRow], out: String): Unit = {
    val csv = ColumnBridge.csvBytes(spark, schema, rows)
    val dir = new Path(out)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = fs.makeQualified(dir)
    val uuid = java.util.UUID.randomUUID()
    val tmp = new Path(target.getParent, s".${target.getName}-$uuid.tmp")
    val files = Seq(s"part-00000-$uuid-c000.csv" -> csv, "_SUCCESS" -> Array.emptyByteArray)
    try {
      fs match {
        // Hadoop's local file system writes a .crc beside each file and,
        // without its native library, forks a chmod for each file and
        // directory it creates
        case local: LocalFileSystem =>
          val t = java.nio.file.Files.createDirectories(local.pathToFile(tmp).toPath)
          for ((name, bytes) <- files) java.nio.file.Files.write(t.resolve(name), bytes)
        case _ =>
          fs.mkdirs(tmp)
          for ((name, bytes) <- files) {
            val o = fs.create(new Path(tmp, name), false)
            try o.write(bytes) finally o.close()
          }
      }
      if (fs.exists(target)) fs.delete(target, true)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"could not rename $tmp to $target")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, true) catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }
  }

  /** A1 with page-truth over a page Dataset and its [[chunkMetrics]]:
    * two aggregations joined on `path`, so the page source is
    * evaluated twice. It gives the [[fileStatsOf]] rows and serves as
    * their relational reference; no engine path uses it.
    */
  def fileStats(pages: Dataset[Page], chunkMetrics: DataFrame): Dataset[FileStats] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val pageStats = pages.toDF().groupBy(col("path"))
      .agg(
        (max(col("page")) + 1).cast("long").as("pages"),
        max(col("fileSize")).as("fileSize"),
        sum(col("unmappedFonts")).as("unmappedFonts"))
    val chunkAgg = chunkMetrics.groupBy(col("path"))
      .agg(
        count(lit(1)).as("chunks"),
        sum(col("chunk_len")).as("textSize"))
    pageStats.join(chunkAgg, Seq("path"), "left")
      .na.fill(0L, Seq("chunks", "textSize"))
      .withColumn("ratio",
        when(col("textSize") === 0, lit(null).cast("double"))
          .otherwise(col("fileSize").cast("double") / col("textSize")))
      .select(
        col("path"), col("pages"), col("chunks"),
        col("fileSize"), col("textSize"), col("ratio"),
        col("unmappedFonts"))
      .as[FileStats]
  }

  /** A1 with page-truth as a per-file fold: one file's stats from its
    * extracted pages — the reference's `pages = len(documents)`
    * (`pdf_reader.py:498,503`), so trailing pages that yield no chunks
    * still count, and a file whose pages yield no chunks at all
    * (empty/whitespace text) gets `chunks = 0` and a null ratio (the
    * documented deviation from the reference's ZeroDivisionError,
    * SURVEY.md §7.4). A file with no pages (undecodable) has no row.
    * `chunks` and `textSize` are a count and a sum over [[chunksOf]].
    * `unmappedFonts` sums the per-page counts: one entry per (page,
    * font resource) whose text was dropped as opaque — the
    * honest-telemetry flag for silently-empty CJK extractions.
    */
  def fileStatsOf(
      path: String, length: Long, pages: Seq[ExtractedPage],
      cfg: SplitConfig): Option[FileStats] =
    if (pages.isEmpty) None
    else {
      var chunks = 0L
      var textSize = 0L
      for (c <- chunksOf(path, length, pages, cfg)) {
        chunks += 1
        textSize += c.chunkLen
      }
      Some(FileStats(path, pages.map(_.page).max + 1L, chunks, length, textSize,
        if (textSize == 0) None else Some(length.toDouble / textSize),
        pages.map(_.unmappedFonts).sum))
    }

  /** End-to-end convenience: documents dir -> per-file stats + total. */
  def docChunkStats(
      spark: SparkSession,
      dir: String,
      cfg: SplitConfig = SplitConfig()): DataFrame = {
    import spark.implicits._
    statsWithTotal(perDocument(spark, dir)(fileStatsOf(_, _, _, cfg)))
  }
}
