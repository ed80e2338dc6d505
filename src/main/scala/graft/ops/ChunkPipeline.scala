package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Chunk, FileStats, Page}
import graft.sources.ExtractedPage
import graft.split.{RecursiveCharacterSplitter, SplitConfig}

/** The reference's core dataflow, Spark-first (SURVEY.md §0):
  *
  * {{{
  * pages --flatMap splitter--> chunks --normalize/measure-->
  *   window prefix-sum offsets --> per-file agg --> rollup report
  * }}}
  *
  * Stage mapping to `/root/reference/pdf_reader.py`:
  *   - chunking `:446-453` -> typed `flatMap` (C1)
  *   - per-chunk normalize+measure `:459-477` -> codegen'd columns (C2)
  *   - running file offset `:483-485` -> window prefix-sum (C3)
  *   - per-file aggregate `:487-503` -> `groupBy(path).agg`, or the
  *     in-task [[fileStatsOf]] fold (A1)
  *   - corpus totals + SUM TOTAL row `:130-164` -> `rollup` (A2/U1),
  *     ordered inside the one partition the CSV sink writes
  *
  * Two shapes share the splitter and the normalization:
  *   - ingestion ([[chunk]] + [[chunkMetrics]]) keeps one row per
  *     chunk; its single shuffle is the hash-partition on `path` for
  *     the window, and a following `groupBy(path)` reuses that
  *     partitioning. Chunk `content` is dropped by Catalyst column
  *     pruning whenever downstream doesn't select it — the reference's
  *     manual `b_get_content=False` (`pdf_reader.py:406`) is
  *     unnecessary.
  *   - stats ([[fileStatsOf]], driven by [[graft.Engine.fileStats]])
  *     folds each file to its row inside the scan task: no window, no
  *     shuffle, no join, and each chunk's normalized length counted in
  *     one pass that builds no String ([[Normalize.normalizedLength]]);
  *     only the [[statsWithTotal]] rollup is global, and its exchange is
  *     the report's only one.
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

  /** C1: recursive character split as a typed flatMap.
    * One task per input partition; chunks never span pages (the
    * reference splits per-`Document`, SURVEY.md §2.4).
    */
  def chunk(pages: Dataset[Page], cfg: SplitConfig = SplitConfig()): Dataset[Chunk] = {
    import pages.sparkSession.implicits._
    pages.flatMap { p =>
      RecursiveCharacterSplitter.splitWithStartIndex(p.text, cfg)
        .iterator.zipWithIndex.map { case ((chunkText, start), idx) =>
          Chunk(p.path, p.page, idx, start, chunkText, p.fileSize)
        }
    }
  }

  /** C2-C4: normalized text, chunk length, file-order ordinal, and the
    * running `offset_in_file` prefix-sum (the reference's only
    * window-shaped computation, `pdf_reader.py:483-485`).
    */
  def chunkMetrics(chunks: Dataset[Chunk]): DataFrame = {
    val byFile = Window.partitionBy("path").orderBy("page", "chunkIdx")
    val prefix = byFile.rowsBetween(Window.unboundedPreceding, -1)
    chunks.toDF()
      .withColumn("norm_text", Normalize.normalizeCol(col("rawText")))
      .withColumn("chunk_len", length(col("norm_text")).cast("long"))
      .withColumn("chunk_in_file", (row_number().over(byFile) - 1).cast("long"))
      .withColumn("offset_in_file",
        coalesce(sum(col("chunk_len")).over(prefix), lit(0L)))
  }

  /** A1: per-file stats. Runs on the output of [[chunkMetrics]] and
    * reuses its hash-partitioning on `path` — no extra shuffle.
    * `ratio` is null (not an error) for zero-text files — documented
    * deviation from the reference's ZeroDivisionError
    * (`pdf_reader.py:491`, SURVEY.md §7.4).
    */
  def fileStats(chunkMetrics: DataFrame): Dataset[FileStats] = {
    val spark = chunkMetrics.sparkSession
    import spark.implicits._
    chunkMetrics.groupBy(col("path"))
      .agg(
        // pages are 0-based consecutive ordinals, so max+1 == count —
        // avoids the extra expand+exchange a count(DISTINCT) plans
        (max(col("page")) + 1).cast("long").as("pages"),
        count(lit(1)).as("chunks"),
        max(col("fileSize")).as("fileSize"),
        sum(col("chunk_len")).as("textSize"))
      .withColumn("ratio",
        when(col("textSize") === 0, lit(null).cast("double"))
          .otherwise(col("fileSize").cast("double") / col("textSize")))
      .select(
        col("path"), col("pages"), col("chunks"),
        col("fileSize"), col("textSize"), col("ratio"),
        // chunk rows exist only for pages that yielded text, so font
        // telemetry cannot flow through this overload — it is 0 by
        // construction here (documents-table sources have no fonts);
        // the page-aware overload below carries the real counts
        lit(0L).as("unmappedFonts"))
      .as[FileStats]
  }

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

  /** Report formatting (P8/P9): thousands-separated counts and
    * 2-decimal ratio, exactly the reference's console/CSV string forms
    * (`pdf_reader.py:59-97`). Kept at the sink boundary — inner stages
    * stay raw-typed (SURVEY.md §7.4).
    */
  def report(statsWithTotal: DataFrame): DataFrame = {
    statsWithTotal.select(
      // P2: basename projection for display (`os.path.basename`,
      // pdf_reader.py:73); the SUM TOTAL label has no '/' and passes
      // through unchanged
      element_at(split(col("path"), "/"), -1).as("Filename"),
      format_number(col("pages"), 0).as("Pages"),
      format_number(col("chunks"), 0).as("Chunks"),
      format_number(col("file_size"), 0).as("File Size"),
      format_number(col("text_size"), 0).as("Text Size"),
      when(col("ratio").isNull, lit("N/A"))
        .otherwise(format_string("%.2f", col("ratio"))).as("Ratio"),
      // 7th column beyond the reference's six (deliberate extension,
      // VERDICT r6/r7): fonts whose shown text was dropped as opaque
      // — "0" everywhere the reference's own corpora tread, nonzero
      // exactly where a page would otherwise read as silently blank
      format_number(col("unmapped_fonts"), 0).as("Unmapped Fonts"))
  }

  /** S5: CSV sink — header, one file (the reference writes one CSV per
    * root, `pdf_reader.py:174-186`).
    */
  def writeCsv(report: DataFrame, out: String): Unit =
    report.coalesce(1).write.option("header", "true").mode("overwrite").csv(out)

  /** S7: JSON metadata sink (the reference's `--print_metadata`
    * `json.dumps`, `pdf_reader.py:136-138`) — one JSON object per
    * file-stats row.
    */
  def writeJson(stats: Dataset[graft.FileStats], out: String): Unit =
    stats.coalesce(1).write.mode("overwrite").json(out)

  /** A1 with page-truth over a page Dataset and its [[chunkMetrics]]:
    * two aggregations joined on `path`, so the page source is
    * evaluated twice. [[graft.Engine.fileStats]] no longer uses it —
    * it folds each file with [[fileStatsOf]] — and it stays only for
    * callers that already hold both inputs.
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
    * Chunk lengths are code points of the normalized chunk, the same
    * count Spark's `length` gives in [[chunkMetrics]], counted without
    * building the normalized chunk.
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
      for (p <- pages; c <- RecursiveCharacterSplitter.splitText(p.text, cfg)) {
        chunks += 1
        textSize += Normalize.normalizedLength(c)
      }
      Some(FileStats(path, pages.map(_.page).max + 1L, chunks, length, textSize,
        if (textSize == 0) None else Some(length.toDouble / textSize),
        pages.map(_.unmappedFonts).sum))
    }

  /** End-to-end convenience: documents dir -> per-file stats + total. */
  def docChunkStats(
      spark: SparkSession,
      dir: String,
      cfg: SplitConfig = SplitConfig()): DataFrame =
    statsWithTotal(fileStats(chunkMetrics(chunk(pagesFromDocuments(spark, dir), cfg))))
}
