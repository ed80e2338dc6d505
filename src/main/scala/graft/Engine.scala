package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.ops.ChunkPipeline
import graft.sources.{FileSources, PageExtractor, PlainTextExtractor}
import graft.split.SplitConfig

/** The engine's public API — the Spark-first equivalent of the
  * reference's entry points (SURVEY.md §3):
  *
  *   - `File_Reader().process_files(dir, n, file_type, chunk_size,
  *     chunk_overlap)` (`/root/reference/pdf_reader.py:505-546`)
  *     -> [[fileStats]] (the un-aggregated per-file Dataset);
  *   - `_read_pdf_file(..., b_get_content=True)`
  *     (`pdf_reader.py:405-503`) -> [[chunks]] (with content; callers
  *     that don't select `rawText` get it column-pruned from their
  *     rows, which subsumes the reference's `b_get_content` flag,
  *     SURVEY.md §2.2 P12; the splitter builds the strings either way);
  *   - the CLI per-root loop + CSV naming
  *     (`pdf_reader.py:653-666`, `:195-215`) -> [[processRoots]].
  */
object Engine {

  final case class Options(
      glob: String = "*.txt",
      split: SplitConfig = SplitConfig(),
      extractor: PageExtractor = PlainTextExtractor)

  /** Chunks with content and file offsets (the vector-db ingestion
    * shape): [[ChunkPipeline.chunksOf]] walks each file in the task that
    * reads it, so writing them is one scan → sink stage, no shuffle.
    */
  def chunks(spark: SparkSession, root: String, opts: Options = Options()): Dataset[Chunk] = {
    import spark.implicits._
    FileSources.perFile(FileSources.binaryFiles(spark, root, opts.glob), opts.extractor)(
      ChunkPipeline.chunksOf(_, _, _, opts.split)).toDS()
  }

  /** Per-file statistics (pages, chunks, sizes, ratio). Pages are
    * counted from the page source, not from chunks, so chunkless pages
    * and files are represented (reference semantics: `pages =
    * len(documents)`, `pdf_reader.py:498`).
    *
    * A per-file fold inside the task that reads the file, like the
    * reference's worker (`pdf_reader.py:442-503`): the driver lists and
    * bins the files ([[FileSources.perFile]]), and one plain job decodes
    * each file once and reduces it with [[ChunkPipeline.fileStatsOf]] —
    * no shuffle, window or join. This Dataset wraps the job's RDD;
    * [[report]] collects the RDD itself. [[chunks]] is the ingestion
    * shape: the same walk over each file, keeping the chunk rows.
    */
  def fileStats(spark: SparkSession, root: String, opts: Options = Options()): Dataset[FileStats] = {
    import spark.implicits._
    fileStatsRdd(spark, root, opts).toDS()
  }

  private def fileStatsRdd(spark: SparkSession, root: String, opts: Options): RDD[FileStats] =
    FileSources.perFile(FileSources.binaryFiles(spark, root, opts.glob), opts.extractor)(
      ChunkPipeline.fileStatsOf(_, _, _, opts.split))

  /** The [[fileStats]] rows on the driver, from the one Spark job of the
    * report path.
    */
  private[graft] def collectFileStats(
      spark: SparkSession, root: String, opts: Options): Seq[FileStats] =
    fileStatsRdd(spark, root, opts).collect().toSeq

  /** Formatted report with the SUM TOTAL row last
    * (`pdf_reader.py:151-171`), in one Spark job: the [[fileStats]]
    * rows are collected, and the total, the order and the formatting
    * run on the driver over a local relation, as the reference's main
    * process totals its workers' rows (`pdf_reader.py:130-164`). The
    * driver holds one row per file.
    */
  def report(spark: SparkSession, root: String, opts: Options = Options()): DataFrame =
    report(spark, collectFileStats(spark, root, opts))

  /** The formatted report of per-file rows already on the driver. */
  def report(spark: SparkSession, stats: Seq[FileStats]): DataFrame =
    ChunkPipeline.report(ChunkPipeline.statsWithTotal(spark, stats))

  /** S4 + S8: per-root loop with sanitized per-root CSV names — the
    * reference writes one CSV per input folder
    * (`pdf_reader.py:653-666`). Returns root -> written CSV dir.
    */
  def processRoots(
      spark: SparkSession,
      roots: Seq[String],
      outDir: String,
      opts: Options = Options()): Map[String, String] =
    roots.map { root =>
      val out = s"$outDir/${sanitizeFolderPath(root)}"
      ChunkPipeline.writeCsv(report(spark, root, opts), out)
      root -> out
    }.toMap

  /** P10: path -> filename sanitization, exactly the reference's
    * `_folder_path_to_filename` (`pdf_reader.py:195-215`): non-word,
    * non-hyphen chars -> `_`, strip leading hyphens/underscores,
    * empty -> "folder".
    */
  def sanitizeFolderPath(path: String): String = {
    val cleaned = path.replaceAll("[^\\w\\-]", "_").replaceAll("^[-_]+", "")
    if (cleaned.isEmpty) "folder" else cleaned
  }
}
