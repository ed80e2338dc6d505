package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.Page

/** Document -> pages decode boundary (SURVEY.md §2.1 S3).
  *
  * The reference delegates to `PyPDFLoader(file).load()` — one
  * langchain `Document` per PDF page
  * (`/root/reference/pdf_reader.py:442-443`). The trait isolates the
  * codec: [[graft.sources.pdf.PdfTextExtractor]] is a minimal
  * pure-JVM PDF codec (classic xref + xref/object streams,
  * FlateDecode via `java.util.zip.Inflater`, text operators), and
  * [[PlainTextExtractor]] handles plain-text exports (1 file = 1
  * page, UTF-8, form-feed page breaks). A pdfbox/tika-backed
  * implementation would likewise drop in without touching the
  * pipeline.
  */
/** One decoded page plus decode telemetry. `unmappedFonts` counts
  * the distinct font resources whose shown text was dropped as
  * opaque (see [[graft.Page.unmappedFonts]]); non-font-aware
  * extractors leave it 0.
  */
final case class ExtractedPage(
    page: Int, text: String, unmappedFonts: Long = 0L)

trait PageExtractor extends Serializable {

  /** Decode one file's payload into (0-based page, raw page text). */
  def extract(path: String, bytes: Array[Byte]): Seq[(Int, String)]

  /** Decode with per-page telemetry. Default: wrap [[extract]] with
    * zero counts; codec-backed extractors override to report what
    * they dropped.
    */
  def extractDetailed(path: String, bytes: Array[Byte]): Seq[ExtractedPage] =
    extract(path, bytes).map { case (p, t) => ExtractedPage(p, t) }
}

/** UTF-8 plain text: whole payload is a single page 0. Page breaks on
  * form-feed (\f), the convention plain-text exports of PDFs use —
  * so multi-page semantics stay exercisable without a codec.
  */
object PlainTextExtractor extends PageExtractor {
  def extract(path: String, bytes: Array[Byte]): Seq[(Int, String)] = {
    val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    text.split("\f", -1).toSeq.zipWithIndex.map { case (t, i) => (i, t) }
  }
}

object FileSources {

  /** S1 + S2: recursive directory scan with extension filter pushed to
    * the listing (the reference's `os.walk` + lowercase-endswith,
    * `/root/reference/pdf_reader.py:327-359`), file size for free.
    * `binaryFile` partitions the listing across tasks by Spark's
    * next-fit size packing, which does NOT reproduce the reference's
    * LPT big-files-first heuristic (O1, `pdf_reader.py:361-388`): files
    * are taken largest first, but each costs its length plus a 4 MB
    * open cost, and on a corpus of many small files that cost lifts
    * the split cap to 128 MB, so the largest files share one task.
    * Spark has no per-read option for this; the split size comes only
    * from session confs (ROADMAP A).
    */
  def binaryFiles(spark: SparkSession, root: String, glob: String = "*.txt"): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(root)

  /** Files -> one decode per file: `f` sees each file's path, byte
    * length and extracted pages (in page order) inside the scan task,
    * so a per-file result needs no shuffle back to the file.
    */
  def perFile[T: Encoder](files: DataFrame, extractor: PageExtractor)(
      f: (String, Long, Seq[ExtractedPage]) => IterableOnce[T]): Dataset[T] = {
    import files.sparkSession.implicits._
    files.select(col("path"), col("length"), col("content"))
      .as[(String, Long, Array[Byte])]
      .flatMap { case (path, length, content) =>
        f(path, length, extractor.extractDetailed(path, content))
      }
  }

  /** Files -> typed pages through a [[PageExtractor]] (typed flatMap:
    * streams per-file, no driver materialization; a 10 GB file's pages
    * iterate through the task, unlike the reference which holds the
    * whole file's pages+chunks in worker memory, SURVEY.md §4).
    */
  def pages(
      files: DataFrame,
      extractor: PageExtractor = PlainTextExtractor): Dataset[Page] = {
    import files.sparkSession.implicits._
    perFile(files, extractor) { (path, length, pages) =>
      pages.map(p => Page(path, p.page, p.text, length, p.unmappedFonts))
    }
  }
}
