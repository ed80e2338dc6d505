package graft.sources

import java.io.FileNotFoundException

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge

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
    * Spark lists the files when the relation is created; [[perFile]]
    * lists the same files from the same file index without the
    * relation, and reads each file itself, so this relation is never
    * scanned on the PDF path.
    */
  def binaryFiles(spark: SparkSession, root: String, glob: String = "*.txt"): DataFrame =
    spark.read.format("binaryFile").options(binaryFileOptions(glob)).load(root)

  private[graft] def binaryFileOptions(glob: String): Map[String, String] =
    Map("recursiveFileLookup" -> "true", "pathGlobFilter" -> glob)

  /** Files under `root` matching `glob` -> one decode per file: `f` sees
    * each file's path, byte length and extracted pages (in page order)
    * inside the task that reads the file, so a per-file result needs no
    * shuffle back to the file.
    *
    * A file job planned on the driver, which reproduces the reference's
    * big-files-first pool map (O1, `pdf_reader.py:361-388,543-544`):
    *   - the listing is that of the [[binaryFiles]] relation of `root`
    *     and `glob`, from the file index that relation would hold, built
    *     directly ([[ColumnBridge.binaryFileListing]]): Spark's recursive
    *     lookup, glob, hidden-file and empty-file rules apply, no job
    *     runs, a missing root fails as the relation does, and
    *     `spark.sql.sources.binaryFile.maxLength` fails the call before
    *     any task starts;
    *   - [[packBins]] packs the files largest first into
    *     `min(files, 4 x defaultParallelism)` bins, heaviest bin first;
    *   - one plain job reads and folds the bins, one task each: every
    *     file is read through the session's Hadoop FileSystem into one
    *     array of exactly `length` bytes. A file gone since the listing
    *     fails the task, or is skipped under `ignoreMissingFiles`, as a
    *     file scan does.
    */
  def perFile[T: ClassTag](spark: SparkSession, root: String, glob: String, extractor: PageExtractor)(
      f: (String, Long, Seq[ExtractedPage]) => IterableOnce[T]): RDD[T] =
    perFile(spark, ColumnBridge.binaryFileListing(spark, root, binaryFileOptions(glob)), extractor)(f)

  /** [[perFile]] over the listing of `files`, which must be a bare
    * [[binaryFiles]] relation.
    */
  def perFile[T: ClassTag](files: DataFrame, extractor: PageExtractor)(
      f: (String, Long, Seq[ExtractedPage]) => IterableOnce[T]): RDD[T] =
    perFile(files.sparkSession, ColumnBridge.binaryFileListing(files), extractor)(f)

  private def perFile[T: ClassTag](
      spark: SparkSession, listing: ColumnBridge.BinaryFileListing, extractor: PageExtractor)(
      f: (String, Long, Seq[ExtractedPage]) => IterableOnce[T]): RDD[T] = {
    val bins = packBins(listing.files.map(s => (s.getPath.toString, s.getLen)),
      4 * spark.sparkContext.defaultParallelism, listing.openCostInBytes)
    val hadoopConf = ColumnBridge.hadoopConfInTask(spark)
    val ignoreMissing = listing.ignoreMissingFiles
    spark.sparkContext.parallelize(bins, bins.size max 1).mapPartitions { it =>
      val counted = ColumnBridge.inputCounter()
      it.flatMap(_.iterator).flatMap { case (path, length) =>
        readFile(path, length, hadoopConf(), ignoreMissing).iterator.flatMap { bytes =>
          counted()
          f(path, length, extractor.extractDetailed(path, bytes))
        }
      }
    }
  }

  /** Graham's LPT rule over `(path, length)`: each file costs its length
    * plus `openCost` (Spark's `spark.sql.files.openCostInBytes`); files
    * are taken in descending cost, equal costs by path, and each goes to
    * the least-loaded of `min(files, maxBins)` bins, the first of equally
    * loaded ones. Bins come out heaviest first, each in the order its
    * files were placed. The plan depends on the set of files only, and
    * its makespan is within 4/3 of the optimum.
    */
  private[graft] def packBins(
      files: Seq[(String, Long)], maxBins: Int, openCost: Long): Seq[Seq[(String, Long)]] = {
    val n = math.min(files.size, maxBins)
    val loads = new Array[Long](n)
    val members = Array.fill(n)(Vector.newBuilder[(String, Long)])
    val leastLoaded = new java.util.PriorityQueue[Integer](math.max(n, 1),
      (a: Integer, b: Integer) =>
        if (loads(a) != loads(b)) java.lang.Long.compare(loads(a), loads(b))
        else Integer.compare(a, b))
    (0 until n).foreach(i => leastLoaded.add(i))
    for (file @ (_, length) <- files.sortBy { case (path, length) => (-length, path) }) {
      val bin: Int = leastLoaded.poll()
      loads(bin) += length + openCost
      members(bin) += file
      leastLoaded.add(bin)
    }
    (0 until n).sortBy(i => (-loads(i), i)).map(members(_).result())
  }

  /** The whole file in one array of exactly `length` bytes; None if it is
    * gone and `ignoreMissing` holds.
    */
  private def readFile(
      path: String, length: Long, conf: Configuration,
      ignoreMissing: Boolean): Option[Array[Byte]] = {
    val p = new Path(path)
    try {
      val in = p.getFileSystem(conf).open(p)
      val bytes = new Array[Byte](length.toInt)
      try in.readFully(bytes) finally in.close()
      Some(bytes)
    } catch {
      case e: FileNotFoundException if ignoreMissing =>
        log.warn(s"Skipped missing file: $path", e)
        None
      case e: FileNotFoundException =>
        throw ColumnBridge.fileNotFound(p.toUri.toString, e)
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Files -> typed pages through a [[PageExtractor]], one [[perFile]]
    * decode per file: nothing on the driver, but a task holds one whole
    * file's bytes and pages at a time (bounded by `binaryFile.maxLength`),
    * as the reference's worker holds a file's pages (SURVEY.md §4).
    */
  def pages(
      files: DataFrame,
      extractor: PageExtractor = PlainTextExtractor): Dataset[Page] = {
    import files.sparkSession.implicits._
    perFile(files, extractor) { (path, length, pages) =>
      pages.map(p => Page(path, p.page, p.text, length, p.unmappedFonts))
    }.toDS()
  }
}
