package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

import graft.split.SplitConfig

/** End-to-end over the binaryFile source: real files on disk ->
  * extension-filtered recursive listing -> pages -> chunks -> stats ->
  * report -> CSV, mirroring the reference CLI flow (SURVEY.md §3.1).
  */
class EngineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val root: String = {
    val tmp = Files.createTempDirectory("enginesrc")
    Files.createDirectories(tmp.resolve("sub"))
    Files.writeString(tmp.resolve("a.txt"), "alpha beta gamma delta epsilon zeta")
    Files.writeString(tmp.resolve("sub/b.txt"), "one two three\ffour five six seven")
    Files.writeString(tmp.resolve("skip.dat"), "must not be read")
    // NOTE: zero-byte files are invisible to the binaryFile source
    // (no partitions emitted) — whitespace-only exercises the
    // no-chunks path instead
    Files.writeString(tmp.resolve("blank.txt"), "   ")
    Files.writeString(tmp.resolve("tail.txt"), "tail page\f")
    tmp.toString
  }

  private val opts = Engine.Options(split = SplitConfig(chunkSize = 20, chunkOverlap = 0))

  test("recursive listing honors the extension glob (S1/P1)") {
    val paths = Engine.fileStats(spark, root, opts).collect().map(_.path)
    assert(paths.exists(_.endsWith("a.txt")))
    assert(paths.exists(_.endsWith("b.txt"))) // recursive into sub/
    assert(!paths.exists(_.endsWith("skip.dat")))
  }

  test("form-feed page breaks yield multiple pages; sizes from the listing (S2/S3)") {
    val stats = Engine.fileStats(spark, root, opts)
      .collect().map(s => s.path.split('/').last -> s).toMap
    assert(stats("b.txt").pages == 2)
    assert(stats("a.txt").fileSize == 35) // byte length from binaryFile
    assert(stats("a.txt").ratio.get == 35.0 / stats("a.txt").textSize)
    // a chunkless file still gets a row: pages from the page source,
    // zero chunks, null ratio (reference would ZeroDivisionError)
    assert(stats("blank.txt").pages == 1)
    assert(stats("blank.txt").chunks == 0)
    assert(stats("blank.txt").ratio.isEmpty)
    // trailing form-feed: the empty trailing page still counts
    assert(stats("tail.txt").pages == 2)
    assert(stats("tail.txt").chunks == 1)
  }

  test("chunks retain content; column pruning replaces b_get_content (P12)") {
    val ds = Engine.chunks(spark, root, opts)
    assert(ds.collect().forall(_.rawText.nonEmpty))
    // plan that never touches rawText must not read it
    val pruned = ds.toDF().select("path", "page").queryExecution.optimizedPlan
    assert(!pruned.toString.contains("rawText") ||
      !pruned.output.map(_.name).contains("rawText"))
  }

  test("multi-root loop writes one sanitized CSV per root (S4/S5/S8)") {
    val out = Files.createTempDirectory("enginecsv").toString
    val written = Engine.processRoots(spark, Seq(root), out, opts)
    val dir = written(root)
    assert(dir.startsWith(s"$out/"))
    val csv = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
    assert(csv.length == 1)
    val lines = Files.readAllLines(Paths.get(csv.head))
    // the 7th column is the engine's deliberate extension beyond the
    // reference's six (unmapped-font honest telemetry, VERDICT r6/r7)
    assert(lines.get(0) ==
      "Filename,Pages,Chunks,File Size,Text Size,Ratio,Unmapped Fonts")
    assert(lines.get(lines.size - 1).startsWith("SUM TOTAL"))
  }

  test("path sanitization matches the reference docstring cases (P10)") {
    assert(Engine.sanitizeFolderPath("/home/user/docs") == "home_user_docs")
    assert(Engine.sanitizeFolderPath("C:\\Users\\docs") == "C__Users_docs")
    assert(Engine.sanitizeFolderPath("./rel/path") == "rel_path")
    assert(Engine.sanitizeFolderPath("---") == "folder")
    assert(Engine.sanitizeFolderPath("") == "folder")
  }

  test("JSON metadata sink round-trips file stats (S7)") {
    val out = java.nio.file.Files.createTempDirectory("enginejson").toString
    val stats = Engine.fileStats(spark, root, opts)
    graft.ops.ChunkPipeline.writeJson(stats, s"$out/meta")
    val back = spark.read.json(s"$out/meta")
    assert(back.count() == stats.count())
    assert(back.columns.sorted.toSeq ==
      Seq("chunks", "fileSize", "pages", "path", "ratio", "textSize", "unmappedFonts"))
  }

  test("report shows basenames, not full paths (P2)") {
    val names = Engine.report(spark, root, opts)
      .collect().map(_.getString(0))
    assert(names.contains("a.txt") && names.contains("b.txt"))
    assert(!names.exists(_.contains("/")))
    assert(names.last == "SUM TOTAL")
  }

  test("unicode: Spark length() counts code points like Python len (documented)") {
    // SURVEY.md §7.4 flagged a possible Python-len vs JVM-length
    // mismatch for astral-plane chars. Measured: Spark's length() on
    // UTF8String counts CODE POINTS — identical to Python len — so
    // chunk_len/text_size match the reference even for emoji. The only
    // UTF-16 surface is the pure-Scala splitter's chunkSize budget
    // (String.length), where an astral char costs 2 budget units —
    // a conservative, documented deviation (never over-fills a chunk).
    import spark.implicits._
    import org.apache.spark.sql.functions.{length => sqlLength, col}
    val emoji = "\ud83d\udc4d" // U+1F44D
    assert(emoji.length == 2) // JVM: UTF-16 units
    val got = Seq(emoji).toDF("s").select(sqlLength(col("s"))).collect()(0).getInt(0)
    assert(got == 1) // Spark: code points, same as Python len
    assert(emoji.codePointCount(0, emoji.length) == 1)
  }

  test("in-task reads give the rows the binaryFile content column gives") {
    import graft.sources.{FileSources, PageExtractor}
    import graft.sources.pdf.{PdfFixtures, PdfTextExtractor}
    val dir = Files.createTempDirectory("engineread")
    Files.write(dir.resolve("empty.pdf"), Array.emptyByteArray)
    Files.write(dir.resolve("two.pdf"), PdfFixtures.classicPdf(Seq("one page", "two pages")))
    Files.writeString(dir.resolve("a.txt"), "alpha beta gamma delta epsilon zeta")
    Files.writeString(dir.resolve("odd name %41 #1.txt"), "one two three\ffour five")
    Files.write(dir.resolve("empty.txt"), Array.emptyByteArray)
    // the stats fold over binaryFile's own `content`, as before the
    // scan stopped reading it
    def viaContent(glob: String, ex: PageExtractor): Set[FileStats] =
      FileSources.binaryFiles(spark, dir.toString, glob)
        .select("path", "length", "content").collect()
        .flatMap { r =>
          graft.ops.ChunkPipeline.fileStatsOf(r.getString(0), r.getLong(1),
            ex.extractDetailed(r.getString(0), r.getAs[Array[Byte]](2)), opts.split)
        }.toSet
    val pdfOpts = opts.copy(glob = "*.pdf", extractor = PdfTextExtractor)
    val pdfs = Engine.fileStats(spark, dir.toString, pdfOpts).collect().toSet
    assert(pdfs == viaContent("*.pdf", PdfTextExtractor))
    assert(pdfs.map(_.path.split('/').last) == Set("two.pdf"))
    val texts = Engine.fileStats(spark, dir.toString, opts).collect().toSet
    assert(texts == viaContent("*.txt", graft.sources.PlainTextExtractor))
    assert(texts.map(_.path.split('/').last).contains("odd name %41 #1.txt"))
  }

  test("a file over spark.sql.sources.binaryFile.maxLength fails the scan, as binaryFile does") {
    val key = "spark.sql.sources.binaryFile.maxLength"
    spark.conf.set(key, "10")
    val err = try intercept[Exception](Engine.fileStats(spark, root, opts).collect())
      finally spark.conf.unset(key)
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage))
    assert(messages.exists(_.contains("exceeds the max length allowed: 10")), err)
  }
}
