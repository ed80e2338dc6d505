package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{Page, SparkTestBase}
import graft.split.{RecursiveCharacterSplitter, SplitConfig}

/** End-to-end chunk pipeline semantics: C2-C4 ordinals and offsets
  * (scanLeft oracle), A1 per-file agg, A2 rollup with SUM-TOTAL-last
  * invariant, P11 null ratio on zero text (documented deviation from
  * the reference's ZeroDivisionError, SURVEY.md §7.4).
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = SplitConfig(chunkSize = 30, chunkOverlap = 0)

  private def pages = Seq(
    Page("doc1", 0, "alpha beta gamma delta epsilon zeta eta theta", 100),
    Page("doc1", 1, "iota kappa lambda mu nu xi omicron pi rho sigma", 100),
    Page("doc2", 0, "short text", 40),
    Page("doc3", 0, "", 7) // zero-text file
  )

  test("chunk offsets: offset_in_file is the scanLeft prefix sum in (page, chunk) order") {
    import spark.implicits._
    // in order, and with each file's pages reversed and spread over
    // partitions: the kernel must see a file's pages in page order
    val input = pages ++ (0 until 7).map(i => Page("doc4", i, s"page $i of doc four, one chunk", 90))
    for (ds <- Seq(spark.createDataset(input), spark.createDataset(input.reverse).repartition(3))) {
      val metrics = ChunkPipeline.chunkMetrics(ChunkPipeline.chunk(ds, cfg))
        .select("path", "page", "chunkIdx", "chunk_len", "chunk_in_file", "offset_in_file")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      assert(metrics.map(_._1).toSet == Set("doc1", "doc2", "doc4"))
      assert(metrics.count(_._1 == "doc1") > 2 && metrics.count(_._1 == "doc4") == 7)

      for ((path, group) <- metrics.groupBy(_._1)) {
        val ordered = group.sortBy(t => (t._2, t._3))
        assert(ordered.map(_._5).toSeq == ordered.indices.map(_.toLong), s"path=$path")
        val expectedOffsets = ordered.map(_._4).scanLeft(0L)(_ + _).init
        assert(ordered.map(_._6).toSeq == expectedOffsets.toSeq, s"path=$path")
      }
    }
  }

  test("chunks never span pages; per-page indices restart at 0") {
    import spark.implicits._
    val ds = spark.createDataset(pages)
    val chunks = ChunkPipeline.chunk(ds, cfg).collect()
    for (c <- chunks) {
      val raw = pages.find(p => p.path == c.path && p.page == c.page).get.text
      assert(raw.substring(c.offsetInPage, c.offsetInPage + c.rawText.length) == c.rawText)
    }
    assert(chunks.filter(c => c.path == "doc1" && c.page == 1).map(_.chunkIdx).min == 0)
  }

  test("fileStats: pages, chunks, textSize, null-safe ratio") {
    import spark.implicits._
    val ds = spark.createDataset(pages)
    val joined = ChunkPipeline.fileStats(ds, ChunkPipeline.chunkMetrics(ChunkPipeline.chunk(ds, cfg)))
      .collect().map(s => s.path -> s).toMap
    val folded = pages.groupBy(_.path).map { case (path, ps) =>
      path -> ChunkPipeline.fileStatsOf(path, ps.head.fileSize,
        ps.map(p => graft.sources.ExtractedPage(p.page, p.text)), cfg).get
    }
    assert(folded == joined)

    assert(folded("doc1").pages == 2)
    val expectedChunks1 =
      RecursiveCharacterSplitter.splitText(pages(0).text, cfg).size +
        RecursiveCharacterSplitter.splitText(pages(1).text, cfg).size
    assert(folded("doc1").chunks == expectedChunks1)
    assert(folded("doc2").ratio.get == 40.0 / folded("doc2").textSize)
    assert(folded("doc2").textSize == Normalize.normalize("short text").length)
    // zero-text file: its page counts, no chunks, null ratio
    assert(folded("doc3") == graft.FileStats("doc3", 1L, 0L, 7L, 0L, None))
  }

  test("statsWithTotal: SUM TOTAL row last, ratio of sums not mean of ratios") {
    import spark.implicits._
    val ds = spark.createDataset(pages.take(3))
    val rows = ChunkPipeline.statsWithTotal(
      ChunkPipeline.fileStats(ds, ChunkPipeline.chunkMetrics(ChunkPipeline.chunk(ds, cfg))))
      .collect()
    assert(rows.last.getString(0) == "SUM TOTAL")
    val details = rows.init
    val total = rows.last
    assert(total.getAs[Long]("chunks") == details.map(_.getAs[Long]("chunks")).sum)
    val fs = details.map(_.getAs[Long]("file_size")).sum
    val txt = details.map(_.getAs[Long]("text_size")).sum
    assert(total.getAs[Double]("ratio") == fs.toDouble / txt)
  }

  test("statsWithTotal: the local form gives the rollup form's schema, rows and order") {
    import spark.implicits._
    def both(rows: Seq[graft.FileStats]): Seq[org.apache.spark.sql.Row] = {
      val rollup = ChunkPipeline.statsWithTotal(spark.createDataset(rows))
      val local = ChunkPipeline.statsWithTotal(spark, rows)
      assert(local.schema == rollup.schema)
      val got = local.collect().toSeq
      assert(got == rollup.collect().toSeq)
      got
    }
    val ds = spark.createDataset(pages.take(3))
    val piped = ChunkPipeline.fileStats(ds,
      ChunkPipeline.chunkMetrics(ChunkPipeline.chunk(ds, cfg))).collect().toSeq
    assert(both(piped).map(_.getString(0)) == Seq("doc1", "doc2", "SUM TOTAL"))
    // a zero-text file: null ratio on its row, the total's ratio of sums
    val zero = graft.FileStats("/d/zero.pdf", 3L, 0L, 70L, 0L, None, 2L)
    val withZero = both(piped :+ zero)
    assert(withZero.map(_.getString(0)) == Seq("/d/zero.pdf", "doc1", "doc2", "SUM TOTAL"))
    assert(withZero.head.isNullAt(6) && !withZero.last.isNullAt(6))
    assert(withZero.last.getLong(5) == 2L)
    // U+FB01 sorts after U+1F600 in UTF-16 (its surrogate D83D is
    // lower) and before it in UTF-8, Spark's binary order
    val names = Seq("\uD83D\uDE00.pdf", "\uFB01.pdf", "b.pdf")
    assert(names(0) < names(1))
    val named = names.map(n => graft.FileStats(n, 1L, 1L, 10L, 5L, Some(2.0)))
    assert(both(named).map(_.getString(0)) ==
      Seq("b.pdf", "\uFB01.pdf", "\uD83D\uDE00.pdf", "SUM TOTAL"))
    // rows of one path are summed, as the rollup groups them
    assert(both(named :+ named(0)).size == 4)
    // no rows: the rollup has no grouping set to total, so no SUM TOTAL
    assert(both(Nil).isEmpty)
    assert(ChunkPipeline.report(ChunkPipeline.statsWithTotal(spark, Nil)).collect().isEmpty)
  }

  test("writeCsv writes the bytes of Spark's csv writer, one part file and _SUCCESS") {
    import java.nio.file.{Files, Path}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField(" a,b ", StringType),
      StructField("q\"x", StringType), StructField("n", LongType)))
    val values = Seq("plain", "com,ma", "quo\"te", "back\\slash", "cr\rlf\n",
      "mid\nline", "  lead", "trail  ", "", null, "\u00fcn\u00ef\uD83D\uDE00",
      "\"", "\\\"", "a\\,b", "\r\n", " ")
    val rows = values.indices.map(i =>
      Row(values(i), values((i + 5) % values.size), i.toLong)) :+ Row(null, null, null)
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def listing(dir: Path): Seq[String] =
      Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString).sorted.toSeq
    def csvBytes(dir: Path): Seq[Byte] = {
      val parts = listing(dir).filter(_.endsWith(".csv"))
      assert(parts.size == 1, listing(dir))
      Files.readAllBytes(dir.resolve(parts.head)).toSeq
    }
    def sparkCsv(d: org.apache.spark.sql.DataFrame): Seq[Byte] = {
      val out = Files.createTempDirectory("sparkcsv").resolve("out")
      d.coalesce(1).write.option("header", "true").mode("overwrite").csv(out.toString)
      csvBytes(out)
    }
    for (d <- Seq(df, df.limit(0))) {
      val parent = Files.createTempDirectory("graftcsv")
      val out = parent.resolve("out")
      ChunkPipeline.writeCsv(d, out.toString)
      assert(csvBytes(out) == sparkCsv(d))
      val names = listing(out)
      assert(names.size == 2 && names.head == "_SUCCESS" &&
        names(1).startsWith("part-00000-"), names)
      assert(listing(parent) == Seq("out")) // the temporary directory is gone
    }
    // a second write replaces the first
    val out = Files.createTempDirectory("graftcsv2").resolve("out")
    ChunkPipeline.writeCsv(df, out.toString)
    ChunkPipeline.writeCsv(df.limit(1), out.toString)
    assert(listing(out).size == 2)
    assert(csvBytes(out) == sparkCsv(df.limit(1)))
    assert(new String(csvBytes(out).toArray, "UTF-8").startsWith("\"a,b\",\"q\\\"x\",n\nplain,"))
  }

  test("writeCsv through a file system other than the local one") {
    import java.nio.file.Files
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.testfs.impl", classOf[TestFs].getName)
    conf.setBoolean("fs.testfs.impl.disable.cache", true)
    val report = ChunkPipeline.report(ChunkPipeline.statsWithTotal(spark,
      Seq(graft.FileStats("/d/a.pdf", 1L, 2L, 3000L, 40L, None))))
    val viaFs = Files.createTempDirectory("testfs").resolve("out")
    ChunkPipeline.writeCsv(report, s"testfs://$viaFs")
    ChunkPipeline.writeCsv(report, s"testfs://$viaFs") // and replace
    val local = Files.createTempDirectory("localfs").resolve("out")
    ChunkPipeline.writeCsv(report, local.toString)
    def csv(dir: java.nio.file.Path): String = {
      val parts = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".csv"))
      assert(parts.length == 1)
      Files.readString(java.nio.file.Paths.get(parts.head))
    }
    assert(csv(viaFs) == csv(local))
    assert(csv(local).linesIterator.toSeq.last == "SUM TOTAL,1,2,\"3,000\",40,75.00,0")
  }

  test("report formatting matches the reference README sample (P8/P9, A2)") {
    import spark.implicits._
    // README.md:20-26 values re-typed as FileStats
    val stats = Seq(
      graft.FileStats("bedrock-meetups.pdf", 1652, 2921, 12318934L, 2427921L, Some(12318934.0 / 2427921)),
      graft.FileStats("bedrock-features.pdf", 15, 25, 463254L, 20982L, Some(463254.0 / 20982)),
      graft.FileStats("Bedrock Models.pdf", 24, 32, 314167L, 21298L, Some(314167.0 / 21298)))
    val report = ChunkPipeline.report(
      ChunkPipeline.statsWithTotal(spark.createDataset(stats)))
      .collect().map(r => (0 until 6).map(r.getString))

    val byName = report.map(r => r.head -> r).toMap
    assert(byName("bedrock-meetups.pdf") ==
      Seq("bedrock-meetups.pdf", "1,652", "2,921", "12,318,934", "2,427,921", "5.07"))
    assert(byName("bedrock-features.pdf")(5) == "22.08")
    assert(byName("Bedrock Models.pdf")(5) == "14.75")
    val totalRow = report.last
    assert(totalRow.head == "SUM TOTAL")
    assert(totalRow(1) == "1,691" && totalRow(2) == "2,978")
    assert(totalRow(3) == "13,096,355" && totalRow(4) == "2,470,201")
    assert(totalRow(5) == "5.30") // ratio of sums (pdf_reader.py:148)
  }

  test("fileStatsOf: chunk lengths are code points of the normalized chunk") {
    // supplementary-plane letters are 2 UTF-16 chars but 1 code point
    val text = "A\uD835\uDC00B \uD835\uDD38"
    val stats = ChunkPipeline.fileStatsOf("f", 9L,
      Seq(graft.sources.ExtractedPage(0, text)), SplitConfig()).get
    assert(text.length == 7)
    assert(stats.textSize == 5)
  }

  /** Text and PDF roots: a chunkless trailing page (form feed), an
    * all-whitespace file, final sigma, dotted capital I, capital sharp
    * s, titlecase digraph, supplementary-plane letters, an xref-stream
    * PDF with an empty middle page, and an undecodable PDF.
    */
  private lazy val foldCorpus: (String, String) = {
    import java.nio.file.Files
    import graft.sources.pdf.PdfFixtures
    val txt = Files.createTempDirectory("foldtxt")
    Files.writeString(txt.resolve("tail.txt"), "alpha beta gamma\f  \n ")
    Files.writeString(txt.resolve("blank.txt"), " \n\t ")
    Files.writeString(txt.resolve("greek.txt"), "ΟΔΟΣ ΣΣ. ΣΟΦΙΑ\n\nΣΣ.\fτελοΣ")
    Files.writeString(txt.resolve("mixed.txt"),
      "İSTANBUL İi ẞTRASSE ǅemal Ǆǅǆ\n\\u0041 A\uD835\uDC00B \uD835\uDD38 end")
    val pdf = Files.createTempDirectory("foldpdf")
    Files.write(pdf.resolve("ok.pdf"),
      PdfFixtures.xrefStreamPdf(Seq("one two three four five six", "", "seven")))
    Files.write(pdf.resolve("bad.pdf"), "not a pdf at all".getBytes)
    (txt.toString, pdf.toString)
  }

  private val foldCfg = SplitConfig(chunkSize = 12, chunkOverlap = 0)

  test("per-file fold equals the page/chunk join it replaced") {
    import graft.sources.{FileSources, PageExtractor, PlainTextExtractor}
    import graft.sources.pdf.PdfTextExtractor
    val (txt, pdf) = foldCorpus
    val cfg = foldCfg
    def viaJoin(root: String, glob: String, ex: PageExtractor) = {
      val pages = FileSources.pages(FileSources.binaryFiles(spark, root, glob), ex)
      ChunkPipeline.fileStats(pages, ChunkPipeline.chunkMetrics(ChunkPipeline.chunk(pages, cfg)))
        .collect().toSet
    }
    def viaFold(root: String, glob: String, ex: PageExtractor) =
      graft.Engine.fileStats(spark, root, graft.Engine.Options(glob, cfg, ex)).collect().toSet
    val txtFold = viaFold(txt, "*.txt", PlainTextExtractor)
    assert(txtFold == viaJoin(txt, "*.txt", PlainTextExtractor))
    val byName = txtFold.map(s => s.path.split('/').last -> s).toMap
    assert(byName("tail.txt").pages == 2 && byName("tail.txt").chunks == 2)
    assert(byName("blank.txt").chunks == 0 && byName("blank.txt").ratio.isEmpty)
    val pdfFold = viaFold(pdf, "*.pdf", PdfTextExtractor)
    assert(pdfFold == viaJoin(pdf, "*.pdf", PdfTextExtractor))
    assert(pdfFold.map(_.path.split('/').last) == Set("ok.pdf"))
    assert(pdfFold.head.pages == 3)
  }

  test("Engine.chunks gives the chunk rows of the page source grouped by file") {
    import org.apache.spark.sql.functions.{col, length}
    import graft.sources.{FileSources, PageExtractor, PlainTextExtractor}
    import graft.sources.pdf.PdfTextExtractor
    val (txt, pdf) = foldCorpus
    for ((root, glob, ex) <- Seq[(String, String, PageExtractor)](
        (txt, "*.txt", PlainTextExtractor), (pdf, "*.pdf", PdfTextExtractor))) {
      val perFile = graft.Engine.chunks(spark, root, graft.Engine.Options(glob, foldCfg, ex))
      val grouped = ChunkPipeline.chunk(
        FileSources.pages(FileSources.binaryFiles(spark, root, glob), ex), foldCfg)
      val rows = perFile.collect().toSeq
      assert(rows.toSet == grouped.collect().toSet, root)
      assert(rows.size == rows.toSet.size, root)
      // each file's chunks: numbered 0..n-1 and offset by the lengths
      // before them in (page, chunk) order, each the splitter's chunk
      // of its page, measured as Spark's length of the normalized text
      for ((path, cs) <- rows.groupBy(_.path)) {
        val ordered = cs.sortBy(c => (c.page, c.chunkIdx))
        assert(ordered.map(_.chunkInFile) == ordered.indices.map(_.toLong), path)
        assert(ordered.map(_.offsetInFile) == ordered.map(_.chunkLen).scanLeft(0L)(_ + _).init, path)
      }
      val mismatched = ChunkPipeline.chunkMetrics(perFile)
        .filter(col("chunk_len") =!= length(col("norm_text"))).count()
      assert(mismatched == 0, root)
    }
    val txtFiles = graft.Engine.chunks(spark, txt, graft.Engine.Options("*.txt", foldCfg))
      .collect().map(_.path.split('/').last).toSet
    assert(txtFiles == Set("tail.txt", "greek.txt", "mixed.txt"))
    val pdfChunks = graft.Engine.chunks(spark, pdf,
      graft.Engine.Options("*.pdf", foldCfg, PdfTextExtractor)).collect()
    assert(pdfChunks.map(_.path.split('/').last).toSet == Set("ok.pdf"))
    assert(pdfChunks.map(_.page).toSet == Set(0, 2)) // the empty middle page has none
  }
}

/** The local disk under the scheme `testfs`: a file system that is not
  * Hadoop's `LocalFileSystem`.
  */
class TestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("testfs:///")
}
