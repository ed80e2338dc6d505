package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** CLI surface: per-root CSVs, arg validation (reference semantics,
  * pdf_reader.py:218-293).
  */
class MainSpec extends AnyFunSuite with SparkTestBase {

  private def mkRoot(): String = {
    val tmp = Files.createTempDirectory("mainroot")
    Files.writeString(tmp.resolve("x.txt"), "one two three four five six seven eight")
    Files.writeString(tmp.resolve("y.txt"), "alpha beta\fgamma delta")
    tmp.toString
  }

  test("CLI run writes one CSV per root with SUM TOTAL last") {
    val r1 = mkRoot(); val r2 = mkRoot()
    val out = Files.createTempDirectory("mainout").toString
    Main.runWith(spark, Array(r1, r2, "4",
      "--chunk_size", "10", "--output_dir", out, "--print_metadata"))
    for (r <- Seq(r1, r2)) {
      val dir = Paths.get(s"$out/${Engine.sanitizeFolderPath(r)}")
      val csv = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".csv"))
      assert(csv.length == 1)
      val lines = Files.readAllLines(Paths.get(csv.head))
      assert(lines.get(lines.size - 1).startsWith("SUM TOTAL"))
    }
  }

  test("--print_metadata prints one JSON object per file (S7)") {
    val root = mkRoot()
    val out = Files.createTempDirectory("mainjson").toString
    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(printed) {
      Main.runWith(spark, Array(root, "4",
        "--chunk_size", "10", "--output_dir", out, "--print_metadata"))
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val objects = printed.toString("UTF-8").linesIterator
      .filter(_.startsWith("{")).map(mapper.readTree).toList
    assert(objects.map(_.get("path").asText.split('/').last).sorted == Seq("x.txt", "y.txt"))
    for (o <- objects) assert(o.fieldNames().asScala.toSeq.sorted ==
      Seq("chunks", "fileSize", "pages", "path", "ratio", "textSize", "unmappedFonts"))
  }

  test("closes with the reference's ratio sentence and its 100 / ratio extrapolation (P11)") {
    val root = mkRoot()
    val out = Files.createTempDirectory("mainsummary").toString
    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(printed) {
      Main.runWith(spark, Array(root, "4", "--chunk_size", "10", "--output_dir", out))
    }
    val stats = Engine.fileStats(spark, root,
      Engine.Options(split = graft.split.SplitConfig(chunkSize = 10))).collect().toSeq
    val (fileSize, textSize) = (stats.map(_.fileSize).sum, stats.map(_.textSize).sum)
    val ratio = fileSize.toDouble / textSize
    val expected = "[graft] 2 file(s), %,d bytes, hold %,d characters of text: a ratio of %.2f, "
      .formatLocal(java.util.Locale.ROOT, fileSize, textSize, ratio) +
      "so 100 MB of such files hold about %.2f MB of text."
        .formatLocal(java.util.Locale.ROOT, 100 / ratio)
    assert(printed.toString("UTF-8").linesIterator.contains(expected), printed)
    // the ratio is the CSV's SUM TOTAL ratio
    val dir = Paths.get(s"$out/${Engine.sanitizeFolderPath(root)}")
    val csv = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".csv")).head
    assert(Files.readAllLines(Paths.get(csv)).asScala.last.split(",")(5) ==
      "%.2f".formatLocal(java.util.Locale.ROOT, ratio))
    assert(Main.summary(Seq(FileStats("e.pdf", 1L, 0L, 10L, 0L, None))) ==
      "[graft] 1 file(s) yielded no text, so there is no ratio to extrapolate.")
  }

  test("--file_type .pdf routes through the PDF codec end to end") {
    val root = Files.createTempDirectory("mainpdf")
    Files.write(root.resolve("doc.pdf"),
      graft.sources.pdf.PdfFixtures.classicPdf(
        Seq("first page words here", "second page"), compress = true))
    Files.writeString(root.resolve("ignored.txt"), "must not be scanned")
    val out = Files.createTempDirectory("mainpdfout").toString
    Main.runWith(spark, Array(root.toString, "4",
      "--file_type", ".pdf", "--chunk_size", "10", "--output_dir", out))
    val dir = Paths.get(s"$out/${Engine.sanitizeFolderPath(root.toString)}")
    val csv = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".csv"))
    assert(csv.length == 1)
    val lines = Files.readAllLines(Paths.get(csv.head))
    // header + doc.pdf row + SUM TOTAL; the txt file is excluded
    assert(lines.size == 3)
    assert(lines.get(1).startsWith("doc.pdf"))
    assert(lines.get(1).split(",")(1) == "2") // pages through the codec
    assert(lines.get(2).startsWith("SUM TOTAL"))
  }

  test("validation: missing dir and bad parallelism fail fast") {
    intercept[IllegalArgumentException] {
      Main.runWith(spark, Array("/no/such/dir", "4"))
    }
    intercept[IllegalArgumentException] {
      Main.runWith(spark, Array(mkRoot(), "0"))
    }
    intercept[IllegalArgumentException] {
      Main.runWith(spark, Array("justonearg"))
    }
  }
}
