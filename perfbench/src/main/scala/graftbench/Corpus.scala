package graftbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.sources.pdf.PdfFixtures

/** Seeded PDF corpus with an exact closed form, built only from
  * [[PdfFixtures]]' public writers.
  *
  * Every page is two paragraphs of lowercase words joined by "\n\n",
  * each paragraph shorter than the 1200-char chunk size and together
  * about 1470 chars (the reference corpus' page size). The recursive
  * splitter must then cut each page into exactly its two paragraphs,
  * and normalisation leaves them unchanged, so per file
  * `chunks = 2 * pages` and `text_size = Σ paragraph lengths`. The
  * expected figures come from the generator, never from graft's own
  * splitter.
  *
  * Page counts are skewed: two files of 1000+ pages (the reference's
  * `bedrock-meetups.pdf` has 1652) beside many small ones. The
  * page count, shape, name and padding length of every file are fixed,
  * so every seed yields a corpus of the same size, mix and file order
  * (and so the same task packing); the seed picks the words and the
  * padding bytes.
  *
  * Each page also gets a random-byte image stream that no page
  * references: the scan reads it, the codec never decodes it. It sets
  * file size ÷ text size inside the reference's 5-20x envelope
  * (unpadded PDFs are about 0.7x).
  */
object Corpus {

  /** Writer shapes, in manifest order. */
  val Shapes: Vector[String] =
    Vector("classic", "flate", "objstm", "aes128", "aes256", "cjk")

  /** (shape, pages) of the big files. */
  private val BigFiles = Seq("flate" -> 1652, "objstm" -> 1100)

  /** Page counts of the small files; every shape gets this list. */
  private def smallPages(filesPerShape: Int): Seq[Int] =
    (0 until filesPerShape).map(i => 1 + (i * 37) % 24)

  private val Vocabulary: Vector[String] = {
    val r = new SplittableRandom(0x5eedL)
    Vector.fill(400) {
      val n = 2 + r.nextInt(9)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
  }

  /** a→z mapped to ideographs that round-trip through GBK. */
  private val Cjk = "一二三四五六七八九十百千天地人日月水火木金土山川田中"

  final case class Totals(files: Long, pages: Long, bytes: Long, chunks: Long, textSize: Long) {
    def +(o: Totals): Totals =
      Totals(files + o.files, pages + o.pages, bytes + o.bytes,
        chunks + o.chunks, textSize + o.textSize)
    def json: String =
      s"""{"files": $files, "pages": $pages, "bytes": $bytes, "chunks": $chunks, "text_size": $textSize}"""
  }
  private val Zero = Totals(0, 0, 0, 0, 0)

  /** One generated file and its closed-form statistics. */
  final case class FileEntry(name: String, shape: String, pages: Int, bytes: Long,
      textSize: Long, sha256: String) {
    def chunks: Long = 2L * pages
  }

  final case class Manifest(seed: Long, entries: Vector[FileEntry]) {
    def byShape: Vector[(String, Totals)] = Shapes.map { s =>
      s -> entries.filter(_.shape == s).foldLeft(Zero) { (t, e) =>
        t + Totals(1, e.pages, e.bytes, e.chunks, e.textSize)
      }
    }
    def total: Totals = byShape.map(_._2).foldLeft(Zero)(_ + _)
    def json: String = {
      val shapes = byShape.map { case (s, t) => s""""$s": ${t.json}""" }.mkString(", ")
      val files = entries.map(e =>
        s"""{"name": "${e.name}", "shape": "${e.shape}", "pages": ${e.pages}, "bytes": ${e.bytes}, """ +
          s""""chunks": ${e.chunks}, "text_size": ${e.textSize}, "sha256": "${e.sha256}"}""")
        .mkString(",\n    ")
      s"""{"generator": "graftbench.Corpus/1", "seed": $seed,
         |  "total": ${total.json},
         |  "by_shape": {$shapes},
         |  "files": [
         |    $files]}
         |""".stripMargin
    }
    def hash: String = Corpus.sha256(json.getBytes(ISO_8859_1))
  }

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  /** Writes the corpus and `manifest.json` into `dir` (created) and
    * returns the manifest. `filesPerShape` small files per shape plus
    * the big files; `bigScale` scales the big files' page counts (1.0
    * for the benchmark, small for tests).
    */
  def write(seed: Long, dir: Path, filesPerShape: Int = 40, bigScale: Double = 1.0): Manifest = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val specs: Vector[(String, Int)] =
      (Shapes.flatMap(s => smallPages(filesPerShape).map(s -> _)) ++
        BigFiles.map { case (s, n) => s -> math.max(1, (n * bigScale).toInt) }).toVector
    val entries = specs.zipWithIndex.map { case ((shape, nPages), idx) =>
      val paragraphs = Vector.fill(nPages)((paragraph(rnd), paragraph(rnd)))
      val texts = paragraphs.map { case (a, b) =>
        if (shape == "cjk") s"${toCjk(a)}\n\n${toCjk(b)}" else s"$a\n\n$b"
      }
      val raw = shape match {
        case "classic" => PdfFixtures.classicPdf(texts)
        case "flate" => PdfFixtures.classicPdf(texts, compress = true)
        case "objstm" => PdfFixtures.xrefStreamPdf(texts)
        case "aes128" => PdfFixtures.encryptedPdf(texts, PdfFixtures.EncAes128, compress = true)
        case "aes256" => PdfFixtures.encryptedPdf(texts, PdfFixtures.EncAes256, compress = true)
        case "cjk" => PdfFixtures.cjkPdf(texts, "GBK-EUC-H", "GBK")
      }
      val bytes = pad(raw, idx, nPages, rnd)
      val name = f"$idx%04d-$shape.pdf"
      Files.write(dir.resolve(name), bytes)
      FileEntry(name, shape, nPages, bytes.length.toLong,
        paragraphs.map { case (a, b) => (a.length + b.length).toLong }.sum, sha256(bytes))
    }
    val m = Manifest(seed, entries.sortBy(_.name))
    Files.write(dir.resolve("manifest.json"), m.json.getBytes(ISO_8859_1))
    m
  }

  private val EntryJson = ("""\{"name": "([^"]+)", "shape": "(\w+)", "pages": (\d+), "bytes": (\d+), """ +
    """"chunks": \d+, "text_size": (\d+), "sha256": "(\w+)"\}""").r

  /** Reads back the manifest [[write]] left in `dir`. */
  def read(dir: Path): Manifest = {
    val s = new String(Files.readAllBytes(dir.resolve("manifest.json")), ISO_8859_1)
    val seed = """"seed": (-?\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
    Manifest(seed, EntryJson.findAllMatchIn(s).map { m =>
      FileEntry(m.group(1), m.group(2), m.group(3).toInt, m.group(4).toLong, m.group(5).toLong, m.group(6))
    }.toVector)
  }

  /** Lowercase words joined by single spaces, 700-780 chars. */
  private def paragraph(rnd: SplittableRandom): String = {
    val target = 700 + rnd.nextInt(60)
    val sb = new StringBuilder(Vocabulary(rnd.nextInt(Vocabulary.size)))
    while (sb.length < target) sb.append(' ').append(Vocabulary(rnd.nextInt(Vocabulary.size)))
    sb.toString
  }

  private def toCjk(s: String): String = s.map(c => if (c == ' ') c else Cjk(c - 'a'))

  /** Inserts one unreferenced image stream per page just before the
    * final cross-reference section and moves `startxref` past them.
    * Every object the xref points at sits before that section, so
    * their offsets stay valid.
    */
  private def pad(pdf: Array[Byte], file: Int, nPages: Int, rnd: SplittableRandom): Array[Byte] = {
    val s = new String(pdf, ISO_8859_1)
    val sx = s.lastIndexOf("startxref")
    val xrefOff = s.substring(sx + "startxref".length).trim.takeWhile(_.isDigit).toInt
    val out = new java.io.ByteArrayOutputStream(pdf.length + nPages * 9300)
    out.write(pdf, 0, xrefOff)
    for (i <- 0 until nPages) {
      val n = 6144 + (file * 7919 + i * 104729) % 6144
      val junk = new Array[Byte](n)
      rnd.nextBytes(junk)
      out.write((s"${900000 + i} 0 obj\n<< /Type /XObject /Subtype /Image /Width $n /Height 1 " +
        s"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length $n >>\nstream\n").getBytes(ISO_8859_1))
      out.write(junk)
      out.write("\nendstream\nendobj\n".getBytes(ISO_8859_1))
    }
    val moved = out.size()
    out.write(pdf, xrefOff, sx - xrefOff)
    out.write(s"startxref\n$moved\n%%EOF\n".getBytes(ISO_8859_1))
    out.toByteArray
  }
}
