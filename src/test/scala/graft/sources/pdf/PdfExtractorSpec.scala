package graft.sources.pdf

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.split.SplitConfig

/** The pure-JVM PDF codec against hand-written synthetic PDFs:
  * classic xref, FlateDecode, xref streams + object streams + PNG
  * predictors, string escape forms, and the Engine end-to-end path
  * over real `.pdf` bytes (VERDICT r1 task 2).
  */
class PdfExtractorSpec extends AnyFunSuite with SparkTestBase {

  private val twoPages = Seq("hello world\nsecond line", "page two text")

  test("classic xref, uncompressed content: pages and text round-trip") {
    val pdf = PdfFixtures.classicPdf(twoPages)
    val out = PdfTextExtractor.extract("t.pdf", pdf)
    assert(out.map(_._1) == Seq(0, 1))
    assert(out(0)._2 == "hello world\nsecond line")
    assert(out(1)._2 == "page two text")
  }

  test("FlateDecode content streams decode identically") {
    val pdf = PdfFixtures.classicPdf(twoPages, compress = true)
    val out = PdfTextExtractor.extract("t.pdf", pdf)
    assert(out.map(_._2) == Seq("hello world\nsecond line", "page two text"))
  }

  test("xref stream + object stream + PNG Up predictor") {
    val pdf = PdfFixtures.xrefStreamPdf(Seq("alpha beta", "gamma\ndelta", "epsilon"))
    val out = PdfTextExtractor.extract("t.pdf", pdf)
    assert(out.map(_._1) == Seq(0, 1, 2))
    assert(out.map(_._2) == Seq("alpha beta", "gamma\ndelta", "epsilon"))
  }

  test("object stream over 1000 pages: every page extracts, in order") {
    val texts = (0 until 1100).map(i => s"page $i text")
    val out = PdfTextExtractor.extract("big.pdf", PdfFixtures.xrefStreamPdf(texts))
    assert(out.map(_._1) == texts.indices)
    assert(out.map(_._2) == texts)
  }

  test("an ObjStm index beyond /N still fails the parse: no pages") {
    val ascii = java.nio.charset.StandardCharsets.ISO_8859_1
    val pdf = new String(PdfFixtures.xrefStreamPdf(Seq("a", "b", "c")), ascii)
    // pages node + 3 pages + font = 5 objects; /N 1 keeps only the
    // pages node addressable (same byte length, offsets stay valid)
    assert(pdf.contains("/Type /ObjStm /N 5 "))
    val lying = pdf.replace("/Type /ObjStm /N 5 ", "/Type /ObjStm /N 1 ").getBytes(ascii)
    assert(PdfTextExtractor.extract("n.pdf", lying) == Nil)
  }

  test("an ObjStm /N larger than its payload fails the parse: no pages") {
    val ascii = java.nio.charset.StandardCharsets.ISO_8859_1
    val pdf = new String(PdfFixtures.xrefStreamPdf(Seq("a", "b", "c")), ascii)
    // only the xref stream follows the ObjStm, so growing its dict by
    // k bytes needs just startxref moved by k to stay well formed
    def withN(n: String): Array[Byte] = {
      val grown = pdf.replace("/Type /ObjStm /N 5 ", s"/Type /ObjStm /N $n ")
      val k = grown.length - pdf.length
      "startxref\n(\\d+)\n".r.replaceAllIn(grown,
        m => s"startxref\n${m.group(1).toLong + k}\n").getBytes(ascii)
    }
    assert(pdf.contains("/Type /ObjStm /N 5 "))
    // same edit with the true count (leading zeros) still extracts
    assert(PdfTextExtractor.extract("z.pdf", withN("0000000005")).map(_._2) == Seq("a", "b", "c"))
    assert(PdfTextExtractor.extract("n.pdf", withN("2000000000")) == Nil)
  }

  test("objects in two object streams of one file both resolve") {
    val texts = Seq("first page", "second page", "third page", "fourth page")
    val pdf = PdfFixtures.xrefStreamPdf(texts, objStms = 2)
    val ascii = java.nio.charset.StandardCharsets.ISO_8859_1
    assert("/Type /ObjStm".r.findAllIn(new String(pdf, ascii)).size == 2)
    // the pages node sits in the first stream, the font in the second
    assert(PdfTextExtractor.extract("two.pdf", pdf).map(_._2) == texts)
  }

  test("literal string escapes (parens, backslash) survive the round trip") {
    val tricky = "balanced (parens) and \\ backslash"
    val out = PdfTextExtractor.extract("t.pdf", PdfFixtures.classicPdf(Seq(tricky)))
    assert(out.head._2 == tricky)
  }

  test("hex strings, octal escapes, UTF-16BE strings, and TJ arrays") {
    // hand-written content stream exercising the operator forms the
    // builder doesn't emit
    val content =
      "BT /F1 12 Tf 72 720 Td " +
        "[(kerned ) -120 (pair)] TJ T* " +
        "<48692100> Tj T* " +          // "Hi!\0" hex (trailing NUL byte kept)
        "(\\101\\102\\103) Tj T* " +   // octal ABC
        "(\\376\\377\\000X\\000y) Tj " + // UTF-16BE BOM + "Xy" via octal escapes
        "ET"
    val text = PdfTextExtractor.extractText(
      content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(text == "kerned pair\nHi!\u0000\nABC\nXy")
  }

  test("one lexer parses a run of strings through its reused buffer; each PStr is exact") {
    val big = ("x" * 1000 + "\\(") * 70 // over 64 KB, escapes across bulk runs
    val bigWant = ("x" * 1000 + "(") * 70
    val src =
      "(a (nested (deep)) b) (back\\\\slash) (oct\\051al\\7z) " +
        "(cr\\\r\ncontinued) (lf\\\ncontinued) (cr\\\ronly) <414> < 4 1 4 2 > " +
        s"($big) () <> (never closed"
    val lx = new PdfLexer(src.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val want = Seq(
      "a (nested (deep)) b", "back\\slash", "oct)al\u0007z",
      "crcontinued", "lfcontinued", "cronly", "A@", "AB", bigWant, "", "")
    val got = want.map(_ => lx.parseValue(allowRefs = false).asInstanceOf[PStr])
    def latin1(p: PStr) = new String(p.bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(got.map(latin1) == want)
    assert(got.map(_.bytes.length) == want.map(_.length))
    java.util.Arrays.fill(got.head.bytes, 0.toByte) // no sharing with the lexer or each other
    assert(latin1(got(1)) == "back\\slash")
    assert(latin1(got(8)) == bigWant)
    intercept[PdfParseException](lx.parseValue(allowRefs = false))
  }

  test("names: #xx decodes only with two hex digits; any other # is literal") {
    def name(s: String) = new PdfLexer(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      .parseValue() match { case PName(n) => n; case other => fail(s"$other") }
    assert(name("/A#41B") == "AAB")
    assert(name("/A#zzB") == "A#zzB")
    assert(name("/A#+4B") == "A#+4B")
    assert(name("/A#-1B") == "A#-1B")
    assert(name("/A#4") == "A#4")
    assert(name("/A#") == "A#")
  }

  test("numbers read without a String equal String.toDouble; refs need `digits R`") {
    def lexer(s: String) = new PdfLexer(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    for (tok <- Seq("0", "-0", "+5", "720", "-12", "007", "3.5", "-.5", ".5", "5.",
        "123456789012345678", "-123456789012345678", "1234567890123456789",
        "9007199254740993", "99999999999999999999999")) {
      val got = lexer(tok).readNumber().value
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(tok.toDouble), tok)
    }
    intercept[NumberFormatException](lexer("-").readNumber())
    intercept[NumberFormatException](lexer("1.2.3").readNumber())
    val refs = Seq(
      "12 0 R" -> PRef(12, 0), "12 00\nR" -> PRef(12, 0), "12 0 R/X" -> PRef(12, 0),
      "12 0 Rx" -> PNum(12), "12 0a R" -> PNum(12), "1.5 0 R" -> PNum(1.5), "12 0" -> PNum(12),
      "[1 2 3 R 4]" -> PArr(Vector(PNum(1), PRef(2, 3), PNum(4))))
    for ((src, want) <- refs) assert(lexer(src).parseValue() == want, src)
    val lx = lexer("12 0 Rx")
    lx.parseValue()
    assert(lx.readToken() == "0") // a failed ref lookahead consumes only the number
    intercept[NumberFormatException](lexer("12 12345678901 R").parseValue())
  }

  test("a font resource named with #zz still resolves, and its page extracts") {
    // the /Differences font maps Z -> ß, so the text shows whether the
    // Tf name found the resource
    val pdf = PdfFixtures.simpleFontPdf(
      "BT /F#zz1 12 Tf 72 720 Td (aZb) Tj ET",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
        "/Encoding << /Differences [ 90 /germandbls ] >> >>",
      fontName = "F#zz1")
    assert(PdfTextExtractor.extract("n.pdf", pdf).map(_._2) == Seq("aßb"))
  }

  test("filter round-trips: ASCIIHex, ASCII85 (z runs, partial groups), LZW width boundaries") {
    val rnd = new scala.util.Random(31)
    val samples = Seq(
      Array.emptyByteArray,
      "a".getBytes,
      "hello hex world".getBytes,
      Array.fill(9)(0.toByte), // z-runs + partial group in A85
      Array.tabulate(257)(_.toByte),
      Array.fill(50000)(rnd.nextInt(256).toByte), // LZW: crosses 9->10->11->12 bit widths
      ("the quick brown fox " * 4000).getBytes) // LZW: long repeats + table reset
    for ((s, i) <- samples.zipWithIndex) {
      assert(PdfFilters.asciiHexDecode(PdfFixtures.asciiHexEncode(s)).sameElements(s), s"hex $i")
      assert(PdfFilters.ascii85Decode(PdfFixtures.ascii85Encode(s)).sameElements(s), s"a85 $i")
      assert(PdfFilters.lzwDecode(PdfFixtures.lzwEncode(s)).sameElements(s), s"lzw $i")
    }
  }

  test("ASCIIHex/ASCII85/LZW filtered content streams extract end-to-end") {
    val text = "filtered stream text\nwith a second line"
    for ((name, enc) <- Seq[(String, Array[Byte] => Array[Byte])](
        "ASCIIHexDecode" -> PdfFixtures.asciiHexEncode,
        "ASCII85Decode" -> PdfFixtures.ascii85Encode,
        "LZWDecode" -> PdfFixtures.lzwEncode)) {
      val out = PdfTextExtractor.extract("f.pdf", PdfFixtures.filteredPdf(text, Seq(name -> enc)))
      assert(out.map(_._2) == Seq(text), name)
    }
  }

  test("filter CHAIN: /Filter [ASCII85Decode FlateDecode] composes in decode order") {
    val text = "chained filters"
    val pdf = PdfFixtures.filteredPdf(text, Seq[(String, Array[Byte] => Array[Byte])](
      "ASCII85Decode" -> PdfFixtures.ascii85Encode,
      "FlateDecode" -> PdfFixtures.deflate))
    assert(PdfTextExtractor.extract("c.pdf", pdf).map(_._2) == Seq(text))
  }

  test("Type0/Identity-H font: 2-byte codes map through the ToUnicode CMap") {
    // 0001 0002 0010 0010 0003 = Hello (bfchar + bfrange run);
    // 0020 0021 = World (bfrange array form, multi-char dst);
    // 0004 = U+21A6 (non-Latin BMP)
    val hex = Seq("00010002001000100003", "00200021", "0004")
    for (compress <- Seq(false, true)) {
      val out = PdfTextExtractor.extract("t0.pdf",
        PdfFixtures.type0Pdf(hex, compressCMap = compress))
      assert(out.map(_._2) == Seq("Hello\nWorld\n↦"), s"compressCMap=$compress")
    }
  }

  test("Type0 font resources inherited from the Pages node still decode") {
    val out = PdfTextExtractor.extract("t0i.pdf",
      PdfFixtures.type0Pdf(Seq("00010002001000100003"), inheritResources = true))
    assert(out.map(_._2) == Seq("Hello"))
  }

  test("Type0 with a predefined UCS2/UTF16 CMap decodes CJK text without ToUnicode") {
    // UniGB-UCS2-H: the code space IS UCS-2, so the shown bytes are
    // the UTF-16BE of the text — here 你好, 世界 (U+4F60 U+597D etc.)
    val pdf = PdfFixtures.type0Pdf(
      Seq("4F60597D", "4E16754C"), includeToUnicode = false,
      encoding = "UniGB-UCS2-H")
    assert(PdfTextExtractor.extract("cjk.pdf", pdf).map(_._2) == Seq("你好\n世界"))
    // UTF16 variant: a surrogate pair decodes to the astral char; a
    // lone surrogate is dropped, never garbled
    val astral = PdfFixtures.type0Pdf(
      Seq("D83DDE00D800" + "0041"), includeToUnicode = false,
      encoding = "UniJIS-UTF16-H")
    assert(PdfTextExtractor.extract("a.pdf", astral).map(_._2) ==
      Seq(new String(Character.toChars(0x1F600)) + "A"))
    // UNKNOWN non-Unicode-codespace CMap stays opaque (no noise)
    val unk = PdfFixtures.type0Pdf(
      Seq("4F60597D"), includeToUnicode = false, encoding = "Custom-Glyphs-H")
    assert(PdfTextExtractor.extract("g.pdf", unk).map(_._2).forall(_.isEmpty))
  }

  test("Type0 under charset-codespace predefined CMaps decodes charset bytes (round 9)") {
    def hexOf(s: String, charset: String): String =
      s.getBytes(charset).map(b => f"${b & 0xff}%02X").mkString
    // each case: (CMap name, charset the codes ride in, text). The
    // mixed ASCII+CJK strings exercise the variable-width codespace
    // walk (1-byte row + 2-byte lead ranges) the charset decoder owns.
    val cases = Seq(
      ("GBK-EUC-H", "GBK", "AB你好c"),
      ("GBK2K-H", "GB18030", "你好, world"),
      ("ETen-B5-H", "Big5", "中文 mix"),
      ("HKscs-B5-H", "Big5-HKSCS", "香港 text"),
      ("90ms-RKSJ-H", "windows-31j", "日本語 abc"),
      ("EUC-H", "EUC-JP", "かな kana"),
      ("KSC-EUC-H", "EUC-KR", "한국어 xyz"),
      ("KSCms-UHC-H", "x-windows-949", "한글 uhc"))
    for ((cmap, charset, text) <- cases) {
      val pdf = PdfFixtures.type0Pdf(
        Seq(hexOf(text, charset)), includeToUnicode = false, encoding = cmap)
      val pages = PdfTextExtractor.extractDetailed(s"$cmap.pdf", pdf)
      assert(pages.map(_.text) == Seq(text), s"$cmap via $charset")
      // real text extracted -> no longer an unmapped-font drop
      assert(pages.map(_.unmappedFonts) == Seq(0L), s"$cmap telemetry")
    }
    // Identity-H must NOT ride this tier: glyph ids are not characters
    assert(PdfFonts.charsetFor("Identity-H").isEmpty)
    assert(PdfFonts.charsetFor("Identity-V").isEmpty)
    // writing mode is irrelevant to the charset; unknowns map nowhere
    assert(PdfFonts.charsetFor("GBK-EUC-V").contains("GBK"))
    assert(PdfFonts.charsetFor("KSCms-UHC-HW-V").contains("x-windows-949"))
    assert(PdfFonts.charsetFor("NotACMap-H").isEmpty)
    // malformed charset bytes drop, never garble: a lone GBK lead byte
    val bad = PdfFixtures.type0Pdf(
      Seq("41C4"), includeToUnicode = false, encoding = "GBK-EUC-H")
    assert(PdfTextExtractor.extract("bad.pdf", bad).map(_._2) == Seq("A"))
  }

  test("Type0 WITHOUT ToUnicode yields empty text, not glyph-id noise") {
    val out = PdfTextExtractor.extract("t0n.pdf",
      PdfFixtures.type0Pdf(Seq("00010002001000100003"), includeToUnicode = false))
    assert(out.map(_._2) == Seq(""))
  }

  test("parseToUnicode: codespace width, bfchar, bfrange increment with byte carry") {
    val (w, m) = PdfFonts.parseToUnicode(
      PdfFixtures.type0CMap.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(w == 2)
    assert(m(0x0001) == "H" && m(0x0002) == "e" && m(0x0003) == "o")
    assert(m(0x0010) == "l" && m(0x0011) == "m" && m(0x0012) == "n")
    assert(m(0x0020) == "W" && m(0x0021) == "orld")
    // carry across the low byte: <00FF> + 1 -> <0100>
    val carry =
      """1 begincodespacerange <0000> <FFFF> endcodespacerange
        |1 beginbfrange <0005> <0006> <00FF> endbfrange""".stripMargin
    val (_, m2) = PdfFonts.parseToUnicode(
      carry.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(m2(0x0005) == "ÿ" && m2(0x0006) == "Ā")
  }

  test("simple font WITH ToUnicode: 1-byte codes map, unmapped fall back to Latin-1") {
    val cmap =
      """1 begincodespacerange <00> <FF> endcodespacerange
        |1 beginbfchar <41> <03B1> endbfchar""".stripMargin // 'A' -> α
    val (w, m) = PdfFonts.parseToUnicode(
      cmap.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(w == 1)
    val dec = CMapGlyphDecoder(w, m)
    assert(dec.decode("ABC".getBytes) == "αBC")
  }

  test("q/Q restores the font selected before the matching save") {
    val ascii = java.nio.charset.StandardCharsets.ISO_8859_1
    val cmap =
      """1 begincodespacerange <00> <FF> endcodespacerange
        |1 beginbfchar <41> <0042> endbfchar""".stripMargin // 'A' -> B
    val (w, m) = PdfFonts.parseToUnicode(cmap.getBytes(ascii))
    val fonts = Map[String, GlyphDecoder]("F9" -> CMapGlyphDecoder(w, m))
    // default font, save, switch to the mapping font, restore: the
    // final show must decode with the DEFAULT again
    val content = "BT (A) Tj T* q /F9 1 Tf (A) Tj T* Q (A) Tj ET"
    assert(PdfTextExtractor.extractText(content.getBytes(ascii), fonts) == "A\nB\nA")
  }

  test("stray delimiters never livelock the content walker or the CMap parser") {
    val ascii = java.nio.charset.StandardCharsets.ISO_8859_1
    // '{' is a delimiter readToken() cannot consume — must be skipped
    assert(PdfTextExtractor.extractText("BT { (hi) Tj ET".getBytes(ascii)) == "hi")
    // stray delimiters inside and before CMap blocks
    val (_, m) = PdfFonts.parseToUnicode(
      ") 1 beginbfchar <0001> ) { <0048> endbfchar ]".getBytes(ascii))
    assert(m(1) == "H")
  }

  test("/Differences over a WinAnsi base remap codes through AGL glyph names") {
    // A->eacute, B->uni21A6 (algorithmic form), C->Euro (AGL name);
    // D and the cp1252 smart quotes (\223 \224) ride the base table
    val pdf = PdfFixtures.simpleFontPdf(
      "BT /F1 12 Tf 72 720 Td (ABCD \\223q\\224) Tj ET",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding << /BaseEncoding /WinAnsiEncoding " +
        "/Differences [ 65 /eacute /uni21A6 /Euro ] >> >>")
    assert(PdfTextExtractor.extract("d.pdf", pdf).map(_._2) == Seq("é↦€D “q”"))
  }

  test("named /Encoding /WinAnsiEncoding decodes the cp1252 0x80-0x9F band") {
    val pdf = PdfFixtures.simpleFontPdf(
      "BT /F1 12 Tf 72 720 Td (\\205 \\226 \\221x\\222) Tj ET", // ellipsis endash quotes
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    assert(PdfTextExtractor.extract("w.pdf", pdf).map(_._2) == Seq("… – ‘x’"))
  }

  test("/Differences without a base encoding falls back to Latin-1 under the overrides") {
    val pdf = PdfFixtures.simpleFontPdf(
      "BT /F1 12 Tf 72 720 Td (aZb) Tj ET",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
        "/Encoding << /Differences [ 90 /germandbls ] >> >>") // Z -> ß
    assert(PdfTextExtractor.extract("l.pdf", pdf).map(_._2) == Seq("aßb"))
  }

  test("glyphText: single-char, AGL, uniXXXX, uXXXXX forms; unknown yields no noise") {
    assert(PdfFonts.glyphText("A") == "A")
    assert(PdfFonts.glyphText("adieresis") == "ä")
    assert(PdfFonts.glyphText("uni0041") == "A")
    assert(PdfFonts.glyphText("uni00480065") == "He") // multi-group algorithmic form
    assert(PdfFonts.glyphText("u1F600") == new String(Character.toChars(0x1F600)))
    assert(PdfFonts.glyphText("g123") == "")
    assert(PdfFonts.glyphText("uniXYZW") == "")
  }

  test("RC4-encrypted PDFs (40- and 128-bit, empty user password) extract end-to-end") {
    for (variant <- Seq(PdfFixtures.EncRc4_40, PdfFixtures.EncRc4_128);
         compress <- Seq(false, true)) {
      val pdf = PdfFixtures.encryptedPdf(twoPages, variant, compress = compress)
      val out = PdfTextExtractor.extract("e.pdf", pdf)
      assert(out.map(_._2) == twoPages, s"$variant compress=$compress")
    }
  }

  test("AES-128 (/AESV2 crypt filter) encrypted PDF extracts, incl. Flate-compressed content") {
    for (compress <- Seq(false, true)) {
      val pdf = PdfFixtures.encryptedPdf(twoPages, PdfFixtures.EncAes128, compress = compress)
      assert(PdfTextExtractor.extract("a.pdf", pdf).map(_._2) == twoPages,
        s"compress=$compress")
    }
  }

  test("AES-256 (V5/R6, /AESV3) encrypted PDF extracts end-to-end, incl. compressed") {
    for (compress <- Seq(false, true)) {
      val pdf = PdfFixtures.encryptedPdf(twoPages, PdfFixtures.EncAes256, compress = compress)
      assert(PdfTextExtractor.extract("a256.pdf", pdf).map(_._2) == twoPages,
        s"compress=$compress")
    }
  }

  test("AES-256 R6: non-empty password fails loudly; corrupted /Perms trips the tripwire") {
    val locked = PdfFixtures.encryptedPdf(Seq("pg"), PdfFixtures.EncAes256,
      userPassword = "hunter2".getBytes)
    val ex = intercept[PdfParseException](new PdfDocument(locked))
    assert(ex.getMessage.toLowerCase.contains("password"))
    assert(PdfTextExtractor.extract("p.pdf", locked) == Nil)

    // flip a byte inside the hex-encoded /Perms entry: key unwrap still
    // succeeds (U/UE untouched) but Algorithm 13 must now reject
    val good = PdfFixtures.encryptedPdf(Seq("pg"), PdfFixtures.EncAes256)
    val s = new String(good.map(_.toChar))
    val at = s.indexOf("/Perms <") + "/Perms <".length
    val mutated = good.clone()
    mutated(at) = (if (good(at) == '0') '1' else '0').toByte
    val ex2 = intercept[PdfParseException](new PdfDocument(mutated))
    assert(ex2.getMessage.contains("Perms"))
  }

  test("AES-256 R6: Algorithm 2.B decoder and fixture twin agree on random inputs") {
    val rnd = new scala.util.Random(42)
    for (i <- 0 until 5) {
      val pwd = Array.fill(rnd.nextInt(12))(rnd.nextInt(256).toByte)
      val salt = Array.fill(8)(rnd.nextInt(256).toByte)
      val udata = if (i % 2 == 0) Array.emptyByteArray else Array.fill(48)(rnd.nextInt(256).toByte)
      assert(PdfCrypt.hash2B(pwd, salt, udata, r = 6)
        .sameElements(PdfFixtures.PdfEncryptor.hardenedHash(pwd, salt, udata)), s"case $i")
    }
  }

  test("encrypted PDF 1.5: ObjStm payload decrypts, xref stream stays exempt") {
    val pdf = PdfFixtures.encryptedXrefStreamPdf(Seq("alpha beta", "gamma\ndelta"))
    val out = PdfTextExtractor.extract("ex.pdf", pdf)
    assert(out.map(_._2) == Seq("alpha beta", "gamma\ndelta"))
  }

  test("document strings (Info /Title) decrypt through the string path") {
    for (variant <- Seq(PdfFixtures.EncRc4_128, PdfFixtures.EncAes128, PdfFixtures.EncAes256)) {
      // single page: font=5, info=6, encrypt=7
      val pdf = PdfFixtures.encryptedPdf(Seq("pg"), variant, title = "Top Secret ®")
      new PdfDocument(pdf).fetch(6) match {
        case PDict(m) => m("Title") match {
          case PStr(b) => assert(PdfTextExtractor.decodeText(b) == "Top Secret ®", variant.toString)
          case other => fail(s"$variant Title: $other")
        }
        case other => fail(s"$variant Info: $other")
      }
    }
  }

  test("RC4 known-answer vectors (public) pin both twins of the primitive") {
    def hx(s: String) = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val vectors = Seq(
      ("Key", "Plaintext", "BBF316E8D940AF0AD3"),
      ("Wiki", "pedia", "1021BF0420"),
      ("Secret", "Attack at dawn", "45A01F645FC35B383552544B9BF5"))
    for ((k, p, c) <- vectors) {
      assert(PdfCrypt.rc4(k.getBytes, p.getBytes).sameElements(hx(c)), s"decoder rc4 $k")
      assert(PdfFixtures.PdfEncryptor.rc4(k.getBytes, p.getBytes).sameElements(hx(c)),
        s"fixture rc4 $k")
    }
  }

  test("non-empty user password fails loudly and the scan skips the file") {
    val pdf = PdfFixtures.encryptedPdf(Seq("pg"), PdfFixtures.EncRc4_128,
      userPassword = "hunter2".getBytes)
    val ex = intercept[PdfParseException](new PdfDocument(pdf))
    assert(ex.getMessage.toLowerCase.contains("password"))
    assert(PdfTextExtractor.extract("p.pdf", pdf) == Nil)
  }

  test("Engine.fileStats counts encrypted-PDF text like the reference's pypdf path") {
    val dir = java.nio.file.Files.createTempDirectory("pdfenc")
    val text = "guarded words inside the vault"
    // one file per cipher generation, incl. the PDF 2.0 AES-256 shape
    java.nio.file.Files.write(dir.resolve("enc128.pdf"),
      PdfFixtures.encryptedPdf(Seq(text), PdfFixtures.EncAes128, compress = true))
    java.nio.file.Files.write(dir.resolve("enc256.pdf"),
      PdfFixtures.encryptedPdf(Seq(text), PdfFixtures.EncAes256, compress = true))
    val opts = graft.Engine.Options(
      glob = "*.pdf",
      split = SplitConfig(chunkSize = 10, chunkOverlap = 0),
      extractor = PdfTextExtractor)
    val stats = graft.Engine.fileStats(spark, dir.toString, opts).collect()
    assert(stats.length == 2 && stats.forall(_.pages == 1))
    val chunks = graft.split.RecursiveCharacterSplitter.splitText(text, opts.split)
    assert(stats.forall(_.chunks == chunks.length))
    assert(stats.forall(_.textSize == chunks.map(_.length).sum))
  }

  test("damaged bytes yield no pages instead of throwing") {
    assert(PdfTextExtractor.extract("x.pdf", "not a pdf at all".getBytes) == Nil)
    assert(PdfTextExtractor.extract("x.pdf", Array.emptyByteArray) == Nil)
    val truncated = PdfFixtures.classicPdf(twoPages).take(120)
    assert(PdfTextExtractor.extract("x.pdf", truncated) == Nil)
  }

  test("fuzz: random printable text round-trips through build + extract") {
    val rnd = new scala.util.Random(19)
    val alphabet = (' ' to '~').mkString + "\n" // printable ASCII + newline
    for (trial <- 0 until 50) {
      val text = (0 until (1 + rnd.nextInt(200)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val pdf = PdfFixtures.classicPdf(Seq(text), compress = trial % 2 == 0)
      val out = PdfTextExtractor.extract("f.pdf", pdf)
      assert(out.size == 1, s"trial $trial")
      // exact round-trip, including leading/trailing newlines (an
      // empty shown line still flips the line state, so the following
      // line-move emits its newline)
      assert(out.head._2 == text, s"trial $trial text=${text.take(60)}")
    }
  }

  test("corrupt flate payload yields empty page text, not a crash") {
    val pdf = PdfFixtures.classicPdf(Seq("some words here"), compress = true)
    val lx = new PdfLexer(pdf)
    val idx = lx.indexOf("stream", 0)
    val corrupted = pdf.clone()
    for (i <- (idx + 12) until math.min(idx + 24, corrupted.length))
      corrupted(i) = 0x55.toByte
    val out = PdfTextExtractor.extract("c.pdf", corrupted)
    assert(out.nonEmpty && out.forall(_._2 == ""))
  }

  test("cyclic page tree fails soft instead of overflowing the stack") {
    val single = PdfFixtures.classicPdf(Seq("pg"))
    val ascii = java.nio.charset.StandardCharsets.ISO_8859_1
    val cyclic = new String(single, ascii)
      .replace("/Kids [3 0 R]", "/Kids [2 0 R]") // same byte length
      .getBytes(ascii)
    assert(PdfTextExtractor.extract("cyc.pdf", cyclic) == Nil)
  }

  test("Engine.fileStats end-to-end over real .pdf bytes") {
    val dir = java.nio.file.Files.createTempDirectory("pdfe2e")
    java.nio.file.Files.write(dir.resolve("a.pdf"),
      PdfFixtures.classicPdf(Seq("one two three four five", "six seven eight")))
    java.nio.file.Files.write(dir.resolve("b.pdf"),
      PdfFixtures.xrefStreamPdf(Seq("lorem ipsum dolor")))
    java.nio.file.Files.write(dir.resolve("c.pdf"),
      PdfFixtures.type0Pdf(Seq("00010002001000100003", "00200021")))
    java.nio.file.Files.write(dir.resolve("d.pdf"),
      PdfFixtures.filteredPdf("lzw payload words",
        Seq[(String, Array[Byte] => Array[Byte])]("LZWDecode" -> PdfFixtures.lzwEncode)))
    java.nio.file.Files.write(dir.resolve("skip.txt"), "not scanned".getBytes)

    val opts = graft.Engine.Options(
      glob = "*.pdf",
      split = SplitConfig(chunkSize = 10, chunkOverlap = 0),
      extractor = PdfTextExtractor)
    val stats = graft.Engine.fileStats(spark, dir.toString, opts)
      .collect().map(s => s.path.split('/').last -> s).toMap

    assert(stats.keySet == Set("a.pdf", "b.pdf", "c.pdf", "d.pdf"))
    // the CID-font page's decoded text feeds the pipeline like any other
    val cChunks =
      graft.split.RecursiveCharacterSplitter.splitText("Hello\nWorld", opts.split)
    assert(stats("c.pdf").chunks == cChunks.length)
    assert(stats("c.pdf").textSize == cChunks.map(_.length).sum)
    val dChunks =
      graft.split.RecursiveCharacterSplitter.splitText("lzw payload words", opts.split)
    assert(stats("d.pdf").textSize == dChunks.map(_.length).sum)
    assert(stats("a.pdf").pages == 2)
    assert(stats("b.pdf").pages == 1)
    // chunk/text sizes match the splitter run directly on the page text
    val aChunks =
      graft.split.RecursiveCharacterSplitter.splitText("one two three four five", opts.split) ++
      graft.split.RecursiveCharacterSplitter.splitText("six seven eight", opts.split)
    assert(stats("a.pdf").chunks == aChunks.length)
    assert(stats("a.pdf").textSize == aChunks.map(_.length).sum)
    assert(stats("b.pdf").fileSize ==
      java.nio.file.Files.size(dir.resolve("b.pdf")))
  }

  test("unmapped_font telemetry: opaque drops are counted, mapped fonts are not") {
    // UNKNOWN charset-codespace CMap: text dropped as opaque (the
    // no-noise contract) — the page must REPORT the silent drop.
    // (GBK-EUC-H moved OUT of this tier in round 9: it now decodes.)
    val unk = PdfFixtures.type0Pdf(
      Seq("4F60597D"), includeToUnicode = false, encoding = "Custom-Glyphs-H")
    val unkPages = PdfTextExtractor.extractDetailed("g.pdf", unk)
    assert(unkPages.map(_.text) == Seq(""))
    assert(unkPages.map(_.unmappedFonts) == Seq(1L))
    // same count for Identity-H without ToUnicode (glyph-id drop)
    val idh = PdfFixtures.type0Pdf(
      Seq("00010002"), includeToUnicode = false)
    assert(PdfTextExtractor.extractDetailed("i.pdf", idh)
      .map(_.unmappedFonts) == Seq(1L))
    // fully-mapped fonts report zero: ToUnicode, predefined Unicode
    // codespace, charset codespace (round 9), and simple-font pages
    for (pdf <- Seq(
        PdfFixtures.type0Pdf(Seq("00010002001000100003")),
        PdfFixtures.type0Pdf(Seq("4F60597D"),
          includeToUnicode = false, encoding = "UniGB-UCS2-H"),
        PdfFixtures.type0Pdf(Seq("C4E3BAC3"),
          includeToUnicode = false, encoding = "GBK-EUC-H"),
        PdfFixtures.classicPdf(Seq("hello world"))))
      assert(PdfTextExtractor.extractDetailed("ok.pdf", pdf)
        .map(_.unmappedFonts) == Seq(0L))
    // one font counted once across many shows; distinct per font
    val multi = PdfFixtures.type0Pdf(
      Seq("0001", "0002", "0003"), includeToUnicode = false)
    assert(PdfTextExtractor.extractDetailed("m.pdf", multi)
      .map(_.unmappedFonts) == Seq(1L))
  }

  test("unmapped_font flows to FileStats and the report column (honest telemetry)") {
    val dir = java.nio.file.Files.createTempDirectory("gbkpdf")
    java.nio.file.Files.write(dir.resolve("cjk.pdf"),
      PdfFixtures.type0Pdf(Seq("4F60597D"),
        includeToUnicode = false)) // Identity-H: the glyph-id drop
    java.nio.file.Files.write(dir.resolve("ok.pdf"),
      PdfFixtures.classicPdf(Seq("some latin text here")))
    val opts = graft.Engine.Options(glob = "*.pdf",
      extractor = PdfTextExtractor,
      split = SplitConfig(chunkSize = 50, chunkOverlap = 0))
    val stats = graft.Engine.fileStats(spark, dir.toString, opts)
      .collect().map(s => s.path.split('/').last -> s).toMap
    assert(stats("cjk.pdf").unmappedFonts == 1L)
    assert(stats("cjk.pdf").chunks == 0L) // silently-empty without the flag
    assert(stats("ok.pdf").unmappedFonts == 0L)
    val report = graft.Engine.report(spark, dir.toString, opts)
      .collect().map(r => r.getString(0) -> r.getAs[String]("Unmapped Fonts")).toMap
    assert(report("cjk.pdf") == "1")
    assert(report("ok.pdf") == "0")
    assert(report("SUM TOTAL") == "1") // rollup sums the telemetry
  }
}
