package graft.sources.pdf

import java.io.ByteArrayOutputStream
import java.util.zip.Deflater

import scala.collection.mutable

/** Synthetic PDF builders — no library involved, so the parser is
  * validated against independently hand-written file structure:
  * classic xref tables, FlateDecode content, and PDF 1.5 xref
  * streams with object streams + PNG Up predictor.
  *
  * Lives in the main tree (moved from the suite in round 9) because
  * it is the writer twin for TWO consumers: the ScalaTest suite's
  * fixtures, and the `pdf_chunk_stats` registered query, which
  * synthesizes a deterministic PDF per document in-query and drives
  * it through the real `binaryFile` → [[PdfTextExtractor]] →
  * splitter → stats pipeline with a closed-form oracle (the mm_video
  * discipline applied to the reference's primary source,
  * `pdf_reader.py:442-443,543-615`). The writer shares nothing with
  * the decoder but the public ISO 32000 spec constants, so a
  * hash-gate match proves the full encode→container→decode loop.
  */
object PdfFixtures {

  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1

  def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Escape a text line into a PDF literal string body. */
  private def esc(s: String): String =
    s.flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case '\\' => "\\\\"
      case c => c.toString
    }

  /** Standard content stream showing each line with T* between. */
  def contentFor(pageText: String): String = {
    val lines = pageText.split("\n", -1)
    val shows = lines.map(l => s"(${esc(l)}) Tj").mkString(" T*\n")
    s"BT\n/F1 12 Tf\n72 720 Td\n$shows\nET"
  }

  private final class Out {
    val bytes = new ByteArrayOutputStream()
    val offsets = mutable.LinkedHashMap.empty[Int, Int]
    def <<(s: String): Unit = bytes.write(s.getBytes(Ascii))
    def <<(b: Array[Byte]): Unit = bytes.write(b)
    def obj(num: Int)(body: => Unit): Unit = {
      offsets(num) = bytes.size()
      this << s"$num 0 obj\n"
      body
      this << "\nendobj\n"
    }
    def streamObj(num: Int, dictExtra: String, payload: Array[Byte]): Unit =
      obj(num) {
        this << s"<< /Length ${payload.length} $dictExtra >>\nstream\n"
        this << payload
        this << "\nendstream"
      }
  }

  // ---- independent filter ENCODERS (the codec under test only
  // decodes; encoding here keeps the fixtures library-free) ----

  def asciiHexEncode(b: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    for ((x, i) <- b.zipWithIndex) {
      sb.append(f"${x & 0xff}%02X")
      if (i % 32 == 31) sb.append('\n') // exercise whitespace skipping
    }
    sb.append('>')
    sb.toString.getBytes(Ascii)
  }

  def ascii85Encode(b: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    var i = 0
    while (i < b.length) {
      val n = math.min(4, b.length - i)
      var v = 0L
      for (j <- 0 until 4) {
        v = (v << 8) | (if (i + j < b.length) b(i + j) & 0xff else 0)
      }
      if (n == 4 && v == 0) sb.append('z')
      else {
        val cs = new Array[Char](5)
        var acc = v
        for (j <- 4 to 0 by -1) { cs(j) = ('!' + (acc % 85)).toChar; acc /= 85 }
        sb.appendAll(cs, 0, n + 1)
      }
      if (i % 60 == 0 && i > 0) sb.append('\n')
      i += 4
    }
    sb.append("~>")
    sb.toString.getBytes(Ascii)
  }

  /** PDF LZW (9..12-bit MSB-first codes, clear=256, EOD=257,
    * EarlyChange=1): the encoder twin of the decoder under test,
    * written against the same public spec clause.
    */
  def lzwEncode(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    var width = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      bitCnt += width
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    val table = mutable.Map.empty[Seq[Byte], Int]
    var nextCode = 258
    def reset(): Unit = {
      table.clear()
      for (i <- 0 until 256) table(Seq(i.toByte)) = i
      nextCode = 258
      width = 9
    }
    reset()
    emit(256) // leading clear, as the spec recommends
    var w = Vector.empty[Byte]
    for (c <- b) {
      val wc = w :+ c
      if (table.contains(wc)) w = wc
      else {
        emit(table(w))
        if (nextCode == 4096) { emit(256); reset() }
        else {
          table(wc) = nextCode
          nextCode += 1
          // early-change encoder rule, derived from the decoder's
          // (nextCode + 1 >= 2^width after its add): the decoder's
          // table add lags one READ behind the encoder's add, so the
          // encoder widens when its own nextCode reaches 2^width —
          // both sides then flip to the wider code at the same
          // emit/read index (round-trip-pinned across the 511/1023/
          // 2047 boundaries by the spec)
          if (nextCode >= (1 << width) && width < 12) width += 1
        }
        w = Vector(c)
      }
    }
    if (w.nonEmpty) emit(table(w))
    emit(257) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** Classic-xref PDF: one content stream per page, optionally
    * FlateDecode-compressed. Object layout: 1 catalog, 2 pages node,
    * 2i+1/2i+2 per page (page, content), last = font.
    */
  def classicPdf(pages: Seq[String], compress: Boolean = false): Array[Byte] = {
    val o = new Out
    o << "%PDF-1.4\n%âãÏÓ\n"
    val n = pages.length
    val pageNums = (0 until n).map(i => 3 + 2 * i)
    val fontNum = 3 + 2 * n
    o.obj(1) { o << "<< /Type /Catalog /Pages 2 0 R >>" }
    o.obj(2) {
      o << s"<< /Type /Pages /Kids [${pageNums.map(p => s"$p 0 R").mkString(" ")}] /Count $n >>"
    }
    for ((text, i) <- pages.zipWithIndex) {
      val pn = 3 + 2 * i
      o.obj(pn) {
        o << s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 $fontNum 0 R >> >> /Contents ${pn + 1} 0 R >>"
      }
      val raw = contentFor(text).getBytes(Ascii)
      if (compress)
        o.streamObj(pn + 1, "/Filter /FlateDecode", deflate(raw))
      else
        o.streamObj(pn + 1, "", raw)
    }
    o.obj(fontNum) { o << "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>" }
    // classic xref table
    val xrefOff = o.bytes.size()
    val maxNum = fontNum
    o << s"xref\n0 ${maxNum + 1}\n"
    o << "0000000000 65535 f \n"
    for (num <- 1 to maxNum) o << f"${o.offsets(num)}%010d 00000 n \n"
    o << s"trailer\n<< /Size ${maxNum + 1} /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n"
    o.bytes.toByteArray
  }

  /** Classic-xref PDF whose content stream rides the given filter
    * chain. `filters` maps raw→encoded in DECODE order, e.g.
    * `Seq("ASCII85Decode" -> ascii85Encode)`; chains compose
    * right-to-left on the encode side like the spec's /Filter array.
    */
  def filteredPdf(
      text: String,
      filters: Seq[(String, Array[Byte] => Array[Byte])],
      parms: String = ""): Array[Byte] = {
    val o = new Out
    o << "%PDF-1.4\n%âãÏÓ\n"
    o.obj(1) { o << "<< /Type /Catalog /Pages 2 0 R >>" }
    o.obj(2) { o << "<< /Type /Pages /Kids [3 0 R] /Count 1 >>" }
    o.obj(3) {
      o << "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"
    }
    // /Filter [A B] means decode A then B, so ENCODE applies B then A
    val payload = filters.reverse.foldLeft(contentFor(text).getBytes(Ascii)) {
      case (bytes, (_, enc)) => enc(bytes)
    }
    val names = filters.map { case (n, _) => s"/$n" }.mkString(" ")
    o.streamObj(4, s"/Filter [$names] $parms", payload)
    o.obj(5) { o << "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>" }
    val xrefOff = o.bytes.size()
    o << "xref\n0 6\n0000000000 65535 f \n"
    for (num <- 1 to 5) o << f"${o.offsets(num)}%010d 00000 n \n"
    o << s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n"
    o.bytes.toByteArray
  }

  /** The ToUnicode CMap used by [[type0Pdf]]: 2-byte Identity-H
    * codespace; bfchar singles for H(0001) e(0002) o(0003) and
    * "↦"(0004, astral-free BMP arrow to exercise non-Latin output);
    * a bfrange run 0010-0012 → l,m,n; and a bfrange ARRAY form
    * 0020-0021 → "W" and "orld" (multi-char destination).
    */
  val type0CMap: String =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def
      |/CMapName /Adobe-Identity-UCS def
      |/CMapType 2 def
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |4 beginbfchar
      |<0001> <0048>
      |<0002> <0065>
      |<0003> <006F>
      |<0004> <21A6>
      |endbfchar
      |2 beginbfrange
      |<0010> <0012> <006C>
      |<0020> <0021> [<0057> <006F0072006C0064>]
      |endbfrange
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end""".stripMargin

  /** A composite-font (Type0 / Identity-H / CIDFontType2) PDF whose
    * content shows 2-byte glyph codes mapped to Unicode by an
    * embedded ToUnicode CMap — the shape LaTeX/Word/Chrome-print
    * PDFs take. `hexShows`: per-line hex code strings.
    */
  def type0Pdf(
      hexShows: Seq[String],
      compressCMap: Boolean = false,
      includeToUnicode: Boolean = true,
      inheritResources: Boolean = false,
      encoding: String = "Identity-H"): Array[Byte] = {
    val o = new Out
    o << "%PDF-1.4\n%âãÏÓ\n"
    val res = "/Resources << /Font << /F7 5 0 R >> >> "
    o.obj(1) { o << "<< /Type /Catalog /Pages 2 0 R >>" }
    o.obj(2) {
      o << s"<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        s"${if (inheritResources) res else ""}>>"
    }
    o.obj(3) {
      o << s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"${if (inheritResources) "" else res}/Contents 4 0 R >>"
    }
    val shows = hexShows.map(h => s"<$h> Tj").mkString(" T*\n")
    val content = s"BT\n/F7 10 Tf\n72 720 Td\n$shows\nET"
    o.streamObj(4, "", content.getBytes(Ascii))
    o.obj(5) {
      o << "<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity-H " +
        s"/Encoding /$encoding /DescendantFonts [6 0 R] " +
        s"${if (includeToUnicode) "/ToUnicode 7 0 R " else ""}>>"
    }
    o.obj(6) {
      o << "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> >>"
    }
    val cmapBytes = type0CMap.getBytes(Ascii)
    if (compressCMap)
      o.streamObj(7, "/Filter /FlateDecode", deflate(cmapBytes))
    else
      o.streamObj(7, "", cmapBytes)
    val xrefOff = o.bytes.size()
    o << "xref\n0 8\n0000000000 65535 f \n"
    for (num <- 1 to 7) o << f"${o.offsets(num)}%010d 00000 n \n"
    o << s"trailer\n<< /Size 8 /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n"
    o.bytes.toByteArray
  }

  /** Content stream for one page of CHARSET-ENCODED text under a
    * predefined charset-codespace CMap (GBK-EUC-H family): each line
    * of `pageText` is encoded to the charset's bytes and shown as a
    * HEX string (so no literal-string escaping interacts with DBCS
    * lead/trail bytes), lines joined with T*.
    */
  def cjkContentFor(pageText: String, charsetName: String): String = {
    val cs = java.nio.charset.Charset.forName(charsetName)
    val lines = pageText.split("\n", -1)
    val shows = lines.map { l =>
      val hex = l.getBytes(cs).map(b => f"${b & 0xff}%02X").mkString
      s"<$hex> Tj"
    }.mkString(" T*\n")
    s"BT\n/F7 10 Tf\n72 720 Td\n$shows\nET"
  }

  /** CIDSystemInfo ordering for a predefined CMap family (cosmetic —
    * the text path keys on /Encoding, but real producers pair them).
    */
  private def orderingFor(cmapName: String): String =
    if (cmapName.startsWith("GB")) "GB1"
    else if (cmapName.contains("B5") || cmapName.startsWith("CNS")) "CNS1"
    else if (cmapName.contains("RKSJ") || cmapName == "EUC-H" || cmapName == "EUC-V") "Japan1"
    else "Korea1"

  /** Composite-font PDF in the legacy CJK shape: Type0 +
    * CIDFontType0 under a PREDEFINED charset-codespace CMap
    * (`/Encoding /GBK-EUC-H`, `/ETen-B5-V`, …), NO ToUnicode — the
    * shape old CJK office exports take, where the shown bytes are
    * charset-encoded text and extraction must go through the charset
    * decoder tier ([[CharsetGlyphDecoder]]). One content stream per
    * page, each line hex-shown in `charsetName` bytes.
    */
  def cjkPdf(
      pages: Seq[String], cmapName: String, charsetName: String): Array[Byte] = {
    val o = new Out
    o << "%PDF-1.4\n%âãÏÓ\n"
    val n = pages.length
    val pageNums = (0 until n).map(i => 3 + 2 * i)
    val fontNum = 3 + 2 * n
    val descNum = fontNum + 1
    o.obj(1) { o << "<< /Type /Catalog /Pages 2 0 R >>" }
    o.obj(2) {
      o << s"<< /Type /Pages /Kids [${pageNums.map(p => s"$p 0 R").mkString(" ")}] /Count $n >>"
    }
    for ((text, i) <- pages.zipWithIndex) {
      val pn = 3 + 2 * i
      o.obj(pn) {
        o << s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F7 $fontNum 0 R >> >> /Contents ${pn + 1} 0 R >>"
      }
      val raw = cjkContentFor(text, charsetName).getBytes(Ascii)
      o.streamObj(pn + 1, "/Filter /FlateDecode", deflate(raw))
    }
    o.obj(fontNum) {
      o << s"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-$cmapName " +
        s"/Encoding /$cmapName /DescendantFonts [$descNum 0 R] >>"
    }
    o.obj(descNum) {
      o << "<< /Type /Font /Subtype /CIDFontType0 /BaseFont /Synth " +
        s"/CIDSystemInfo << /Registry (Adobe) /Ordering (${orderingFor(cmapName)}) /Supplement 0 >> >>"
    }
    val xrefOff = o.bytes.size()
    o << s"xref\n0 ${descNum + 1}\n0000000000 65535 f \n"
    for (num <- 1 to descNum) o << f"${o.offsets(num)}%010d 00000 n \n"
    o << s"trailer\n<< /Size ${descNum + 1} /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n"
    o.bytes.toByteArray
  }

  /** One-page PDF with a caller-supplied font dictionary body (obj 5)
    * and raw content-stream operators — the shape for exercising
    * simple-font `/Encoding` variants (`/Differences`, named base
    * encodings) end-to-end.
    */
  def simpleFontPdf(contentOps: String, fontBody: String): Array[Byte] = {
    val o = new Out
    o << "%PDF-1.4\n%âãÏÓ\n"
    o.obj(1) { o << "<< /Type /Catalog /Pages 2 0 R >>" }
    o.obj(2) { o << "<< /Type /Pages /Kids [3 0 R] /Count 1 >>" }
    o.obj(3) {
      o << "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"
    }
    o.streamObj(4, "", contentOps.getBytes(Ascii))
    o.obj(5) { o << fontBody }
    val xrefOff = o.bytes.size()
    o << "xref\n0 6\n0000000000 65535 f \n"
    for (num <- 1 to 5) o << f"${o.offsets(num)}%010d 00000 n \n"
    o << s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n"
    o.bytes.toByteArray
  }

  // ---- independent §7.6 standard-security ENCRYPTOR twin ----

  /** Encryption flavor for [[encryptedPdf]]. */
  sealed abstract class EncVariant(val v: Int, val r: Int, val bits: Int, val aes: Boolean)
  /** V1/R2 whole-file RC4, 40-bit key. */
  case object EncRc4_40 extends EncVariant(1, 2, 40, false)
  /** V2/R3 whole-file RC4, 128-bit key. */
  case object EncRc4_128 extends EncVariant(2, 3, 128, false)
  /** V4/R4 crypt filters, /StdCF = /AESV2 (AES-128-CBC). */
  case object EncAes128 extends EncVariant(4, 4, 128, true)
  /** V5/R6 (PDF 2.0), /StdCF = /AESV3 (AES-256-CBC, SHA-2 Algorithm
    * 2.B key derivation, /UE//OE-wrapped file key, /Perms).
    */
  case object EncAes256 extends EncVariant(5, 6, 256, true)

  /** ISO 32000-1 §7.6 standard security handler, ENCRYPT side —
    * written from the spec independently of the decoder under test
    * (`PdfCrypt`), the same twin pattern as the filter encoders
    * above. Shared with the decoder only through the public spec
    * constants (the 32-byte password pad, the "sAlT" suffix).
    */
  object PdfEncryptor {
    import java.security.MessageDigest
    import javax.crypto.Cipher
    import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

    /** §7.6.3.3 padding string (public spec constant). */
    val PasswordPad: Array[Byte] =
      ("28BF4E5E4E758A41" + "64004E56FFFA0108" +
       "2E2E00B6D0683E80" + "2F0CA9FE6453697A")
        .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

    def padPassword(pwd: Array[Byte]): Array[Byte] =
      (pwd ++ PasswordPad).take(32)

    def md5(chunks: Array[Byte]*): Array[Byte] = {
      val d = MessageDigest.getInstance("MD5")
      chunks.foreach(d.update)
      d.digest()
    }

    private def le32(v: Int): Array[Byte] =
      Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)

    /** RC4, coded independently of `PdfCrypt.rc4` (for-comprehension
      * KSA, index-mapped PRGA) so the round-trip tests cross-check
      * two implementations of the public algorithm.
      */
    def rc4(key: Array[Byte], in: Array[Byte]): Array[Byte] = {
      val s = Array.tabulate(256)(identity)
      var j = 0
      for (i <- 0 until 256) {
        j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
        val t = s(i); s(i) = s(j); s(j) = t
      }
      var a = 0; var b = 0
      in.map { x =>
        a = (a + 1) & 0xff
        b = (b + s(a)) & 0xff
        val t = s(a); s(a) = s(b); s(b) = t
        (x ^ s((s(a) + s(b)) & 0xff)).toByte
      }
    }

    /** Algorithm 3: the /O entry (here always for an EMPTY owner
      * password, which the spec folds to the user password).
      */
    def ownerEntry(r: Int, keyBytes: Int, paddedUser: Array[Byte]): Array[Byte] = {
      var h = md5(PasswordPad) // empty owner pwd -> pad alone
      if (r >= 3) for (_ <- 0 until 50) h = md5(h)
      val key = h.take(keyBytes)
      var out = rc4(key, paddedUser)
      if (r >= 3) for (i <- 1 to 19) out = rc4(key.map(kb => (kb ^ i).toByte), out)
      out
    }

    /** Algorithm 2: the file encryption key (EncryptMetadata=true). */
    def fileKey(
        paddedUser: Array[Byte], o: Array[Byte], p: Int,
        id0: Array[Byte], r: Int, keyBytes: Int): Array[Byte] = {
      var h = md5(paddedUser, o, le32(p), id0)
      if (r >= 3) for (_ <- 0 until 50) h = md5(h.take(keyBytes))
      h.take(keyBytes)
    }

    /** Algorithms 4/5: the /U entry for the empty user password (R3+
      * significant 16 bytes + 16 arbitrary padding bytes).
      */
    def userEntry(fk: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
      if (r == 2) rc4(fk, PasswordPad)
      else {
        var x = rc4(fk, md5(PasswordPad, id0))
        for (i <- 1 to 19) x = rc4(fk.map(kb => (kb ^ i).toByte), x)
        x ++ new Array[Byte](16)
      }

    /** Algorithm 1: per-object key (gen fixed at 0 — all fixture
      * objects are generation 0).
      */
    def objectKey(fk: Array[Byte], num: Int, aes: Boolean): Array[Byte] = {
      val tail = Array[Byte](
        (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
        0, 0)
      val salt = if (aes) "sAlT".getBytes(Ascii) else Array.emptyByteArray
      md5(fk, tail, salt).take(math.min(fk.length + 5, 16))
    }

    // ---- ISO 32000-2 §7.6.4 AES-256 (V5/R6) encrypt side, written
    // independently of PdfCrypt (functional style, Seq.fill repeat) ----

    def sha(bits: Int, chunks: Array[Byte]*): Array[Byte] = {
      val d = MessageDigest.getInstance(s"SHA-$bits")
      chunks.foreach(d.update)
      d.digest()
    }

    /** Algorithm 2.B hardened hash (R6). */
    def hardenedHash(pwd: Array[Byte], salt: Array[Byte], udata: Array[Byte]): Array[Byte] = {
      var k = sha(256, pwd, salt, udata)
      var i = 0
      var done = false
      while (!done) {
        i += 1
        val data = Array.concat(Seq.fill(64)(pwd ++ k ++ udata): _*)
        val c = Cipher.getInstance("AES/CBC/NoPadding")
        c.init(Cipher.ENCRYPT_MODE,
          new SecretKeySpec(k.take(16), "AES"), new IvParameterSpec(k.slice(16, 32)))
        val e = c.doFinal(data)
        k = sha(Seq(256, 384, 512)(e.take(16).map(_ & 0xff).sum % 3), e)
        done = i >= 64 && (e.last & 0xff) <= i - 32
      }
      k.take(32)
    }

    /** AES-256-CBC, zero IV, no padding — the /UE//OE key wrap. */
    def aesWrap(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val c = Cipher.getInstance("AES/CBC/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"),
        new IvParameterSpec(new Array[Byte](16)))
      c.doFinal(data)
    }

    /** AES-256-ECB single block — the /Perms entry. */
    def aesEcb(key: Array[Byte], block: Array[Byte]): Array[Byte] = {
      val c = Cipher.getInstance("AES/ECB/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"))
      c.doFinal(block)
    }

    /** The six V5 security-handler entries for one password applied to
      * BOTH slots (empty ⇒ opens transparently; set ⇒ negative
      * fixture, since user AND owner attempts must then fail).
      * Returns (fileKey, U, UE, O, OE, Perms).
      */
    def v5Entries(pwd: Array[Byte], p: Int, seed: String)
        : (Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
      def salt(tag: String) = md5(s"graft-r6-$tag-$seed".getBytes(Ascii)).take(8)
      val fk = sha(256, s"graft-r6-filekey-$seed".getBytes(Ascii))
      val (uv, uk, ov, ok) = (salt("uv"), salt("uk"), salt("ov"), salt("ok"))
      val u = hardenedHash(pwd, uv, Array.emptyByteArray) ++ uv ++ uk
      val ue = aesWrap(hardenedHash(pwd, uk, Array.emptyByteArray), fk)
      val o = hardenedHash(pwd, ov, u) ++ ov ++ ok
      val oe = aesWrap(hardenedHash(pwd, ok, u), fk)
      val perms = aesEcb(fk,
        le32(p) ++ Array.fill(4)(0xff.toByte) ++
          "Tadbgrft".getBytes(Ascii)) // T=metadata encrypted, "adb" tag, 4 arbitrary
      (fk, u, ue, o, oe, perms)
    }

    /** Encrypt one string/stream payload owned by object `num`. */
    def encrypt(variant: EncVariant, fk: Array[Byte], num: Int,
        data: Array[Byte]): Array[Byte] = {
      // V5 uses the file key directly; earlier revisions derive a
      // per-object key (Algorithm 1).
      val k = if (variant.v == 5) fk else objectKey(fk, num, variant.aes)
      if (!variant.aes) rc4(k, data)
      else {
        val iv = md5(le32(num), "iv".getBytes(Ascii)).take(16) // deterministic: fixtures stay byte-stable
        val padLen = 16 - (data.length % 16)
        val padded = data ++ Array.fill(padLen)(padLen.toByte)
        val c = Cipher.getInstance("AES/CBC/NoPadding")
        c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(k, "AES"), new IvParameterSpec(iv))
        iv ++ c.doFinal(padded)
      }
    }
  }

  private def hexStr(b: Array[Byte]): String =
    "<" + b.map(x => f"${x & 0xff}%02X").mkString + ">"

  /** Classic-xref PDF whose streams and strings are encrypted under
    * the standard security handler with an EMPTY user password (the
    * common "protected" shape pypdf opens transparently). Carries an
    * /Info dict with an encrypted /Title to exercise the string
    * path. A non-empty `userPassword` builds the NEGATIVE fixture:
    * the reader's empty-password attempt must then fail loudly.
    */
  def encryptedPdf(
      pages: Seq[String],
      variant: EncVariant,
      compress: Boolean = false,
      title: String = "Secret Title",
      userPassword: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    import PdfEncryptor._
    val o = new Out
    o << "%PDF-1.4\n%âãÏÓ\n"
    val n = pages.length
    val fontNum = 3 + 2 * n
    val infoNum = fontNum + 1
    val encNum = fontNum + 2
    val keyBytes = variant.bits / 8
    val id0 = md5(s"graft-fixture-$variant-$n".getBytes(Ascii))
    val p = -44
    // (fk, /Encrypt dict body) per revision family
    val (fk, encDictBody) =
      if (variant.v == 5) {
        val (k, u, ue, o, oe, perms) = v5Entries(userPassword, p, s"$variant-$n")
        (k,
          s"/Filter /Standard /V 5 /R ${variant.r} /Length 256 " +
            s"/O ${hexStr(o)} /U ${hexStr(u)} /OE ${hexStr(oe)} /UE ${hexStr(ue)} " +
            s"/Perms ${hexStr(perms)} /P $p " +
            "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> " +
            "/StmF /StdCF /StrF /StdCF")
      } else {
        val paddedUser = padPassword(userPassword)
        val oEntry = ownerEntry(variant.r, if (variant.r == 2) 5 else keyBytes, paddedUser)
        val k = fileKey(paddedUser, oEntry, p, id0, variant.r, keyBytes)
        val uEntry = userEntry(k, id0, variant.r)
        val common = s"/Filter /Standard /R ${variant.r} " +
          s"/O ${hexStr(oEntry)} /U ${hexStr(uEntry)} /P $p"
        val body =
          if (variant.v < 4)
            s"$common /V ${variant.v}" +
              (if (variant.v == 1) "" else s" /Length ${variant.bits}")
          else
            s"$common /V 4 /Length ${variant.bits} " +
              "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> " +
              "/StmF /StdCF /StrF /StdCF"
        (k, body)
      }

    o.obj(1) { o << "<< /Type /Catalog /Pages 2 0 R >>" }
    o.obj(2) {
      o << s"<< /Type /Pages /Kids [${(0 until n).map(i => s"${3 + 2 * i} 0 R").mkString(" ")}] /Count $n >>"
    }
    for ((text, i) <- pages.zipWithIndex) {
      val pn = 3 + 2 * i
      o.obj(pn) {
        o << s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 $fontNum 0 R >> >> /Contents ${pn + 1} 0 R >>"
      }
      val raw = contentFor(text).getBytes(Ascii)
      val plain = if (compress) deflate(raw) else raw
      o.streamObj(pn + 1,
        if (compress) "/Filter /FlateDecode" else "",
        encrypt(variant, fk, pn + 1, plain))
    }
    o.obj(fontNum) { o << "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>" }
    o.obj(infoNum) {
      o << s"<< /Title ${hexStr(encrypt(variant, fk, infoNum, title.getBytes(Ascii)))} >>"
    }
    o.obj(encNum) { o << s"<< $encDictBody >>" }
    val xrefOff = o.bytes.size()
    o << s"xref\n0 ${encNum + 1}\n0000000000 65535 f \n"
    for (num <- 1 to encNum) o << f"${o.offsets(num)}%010d 00000 n \n"
    o << s"trailer\n<< /Size ${encNum + 1} /Root 1 0 R /Info $infoNum 0 R " +
      s"/Encrypt $encNum 0 R /ID [${hexStr(id0)} ${hexStr(id0)}] >>\n" +
      s"startxref\n$xrefOff\n%%EOF\n"
    o.bytes.toByteArray
  }

  /** The encrypted PDF 1.5 shape real producers emit: object
    * streams + xref STREAM, with the ObjStm payload and content
    * streams AES-encrypted while the xref stream itself stays
    * plain (spec-exempt — it must be readable before any key
    * exists). Objects INSIDE the ObjStm are not individually
    * encrypted (§7.5.7); the /Encrypt dict rides as a regular
    * uncompressed object referenced from the xref stream's trailer
    * fields.
    */
  def encryptedXrefStreamPdf(pages: Seq[String]): Array[Byte] =
    xrefStreamPdf(pages, encrypt = Some(EncAes128))

  /** PDF 1.5 structure: page tree + font packed into object
    * streams (type-2 xref entries; `objStms` streams, filled in
    * object order), content streams as regular objects, and a
    * FlateDecode + PNG-Up-predictor xref STREAM instead of a table.
    */
  def xrefStreamPdf(
      pages: Seq[String],
      encrypt: Option[EncVariant] = None,
      objStms: Int = 1): Array[Byte] = {
    require(objStms >= 1, "objStms must be positive")
    import PdfEncryptor.{encrypt => _, _}
    val o = new Out
    o << "%PDF-1.5\n%âãÏÓ\n"
    val n = pages.length
    val pageNums = (0 until n).map(i => 3 + i)
    val contentNums = (0 until n).map(i => 3 + n + i)
    val fontNum = 3 + 2 * n
    val objStmNums = (1 to objStms).map(fontNum + _)
    val encNum = fontNum + objStms + 1 // unused slot when not encrypting
    val xrefNum = encNum + 1

    val id0 = md5(s"graft-xs-fixture-$n".getBytes(Ascii))
    val p = -44
    val enc = encrypt.map { v =>
      val keyBytes = v.bits / 8
      val oEntry = ownerEntry(v.r, if (v.r == 2) 5 else keyBytes, padPassword(Array.emptyByteArray))
      val fk = fileKey(padPassword(Array.emptyByteArray), oEntry, p, id0, v.r, keyBytes)
      (v, fk, oEntry, userEntry(fk, id0, v.r))
    }
    def sealed_(num: Int, data: Array[Byte]): Array[Byte] = enc match {
      case Some((v, fk, _, _)) => PdfEncryptor.encrypt(v, fk, num, data)
      case None => data
    }

    o.obj(1) { o << "<< /Type /Catalog /Pages 2 0 R >>" }
    for ((text, i) <- pages.zipWithIndex) {
      val raw = contentFor(text).getBytes(Ascii)
      o.streamObj(contentNums(i), "/Filter /FlateDecode",
        sealed_(contentNums(i), deflate(raw)))
    }
    // object streams holding: pages node (2), page dicts, font
    val inStm: Seq[(Int, String)] =
      (2 -> s"<< /Type /Pages /Kids [${pageNums.map(p => s"$p 0 R").mkString(" ")}] /Count $n >>") +:
      pages.indices.map { i =>
        pageNums(i) ->
          (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
            s"/Resources << /Font << /F1 $fontNum 0 R >> >> /Contents ${contentNums(i)} 0 R >>")
      } :+
      (fontNum -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val groups = inStm.grouped((inStm.length + objStms - 1) / objStms).toSeq
    for ((group, stmNum) <- groups.zip(objStmNums)) {
      val bodies = group.map(_._2.getBytes(Ascii))
      val rels = bodies.scanLeft(0)((acc, b) => acc + b.length + 1).init
      val header = group.zip(rels).map { case ((num, _), r) => s"$num $r" }.mkString(" ") + "\n"
      val stmPayload = header.getBytes(Ascii) ++
        bodies.flatMap(b => b :+ '\n'.toByte)
      o.streamObj(stmNum,
        s"/Type /ObjStm /N ${group.length} /First ${header.length} /Filter /FlateDecode",
        sealed_(stmNum, deflate(stmPayload)))
    }
    // the /Encrypt dict itself: a regular object, never compressed
    // into an ObjStm, never encrypted
    for ((v, _, oEntry, uEntry) <- enc) {
      o.obj(encNum) {
        o << s"<< /Filter /Standard /R ${v.r} /V ${v.v} /Length ${v.bits} " +
          s"/O ${hexStr(oEntry)} /U ${hexStr(uEntry)} /P $p " +
          "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
          "/StmF /StdCF /StrF /StdCF >>"
      }
    }

    // xref stream: W [1 4 2], rows for objects 0..xrefNum
    val size = xrefNum + 1
    val xrefOff = o.bytes.size()
    def row(t: Int, f2: Long, f3: Int): Array[Byte] =
      Array[Byte](t.toByte,
        ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
        ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte,
        ((f3 >> 8) & 0xff).toByte, (f3 & 0xff).toByte)
    val stmIndex: Map[Int, (Int, Int)] = groups.zip(objStmNums).flatMap {
      case (group, stmNum) => group.map(_._1).zipWithIndex.map { case (num, i) => num -> (stmNum, i) }
    }.toMap
    val rows: Seq[Array[Byte]] = (0 until size).map { num =>
      if (num == 0) row(0, 0, 65535)
      else if (stmIndex.contains(num)) row(2, stmIndex(num)._1, stmIndex(num)._2)
      else if (num == xrefNum) row(1, xrefOff, 0)
      else if (!o.offsets.contains(num)) row(0, 0, 65535) // unused slot
      else row(1, o.offsets(num), 0)
    }
    // PNG Up predictor over 7-byte rows
    val cols = 7
    val encoded = new ByteArrayOutputStream()
    var prev = new Array[Byte](cols)
    for (r <- rows) {
      encoded.write(2) // Up
      val e = new Array[Byte](cols)
      for (i <- 0 until cols) e(i) = ((r(i) - prev(i)) & 0xff).toByte
      encoded.write(e)
      prev = r
    }
    // xref stream: spec-exempt from encryption (read before any key)
    val trailerExtra = enc
      .map(_ => s"/Encrypt $encNum 0 R /ID [${hexStr(id0)} ${hexStr(id0)}] ")
      .getOrElse("")
    o.streamObj(xrefNum,
      s"/Type /XRef /Size $size /W [1 4 2] /Index [0 $size] /Root 1 0 R " +
        trailerExtra +
        "/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >>",
      deflate(encoded.toByteArray))
    o << s"startxref\n$xrefOff\n%%EOF\n"
    o.bytes.toByteArray
  }
}
