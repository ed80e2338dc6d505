package graft.sources.pdf

import java.util.zip.Inflater

import scala.collection.mutable

/** Random-access PDF document: cross-reference resolution (classic
  * tables, xref streams, /Prev chains, hybrid /XRefStm), object
  * streams, FlateDecode (+ PNG predictors), and the page tree.
  *
  * Covers the structural subset the reference exercises through
  * pypdf (`/root/reference/pdf_reader.py:442-443`): load a document,
  * enumerate pages in tree order, decode each page's content
  * stream(s). Unsupported filters (e.g. DCTDecode images) simply
  * never sit on text content streams in that path.
  */
final class PdfDocument(data: Array[Byte]) {

  private val lexer = new PdfLexer(data)
  private val xref = mutable.Map.empty[Int, XrefEntry]
  private var trailerDict: Map[String, PdfObj] = Map.empty
  private val cache = mutable.Map.empty[Int, PdfObj]
  /** Standard-security decryptor (ISO 32000 §7.6), present iff the
    * trailer carries /Encrypt. Built AFTER the xref walk: xref/trailer
    * structures are never encrypted, and the /Encrypt dict itself is
    * exempted by object number below.
    */
  private var crypt: Option[PdfCrypt] = None
  private var encryptObjNum: Int = -1

  loadXref()
  initCrypt()

  // ------------------------------------------------------------------
  // Cross-reference loading
  // ------------------------------------------------------------------

  private def loadXref(): Unit = {
    val sx = lexer.lastIndexOf("startxref")
    if (sx < 0) throw new PdfParseException("no startxref")
    val lx = new PdfLexer(data, sx)
    lx.expectKeyword("startxref")
    var next = lx.readNumber().toLong
    val seen = mutable.Set.empty[Long]
    while (next >= 0 && !seen.contains(next)) {
      seen += next
      next = loadXrefSection(next.toInt)
    }
  }

  /** Parse one xref section (classic table or xref stream) at
    * `offset`; returns the /Prev offset or -1. Existing entries win
    * (sections are visited newest-first).
    */
  private def loadXrefSection(offset: Int): Long = {
    val lx = new PdfLexer(data, offset)
    if (lx.tryKeyword("xref")) {
      // classic table: repeated "start count" sections of 20-byte rows
      var go = true
      while (go) {
        lx.skipWs()
        if (lx.peek >= '0' && lx.peek <= '9') {
          val start = lx.readNumber().toInt
          val count = lx.readNumber().toInt
          for (i <- 0 until count) {
            lx.skipWs()
            val off = lx.readToken().toLong
            val gen = lx.readToken().toInt
            val kind = lx.readToken()
            val num = start + i
            if (kind == "n" && !xref.contains(num))
              xref(num) = XrefOffset(off)
            val _ = gen
          }
        } else go = false
      }
      lx.expectKeyword("trailer")
      val t = lx.parseValue() match {
        case PDict(m) => m
        case other => throw new PdfParseException(s"bad trailer: $other")
      }
      mergeTrailer(t)
      // hybrid-reference file: the classic trailer may point at an
      // xref stream carrying additional (usually type-2) entries
      t.get("XRefStm").foreach {
        case PNum(o) => loadXrefSection(o.toInt)
        case _ => ()
      }
      t.get("Prev") match {
        case Some(PNum(p)) => p.toLong
        case _ => -1L
      }
    } else {
      // xref stream: "num gen obj << /Type/XRef ... >> stream"
      val (_, _, obj) = parseIndirectAt(offset)
      val ps = obj match {
        case s: PStream => s
        case other => throw new PdfParseException(s"expected xref stream, got $other")
      }
      val dict = ps.dict.entries
      mergeTrailer(dict)
      val payload = decodeStream(ps)
      val w = dict.get("W") match {
        case Some(PArr(items)) => items.map { case PNum(v) => v.toInt; case _ => 0 }
        case _ => throw new PdfParseException("xref stream missing /W")
      }
      val size = dict.get("Size") match {
        case Some(PNum(v)) => v.toInt
        case _ => throw new PdfParseException("xref stream missing /Size")
      }
      val index: Seq[(Int, Int)] = dict.get("Index") match {
        case Some(PArr(items)) =>
          items.map { case PNum(v) => v.toInt; case _ => 0 }
            .grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
        case _ => Seq((0, size))
      }
      val rowLen = w.sum
      var p = 0
      def field(width: Int): Long = {
        var v = 0L
        for (_ <- 0 until width) { v = (v << 8) | (payload(p) & 0xff); p += 1 }
        v
      }
      for ((start, count) <- index; i <- 0 until count
           if p + rowLen <= payload.length) {
        val t = if (w(0) == 0) 1L else field(w(0))
        val f2 = field(w(1))
        val f3 = field(w(2))
        val num = start + i
        val _ = f3
        if (!xref.contains(num)) t match {
          case 1L => xref(num) = XrefOffset(f2)
          case 2L => xref(num) = XrefInStream(f2.toInt, f3.toInt)
          case _ => () // type 0: free
        }
      }
      dict.get("Prev") match {
        case Some(PNum(pr)) => pr.toLong
        case _ => -1L
      }
    }
  }

  private def mergeTrailer(t: Map[String, PdfObj]): Unit =
    // newest trailer wins per key (visited newest-first)
    trailerDict = t ++ trailerDict

  private def initCrypt(): Unit = trailerDict.get("Encrypt").foreach { encObj =>
    encryptObjNum = encObj match {
      case PRef(n, _) => n
      case _ => -1
    }
    val encDict = resolveDict(encObj)
      .getOrElse(throw new PdfParseException("bad /Encrypt dictionary"))
    // first document ID string feeds the key derivation; absent /ID is
    // tolerated (some writers omit it) as an empty byte string
    val id0: Array[Byte] = resolve(trailerDict.getOrElse("ID", PNull)) match {
      case PArr(items) if items.nonEmpty =>
        resolve(items.head) match {
          case PStr(b) => b
          case _ => Array.emptyByteArray
        }
      case _ => Array.emptyByteArray
    }
    crypt = Some(PdfCrypt.forDocument(encDict, resolve, id0))
  }

  /** Decrypt every string and stream payload inside a fetched
    * indirect object (§7.6.2: encryption applies to strings and
    * streams only, keyed by the CONTAINING object's num/gen). Exempt:
    * the /Encrypt dict itself and /Type /XRef streams (read before
    * any key exists, and spec-unencrypted).
    */
  private def decryptObj(num: Int, gen: Int, v: PdfObj): PdfObj = crypt match {
    case None => v
    case Some(c) if num == encryptObjNum => v
    case Some(c) =>
      def walk(o: PdfObj): PdfObj = o match {
        case PStr(b) => PStr(c.decryptString(num, gen, b))
        case PArr(items) => PArr(items.map(walk))
        case PDict(m) => PDict(m.map { case (k, vv) => k -> walk(vv) })
        case PStream(d, raw) if d.get("Type").contains(PName("XRef")) => o
        case PStream(d, raw) =>
          PStream(PDict(d.entries.map { case (k, vv) => k -> walk(vv) }),
            c.decryptStream(num, gen, raw))
        case other => other
      }
      walk(v)
  }

  // ------------------------------------------------------------------
  // Object access
  // ------------------------------------------------------------------

  /** Parse `num gen obj <value> [stream] endobj` at `offset`. */
  private def parseIndirectAt(offset: Int): (Int, Int, PdfObj) = {
    val lx = new PdfLexer(data, offset)
    val num = lx.readNumber().toInt
    val gen = lx.readNumber().toInt
    lx.expectKeyword("obj")
    var v = lx.parseValue()
    // re-slice streams whose /Length was an indirect reference
    v = v match {
      case PStream(d, raw) =>
        d.get("Length") match {
          case Some(r: PRef) =>
            resolve(r) match {
              case PNum(len) if len.toInt != raw.length && len.toInt >= 0 =>
                // payload started right after 'stream' EOL; recompute
                val si = lx.indexOf("stream", offset)
                var s = si + "stream".length
                if (s < data.length && (data(s) & 0xff) == '\r') s += 1
                if (s < data.length && (data(s) & 0xff) == '\n') s += 1
                PStream(d, java.util.Arrays.copyOfRange(data, s, s + len.toInt))
              case _ => v
            }
          case _ => v
        }
      case other => other
    }
    (num, gen, v)
  }

  /** Fetch object `num`, following the xref (offset or object
    * stream). Unknown objects resolve to PNull, as the spec directs.
    * Directly-stored objects of an encrypted file are decrypted here;
    * objects INSIDE object streams are not individually encrypted
    * (§7.5.7 — the containing ObjStm payload was).
    */
  def fetch(num: Int): PdfObj = cache.getOrElseUpdate(num, {
    xref.get(num) match {
      case Some(XrefOffset(off)) =>
        val (_, gen, v) = parseIndirectAt(off.toInt)
        decryptObj(num, gen, v)
      case Some(XrefInStream(stmNum, idx)) => fetchFromObjStm(stmNum, idx)
      case None => PNull
    }
  })

  /** Decoded object streams by stream number: payload, `/First` and
    * the `/N` object offsets, parsed once per document, so a page-tree
    * walk over an ObjStm file stays linear instead of inflating the
    * whole stream again for every object it fetches.
    */
  private val objStms = mutable.Map.empty[Int, (Array[Byte], Int, Array[Int])]

  private def fetchFromObjStm(stmNum: Int, idx: Int): PdfObj = {
    val (payload, first, offsets) = objStms.getOrElseUpdate(stmNum, {
      val stm = fetch(stmNum) match {
        case s: PStream => s
        case other => throw new PdfParseException(s"object stream $stmNum is $other")
      }
      val n = resolve(stm.dict.get("N").getOrElse(PNull)) match {
        case PNum(v) => v.toInt
        case _ => throw new PdfParseException("ObjStm missing /N")
      }
      val first = resolve(stm.dict.get("First").getOrElse(PNull)) match {
        case PNum(v) => v.toInt
        case _ => throw new PdfParseException("ObjStm missing /First")
      }
      val payload = decodeStream(stm)
      // a header pair takes at least 4 bytes ("0 0 "), so a larger /N
      // is a lie; reject it before sizing the offset array by it
      if (n < 0 || n > payload.length / 4)
        throw new PdfParseException(s"ObjStm $stmNum /N $n exceeds its ${payload.length}-byte payload")
      val lx = new PdfLexer(payload)
      // header pairs are (object number, offset relative to /First)
      val offsets = Array.fill(n) { lx.readNumber(); lx.readNumber().toInt }
      (payload, first, offsets)
    })
    if (idx >= offsets.length)
      throw new PdfParseException(s"ObjStm $stmNum has no index $idx")
    new PdfLexer(payload, first + offsets(idx)).parseValue()
  }

  /** Follow references (and cache) until a direct object. Hop-limited
    * so a self-referential or cyclic indirect chain in a corrupt file
    * fails the parse instead of livelocking the task.
    */
  def resolve(obj: PdfObj): PdfObj = {
    var cur = obj
    var hops = 0
    while (cur.isInstanceOf[PRef]) {
      if (hops > 64) throw new PdfParseException("indirect reference cycle")
      cur = fetch(cur.asInstanceOf[PRef].num)
      hops += 1
    }
    cur
  }

  def resolveDict(obj: PdfObj): Option[PDict] = resolve(obj) match {
    case d: PDict => Some(d)
    case PStream(d, _) => Some(d)
    case _ => None
  }

  // ------------------------------------------------------------------
  // Stream decoding
  // ------------------------------------------------------------------

  def decodeStream(ps: PStream): Array[Byte] = {
    val filters: Seq[String] = resolve(ps.dict.get("Filter").getOrElse(PNull)) match {
      case PName(n) => Seq(n)
      case PArr(items) => items.map { case PName(n) => n; case _ => "" }
      case _ => Nil
    }
    val parms: Seq[Option[PDict]] = resolve(ps.dict.get("DecodeParms").getOrElse(PNull)) match {
      case d: PDict => Seq(Some(d))
      case PArr(items) => items.map(i => resolveDict(i))
      case _ => Seq.fill(filters.length)(None)
    }
    filters.zipWithIndex.foldLeft(ps.raw) { case (bytes, (f, i)) =>
      val parm = parms.lift(i).flatten
      f match {
        case "FlateDecode" | "Fl" =>
          applyPredictor(inflate(bytes), parm)
        case "ASCIIHexDecode" | "AHx" => PdfFilters.asciiHexDecode(bytes)
        case "ASCII85Decode" | "A85" => PdfFilters.ascii85Decode(bytes)
        case "LZWDecode" | "LZW" =>
          val early = parm.flatMap(_.get("EarlyChange")).map(resolve) match {
            case Some(PNum(v)) => v.toInt
            case _ => 1
          }
          applyPredictor(PdfFilters.lzwDecode(bytes, early), parm)
        case "" => bytes
        case other =>
          throw new PdfParseException(s"unsupported filter $other")
      }
    }
  }

  private def inflate(bytes: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(bytes)
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 4))
    val buf = new Array[Byte](8192)
    try {
      // loop until the zlib stream reports FINISHED; running out of
      // input first means the payload was truncated — that must fail
      // the parse, never return silently shortened bytes
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (!inf.finished()) {
          if (inf.needsDictionary()) throw new PdfParseException("flate needs dictionary")
          else throw new PdfParseException("truncated flate stream")
        }
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new PdfParseException(s"corrupt flate stream: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }

  /** PNG row predictors (Predictor >= 10), as used by xref streams. */
  private def applyPredictor(bytes: Array[Byte], parms: Option[PDict]): Array[Byte] = {
    val predictor = parms.flatMap(_.get("Predictor")).map(resolve) match {
      case Some(PNum(v)) => v.toInt
      case _ => 1
    }
    if (predictor < 10) return bytes // none / TIFF(2) unused here
    val columns = parms.flatMap(_.get("Columns")).map(resolve) match {
      case Some(PNum(v)) => v.toInt
      case _ => 1
    }
    val colors = parms.flatMap(_.get("Colors")).map(resolve) match {
      case Some(PNum(v)) => v.toInt
      case _ => 1
    }
    val bpc = parms.flatMap(_.get("BitsPerComponent")).map(resolve) match {
      case Some(PNum(v)) => v.toInt
      case _ => 8
    }
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = columns * bpp
    val rows = bytes.length / (rowLen + 1)
    val out = new Array[Byte](rows * rowLen)
    val prev = new Array[Byte](rowLen)
    var r = 0
    while (r < rows) {
      val ft = bytes(r * (rowLen + 1)) & 0xff
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val raw = bytes(src + i) & 0xff
        val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val up = prev(i) & 0xff
        val upLeft = if (i >= bpp) prev(i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + ((left + up) / 2)
          case 4 =>
            val p = left + up - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - upLeft)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
          case other => throw new PdfParseException(s"bad PNG filter $other")
        }
        out(dst + i) = (v & 0xff).toByte
        i += 1
      }
      System.arraycopy(out, dst, prev, 0, rowLen)
      r += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // Page tree
  // ------------------------------------------------------------------

  /** Page dicts in depth-first /Kids order (document page order).
    * Cycle-guarded: revisited kid references and over-deep trees fail
    * the parse instead of overflowing the stack on a corrupt file.
    */
  def pages: Seq[PDict] = pagesWithResources.map(_._1)

  /** Pages paired with their EFFECTIVE `/Resources`: an inheritable
    * attribute (ISO 32000 §7.7.3.4) — a page without its own takes
    * the nearest ancestor's, which is where font dicts commonly live.
    */
  def pagesWithResources: Seq[(PDict, Option[PDict])] = {
    val root = resolveDict(trailerDict.getOrElse("Root", PNull))
      .getOrElse(throw new PdfParseException("no /Root catalog"))
    val top = root.get("Pages")
      .getOrElse(throw new PdfParseException("no /Pages tree"))
    val out = Vector.newBuilder[(PDict, Option[PDict])]
    val seen = mutable.Set.empty[Int]
    def walk(nodeObj: PdfObj, inherited: Option[PDict], depth: Int): Unit = {
      if (depth > 64) throw new PdfParseException("page tree too deep")
      nodeObj match {
        case PRef(num, _) if !seen.add(num) =>
          throw new PdfParseException("page tree cycle")
        case _ => ()
      }
      resolveDict(nodeObj).foreach { node =>
        val res = node.get("Resources").flatMap(resolveDict).orElse(inherited)
        resolve(node.get("Type").getOrElse(PNull)) match {
          case PName("Page") => out += ((node, res))
          case _ => // Pages (or untyped intermediate): recurse kids
            resolve(node.get("Kids").getOrElse(PNull)) match {
              case PArr(kids) => kids.foreach(k => walk(k, res, depth + 1))
              case _ => ()
            }
        }
      }
    }
    walk(top, None, 0)
    out.result()
  }

  /** Decoded, concatenated content-stream bytes of a page. */
  def pageContent(page: PDict): Array[Byte] =
    resolve(page.get("Contents").getOrElse(PNull)) match {
      case s: PStream => decodeStream(s)
      case PArr(items) =>
        val parts = items.map(resolve).collect { case s: PStream => decodeStream(s) }
        if (parts.isEmpty) Array.emptyByteArray
        else parts.reduce { (a, b) =>
          // streams are logically separated by whitespace
          val joined = new Array[Byte](a.length + 1 + b.length)
          System.arraycopy(a, 0, joined, 0, a.length)
          joined(a.length) = '\n'
          System.arraycopy(b, 0, joined, a.length + 1, b.length)
          joined
        }
      case _ => Array.emptyByteArray
    }
}
