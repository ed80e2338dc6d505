package graft.sources.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Recursive-descent reader over PDF COS syntax. One instance walks
  * one byte array; `pos` is mutable and can be saved/restored for the
  * `num num R` lookahead. No regexes, no charset assumptions — the
  * format is byte-oriented.
  */
final class PdfLexer(val data: Array[Byte], var pos: Int = 0) {

  def length: Int = data.length
  def atEnd: Boolean = pos >= data.length
  private def byte(i: Int): Int = data(i) & 0xff

  @inline private def isWhite(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  @inline private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'
  @inline def isRegular(c: Int): Boolean = !isWhite(c) && !isDelim(c)
  @inline private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'

  /** Skip whitespace and %-comments. */
  def skipWs(): Unit = {
    var go = true
    while (go && pos < data.length) {
      val c = byte(pos)
      if (isWhite(c)) pos += 1
      else if (c == '%') {
        while (pos < data.length && byte(pos) != '\n' && byte(pos) != '\r') pos += 1
      } else go = false
    }
  }

  def peek: Int = if (pos < data.length) byte(pos) else -1

  /** Read a run of regular characters (keyword / number / operator). */
  def readToken(): String = {
    skipWs()
    val start = pos
    while (pos < data.length && isRegular(byte(pos))) pos += 1
    new String(data, start, pos - start, ISO_8859_1)
  }

  /** True and consumed if the next token is exactly `kw`. */
  def tryKeyword(kw: String): Boolean = {
    skipWs()
    val save = pos
    val t = readToken()
    if (t == kw) true else { pos = save; false }
  }

  def expectKeyword(kw: String): Unit =
    if (!tryKeyword(kw))
      throw new PdfParseException(s"expected '$kw' at byte $pos")

  /** Parse any COS value. `allowRefs` is false inside content streams
    * (where `num num R` cannot occur and numbers are operands).
    */
  def parseValue(allowRefs: Boolean = true): PdfObj = {
    skipWs()
    if (atEnd) throw new PdfParseException("unexpected end of data")
    byte(pos) match {
      case '/' => parseName()
      case '(' => parseLiteralString()
      case '[' => parseArray(allowRefs)
      case '<' =>
        if (pos + 1 < data.length && byte(pos + 1) == '<') parseDictOrStream(allowRefs)
        else parseHexString()
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        parseNumberOrRef(allowRefs)
      case _ =>
        val t = readToken()
        t match {
          case "true" => PBool(true)
          case "false" => PBool(false)
          case "null" => PNull
          case other => throw new PdfParseException(s"unexpected token '$other' at $pos")
        }
    }
  }

  /** `/Name`. `#` followed by exactly two hex digits is an escaped
    * byte (ISO 32000-1 §7.3.5); any other `#` is kept as itself.
    */
  def parseName(): PName = {
    pos += 1 // '/'
    val start = pos
    var plain = true
    while (pos < data.length && isRegular(byte(pos))) {
      if (byte(pos) == '#') plain = false
      pos += 1
    }
    if (plain) return PName(new String(data, start, pos - start, ISO_8859_1))
    val sb = new java.lang.StringBuilder(pos - start)
    var i = start
    while (i < pos) {
      val c = byte(i)
      val hi = if (c == '#' && i + 2 < pos) PdfLexer.HexValue(byte(i + 1)) else -1
      val lo = if (hi >= 0) PdfLexer.HexValue(byte(i + 2)) else -1
      if (lo >= 0) { sb.append(((hi << 4) | lo).toChar); i += 3 }
      else { sb.append(c.toChar); i += 1 }
    }
    PName(sb.toString)
  }

  /** Decoded bytes of the string being parsed: one buffer per lexer,
    * grown by doubling, so a string costs one exact-size copy out.
    */
  private var strBuf = Array.emptyByteArray
  private var strLen = 0

  private def ensure(extra: Int): Unit =
    if (strLen + extra > strBuf.length)
      strBuf = java.util.Arrays.copyOf(strBuf,
        math.max(math.max(64, strBuf.length * 2), strLen + extra))

  @inline private def put(b: Int): Unit = {
    ensure(1)
    strBuf(strLen) = b.toByte
    strLen += 1
  }

  private def takeStr(): PStr = PStr(java.util.Arrays.copyOf(strBuf, strLen))

  /** `(...)` with nesting, escapes, octal codes, line continuations.
    * Runs holding no `(`, `)` or `\` are copied in bulk.
    */
  def parseLiteralString(): PStr = {
    pos += 1 // '('
    strLen = 0
    var depth = 1
    while (depth > 0) {
      val start = pos
      while (pos < data.length &&
          { val b = data(pos); b != '(' && b != ')' && b != '\\' }) pos += 1
      if (pos > start) {
        ensure(pos - start)
        System.arraycopy(data, start, strBuf, strLen, pos - start)
        strLen += pos - start
      }
      if (atEnd) throw new PdfParseException("unterminated string")
      val c = byte(pos); pos += 1
      c match {
        case '(' => depth += 1; put('(')
        case ')' =>
          depth -= 1
          if (depth > 0) put(')')
        case _ => // a backslash
          if (atEnd) throw new PdfParseException("dangling escape")
          val e = byte(pos); pos += 1
          e match {
            case 'n' => put('\n')
            case 'r' => put('\r')
            case 't' => put('\t')
            case 'b' => put('\b')
            case 'f' => put('\f')
            case '\r' => if (peek == '\n') pos += 1 // line continuation
            case '\n' => // line continuation
            case d if d >= '0' && d <= '7' =>
              var v = d - '0'
              var k = 0
              while (k < 2 && pos < data.length &&
                  byte(pos) >= '0' && byte(pos) <= '7') {
                v = v * 8 + (byte(pos) - '0'); pos += 1; k += 1
              }
              put(v)
            case other => put(other) // `(`, `)`, `\\`; spec: drop backslash
          }
      }
    }
    takeStr()
  }

  def parseHexString(): PStr = {
    pos += 1 // '<'
    strLen = 0
    var hi = -1
    var go = true
    while (go) {
      if (atEnd) throw new PdfParseException("unterminated hex string")
      val c = byte(pos); pos += 1
      val v = PdfLexer.HexValue(c)
      if (v >= 0) {
        if (hi < 0) hi = v else { put((hi << 4) | v); hi = -1 }
      } else if (c == '>') {
        if (hi >= 0) put(hi << 4) // odd count: pad 0
        go = false
      } else if (v == PdfLexer.NotHex)
        throw new PdfParseException(s"bad hex digit '${c.toChar}'")
    }
    takeStr()
  }

  def parseArray(allowRefs: Boolean): PArr = {
    pos += 1 // '['
    val items = Vector.newBuilder[PdfObj]
    skipWs()
    while (peek != ']') {
      items += parseValue(allowRefs)
      skipWs()
      if (atEnd) throw new PdfParseException("unterminated array")
    }
    pos += 1 // ']'
    PArr(items.result())
  }

  /** `<<...>>`, optionally followed by `stream...endstream`. The raw
    * stream payload is sliced by /Length when it is a direct number;
    * a missing/indirect /Length falls back to scanning for the
    * `endstream` keyword (resolved lengths are re-sliced by the
    * document if needed).
    */
  def parseDictOrStream(allowRefs: Boolean): PdfObj = {
    pos += 2 // '<<'
    val entries = Map.newBuilder[String, PdfObj]
    skipWs()
    while (!(peek == '>' && pos + 1 < data.length && byte(pos + 1) == '>')) {
      val key = parseValue(allowRefs) match {
        case PName(n) => n
        case other => throw new PdfParseException(s"dict key must be a name, got $other")
      }
      entries += key -> parseValue(allowRefs)
      skipWs()
      if (atEnd) throw new PdfParseException("unterminated dict")
    }
    pos += 2 // '>>'
    val dict = PDict(entries.result())
    val save = pos
    if (tryKeyword("stream")) {
      // EOL after 'stream': CRLF or LF
      if (peek == '\r') pos += 1
      if (peek == '\n') pos += 1
      val start = pos
      dict.get("Length") match {
        case Some(PNum(len)) =>
          pos = start + len.toInt
          skipWs()
          expectKeyword("endstream")
          PStream(dict, java.util.Arrays.copyOfRange(data, start, start + len.toInt))
        case _ =>
          // indirect or absent Length: locate 'endstream' by scan
          val idx = indexOf("endstream", start)
          if (idx < 0) throw new PdfParseException("endstream not found")
          var end = idx
          // strip one trailing EOL belonging to the payload
          if (end > start && byte(end - 1) == '\n') end -= 1
          if (end > start && byte(end - 1) == '\r') end -= 1
          pos = idx
          expectKeyword("endstream")
          PStream(dict, java.util.Arrays.copyOfRange(data, start, end))
      }
    } else { pos = save; dict }
  }

  private def parseNumberOrRef(allowRefs: Boolean): PdfObj = {
    val first = readNumber()
    if (allowRefs && first.value >= 0 && first.value == math.floor(first.value)) {
      val save = pos
      skipWs()
      if (peek >= '0' && peek <= '9') {
        // `gen R`: a token of digits only, then the token R
        val genStart = pos
        while (pos < data.length && isRegular(byte(pos))) pos += 1
        val genEnd = pos
        skipWs()
        if (peek == 'R' && (pos + 1 == data.length || !isRegular(byte(pos + 1))) &&
            isDigits(genStart, genEnd)) {
          pos += 1
          return PRef(first.toInt, digitsToInt(genStart, genEnd))
        }
      }
      pos = save
    }
    first
  }

  private def isDigits(from: Int, until: Int): Boolean = {
    var i = from
    while (i < until && isDigit(byte(i))) i += 1
    i == until
  }

  /** `String.toInt` of a digit run, without the String when it cannot
    * overflow.
    */
  private def digitsToInt(from: Int, until: Int): Int =
    if (until - from > 9) new String(data, from, until - from, ISO_8859_1).toInt
    else {
      var v = 0
      var i = from
      while (i < until) { v = v * 10 + (byte(i) - '0'); i += 1 }
      v
    }

  /** A number token. An integer of up to 18 digits (every integer in
    * practice) is read without a String; its double is exactly what
    * `String.toDouble` gives, `-0` included.
    */
  def readNumber(): PNum = {
    skipWs()
    val start = pos
    val neg = peek == '-'
    if (peek == '+' || peek == '-') pos += 1
    val digits = pos
    var v = 0L
    while (pos < data.length && pos - digits < 18 && isDigit(byte(pos))) {
      v = v * 10 + (byte(pos) - '0'); pos += 1
    }
    val more = pos < data.length && (isDigit(byte(pos)) || byte(pos) == '.')
    if (pos > digits && !more) return PNum(if (neg) -v.toDouble else v.toDouble)
    while (pos < data.length && (isDigit(byte(pos)) || byte(pos) == '.')) pos += 1
    if (pos == start) throw new PdfParseException(s"expected number at $start")
    PNum(new String(data, start, pos - start, ISO_8859_1).toDouble)
  }

  /** Byte-wise keyword search from `from`. */
  def indexOf(needle: String, from: Int): Int = {
    val n = needle.getBytes(ISO_8859_1)
    var i = math.max(0, from)
    val limit = data.length - n.length
    while (i <= limit) {
      var j = 0
      while (j < n.length && data(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  def lastIndexOf(needle: String): Int = {
    val n = needle.getBytes(ISO_8859_1)
    var i = data.length - n.length
    while (i >= 0) {
      var j = 0
      while (j < n.length && data(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i -= 1
    }
    -1
  }
}

final class PdfParseException(msg: String) extends RuntimeException(msg)

object PdfLexer {

  /** Marks a byte that is neither a hex digit nor PDF whitespace. */
  private[pdf] final val NotHex: Byte = -2

  /** Per byte: its hex digit value, -1 for PDF whitespace, else
    * [[NotHex]].
    */
  private[pdf] val HexValue: Array[Byte] = Array.tabulate[Byte](256) { c =>
    if (c >= '0' && c <= '9') (c - '0').toByte
    else if (c >= 'a' && c <= 'f') (c - 'a' + 10).toByte
    else if (c >= 'A' && c <= 'F') (c - 'A' + 10).toByte
    else if (" \n\r\t\f\u0000".indexOf(c) >= 0) -1 // PDF whitespace
    else NotHex
  }
}
