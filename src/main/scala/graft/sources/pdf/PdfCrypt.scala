package graft.sources.pdf

import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** ISO 32000-1 §7.6 standard security handler — the empty-user-password
  * subset that covers how "protected" PDFs ship in the wild: the file is
  * encrypted, but any reader can open it because the user password is
  * empty. pypdf — the reference's extractor (`/root/reference/
  * pdf_reader.py:442-443`, `requirements.txt:33`) — decrypts these
  * transparently; without this module such files parse their xref and
  * then silently contribute zero pages.
  *
  * Supported: /Filter /Standard with
  *   - V 1/2, R 2/3 — RC4, 40..128-bit file key (§7.6.2 Algorithm 2)
  *   - V 4, R 4 — crypt filters /V2 (RC4) and /AESV2 (AES-128-CBC,
  *     16-byte IV prefix, PKCS#7 padding), /Identity passthrough
  *   - V 5, R 5/6 — AES-256 (/AESV3): ISO 32000-2 §7.6.4 SHA-2 key
  *     derivation (R6 = Algorithm 2.B hardened hash; R5 = the
  *     deprecated single-SHA-256 ExtensionLevel 3 scheme), /U + /UE
  *     validation/unwrap for the empty USER password with an
  *     empty-OWNER-password fallback via /O + /OE, and /Perms
  *     verification (AES-ECB, "adb" tag) as a wrong-key tripwire
  * Out of scope (fails loudly, never garbles): non-empty
  * passwords (the validation hashes reject), and per-stream /Crypt
  * filter overrides.
  */
final class PdfCrypt private (
    fileKey: Array[Byte],
    stmCfm: String,
    strCfm: String) {

  // One MD5 and one AES-CBC cipher per document: a provider lookup
  // costs more than hashing a key or decrypting a short string.
  private lazy val md5 = MessageDigest.getInstance("MD5")
  private lazy val aesCbc = Cipher.getInstance("AES/CBC/NoPadding")

  /** Decrypt a stream payload owned by object `num gen`. */
  def decryptStream(num: Int, gen: Int, bytes: Array[Byte]): Array[Byte] =
    decrypt(stmCfm, num, gen, bytes)

  /** Decrypt a string owned by object `num gen`. */
  def decryptString(num: Int, gen: Int, bytes: Array[Byte]): Array[Byte] =
    decrypt(strCfm, num, gen, bytes)

  private def decrypt(cfm: String, num: Int, gen: Int, bytes: Array[Byte]): Array[Byte] =
    cfm match {
      case "Identity" => bytes
      case "V2" => PdfCrypt.rc4(objectKey(num, gen, aes = false), bytes)
      case "AESV2" => aesCbcDecrypt(objectKey(num, gen, aes = true), bytes)
      // AES-256 (V5): the FILE key is used directly — §7.6.4 drops the
      // per-object MD5 key derivation of Algorithm 1 entirely.
      case "AESV3" => aesCbcDecrypt(fileKey, bytes)
      case other => throw new PdfParseException(s"unsupported crypt filter method /$other")
    }

  /** §7.6.2 Algorithm 1: per-object key = MD5(fileKey + objnum[3 LE] +
    * gen[2 LE] (+ "sAlT" for AES)), truncated to min(len+5, 16).
    */
  private def objectKey(num: Int, gen: Int, aes: Boolean): Array[Byte] = {
    md5.update(fileKey)
    md5.update(Array[Byte](
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte))
    if (aes) md5.update(PdfCrypt.AesSalt)
    md5.digest().take(math.min(fileKey.length + 5, 16))
  }

  private def aesCbcDecrypt(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    if (data.isEmpty) return data
    if (data.length < 32 || data.length % 16 != 0)
      throw new PdfParseException(s"bad AES payload length ${data.length}")
    aesCbc.init(Cipher.DECRYPT_MODE,
      new SecretKeySpec(key, "AES"),
      new IvParameterSpec(data, 0, 16))
    val plain = aesCbc.doFinal(data, 16, data.length - 16)
    // strip PKCS#7 padding; a bad pad byte means the key was wrong —
    // fail the parse rather than return garbage text
    val pad = plain(plain.length - 1) & 0xff
    if (pad < 1 || pad > 16 || pad > plain.length)
      throw new PdfParseException("bad AES padding (wrong key?)")
    java.util.Arrays.copyOfRange(plain, 0, plain.length - pad)
  }
}

object PdfCrypt {

  /** The 32-byte password pad of §7.6.3.3 (public spec constant). */
  val Pad: Array[Byte] = Array(
    0x28, 0xbf, 0x4e, 0x5e, 0x4e, 0x75, 0x8a, 0x41, 0x64, 0x00, 0x4e, 0x56,
    0xff, 0xfa, 0x01, 0x08, 0x2e, 0x2e, 0x00, 0xb6, 0xd0, 0x68, 0x3e, 0x80,
    0x2f, 0x0c, 0xa9, 0xfe, 0x64, 0x53, 0x69, 0x7a).map(_.toByte)

  /** AES per-object key salt "sAlT" (§7.6.2 Algorithm 1 step b). */
  val AesSalt: Array[Byte] = Array(0x73, 0x41, 0x6c, 0x54).map(_.toByte)

  /** Build the handler for a document's /Encrypt dict + first /ID
    * string, verifying the EMPTY user password. Throws
    * [[PdfParseException]] for unsupported revisions or a non-empty
    * user password — loud, never a silent zero-page parse.
    */
  def forDocument(
      enc: PDict,
      resolve: PdfObj => PdfObj,
      id0: Array[Byte]): PdfCrypt = {

    def num(key: String, default: => Int): Int = resolve(enc.get(key).getOrElse(PNull)) match {
      case PNum(v) => v.toInt
      case _ => default
    }
    def str(key: String): Array[Byte] = resolve(enc.get(key).getOrElse(PNull)) match {
      case PStr(b) => b
      case other => throw new PdfParseException(s"/Encrypt /$key missing or not a string: $other")
    }

    resolve(enc.get("Filter").getOrElse(PNull)) match {
      case PName("Standard") => ()
      case other => throw new PdfParseException(s"unsupported security handler $other")
    }
    val v = num("V", 0)
    val r = num("R", 2)
    if (!(v >= 1 && v <= 4 && r >= 2 && r <= 4) && !(v == 5 && (r == 5 || r == 6)))
      throw new PdfParseException(s"unsupported encryption V=$v R=$r")

    // V4/V5 crypt filters: resolve /StmF and /StrF through /CF to a CFM
    // name; V1/V2 are implicit whole-file RC4.
    def cfmFor(which: String): String =
      if (v < 4) "V2"
      else resolve(enc.get(which).getOrElse(PName("Identity"))) match {
        case PName("Identity") => "Identity" // spec default when absent
        case PName(cfName) =>
          val cf = resolve(enc.get("CF").getOrElse(PNull)) match {
            case d: PDict => d
            case _ => throw new PdfParseException("/Encrypt V4+ missing /CF")
          }
          resolve(cf.get(cfName).getOrElse(PNull)) match {
            case d: PDict => resolve(d.get("CFM").getOrElse(PNull)) match {
              case PName(m) => m
              case _ => throw new PdfParseException(s"crypt filter $cfName missing /CFM")
            }
            case _ => throw new PdfParseException(s"unknown crypt filter $cfName")
          }
        case other => throw new PdfParseException(s"bad $which: $other")
      }

    if (v == 5)
      return forAes256(enc, r, num("P", -1), str, cfmFor)

    val o = str("O")
    val p = num("P", -1)
    val keyLenBytes = if (v == 1) 5 else math.max(5, math.min(16, num("Length", 40) / 8))
    val encryptMetadata = resolve(enc.get("EncryptMetadata").getOrElse(PNull)) match {
      case PBool(b) => b
      case _ => true
    }

    val fileKey = deriveFileKey(Pad, o, p, id0, r, keyLenBytes, encryptMetadata)

    // Algorithm 6: verify the empty USER password against /U.
    val expectedU = computeU(fileKey, id0, r)
    val actualU = str("U")
    val cmpLen = if (r >= 3) 16 else 32
    if (!java.util.Arrays.equals(
        expectedU.take(cmpLen), actualU.take(cmpLen)))
      throw new PdfParseException(
        "encrypted PDF requires a non-empty user password (unsupported)")

    new PdfCrypt(fileKey, cfmFor("StmF"), cfmFor("StrF"))
  }

  /** ISO 32000-2 §7.6.4 (AES-256, V5 R5/R6): validate the EMPTY user
    * password against /U and unwrap the 32-byte file key from /UE; if
    * the user slot was set, fall back to an empty OWNER password via
    * /O + /OE (udata = the full 48-byte /U). /Perms, when present, is
    * decrypted with the unwrapped key as a wrong-key tripwire ("adb"
    * tag + /P echo). pypdf (the reference's extractor,
    * `/root/reference/pdf_reader.py:442-443`) opens the same shapes.
    */
  private def forAes256(
      enc: PDict,
      r: Int,
      p: Int,
      str: String => Array[Byte],
      cfmFor: String => String): PdfCrypt = {
    val u = str("U")
    val o = str("O")
    if (u.length < 48 || o.length < 48)
      throw new PdfParseException(s"AES-256 /U and /O must be 48 bytes (got ${u.length}/${o.length})")
    val empty = Array.emptyByteArray
    val noUdata = Array.emptyByteArray

    // Algorithm 2.A steps (b)-(d): hash(pwd, validation-salt, udata)
    // must equal the first 32 bytes of the entry; then the key salt
    // yields the intermediate key that AES-unwraps /UE (resp. /OE).
    // IV is 16 zero bytes and padding is absent by construction.
    def unwrap(entry: Array[Byte], wrapped: Array[Byte], udata: Array[Byte]): Option[Array[Byte]] = {
      val vSalt = java.util.Arrays.copyOfRange(entry, 32, 40)
      val kSalt = java.util.Arrays.copyOfRange(entry, 40, 48)
      if (!java.util.Arrays.equals(hash2B(empty, vSalt, udata, r), entry.take(32))) None
      else {
        val ik = hash2B(empty, kSalt, udata, r)
        val c = Cipher.getInstance("AES/CBC/NoPadding")
        c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(ik, "AES"),
          new IvParameterSpec(new Array[Byte](16)))
        Some(c.doFinal(wrapped))
      }
    }

    val fileKey =
      unwrap(u, str("UE"), noUdata)
        .orElse(unwrap(o, str("OE"), u.take(48)))
        .getOrElse(throw new PdfParseException(
          "encrypted PDF requires a non-empty password (unsupported)"))
    if (fileKey.length != 32)
      throw new PdfParseException(s"AES-256 file key must be 32 bytes, got ${fileKey.length}")

    // §7.6.4.4.9 Algorithm 13: /Perms decrypts (AES-ECB, file key) to
    // P[4 LE] + 0xFFFFFFFF + T/F + "adb" + 4 arbitrary bytes. A bad
    // "adb" tag means the unwrapped key is wrong — fail the parse.
    enc.get("Perms").foreach { _ =>
      val perms = str("Perms")
      if (perms.length >= 16) {
        val c = Cipher.getInstance("AES/ECB/NoPadding")
        c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(fileKey, "AES"))
        val plain = c.doFinal(perms, 0, 16)
        if (!(plain(9) == 'a' && plain(10) == 'd' && plain(11) == 'b'))
          throw new PdfParseException("/Perms tag mismatch (wrong AES-256 key?)")
        val pOk = (0 until 4).forall(i => plain(i) == ((p >> (8 * i)) & 0xff).toByte)
        if (!pOk)
          throw new PdfParseException("/Perms permissions disagree with /P")
      }
    }

    new PdfCrypt(fileKey, cfmFor("StmF"), cfmFor("StrF"))
  }

  /** §7.6.4.3.4 Algorithm 2.B (R6) hardened hash — and its R5
    * predecessor, a single SHA-256 (the deprecated Adobe
    * ExtensionLevel 3 scheme pypdf also accepts). `udata` is the
    * 48-byte /U entry when hashing an owner password, empty for user.
    */
  def hash2B(password: Array[Byte], salt: Array[Byte], udata: Array[Byte], r: Int): Array[Byte] = {
    val sha256 = MessageDigest.getInstance("SHA-256")
    sha256.update(password); sha256.update(salt); sha256.update(udata)
    var k = sha256.digest()
    if (r == 5) return k
    val sha2 = Array(sha256,
      MessageDigest.getInstance("SHA-384"), MessageDigest.getInstance("SHA-512"))
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    var round = 0
    var lastByte = 0
    do {
      round += 1
      // K1 = (password ‖ K ‖ udata) × 64, AES-128-CBC-encrypted with
      // key = K[0,16) and IV = K[16,32); always a multiple of 16 bytes.
      val unit = new Array[Byte](password.length + k.length + udata.length)
      System.arraycopy(password, 0, unit, 0, password.length)
      System.arraycopy(k, 0, unit, password.length, k.length)
      System.arraycopy(udata, 0, unit, password.length + k.length, udata.length)
      val k1 = new Array[Byte](unit.length * 64)
      var i = 0
      while (i < 64) { System.arraycopy(unit, 0, k1, i * unit.length, unit.length); i += 1 }
      c.init(Cipher.ENCRYPT_MODE,
        new SecretKeySpec(k, 0, 16, "AES"),
        new IvParameterSpec(k, 16, 16))
      val e = c.doFinal(k1)
      var sum = 0
      i = 0
      while (i < 16) { sum += e(i) & 0xff; i += 1 }
      // sum % 3 picks SHA-256, SHA-384 or SHA-512
      k = sha2(sum % 3).digest(e)
      lastByte = e(e.length - 1) & 0xff
    } while (round < 64 || lastByte > round - 32)
    k.take(32)
  }

  /** §7.6.3.3 Algorithm 2: derive the file encryption key from the
    * (padded) user password, /O, /P, and the first document ID.
    */
  def deriveFileKey(
      paddedUser: Array[Byte],
      o: Array[Byte],
      p: Int,
      id0: Array[Byte],
      r: Int,
      keyLenBytes: Int,
      encryptMetadata: Boolean): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    md.update(paddedUser)
    md.update(o, 0, math.min(32, o.length))
    md.update(Array[Byte](
      (p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte))
    md.update(id0)
    if (r >= 4 && !encryptMetadata)
      md.update(Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte))
    var hash = md.digest()
    if (r >= 3) {
      var i = 0
      while (i < 50) {
        md.update(hash, 0, keyLenBytes)
        hash = md.digest()
        i += 1
      }
    }
    hash.take(keyLenBytes)
  }

  /** §7.6.3.4 Algorithms 4 (R2) / 5 (R3+): the /U entry for the empty
    * user password. R3+ returns the 16 significant bytes.
    */
  def computeU(fileKey: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(fileKey, Pad)
    else {
      val md = MessageDigest.getInstance("MD5")
      md.update(Pad)
      md.update(id0)
      var out = rc4(fileKey, md.digest())
      var i = 1
      while (i <= 19) {
        val k = fileKey.map(b => (b ^ i).toByte)
        out = rc4(k, out)
        i += 1
      }
      out
    }

  /** RC4 (public algorithm; KSA + PRGA). Symmetric: also used by the
    * test fixtures' independent encryptor twin.
    */
  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = new Array[Int](256)
    var i = 0
    while (i < 256) { s(i) = i; i += 1 }
    var j = 0
    i = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    i = 0; j = 0
    var n = 0
    while (n < data.length) {
      i = (i + 1) & 0xff
      j = (j + s(i)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      out(n) = (data(n) ^ s((s(i) + s(j)) & 0xff)).toByte
      n += 1
    }
    out
  }
}
