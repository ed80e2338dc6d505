package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ArtifactStore, FileSources, Tables}
import graft.sources.pdf.{PdfFixtures, PdfTextExtractor}
import graft.split.SplitConfig

/** The end-to-end PDF-binary gate query (`pdf_chunk_stats`, round 9):
  * the mm_video synthesize-and-decode discipline applied to the
  * reference's PRIMARY source path — real `.pdf` FILES listed by
  * `binaryFile`, parsed/decrypted/decoded by [[PdfTextExtractor]],
  * chunked by the recursive splitter, aggregated to per-file stats
  * (`/root/reference/pdf_reader.py:442-443,543-615`). Every prior
  * `doc_*` oracle ran the parquet TEXT source; this one puts the
  * whole native codec chain under the hash gate.
  *
  * Synthesis: one deterministic PDF per `documents` row, the text
  * paginated at [[PageChars]] chars/page, cycling SIX writer shapes
  * by `doc_id % 6` — classic xref, FlateDecode, PDF 1.5 object
  * streams + predictor'd xref stream, RC4-128, AES-128-CBC (V4), and
  * AES-256 (V5/R6) — so a single green CORRECTNESS entry covers the
  * parser's xref walk, filters, ObjStm path, and all three
  * decryption families at once. The writer ([[PdfFixtures]]) shares
  * only public ISO 32000 spec constants with the parser.
  *
  * Oracle (closed form over `documents.text`, no golden data):
  *   - `pages  = ceil(length(text) / 200)` — the pagination law;
  *   - `chunks = pages` minus whitespace-only pages (a page under
  *     the 1200-char chunk size yields exactly one stripped chunk);
  *   - `text_size = Σ length(normalize(strip(page_text)))` — the
  *     splitter-then-P3-P6 chain, restated in SQL;
  *   - `text_md5 = md5(text)` — page texts are a PARTITION of the
  *     source text, so the in-order concatenation of extracted page
  *     texts must hash to the source hash: one value that proves the
  *     escape→compress/encrypt→parse→decrypt→decode loop bit-exact
  *     for every byte of every document.
  *
  * Scale shape: synthesis is a fingerprint-keyed durable artifact
  * (one write per corpus state, tasks write files in parallel via
  * the Hadoop FS — a shared URI on a real cluster); the read side is
  * one driver-planned file job whose tasks decode each file once and
  * fold it to its row (`ChunkPipeline.fileStatsOf`); nothing is
  * collected, and only the SUM TOTAL rollup shuffles.
  */
object PdfCorpus {

  /** Page size in chars — below the 1200-char chunk size so the
    * chunk count has a closed form, above typical line lengths so
    * multi-line content-stream shows are exercised. */
  val PageChars = 200

  /** Deterministic PDF bytes for one document. */
  private[graft] def synthesize(docId: Long, text: String): Array[Byte] = {
    val pages: Seq[String] =
      if (text.isEmpty) Seq("")
      else text.grouped(PageChars).toSeq
    (docId % 6) match {
      case 0 => PdfFixtures.classicPdf(pages)
      case 1 => PdfFixtures.classicPdf(pages, compress = true)
      case 2 => PdfFixtures.xrefStreamPdf(pages)
      case 3 => PdfFixtures.encryptedPdf(pages, PdfFixtures.EncRc4_128)
      case 4 => PdfFixtures.encryptedPdf(pages, PdfFixtures.EncAes128, compress = true)
      case _ => PdfFixtures.encryptedPdf(pages, PdfFixtures.EncAes256, compress = true)
    }
  }

  /** a→z mapped to 26 common URO ideographs for the CJK gate query
    * ([[pdfCjkStats]]). Every character here (verified by
    * `PdfCorpusSpec`'s round-trip case) encodes to exactly TWO bytes
    * and round-trips bit-exact through ALL FOUR legacy charsets the
    * query's writer variants use (GBK, Big5, windows-31j, EUC-KR) —
    * the property that lets one `translate()` make the driver's
    * ASCII corpus a real DBCS corpus with a closed-form DuckDB twin
    * (`translate` exists on both engines and both operate per
    * BMP char, so lengths, page boundaries, and md5 inputs agree).
    */
  val CjkAlphabet: String = // 一二三四五六七八九十百千天地人日月水火木金土山川田中
    ("一二三四五六七八九十" +
     "百千天地人日月水火木" +
     "金土山川田中")

  /** (predefined CMap name, JVM charset the writer encodes with) per
    * `doc_id % 5` — one family per CJK registry, mixing -H and -V
    * writing modes so the vertical variants are under the gate too.
    * Round 11 (VERDICT r10 ask #5) adds the half-width UHC family:
    * `KSCms-UHC-HW-H` was decodable (`PdfFonts.charsetFor` has carried
    * its own `KSCms-UHC-HW` entry since r10) but not under the hash
    * gate — its bytes are Windows code page 949, a superset of EUC-KR,
    * so the same 2-byte round-trip contract applies; the -HW- (half-
    * width Latin CID row) distinction changes glyph selection, not the
    * byte→character decoding this pipeline extracts. Round 12 (VERDICT
    * r11 ask #5) adds the VERTICAL half-width `KSCms-UHC-HW-V` as the
    * sixth variant: `charsetFor` strips the -V writing-mode suffix to
    * the same `KSCms-UHC-HW` entry, so the decode path was live but
    * not md5-gated until now; writing mode changes glyph orientation,
    * never the byte stream this pipeline extracts. Round 13 (VERDICT
    * r12 ask #7) adds `GBK2K-V` as the seventh variant: the Adobe-GB1
    * GB18030 family (`PdfFonts.charsetFor` has carried its `GBK2K`
    * entry since r9 but no gate exercised it) — GB18030's 2-byte
    * region is byte-identical to GBK over the URO ideographs the
    * alphabet uses, so the round-trip contract holds, while the
    * decoder tier now proves out a FIFTH distinct JVM charset.
    * Round 14 (VERDICT r13 ask #6) adds `EUC-H` as the eighth
    * variant: Adobe-Japan1's EUC-JP-flavor CMap (ISO 32000 Table 118;
    * `PdfFonts.charsetFor` has carried the `EUC` → EUC-JP entry since
    * r10 with no gate exercising it). The 26 alphabet ideographs are
    * all JIS X 0208 kanji, 2-byte round-trip-exact in EUC-JP
    * (spec-verified), and the variant puts a SIXTH distinct JVM
    * charset — and the second Adobe-Japan1 byte structure beside
    * Shift-JIS — under the md5 gate.
    * Round 15 (VERDICT r14 ask #6) adds `HKscs-B5-H` as the ninth
    * variant: Adobe-CNS1's Hong Kong Supplementary Character Set
    * CMap (ISO 32000 Table 118; `PdfFonts.charsetFor` has carried
    * the `HKscs-B5` → Big5-HKSCS entry since r9 with no gate
    * exercising it). Big5-HKSCS is a strict superset of Big5 over
    * the common URO region, so the 26 alphabet ideographs keep their
    * Big5 2-byte codes and the round-trip contract holds
    * (spec-verified by the alphabet round-trip test) — a SEVENTH
    * distinct JVM charset and the second Adobe-CNS1 byte structure
    * beside ETen-B5 under the md5 gate.
    * Round 15 second session adds `CNS-EUC-H` as the tenth variant:
    * Adobe-CNS1's CNS 11643 EUC-TW CMap (ISO 32000 Table 118;
    * `PdfFonts.charsetFor` has carried the `CNS-EUC` → x-EUC-TW
    * entry since r9 with no gate exercising it). EUC-TW is the one
    * variant family whose FULL code space is 4-byte-capable (plane 2+
    * rides an 0x8E-prefixed quad), but the 26 alphabet ideographs all
    * live in plane 1 at 2-byte codes (spec-verified round-trip), so
    * the identity contract holds while an EIGHTH distinct JVM charset
    * — and the third Adobe-CNS1 byte structure — joins the md5 gate.
    */
  private[graft] val CjkVariants: Vector[(String, String)] = Vector(
    ("GBK-EUC-H", "GBK"),          // Adobe-GB1, Simplified Chinese
    ("ETen-B5-V", "Big5"),         // Adobe-CNS1, Traditional Chinese, vertical
    ("90ms-RKSJ-H", "windows-31j"), // Adobe-Japan1, Shift-JIS flavor
    ("KSC-EUC-V", "EUC-KR"),       // Adobe-Korea1, vertical
    ("KSCms-UHC-HW-H", "x-windows-949"), // Adobe-Korea1, UHC half-width
    ("KSCms-UHC-HW-V", "x-windows-949"), // Adobe-Korea1, UHC half-width, vertical
    ("GBK2K-V", "GB18030"),        // Adobe-GB1, GB18030, vertical (r13)
    ("EUC-H", "EUC-JP"),           // Adobe-Japan1, EUC-JP flavor (r14)
    ("HKscs-B5-H", "Big5-HKSCS"),  // Adobe-CNS1, HKSCS (r15)
    ("CNS-EUC-H", "x-EUC-TW"))     // Adobe-CNS1, EUC-TW (r15 s2)

  /** The derived DBCS text: lowercase ASCII letters become
    * ideographs, everything else (digits, space, punctuation,
    * uppercase) stays ASCII — so the synthesized pages exercise BOTH
    * the CMaps' 1-byte ASCII row and the 2-byte DBCS ranges.
    */
  private[graft] def toCjk(text: String): String =
    text.map { c =>
      if (c >= 'a' && c <= 'z') CjkAlphabet(c - 'a') else c
    }

  /** Deterministic charset-CMap PDF bytes for one document. */
  private[graft] def synthesizeCjk(docId: Long, text: String): Array[Byte] = {
    val derived = toCjk(text)
    val pages: Seq[String] =
      if (derived.isEmpty) Seq("") else derived.grouped(PageChars).toSeq
    val (cmap, charset) = CjkVariants((docId % CjkVariants.length).toInt)
    PdfFixtures.cjkPdf(pages, cmap, charset)
  }

  /** Materialize a synthesized PDF corpus for `dir`'s documents table
    * under the artifact root, once per corpus state
    * ([[ArtifactStore.publish]], writing raw `.pdf` files from tasks
    * instead of a parquet frame). Returns the directory to scan.
    */
  private[graft] def ensureAssets(
      spark: SparkSession, dir: String,
      tag: String = "pdf-assets-v1",
      synth: (Long, String) => Array[Byte] = synthesize): String =
    ArtifactStore.publish(spark, dir, "documents", tag) { tmp =>
      val tmpStr = tmp.toString
      import spark.implicits._
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        // the write inherits the SOURCE partitioning otherwise — a
        // one-file documents table synthesized 500k PDFs on ONE task
        // at the factor-1000 audit (AES-256 hardened hashes are the
        // cost center); spread the CPU-bound synthesis over the
        // executors (round 14, measured)
        .repartition(spark.sparkContext.defaultParallelism)
        .foreachPartition { it: Iterator[(Long, String)] =>
          // fresh Configuration per task: resolves file:// locally and
          // the cluster's fs.defaultFS when artifactDir is a shared URI
          val tfs = new Path(tmpStr)
            .getFileSystem(new org.apache.hadoop.conf.Configuration())
          it.foreach { case (id, text) =>
            val out = tfs.create(new Path(tmpStr, s"doc$id.pdf"), true)
            try out.write(synth(id, text))
            finally out.close()
          }
        }
    }.toString

  /** The registered query: synthesize (memoized), scan, extract,
    * chunk, aggregate — per-doc stats plus the SUM TOTAL rollup row.
    */
  def pdfChunkStats(spark: SparkSession, dir: String): DataFrame =
    statsOver(spark, ensureAssets(spark, dir), variantMod = 6)

  /** The CJK charset-CMap gate query (`pdf_cjk_stats`, round 10 —
    * VERDICT r9 ask #1; five variants in round 11, six in round 12,
    * seven in round 13):
    * same pipeline, but the corpus is the [[toCjk]]-derived DBCS text
    * written as NINE legacy Type0 shapes ([[CjkVariants]]: GBK-EUC-H /
    * ETen-B5-V / 90ms-RKSJ-H / KSC-EUC-V / KSCms-UHC-HW-H /
    * KSCms-UHC-HW-V / GBK2K-V / EUC-H / HKscs-B5-H, no
    * ToUnicode), so extraction must decode charset-encoded shown bytes
    * through [[graft.sources.pdf.PdfFonts]]'s charset-codespace tier.
    * The md5 of the in-order extracted page concatenation is checked
    * against `md5(translate(text, …))` in DuckDB — the bit-exact loop
    * proof, over real 2-byte DBCS codes, both writing modes, and the
    * half-width UHC row. The oracle also pins `unmapped_fonts` to 0
    * for every document AND the SUM TOTAL row, so any future font
    * fall-through on this corpus hash-fails the gate instead of
    * incrementing telemetry.
    */
  def pdfCjkStats(spark: SparkSession, dir: String): DataFrame =
    statsOver(spark,
      // tag bumped per variant-count change (v6 -> v7 in r15 s2): the
      // doc_id % CjkVariants.length assignment reshuffles which CMap
      // each document gets, so the prior corpus must regenerate
      ensureAssets(spark, dir, "pdf-cjk-assets-v7", synthesizeCjk),
      variantMod = CjkVariants.length)

  /** Shared scan→extract→chunk→aggregate tail of both gate queries:
    * the per-file fold of `Engine.fileStats` plus the md5 of the
    * in-order page texts, both computed in the scan task, then one
    * rollup for the SUM TOTAL row.
    */
  private def statsOver(
      spark: SparkSession, root: String, variantMod: Int): DataFrame = {
    import spark.implicits._
    val cfg = SplitConfig()
    val perDoc = FileSources.perFile(spark, root, "*.pdf", PdfTextExtractor) { (path, length, pages) =>
      ChunkPipeline.fileStatsOf(path, length, pages, cfg).map(s =>
        (s.path, s.pages, s.chunks, s.textSize, s.unmappedFonts, textMd5(pages)))
    }.toDF("path", "pages", "chunks", "text_size", "unmapped_fonts", "text_md5")
      .withColumn("doc_id",
        regexp_extract(col("path"), "doc(\\d+)\\.pdf$", 1).cast("long"))
    val isTotal = col("is_total") === 1
    perDoc.rollup(col("doc_id"))
      .agg(
        sum(col("pages")).as("pages"),
        sum(col("chunks")).as("chunks"),
        sum(col("text_size")).as("text_size"),
        sum(col("unmapped_fonts")).as("unmapped_fonts"),
        max(col("text_md5")).as("text_md5"),
        grouping(col("doc_id")).as("is_total"))
      .select(
        when(isTotal, lit("SUM TOTAL")).otherwise(col("doc_id").cast("string")).as("path"),
        when(isTotal, lit(-1L)).otherwise(col("doc_id") % variantMod).as("variant"),
        col("pages"), col("chunks"), col("text_size"), col("unmapped_fonts"),
        when(isTotal, lit(null).cast("string")).otherwise(col("text_md5")).as("text_md5"))
      .orderBy(col("variant"), col("path"))
  }

  /** md5 of the in-order page concatenation. The pages PARTITION the
    * source text, so it must equal md5(documents.text). Each page is
    * UTF-8 encoded on its own, as Spark's `array_join` over strings
    * would.
    */
  private def textMd5(pages: Seq[graft.sources.ExtractedPage]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    pages.foreach(p => md.update(p.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** The closed-form DuckDB twin (see class doc). The normalization
    * chain restates Normalize P3-P6 + the splitter's strip.
    * `sourceExpr` is the per-document source text (plain `text` for
    * the six-variant query; the [[toCjk]] `translate` for the CJK
    * one — DuckDB's `translate` is the same per-BMP-char bijection
    * as Spark's, so lengths, page boundaries, the normalize chain,
    * and the md5 input all agree by construction).
    */
  private def statsSql(sourceExpr: String, variantMod: Int): String = s"""
    |WITH src AS (
    |  SELECT doc_id, $sourceExpr AS text FROM documents
    |), pg0 AS (
    |  SELECT doc_id, text, unnest(generate_series(
    |    0, CAST(ceil(length(text) / $PageChars.0) AS INT) - 1)) AS page
    |  FROM src
    |), pg AS (
    |  SELECT doc_id, page,
    |         substring(text, CAST(page * $PageChars + 1 AS INT), $PageChars) AS ptext
    |  FROM pg0
    |), nrm AS (
    |  SELECT doc_id, page,
    |    length(lower(regexp_replace(regexp_replace(regexp_replace(
    |      trim(ptext, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)),
    |      '\\n{2,}', chr(10), 'g'), '\\n+', ' ', 'g'),
    |      '\\\\u[0-9a-fA-F]{4}', '', 'g'))) AS nlen,
    |    length(trim(ptext, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))) > 0 AS has_chunk
    |  FROM pg
    |), perdoc AS (
    |  SELECT n.doc_id,
    |    CAST(max(n.page) + 1 AS BIGINT) AS pages,
    |    CAST(sum(CASE WHEN n.has_chunk THEN 1 ELSE 0 END) AS BIGINT) AS chunks,
    |    CAST(sum(CASE WHEN n.has_chunk THEN n.nlen ELSE 0 END) AS BIGINT) AS text_size,
    |    CAST(0 AS BIGINT) AS unmapped_fonts,
    |    md5(any_value(d.text)) AS text_md5
    |  FROM nrm n JOIN src d ON n.doc_id = d.doc_id
    |  GROUP BY n.doc_id
    |)
    |SELECT CAST(doc_id AS VARCHAR) AS path, doc_id % $variantMod AS variant,
    |       pages, chunks, text_size, unmapped_fonts, text_md5
    |FROM perdoc
    |UNION ALL
    |SELECT 'SUM TOTAL', CAST(-1 AS BIGINT), CAST(sum(pages) AS BIGINT),
    |       CAST(sum(chunks) AS BIGINT), CAST(sum(text_size) AS BIGINT),
    |       CAST(sum(unmapped_fonts) AS BIGINT), NULL
    |FROM perdoc
    |""".stripMargin

  val pdfChunkStatsSql: String = statsSql("text", 6)

  val pdfCjkStatsSql: String =
    statsSql(s"translate(text, 'abcdefghijklmnopqrstuvwxyz', '$CjkAlphabet')",
      CjkVariants.length)
}
