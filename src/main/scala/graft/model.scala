package graft

/** Core record shapes of the chunk-statistics pipeline.
  *
  * Mirrors the data model of the reference
  * (`/root/reference/pdf_reader.py`): a source file yields pages
  * (`pdf_reader.py:442-443`), pages yield chunks
  * (`pdf_reader.py:446-485`), chunks aggregate to per-file stats
  * (`pdf_reader.py:487-503`). Typed case classes give us compile-time
  * schemas (the reference used implicit dict shapes, SURVEY.md §1.3).
  */

/** One page of extracted text from a source document.
  *
  * Reference: langchain `Document` with `metadata={source, page}`
  * produced by PyPDFLoader (`/root/reference/pdf_reader.py:442-443`);
  * `page` is 0-based (`pdf_reader.py:467`).
  *
  * @param path     source identifier (file path / doc_id)
  * @param page     0-based page ordinal within the file
  * @param text     raw extracted page text (pre-normalization)
  * @param fileSize size in bytes of the source file
  *                 (`os.path.getsize`, `pdf_reader.py:490`)
  * @param unmappedFonts honest-telemetry count (VERDICT r6/r7): the
  *                 number of distinct font resources on this page
  *                 whose shown text the decoder DROPPED as opaque
  *                 (Type0 fonts without ToUnicode under a
  *                 non-Unicode-codespace predefined CMap, e.g.
  *                 GBK-EUC-H) — a nonzero value flags a
  *                 silently-empty extraction that would otherwise
  *                 read as a blank page. 0 for non-PDF sources.
  */
final case class Page(
    path: String, page: Int, text: String, fileSize: Long,
    unmappedFonts: Long = 0L)

/** One chunk emitted by the recursive character splitter.
  *
  * Reference record: dict literal at `/root/reference/pdf_reader.py:473-482`.
  * `offsetInPage` is langchain's `start_index` — the chunk's char offset
  * in the *raw* page text; `chunkLen` is measured on the *normalized*
  * chunk text (`pdf_reader.py:460-477`, SURVEY.md §2.4 C2). The
  * file-level ordinal and running offset (`chunk_offset_in_file`,
  * `pdf_reader.py:483-485`) are counted as the file's chunks are made,
  * in (page, chunk) order, by `ChunkPipeline.chunksOf`.
  *
  * @param path         source identifier
  * @param page         0-based page ordinal
  * @param chunkIdx     0-based chunk ordinal within the page
  * @param offsetInPage char offset of the chunk in the raw page text
  * @param rawText      chunk text as split (pre-normalization)
  * @param fileSize     source file size (carried for the ratio agg)
  * @param chunkLen     code points of the normalized chunk text
  * @param chunkInFile  0-based chunk ordinal within the file
  * @param offsetInFile sum of the `chunkLen`s of the file's earlier chunks
  */
final case class Chunk(
    path: String,
    page: Int,
    chunkIdx: Int,
    offsetInPage: Int,
    rawText: String,
    fileSize: Long,
    chunkLen: Long,
    chunkInFile: Long,
    offsetInFile: Long)

/** Per-file aggregate — the reference's file result
  * (`/root/reference/pdf_reader.py:495-503`), minus wall-clock
  * `seconds` (Spark task metrics subsume per-file timing).
  *
  * `ratio` is null-safe: the reference raises ZeroDivisionError on an
  * empty-text file (`pdf_reader.py:491`); we yield None (documented
  * deviation, SURVEY.md §7.4).
  */
final case class FileStats(
    path: String,
    pages: Long,
    chunks: Long,
    fileSize: Long,
    textSize: Long,
    ratio: Option[Double],
    // per-file sum of Page.unmappedFonts — surfaces silently-empty
    // CJK extractions (charset-codespace CMaps) in the metadata
    // sink; 0 everywhere the reference's own corpora tread, so the
    // reference-shape outputs are unchanged. Defaulted last so
    // positional construction at existing call sites still compiles.
    unmappedFonts: Long = 0L)
