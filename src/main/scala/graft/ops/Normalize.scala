package graft.ops

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Chunk-text normalization P3-P6 (SURVEY.md §2.2), mirroring the
  * reference's `_preprocess_content`
  * (`/root/reference/pdf_reader.py:390-403`), applied per chunk at
  * `pdf_reader.py:459-462`. Order is semantics-bearing:
  *
  *   1. collapse blank-line runs:  `\n{2,}`  -> `\n`   (`:395`)
  *   2. newlines to space:         `\n{1,}`  -> `" "`  (`:397`)
  *   3. drop literal `\uXXXX` escape *text* (6 chars, not a decode)
  *                                                     (`:399`)
  *   4. lowercase                                      (`:401`)
  *
  * Three forms:
  *   - [[normalizeCol]], a `Column` transform (codegen'd
  *     `regexp_replace` + `lower`), which gives `chunkMetrics` its
  *     `norm_text`;
  *   - [[normalizedLength]], the chunk kernel's measure:
  *     `ChunkPipeline.chunksOf` counts each chunk's normalized code
  *     points inside the scan task, so it builds no String;
  *   - [[normalize]], the String function, one left-to-right pass then
  *     one lowercase; it is off the hot path and stays as the readable
  *     twin of the other two (the benchmark's closed-form check and the
  *     tests call it).
  * All three agree, lengths in code points (Spark's `length`);
  * `NormalizeSpec` pins the pass against the regex chain and the count
  * against the pass, and `PipelineSpec` pins the forms on non-ASCII text.
  */
object Normalize {

  /** Column form — stays inside WholeStageCodegen. */
  def normalizeCol(c: Column): Column =
    lower(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, "\\n{2,}", "\n"),
          "\\n+", " "),
        "\\\\u[0-9a-fA-F]{4}", ""))

  /** Pure form — identical semantics to [[normalizeCol]]. One pass can
    * do steps 1-3 because neither creates a match for another: a
    * newline run becomes a space, never part of an escape, and an
    * escape skipped between two newline runs leaves two spaces, as the
    * chain does, which collapses newlines before removing escapes.
    */
  def normalize(s: String): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\n') {
        out.append(' ')
        i += 1
        while (i < n && s.charAt(i) == '\n') i += 1
      } else if (c == '\\' && isEscapeAt(s, i)) i += 6
      else {
        out.append(c)
        i += 1
      }
    }
    out.toString.toLowerCase(Locale.ROOT)
  }

  /** `normalize(s).codePointCount(...)` in one pass that builds nothing.
    * Lowercasing keeps the code point count of every code point but
    * U+0130 (`İ` becomes `i` + U+0307 under `Locale.ROOT`), and it never
    * joins or splits a surrogate pair, so the count is taken on the
    * chars the pass emits: a low surrogate right after an emitted high
    * one joins it, even when a removed escape stood between them.
    */
  def normalizedLength(s: String): Int = {
    val n = s.length
    var len = 0
    var afterHigh = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\n') {
        len += 1
        afterHigh = false
        i += 1
        while (i < n && s.charAt(i) == '\n') i += 1
      } else if (c == '\\' && isEscapeAt(s, i)) i += 6
      else {
        if (!(afterHigh && Character.isLowSurrogate(c))) len += 1
        if (c == '\u0130') len += 1
        afterHigh = Character.isHighSurrogate(c)
        i += 1
      }
    }
    len
  }

  /** `s(i)` is a backslash: is `s(i..i+5)` a `\uXXXX` escape? */
  private def isEscapeAt(s: String, i: Int): Boolean =
    i + 5 < s.length && s.charAt(i + 1) == 'u' &&
      isHex(s.charAt(i + 2)) && isHex(s.charAt(i + 3)) &&
      isHex(s.charAt(i + 4)) && isHex(s.charAt(i + 5))

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
}
