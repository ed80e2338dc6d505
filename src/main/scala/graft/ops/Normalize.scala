package graft.ops

import java.util.Locale
import java.util.regex.Pattern

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
  * Exposed both as a `Column` transform (codegen'd `regexp_replace` +
  * `lower`, used by the ingestion shape's `chunkMetrics`) and as a
  * pure String function — the stats hot path, where
  * `ChunkPipeline.fileStatsOf` measures every chunk inside the scan
  * task. The two forms agree, and so do their lengths when the String
  * form is measured in code points (Spark's `length`); `PipelineSpec`
  * pins both on non-ASCII text.
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

  private val blankLines = Pattern.compile("\n{2,}")
  private val newlines = Pattern.compile("\n+")
  private val unicodeEscape = Pattern.compile("\\\\u[0-9a-fA-F]{4}")

  /** Pure form — identical semantics to [[normalizeCol]]. */
  def normalize(s: String): String = {
    val a = blankLines.matcher(s).replaceAll("\n")
    val b = newlines.matcher(a).replaceAll(" ")
    val c = unicodeEscape.matcher(b).replaceAll("")
    c.toLowerCase(Locale.ROOT)
  }
}
