package graft.split

import scala.collection.mutable.ListBuffer

/** Configuration for [[RecursiveCharacterSplitter]].
  *
  * Defaults mirror the reference's splitter construction
  * (`/root/reference/pdf_reader.py:446-450` with defaults from
  * `pdf_reader.py:310`): `chunk_size=1200`, `chunk_overlap=0`,
  * langchain-default separators `["\n\n", "\n", " ", ""]`,
  * `keep_separator=True`, whitespace-stripped chunks.
  */
final case class SplitConfig(
    chunkSize: Int = 1200,
    chunkOverlap: Int = 0,
    separators: List[String] = List("\n\n", "\n", " ", ""),
    keepSeparator: Boolean = true,
    stripWhitespace: Boolean = true) {
  require(chunkSize > 0, "chunkSize must be positive")
  require(chunkOverlap >= 0 && chunkOverlap < chunkSize,
    "chunkOverlap must be in [0, chunkSize)")
  require(separators.nonEmpty, "separators must be non-empty")
}

/** Pure-Scala re-implementation of the recursive character text
  * splitter the reference delegates to
  * (`RecursiveCharacterTextSplitter`, langchain-text-splitters 0.3.0,
  * pinned at `/root/reference/requirements.txt:20`, applied at
  * `/root/reference/pdf_reader.py:453`).
  *
  * Semantics (public langchain behavior for that version):
  *   - pick the first separator in the list that is `""` or occurs in
  *     the text; remember the remaining separators for recursion;
  *   - split on it, keeping each separator attached to the *front* of
  *     the following piece (`keep_separator=True`);
  *   - pieces shorter than `chunkSize` are greedily merged (strictly:
  *     a piece of length exactly `chunkSize` counts as oversize) up to
  *     `chunkSize` chars, carrying `chunkOverlap` chars of trailing
  *     pieces into the next chunk;
  *   - oversize pieces recurse on the remaining separators; if none
  *     remain, the oversize piece passes through unsplit;
  *   - merged chunks are whitespace-stripped; empty chunks dropped.
  *
  * Zero Spark dependencies: invoked per page by the chunk kernel
  * `ChunkPipeline.chunksOf` (SURVEY.md §2.4 C1) and directly
  * unit/property-testable.
  */
object RecursiveCharacterSplitter {

  /** Split `text` into chunk strings. */
  def splitText(text: String, cfg: SplitConfig = SplitConfig()): List[String] =
    splitRec(text, cfg.separators, cfg)

  /** Split `text` into `(chunk, startIndex)` pairs where `startIndex`
    * is the chunk's char offset in the raw input — langchain's
    * `add_start_index=True` metadata (`/root/reference/pdf_reader.py:449`):
    * each chunk is located with `indexOf` starting from
    * `max(0, prevIndex + prevLen - overlap)`.
    */
  def splitWithStartIndex(
      text: String,
      cfg: SplitConfig = SplitConfig()): List[(String, Int)] = {
    val out = ListBuffer.empty[(String, Int)]
    var index = 0
    var prevLen = 0
    for (chunk <- splitText(text, cfg)) {
      val offset = math.max(0, index + prevLen - cfg.chunkOverlap)
      index = text.indexOf(chunk, offset)
      if (index < 0) index = text.indexOf(chunk) // defensive; strip keeps substrings
      out += ((chunk, index))
      prevLen = chunk.length
    }
    out.toList
  }

  private def splitRec(
      text: String,
      separators: List[String],
      cfg: SplitConfig): List[String] = {
    // Select the first separator that is "" or present in the text.
    var separator = separators.last
    var remaining: List[String] = Nil
    var found = false
    var rest = separators
    while (rest.nonEmpty && !found) {
      val s = rest.head
      if (s.isEmpty) { separator = s; remaining = Nil; found = true }
      else if (text.contains(s)) {
        separator = s; remaining = rest.tail; found = true
      }
      rest = rest.tail
    }

    val splits = splitKeepingSeparator(text, separator, cfg.keepSeparator)
    // With keep_separator the merge-join separator is "".
    val mergeSep = if (cfg.keepSeparator) "" else separator

    val finalChunks = ListBuffer.empty[String]
    val good = ListBuffer.empty[String]
    for (s <- splits) {
      if (s.length < cfg.chunkSize) good += s
      else {
        if (good.nonEmpty) {
          finalChunks ++= mergeSplits(good.toList, mergeSep, cfg)
          good.clear()
        }
        if (remaining.isEmpty) finalChunks += s
        else finalChunks ++= splitRec(s, remaining, cfg)
      }
    }
    if (good.nonEmpty) finalChunks ++= mergeSplits(good.toList, mergeSep, cfg)
    finalChunks.toList
  }

  /** Split on a literal separator. With `keep=true` each separator
    * occurrence stays attached to the front of the piece that follows
    * it (langchain `_split_text_with_regex`). `sep=""` explodes into
    * single chars. Empty pieces are dropped.
    */
  private[split] def splitKeepingSeparator(
      text: String,
      sep: String,
      keep: Boolean): List[String] = {
    if (text.isEmpty) return Nil
    if (sep.isEmpty) return text.map(_.toString).toList
    val pieces = ListBuffer.empty[String]
    if (keep) {
      // pieces: [before first sep] ++ [sep..before next sep]*
      var idx = text.indexOf(sep)
      if (idx < 0) pieces += text
      else {
        pieces += text.substring(0, idx)
        while (idx >= 0) {
          val next = text.indexOf(sep, idx + sep.length)
          val end = if (next >= 0) next else text.length
          pieces += text.substring(idx, end)
          idx = next
        }
      }
    } else {
      var start = 0
      var idx = text.indexOf(sep)
      while (idx >= 0) {
        pieces += text.substring(start, idx)
        start = idx + sep.length
        idx = text.indexOf(sep, start)
      }
      pieces += text.substring(start)
    }
    pieces.toList.filter(_.nonEmpty)
  }

  /** Greedy merge of sub-chunkSize pieces (langchain `_merge_splits`):
    * accumulate pieces while the joined length stays ≤ chunkSize
    * (strictly: adding a piece that would push past chunkSize emits
    * the current chunk first), then slide the window keeping at most
    * `chunkOverlap` trailing chars for the next chunk.
    */
  private[split] def mergeSplits(
      splits: List[String],
      separator: String,
      cfg: SplitConfig): List[String] = {
    val sepLen = separator.length
    val docs = ListBuffer.empty[String]
    var current = Vector.empty[String]
    var total = 0
    for (d <- splits) {
      val len = d.length
      if (total + len + (if (current.nonEmpty) sepLen else 0) > cfg.chunkSize) {
        if (current.nonEmpty) {
          joinDocs(current, separator, cfg).foreach(docs += _)
          // Slide: drop leading pieces until within overlap budget and
          // the next piece fits. The would-overflow test reuses the
          // same separator term as the outer if (any pieces present =>
          // appending d costs one joiner) — upstream's exact form;
          // only the POP below uses the >1 form (removing the head
          // removes a joiner only when two or more pieces remain).
          while (total > cfg.chunkOverlap ||
              (total + len + (if (current.nonEmpty) sepLen else 0) > cfg.chunkSize &&
                total > 0)) {
            total -= current.head.length + (if (current.length > 1) sepLen else 0)
            current = current.tail
          }
        }
      }
      current = current :+ d
      total += len + (if (current.length > 1) sepLen else 0)
    }
    joinDocs(current, separator, cfg).foreach(docs += _)
    docs.toList
  }

  private def joinDocs(
      docs: Seq[String],
      separator: String,
      cfg: SplitConfig): Option[String] = {
    if (docs.isEmpty) return None
    var text = docs.mkString(separator)
    if (cfg.stripWhitespace) text = text.strip()
    if (text.isEmpty) None else Some(text)
  }
}
