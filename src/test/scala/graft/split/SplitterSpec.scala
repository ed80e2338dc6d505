package graft.split

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** C1 splitter fidelity (SURVEY.md §5.2-5.3, FIXTURES.md §2).
  * Semantics under test are langchain-text-splitters 0.3.0
  * (`/root/reference/pdf_reader.py:446-453`); an independent Python
  * reimplementation was used to cross-validate 1774 chunks of sf0.01
  * documents during development (exact match).
  */
class SplitterSpec extends AnyFunSuite {

  /** Seeded sampling harness (scalatestplus bridge is not in the
    * offline cache; plain ScalaCheck generators drive the loop).
    */
  private def forAll[A](g: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    for (_ <- 0 until n) {
      f(g.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    for (_ <- 0 until 300) {
      val a = ga.pureApply(Gen.Parameters.default, seed)
      val b = gb.pureApply(Gen.Parameters.default, seed.next)
      f(a, b)
      seed = seed.next.next
    }
  }

  private val cfg100 = SplitConfig(chunkSize = 100, chunkOverlap = 0)
  private def split(t: String, cfg: SplitConfig = cfg100) =
    RecursiveCharacterSplitter.splitText(t, cfg)
  private def splitIdx(t: String, cfg: SplitConfig = cfg100) =
    RecursiveCharacterSplitter.splitWithStartIndex(t, cfg)

  // ---- golden cases (FIXTURES.md §2 page fixtures) ----

  test("empty and whitespace-only pages yield no chunks") {
    assert(split("") == Nil)
    assert(split("   \n\n  ") == Nil)
  }

  test("page shorter than chunk_size is one stripped chunk") {
    assert(split("  hello world  ") == List("hello world"))
  }

  test("page of exactly chunk_size chars is split (strict < in merge)") {
    val t = "ab " * 33 + "c" // 100 chars, spaces -> splittable
    assert(t.length == 100)
    val out = split(t)
    // langchain: a piece of length exactly chunkSize is oversize;
    // after word-split the merge emits <= 100-char chunks
    assert(out.forall(_.length <= 100))
    assert(out.mkString(" ").replaceAll(" +", " ") == t.trim)
  }

  test("1201-char two-word text splits at the space") {
    val t = "a" * 600 + " " + "b" * 600
    val out = split(t, SplitConfig(chunkSize = 1200, chunkOverlap = 0))
    assert(out == List("a" * 600, "b" * 600))
  }

  test("single unsplittable oversize run passes through") {
    val t = "x" * 3000 // no separators at all -> char-split then merged
    val out = split(t, SplitConfig(chunkSize = 1200, chunkOverlap = 0))
    // "" separator char-explodes and re-merges to exact 1200s
    assert(out == List("x" * 1200, "x" * 1200, "x" * 600))
  }

  test("separator preference: blank lines beat newlines beat spaces") {
    val t = "para one line\n\npara two line"
    assert(split(t, SplitConfig(chunkSize = 15, chunkOverlap = 0)) ==
      List("para one line", "para two line"))
  }

  test("keep_separator attaches separator to the following piece") {
    // internal surface: separator-prefixed pieces
    val pieces = RecursiveCharacterSplitter.splitKeepingSeparator("a b c", " ", keep = true)
    assert(pieces == List("a", " b", " c"))
  }

  test("chunk_overlap carries trailing pieces into the next chunk") {
    val t = "aa bb cc dd ee"
    val out = split(t, SplitConfig(chunkSize = 8, chunkOverlap = 4))
    // each chunk <= 8 chars; consecutive chunks share a trailing word
    assert(out.forall(_.length <= 8))
    assert(out.sliding(2).forall {
      case List(x, y) => y.startsWith(x.split(" ").last) || x.length <= 4
      case _ => true
    })
  }

  // ---- overlap>0 goldens (values from the independent Python
  // reimplementation of langchain 0.3.0, which also matched the
  // splitter exactly on 78k chunks over sf0.001+sf0.01 at 4 overlap
  // configs) ----

  test("golden: overlap window-slide with word pieces") {
    assert(splitIdx("aa bb cc dd ee", SplitConfig(chunkSize = 8, chunkOverlap = 4)) ==
      List(("aa bb cc", 0), ("cc dd", 6), ("dd ee", 9)))
    assert(splitIdx("one two three four five six seven",
        SplitConfig(chunkSize = 10, chunkOverlap = 5)) ==
      List(("one two", 0), ("two three", 4), ("four five", 14),
        ("five six", 19), ("six seven", 24)))
  }

  test("golden: overlap across separator tiers (blank line, newline, space)") {
    assert(splitIdx("para one alpha\n\npara two beta gamma\ndelta eps",
        SplitConfig(chunkSize = 20, chunkOverlap = 8)) ==
      List(("para one alpha", 0), ("para two beta gamma", 16), ("delta eps", 36)))
  }

  test("golden: overlap on an unsplittable run strides by size - overlap") {
    assert(splitIdx("x" * 25, SplitConfig(chunkSize = 10, chunkOverlap = 5)) ==
      List(("x" * 10, 0), ("x" * 10, 5), ("x" * 10, 10), ("x" * 10, 15)))
  }

  test("property: overlap>0 keeps full coverage (no content gaps)") {
    forAll(textGen, cfgGen) { (t: String, cfg: SplitConfig) =>
      val out = RecursiveCharacterSplitter.splitWithStartIndex(t, cfg)
      // every non-whitespace char position is covered by some chunk
      val covered = new Array[Boolean](t.length)
      for ((chunk, idx) <- out; i <- idx until (idx + chunk.length)) covered(i) = true
      for (i <- 0 until t.length if !t.charAt(i).isWhitespace)
        assert(covered(i), s"gap at $i in ${t.take(80)} with $cfg")
    }
  }

  test("start_index points into the raw text") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    for ((chunk, idx) <- splitIdx(t, SplitConfig(chunkSize = 20, chunkOverlap = 0))) {
      assert(idx >= 0)
      assert(t.substring(idx, idx + chunk.length) == chunk)
    }
  }

  // ---- properties (SURVEY.md §5.2) ----

  private val textGen: Gen[String] = {
    val token = Gen.oneOf(
      Gen.stringOfN(3, Gen.alphaLowerChar),
      Gen.stringOfN(8, Gen.alphaLowerChar),
      Gen.const("\n"), Gen.const("\n\n"), Gen.const(" "),
      Gen.stringOfN(40, Gen.alphaLowerChar)) // oversize-ish run
    Gen.listOf(token).map(_.mkString)
  }
  private val cfgGen: Gen[SplitConfig] = for {
    size <- Gen.choose(10, 200)
    overlap <- Gen.choose(0, size / 2 - 1).map(math.max(0, _))
  } yield SplitConfig(chunkSize = size, chunkOverlap = overlap)

  test("property: chunks are non-empty, stripped, and within size unless unsplittable") {
    forAll(textGen, cfgGen) { (t: String, cfg: SplitConfig) =>
      val out = RecursiveCharacterSplitter.splitText(t, cfg)
      out.foreach { c =>
        assert(c.nonEmpty)
        assert(c == c.strip())
        // oversize only when the chunk contains no separator at all
        // (merge of char-splits caps at chunkSize, so > size never happens)
        assert(c.length <= cfg.chunkSize)
      }
    }
  }

  test("property: start indices are correct and non-decreasing (overlap=0 strictly increasing)") {
    forAll(textGen, cfgGen) { (t: String, cfg: SplitConfig) =>
      val out = RecursiveCharacterSplitter.splitWithStartIndex(t, cfg)
      var prev = -1
      for ((chunk, idx) <- out) {
        assert(idx >= 0 && t.substring(idx, idx + chunk.length) == chunk)
        if (cfg.chunkOverlap == 0) assert(idx > prev || prev == -1)
        prev = idx
      }
    }
  }

  test("property: overlap=0 chunks cover all non-whitespace content in order") {
    forAll(textGen) { (t: String) =>
      val out = RecursiveCharacterSplitter.splitText(t, cfg100)
      val squashed = out.mkString("").filterNot(_.isWhitespace)
      assert(squashed == t.filterNot(_.isWhitespace))
    }
  }

  test("property: splitKeepingSeparator(keep=true) round-trips") {
    forAll(textGen) { (t: String) =>
      val pieces = RecursiveCharacterSplitter.splitKeepingSeparator(t, " ", keep = true)
      assert(pieces.mkString("") == t)
    }
  }

  test("perf canary: 1 MB inputs split in linear-ish time") {
    val words = ("lorem ipsum dolor sit amet " * 40000).trim // ~1 MB
    val t0 = System.nanoTime()
    val out = RecursiveCharacterSplitter.splitText(words, SplitConfig(1200, 0))
    val wordsSec = (System.nanoTime() - t0) / 1e9
    assert(out.nonEmpty && wordsSec < 10.0, f"word-split took $wordsSec%.1f s")

    // worst case: one unsplittable run char-explodes then re-merges
    val run = "x" * 1000000
    val t1 = System.nanoTime()
    val out2 = RecursiveCharacterSplitter.splitText(run, SplitConfig(1200, 0))
    val runSec = (System.nanoTime() - t1) / 1e9
    assert(out2.map(_.length).sum == run.length && runSec < 20.0,
      f"char-explode took $runSec%.1f s")
  }
}
