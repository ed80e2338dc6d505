package graft.ops

import java.util.Locale
import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** P3-P6 normalization semantics (`/root/reference/pdf_reader.py:390-403`),
  * pure and Column forms (must agree).
  */
class NormalizeSpec extends AnyFunSuite with SparkTestBase {

  private val cases = Seq(
    // blank-line runs collapse to one newline, then newlines -> space
    "a\n\n\nb" -> "a b",
    "a\nb" -> "a b",
    "a\n\nb\nc" -> "a b c",
    // literal \uXXXX escape TEXT removed (not decoded) — pdf_reader.py:399
    "pre\\u0041post" -> "prepost",
    "keep \\u12 short" -> "keep \\u12 short", // not 4 hex digits -> kept
    "hex\\uBEEFtail" -> "hextail",
    // lowercase last
    "MiXeD Case" -> "mixed case",
    // order matters: \n inside a would-be escape is normalized first
    "A\n\nB\n\nC" -> "a b c",
    "" -> "",
    "   " -> "   " // whitespace is NOT stripped by normalize
  )

  test("pure normalize matches pinned pairs") {
    for ((in, want) <- cases)
      assert(Normalize.normalize(in) == want, s"input=${in.replace("\n", "\\n")}")
  }

  test("Column normalize agrees with pure form") {
    import spark.implicits._
    val ins = cases.map(_._1) ++ Seq("\n\n\n", "x\\u00GGy", "A\\u0061\n\nB")
    val df = ins.toDF("s")
    val got = df.select(Normalize.normalizeCol($"s")).as[String].collect()
    assert(got.toSeq == ins.map(Normalize.normalize))
  }

  /** The reference's three-regex chain, as the String form ran it
    * before it became one pass.
    */
  private def regexChain(s: String): String = {
    val a = Pattern.compile("\n{2,}").matcher(s).replaceAll("\n")
    val b = Pattern.compile("\n+").matcher(a).replaceAll(" ")
    val c = Pattern.compile("\\\\u[0-9a-fA-F]{4}").matcher(b).replaceAll("")
    c.toLowerCase(Locale.ROOT)
  }

  test("one-pass normalize equals the regex chain on seeded random strings") {
    val pieces = Array(
      "\n", "\n\n", "\n\n\n\n",
      "\\u0041", "\\uBEEF", "\\uabcd", "\\u00e9", // escapes
      "\\u", "\\u0", "\\u00", "\\u004", "\\u00GG", "\\U0041", "\\ug041",
      "\\u12 ", "\\x0041", "\\", "u", "\\\\u0041", "\\\\", // near misses
      "0", "9", "a", "f", "F", "g", "G", "Z", " ", ".",
      "\u0130", "\u03a3", "\u1e9e", "\u01c5", "\r", "\t", "\r\n",
      "\uD835\uDC00", "\uD835", "\uDC00") // paired and lone surrogates
    val rnd = new scala.util.Random(20261019L)
    for (_ <- 0 until 120000) {
      val sb = new StringBuilder
      for (_ <- 0 until rnd.nextInt(16))
        sb ++= pieces(rnd.nextInt(pieces.length))
      val s = sb.toString
      assert(Normalize.normalize(s) == regexChain(s),
        "input=" + s.flatMap(c =>
          if (c < 0x20 || c > 0x7e || c == '\\') "\\u" + "%04x".format(c.toInt) else c.toString))
    }
  }
}
