package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.ArtifactStore

/** Semantics pins for the PMI collocation operator (the oracle gate
  * carries hash equality; this fixes the statistic on a corpus where
  * the association structure is constructed).
  */
class TextPmiSpec extends AnyFunSuite with SparkTestBase {

  private def corpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pmi-corpus").toString
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'a' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("textPmi: an always-together pair outranks a sometimes-together one") {
    // "hong kong" always adjacent (6x); "new deal" 6x adjacent but both
    // words also appear apart, diluting p(x)p(y)'s denominator -> PMI
    // for the exclusive pair is strictly higher. Filler repeats keep
    // every pair over the min-count floor.
    val filler = Seq.fill(6)("the quick fox and the lazy dog run on").mkString(" ")
    val dir = corpus(Seq(
      (1L, Seq.fill(6)("hong kong").mkString(" visit ") + " " + filler),
      (2L, Seq.fill(6)("new deal").mkString(" a ") +
        " new day new start deal done deal made " + filler)))
    val out = TextAnalysis.textPmi(spark, dir).collect()
    assert(out.nonEmpty)
    // ranks are 1..n contiguous and pmi is non-increasing
    assert(out.map(_.getLong(0)).toSeq == (1L to out.length).toSeq)
    val pmis = out.map(_.getDouble(6))
    assert(pmis.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    val rank = out.map(r => (r.getString(1), r.getString(2)) -> r.getLong(0)).toMap
    val hk = rank.get(("hong", "kong"))
    val nd = rank.get(("new", "deal"))
    assert(hk.isDefined, "exclusive pair must survive the support floor")
    assert(nd.isDefined, "diluted pair must survive the support floor")
    assert(hk.get < nd.get, "exclusive pair must outrank the diluted pair")
  }

  test("dqPsi: a shifted source scores high, a representative one near zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("psi-corpus").toString
    // source "same": lengths match the corpus bulk (one bin);
    // source "shift": documents 10x longer (a different bin entirely)
    val short = (0 until 60).map(i => (i.toLong, Seq.fill(30)("w").mkString(" "), "same"))
    val long = (100 until 130).map(i => (i.toLong, Seq.fill(300)("w").mkString(" "), "shift"))
    (short ++ long).toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.dqPsi(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("shift") > 0.25, s"shifted source PSI ${out("shift")} not flagged")
    assert(out("shift") > out("same") * 2,
      "shifted source must dominate the representative one")
  }

  test("textRank: the co-occurrence hub outranks peripheral words") {
    // "center" is adjacent to every spoke word; spokes only ever
    // touch the hub -> the hub's centrality must dominate. Repeats
    // push everything over the count floor.
    val spokes = (0 until 6).map(i => s"spoke$i")
    val wheel = spokes.map(s => s"center $s").mkString(" ")
    val dir = corpus(Seq((1L, Seq.fill(6)(wheel).mkString(" "))))
    val out = TextAnalysis.textRank(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.head.getString(1) == "center", "hub must rank first")
    assert(out.head.getLong(0) == 1L)
    val ranks = out.map(_.getLong(2))
    assert(ranks.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    // every surfaced word passed the length + count content filter
    assert(out.forall(_.getString(1).length >= 4))
  }

  test("textRank: word-graph index builds once per corpus, served thereafter") {
    val d = "/root/testdata/sf0.001"
    TextAnalysis.textRank(spark, d).collect()
    val after = ArtifactStore.builds("textrank-edges-v1")
    TextAnalysis.textRank(spark, d).collect()
    assert(ArtifactStore.builds("textrank-edges-v1") == after,
      "word-graph edge artifact rebuilt on a hot invocation")
  }

  test("textPmi: pairs under the support floor never appear") {
    // "rare gem" occurs twice — below the floor of 5 — amid enough
    // repeated filler that other pairs qualify
    val filler = Seq.fill(8)("alpha beta gamma delta").mkString(" ")
    val dir = corpus(Seq((1L, "rare gem stone rare gem " + filler)))
    val out = TextAnalysis.textPmi(spark, dir).collect()
    assert(out.nonEmpty)
    assert(!out.exists(r => r.getString(1) == "rare" && r.getString(2) == "gem"))
    assert(out.forall(_.getLong(3) >= 5L), "support floor violated")
  }
}
