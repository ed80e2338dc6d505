package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.ArtifactStore

/** Round-5 pipeline additions: repetition quality signals and
  * exact-rate stratified sampling (the oracle gate carries the
  * hash-equality check; these pin the semantics on crafted corpora).
  */
class TextPipelineOpsSpec extends AnyFunSuite with SparkTestBase {

  /** Write a crafted documents table (schema-compatible slice). */
  private def corpus(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tp-corpus").toString
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("pipelineDatacard: card columns reconcile with the operators they summarize") {
    val dir = "/root/testdata/sf0.001"
    val card = PipelineOps.pipelineDatacard(spark, dir).collect()
    val docs = graft.sources.Tables.table(spark, dir, "documents")
    assert(card.map(_.getLong(1)).sum == docs.count())
    // split census sums to the doc count and matches split_assign
    val splits = PipelineOps.splitAssign(spark, dir).collect()
      .groupBy(_.getString(3)).view.mapValues(_.length.toLong).toMap
    assert(card.map(_.getLong(6)).sum == splits.getOrElse("train", 0L))
    assert(card.map(_.getLong(7)).sum == splits.getOrElse("val", 0L))
    assert(card.map(_.getLong(8)).sum == splits.getOrElse("test", 0L))
    // quality column agrees with the registered quality gate
    val nQuality = TextAnalysis.textQuality(spark, dir)
      .filter(org.apache.spark.sql.functions.col("is_quality")).count()
    assert(card.map(_.getLong(4)).sum == nQuality)
    for (r <- card) {
      assert(r.getLong(4) <= r.getLong(1) && r.getLong(5) <= r.getLong(1))
      assert(r.getLong(6) + r.getLong(7) + r.getLong(8) == r.getLong(1))
    }
  }

  test("pipelineHoldout: near-dup families never straddle splits; singletons match splitAssign") {
    val dir = "/root/testdata/sf0.001"
    val rows = PipelineOps.pipelineHoldout(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    // every group lands in exactly one split (the leakage guarantee)
    val byGroup = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byGroup.forall(_._2.size == 1),
      s"split-straddling groups: ${byGroup.filter(_._2.size > 1).keys.toSeq.sorted}")
    // some real cluster exists on this corpus (group smaller than ids)
    assert(rows.exists { case (id, g, _) => g != id },
      "fixture has no near-dup family — leakage case untested")
    // singletons (group == own id) agree with the document-level split
    val docSplit = PipelineOps.splitAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    for ((id, g, s) <- rows if g == id)
      assert(s == docSplit(id), s"singleton $id diverged from splitAssign")
  }

  test("textRepetition: duplicate lines and dominant bigrams measured exactly") {
    val dir = corpus(Seq(
      // line signal: 4 lines, 2 distinct -> dup_line_frac = 0.5
      // (tokens deliberately ignored here: ' +' tokens span newlines)
      (1L, "a b\na b\nx\nx", "a"),
      // bigram signal, single line: "spam spam" x3 of 3 -> 1.0
      (2L, "spam spam spam spam", "a"),
      // all 3 bigrams distinct -> top_bigram_frac = 1/3
      (3L, "one two three four", "a"),
      // single word: no bigrams -> frac 0.0, n_grams 0
      (4L, "word", "a")))
    val out = TextAnalysis.textRepetition(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L)._1 == 4L && out(1L)._3 == 0.5)
    assert(out(2L) == ((1L, 3L, 0.0, 1.0)))
    assert(out(3L) == ((1L, 3L, 0.0, 0.333333)))
    assert(out(4L) == ((1L, 0L, 0.0, 0.0)))
  }

  test("aggCmsFreq: estimates never undercount; exact when collision-free") {
    val rows = Relational.aggCmsFreq(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (est, truth) = (r.getLong(1), r.getLong(2))
      assert(est >= truth, s"CMS undercounted user ${r.getLong(0)}: $est < $truth")
    }
    // d=4 x w=256 over ~sf0.001's tiny key set: at least one probe
    // key should be collision-free (est == true)
    assert(rows.exists(r => r.getLong(1) == r.getLong(2)))
  }

  test("eventFunnel: stages are monotone and timestamps strictly ordered") {
    val rows = Relational.eventFunnel(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val stage = r.getLong(1)
      val tView = r.getLong(2)
      val tClick = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val tPurch = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(stage == 1L + tClick.size + tPurch.size)
      assert(tPurch.isEmpty || tClick.nonEmpty, "purchase without click")
      tClick.foreach(c => assert(c > tView))
      (tClick, tPurch) match {
        case (Some(c), Some(p)) => assert(p > c)
        case _ => ()
      }
    }
  }

  test("graphPagerank: ranks positive, descending, keys are real parts") {
    val dir = "/root/testdata/sf0.001"
    val rows = Graph.graphPagerank(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val ranks = rows.map(_.getLong(2))
    assert(ranks.forall(_ > 0))
    assert(ranks.sameElements(ranks.sorted.reverse), "not rank-descending")
    assert(rows.map(_.getLong(0)).sameElements(1L to rows.length))
    val parts = graft.sources.Tables.table(spark, dir, "part")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => parts(r.getLong(1))))
  }

  test("sampleStratified: exact ceil(rate*n) per stratum, reproducible membership") {
    val rows =
      (1L to 37L).map(i => (i, s"text $i", "web")) ++
      (101L to 110L).map(i => (i, s"text $i", "books")) ++
      Seq((201L, "solo", "tiny"))
    val dir = corpus(rows)
    val out = PipelineOps.sampleStratified(spark, dir).collect()
    val bySource = out.groupBy(_.getString(1))
    // ceil(0.2 * 37) = 8, ceil(0.2 * 10) = 2, ceil(0.2 * 1) = 1
    assert(bySource("web").length == 8)
    assert(bySource("books").length == 2)
    assert(bySource("tiny").length == 1)
    // ranks are 1..k within each stratum
    for ((_, rs) <- bySource)
      assert(rs.map(_.getLong(2)).sorted.sameElements(1L to rs.length))
    // membership is a pure function of ids: a second run (and a
    // different shuffle width) selects the same rows
    val again = PipelineOps.sampleStratified(spark, dir).collect()
    assert(again.map(_.getLong(0)).sorted.sameElements(out.map(_.getLong(0)).sorted))
  }

  test("textVocab: counts and coverage on a crafted corpus") {
    val dir = corpus(Seq((1L, "a a a b b c", "s")))
    val out = TextAnalysis.textVocab(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, "a", 3L, 0.5), (2L, "b", 2L, 0.833333), (3L, "c", 1L, 1.0)))
  }

  test("textVocab: rank contiguous, counts non-increasing, coverage monotone to 1") {
    val rows = TextAnalysis.textVocab(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).sameElements(1L to rows.length))
    val ns = rows.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "counts not sorted")
    val cov = rows.map(_.getDouble(3))
    assert(cov.zip(cov.tail).forall { case (a, b) => a < b }, "coverage not monotone")
    // the sf0.001 vocabulary is smaller than K, so the curve closes at 1
    assert(cov.last == 1.0)
  }

  test("dedupSpans: shared 5-gram marks both docs, short docs survive at zero") {
    val dir = corpus(Seq(
      (1L, "a b c d e f", "s"), // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x", "s"), // shares "a b c d e" with doc 1
      (3L, "z z z z", "s")))    // < 5 words: no grams
    val out = Dedup.dedupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((0L, 0L, 0.0)))
  }

  test("sampleTokenBudget: exact cutoff, order-independent on equal-length docs") {
    // 4 docs x 300 tokens per source: whatever the hash order, the
    // 800-token budget admits exactly the first two
    val text = Array.fill(300)("w").mkString(" ")
    val rows = (1L to 4L).map(i => (i, text, "a")) ++
      (11L to 14L).map(i => (i, text, "b"))
    val out = PipelineOps.sampleTokenBudget(spark, corpus(rows)).collect()
    val bySource = out.groupBy(_.getString(1))
    assert(bySource("a").length == 2 && bySource("b").length == 2)
    assert(out.forall(_.getLong(3) <= 800L))
    // cumulative totals are exact multiples of the doc length
    assert(out.map(_.getLong(3)).sorted.toSeq == Seq(300L, 300L, 600L, 600L))
  }

  test("sampleTokenBudget: per-source running totals stay within budget on testdata") {
    val out = PipelineOps.sampleTokenBudget(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    for ((_, rs) <- out.groupBy(_.getString(1))) {
      val cums = rs.map(_.getLong(3))
      assert(cums.forall(_ <= 800L))
      // cum is the prefix sum of n_tokens in emission order
      assert(cums.sorted.sameElements(rs.map(_.getLong(2)).scanLeft(0L)(_ + _).tail))
    }
  }

  test("aggHistogramQuantile: estimates bracket the exact quantiles within a bin") {
    val rows = Relational.aggHistogramQuantile(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // per type: estimates are monotone in q (cumulative counts can
    // only move the selected bin rightward)
    for ((_, rs) <- rows.groupBy(_._1)) {
      assert(rs.length == 3)
      val byQ = rs.sortBy(_._2).map(_._3)
      assert(byQ.zip(byQ.tail).forall { case (a, b) => a <= b })
    }
    // bin-width accuracy: the q-quantile estimate (lower bin edge)
    // sits within one bin width below the exact quantile
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    for ((tpe, q, est) <- rows) {
      val vs = ev.filter(_._1 == tpe).map(_._2).sorted
      val exact = vs(math.min(vs.length - 1, math.ceil(q * vs.length).toInt - 1))
      val width = (vs.last - vs.head) / 256
      assert(est <= exact + 1e-9 && est >= exact - width - 1e-9,
        s"$tpe q=$q: est $est vs exact $exact (width $width)")
    }
  }

  test("eventRetention: offset-0 retention is exactly 1, fractions bounded") {
    val rows = Relational.eventRetention(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (offset, frac) = (r.getLong(1), r.getDouble(3))
      assert(offset >= 0 && frac > 0.0 && frac <= 1.0)
      // every cohort member is active in their own first week
      if (offset == 0) assert(frac == 1.0, s"cohort ${r.getLong(0)} offset 0")
    }
    // later offsets can never retain more users than the cohort has
    val byCohort = rows.groupBy(_.getLong(0))
    for ((_, rs) <- byCohort) {
      val base = rs.find(_.getLong(1) == 0).map(_.getLong(2))
      assert(base.forall(b => rs.forall(_.getLong(2) <= b)))
    }
  }

  test("eventAnomaly: flags the spike high, the dip low, constant series never") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("anom").toString
    def day(tpe: String, d: Int, n: Int): Seq[(java.sql.Timestamp, String)] =
      (1 to n).map(_ =>
        (java.sql.Timestamp.valueOf(f"2024-03-$d%02d 12:00:00"), tpe))
    // spike: nine days of 10 plus one 40 (z = +2.85); dip: nine days
    // of 20 plus one 5 (z = -2.85); flat: zero variance, never flags
    val data =
      (1 to 10).flatMap(d => day("spike", d, if (d == 9) 40 else 10)) ++
      (1 to 10).flatMap(d => day("dip", d, if (d == 10) 5 else 20)) ++
      (1 to 10).flatMap(d => day("flat", d, 7))
    data.zipWithIndex
      .map { case ((ts, tpe), i) => (i.toLong, ts, 1L, tpe, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Relational.eventAnomaly(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(("dip", 5L, "low"), ("spike", 40L, "high")))
  }

  test("eventSequences: path length = min(n, 10), deterministic assembly") {
    val rows = Relational.eventSequences(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val hops = r.getString(2).split(">").length
      assert(hops == math.min(r.getLong(1), 10L), s"user ${r.getLong(0)}")
    }
    val again = Relational.eventSequences(spark, "/root/testdata/sf0.001")
      .collect().map(_.getString(2))
    assert(again.sameElements(rows.map(_.getString(2))), "assembly not deterministic")
  }

  test("qualityNormalize: percent_rank calibrates each source to the same keep rate") {
    val rows = TextAnalysis.qualityNormalize(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 500)
    for ((src, rs) <- rows.groupBy(_.getString(1))) {
      // 25 docs/source: percent_rank >= 0.2 keeps ranks 6..25 = 20
      assert(rs.count(_.getBoolean(4)) == 20, s"source $src keep count")
      val pct = rs.map(_.getDouble(3))
      assert(pct.forall(p => p >= 0.0 && p <= 1.0))
      // rank order follows the ratio order
      val sorted = rs.sortBy(r => (r.getDouble(2), r.getLong(0))).map(_.getDouble(3))
      assert(sorted.sameElements(sorted.sorted))
    }
  }

  test("pipelineShard: loads partition the corpus exactly, ratios centre on 1") {
    val rows = PipelineOps.pipelineShard(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((0L until 8L).toSet))
    assert(rows.map(_.getLong(1)).sum == 500L) // every doc lands somewhere
    val ratios = rows.map(_.getDouble(3))
    // load_ratio is tokens / mean-tokens-per-shard: averages to ~1
    assert(math.abs(ratios.sum / ratios.length - 1.0) < 1e-4)
    assert(ratios.forall(r => r > 0.5 && r < 2.0), "hash sharding badly skewed")
  }

  test("textEntropy: uniform terms give ln(k), constant terms give zero") {
    val dir = corpus(Seq(
      (1L, "a b c d a b c d", "uni"),  // 4 terms, uniform -> ln 4
      (2L, "x x x x x", "const")))     // 1 term -> 0
    val out = TextAnalysis.textEntropy(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("uni") == ((4L, 8L,
      BigDecimal(math.log(4.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
    assert(out("const") == ((1L, 5L, -0.0)) || out("const") == ((1L, 5L, 0.0)))
    // corpus-level sanity: entropy bounded by ln(vocabulary)
    val rows = TextAnalysis.textEntropy(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= math.log(r.getLong(1)) + 1e-9)
  }

  test("pipelineMixture: √-damped shares normalize and allocate the budget") {
    val dir = corpus(Seq(
      (1L, Seq.fill(100)("t").mkString(" "), "small"),
      (2L, Seq.fill(400)("t").mkString(" "), "big")))
    val out = PipelineOps.pipelineMixture(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // 4x the tokens -> only 2x the share (temperature damping)
    assert(out("small")._1 == 100L && out("big")._1 == 400L)
    assert(math.abs(out("small")._2 - 1.0 / 3) < 1e-6)
    assert(math.abs(out("big")._2 - 2.0 / 3) < 1e-6)
    assert(math.abs(out("small")._2 + out("big")._2 - 1.0) < 1e-6)
    // repetition = unfloored target/available (floor gap ≤ 1 token)
    assert(math.abs(out("small")._4 - out("small")._3.toDouble / 100) <= 0.011)
    val total = out.values.map(_._3).sum
    assert(total >= 99998L && total <= 100000L, s"budget drift: $total")
  }

  test("textGini: equal docs score 0, total concentration approaches 1 - 1/n") {
    val eq = corpus((1L to 5L).map(i => (i, "w w w w", "flat")))
    val outEq = TextAnalysis.textGini(spark, eq).collect()
    assert(outEq.head.getDouble(3) == 0.0)
    // one doc holds 96 of 100 tokens over n=5: G = (2·Σi·x − 6·100)/500
    // with sorted x = (1,1,1,1,96): Σi·x = 1+2+3+4+480 = 490 → 0.76
    val skewed = corpus(Seq(
      (1L, "w", "skew"), (2L, "w", "skew"), (3L, "w", "skew"),
      (4L, "w", "skew"), (5L, Seq.fill(96)("w").mkString(" "), "skew")))
    val outSk = TextAnalysis.textGini(spark, skewed).collect()
    assert(outSk.head.getLong(1) == 5L && outSk.head.getLong(2) == 100L)
    assert(outSk.head.getDouble(3) == 0.76)
  }

  test("windowGrowth: deltas and ppm growth recompute from the weekly totals") {
    val rows = Relational.windowGrowth(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val weeks = rows.map(_.getLong(0))
    assert(weeks.sameElements(weeks.sorted), "not week-ordered")
    for (r <- rows) {
      val (rev, delta, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val prev = rev - delta
      assert(prev != 0L)
      // Java's / truncates toward zero — the semantics BOTH engines'
      // integer division share (Spark `div`, DuckDB BIGINT `//`)
      assert(ppm == delta * 1000000L / prev)
    }
  }

  test("aggWeightedMedian: weight dominance picks the heavy price, not the row median") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("wmed").toString
    // flag A: price 10 carries 90 units, prices 20..60 carry 1 each —
    // row-median of prices is 35, but the WEIGHTED median is 10
    val rows = Seq(("A", 10.0, 90.0)) ++
      (2 to 6).map(i => ("A", i * 10.0, 1.0)) ++
      Seq(("B", 5.0, 1.0), ("B", 7.0, 1.0)) // even split: min covering half = 5
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val out = Relational.aggWeightedMedian(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("A", 95L, 10.0), ("B", 2L, 5.0)))
  }

  test("eventMarkov: constructed chains count transitions exactly, rows sum <= 1e6") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("markov").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: a>b>a>b ; user 2: a>c  → from a: {b:2, c:1}, from b: {a:1}
    val evs = Seq(
      (1L, ts(1), 1L, "a"), (2L, ts(2), 1L, "b"),
      (3L, ts(3), 1L, "a"), (4L, ts(4), 1L, "b"),
      (5L, ts(1), 2L, "a"), (6L, ts(2), 2L, "c"))
    evs.map { case (id, t, u, e) => (id, t, u, e, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Relational.eventMarkov(spark, tmp).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      ("a", "b") -> ((2L, 666666L)),
      ("a", "c") -> ((1L, 333333L)),
      ("b", "a") -> ((1L, 1000000L))))
    // corpus: each from-row's ppm mass sums to ≤ 1e6 (floor division)
    val rows = Relational.eventMarkov(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_.getString(0))) {
      val mass = rs.map(_.getLong(3)).sum
      assert(mass <= 1000000L && mass > 1000000L - rs.length)
    }
  }

  test("diagSkew: a planted hot key tops the report with exact shares") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("skew").toString
    // key 777 holds 60 of 100 rows; keys 1..40 hold 1 each
    val rows = Seq.fill(60)(777L) ++ (1L to 40L)
    rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val out = Relational.diagSkew(spark, tmp).collect()
    assert(out.length == 10)
    val top = out.head
    assert(top.getLong(1) == 777L && top.getLong(2) == 60L)
    assert(top.getLong(3) == 600000L)         // 60% in ppm
    assert(top.getLong(4) == 24600L)          // 60 / (100/41) ≈ 24.6x mean
    assert(out.tail.forall(_.getLong(2) == 1L))
  }

  test("dqChecks: seeded violations are counted exactly, clean checks read zero") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dq").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    Seq( // duplicate pk 10, orphan cust 99, negative price, 1990 date
      (10L, 1L, 100.0, ts("1996-01-01")),
      (10L, 1L, 100.0, ts("1996-01-02")),
      (11L, 99L, 50.0, ts("1996-02-01")),
      (12L, 2L, -5.0, ts("1996-03-01")),
      (13L, 2L, 75.0, ts("1990-01-01")))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    Seq((1L, "Alice"), (2L, "")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    Seq(1.0, 99.0, 50.0).toDF("l_quantity")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = Relational.dqChecks(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("customer.name_nonempty", 1L, 2L),
      ("lineitem.qty_in_1_50", 1L, 3L),
      ("orders.date_in_range", 1L, 5L),
      ("orders.fk_customer", 1L, 5L),
      ("orders.pk_unique", 1L, 5L),
      ("orders.price_positive", 1L, 5L)))
  }

  test("windowIslands: constructed streaks collapse to exact island stats") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("islands").toString
    // user 1 active on days {1,2,3}, {7}, {9,10}; user 2 on {5}
    val days = Seq(1L -> 1, 1L -> 2, 1L -> 3, 1L -> 7, 1L -> 9, 1L -> 10,
      2L -> 5)
    days.zipWithIndex.map { case ((u, d), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-02-$d%02d 08:30:00"),
        u, "view", 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Relational.windowIslands(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 6L, 3L, 3L), (2L, 1L, 1L, 1L)))
  }

  test("aggRegression: a perfect integer line recovers slope/intercept exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("regr").toString
    // y = 2x + 5 over epoch-days x ∈ {2,3,4} (Jan 1970 timestamps):
    // per-day event counts 9, 11, 13
    val rows = for {
      (d, y) <- Seq(3 -> 9, 4 -> 11, 5 -> 13) // Jan d = epoch day d-1
      k <- 1 to y
    } yield (d.toLong * 100 + k,
      java.sql.Timestamp.valueOf(f"1970-01-$d%02d 12:00:00"), 1L, "t", 0.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Relational.aggRegression(spark, tmp).collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 3L)
    assert(out(0).getDouble(2) == 2.0)
    assert(out(0).getDouble(3) == 5.0)
  }

  test("graphJaccard: top pairs equal the in-memory all-pairs reference") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val li = graft.sources.Tables.table(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(8)) === 0)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    for ((_, parts) <- li.groupBy(_._1); a <- parts.map(_._2); b <- parts.map(_._2)
         if a != b)
      nbrs.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
    val nodes = nbrs.keys.toSeq.sorted
    val pairs = for {
      a <- nodes; b <- nodes if a < b
      c = (nbrs(a) & nbrs(b)).size if c > 0
    } yield (a, b, c.toLong, c.toDouble / (nbrs(a).size + nbrs(b).size - c))
    val top = pairs.sortBy { case (a, b, _, j) => (-j, a, b) }.take(20)
    val got = Graph.graphJaccard(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.length == top.length && got.nonEmpty)
    for (((ga, gb, gc, gj), (ea, eb, ec, ej)) <- got.zip(top)) {
      assert((ga, gb, gc) == (ea, eb, ec), s"pair order drifted at ($ga,$gb)")
      val rj = BigDecimal(ej).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(gj == rj, s"jaccard($ga,$gb): $gj != $rj")
    }
  }

  test("joinDivision equals the double-anti-join (NOT EXISTS) formulation") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val o = graft.sources.Tables.table(spark, dir, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("y")).distinct()
    val custs = o.select("o_custkey").distinct()
    val years = o.select("y").distinct()
    // textbook division: customers for whom NO divisor year is missing
    val missing = custs.crossJoin(years)
      .join(o, Seq("o_custkey", "y"), "left_anti")
      .select("o_custkey").distinct()
    val expected = custs.join(missing, Seq("o_custkey"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    val got = Relational.joinDivision(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("cdcDiff: classes partition the keyspace with hash-derived counts") {
    val dir = "/root/testdata/sf0.001"
    def bucket(id: Long): Long =
      id.toString.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L) % 10
    val ids = graft.sources.Tables.table(spark, dir, "orders")
      .select("o_orderkey").collect().map(_.getLong(0))
    val expected = Map(
      "insert" -> ids.count(bucket(_) == 9L),
      "delete" -> ids.count(bucket(_) == 0L),
      "update" -> ids.count(bucket(_) == 5L),
      "unchanged" -> ids.count(i => {
        val b = bucket(i); b >= 1L && b < 9L && b != 5L
      })).map { case (k, v) => (k, v.toLong) }
    val got = Relational.cdcDiff(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == expected)
    // deletes carry no new-snapshot mass; every other class does
    val totals = Relational.cdcDiff(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(totals("delete") == 0.0)
    assert(Seq("insert", "update", "unchanged").forall(totals(_) > 0.0))
  }

  test("pipelinePack: placements tile each source gaplessly, spans exact") {
    val rows = PipelineOps.pipelinePack(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 500)
    for ((_, bySource) <- rows.groupBy(_._2)) {
      // reconstruct global starts; sorted, they must tile end-to-end
      val placed = bySource
        .map { case (_, _, nt, seq, off, _) => (seq * 512L + off, nt) }
        .sortBy(_._1)
      assert(placed.head._1 == 0L, "first doc must start at token 0")
      for (Array((s1, n1), (s2, _)) <- placed.sliding(2))
        assert(s2 == s1 + n1, s"gap/overlap at $s2")
    }
    // span arithmetic: recompute n_seqs from the placement
    for ((_, _, nt, seq, off, nseqs) <- rows) {
      val start = seq * 512L + off
      assert(nseqs == (start + nt - 1) / 512L - start / 512L + 1L)
      assert(off >= 0L && off < 512L)
    }
    // ~55-token docs against 512-token sequences: boundaries are straddled
    assert(rows.exists(_._6 >= 2L), "no document spans a sequence boundary")
  }

  test("textLmScore: scores only held-out docs, log-probs negative, gibberish scores lower") {
    def bucket(id: Long): Long =
      id.toString.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L) % 10
    val rows = TextAnalysis.textLmScore(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => bucket(r.getLong(0)) >= 8), "a train doc was scored")
    assert(rows.forall(_.getDouble(2) < 0.0), "a log-probability average >= 0")
    // an in-distribution doc must outscore out-of-vocabulary
    // gibberish. Hash buckets: ids 3, 4 train (< 8); 0, 1 eval (>= 8)
    val trainText = ("the cat sat on the mat " * 10).trim
    val dir = corpus(Seq(
      (3L, trainText, "s"), (4L, trainText, "s"),
      (0L, trainText, "s"),                        // eval: same distribution
      (1L, "zq xv qk jw zz yy xx ww vv uu", "s"))) // eval: unseen bigrams
    val out = TextAnalysis.textLmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(0L, 1L), s"expected only eval docs, got ${out.keySet}")
    assert(out(0L) > out(1L),
      s"in-distribution ${out(0L)} not above gibberish ${out(1L)}")
  }

  test("samplePerKey: heap selection equals the window formulation; executes TopKPerKey") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val df = PipelineOps.samplePerKey(spark, d)
    val out = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    val ref = graft.sources.Tables.table(spark, d, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("h", TextAnalysis.polyHashCol(col("doc_id").cast("string")))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= 5)
      .select(col("source"), col("sample_rank"), col("doc_id"), col("h"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == ref.toSet)
    assert(out.groupBy(_._1).values.forall(_.length <= 5))
    // the custom bounded-heap operator does the selection (the rank
    // window that follows runs over ≤ k rows per key, post-heap)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("round-5 operators are shuffle-partition-count invariant") {
    val d = "/root/testdata/sf0.001"
    def withPartitions[T](n: Int)(f: => T): T = {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try f finally spark.conf.set(key, prev)
    }
    val queries: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("dedup_spans", () => Dedup.dedupSpans(spark, d)),
      ("embed_outlier", () => Similarity.embedOutlier(spark, d)),
      ("agg_histogram_quantile", () => Relational.aggHistogramQuantile(spark, d)),
      ("sample_token_budget", () => PipelineOps.sampleTokenBudget(spark, d)),
      ("text_vocab", () => TextAnalysis.textVocab(spark, d)),
      ("pipeline_shard", () => PipelineOps.pipelineShard(spark, d)),
      // the post-wrap round-5 additions
      ("dedup_editdist", () => Dedup.dedupEditDistance(spark, d)),
      ("event_anomaly", () => Relational.eventAnomaly(spark, d)),
      ("join_bloom", () => Relational.joinBloom(spark, d)),
      ("join_division", () => Relational.joinDivision(spark, d)),
      ("cdc_diff", () => Relational.cdcDiff(spark, d)),
      ("dq_checks", () => Relational.dqChecks(spark, d)),
      ("window_islands", () => Relational.windowIslands(spark, d)),
      ("agg_regression", () => Relational.aggRegression(spark, d)),
      ("layout_zorder", () => Layout.layoutZorder(spark, d)),
      ("pipeline_pack", () => PipelineOps.pipelinePack(spark, d)),
      ("graph_jaccard", () => Graph.graphJaccard(spark, d)),
      ("mm_audio", () => Multimodal.mmAudio(spark, d)),
      ("source_jsonl", () => graft.sources.SourceFormats.sourceJsonl(spark, d)),
      ("sim_knn", () => Similarity.simKnn(spark, d)),
      ("text_entropy", () => TextAnalysis.textEntropy(spark, d)),
      ("text_gini", () => TextAnalysis.textGini(spark, d)),
      ("pipeline_mixture", () => PipelineOps.pipelineMixture(spark, d)),
      ("diag_skew", () => Relational.diagSkew(spark, d)),
      ("event_markov", () => Relational.eventMarkov(spark, d)),
      ("agg_weighted_median", () => Relational.aggWeightedMedian(spark, d)),
      ("window_growth", () => Relational.windowGrowth(spark, d)),
      // the round-5 continuation additions
      ("ts_gapfill", () => TimeSeries.tsGapfill(spark, d)),
      ("scd2_build", () => TimeSeries.scd2Build(spark, d)),
      ("interval_merge", () => TimeSeries.intervalMerge(spark, d)),
      ("event_attribution", () => Relational.eventAttribution(spark, d)),
      ("text_pmi", () => TextAnalysis.textPmi(spark, d)),
      ("corpus_overlap", () => Dedup.corpusOverlap(spark, d)),
      ("dedup_sorted_nbhd", () => Dedup.dedupSortedNeighborhood(spark, d)),
      ("sim_sparse", () => Similarity.simSparse(spark, d)),
      ("sketch_setops", () => Relational.sketchSetops(spark, d)),
      ("event_rfm", () => Relational.eventRfm(spark, d)),
      ("ts_interp", () => TimeSeries.tsInterp(spark, d)),
      ("scd2_lookup", () => TimeSeries.scd2Lookup(spark, d)),
      ("pipeline_holdout", () => PipelineOps.pipelineHoldout(spark, d)),
      ("layout_hilbert", () => Layout.layoutHilbert(spark, d)),
      ("text_rank", () => TextAnalysis.textRank(spark, d)),
      ("dq_psi", () => TextAnalysis.dqPsi(spark, d)),
      // this round's additions
      ("dedup_semantic", () => Dedup.dedupSemantic(spark, d)),
      ("sample_weighted", () => PipelineOps.sampleWeighted(spark, d)),
      ("cdc_apply", () => TimeSeries.cdcApply(spark, d)),
      ("agg_decay", () => TimeSeries.aggDecay(spark, d)),
      ("quality_logreg", () => TextAnalysis.qualityLogreg(spark, d)),
      ("graph_bfs", () => Graph.graphBfs(spark, d)),
      ("agg_mode", () => Relational.aggMode(spark, d)),
      ("agg_unpivot", () => Relational.aggUnpivot(spark, d)),
      ("agg_hll", () => Relational.aggHll(spark, d)),
      ("event_hopping", () => Relational.eventHopping(spark, d)),
      ("pipeline_curriculum", () => PipelineOps.pipelineCurriculum(spark, d)),
      ("sim_mips", () => Similarity.simMips(spark, d)),
      ("text_winnow", () => TextAnalysis.textWinnow(spark, d)),
      ("layout_zonemap", () => Layout.layoutZonemap(spark, d)),
      ("ts_ewma", () => TimeSeries.tsEwma(spark, d)),
      ("graph_components", () => Graph.graphComponents(spark, d)),
      ("text_bpe", () => TextAnalysis.textBpe(spark, d)),
      ("text_bpe_encode", () => TextAnalysis.textBpeEncode(spark, d)),
      ("embed_class_sep", () => Similarity.embedClassSep(spark, d)),
      ("sim_range", () => Similarity.simRange(spark, d)),
      ("text_logodds", () => TextAnalysis.textLogodds(spark, d)),
      // the round-6 additions
      ("retrieval_rrf", () => Similarity.retrievalRrf(spark, d)),
      ("layout_bucket", () => Layout.layoutBucket(spark, d)),
      ("dedup_substring", () => Dedup.dedupSubstring(spark, d)),
      ("sim_ivfpq", () => Similarity.simIvfPq(spark, d)),
      ("embed_pca", () => Similarity.embedPca(spark, d)),
      ("sample_per_key", () => PipelineOps.samplePerKey(spark, d)),
      ("layout_partition", () => Layout.layoutPartition(spark, d)),
      // the privacy/fertility additions
      ("privacy_kanon", () => Privacy.privacyKanon(spark, d)),
      ("privacy_risk", () => Privacy.privacyRisk(spark, d)),
      ("text_fertility", () => TextAnalysis.textFertility(spark, d)),
      ("pipeline_survivor", () => PipelineOps.pipelineSurvivor(spark, d)),
      ("chunk_token_budget", () => TextAnalysis.chunkTokenBudget(spark, d)),
      ("sim_recall", () => Similarity.simRecall(spark, d)),
      ("dq_profile", () => Relational.dqProfile(spark, d)),
      ("quality_cascade", () => TextAnalysis.qualityCascade(spark, d)))
    for ((name, fn) <- queries) {
      val narrow = withPartitions(3)(fn().collect().map(_.toString))
      val wide = withPartitions(17)(fn().collect().map(_.toString))
      assert(narrow.sameElements(wide), s"$name varies with partition count")
    }
  }

  test("textWinnow: selection equals brute-force winnowing; shared substrings collide") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "zzzz the quick brown fox jumps over the lazy dog yyyy"
    val texts = Map(1L -> t1, 2L -> t2, 3L -> "short")
    val dir = corpus(texts.toSeq.map { case (id, t) => (id, t, "a") })
    val out = TextAnalysis.textWinnow(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent reimplementation: rightmost-min per window of 4
    def poly(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    def winnow(text: String): Set[(Long, Long)] = {
      val p = text.take(256)
      if (p.length < 8) Set.empty
      else {
        val hs = (1 to p.length - 7)
          .map(i => (i.toLong, poly(p.substring(i - 1, i + 7))))
        if (hs.length < 4) Set.empty
        else (0 to hs.length - 4)
          .map(s0 => hs.slice(s0, s0 + 4).minBy { case (pos, h) => (h, -pos) })
          .toSet
      }
    }
    for ((id, t) <- texts) {
      val got = out.filter(_._1 == id).map(r => (r._2, r._3)).toSet
      assert(got == winnow(t), s"doc $id selection mismatch")
    }
    // the MOSS guarantee: a shared substring of length >= k+w-1 chars
    // yields at least one identical fingerprint hash on both sides
    val h1 = out.filter(_._1 == 1L).map(_._3).toSet
    val h2 = out.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty, "shared substring produced no shared hash")
    // density: every window of 4 consecutive grams holds a selection
    val sel1 = out.filter(_._1 == 1L).map(_._2).toSet
    for (s0 <- 1L to (t1.length - 7L) - 3L)
      assert((s0 until s0 + 4).exists(sel1), s"window at $s0 uncovered")
  }

  test("graph edge set builds once per corpus, shared by pagerank and triangles") {
    val d = "/root/testdata/sf0.001"
    Graph.graphPagerank(spark, d).collect()
    val after = ArtifactStore.builds("graph-edges-v1")
    Graph.graphTriangles(spark, d).collect()
    Graph.graphPagerank(spark, d).collect()
    assert(ArtifactStore.builds("graph-edges-v1") == after, "edge memo rebuilt")
  }

  test("textBpe: merges match an independent BPE trainer on the real corpus") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val wc = graft.sources.Tables.table(spark, d, "documents")
      .select(explode(expr("filter(split(text, ' +'), x -> x != '')")).as("w"))
      .filter(length(col("w")).between(2, 20) && !col("w").contains("\u001F"))
      .groupBy("w").agg(count(lit(1)).as("n")).filter(col("n") >= 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference trainer: greedy non-overlapping merge, ties (cnt desc, a, b)
    def train(words: Map[String, Long], iters: Int): Seq[(String, String, Long)] = {
      var vocab: Seq[(Vector[String], Long)] =
        words.toSeq.map { case (w, n) => (w.map(_.toString).toVector, n) }
      val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
      var stop = false
      for (_ <- 1 to iters if !stop) {
        val counts = scala.collection.mutable.Map
          .empty[(String, String), Long].withDefaultValue(0L)
        for ((syms, n) <- vocab; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) += n
        if (counts.isEmpty) stop = true
        else {
          val ((a, b), c) = counts.minBy { case ((x, y), m) => (-m, x, y) }
          out += ((a, b, c))
          vocab = vocab.map { case (syms, n) =>
            val buf = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                buf += (a + b); i += 2
              } else { buf += syms(i); i += 1 }
            }
            (buf.result(), n)
          }
        }
      }
      out.toSeq
    }
    val expect = train(wc, 8)
    val got = TextAnalysis.textBpe(spark, d).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expect, s"got $got\nexpect $expect")
    assert(got.length == 8)
  }

  test("textLogodds: a planted source-exclusive term tops its source") {
    // source A says 'zebrafish' constantly; B never does. Shared
    // filler keeps totals comparable.
    val filler = "the data and the model and the data"
    val dir = corpus(Seq(
      (1L, s"zebrafish $filler zebrafish zebrafish", "A"),
      (2L, s"zebrafish $filler zebrafish", "A"),
      (3L, s"$filler protein protein protein protein protein", "B"),
      (4L, s"$filler protein", "B")))
    val out = TextAnalysis.textLogodds(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val topA = out.filter(_._1 == "A").minBy(_._2)
    val topB = out.filter(_._1 == "B").minBy(_._2)
    assert(topA._3 == "zebrafish" && topA._4 == 5L && topA._5 == 0L, topA)
    assert(topB._3 == "protein" && topB._4 == 6L && topB._5 == 0L, topB)
    // deltas positive for exclusive terms, ranks contiguous per source
    assert(topA._6 > 0 && topB._6 > 0)
    for ((_, rs) <- out.groupBy(_._1))
      assert(rs.map(_._2).sorted.sameElements(1L to rs.length))
  }

  test("textBpe/textBpeEncode: exact merges + compression on a crafted corpus; one train per corpus") {
    val dir = corpus(Seq((1L, "aaaa aaaa aaaa", "s")))
    val before = ArtifactStore.builds("bpe-merges-v1")
    val vocabBefore = ArtifactStore.builds("bpe-vocab-v1")
    val merges = TextAnalysis.textBpe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // word "aaaa" (n=3): merge 1 = (a,a) weight 9, merge 2 = (aa,aa)
    // weight 3, then no pairs remain — trainer stops early
    assert(merges.toSeq == Seq((1L, "a", "a", 9L), (2L, "aa", "aa", 3L)),
      merges.mkString(", "))
    val enc = TextAnalysis.textBpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // 3 words x 4 chars -> 3 single-symbol tokens: 750000 ppm saved
    assert(enc.toSeq == Seq((1L, 3L, 12L, 3L, 750000L)), enc.mkString(", "))
    TextAnalysis.textBpe(spark, dir).collect()
    // text_bpe trains from the word-count index on every call; the
    // encoder reads the merge table, trained once from the same index
    assert(ArtifactStore.builds("bpe-merges-v1") == before + 1,
      "merge table retrained despite the session memo")
    assert(ArtifactStore.builds("bpe-vocab-v1") == vocabBefore + 1,
      "word counts recounted despite the session memo")
  }

  test("graphComponents: exact census on a crafted two-component graph") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-corpus").toString
    // orders (keys % 8 == 0): cliques {1,2,3} and {2,3,4} share nodes
    // (one component, 5 distinct edges); {10,11} is disjoint
    val li = Seq((0L, 1L), (0L, 2L), (0L, 3L), (8L, 2L), (8L, 3L), (8L, 4L),
      (16L, 10L), (16L, 11L))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Graph.graphComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 4L, 5L), (10L, 2L, 1L)), out.mkString(", "))
  }

  test("graphTriangles: exact counts on a crafted two-triangle graph") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tri-corpus").toString
    // orders (keys % 8 == 0) inducing cliques {1,2,3} and {2,3,4}:
    // triangles (1,2,3) + (2,3,4); per-node 1->1, 2->2, 3->2, 4->1
    val li = Seq((0L, 1L), (0L, 2L), (0L, 3L), (8L, 2L), (8L, 3L), (8L, 4L))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Graph.graphTriangles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 1L, 1L), (4L, 4L, 1L)))
  }

  test("graphBfs: hop distances and nearest-seed roots on a crafted path graph") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bfs-corpus").toString
    // path 1-2-3-4-5-6 via orders sharing consecutive parts; seeds =
    // the 3 smallest nodes {1,2,3}, so 4,5,6 are 1,2,3 hops from
    // seed 3 (ties impossible on this chain)
    val li = Seq((0L, 1L), (0L, 2L), (8L, 2L), (8L, 3L), (16L, 3L), (16L, 4L),
      (24L, 4L), (24L, 5L), (32L, 5L), (32L, 6L))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Graph.graphBfs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L, 1L), (2L, 0L, 2L), (3L, 0L, 3L),
      (4L, 1L, 3L), (5L, 2L, 3L), (6L, 3L, 3L)))
  }

  test("qualityLogreg: scores bounded, keep consistent, punctuation-heavy text penalized") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("logreg-corpus").toString
    val clean = "the quick brown fox jumps over the lazy dog and runs far away home"
    val noisy = "$$$ ### !!! @@@ %%% ^^^ &&& *** ((( ))) ___ +++ === ~~~ ``` |||"
    Seq((1L, clean), (2L, noisy)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.qualityLogreg(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    out.values.foreach { case (s, k) =>
      assert(s > 0.0 && s < 1.0)
      assert(k == (s >= 0.5), "keep must derive from the rounded score")
    }
    assert(out(1L)._1 > out(2L)._1, "clean prose must outscore symbol soup")
    assert(out(1L)._2 && !out(2L)._2)
  }

  test("pipelineCurriculum: bin-composed positions reproduce the true global order") {
    val d = "/root/testdata/sf0.001"
    val out = PipelineOps.pipelineCurriculum(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getString(4),
        r.getDouble(5)))
    val n = out.length
    assert(out.map(_._2).toSeq == (1L to n).toSeq,
      "positions must be consecutive 1..n despite no global sort")
    // position order == (score desc, doc_id) — the true total order
    val expected = out.sortBy { case (id, _, _, _, s) => (-s, id) }.map(_._1)
    assert(out.sortBy(_._2).map(_._1).toSeq == expected.toSeq)
    // phases cut at exact 20/80% token fractions and are contiguous
    val total = out.map(_._3).max
    out.foreach { case (_, _, cum, phase, _) =>
      val want = if (cum * 5 <= total) "warmup"
        else if (cum * 5 > total * 4) "anneal" else "main"
      assert(phase == want, s"cum=$cum total=$total got $phase")
    }
    assert(Set("warmup", "main", "anneal").subsetOf(out.map(_._4).toSet))
  }

  test("sampleWeighted: membership equals the local E-S computation; longer docs favored") {
    val dir = "/root/testdata/sf0.001"
    val out = PipelineOps.sampleWeighted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out.length == 100)
    // local replay of the priority transform: u from the same
    // portable hash, key = ln(u)/w, top-100
    val P = 1000000007L
    def polyHash(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    val docs = graft.sources.Tables.table(spark, dir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val local = docs.filter(_._2 > 0).map { case (id, w) =>
      val u = (polyHash(id.toString) + 1.0) / (P + 1.0)
      (id, w, BigDecimal(math.log(u) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, _, pr) => (-pr, id) }.take(100)
    assert(out.map(_._1).toSeq == local.map(_._1).toSeq, "membership/order differ")
    assert(out.map(_._3).toSeq == local.map(_._3).toSeq, "priorities differ")
    // weighting sanity: the sampled docs skew long — their mean
    // length must exceed the corpus mean (E-S with w = n_chars)
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val sampleMean = out.map(_._2).sum.toDouble / out.length
    assert(sampleMean > corpusMean, s"$sampleMean !> $corpusMean")
  }

  test("pipelineInterleave: stride order tracks √-weight shares within ±1 per source") {
    val dir = "/root/testdata/sf0.001"
    val rows = PipelineOps.pipelineInterleave(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rows.length == 200)
    // dense positions 1..200, FIFO within each source
    assert(rows.map(_._1).toSeq == (1L to 200L))
    rows.groupBy(_._3).foreach { case (s, rs) =>
      val ranks = rs.sortBy(_._1).map(_._4).toSeq
      assert(ranks == (1L to ranks.length.toLong),
        s"$s must emit its docs in doc_id (FIFO) order")
    }
    // the least-debt property: at EVERY prefix, each source's emitted
    // count is within ±1 of its √-weight share of the prefix
    val counts = graft.sources.Tables.table(spark, dir, "documents")
      .groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val w = counts.map { case (s, c) => s -> math.sqrt(c.toDouble) }
    val totW = w.values.sum
    val emitted = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((pos, _, s, _) <- rows.sortBy(_._1)) {
      emitted(s) += 1
      for ((src, ws) <- w) {
        val share = ws / totW * pos
        assert(math.abs(emitted(src) - share) <= 1.0 + 1e-9,
          s"prefix $pos: $src emitted ${emitted(src)} vs share $share")
      }
    }
  }
}
