package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkTestBase

/** Plan-shape guards: pushdown, broadcast, and the rank-filter ->
  * TopKPerKey optimizer rewrite.
  */
class PlanQualitySpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("q1: shipdate filter and column pruning reach the parquet scan") {
    val plan = graft.ext.Relational.q1Agg(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"))
    assert(!plan.contains("l_comment")) // never read
  }

  test("dimension chain plans as broadcast joins") {
    val plan = graft.ext.Relational.joinBroadcast(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2)
    assert(!plan.contains("SortMergeJoin"))
  }

  test("optimizer rewrites rank<=k filter to TopKPerKey when rank is projected away") {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    val df = spark.read.parquet(s"$dir/part.parquet")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("p_brand", "p_partkey", "p_retailprice") // rn dropped
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("TopKPerKey"), optimized)
    assert(!optimized.contains("Window"), optimized)
    // and execution works + matches the unrewritten semantics
    val viaRule = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = TopK.topKPerKey(
      spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice")),
      Seq("p_brand"), Seq("p_retailprice" -> true, "p_partkey" -> false), 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaRule == direct)
  }

  test("dedup_embedding pair generation is a distributed grid shuffle, not a driver collect") {
    val df = graft.ext.Dedup.dedupEmbedding(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // pair generation must run through a hash-partitioned exchange
    // into a grouped per-cell kernel (the old shape collected the
    // whole table to the driver and broadcast it back: a bare scan ->
    // mapPartitions with NO exchange before the final sort)
    assert(plan.contains("MapGroups"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).nonEmpty, plan)
    // and the result still matches the exact brute-force contract
    val viaGrid = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val brute = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      .crossJoin(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim",
        round(graft.functions.NativeFunctions.cosineSim(col("ea"), col("eb")), 6))
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= 0.45)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGrid == brute)
  }

  test("dedup_ngram postings join is an equi-join on the shingle, never a product") {
    val plan = graft.ext.Dedup.dedupNgram(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    // document frequency partial-aggregates map-side (groupBy+join):
    // only (shingle, count) partials cross the df exchange — a window
    // over raw postings would shuffle every posting on a skewed key
    assert(plan.contains("partial_count"), plan)
  }

  test("dedup_embedding_ann: banding ships no vectors, joins are equi-joins, result == exact grid") {
    // the banding table is (vec_id, band, sig) triples — the vectors
    // themselves are never replicated per band (nor per grid block)
    assert(graft.ext.Dedup.annBands(spark, dir, 4, 8).schema.fieldNames.toSeq ==
      Seq("vec_id", "band", "sig"))
    // Tier rule (r8 scale-up audit): the 0.45-envelope geometry has
    // B·2⁻ʷ·C_join ≥ 1 at every scale, so the operator delegates to
    // the grid kernel — the executed plan must NOT be the band join
    // (at factor 10 the band join measured 775.6 s vs the grid's
    // 8.6 s; exponent 2.13 vs 0.75).
    val df = graft.ext.Dedup.dedupEmbeddingAnn(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "0.45 envelope geometry must tier-select the grid kernel:\n" + plan)
    // The BANDED arm (taken when B·2⁻ʷ·C_join < 1, the hi-threshold
    // regime): candidate generation is a bucket equi-join on
    // (band, sig), and the composition reproduces the exact relation.
    val banded = graft.ext.Dedup.dedupEmbeddingAnnAt(spark, dir, 0.45, 12, 8)
    val bandedPlan = banded.queryExecution.executedPlan.toString
    assert(!bandedPlan.contains("CartesianProduct"), bandedPlan)
    assert(!bandedPlan.contains("BroadcastNestedLoopJoin"), bandedPlan)
    assert(bandedPlan.contains("SortMergeJoin") ||
      bandedPlan.contains("ShuffledHashJoin") ||
      bandedPlan.contains("BroadcastHashJoin"), bandedPlan)
    // the tier-selected grid reproduces the exact all-pairs relation
    val ann = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = graft.ext.Dedup.dedupEmbedding(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ann == exact)
    assert(ann.nonEmpty)
  }

  test("dedup_embedding_ann_hi: pruning geometry, no product, matches exact@0.8") {
    val df = graft.ext.Dedup.dedupEmbeddingAnnHi(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val hi = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the gate query runs over corpus ∪ planted twins (r14) — the
    // exact reference is the grid kernel over the SAME derived relation
    val base = graft.sources.Tables.table(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val exactHi = graft.ext.Dedup
      .dedupEmbeddingGridOn(
        base.unionByName(graft.ext.Dedup.plantedHiTwins(base)), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hi == exactHi)
    assert(hi.nonEmpty, "planted twins must make the hi gate non-vacuous")
  }

  test("dedup_contamination: eval shingle set broadcasts, df partial-aggregates, no product") {
    val plan = graft.ext.Dedup.dedupContamination(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the distinct eval-shingle set is the build side of a broadcast
    // equi-join — train postings never pair doc×doc
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("agg_weighted_median: window-free plan — no tiny-partition cumulative sort") {
    val df = graft.ext.Relational.aggWeightedMedian(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the round-6 audit flagged the old partitionBy(l_returnflag)
    // cumulative window (3 tasks at any scale); the bisection rework
    // must keep every stage a hash agg or bounded join
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // still the exact volume-weighted median per flag
    val out = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty && out.map(_._1).toSeq == out.map(_._1).toSeq.sorted)
    for ((flag, tot, med) <- out) {
      val rows = spark.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_returnflag") === flag)
        .select(col("l_extendedprice").cast("decimal(18,2)").cast("double"),
          col("l_quantity").cast("double"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1)))
      assert(math.round(rows.map(_._2).sum) == tot, s"total $flag")
      val half = rows.map(_._2).sum / 2
      val below = rows.filter(_._1 < med).map(_._2).sum
      val upto = rows.filter(_._1 <= med).map(_._2).sum
      assert(below < half + 1e-6 && upto >= half - 1e-6, s"median bracket $flag")
      assert(rows.exists(_._1 == med), s"median is an observed price $flag")
    }
  }

  test("text_vocab: top-K is TakeOrdered, term counts partial-aggregate, no product") {
    val plan = graft.ext.TextAnalysis.textVocab(spark, dir)
      .queryExecution.executedPlan.toString
    // the vocabulary never crosses the wire whole: K rows via the
    // distributed partial top-k, then the window runs on K rows only
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dedup_spans: gram df equi-joins back, aggs partial-combine, no product") {
    val plan = graft.ext.Dedup.dedupSpans(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("WindowExec"), plan)
  }

  test("sample_token_budget: running sum rides ONE stratum exchange, no product") {
    val plan = graft.ext.PipelineOps.sampleTokenBudget(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("join_bloom: probe filter sits on the fact scan below the join") {
    val plan = graft.ext.Relational.joinBloom(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
    // the probe must prune BEFORE the join: it appears in a Filter,
    // not above the join operator
    val probeIdx = plan.indexOf("bloom_might_contain")
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      "probe should be in the join's fact subtree (printed below it)\n" + plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("event_anomaly / agg_regression: moment aggs partial-combine, no window") {
    for (df <- Seq(graft.ext.Relational.eventAnomaly(spark, dir),
        graft.ext.Relational.aggRegression(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
      assert(!plan.contains("WindowExec"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("window_islands: window and both aggs ride ONE user_id-only exchange") {
    val plan = graft.ext.Relational.windowIslands(spark, dir)
      .queryExecution.executedPlan.toString
    // the distinct exchanges on (user_id, day_i); everything after
    // shares a single user_id-only partitioning
    assert("hashpartitioning\\(user_id#\\d+L, \\d+\\)".r
      .findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pipeline_pack: prefix sum rides ONE stratum exchange, no product") {
    val plan = graft.ext.PipelineOps.pipelinePack(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cdc_diff and graph_jaccard plan equi-joins, never products") {
    for (df <- Seq(graft.ext.Relational.cdcDiff(spark, dir),
        graft.ext.Graph.graphJaccard(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("dedup_editdist: variant join is a hash equi-join, no product") {
    val plan = graft.ext.Dedup.dedupEditDistance(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dedup_incremental: band join is batch x corpus equi, verify has no product") {
    val plan = graft.ext.Dedup.dedupIncremental(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sim_pq: ADC scan is a distributed kernel + rank window, no product") {
    val plan = graft.ext.Similarity.simPq(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // per-query top-k rides the rank-limit pushdown below the exchange
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("embed_outlier: one-row centroid broadcasts, top-k is TakeOrdered") {
    val plan = graft.ext.Similarity.embedOutlier(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // per-dim sums partial-aggregate before their exchange
    assert(plan.contains("partial_sum") || plan.contains("partial sum"), plan)
  }

  test("graph_triangles: wedge closure is equi-joins over the checkpointed edges") {
    val plan = graft.ext.Graph.graphTriangles(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("text_bm25: global top-k is TakeOrdered, scalar sides broadcast, no product") {
    val plan = graft.ext.TextAnalysis.textBm25(spark, dir)
      .queryExecution.executedPlan.toString
    // orderBy+limit must plan as the distributed partial top-k
    // operator, not a single-task global sort window
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("text_bm25_multi: query relation broadcasts, postings scan once, no product") {
    val df = graft.ext.TextAnalysis.textBm25Multi(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the (query_id, term) table and dfreq ride broadcast equi-joins
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the per-query top-k must use the rank-limit pushdown (partial
    // group-limit below the exchange), not a full per-query sort
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("text_repetition: aggs partial-combine map-side, no window, no product") {
    val plan = graft.ext.TextAnalysis.textRepetition(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("WindowExec"), plan)
  }

  test("sample_stratified: count and rank share ONE stratum exchange") {
    val plan = graft.ext.PipelineOps.sampleStratified(spark, dir)
      .queryExecution.executedPlan.toString
    // both window functions ride the same hashpartitioning(source)
    // exchange; the only other exchange is the presentation sort
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("text_tfidf broadcasts the one-row corpus count, equi-joins the term") {
    val plan = graft.ext.TextAnalysis.textTfidf(spark, dir)
      .queryExecution.executedPlan.toString
    // the N scalar rides a broadcast nested-loop (1-row build side);
    // the tf x df join must be an equi-join, and no plain cartesian
    // product may appear anywhere
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("sim_sparse: postings meet in equi-joins, top-k is TakeOrdered, no product") {
    val plan = graft.ext.Similarity.simSparse(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("text_pmi: totals broadcast as one row, top-k is TakeOrdered, no product") {
    val plan = graft.ext.TextAnalysis.textPmi(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // 1-row totals
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("dedup verify tier: building dedup_containment and dedup_sorted_nbhd " +
    "over a warm index starts no Spark job") {
    // warms the shingle-postings index and its max-df scalar
    graft.ext.Dedup.dedupContainment(spark, dir)
    // Spark resolves a parquet table's schema with a footer-read job;
    // dedup_sorted_nbhd reads `documents` once, the index is memoized
    val tableRead = jobsDuring(graft.sources.Tables.table(spark, dir, "documents"))
    var built = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsDuring {
      built = Seq(graft.ext.Dedup.dedupContainment(spark, dir),
        graft.ext.Dedup.dedupSortedNeighborhood(spark, dir))
    }
    assert(jobs == tableRead, s"jobs beyond the documents schema read: $jobs")
    // the gate corpus's max df is below VerifyHeavyDf: the plain
    // self-join count, no hybrid full-outer join, no checkpointed scan
    for (df <- built) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("FullOuter"), plan)
      assert(!plan.contains("ExistingRDD"), plan)
    }
  }

  test("dedup_sorted_nbhd: no global window — every window is block-partitioned") {
    val df = graft.ext.Dedup.dedupSortedNeighborhood(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // an empty partitionBy would plan the window behind an Exchange
    // SinglePartition; the block key must keep it hash-partitioned
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("dedup_sorted_nbhd: the candidate window runs once, its exchange reused") {
    val df = graft.ext.Dedup.dedupSortedNeighborhood(spark, dir)
    df.collect()
    // the verify tier reads the candidate pairs three times; the final
    // adaptive plan runs the window once and reuses its exchange
    val plan = df.queryExecution.executedPlan
    assert(FinalPlan.collect(plan) { case w: WindowExec => w }.size == 1, plan)
  }

  test("corpus_overlap: signature mins partial-aggregate map-side") {
    val df = graft.ext.Dedup.corpusOverlap(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the (source, j) min agg must combine before its shuffle
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"), plan)
  }

  test("sketch_setops: bottom-k rides the TopKPerKey bounded heap") {
    val df = graft.ext.Relational.sketchSetops(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("time-series family: keyed windows only, calendar join stays small-side") {
    val scd = graft.ext.TimeSeries.scd2Build(spark, dir)
      .queryExecution.executedPlan.toString
    // every window carries the user_id partition key
    assert(scd.contains("Window"), scd)
    assert(!scd.contains("CartesianProduct"), scd)
    val im = graft.ext.TimeSeries.intervalMerge(spark, dir)
      .queryExecution.executedPlan.toString
    assert(im.contains("Window") && !im.contains("CartesianProduct"), im)
    val att = graft.ext.Relational.eventAttribution(spark, dir)
      .queryExecution.executedPlan.toString
    assert(att.contains("Window") && !att.contains("CartesianProduct"), att)
  }

  test("scd2_lookup: PIT probe is a keyed join with interval residual, no product") {
    val plan = graft.ext.TimeSeries.scd2Lookup(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("text_rank / layout_hilbert / dq_psi: no products, aggs partial-combine") {
    for (df <- Seq(
      graft.ext.TextAnalysis.textRank(spark, dir),
      graft.ext.Layout.layoutHilbert(spark, dir),
      graft.ext.TextAnalysis.dqPsi(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("chunk pipeline: no window, one exchange; ingestion has no shuffle") {
    val plan = graft.ops.ChunkPipeline.docChunkStats(spark, dir,
      graft.split.SplitConfig(chunkSize = 100, chunkOverlap = 0))
      .queryExecution.executedPlan.toString
    // each document is folded to its row in the scan task: the rollup's
    // re-agg is the one exchange, and the report is ordered inside its
    // one output partition, no range sort
    assert(!plan.contains("Window"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("rangepartitioning"), plan)

    import graft.sources.pdf.{PdfFixtures, PdfTextExtractor}
    val root = java.nio.file.Files.createTempDirectory("ingestplan")
    for (i <- 1 to 6)
      java.nio.file.Files.write(root.resolve(s"f$i.pdf"),
        PdfFixtures.classicPdf(Seq.fill(i)("word " * (20 * i))))
    val opts = graft.Engine.Options(glob = "*.pdf",
      split = graft.split.SplitConfig(chunkSize = 60), extractor = PdfTextExtractor)
    val out = java.nio.file.Files.createTempDirectory("ingestsink").resolve("out").toString
    val run = sparkRunDuring {
      graft.ops.ChunkPipeline.chunkMetrics(graft.Engine.chunks(spark, root.toString, opts))
        .write.mode("overwrite").parquet(out)
    }
    assert(run.jobs.size == 1, run)
    assert(run.stages == 1, run)
    assert(run.shuffleBytes == 0, run)
    val written = spark.read.parquet(out)
    assert(written.count() > 21 && written.filter(col("offset_in_file") > 0).count() > 0)
  }

  test("rewrite does NOT fire when the rank column is observed") {
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc)
    val df = spark.read.parquet(s"$dir/part.parquet")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("p_brand", "rn") // rn kept -> Window must stay
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Window"), optimized)
    assert(!optimized.contains("TopKPerKey"), optimized)
  }

  test("dedup_semantic: pair generation is a bucket equi-join, never a cartesian") {
    val plan = graft.ext.Dedup.dedupSemantic(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sample_weighted: global top-k plans as TakeOrderedAndProject, no full sort") {
    val plan = graft.ext.PipelineOps.sampleWeighted(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("agg_decay: one-row anchor broadcasts, decay is rowwise, one keyed hash agg") {
    val plan = graft.ext.TimeSeries.aggDecay(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("quality_logreg: inference is a pure rowwise expression, zero hash exchanges") {
    val plan = graft.ext.TextAnalysis.qualityLogreg(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("graph_bfs: relaxation rounds are equi-joins over checkpointed state, no product") {
    val plan = graft.ext.Graph.graphBfs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("pipeline_curriculum: fact windows ride the bin partition, offsets broadcast") {
    val plan = graft.ext.PipelineOps.pipelineCurriculum(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("hashpartitioning(ord_bin"), plan)
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2, plan)
  }

  test("agg_mode: two-level hash aggs, no per-key sort, no value collection") {
    val plan = graft.ext.Relational.aggMode(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("collect_list"), plan)
    assert(!plan.contains("Sort") ||
      plan.indexOf("Sort") > plan.indexOf("Aggregate") ||
      plan.contains("rangepartitioning"), plan) // only the presentation sort
  }

  test("cdc_apply: one hash agg with map-side max_by partials, no per-key window sort") {
    val plan = graft.ext.TimeSeries.cdcApply(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_max_by") || plan.contains("partial max_by")
      || plan.contains("max_by"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("layout_zonemap: fact reads two columns; products stay at zone scale") {
    val plan = graft.ext.Layout.layoutZonemap(spark, dir)
      .queryExecution.executedPlan.toString
    // the fact scan reads only (l_shipdate, l_partkey)
    assert(plan.contains("l_shipdate") && plan.contains("l_partkey"), plan)
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_orderkey"), plan)
    // no fact-side sort-merge join: the only joins are zone/pred-scale
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("ts_ewma: facts meet one agg, series fold is calendar-scale — no fact window") {
    val plan = graft.ext.TimeSeries.tsEwma(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    // daily reduce + per-key collect: exactly two keyed exchanges
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
  }

  test("text_winnow: rowwise selection — no joins, no aggs, no hash exchange") {
    val plan = graft.ext.TextAnalysis.textWinnow(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("privacy_kanon: one QI hash agg, no joins") {
    val plan = graft.ext.Privacy.privacyKanon(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert("HashAggregate".r.findAllIn(plan).size <= 2, plan) // partial+final
  }

  test("privacy_risk: one corpus scan; total is a band-scale window, no join") {
    val plan = graft.ext.Privacy.privacyRisk(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // one scan of documents: the corpus total must NOT re-read the table
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Window"), plan)
  }

  test("text_fertility: encode folds stay rowwise; one language-keyed agg") {
    val plan = graft.ext.TextAnalysis.textFertility(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // words explode once; the merge-table fold is projections, not joins
    assert("Generate".r.findAllIn(plan).size == 1, plan)
  }

  test("pipeline_survivor: one family-keyed hash agg on packed keys — no window, no product") {
    val plan = graft.ext.PipelineOps.pipelineSurvivor(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // argmax and min-id baseline both ride the SAME agg: exactly one
    // family-keyed exchange in the post-join stage
    assert("Exchange hashpartitioning\\(family_id".r.findAllIn(plan).size <= 1,
      plan)
  }

  test("chunk_token_budget: fully rowwise — no joins, no aggs, no explode") {
    val plan = graft.ext.TextAnalysis.chunkTokenBudget(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("sim_recall: probe rows broadcast into one bucket equi-join; no product") {
    val plan = graft.ext.Similarity.simRecall(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("embed_class_sep: centroids broadcast back; no sort-merge join anywhere") {
    val plan = graft.ext.Similarity.embedClassSep(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim_range: probes broadcast, no window, no sort-merge join") {
    val plan = graft.ext.Similarity.simRange(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("text_logodds: one corpus-scale agg; source totals broadcast") {
    val plan = graft.ext.TextAnalysis.textLogodds(spark, dir)
      .queryExecution.executedPlan.toString
    // the corpus explode+agg runs ONCE, inside the eager checkpoint
    // of the (source, term) relation — the served plan derives every
    // branch from that cut (zero Generate nodes; without the cut,
    // four corpus passes appeared here)
    assert("Generate".r.findAllIn(plan).size == 0, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("layout_bucket: join AND per-customer agg ride the buckets — zero hash exchanges") {
    val plan = graft.ext.Layout.layoutBucket(spark, dir)
      .queryExecution.executedPlan.toString
    // both scans report HashPartitioning(custkey, 8) from the bucket
    // layout: the forced SMJ sorts in place, and the (custkey,
    // segment) aggregate is satisfied by the same partitioning —
    // the only Exchange left is the presentation sort's range one
    assert(plan.contains("SortMergeJoin"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 0, plan)
  }

  test("layout_partition: the type filter prunes at the listing, not in the scan") {
    val plan = graft.ext.Layout.layoutPartition(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("event_type"), plan)
  }

  test("retrieval_rrf: every ranking is a TakeOrderedAndProject, fusion is list-scale") {
    val plan = graft.ext.Similarity.retrievalRrf(spark, dir)
      .queryExecution.executedPlan.toString
    // lex arm, dense arm, fused top-k: three orderBy+limit, each a
    // partition-local top-N merge — never a global sort of the
    // corpus; the 1-row probe rides a broadcast, not a product
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("embed_pca: projection is a pure map over the scan — no joins, no hash exchange") {
    val plan = graft.ext.Similarity.embedPca(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 0, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("sim_ivfpq: probe set broadcasts into the list equi-join; no product") {
    val plan = graft.ext.Similarity.simIvfPq(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dedup_substring: gram-keyed seed join; islands window feeds the span agg unshuffled") {
    val plan = graft.ext.Dedup.dedupSubstring(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    // ≤ 3 hash exchanges: the join's two inputs and the island
    // window's (a, b, diag) — the span aggregate reuses the window's
    // partitioning (its keys are a superset), adding none
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 3, plan)
  }

  test("sim_sq8: probes broadcast; quantize + integer distance stay codegen'd HOFs") {
    val plan = graft.ext.Similarity.simSq8(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan)
    // no Scala UDF anywhere — transform/zip_with/aggregate only
    assert(!plan.contains("UDF"), plan)
  }

  test("sim_matryoshka: candidate scan joins the broadcast probes once; " +
    "both windows are per-probe partitioned") {
    val plan = graft.ext.Similarity.simMatryoshka(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the coarse and exact windows both key on q_id — no corpus-scale
    // unpartitioned window anywhere
    assert("Window".r.findAllIn(plan).size >= 2, plan)
  }

  test("pipeline_interleave: global order is a distributed sort + limit; " +
    "the rank window sees only the bounded head") {
    val df = graft.ext.PipelineOps.pipelineInterleave(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the corpus-scale step must be TakeOrderedAndProject / Sort+Limit,
    // with the unpartitioned row_number window AFTER the limit (≤200
    // rows — the repo's bounded presentation-window pattern)
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("Limit"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val rows = df.collect()
    assert(rows.length == 200)
  }

  test("round-14 operators: no products, broadcast where designed") {
    // one plan sweep over the round's additions — every plan must be
    // product-free, and the designed broadcast sides must actually
    // broadcast (a silent fallback to SMJ on a day-grid or a 50-row
    // exact top-k is the regression this pins against)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Boolean)] = Seq(
      ("retrieval_mrr", graft.ext.Similarity.retrievalMrr(spark, dir), true),
      ("privacy_dp_mean", graft.ext.Privacy.privacyDpMean(spark, dir), false),
      ("agg_corr", graft.ext.Relational.aggCorr(spark, dir), false),
      ("window_ntile", graft.ext.Relational.windowNtile(spark, dir), false),
      ("event_paths", graft.ext.Relational.eventPaths(spark, dir), true),
      ("event_stickiness",
        graft.ext.Relational.eventStickiness(spark, dir), false),
      ("event_new_users", graft.ext.Relational.eventNewUsers(spark, dir), false),
      ("ts_winsorize", graft.ext.TimeSeries.tsWinsorize(spark, dir), true),
      ("event_gini", graft.ext.Relational.eventGini(spark, dir), false),
      ("agg_hhi", graft.ext.Relational.aggHhi(spark, dir), false),
      ("ts_drawdown", graft.ext.TimeSeries.tsDrawdown(spark, dir), false),
      ("event_funnel_time",
        graft.ext.Relational.eventFunnelTime(spark, dir), true))
    for ((name, df, wantsBroadcast) <- cases) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      // sanctioned nested-loop shapes — all with a 1-ROW or
      // QUERY-GRAIN broadcast build side, bounded by the probe count
      // rather than the corpus: event_paths' 1-row share denominator,
      // retrieval_mrr's composed sim_topk self-exclusion predicate.
      // event_stickiness left this set in round 15: its interval join
      // became an explode(sequence)+equi-join (ADVICE r14). Anything
      // else must not NL-join.
      if (!Set("event_paths", "retrieval_mrr").contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      if (wantsBroadcast)
        assert(plan.contains("BroadcastExchange") ||
          plan.contains("BroadcastHashJoin"),
          s"$name: designed broadcast side fell back to a shuffle:\n$plan")
    }
  }

  test("round-15 operators: no products, broadcast where designed") {
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Boolean)] = Seq(
      ("q18_large_orders",
        graft.ext.Relational.q18LargeOrders(spark, dir), true),
      ("q21_waiting_suppliers",
        graft.ext.Relational.q21WaitingSuppliers(spark, dir), false),
      ("q22_global_sales",
        graft.ext.Relational.q22GlobalSales(spark, dir), true),
      ("asof_tolerance", graft.ext.Relational.asofTolerance(spark, dir), false),
      ("agg_moments", graft.ext.Relational.aggMoments(spark, dir), false),
      ("agg_theil", graft.ext.Relational.aggTheil(spark, dir), false),
      ("dq_referential", graft.ext.Relational.dqReferential(spark, dir), false),
      ("graph_motifs", graft.ext.Graph.graphMotifs(spark, dir), false),
      ("text_rake", graft.ext.TextAnalysis.textRake(spark, dir), true),
      ("sim_bq_rerank", graft.ext.Similarity.simBqRerank(spark, dir), true),
      ("privacy_dp_topk", graft.ext.Privacy.privacyDpTopk(spark, dir), true),
      ("event_stickiness_kmv",
        graft.ext.Relational.eventStickinessKmv(spark, dir), false))
    for ((name, df, wantsBroadcast) <- cases) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      // sanctioned nested-loop shapes: the 1-ROW broadcast aggregates
      // (q22's positive-balance scalar + max-date cutoff, graph_motifs'
      // three 1-row census aggregates) and sim_bq_rerank's
      // probe-broadcast self-exclusion predicate (the sim_hamming
      // family shape). dq_referential LEFT this list in round 17
      // (VERDICT r16 ask #8): its 1-row crossJoins died with the r16
      // one-full-outer-pass rewrite, and the tightened pin below locks
      // the new shape in.
      if (!Set("q22_global_sales", "graph_motifs",
          "sim_bq_rerank").contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      // dq_referential's per-edge stats must stay ONE full-outer pass
      // over the two distinct'd key sets — fail on reintroduction of
      // the 3-pass anti-join/count shape (its 3 extra distincts showed
      // as extra fact aggregations)
      if (name == "dq_referential") {
        assert(plan.contains("FullOuter"), s"$name:\n$plan")
        assert(!plan.contains("LeftAnti"), s"$name:\n$plan")
      }
      if (wantsBroadcast)
        assert(plan.contains("BroadcastExchange") ||
          plan.contains("BroadcastHashJoin"),
          s"$name: designed broadcast side fell back to a shuffle:\n$plan")
    }
  }

  test("round-15 second-session operators: no products, broadcast where designed") {
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Boolean)] = Seq(
      ("q2_min_cost_supplier",
        graft.ext.TpchMore.q2MinCostSupplier(spark, dir), true),
      ("q4_order_priority",
        graft.ext.TpchMore.q4OrderPriority(spark, dir), true),
      ("q7_volume_shipping",
        graft.ext.TpchMore.q7VolumeShipping(spark, dir), true),
      ("q8_market_share", graft.ext.TpchMore.q8MarketShare(spark, dir), true),
      ("q9_product_profit",
        graft.ext.TpchMore.q9ProductProfit(spark, dir), true),
      ("q10_returned_items",
        graft.ext.TpchMore.q10ReturnedItems(spark, dir), true),
      ("q11_important_stock",
        graft.ext.TpchMore.q11ImportantStock(spark, dir), true),
      ("q12_ship_priority",
        graft.ext.TpchMore.q12ShipPriority(spark, dir), false),
      ("q13_customer_dist",
        graft.ext.TpchMore.q13CustomerDist(spark, dir), false),
      ("q14_promo_share", graft.ext.TpchMore.q14PromoShare(spark, dir), true),
      ("q15_top_supplier",
        graft.ext.TpchMore.q15TopSupplier(spark, dir), true),
      ("q16_parts_suppliers",
        graft.ext.TpchMore.q16PartsSuppliers(spark, dir), true),
      ("q17_small_quantity",
        graft.ext.TpchMore.q17SmallQuantity(spark, dir), true),
      ("q19_discounted", graft.ext.TpchMore.q19Discounted(spark, dir), true),
      ("q20_dominant_suppliers",
        graft.ext.TpchMore.q20DominantSuppliers(spark, dir), true),
      // graph_hits checkpoints each round eagerly, so the broadcast L1
      // normalizers run before the plan is returned; the returned plan
      // must be the rank over the last round's checkpointed state
      // (TakeOrdered over ExistingRDD), pinned separately below.
      ("graph_hits", graft.ext.Graph.graphHits(spark, dir), false),
      ("graph_walks", graft.ext.Graph.graphWalks(spark, dir), false),
      ("ts_bollinger", graft.ext.TimeSeries.tsBollinger(spark, dir), false),
      ("interval_allen", graft.ext.TimeSeries.intervalAllen(spark, dir), false),
      ("dq_freshness", graft.ext.Relational.dqFreshness(spark, dir), true),
      ("event_cohort_ltv",
        graft.ext.Relational.eventCohortLtv(spark, dir), true),
      ("privacy_dp_quantile",
        graft.ext.Privacy.privacyDpQuantile(spark, dir), true),
      ("text_langid_eval",
        graft.ext.TextAnalysis.textLangidEval(spark, dir), false),
      ("embed_norm_audit",
        graft.ext.Similarity.embedNormAudit(spark, dir), false),
      ("ts_holtwinters", graft.ext.TimeSeries.tsHoltWinters(spark, dir), false),
      ("ts_theilsen", graft.ext.TimeSeries.tsTheilSen(spark, dir), false),
      ("privacy_generalize",
        graft.ext.Privacy.privacyGeneralize(spark, dir), true),
      ("sample_neyman", graft.ext.PipelineOps.sampleNeyman(spark, dir), true))
    for ((name, df, wantsBroadcast) <- cases) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      // sanctioned nested-loop shapes — every one a 1-ROW broadcast
      // aggregate build side: q15's max-revenue scalar, q11's and
      // dq_freshness's corpus totals, graph_hits' per-round L1
      // normalizers, privacy_dp_quantile's total/max/weight scalars
      if (!Set("q15_top_supplier", "q11_important_stock", "dq_freshness",
          "graph_hits", "privacy_dp_quantile", "sample_neyman").contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      if (wantsBroadcast)
        assert(plan.contains("BroadcastExchange") ||
          plan.contains("BroadcastHashJoin"),
          s"$name: designed broadcast side fell back to a shuffle:\n$plan")
      if (name == "graph_hits")
        assert(plan.contains("TakeOrderedAndProject") &&
          plan.contains("ExistingRDD"),
          s"$name: serve plan is not the checkpointed-state rank:\n$plan")
    }
  }

  test("rank-walk domain audit (round 15, VERDICT r14 ask #2): every " +
    "cumulative-walk window runs over a value-bounded domain, never entity grain") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // A "walk" is a window whose partition key is low-cardinality
    // (≤ a handful of values) — the shape that serializes onto a few
    // tasks at 100× unless its INPUT is value-bounded. Per-entity
    // windows (user_id / doc_id partitions) are the sessionize
    // exchange and scale with the key; they are exempt here.
    val walkKeys = Set("transition", "event_type", "l_returnflag", "cohort_w")
    // columns whose presence in a walk input proves entity/fact grain
    val entityGrain = Set("user_id", "event_id", "doc_id", "vec_id",
      "delta_us", "ts_us", "ts_ns", "l_orderkey", "o_orderkey",
      "c_custkey", "o_custkey", "p_partkey", "s_suppkey")
    // The audit table — each walk query with its declared domain
    // bound (the witness column the walk input must be grouped to):
    //   dq_iqr            price-cents domain   (pc)
    //   ts_mad            calendar days        (day_idx)
    //   ts_winsorize      calendar days        (day_c — the day-grain
    //                     cents cell; column pruning drops day_i from
    //                     the upper count window's input)
    //   event_gini        events-per-user counts (x)
    //   event_funnel_time log2 delta buckets ≤63 (bucket; round-15 fix)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
      // dq_iqr moved to the window-free pin below (round 16): its
      // quantiles now run the fixed-bin bisection, no walk window
      ("ts_mad", graft.ext.TimeSeries.tsMad(spark, dir), "day_idx"),
      ("ts_winsorize", graft.ext.TimeSeries.tsWinsorize(spark, dir), "day_c"),
      ("event_gini", graft.ext.Relational.eventGini(spark, dir), "x"),
      ("event_funnel_time",
        graft.ext.Relational.eventFunnelTime(spark, dir), "bucket"),
      // round-15 second session: Bollinger's trailing frame rides the
      // calendar-day series; cohort LTV's cumsum rides the age-week
      // cells (both value-bounded domains)
      ("ts_bollinger", graft.ext.TimeSeries.tsBollinger(spark, dir), "day_i"),
      ("event_cohort_ltv",
        graft.ext.Relational.eventCohortLtv(spark, dir), "age_w"))
    for ((name, df, witness) <- cases) {
      val windows = df.queryExecution.optimizedPlan
        .collect { case w: LWindow => w }
      val walks = windows.filter(w => w.partitionSpec.nonEmpty &&
        w.partitionSpec.forall(_.references.forall(a =>
          walkKeys.contains(a.name))))
      assert(walks.nonEmpty,
        s"$name: no low-cardinality walk window found — audit table stale?")
      for (w <- walks) {
        val cols = w.child.output.map(_.name).toSet
        assert(cols.contains(witness),
          s"$name: walk input lost its domain witness '$witness' (saw $cols)")
        val leaked = cols.intersect(entityGrain)
        assert(leaked.isEmpty,
          s"$name: walk input carries entity-grain columns $leaked — the " +
            "window would sort entity-grain rows on a low-cardinality " +
            "partition key at 100x (the event_funnel_time r14 miss)")
      }
    }
    // agg_weighted_median and dq_iqr are window-free BY DESIGN (the
    // partition-parallel fixed-bin bisection) — pin that too
    for ((nm, q) <- Seq(
        ("agg_weighted_median",
          graft.ext.Relational.aggWeightedMedian(spark, dir)),
        ("dq_iqr", graft.ext.Relational.dqIqr(spark, dir)))) {
      val wm = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(wm.isEmpty,
        s"$nm grew a window — the bisection design is window-free")
    }
  }

  test("graph_walks step joins hit the full (src, idx) key — no post-join " +
    "pick filter (VERDICT r15 finding #1)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val qe = graft.ext.Graph.graphWalks(spark, dir).queryExecution
    // Every frontier-step join must carry `idx` INSIDE its join
    // condition (the two-key equi-join (cur, pick) = (src, idx) —
    // exactly one adjacency row per walker); a `Filter(idx = …)`
    // ABOVE a join is the deg(v)-expansion shape the r15 judge
    // flagged: hub nodes fan out deg(hub) rows per visiting walker
    // before the pick filter prunes them.
    val joins = qe.optimizedPlan.collect { case j: LJoin => j }
    val stepJoins = joins.filter(_.condition.exists(
      _.references.exists(_.name == "idx")))
    assert(stepJoins.size == 4,
      s"expected 4 two-key step joins on idx, saw ${stepJoins.size}:\n" +
        qe.optimizedPlan)
    val postJoinIdxFilters = qe.optimizedPlan.collect {
      case f: LFilter if f.references.exists(_.name == "idx") &&
        f.find(_.isInstanceOf[LJoin]).isDefined => f
    }
    assert(postJoinIdxFilters.isEmpty,
      s"pick filter above a join — deg(v) expansion is back:\n${qe.optimizedPlan}")
    // and the physical plan keeps both keys in the join, no product
    val phys = qe.executedPlan.toString
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"), phys)
  }

  test("Engine.report and writeCsv: one job of one stage, a task per bin") {
    import graft.sources.FileSources
    import graft.sources.pdf.{PdfFixtures, PdfTextExtractor}
    val root = java.nio.file.Files.createTempDirectory("statsplan")
    // more files than bins, of unequal sizes
    val names = (1 to 20).map(i => f"f$i%02d.pdf")
    for ((name, i) <- names.zipWithIndex)
      java.nio.file.Files.write(root.resolve(name),
        PdfFixtures.classicPdf(Seq.fill(1 + i % 5)("page " * (1 + i))))
    val opts = graft.Engine.Options(glob = "*.pdf", extractor = PdfTextExtractor)
    val listing = org.apache.spark.sql.graft.ColumnBridge.binaryFileListing(
      FileSources.binaryFiles(spark, root.toString, opts.glob))
    val bins = FileSources.packBins(listing.files.map(s => (s.getPath.toString, s.getLen)),
      4 * spark.sparkContext.defaultParallelism, listing.openCostInBytes)
    assert(bins.size == math.min(names.size, 4 * spark.sparkContext.defaultParallelism))
    var rows = Seq.empty[String]
    val run = sparkRunDuring {
      val report = graft.Engine.report(spark, root.toString, opts)
      graft.ops.ChunkPipeline.writeCsv(report,
        java.nio.file.Files.createTempDirectory("statscsv").resolve("out").toString)
      rows = report.collect().map(_.getString(0)).toSeq
    }
    assert(run.jobs.size == 1, run)
    assert(run.stages == 1, run)
    assert(run.shuffleBytes == 0, run)
    assert(run.tasks == bins.size, run)
    assert(rows == names :+ "SUM TOTAL")
  }

  test("Engine.report: one Spark job, no exchange; its CSV write starts none") {
    import graft.sources.pdf.{PdfFixtures, PdfTextExtractor}
    val root = java.nio.file.Files.createTempDirectory("reportplan")
    for ((name, text) <- Seq("c.pdf" -> "three", "a.pdf" -> "one", "b.pdf" -> "two"))
      java.nio.file.Files.write(root.resolve(name), PdfFixtures.classicPdf(Seq(text)))
    var report: org.apache.spark.sql.DataFrame = null
    var rows = Seq.empty[String]
    val jobs = jobsDuring {
      report = graft.Engine.report(spark, root.toString,
        graft.Engine.Options(glob = "*.pdf", extractor = PdfTextExtractor))
      rows = report.collect().map(_.getString(0)).toSeq
    }
    assert(jobs.size == 1, jobs)
    assert(rows == Seq("a.pdf", "b.pdf", "c.pdf", "SUM TOTAL"))
    val plan = report.queryExecution.executedPlan
    assert(FinalPlan.collect(plan) { case e: Exchange => e }.isEmpty, plan)
    val out = java.nio.file.Files.createTempDirectory("reportcsv").resolve("out")
    assert(jobsDuring(graft.ops.ChunkPipeline.writeCsv(report, out.toString)).isEmpty)
  }

  test("Engine.processRoots: one job of one stage and no SQL execution; " +
    "writeCsv of a DataFrame collects it in one") {
    import graft.sources.pdf.{PdfFixtures, PdfTextExtractor}
    val root = java.nio.file.Files.createTempDirectory("rootsplan")
    for (i <- 1 to 20)
      java.nio.file.Files.write(root.resolve(f"f$i%02d.pdf"),
        PdfFixtures.classicPdf(Seq.fill(1 + i % 5)("page " * i)))
    val opts = graft.Engine.Options(glob = "*.pdf", extractor = PdfTextExtractor)
    val outDir = java.nio.file.Files.createTempDirectory("rootscsv")
    val run = sparkRunDuring(graft.Engine.processRoots(spark, Seq(root.toString), outDir.toString, opts))
    assert(run.jobs.size == 1, run)
    assert(run.stages == 1, run)
    assert(run.sqlExecutions == 0, run)
    val out = outDir.resolve(graft.Engine.sanitizeFolderPath(root.toString))
    val csv = java.nio.file.Files.list(out).toArray.map(_.toString).filter(_.endsWith(".csv"))
    assert(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(csv.head)).size == 22)

    for (df <- Seq(graft.Engine.report(spark, root.toString, opts),
        spark.range(30).selectExpr("id", "cast(id * 7 as string) AS s").repartition(3))) {
      val write = sparkRunDuring(graft.ops.ChunkPipeline.writeCsv(df,
        java.nio.file.Files.createTempDirectory("dfcsv").resolve("out").toString))
      assert(write.sqlExecutions == 1, write)
    }
  }

  test("a warm third pass over the operator_mix queries compiles at most 5 classes") {
    // the codegen cache is sized by GraftSession.start; at Spark's 100
    // entries each warm pass recompiles what the pass before evicted
    val queries = Seq("dedup_containment", "dedup_sorted_nbhd", "graph_jaccard",
      "sim_knn", "text_pmi", "layout_bucket")
    def pass(): Unit = queries.foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())
    pass() // builds the memos
    pass() // warms the codegen cache
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled <= 5, s"a warm pass compiled $compiled classes")
  }
}

/** Walks an executed adaptive plan's final stages (a reused exchange is
  * a leaf there, so each planned subtree counts once).
  */
private object FinalPlan extends AdaptiveSparkPlanHelper
