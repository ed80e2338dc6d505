package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline-level operators: the compositions a training-data
  * pipeline actually runs, built from the registered operator
  * families (quality scoring, exact + near-dup dedup, hashing) —
  * registered as first-class gate queries so the composition itself
  * is oracle-verified, not just its parts.
  */
object PipelineOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(spark, dir, "documents")

  /** Deterministic train/val/test split assignment: bucket =
    * portable polynomial hash of the STRING doc id mod 10 → 8/1/1
    * split. Hash-based (not `doc_id % k`) so ordered id ranges don't
    * stripe into one split; content-independent so re-ingesting a
    * fixed corpus reproduces the split exactly — the reproducibility
    * contract a training pipeline needs. Rowwise and stateless (the
    * only exchange is the final presentation sort); the hash is the
    * SHARED [[TextAnalysis.polyHashCol]] fold, bit-exact in DuckDB.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        (TextAnalysis.polyHashCol(col("doc_id").cast("string")) % 10).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("source"), col("bucket"), col("split"))
      .orderBy("doc_id")

  val splitAssignSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    ${TextAnalysis.polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 AS bucket
       |  FROM documents)
       |SELECT doc_id, source, bucket,
       |  CASE WHEN bucket < 8 THEN 'train'
       |       WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
       |FROM h ORDER BY doc_id""".stripMargin

  private val SampleRate = 0.2

  /** Exact-rate reproducible stratified sampling: within each
    * `source` stratum, rank rows by the portable hash of the doc id
    * and keep the first ceil(rate · n_s). Bernoulli sampling
    * (`df.sample`) only hits the rate in EXPECTATION and changes
    * membership with partitioning; rank-by-hash gives exact
    * per-stratum counts and engine-reproducible membership — the
    * eval-set-construction contract. Fully distributed: one
    * hash-partition exchange on `source`, the count and rank ride
    * the same window partition, no driver participation. Strata are
    * source-cardinality (small); for a pathological single giant
    * stratum the same rank-by-hash composes with TopKPerKey's
    * bounded heap when the kept count fits one task's budget.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val byStratum = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val ranked = byStratum.orderBy(col("h"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        TextAnalysis.polyHashCol(col("doc_id").cast("string")).as("h"))
      .withColumn("n_s", count(lit(1)).over(byStratum))
      .withColumn("rn", row_number().over(ranked))
      .filter(col("rn") <= ceil(col("n_s") * lit(SampleRate)))
      .select(col("doc_id"), col("source"), col("rn").cast("long").as("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  val sampleStratifiedSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    ${TextAnalysis.polyHashSql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n_s
       |  FROM h)
       |SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
       |FROM r WHERE rn <= ceil(n_s * $SampleRate)
       |ORDER BY source, sample_rank""".stripMargin

  private val TokenBudget = 800L

  /** Per-source token-BUDGET selection: walk each source's documents
    * in portable-hash order and keep docs while the running token
    * total stays within [[TokenBudget]] — the "give me N tokens per
    * domain" primitive behind data-mixture construction (domain
    * reweighting samples token budgets, not document counts, because
    * document length varies by orders of magnitude across sources).
    * Hash order makes membership reproducible and unbiased by
    * ingestion order; the budget boundary is exact, not
    * in-expectation. Distributed shape: one hash-partition exchange
    * on `source`; the token count is a rowwise expression and the
    * running sum rides the stratum window — same plan skeleton as
    * [[sampleStratified]], with the cumulative-SUM cutoff instead of
    * the row-count cutoff.
    */
  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val byStratum = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(expr("filter(split(text, ' +'), x -> x != '')"))
          .cast("long").as("n_tokens"),
        TextAnalysis.polyHashCol(col("doc_id").cast("string")).as("h"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(byStratum))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy("source", "cum_tokens", "doc_id")
  }

  val sampleTokenBudgetSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    len(list_filter(string_split_regex(text, ' +'), x -> x != ''))
       |      AS n_tokens,
       |    ${TextAnalysis.polyHashSql("CAST(doc_id AS VARCHAR)")} AS hh
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hh, doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |  FROM h)
       |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM c WHERE cum_tokens <= $TokenBudget
       |ORDER BY source, cum_tokens, doc_id""".stripMargin

  private val WeightedK = 100
  private val PolyP = 1000000007L // TextAnalysis.polyHashCol's modulus

  /** Reproducible WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis 2006): each doc draws a deterministic uniform
    * u ∈ (0, 1] from the portable hash of its id and gets priority
    * key ln(u)/w with weight w = n_chars; the k largest keys are the
    * sample. This is the exact distributed form of "sample documents
    * proportionally to length": the E-S key transform makes the
    * top-k by key a correct weighted draw, while hash-derived
    * uniforms make membership reproducible across runs, partitionings
    * and engines (the same contract as [[sampleStratified]], with
    * WEIGHTS — which Bernoulli `df.sample` cannot express at exact k
    * at all). 100 TB shape: the key is a rowwise codegen'd
    * expression, and the global top-k plans as TakeOrderedAndProject
    * (per-partition bounded heaps merged on the driver at k-scale) —
    * one data pass, no full sort, no shuffle of the corpus.
    *
    * Cross-engine determinism: u has a 1e-9 granularity floor (the
    * hash modulus), so adjacent E-S keys differ by ≫ 1 double ulp
    * and a libm `ln` ulp can neither reorder the selection nor move
    * the 6dp-rounded output.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(
          log((TextAnalysis.polyHashCol(col("doc_id").cast("string")) + 1.0)
            / (PolyP + 1.0)) / col("n_chars"), 6).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(WeightedK)

  val sampleWeightedSql: String =
    // "+ 0.0" normalizes IEEE -0.0: a priority within 5e-7 of zero
    // rounds to the ZERO-sign Spark's BigDecimal round produces,
    // where DuckDB's float round keeps the negative sign
    s"""WITH h AS (
       |  SELECT doc_id, source, n_chars,
       |    round(ln((${TextAnalysis.polyHashSql("CAST(doc_id AS VARCHAR)")} + 1.0)
       |      / ${PolyP + 1}.0) / n_chars, 6) + 0.0 AS priority
       |  FROM documents WHERE n_chars > 0)
       |SELECT doc_id, source, n_chars, priority
       |FROM h ORDER BY priority DESC, doc_id LIMIT $WeightedK""".stripMargin

  private val MixtureBudget = 100000L

  /** Temperature-based data-MIXTURE design (the multilingual-
    * pretraining sampling rule, e.g. mT5's τ-scaled mixing): source
    * weights ∝ availableᵖ with p = 1/τ = 0.5, i.e. √-damped — big
    * sources are down-weighted, small ones boosted, and the output
    * is each source's target token allocation against a fixed
    * budget plus the repetition factor (>1 ⟹ the source must be
    * epoched/oversampled to meet its share — THE number a mixture
    * designer balances against memorization risk). One hash agg for
    * availability; the weight normalizer is a 20-term float sum
    * folded in pinned source order and broadcast as one row; every
    * downstream value is one or two IEEE ops on identical inputs.
    */
  def pipelineMixture(spark: SparkSession, dir: String): DataFrame = {
    val avail = docs(spark, dir)
      .groupBy("source")
      .agg(sum(size(expr("filter(split(text, ' +'), x -> x != '')"))
        .cast("long")).as("avail_tokens"))
      .withColumn("w", sqrt(col("avail_tokens").cast("double")))
    val totW = avail
      .agg(sort_array(collect_list(struct(col("source"), col("w"))))
        .as("parts"))
      .select(aggregate(col("parts"), lit(0.0),
        (acc, x) => acc + x.getField("w")).as("tw"))
    avail.crossJoin(broadcast(totW))
      .select(col("source"), col("avail_tokens"),
        round(col("w") / col("tw"), 6).as("share"),
        floor(col("w") / col("tw") * MixtureBudget).cast("long")
          .as("target_tokens"),
        round(col("w") / col("tw") * MixtureBudget /
          col("avail_tokens").cast("double"), 6).as("repetition"))
      .orderBy("source")
  }

  val pipelineMixtureSql: String =
    s"""WITH a AS (
       |  SELECT source,
       |    sum(len(list_filter(string_split_regex(text, ' +'),
       |      x -> x != ''))) AS avail_tokens
       |  FROM documents GROUP BY source),
       |w AS (SELECT source, avail_tokens,
       |        sqrt(CAST(avail_tokens AS DOUBLE)) AS w FROM a),
       |t AS (SELECT list_sum(list(w ORDER BY source)) AS tw FROM w)
       |SELECT source, CAST(avail_tokens AS BIGINT) AS avail_tokens,
       |  round(w / tw, 6) AS share,
       |  CAST(floor(w / tw * $MixtureBudget) AS BIGINT) AS target_tokens,
       |  round(w / tw * $MixtureBudget / CAST(avail_tokens AS DOUBLE), 6)
       |    AS repetition
       |FROM w, t ORDER BY source""".stripMargin

  private val PackSeqLen = 512L

  /** Concat-and-chunk SEQUENCE PACKING — the layout step that turns
    * a filtered corpus into fixed-length training sequences: per
    * source, documents are laid end-to-end in portable-hash order
    * and cut every [[PackSeqLen]] tokens, documents straddling cuts
    * (GPT-style pretraining packing, where sequences are carved
    * from the concatenated token stream rather than padded per
    * document — zero padding waste by construction). Emits each
    * document's placement: owning start sequence, offset inside it,
    * and how many sequences it spans — exactly what a writer needs
    * to materialize shards without ever assembling the corpus on
    * one node. The exclusive prefix sum rides ONE stratum window
    * (same skeleton as [[sampleTokenBudget]]); everything is BIGINT
    * arithmetic on token counts, so the gate hash-matches.
    */
  def pipelinePack(spark: SparkSession, dir: String): DataFrame = {
    val byStratum = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(expr("filter(split(text, ' +'), x -> x != '')"))
          .cast("long").as("n_tokens"),
        TextAnalysis.polyHashCol(col("doc_id").cast("string")).as("h"))
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(byStratum), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_tok div $PackSeqLen").as("seq_id"),
        (col("start_tok") % PackSeqLen).as("seq_offset"),
        (expr(s"(start_tok + n_tokens - 1) div $PackSeqLen")
          - expr(s"start_tok div $PackSeqLen") + 1L).as("n_seqs"))
      .orderBy("source", "seq_id", "seq_offset", "doc_id")
  }

  val pipelinePackSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    len(list_filter(string_split_regex(text, ' +'), x -> x != ''))
       |      AS n_tokens,
       |    ${TextAnalysis.polyHashSql("CAST(doc_id AS VARCHAR)")} AS hh
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY hh, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS start_tok
       |  FROM h)
       |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(start_tok // $PackSeqLen AS BIGINT) AS seq_id,
       |  CAST(start_tok % $PackSeqLen AS BIGINT) AS seq_offset,
       |  CAST((start_tok + n_tokens - 1) // $PackSeqLen
       |    - start_tok // $PackSeqLen + 1 AS BIGINT) AS n_seqs
       |FROM c ORDER BY source, seq_id, seq_offset, doc_id""".stripMargin

  private val NumShards = 8

  /** Output SHARD assignment + balance accounting: docs hash to
    * [[NumShards]] shards (the reproducible, coordination-free way a
    * distributed writer lays out training files — greedy LPT packing
    * is sequential and order-dependent, hash sharding is neither),
    * and the relation reports each shard's doc/token load plus its
    * load ratio against the mean. The ratio is the number a pipeline
    * alerts on: hash sharding concentrates nothing, so ratios far
    * from 1 mean pathological documents, not bad luck. Rowwise hash,
    * one agg, one 8-row presentation sort; the ratio uses integer
    * total/count (no avg() — engines disagree in the last ulp on
    * incremental means, exact integers they cannot).
    */
  def pipelineShard(spark: SparkSession, dir: String): DataFrame = {
    val shards = docs(spark, dir)
      .select(
        (TextAnalysis.polyHashCol(col("doc_id").cast("string")) % NumShards)
          .as("shard"),
        size(expr("filter(split(text, ' +'), x -> x != '')"))
          .cast("long").as("toks"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val totals = shards.agg(
      sum(col("n_tokens")).as("t"), count(lit(1)).as("c"))
    shards.crossJoin(broadcast(totals))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") * col("c") / col("t"), 6)
          .as("load_ratio"))
      .orderBy("shard")
  }

  val pipelineShardSql: String =
    s"""WITH h AS (
       |  SELECT
       |    ${TextAnalysis.polyHashSql("CAST(doc_id AS VARCHAR)")} % $NumShards
       |      AS shard,
       |    len(list_filter(string_split_regex(text, ' +'), x -> x != ''))
       |      AS toks
       |  FROM documents),
       |s AS (SELECT shard, count(*) AS n_docs, sum(toks) AS n_tokens
       |      FROM h GROUP BY shard),
       |t AS (SELECT sum(n_tokens) AS t, count(*) AS c FROM s)
       |SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  round(CAST(n_tokens AS DOUBLE) * c / t, 6) AS load_ratio
       |FROM s, t ORDER BY shard""".stripMargin

  /** The end-to-end prep pipeline as ONE verified relation:
    * quality-filter → exact dedup (keep the minimum doc id per
    * SHA-256 digest) → near-dup canonicalization (one representative
    * per [[Dedup.dedupCluster]] component: the minimum-id member
    * that SURVIVED the earlier tiers, so a family whose global min
    * was quality-dropped still keeps its content) → per-source
    * corpus accounting.
    * Demonstrates that the operator families compose into the
    * pipeline the engine exists for, with the composition itself
    * under the hash gate. Every tier is the registered operator's
    * own code path (`textQuality`, `sha2` grouping, and `dedupCluster`'s
    * labeling via `Dedup.clusterLabels`), so this query cannot drift
    * from its parts.
    */
  def pipelinePrep(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.textQuality(spark, dir)
      .filter(col("is_quality")).select(col("doc_id"))
    val d = docs(spark, dir)
    val exactKeep = d.join(quality, "doc_id")
      .groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val clusters = Dedup.clusterLabels(spark, dir)
    // canonical = the minimum id among the cluster's SURVIVING
    // members (docs outside any cluster are their own group): if the
    // component's global min-id doc was itself dropped by the
    // quality or exact tier, the family must still keep one
    // representative — filtering on cluster_id == doc_id would
    // silently lose the whole family's content
    val keep = exactKeep.join(clusters, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy(col("grp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    d.join(keep, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("source")
  }

  /** Oracle: the quality relation and the recursive component
    * labeling ride as parenthesized subqueries of the registered
    * oracles' SQL, so the composed oracle reuses — not restates —
    * the per-operator definitions.
    */
  val pipelinePrepSql: String =
    s"""WITH q AS (
       |  SELECT doc_id FROM (${TextAnalysis.textQualitySql}) WHERE is_quality),
       |ex AS (
       |  SELECT min(d.doc_id) AS doc_id
       |  FROM documents d JOIN q USING (doc_id)
       |  GROUP BY sha256(d.text)),
       |clus AS (
       |  SELECT doc_id, cluster_id FROM (${Dedup.dedupClusterSql})),
       |keep AS (
       |  SELECT min(e.doc_id) AS doc_id
       |  FROM ex e LEFT JOIN clus c USING (doc_id)
       |  GROUP BY COALESCE(c.cluster_id, e.doc_id))
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars
       |FROM documents d JOIN keep USING (doc_id)
       |GROUP BY d.source ORDER BY source""".stripMargin

  /** Quality-aware survivor selection — which member of each near-dup
    * family survives dedup. Min-id canonicalization (what
    * [[pipelinePrep]] and most dedup writeups use) is arbitrary; a
    * production pipeline keeps the BEST copy, so the survivor here is
    * the family member with the highest `quality_logreg` score. Both
    * the argmax and the min-id baseline ride packed BIGINT keys
    * (`score_ppm·2³³ + (2³³−1−id)` maximized ⟹ (max score, min id
    * tie-break); `id·2²¹ + score_ppm` minimized ⟹ min id carrying its
    * score), so the whole operator is ONE hash agg over integral
    * keys — addition-order-independent, partition-invariant, and
    * replayed bit-for-bit by the oracle. `gain_ppm` quantifies what
    * quality-aware selection buys over min-id per family.
    *
    * Scale shape: families come from the durable cluster artifact
    * (build-once), scores from the rowwise logreg expression; one
    * left join + one equi-join + one family-keyed hash agg. Packing
    * bounds: score_ppm ≤ 10⁶ < 2²¹ and doc_id < 2³³ (8.6 B docs) keep
    * both keys inside BIGINT with headroom.
    */
  def pipelineSurvivor(spark: SparkSession, dir: String): DataFrame = {
    val Shift33 = 1L << 33
    val Shift21 = 1L << 21
    val scores = TextAnalysis.qualityLogreg(spark, dir)
      .select(col("doc_id"),
        expr("CAST(round(score * 1000000) AS BIGINT)").as("score_ppm"))
    val clusters = Dedup.clusterLabels(spark, dir)
    docs(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("family_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(scores, "doc_id")
      .groupBy("family_id")
      .agg(
        count(lit(1)).as("n_members"),
        max(col("score_ppm") * Shift33 +
          (lit(Shift33 - 1) - col("doc_id"))).as("bk"),
        min(col("doc_id") * Shift21 + col("score_ppm")).as("mk"))
      .select(
        col("family_id"), col("n_members"),
        (lit(Shift33 - 1) - col("bk") % Shift33).as("survivor_id"),
        expr(s"bk div $Shift33").as("survivor_score_ppm"),
        expr(s"mk div $Shift21").as("minid_id"),
        expr(s"bk div $Shift33 - mk % $Shift21").as("gain_ppm"))
      .orderBy("family_id")
  }

  val pipelineSurvivorSql: String = {
    val s33 = 1L << 33
    val s21 = 1L << 21
    s"""WITH sc AS (
       |  SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_ppm
       |  FROM (${TextAnalysis.qualityLogregSql})),
       |clus AS (
       |  SELECT doc_id, cluster_id FROM (${Dedup.dedupClusterSql})),
       |fam AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS family_id,
       |    s.score_ppm
       |  FROM documents d
       |  LEFT JOIN clus c USING (doc_id)
       |  JOIN sc s USING (doc_id)),
       |agg AS (
       |  SELECT family_id, count(*) AS n_members,
       |    max(score_ppm * $s33 + (${s33 - 1} - doc_id)) AS bk,
       |    min(doc_id * $s21 + score_ppm) AS mk
       |  FROM fam GROUP BY family_id)
       |SELECT family_id, CAST(n_members AS BIGINT) AS n_members,
       |  CAST(${s33 - 1} - (bk % $s33) AS BIGINT) AS survivor_id,
       |  CAST(bk // $s33 AS BIGINT) AS survivor_score_ppm,
       |  CAST(mk // $s21 AS BIGINT) AS minid_id,
       |  CAST(bk // $s33 - mk % $s21 AS BIGINT) AS gain_ppm
       |FROM agg ORDER BY family_id""".stripMargin
  }

  /** Per-source DATA CARD — the one-relation corpus summary shipped
    * beside a training dataset (Gebru et al. "Datasheets for
    * Datasets" is the practice's citation): volume (docs, tokens),
    * language breadth, exact-duplicate exposure, quality-gate pass
    * count, and the split census — each column computed by the SAME
    * code path as the registered operator it summarizes
    * (`textQuality`, `dedup_exact`'s digest grouping,
    * `split_assign`'s hash), so the card cannot drift from the
    * pipeline it describes.
    *
    * Scale shape: one token pass, the digest grouping, three
    * source-keyed hash aggs and two doc-keyed left joins — every agg
    * map-side-combinable, output one row per source.
    */
  def pipelineDatacard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val base = d.select(col("doc_id"), col("source"), col("lang"),
      size(expr("filter(split(text, ' +'), x -> x != '')"))
        .cast("long").as("toks"),
      (TextAnalysis.polyHashCol(col("doc_id").cast("string")) % 10).as("bucket"))
    val qual = TextAnalysis.textQuality(spark, dir)
      .filter(col("is_quality")).select(col("doc_id"), lit(1L).as("q"))
    val dupDigests = d.groupBy(sha2(col("text"), 256).as("dg"))
      .agg(count(lit(1)).as("nc")).filter(col("nc") > 1).select("dg")
    val dup = d.select(col("doc_id"), sha2(col("text"), 256).as("dg"))
      .join(dupDigests, "dg").select(col("doc_id"), lit(1L).as("isdup"))
    base
      .join(qual, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(coalesce(col("q"), lit(0L))).as("n_quality"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup_docs"),
        sum(when(col("bucket") < 8, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("bucket") === 8, 1L).otherwise(0L)).as("n_val"),
        sum(when(col("bucket") === 9, 1L).otherwise(0L)).as("n_test"))
      .orderBy("source")
  }

  val pipelineDatacardSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, lang,
       |    len(list_filter(string_split_regex(text, ' +'), x -> x != ''))
       |      AS toks,
       |    ${TextAnalysis.polyHashSql("CAST(doc_id AS VARCHAR)")} % 10
       |      AS bucket
       |  FROM documents),
       |q AS (
       |  SELECT doc_id FROM (${TextAnalysis.textQualitySql}) WHERE is_quality),
       |dd AS (
       |  SELECT sha256(text) AS dg FROM documents
       |  GROUP BY sha256(text) HAVING count(*) > 1),
       |dup AS (
       |  SELECT doc_id FROM documents JOIN dd ON sha256(text) = dd.dg)
       |SELECT base.source, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS total_tokens,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_quality,
       |  CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_docs,
       |  CAST(sum(CASE WHEN bucket < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(sum(CASE WHEN bucket = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       |  CAST(sum(CASE WHEN bucket = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |FROM base
       |LEFT JOIN q ON base.doc_id = q.doc_id
       |LEFT JOIN dup ON base.doc_id = dup.doc_id
       |GROUP BY base.source ORDER BY base.source""".stripMargin

  /** LEAKAGE-SAFE train/val/test split — [[splitAssign]]'s
    * reproducible hash assignment lifted from documents to NEAR-DUP
    * FAMILIES: every member of a `dedup_cluster` component hashes on
    * the family's canonical id, so a near-duplicate of a training
    * document can never land in the eval split (the contamination
    * path `dedup_contamination` detects after the fact, prevented by
    * construction here — standard eval-hygiene practice per the
    * Lee et al. 2022 dedup line). Singletons hash on their own id,
    * which degrades exactly to [[splitAssign]] on a dedup-clean
    * corpus.
    *
    * Scale shape: the labeling is the build-once fingerprint-keyed
    * cluster artifact (shared with `dedup_cluster`/`pipeline_prep`,
    * reloaded not rebuilt); this query adds one left equi-join and
    * a rowwise hash — nothing else.
    */
  def pipelineHoldout(spark: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.clusterLabels(spark, dir)
    docs(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket",
        TextAnalysis.polyHashCol(col("group_id").cast("string")) % 10)
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("source"), col("group_id"),
        col("bucket"), col("split"))
      .orderBy("doc_id")
  }

  val pipelineHoldoutSql: String =
    s"""WITH clus AS (
       |  SELECT doc_id, cluster_id FROM (${Dedup.dedupClusterSql})),
       |g AS (
       |  SELECT d.doc_id, d.source,
       |    COALESCE(c.cluster_id, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN clus c USING (doc_id)),
       |h AS (
       |  SELECT doc_id, source, group_id,
       |    ${TextAnalysis.polyHashSql("CAST(group_id AS VARCHAR)")} % 10
       |      AS bucket
       |  FROM g)
       |SELECT doc_id, source, group_id, bucket,
       |  CASE WHEN bucket < 8 THEN 'train'
       |       WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
       |FROM h ORDER BY doc_id""".stripMargin

  private val CurriculumBins = 32

  /** CURRICULUM ordering: every document's global training position,
    * easiest (highest quality score) first, with warmup / main /
    * anneal phase cut at exact 20/60/20 token fractions — the
    * curriculum-learning data layout (Bengio et al. 2009), ranked by
    * the REGISTERED [[TextAnalysis.qualityScore]] scorer's own code
    * path so the curriculum cannot drift from the quality gate.
    *
    * The interesting part is what is ABSENT: a global sort. A total
    * order over 100 TB must not funnel through one partition, so the
    * plan quantizes scores into [[CurriculumBins]] deterministic
    * bins (`floor(score·32)` — ×32 is an exact exponent shift, so
    * binning is bit-portable), aggregates per-bin doc/token counts
    * (bin-scale relation, broadcast back), and composes each doc's
    * global position = its bin's running offset + its rank WITHIN
    * the bin — per-bin windows, fact rows shuffled once by bin. The
    * only unpartitioned window runs over the ≤32-row bin relation.
    * Phase cuts are exact integer comparisons (5·cum vs totals), and
    * the bin/in-bin composition reproduces EXACTLY the global
    * (score desc, doc_id) order because bins partition the score
    * range monotonically — the oracle checks that equivalence with a
    * plain global window.
    */
  def pipelineCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val base = TextAnalysis.qualityScore(spark, dir)
      .join(docs(spark, dir).select(col("doc_id"),
        size(expr("filter(split(text, ' +'), x -> x != '')"))
          .cast("long").as("n_tokens")), "doc_id")
      .withColumn("ord_bin",
        (lit(CurriculumBins - 1).cast("long")
          - floor(col("score") * CurriculumBins).cast("long")))
    val binW = W.orderBy("ord_bin")
      .rowsBetween(W.unboundedPreceding, -1) // ≤32 rows: bin-scale only
    val offsets = base.groupBy("ord_bin")
      .agg(count(lit(1)).as("bn"), sum(col("n_tokens")).as("bt"))
      .withColumn("docs_before", coalesce(sum(col("bn")).over(binW), lit(0L)))
      .withColumn("toks_before", coalesce(sum(col("bt")).over(binW), lit(0L)))
      .select(col("ord_bin"), col("docs_before"), col("toks_before"))
    val inBin = W.partitionBy("ord_bin")
      .orderBy(col("score").desc, col("doc_id"))
    val total = base.agg(sum(col("n_tokens")).as("total_toks"))
    base.join(broadcast(offsets), "ord_bin")
      .crossJoin(broadcast(total))
      .withColumn("position",
        col("docs_before") + row_number().over(inBin).cast("long"))
      .withColumn("cum_tokens", col("toks_before") +
        sum(col("n_tokens")).over(
          inBin.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("phase",
        when(col("cum_tokens") * 5 <= col("total_toks"), "warmup")
          .when(col("cum_tokens") * 5 > col("total_toks") * 4, "anneal")
          .otherwise("main"))
      .select(col("doc_id"), col("position"), col("n_tokens"),
        col("cum_tokens"), col("phase"), col("score"))
      .orderBy("position")
  }

  /** Oracle: the SAME order expressed as one global window — proving
    * the bin-composed position/cumulative reproduce the true total
    * order.
    */
  val pipelineCurriculumSql: String =
    s"""WITH ${TextAnalysis.qualityScoreCteSql},
       |t AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(text, ' +'), x -> x != ''))
       |      AS n_tokens
       |  FROM documents),
       |b AS (
       |  SELECT s.doc_id, s.score, t.n_tokens,
       |    ${CurriculumBins - 1} - CAST(floor(s.score * $CurriculumBins)
       |      AS BIGINT) AS ord_bin
       |  FROM lrscore s JOIN t USING (doc_id)),
       |g AS (
       |  SELECT doc_id, score, n_tokens,
       |    row_number() OVER (ORDER BY ord_bin, score DESC, doc_id)
       |      AS position,
       |    sum(n_tokens) OVER (ORDER BY ord_bin, score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum_tokens,
       |    sum(n_tokens) OVER () AS total_toks
       |  FROM b)
       |SELECT doc_id, CAST(position AS BIGINT) AS position,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |  CASE WHEN cum_tokens * 5 <= total_toks THEN 'warmup'
       |       WHEN cum_tokens * 5 > total_toks * 4 THEN 'anneal'
       |       ELSE 'main' END AS phase,
       |  score
       |FROM g ORDER BY position""".stripMargin

  // ----------------------------------------------------------------
  // Deterministic k-per-key inspection sample (bounded-heap operator)
  // ----------------------------------------------------------------

  private val SamplePerKeyK = 5

  /** "Show me k random docs from every source" — the inspection /
    * spot-check sample every curation loop runs. Uniform-ish and
    * REPRODUCIBLE: rows rank by the portable polynomial hash of
    * their id (content-independent, so the same ids are drawn on
    * every engine and every run — the [[splitAssign]] discipline,
    * not `rand()`), and the k smallest per key win.
    *
    * Scale shape: this is the suite's custom TopKPerKey physical
    * operator doing the job it was built for — per-partition
    * bounded heaps of k rows per key, then a k·keys-scale final
    * combine. NO per-source sort, no window over the fact, and the
    * only exchange carries k rows per key per partition. An `ntile`/
    * `row_number` formulation would sort every row of each source in
    * one task; the heap never holds more than k.
    */
  /** Class-BALANCED downsampling over the labeled embeddings — the
    * classifier-training prep step: every label keeps exactly
    * `min(class size)` rows (the data-dependent k that distinguishes
    * this from [[samplePerKey]]'s fixed k), chosen by the portable
    * hash rank so the draw is reproducible, order-free, and
    * split-stable. One count agg derives k (one-row broadcast — a
    * statistic, not data); the per-label rank rides the TopKPerKey
    * discipline's window over label partitions with the
    * (hash, vec_id) total order.
    */
  def sampleBalanced(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .withColumn("h", TextAnalysis.polyHashCol(col("vec_id").cast("string")))
    val k = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("h").asc, col("vec_id").asc)
    e.crossJoin(broadcast(k))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= col("k"))
      .select(col("label"), col("sample_rank"), col("vec_id"), col("h"))
      .orderBy("label", "sample_rank")
  }

  val sampleBalancedSql: String =
    s"""WITH h AS (
       |  SELECT CAST(label AS BIGINT) AS label, vec_id,
       |    ${TextAnalysis.polyHashSql("CAST(vec_id AS VARCHAR)")} AS h
       |  FROM embeddings),
       |k AS (SELECT min(n) AS k FROM (
       |  SELECT label, count(*) AS n FROM h GROUP BY 1)),
       |r AS (
       |  SELECT label, vec_id, h,
       |    row_number() OVER (PARTITION BY label
       |                       ORDER BY h ASC, vec_id ASC) AS sample_rank
       |  FROM h)
       |SELECT label, CAST(sample_rank AS BIGINT) AS sample_rank, vec_id, h
       |FROM r, k WHERE sample_rank <= k.k
       |ORDER BY label, sample_rank""".stripMargin

  def samplePerKey(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("h", TextAnalysis.polyHashCol(col("doc_id").cast("string")))
    val top = graft.plans.TopK.topKPerKey(
      d, Seq("source"), Seq("h" -> false, "doc_id" -> false), SamplePerKeyK)
    // rank window runs over ≤ k rows per source (post-heap), never the fact
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h").asc, col("doc_id").asc)
    top.withColumn("sample_rank", row_number().over(w).cast("long"))
      .select(col("source"), col("sample_rank"), col("doc_id"), col("h"))
      .orderBy("source", "sample_rank")
  }

  val samplePerKeySql: String =
    s"""WITH h AS (
       |  SELECT source, doc_id,
       |    ${TextAnalysis.polyHashSql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, h,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY h ASC, doc_id ASC) AS sample_rank
       |  FROM h)
       |SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, h
       |FROM r WHERE sample_rank <= $SamplePerKeyK
       |ORDER BY source, sample_rank""".stripMargin

  // ----------------------------------------------------------------
  // Deterministic temperature-balanced interleave (stride scheduling)
  // ----------------------------------------------------------------

  private val InterleaveHead = 200

  /** The global TRAINING ORDER that [[pipelineMixture]]'s shares imply
    * (round 11): deterministic stride scheduling — source s with
    * weight w_s = √count_s emits its k-th document at virtual time
    * (k − ½)/w_s, and the corpus-wide order is the ascending vtime
    * sort (ties broken by source, doc_id). This is the classic
    * "least-debt" interleave: over any prefix, each source's share of
    * emitted documents tracks w_s/Σw within ±1 — temperature-balanced
    * mixing (α = ½, matching the mixture query's √-weighting)
    * materialized as an ORDER instead of a table of ratios, which is
    * what a dataloader actually consumes.
    *
    * 100 TB shape: per-source ranks are a partitioned window over the
    * source key; vtime is one codegen'd expression; the global
    * interleave is a distributed SORT, not a window — the gated
    * output stamps ranks only on the first [[InterleaveHead]] rows
    * (`orderBy().limit()` then a ≤200-row presentation window, the
    * repo's bounded-window pattern). Cross-engine determinism: vtime
    * is the identical IEEE expression ((rank − 0.5)/√count) on exact
    * integer inputs in both engines, and every comparison has the
    * (vtime, source, doc_id) total-order tie-break.
    */
  def pipelineInterleave(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"))
    val counts = d.groupBy("source").agg(count(lit(1)).as("cnt"))
    val wSrc = Window.partitionBy("source").orderBy("doc_id")
    val v = d
      .withColumn("src_rank", row_number().over(wSrc).cast("long"))
      .join(broadcast(counts), "source")
      .withColumn("vtime",
        (col("src_rank").cast("double") - 0.5) / sqrt(col("cnt").cast("double")))
    val head = v.orderBy(col("vtime"), col("source"), col("doc_id"))
      .limit(InterleaveHead)
    head
      .withColumn("pos", row_number()
        .over(Window.orderBy(col("vtime"), col("source"), col("doc_id")))
        .cast("long"))
      .select(col("pos"), col("doc_id"), col("source"), col("src_rank"),
        round(col("vtime"), 6).as("vtime"))
      .orderBy("pos")
  }

  val pipelineInterleaveSql: String =
    s"""WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
       |v AS (
       |  SELECT d.doc_id, d.source,
       |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id)
       |      AS src_rank,
       |    (CAST(row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id)
       |          AS DOUBLE) - 0.5) / sqrt(CAST(c.cnt AS DOUBLE)) AS vtime
       |  FROM documents d JOIN c USING (source)),
       |h AS (SELECT * FROM v ORDER BY vtime, source, doc_id
       |      LIMIT $InterleaveHead),
       |r AS (
       |  SELECT doc_id, source, src_rank, vtime,
       |    row_number() OVER (ORDER BY vtime, source, doc_id) AS pos
       |  FROM h)
       |SELECT CAST(pos AS BIGINT) AS pos, doc_id, source,
       |  CAST(src_rank AS BIGINT) AS src_rank, round(vtime, 6) AS vtime
       |FROM r ORDER BY pos""".stripMargin

  // ----------------------------------------------------------------
  // Hashed-feature importance weighting for data selection (round 12)
  // ----------------------------------------------------------------

  private val DsirBuckets = 1024L
  private val DsirPpm = 1000000L

  /** Importance weighting for data selection, DSIR-style (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much its hashed
    * unigram features look like a TARGET domain (here the `lang='en'`
    * slice) versus the rest of the corpus. Each token hashes into one
    * of [[DsirBuckets]] buckets; per-bucket target/source occurrence
    * counts give an add-one-smoothed importance ratio, and a
    * document's score is the sum of its tokens' bucket ratios.
    *
    * Deliberate deviation from the paper, documented: DSIR sums LOG
    * ratios; this operator sums FIXED-POINT ratios (ppm, integer
    * division) so the whole pipeline — counts, weights, scores,
    * selection — is integer arithmetic and therefore bit-exact
    * against the DuckDB twin (`ln` is not guaranteed identically
    * rounded across engines, and a 0.5-ulp difference under a 6-dp
    * round is exactly the kind of flaky gate round 11 eliminated).
    * The per-bucket ratio is the same sufficient statistic; only the
    * combining transform differs. `selected` marks documents whose
    * mean per-token ratio is ≥ the CORPUS-average per-token ratio
    * (total score over total tokens, integer division) — the
    * above-average half of DSIR's importance ordering, a relative
    * cut because an absolute one is degenerate whenever target and
    * source share a vocabulary (as the synthetic fixture does).
    *
    * Scale shape (100 TB): bucket stats are a [[DsirBuckets]]-group
    * partial aggregate (map-side combine collapses the token stream
    * before the shuffle); the weight table is ~1k rows and joins
    * back BROADCAST, so the token stream is never shuffled by
    * bucket; the only corpus-scale exchange is the per-doc rollup,
    * partitioned by doc_id. No collect — the weight table stays a
    * DataFrame.
    */
  def pipelineDsir(spark: SparkSession, dir: String): DataFrame = {
    // ONE tokenize pass (round 16, guide §1.2/§2.3): the lazy `toks`
    // relation used to be consumed twice (bucket stats + per-doc
    // scores) and the doc table scanned a third time for `lang` —
    // three full tokenize/scan passes for one query. The (doc, lang,
    // bucket) pre-aggregate is computed once, map-side combined, and
    // checkpointed (≤ docs × DsirBuckets rows, 3 longs + lang each);
    // both consumers read it from memory. `lang` is constant per doc
    // so carrying max(lang) through the rollup replaces the third
    // scan exactly (zero-token docs vanish from the pre-agg, matching
    // the previous inner join's semantics).
    val tokCnt = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(filter(split(col("text"), " +"), w => w =!= "")).as("word"))
      .select(col("doc_id"), col("lang"),
        (TextAnalysis.polyHashCol(col("word")) % DsirBuckets).as("bucket"))
      .groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val buckets = tokCnt.groupBy("bucket")
      .agg(
        sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("t_b"),
        sum(when(col("lang") =!= "en", col("cnt")).otherwise(0L)).as("s_b"))
      .withColumn("w_ppm", expr(s"(t_b + 1) * $DsirPpm div (s_b + 1)"))
    val weights = buckets.select(col("bucket"), col("w_ppm"))
    val scored = tokCnt.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(max(col("lang")).as("lang"), sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("w_ppm")).as("score"))
      .withColumn("spt_ppm", expr("score div n_tokens"))
    // corpus-average per-token ratio, derived from the BUCKET table —
    // Σ_b cnt_b·w_b / Σ_b cnt_b equals Σ_docs score / Σ_docs tokens
    // exactly, without rescanning the token stream for the threshold
    // (a crossJoin over a recomputed corpus aggregate would scan the
    // corpus twice more). 1-row aggregate, broadcast via crossJoin —
    // the repo-wide bounded-crossJoin pattern.
    val thr = buckets
      .agg(expr(s"sum((t_b + s_b) * w_ppm) div sum(t_b + s_b)")
        .as("mean_ppm"))
    scored
      .crossJoin(broadcast(thr))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("score"),
        col("spt_ppm"), (col("spt_ppm") >= col("mean_ppm")).as("selected"))
      .orderBy("doc_id")
  }

  /** Oracle: identical hash, bucket counts, ppm weights, and integer
    * rollup — no floating point anywhere, so it hash-matches.
    */
  val pipelineDsirSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    unnest([w for w in string_split_regex(text, ' +') if w <> ''])
       |      AS word
       |  FROM documents),
       |tb AS (
       |  SELECT doc_id, lang,
       |    ${TextAnalysis.polyHashSql("word")} % $DsirBuckets AS bucket
       |  FROM t),
       |bt AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS t_b,
       |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS s_b
       |  FROM tb GROUP BY bucket),
       |w AS (
       |  SELECT bucket, t_b, s_b,
       |    (t_b + 1) * $DsirPpm // (s_b + 1) AS w_ppm FROM bt),
       |d AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(w_ppm) AS BIGINT) AS score
       |  FROM tb JOIN w USING (bucket) GROUP BY doc_id),
       |thr AS (
       |  SELECT CAST(sum((t_b + s_b) * w_ppm) AS BIGINT)
       |    // CAST(sum(t_b + s_b) AS BIGINT) AS mean_ppm FROM w)
       |SELECT d.doc_id, doc.lang, d.n_tokens, d.score,
       |  d.score // d.n_tokens AS spt_ppm,
       |  d.score // d.n_tokens >= thr.mean_ppm AS selected
       |FROM d JOIN documents doc USING (doc_id) CROSS JOIN thr
       |ORDER BY d.doc_id""".stripMargin

  // ----------------------------------------------------------------
  // Epoch ordering: the deterministic training shuffle
  // ----------------------------------------------------------------

  /** Epochs materialized by [[pipelineEpochOrder]]. */
  private val Epochs = 3

  /** Shards per epoch (data-parallel readers). */
  private val OrderShards = 8

  /** Deterministic per-epoch training shuffle: every document gets a
    * hash ORDER KEY per epoch (`polyHash(doc_id:epoch)`), defining a
    * reproducible pseudo-random read order that DIFFERS across
    * epochs — the "seeded shuffle" every large-scale trainer needs
    * so a restarted job resumes the same sequence (cf. the
    * deterministic-data-order discipline in public LLM training
    * stacks). The gate view audits the shuffle per (epoch, shard):
    * count, the FIRST and LAST documents under the order (the
    * permutation's endpoints — any drift in the hash or the shard
    * map moves them), and the order-key sum.
    *
    * Scale shape: one pure-map pass per epoch (a 3-element explode),
    * then ONE map-side-combinable hash agg into epoch × shard cells;
    * the endpoint picks are min/max(struct(h, doc_id)) INSIDE the
    * agg — no window, no sort at corpus scale. The actual
    * train-time materialization would range-write by (epoch, shard,
    * h) — the audit deliberately verifies the ORDER DEFINITION
    * without paying that sort in the gate.
    */
  def pipelineEpochOrder(spark: SparkSession, dir: String): DataFrame = {
    val epochs = (0 until Epochs).map(lit(_))
    docs(spark, dir)
      .select(col("doc_id"), explode(array(epochs: _*)).as("epoch"))
      .withColumn("h", TextAnalysis.polyHashCol(
        concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string"))))
      .withColumn("shard", col("h") % OrderShards)
      .groupBy(col("epoch").cast("long").as("epoch"), col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(struct(col("h"), col("doc_id"))).getField("doc_id").as("first_doc"),
        max(struct(col("h"), col("doc_id"))).getField("doc_id").as("last_doc"),
        sum(col("h")).as("sum_h"))
      .orderBy("epoch", "shard")
  }

  val pipelineEpochOrderSql: String = {
    val h = TextAnalysis.polyHashSql(
      "CAST(doc_id AS VARCHAR) || ':' || CAST(e AS VARCHAR)")
    s"""WITH keyed AS (
       |  SELECT doc_id, e AS epoch, $h AS h
       |  FROM documents, generate_series(0, ${Epochs - 1}) s(e)),
       |sharded AS (SELECT *, h % $OrderShards AS shard FROM keyed),
       |ends AS (
       |  SELECT epoch, shard,
       |    first(doc_id ORDER BY h ASC, doc_id ASC) AS first_doc,
       |    first(doc_id ORDER BY h DESC, doc_id DESC) AS last_doc,
       |    count(*) AS n_docs, sum(h) AS sum_h
       |  FROM sharded GROUP BY 1, 2)
       |SELECT epoch, CAST(shard AS BIGINT) AS shard,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  first_doc, last_doc, CAST(sum_h AS BIGINT) AS sum_h
       |FROM ends ORDER BY epoch, shard""".stripMargin
  }

  // ----------------------------------------------------------------
  // Neyman allocation: optimal stratified sample-size design
  // ----------------------------------------------------------------

  private val NeymanBudget = 1000L

  /** Neyman-optimal stratified sampling allocation (Neyman 1934, the
    * public optimal-allocation formula): given a [[NeymanBudget]]-doc
    * budget, each source stratum gets n_h proportional to N_h*sigma_h
    * — equivalently proportional to sqrt(N_h*SumSq_h - Sum_h^2),
    * computed EXACTLY in DECIMAL(38,0)/HUGEINT before the single
    * IEEE sqrt, then quantized to micro-units at 6 dp (identical
    * doubles in, identical micro-ints out). The integer allocation is
    * floor shares plus LARGEST-REMAINDER top-up (ties pinned on
    * source name), so the released sizes always sum exactly to the
    * budget — the property a downstream sampler actually needs. One
    * corpus scan into a source-grain moment agg; every window runs
    * over the <= |sources| relation.
    *
    * Degenerate-corpus guard (ADVICE r15 #4): if EVERY stratum has
    * zero n_chars variance, all w_micro are 0 and the Neyman shares
    * would divide by w_tot = 0 — Spark nulls, DuckDB errors, an
    * engine-divergent edge. Both engines therefore branch identically
    * to PROPORTIONAL allocation (weight = N_h, total = ΣN_h) exactly
    * when w_tot = 0 — which is also the statistically right answer:
    * with no variance signal, Neyman degenerates to proportional.
    */
  def sampleNeyman(spark: SparkSession, dir: String): DataFrame = {
    val m = docs(spark, dir)
      .select(col("source"), col("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_h"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("n_chars")).as("s2"))
      .withColumn("num",
        col("n_h") * col("s2") - col("s1").cast(
          org.apache.spark.sql.types.DecimalType(38, 0)) * col("s1"))
      .withColumn("w_micro",
        expr("CAST(round(sqrt(CAST(num AS DOUBLE)) * 1e6) AS BIGINT)"))
    val tot = m.agg(sum(col("w_micro")).as("w_tot"),
      sum(col("n_h")).as("n_tot"),
      count(lit(1)).as("n_strata"))
    val withShare = m.crossJoin(broadcast(tot)) // 1-row aggregate
      // w_tot = 0 (all-zero variance) → proportional-to-N_h fallback,
      // same branch in the oracle, so neither engine divides by zero
      .withColumn("eff_w",
        expr("CASE WHEN w_tot = 0 THEN n_h ELSE w_micro END"))
      .withColumn("eff_tot",
        expr("CASE WHEN w_tot = 0 THEN n_tot ELSE w_tot END"))
      .withColumn("floor_n",
        expr(s"$NeymanBudget * eff_w div eff_tot"))
      .withColumn("rem", expr(s"($NeymanBudget * eff_w) % eff_tot"))
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    withShare
      .withColumn("rk", row_number().over(wRem).cast("long"))
      .withColumn("short",
        lit(NeymanBudget) - sum(col("floor_n")).over(wAll))
      .select(col("source"), col("n_h"), col("w_micro"),
        (col("floor_n") + when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("source")
  }

  val sampleNeymanSql: String =
    s"""WITH m AS (
       |  SELECT source, count(*) AS n_h,
       |    CAST(sum(n_chars) AS BIGINT) AS s1,
       |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2
       |  FROM documents GROUP BY 1),
       |w AS (
       |  SELECT source, n_h,
       |    CAST(round(sqrt(CAST(n_h * s2 - CAST(s1 AS HUGEINT) * s1
       |      AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
       |  FROM m),
       |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_tot,
       |        CAST(sum(n_h) AS BIGINT) AS n_tot FROM w),
       |f AS (
       |  SELECT source, n_h, w_micro,
       |    $NeymanBudget * (CASE WHEN w_tot = 0 THEN n_h ELSE w_micro END)
       |      // (CASE WHEN w_tot = 0 THEN n_tot ELSE w_tot END) AS floor_n,
       |    ($NeymanBudget * (CASE WHEN w_tot = 0 THEN n_h ELSE w_micro END))
       |      % (CASE WHEN w_tot = 0 THEN n_tot ELSE w_tot END) AS rem
       |  FROM w, t),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
       |    $NeymanBudget - sum(floor_n) OVER () AS short
       |  FROM f)
       |SELECT source, CAST(n_h AS BIGINT) AS n_h, w_micro,
       |  CAST(floor_n + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc
       |FROM r ORDER BY source""".stripMargin
}
