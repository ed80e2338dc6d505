package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.split.SplitConfig

/** Core-pipeline query surface registered in `SparkEntry` (SURVEY.md
  * §7.2). Each `..Sql` constant is the DuckDB oracle for the
  * same-named query; column names/aliases match exactly (driver
  * compares column-name-sorted value hashes).
  *
  * The recursive splitter itself is not SQL-expressible, so the
  * oracle strategy (SURVEY.md §5.1) is: (a) the full pipeline runs
  * with the real splitter as `doc_chunk_stats` (rows-only check +
  * ScalaTest golden/property coverage), and (b) a fixed-width chunker
  * variant recomputes the same downstream quantities in SQL
  * (explode/normalize/measure/window/agg/rollup) with a
  * `generate_series`+`substr` DuckDB oracle.
  */
object CoreQueries {

  private val W = 100 // fixed chunk width for the oracle-able variant

  /** Flagship: real recursive splitter at chunk_size=100 over
    * `documents` (doc texts are 47-558 chars — size 100 exercises
    * splitting and merging; the reference default 1200 would yield one
    * chunk per doc).
    */
  /** One shuffle, the rollup's (pinned by PlanQualitySpec): each
    * `documents` row is folded to its per-file row by
    * `ChunkPipeline.fileStatsOf` in the scan task.
    */
  def docChunkStats(spark: SparkSession, dir: String): DataFrame =
    ChunkPipeline.docChunkStats(spark, dir, SplitConfig(chunkSize = 100, chunkOverlap = 0))

  /** Per-chunk detail of the real splitter (golden-fixture oracle). */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    docChunksAt(spark, dir, SplitConfig(chunkSize = 100, chunkOverlap = 0))

  /** The overlap window-slide branch of the splitter under the hard
    * gate: same per-chunk detail at chunk_overlap=20 (golden-fixture
    * oracle `docChunksOverlapSql`; the fixture is cross-validated and
    * freshness-enforced like the zero-overlap one).
    */
  def docChunksOverlap(spark: SparkSession, dir: String): DataFrame =
    docChunksAt(spark, dir, graft.tools.GoldenChunks.OverlapCfg)

  private def docChunksAt(spark: SparkSession, dir: String, cfg: SplitConfig): DataFrame = {
    import spark.implicits._
    ChunkPipeline.chunkMetrics(
        ChunkPipeline.perDocument(spark, dir)(ChunkPipeline.chunksOf(_, _, _, cfg)))
      .select(
        col("path").cast("long").as("doc_id"),
        col("chunkIdx").cast("long").as("chunk_idx"),
        col("offsetInPage").cast("long").as("offset_in_page"),
        col("chunk_len"), col("offset_in_file"), col("norm_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ---------------------------------------------------------------
  // Golden-fixture oracles for the real-splitter queries.
  //
  // The recursive splitter is not SQL-expressible, so these oracles
  // read `fixtures/golden_chunks.parquet` — the splitter's own output,
  // materialized once by `graft.tools.GoldenChunks` (cross-validated
  // against an independent reimplementation; freshness enforced by
  // `GoldenFixtureSpec`) — and recompute each query's downstream
  // aggregation/formatting in pure SQL on top of it. The slice whose
  // (doc count, total chars) key matches the live `documents` table
  // keeps the oracle scale-agnostic.
  // ---------------------------------------------------------------

  private def fixtureSlice: String =
    s"""SELECT * FROM read_parquet('${graft.tools.GoldenChunks.FixturePath}')
       |  WHERE corpus_docs = (SELECT count(*) FROM documents)
       |    AND corpus_chars = (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)""".stripMargin

  val docChunksSql: String =
    s"""WITH f AS ($fixtureSlice)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(start_index AS BIGINT) AS offset_in_page,
       |       chunk_len, offset_in_file, norm_text
       |FROM f ORDER BY doc_id, chunk_idx""".stripMargin

  val docChunksOverlapSql: String =
    s"""WITH f AS (
       |  SELECT * FROM read_parquet('${graft.tools.GoldenChunks.OverlapFixturePath}')
       |  WHERE corpus_docs = (SELECT count(*) FROM documents)
       |    AND corpus_chars = (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents))
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(start_index AS BIGINT) AS offset_in_page,
       |       chunk_len, offset_in_file, norm_text
       |FROM f ORDER BY doc_id, chunk_idx""".stripMargin

  private def fixturePerDocSql: String =
    s"""WITH f AS ($fixtureSlice),
       |per_doc AS (
       |  SELECT doc_id, 1 AS pages, count(*) AS chunks,
       |         max(file_size) AS file_size, sum(chunk_len) AS text_size
       |  FROM f GROUP BY doc_id),
       |stats AS (
       |  SELECT coalesce(CAST(doc_id AS VARCHAR), 'SUM TOTAL') AS path,
       |         CAST(sum(pages) AS BIGINT) AS pages,
       |         CAST(sum(chunks) AS BIGINT) AS chunks,
       |         CAST(sum(file_size) AS BIGINT) AS file_size,
       |         CAST(sum(text_size) AS BIGINT) AS text_size,
       |         CASE WHEN sum(text_size) = 0 THEN NULL
       |              ELSE CAST(sum(file_size) AS DOUBLE) / sum(text_size)
       |         END AS ratio
       |  FROM per_doc GROUP BY ROLLUP(doc_id))""".stripMargin

  val docChunkStatsSql: String =
    s"""$fixturePerDocSql
       |SELECT path, pages, chunks, file_size, text_size, ratio,
       |       CAST(0 AS BIGINT) AS unmapped_fonts
       |FROM stats ORDER BY path""".stripMargin

  /** The reference's formatted report: thousands-separated counts
    * (`format` {:,} == Spark `format_number`) and 2-dp ratio
    * (`printf %.2f` == Java `format_string` — HALF_UP agreement
    * verified across every ratio value in the fixture).
    */
  val docReportSql: String =
    s"""$fixturePerDocSql
       |SELECT path AS "Filename",
       |       format('{:,}', pages) AS "Pages",
       |       format('{:,}', chunks) AS "Chunks",
       |       format('{:,}', file_size) AS "File Size",
       |       format('{:,}', text_size) AS "Text Size",
       |       CASE WHEN ratio IS NULL THEN 'N/A'
       |            ELSE printf('%.2f', ratio) END AS "Ratio",
       |       '0' AS "Unmapped Fonts"
       |FROM stats ORDER BY "Filename"""".stripMargin

  val sqlChunkSplitSql: String =
    s"""WITH f AS ($fixtureSlice)
       |SELECT doc_id, raw_text AS chunk, start_index, chunk_idx
       |FROM f ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------
  // Fixed-width variant: identical downstream pipeline, SQL oracle.
  // ---------------------------------------------------------------

  private def fixedChunksImpl(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Tables.table(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), ((length(col("text")) - 1) / W).cast("long"))))
      .withColumn("chunk", col("text").substr((col("chunk_idx") * W + 1).cast("int"), lit(W)))
  }

  /** Fixed-width chunk exploder — every chunk with its in-file offset
    * and normalized length. Oracle: `chunkFixedSql`.
    */
  def chunkFixed(spark: SparkSession, dir: String): DataFrame =
    fixedChunksImpl(spark, dir)
      .select(
        col("doc_id"),
        col("chunk_idx"),
        (col("chunk_idx") * W).cast("long").as("offset_in_file"),
        length(col("chunk")).cast("long").as("chunk_len"),
        Normalize.normalizeCol(col("chunk")).as("norm_text"))
      .withColumn("norm_len", length(col("norm_text")).cast("long"))
      .orderBy("doc_id", "chunk_idx")

  val chunkFixedSql: String =
    s"""WITH idx AS (
       |  SELECT doc_id, text,
       |         unnest(generate_series(0, (length(text)-1)//$W)) AS i
       |  FROM documents WHERE length(text) > 0
       |), c AS (
       |  SELECT doc_id, i, substr(text, CAST(i*$W+1 AS INT), $W) AS chunk
       |  FROM idx
       |)
       |SELECT doc_id, i AS chunk_idx, i*$W AS offset_in_file,
       |  length(chunk) AS chunk_len,
       |  lower(regexp_replace(regexp_replace(regexp_replace(chunk,
       |    '\\n{2,}', chr(10), 'g'), '\\n+', ' ', 'g'),
       |    '\\\\u[0-9a-fA-F]{4}', '', 'g')) AS norm_text,
       |  length(lower(regexp_replace(regexp_replace(regexp_replace(chunk,
       |    '\\n{2,}', chr(10), 'g'), '\\n+', ' ', 'g'),
       |    '\\\\u[0-9a-fA-F]{4}', '', 'g'))) AS norm_len
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Per-doc stats + SUM TOTAL rollup over fixed-width chunks — the
    * reference's A1+A2+U1 report shape with a full SQL oracle.
    * `ratio` = file_size/text_size (ratio of sums for the total row,
    * `pdf_reader.py:148`).
    */
  def docStatsFixed(spark: SparkSession, dir: String): DataFrame =
    fixedChunksImpl(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        length(col("chunk")).cast("long").as("chunk_len"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("chunks"),
        sum(col("chunk_len")).as("text_size"),
        max(col("n_chars")).as("file_size"))
      .rollup(col("doc_id"))
      .agg(
        sum(col("chunks")).as("chunks"),
        sum(col("text_size")).as("text_size"),
        sum(col("file_size")).as("file_size"),
        count(lit(1)).as("n_docs"))
      .select(
        coalesce(col("doc_id").cast("string"), lit("SUM TOTAL")).as("file"),
        col("chunks"), col("text_size"), col("file_size"), col("n_docs"),
        when(col("text_size") === 0, lit(null).cast("double"))
          .otherwise(col("file_size").cast("double") / col("text_size")).as("ratio"))
      .orderBy("file")

  val docStatsFixedSql: String =
    s"""WITH chunks AS (
       |  SELECT doc_id, n_chars,
       |         length(substr(text, CAST(i*$W+1 AS INT), $W)) AS chunk_len
       |  FROM (SELECT doc_id, text, n_chars,
       |          unnest(generate_series(0, (length(text)-1)//$W)) AS i
       |        FROM documents WHERE length(text) > 0)
       |), per_doc AS (
       |  SELECT doc_id, count(*) AS chunks, sum(chunk_len) AS text_size,
       |         max(n_chars) AS file_size
       |  FROM chunks GROUP BY doc_id
       |)
       |SELECT coalesce(CAST(doc_id AS VARCHAR), 'SUM TOTAL') AS file,
       |       CAST(sum(chunks) AS BIGINT) AS chunks,
       |       CAST(sum(text_size) AS BIGINT) AS text_size,
       |       CAST(sum(file_size) AS BIGINT) AS file_size, count(*) AS n_docs,
       |       CASE WHEN sum(text_size) = 0 THEN NULL
       |            ELSE CAST(sum(file_size) AS DOUBLE) / sum(text_size)
       |       END AS ratio
       |FROM per_doc GROUP BY ROLLUP(doc_id)
       |ORDER BY file""".stripMargin

  /** P3-P6 normalization as a pure projection. Oracle:
    * `docNormalizeSql`.
    */
  def docNormalize(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        Normalize.normalizeCol(col("text")).as("norm_text"),
        length(Normalize.normalizeCol(col("text"))).cast("long").as("norm_len"))
      .orderBy("doc_id")

  val docNormalizeSql: String =
    """SELECT doc_id,
      |  lower(regexp_replace(regexp_replace(regexp_replace(text,
      |    '\n{2,}', chr(10), 'g'), '\n+', ' ', 'g'),
      |    '\\u[0-9a-fA-F]{4}', '', 'g')) AS norm_text,
      |  length(lower(regexp_replace(regexp_replace(regexp_replace(text,
      |    '\n{2,}', chr(10), 'g'), '\n+', ' ', 'g'),
      |    '\\u[0-9a-fA-F]{4}', '', 'g'))) AS norm_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** S4 multi-root shape: per-root (the `source` column plays the
    * input folder) corpus stats with an ALL rollup row.
    */
  def multiRoot(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(spark, dir, "documents")
      .rollup(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(
        coalesce(col("source"), lit("ALL")).as("root"),
        col("n_docs"), col("total_chars"), col("max_chars"))
      .orderBy("root")

  val multiRootSql: String =
    """SELECT coalesce(source, 'ALL') AS root, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       max(n_chars) AS max_chars
      |FROM documents GROUP BY ROLLUP(source)
      |ORDER BY root""".stripMargin

  /** The reference's formatted report (P8/P9 + SUM TOTAL last) over
    * the real splitter pipeline — string-typed at the sink boundary
    * only (golden-fixture oracle `docReportSql`; formatting is also
    * golden-tested against the reference README sample in
    * PipelineSpec).
    */
  def docReport(spark: SparkSession, dir: String): DataFrame =
    ChunkPipeline.report(
      ChunkPipeline.docChunkStats(spark, dir, SplitConfig(chunkSize = 100, chunkOverlap = 0)))

  /** The C1 splitter through its SQL surface — the `chunk_split`
    * Generator (UDTF) registered in the session function registry.
    * Golden-fixture oracle `sqlChunkSplitSql`; `SqlSurfaceSpec`
    * additionally asserts equality with the typed-flatMap path (same
    * pure splitter underneath).
    */
  def sqlChunkSplit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(spark)
    graft.sources.Tables.table(spark, dir, "documents")
      .createOrReplaceTempView("graft_documents")
    spark.sql(
      """SELECT doc_id, chunk_split(text, 100, 0)
        |FROM graft_documents
        |ORDER BY doc_id, chunk_idx""".stripMargin)
  }

  /** C3 across pages in the driver gate: documents grouped into
    * multi-page files (file = doc_id mod 100, page = doc_id div 100),
    * fixed-width chunks per page, and `offset_in_file` accumulating
    * across page boundaries in (page, chunk) order — the reference's
    * cross-page running offset (`pdf_reader.py:483-485`) with a full
    * SQL oracle (the real-splitter twin is covered by PipelineSpec).
    */
  def chunkMultipage(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("file_id").orderBy("page", "chunk_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    graft.sources.Tables.table(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(
        pmod(col("doc_id"), lit(100)).as("file_id"),
        (col("doc_id") / 100).cast("long").as("page"),
        col("text"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), ((length(col("text")) - 1) / W).cast("long"))))
      .withColumn("chunk_len",
        length(col("text").substr((col("chunk_idx") * W + 1).cast("int"), lit(W)))
          .cast("long"))
      .withColumn("offset_in_file",
        coalesce(sum(col("chunk_len")).over(w), lit(0L)))
      .select("file_id", "page", "chunk_idx", "chunk_len", "offset_in_file")
      .orderBy("file_id", "page", "chunk_idx")
  }

  val chunkMultipageSql: String =
    s"""WITH c AS (
       |  SELECT doc_id % 100 AS file_id, doc_id // 100 AS page,
       |         i AS chunk_idx,
       |         length(substr(text, CAST(i*$W+1 AS INT), $W)) AS chunk_len
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(0, (length(text)-1)//$W)) AS i
       |        FROM documents WHERE length(text) > 0))
       |SELECT file_id, page, chunk_idx, chunk_len,
       |  CAST(coalesce(sum(chunk_len) OVER (
       |    PARTITION BY file_id ORDER BY page, chunk_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS offset_in_file
       |FROM c ORDER BY file_id, page, chunk_idx""".stripMargin
}
