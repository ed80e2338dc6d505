package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.ChunkPipeline
import graft.split.SplitConfig

/** Golden-chunk fixture generator (provenance: VERDICT r1 task 3).
  *
  * The recursive character splitter (C1, the reference's
  * langchain-text-splitters 0.3.0 semantics,
  * `/root/reference/pdf_reader.py:446-453`) is not SQL-expressible,
  * so the driver's DuckDB gate cannot recompute `doc_chunks` /
  * `doc_chunk_stats` / `doc_report` / `sql_chunk_split` from the raw
  * tables. This tool materializes the splitter's output — the same
  * splitter that is golden- and property-tested in `SplitterSpec` and
  * cross-validated chunk-exact against an independent Python
  * reimplementation — as ONE committed parquet file covering every
  * testdata scale. Oracle SQL then reads the fixture slice whose
  * `(corpus_docs, corpus_chars)` key matches the live `documents`
  * table, and recomputes each query's aggregation/formatting in pure
  * SQL on top of it.
  *
  * Fixture freshness is enforced by `GoldenFixtureSpec`, which
  * regenerates every slice with the live splitter and asserts
  * equality — the fixture cannot silently drift from the code.
  *
  * Usage: `runMain graft.tools.GoldenChunks <outFile> <sfDir>...`
  */
object GoldenChunks {

  val FixturePath = "/root/repo/fixtures/golden_chunks.parquet"

  /** Second fixture at chunk_overlap=20: the overlap window-slide is
    * the fiddliest splitter branch (separator-length terms in the
    * while-condition) and deserves its own gate query
    * (`doc_chunks_overlap`) rather than only dev-tool coverage.
    */
  val OverlapFixturePath = "/root/repo/fixtures/golden_chunks_o20.parquet"
  val OverlapCfg = SplitConfig(chunkSize = 100, chunkOverlap = 20)

  /** One fixture slice: per-chunk splitter output at the given config
    * (default chunk_size=100 / overlap=0 — the main registered
    * queries' config) plus the corpus key.
    */
  def slice(spark: SparkSession, dir: String): DataFrame =
    slice(spark, dir, SplitConfig(chunkSize = 100, chunkOverlap = 0))

  def slice(spark: SparkSession, dir: String, cfg: SplitConfig): DataFrame = {
    val key = graft.sources.Tables.table(spark, dir, "documents")
      .agg(count(lit(1)), sum(col("n_chars")).cast("long")).head()
    val (nDocs, nChars) = (key.getLong(0), key.getLong(1))
    import spark.implicits._
    ChunkPipeline.chunkMetrics(
        ChunkPipeline.perDocument(spark, dir)(ChunkPipeline.chunksOf(_, _, _, cfg)))
      .select(
        col("path").cast("long").as("doc_id"),
        col("chunkIdx").cast("int").as("chunk_idx"),
        col("offsetInPage").cast("int").as("start_index"),
        col("rawText").as("raw_text"),
        col("norm_text"),
        col("chunk_len"),
        col("offset_in_file"),
        col("fileSize").as("file_size"))
      .withColumn("corpus_docs", lit(nDocs))
      .withColumn("corpus_chars", lit(nChars))
  }

  private def writeFixture(
      spark: SparkSession, out: String, cfg: SplitConfig, sfDirs: Seq[String]): Unit = {
    val slices = sfDirs.map(slice(spark, _, cfg))
    // the corpus key must uniquely identify each slice, or the oracle
    // would mix scales (sf0.001 and sf0.01 share a doc count)
    val keys = slices.map(_.select("corpus_docs", "corpus_chars").head())
      .map(r => (r.getLong(0), r.getLong(1)))
    require(keys.distinct.size == keys.size, s"corpus keys collide: $keys")
    val tmp = Files.createTempDirectory("golden_chunks").toString
    slices.reduce(_ unionByName _)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    Files.createDirectories(Paths.get(out).getParent)
    Files.move(part, Paths.get(out), StandardCopyOption.REPLACE_EXISTING)
    println(s"[golden] wrote $out (${keys.mkString(", ")})")
  }

  def main(args: Array[String]): Unit = {
    val out = args.head
    val sfDirs = args.tail.toSeq
    val spark = GraftSession.start(GraftSession.cores)
    writeFixture(spark, out, SplitConfig(chunkSize = 100, chunkOverlap = 0), sfDirs)
    // the overlap fixture rides along at its derived path
    val o20 = out.stripSuffix(".parquet") + "_o20.parquet"
    writeFixture(spark, o20, OverlapCfg, sfDirs)
    spark.stop()
  }
}
