package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class SourceFormatsSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("jsonl/csv/orc/xml roundtrips equal the parquet-direct fingerprint") {
    val expected = SourceFormats
      .fingerprinted(Tables.table(spark, dir, "documents"))
      .collect().map(_.toString).toSeq
    assert(expected.nonEmpty)
    for ((name, q) <- Seq(
        "jsonl" -> SourceFormats.sourceJsonl _,
        "csv" -> SourceFormats.sourceCsv _,
        "orc" -> SourceFormats.sourceOrc _,
        "xml" -> SourceFormats.sourceXml _,
        "xml_attrs" -> SourceFormats.sourceXmlAttrs _)) {
      val got = q(spark, dir).collect().map(_.toString).toSeq
      assert(got == expected, s"$name roundtrip drifted")
    }
  }

  test("staging follows an in-place rewrite of documents") {
    val d = java.nio.file.Files.createTempDirectory("staged-corpus").toString
    Tables.table(spark, dir, "documents").write.parquet(s"$d/documents.parquet")
    val first = SourceFormats.sourceJsonl(spark, d).collect().map(_.toString).toSeq
    Tables.table(spark, dir, "documents").filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val expected = SourceFormats
      .fingerprinted(Tables.table(spark, d, "documents"))
      .collect().map(_.toString).toSeq
    assert(expected != first, "the rewrite must change the fingerprint")
    assert(SourceFormats.sourceJsonl(spark, d).collect().map(_.toString).toSeq == expected,
      "served the staged copy of documents from before the rewrite")
  }

  test("xml attribute shape: exactly one corrupt row isolates in PERMISSIVE mode") {
    // drive the gate query first so the attribute corpus (incl. the
    // malformed shard) is staged
    SourceFormats.sourceXmlAttrs(spark, dir).collect()
    val path = ArtifactStore.artifactPath(spark, dir, "documents", "staged-xml_attrs-v1").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_n_chars",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_malformed",
        org.apache.spark.sql.types.StringType)))
    // Spark refuses corrupt-column-only queries on raw file sources
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize, then split
    val rows = SourceFormats.rawXmlAttrs(spark, path, schema).collect()
    val (bad, good) = rows.partition(r => !r.isNullAt(5))
    assert(bad.length == 1, "the injected malformed member, nothing else")
    assert(bad.head.getString(5).contains("truncated shard")
      || bad.head.getString(5).contains("-12345"))
    assert(good.length == Tables.table(spark, dir, "documents").count(),
      "corrupt isolation must not cost a single valid row")
  }

  test("the xor fingerprint detects a single-character corruption") {
    val docs = Tables.table(spark, dir, "documents")
    val corrupted = docs.withColumn("text",
      when(col("doc_id") === 3L, concat(col("text"), lit("x")))
        .otherwise(col("text")))
    val a = SourceFormats.fingerprinted(docs).collect()
      .map(r => (r.getString(0), r.getLong(3))).toMap
    val b = SourceFormats.fingerprinted(corrupted).collect()
      .map(r => (r.getString(0), r.getLong(3))).toMap
    val changed = a.keySet.filter(k => a(k) != b(k))
    assert(changed.size == 1, s"exactly one source should drift: $changed")
  }
}
