package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Testdata table loaders (SURVEY.md §2.1 extension surface: parquet
  * relational scans).
  *
  * `events.parquet` has stored `ts` as parquet TIMESTAMP(NANOS), which
  * Spark's TimestampType (µs) does not accept by default
  * ([PARQUET_TYPE_ILLEGAL]). Every graft session reads nanos as Long:
  * `spark.sql.legacy.parquet.nanosAsLong` is a session conf set by
  * [[graft.GraftSession]] when the session is built, not patched here.
  * [[events]] converts them to a µs TimestampType column, keeping the
  * raw nanos alongside.
  */
object Tables {

  /** Metadata-only corpus fingerprint: the table's file listing as
    * (path, length, mtime) — no data pass. Used as the cache key for
    * per-corpus derived artifacts (IVF centroid models, dedup
    * cluster labelings), so an in-place rewrite invalidates the memo
    * instead of serving stale results.
    */
  def fingerprint(spark: SparkSession, dir: String, name: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses =
      if (!fs.exists(path)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else if (fs.getFileStatus(path).isDirectory) fs.listStatus(path)
      else Array(fs.getFileStatus(path))
    statuses.map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Events with `ts` normalized to TimestampType (µs, truncated from
    * ns) and `ts_ns` as raw nanos-since-epoch.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    // The generated table has shipped `ts` as parquet TIMESTAMP(NANOS)
    // (read as Long under nanosAsLong), TIMESTAMP(MICROS) without UTC
    // adjustment (TIMESTAMP_NTZ — the current generation), and could
    // legitimately ship as instant MICROS. Normalize ALL flavors to one
    // shape — `ts_ns` BIGINT nanos + `ts` TimestampType(µs) — so every
    // downstream operator and its DuckDB oracle (which reads the naive
    // value via epoch_ns(ts)) see identical values. NTZ wall time is
    // interpreted in the session timezone, which graft pins to UTC —
    // matching DuckDB's treat-naive-as-UTC epoch_ns exactly.
    raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampNTZType =>
        raw
          .withColumn("ts_ns", unix_micros(col("ts").cast(TimestampType)) * 1000L)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
}
