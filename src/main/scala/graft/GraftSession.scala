package graft

import org.apache.spark.sql.SparkSession

/** The engine's one Spark session. Every entry point (`Main`, `Bench`,
  * `Verify`, the `tools` mains and the test base) starts Spark here, so
  * every session carries the same engine confs:
  *
  *   - `local[cores]` with `cores` shuffle partitions, the reference's one
  *     parallelism knob (`pdf_reader.py:283-291,543-544`);
  *   - UTC, which the events normalization and its DuckDB oracle assume;
  *   - `spark.sql.legacy.parquet.nanosAsLong`, so an `events.parquet` that
  *     stores `ts` as TIMESTAMP(NANOS) reads as a Long
  *     ([[graft.sources.Tables.events]]);
  *   - [[graft.plans.GraftExtensions]];
  *   - a codegen cache of [[CodegenCacheEntries]] classes.
  *
  * A new session of the same context (`spark.newSession()`) inherits them
  * all, because they are set on the context the builder creates.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else the JVM's processor count. */
  val cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `spark.sql.codegen.cache.maxEntries` (Spark's default is 100). The
    * cache is sized from the conf when `CodeGenerator` is first loaded, so
    * the value only takes effect when set on the session's builder. At 100
    * a warm pass over a handful of analytics queries recompiles classes it
    * compiled a pass earlier.
    */
  private[graft] val CodegenCacheEntries = 2000

  /** Starts (or returns) the JVM's session on `local[cores]`.
    * `deployment` holds the caller's scratch locations, such as
    * `spark.graft.artifactDir` and `spark.sql.warehouse.dir`; none is set
    * unless passed.
    */
  def start(cores: Int, deployment: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
    val spark = deployment.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
