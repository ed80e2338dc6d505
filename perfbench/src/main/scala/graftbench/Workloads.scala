package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Engine, SparkEntry}
import graft.ops.ChunkPipeline
import graft.sources.FileSources
import graft.sources.pdf.{PdfDocument, PdfTextExtractor}
import graft.split.{RecursiveCharacterSplitter, SplitConfig}

/** Wraps a layer call: untraced runs just call it; traced runs record
  * a span and file its Spark jobs under the layer's job group.
  */
trait Tap {
  def apply[T](layer: String)(body: => T): T
}

object NoTap extends Tap {
  def apply[T](layer: String)(body: => T): T = body
}

/** One benchmark workload: a timed iteration, its correctness check,
  * and the traced run's per-layer probes.
  */
trait Workload {
  def inputBytes: Long
  /** PDF pages in the input; 0 for table inputs. */
  def inputPages: Long
  def manifestSha256: String
  /** Untimed iterations after the set-ups, until iteration time settles. */
  def warmup: Int
  /** Runs one iteration, writing or collecting its whole result. */
  def iteration(spark: SparkSession, tap: Tap): Unit
  /** None when the last iteration's output is correct, else why not. */
  def check(spark: SparkSession): Option[String]
  /** Per-layer probes of one traced iteration; `iterStats` holds the
    * Spark counters of the iteration itself.
    */
  def probes(spark: SparkSession, trace: Trace, tap: Tap, iterStats: GroupStats): Map[String, Double]
}

object Workloads {
  val Mix: Vector[String] = Vector("dedup_containment", "dedup_sorted_nbhd",
    "graph_jaccard", "sim_knn", "text_pmi", "layout_bucket")

  val MixTables: Vector[String] = Vector("documents", "embeddings", "lineitem", "orders", "customer")

  /** Per-layer metric names whose layer a workload does not run are
    * reported as measured: zero work.
    */
  val LayerZeros: Map[String, Double] =
    (Seq("sources.pdf.open_s", "sources.pdf.tree_s", "sources.pdf.content_s",
      "sources.pdf.fonts_interpret_s", "sources.pdf.busy_s", "sources.pdf.pages_per_core_s",
      "sources.pdf.files_empty", "split.busy_s", "split.chunks", "split.chars",
      "ops.chunk_pipeline.busy_s", "ops.chunk_pipeline.shuffle_bytes",
      "ops.chunk_pipeline.stages", "ops.chunk_pipeline.spill_bytes",
      "ops.sink.busy_s", "ops.sink.bytes_written", "ops.sink.rows") ++
      Corpus.Shapes.map(s => s"sources.pdf.busy_s.$s") ++
      Mix.flatMap(q => Seq("wall_s", "shuffle_bytes", "task_skew", "stages").map(m => s"ext.$q.$m"))
    ).map(_ -> 0.0).toMap
}

/** `pdf_stats` (the reference's job: report, SUM TOTAL and CSV via
  * `Engine.processRoots`) and `pdf_ingest` (chunks with content and
  * running offsets to parquet, the vector-db ingestion shape).
  */
final class PdfWorkload(ingest: Boolean, corpus: Path, manifest: Corpus.Manifest, sink: Path)
    extends Workload {

  private val opts = Engine.Options(glob = "*.pdf", extractor = PdfTextExtractor)
  private val root = corpus.toString
  private val chunksOut = sink.resolve("chunks").toString
  private val byName = manifest.entries.map(e => e.name -> e).toMap

  def inputBytes: Long = manifest.total.bytes
  def inputPages: Long = manifest.total.pages
  def manifestSha256: String = manifest.hash
  // Measured: iteration time keeps falling until about the eighth
  // iteration in the JVM; the three set-ups are the first three.
  val warmup = 5

  def iteration(spark: SparkSession, tap: Tap): Unit =
    if (ingest)
      ChunkPipeline.chunkMetrics(Engine.chunks(spark, root, opts))
        .write.mode("overwrite").parquet(chunksOut)
    else Engine.processRoots(spark, Seq(root), sink.toString, opts)

  def check(spark: SparkSession): Option[String] =
    if (ingest) checkChunks(spark) else checkCsv()

  /** Per-file rows plus SUM TOTAL last, each equal to the closed form. */
  private def checkCsv(): Option[String] = {
    val dir = sink.resolve(Engine.sanitizeFolderPath(root))
    val parts = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toVector
    if (parts.size != 1) return Some(s"expected one CSV part, found ${parts.size}")
    val lines = Files.readAllLines(parts.head, UTF_8).asScala.filter(_.nonEmpty).toVector
    val header = Csv.parse(lines.head)
    val rows = lines.tail.map(l => header.zip(Csv.parse(l)).toMap)
    def num(r: Map[String, String], k: String): Long = r(k).replace(",", "").toLong
    val t = manifest.total
    if (rows.size != t.files + 1) return Some(s"rows ${rows.size} != files+1 ${t.files + 1}")
    val last = rows.last
    if (last("Filename") != "SUM TOTAL") return Some("SUM TOTAL is not the last row")
    val got = (num(last, "Pages"), num(last, "Chunks"), num(last, "Text Size"), num(last, "File Size"))
    if (got != ((t.pages, t.chunks, t.textSize, t.bytes)))
      return Some(s"SUM TOTAL (pages, chunks, text, bytes) $got != ${(t.pages, t.chunks, t.textSize, t.bytes)}")
    rows.init.collectFirst {
      case r if !byName.get(r("Filename")).exists(e =>
          (num(r, "Pages"), num(r, "Chunks"), num(r, "Text Size"), num(r, "File Size"),
            num(r, "Unmapped Fonts")) == ((e.pages.toLong, e.chunks, e.textSize, e.bytes, 0L))) =>
        s"row for ${r("Filename")} differs from its closed form"
    }
  }

  /** Row count = chunks, Σ chunk_len = text size, offsets are prefix sums. */
  private def checkChunks(spark: SparkSession): Option[String] = {
    val rows = spark.read.parquet(chunksOut)
      .select("path", "chunk_in_file", "offset_in_file", "chunk_len").collect()
    val t = manifest.total
    if (rows.length != t.chunks) return Some(s"rows ${rows.length} != chunks ${t.chunks}")
    val total = rows.map(_.getLong(3)).sum
    if (total != t.textSize) return Some(s"sum(chunk_len) $total != text size ${t.textSize}")
    rows.groupBy(_.getString(0)).collectFirst {
      case (path, rs) if {
          val sorted = rs.sortBy(_.getLong(1))
          val offsets = sorted.map(_.getLong(3)).scanLeft(0L)(_ + _).init
          val e = byName.get(Paths.get(new java.net.URI(path)).getFileName.toString)
          !(sorted.map(_.getLong(1)).toSeq == sorted.indices.map(_.toLong) &&
            sorted.map(_.getLong(2)).toSeq == offsets.toSeq &&
            e.exists(x => x.chunks == rs.length && x.textSize == rs.map(_.getLong(3)).sum))
        } => s"chunks of $path are not numbered, offset or sized as expected"
    }
  }

  def probes(spark: SparkSession, trace: Trace, tap: Tap, iterStats: GroupStats): Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    val scan = tap("probe.scan") {
      FileSources.binaryFiles(spark, root, opts.glob)
        .agg(count(lit(1)), sum(length(col("content")))).head()
    }
    trace.drain()
    m += "sources.scan.files" -> scan.getLong(0).toDouble
    m += "sources.scan.busy_s" -> trace.take("probe.scan").taskS
    m += "sources.scan.bytes_read" -> iterStats.bytesRead.toDouble
    m += "sources.scan.read_amplification" -> iterStats.bytesRead.toDouble / inputBytes

    val texts = tap("probe.codec")(codec(m))
    tap("probe.split") {
      val cfg = SplitConfig()
      val t0 = System.nanoTime()
      var chunks = 0L
      var chars = 0L
      for (t <- texts; (c, _) <- RecursiveCharacterSplitter.splitWithStartIndex(t, cfg)) {
        chunks += 1; chars += c.length
      }
      m += "split.busy_s" -> (System.nanoTime() - t0) / 1e9
      m += "split.chunks" -> chunks.toDouble
      m += "split.chars" -> chars.toDouble
    }

    // The chunk pipeline and the sink, each over a cached input so the
    // layer below is not in its time.
    val pages = FileSources.pages(FileSources.binaryFiles(spark, root, opts.glob), opts.extractor).cache()
    tap("probe.cache")(pages.count())
    val result = tap("probe.ops") {
      val cm = ChunkPipeline.chunkMetrics(ChunkPipeline.chunk(pages, opts.split))
      val r = (if (ingest) cm
        else ChunkPipeline.report(ChunkPipeline.statsWithTotal(ChunkPipeline.fileStats(pages, cm))))
        .persist()
      r.write.format("noop").mode("overwrite").save()
      r
    }
    tap("probe.sink") {
      if (ingest) result.write.mode("overwrite").parquet(sink.resolve("probe-chunks").toString)
      else ChunkPipeline.writeCsv(result, sink.resolve("probe-csv").toString)
    }
    trace.drain()
    val ops = trace.take("probe.ops")
    val sk = trace.take("probe.sink")
    trace.take("probe.cache")
    result.unpersist(blocking = true)
    pages.unpersist(blocking = true)
    m += "ops.chunk_pipeline.busy_s" -> ops.taskS
    m += "ops.chunk_pipeline.shuffle_bytes" -> ops.shuffleBytes.toDouble
    m += "ops.chunk_pipeline.stages" -> ops.stages.toDouble
    m += "ops.chunk_pipeline.spill_bytes" -> ops.spillBytes.toDouble
    m += "ops.sink.busy_s" -> sk.taskS
    m += "ops.sink.bytes_written" -> sk.bytesWritten.toDouble
    m += "ops.sink.rows" -> sk.recordsWritten.toDouble
    m.result()
  }

  /** Single-threaded public-API timing of the codec over every file;
    * returns the extracted page texts for the split probe.
    */
  private def codec(m: scala.collection.mutable.Builder[(String, Double), Map[String, Double]]): Vector[String] = {
    var open, tree, content, total = 0L
    var pagesOut = 0L
    var empty = 0L
    val byShape = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val texts = Vector.newBuilder[String]
    for (e <- manifest.entries) {
      val path = corpus.resolve(e.name)
      val bytes = Files.readAllBytes(path)
      val t0 = System.nanoTime()
      val doc = new PdfDocument(bytes)
      val t1 = System.nanoTime()
      val pr = doc.pagesWithResources
      val t2 = System.nanoTime()
      pr.foreach { case (p, _) => doc.pageContent(p) }
      val t3 = System.nanoTime()
      val pages = PdfTextExtractor.extractDetailed(path.toString, bytes)
      val t4 = System.nanoTime()
      open += t1 - t0; tree += t2 - t1; content += t3 - t2; total += t4 - t3
      byShape(e.shape) += t4 - t3
      pagesOut += pages.size
      if (pages.isEmpty) empty += 1
      texts ++= pages.map(_.text)
    }
    m += "sources.pdf.open_s" -> open / 1e9
    m += "sources.pdf.tree_s" -> tree / 1e9
    m += "sources.pdf.content_s" -> content / 1e9
    m += "sources.pdf.fonts_interpret_s" -> (total - open - tree - content) / 1e9
    m += "sources.pdf.busy_s" -> total / 1e9
    m += "sources.pdf.pages_per_core_s" -> pagesOut / (total / 1e9)
    m += "sources.pdf.files_empty" -> empty.toDouble
    for (s <- Corpus.Shapes) m += s"sources.pdf.busy_s.$s" -> byShape(s) / 1e9
    texts.result()
  }
}

/** `operator_mix`: the fixed query list over the test tables, each
  * result collected once per iteration and compared with the JVM's
  * first result, which is dumped for the DuckDB oracle.
  */
final class MixWorkload(tables: Path, oracleDir: Path) extends Workload {
  private val dir = tables.toString
  private var last: Map[String, (StructType, Array[Row])] = Map.empty
  private var reference: Map[String, String] = Map.empty

  val inputBytes: Long = Workloads.MixTables.map(t => Files.size(tables.resolve(s"$t.parquet"))).sum
  def inputPages: Long = 0L
  // Measured: without warm-up, pass time falls for several passes
  // after the set-ups and runs split into a fast and a slow group;
  // with warm-up the passes settle.
  val warmup = 3
  def manifestSha256: String =
    Corpus.sha256(Workloads.MixTables.map(t => Corpus.sha256(Files.readAllBytes(tables.resolve(s"$t.parquet"))))
      .mkString("\n").getBytes(UTF_8))

  def iteration(spark: SparkSession, tap: Tap): Unit =
    last = Workloads.Mix.map { q =>
      q -> tap(s"ext.$q") {
        val df = SparkEntry.queries(q)(spark, dir)
        (df.schema, df.collect())
      }
    }.toMap

  def check(spark: SparkSession): Option[String] = {
    if (reference.isEmpty) dumpReference(spark)
    Workloads.Mix.collectFirst {
      case q if MixWorkload.digest(last(q)._2) != reference(q) => s"$q differs from its first result"
    }
  }

  /** Writes the first results and their oracle SQL for the DuckDB check. */
  private def dumpReference(spark: SparkSession): Unit = {
    for ((q, (schema, rows)) <- last)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(oracleDir.resolve(q).toString)
    val sql = Workloads.Mix.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}")
    Files.write(oracleDir.resolve("oracle_sql.json"), sql.mkString("{", ",\n", "}\n").getBytes(UTF_8))
    reference = last.map { case (q, (_, rows)) => q -> MixWorkload.digest(rows) }
  }

  def probes(spark: SparkSession, trace: Trace, tap: Tap, iterStats: GroupStats): Map[String, Double] = {
    val files = Workloads.MixTables.map(t => tables.resolve(s"$t.parquet").toString)
    tap("probe.scan") {
      files.foreach(f => spark.read.parquet(f).write.format("noop").mode("overwrite").save())
    }
    trace.drain()
    Map(
      "sources.scan.files" -> files.size.toDouble,
      "sources.scan.busy_s" -> trace.take("probe.scan").taskS,
      "sources.scan.bytes_read" -> iterStats.bytesRead.toDouble,
      "sources.scan.read_amplification" -> iterStats.bytesRead.toDouble / inputBytes)
  }
}

object MixWorkload {
  def digest(rows: Array[Row]): String =
    Corpus.sha256(rows.map(_.toString).sorted.mkString("\n").getBytes(UTF_8))
}

/** The few RFC 4180 rules Spark's CSV writer uses. */
object Csv {
  def parse(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }
}

object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
