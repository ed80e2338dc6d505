package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.graft.ColumnBridge

import graft.{Engine, FileStats, GraftSession}
import graft.ops.ChunkPipeline
import graft.sources.FileSources
import graft.sources.pdf.PdfTextExtractor

/** Where a warm PDF report's time goes, in one warm JVM on
  * `local[GraftSession.cores]`: the median wall time of each driver step
  * of `Engine.processRoots` (the listing, the conf broadcast, the file
  * job, the report and the CSV), of the whole call, and of its floor —
  * the same largest-first bins decoded and folded by as many plain
  * threads as Spark has cores, each file read through `java.nio` or
  * through the session's Hadoop file system. It also times the file job
  * at 1, 2 and 4 bins per core, an empty job of as many tasks as the
  * file job's 4 bins per core, and the listing taken from a `binaryFile`
  * relation, as `FileSources.pages` takes it. `2 x reps` whole calls and floors warm
  * the JVM first; then each step runs `reps / 2` untimed warm-up reps
  * and `reps` timed ones.
  *
  * Usage: `sbt "Test/runMain graft.tools.ReportProbe <pdfDir> <reps>"`
  */
object ReportProbe {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.tools.ReportProbe <pdfDir> <reps>")
    val root = args(0)
    val reps = args(1).toInt
    val spark = GraftSession.start(GraftSession.cores)
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val opts = Engine.Options(glob = "*.pdf", extractor = PdfTextExtractor)
    val split = opts.split
    val out = Files.createTempDirectory("reportprobe")

    def median(body: => Any): Double = {
      for (_ <- 1 to reps / 2) body
      val ms = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(ms.size / 2)
    }

    val listing = ColumnBridge.binaryFileListing(spark, root, FileSources.binaryFileOptions(opts.glob))
    val files = listing.files.map(s => (s.getPath.toString, s.getLen))
    def bins(perCore: Int) = FileSources.packBins(files, perCore * cores, listing.openCostInBytes)
    val stats = Engine.collectFileStats(spark, root, opts)
    val report = ChunkPipeline.localReport(stats)
    val hadoopConf = ColumnBridge.hadoopConfInTask(spark)

    /** `perFile`'s job over `perCore` bins per core, folding each file. */
    def fileJob(perCore: Int): Unit = {
      val planned = bins(perCore)
      sc.parallelize(planned, planned.size).mapPartitions { it =>
        it.flatMap(_.iterator).flatMap { case (path, length) =>
          ChunkPipeline.fileStatsOf(path, length,
            PdfTextExtractor.extractDetailed(path, hadoopRead(hadoopConf())(path, length)), split)
        }
      }.collect()
    }

    val pool = Executors.newFixedThreadPool(cores)
    /** The 4-bins-per-core plan, folded by `cores` plain threads. */
    def floor(read: (String, Long) => Array[Byte]): Unit =
      bins(4).map { bin =>
        pool.submit(new Callable[Seq[FileStats]] {
          def call(): Seq[FileStats] = bin.flatMap { case (path, length) =>
            ChunkPipeline.fileStatsOf(path, length,
              PdfTextExtractor.extractDetailed(path, read(path, length)), split)
          }
        })
      }.foreach(_.get())

    def processRoots(): Unit = Engine.processRoots(spark, Seq(root), out.toString, opts)
    def nioRead(path: String, length: Long) = Files.readAllBytes(Paths.get(new java.net.URI(path)))
    // the JIT and the caches warm over whole calls first
    for (_ <- 1 to 2 * reps) { processRoots(); floor(nioRead) }
    val total = median(processRoots())
    val nioFloor = median(floor(nioRead))
    val rows = Seq(
      "listing (file index)" -> median(
        ColumnBridge.binaryFileListing(spark, root, FileSources.binaryFileOptions(opts.glob))),
      "listing (binaryFile relation)" -> median(
        ColumnBridge.binaryFileListing(FileSources.binaryFiles(spark, root, opts.glob))),
      "conf broadcast (keyed)" -> median(ColumnBridge.hadoopConfInTask(spark)),
      "listing + broadcast + job" -> median(Engine.collectFileStats(spark, root, opts)),
      "report (driver)" -> median(ChunkPipeline.localReport(stats)),
      "csv (driver)" -> median(ChunkPipeline.writeCsv(spark, report, out.resolve("csv").toString)),
      "processRoots" -> total) ++
      Seq(1, 2, 4).map(k => s"file job, $k bin(s) per core" -> median(fileJob(k))) ++ Seq(
      s"empty job, ${4 * cores} tasks" -> median(sc.parallelize(1 to 4 * cores, 4 * cores).count()),
      s"floor: $cores threads, java.nio" -> nioFloor,
      s"floor: $cores threads, Hadoop FS" -> median(floor(hadoopRead(hadoopConf()))))
    pool.shutdown()
    println(s"[probe] $root: ${files.size} files, ${stats.map(_.pages).sum} pages, " +
      s"$cores cores, medians of $reps reps")
    for ((name, ms) <- rows) println(f"[probe] $name%-34s $ms%8.1f ms")
    println(f"[probe] processRoots / java.nio floor       ${total / nioFloor}%8.2f x")
    spark.stop()
  }

  /** The whole file through its Hadoop file system, as `perFile` reads it. */
  private def hadoopRead(conf: Configuration)(path: String, length: Long): Array[Byte] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val bytes = new Array[Byte](length.toInt)
    try in.readFully(bytes) finally in.close()
    bytes
  }
}
