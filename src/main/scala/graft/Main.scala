package graft

import org.apache.spark.sql.SparkSession

import graft.split.SplitConfig

/** CLI mirroring the reference's primary entry point
  * (`python pdf_reader.py <dirs…> <n> [--print_metadata]`,
  * `/root/reference/pdf_reader.py:218-293,621-666`):
  *
  * {{{
  * graft.Main <dir> [<dir>…] <parallelism>
  *   [--file_type .txt] [--chunk_size 1200] [--chunk_overlap 0]
  *   [--print_metadata] [--output_dir DIR]
  * }}}
  *
  * Each root is processed independently (S4), in the one Spark job of
  * [[Engine.report]]: console report, one CSV per root named from the
  * sanitized root path (S8), optional JSON metadata dump (S7), and the
  * reference's closing ratio sentence (P11). Validation follows the
  * reference: all dirs must exist, parallelism must be positive
  * (`pdf_reader.py:283-291`).
  */
object Main {

  private case class Args(
      roots: Seq[String],
      parallelism: Int,
      fileType: String = ".txt",
      chunkSize: Int = 1200,
      chunkOverlap: Int = 0,
      printMetadata: Boolean = false,
      outputDir: String = ".")

  private def parse(argv: Array[String]): Args = {
    val (flags, positional) = {
      var fs = Map.empty[String, String]
      var pos = Vector.empty[String]
      var i = 0
      while (i < argv.length) {
        argv(i) match {
          case "--print_metadata" => fs += ("print_metadata" -> "true")
          case f @ ("--file_type" | "--chunk_size" | "--chunk_overlap" | "--output_dir") =>
            require(i + 1 < argv.length, s"$f needs a value")
            fs += (f.stripPrefix("--") -> argv(i + 1)); i += 1
          case p => pos :+= p
        }
        i += 1
      }
      (fs, pos)
    }
    require(positional.length >= 2,
      "usage: graft.Main <dir> [<dir>…] <parallelism> [--file_type EXT] " +
        "[--chunk_size N] [--chunk_overlap N] [--print_metadata] [--output_dir DIR]")
    val parallelism = try positional.last.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"last positional argument must be the parallelism count, " +
          s"got '${positional.last}'")
    }
    require(parallelism > 0, "parallelism must be positive")
    val roots = positional.init
    roots.foreach { r =>
      require(new java.io.File(r).isDirectory, s"not a directory: $r")
    }
    Args(roots, parallelism,
      fileType = flags.getOrElse("file_type", ".txt"),
      chunkSize = flags.getOrElse("chunk_size", "1200").toInt,
      chunkOverlap = flags.getOrElse("chunk_overlap", "0").toInt,
      printMetadata = flags.contains("print_metadata"),
      outputDir = flags.getOrElse("output_dir", "."))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    run(GraftSession.start(args.parallelism), args)
  }

  private def run(spark: SparkSession, args: Args): Unit = {
    val ext = if (args.fileType.startsWith(".")) args.fileType else "." + args.fileType
    // .pdf routes through the pure-JVM PDF codec (the reference's
    // primary file type); anything else is read as plain text
    val extractor: graft.sources.PageExtractor =
      if (ext.equalsIgnoreCase(".pdf")) graft.sources.pdf.PdfTextExtractor
      else graft.sources.PlainTextExtractor
    val opts = Engine.Options(
      glob = s"*$ext",
      split = SplitConfig(chunkSize = args.chunkSize, chunkOverlap = args.chunkOverlap),
      extractor = extractor)
    val t0 = System.nanoTime()
    for (root <- args.roots) {
      // one Spark job per root, the one Engine.report runs: the per-file
      // rows reach the driver, and the table, the metadata, the CSV and
      // the summary all derive from them with no further job
      val stats = Engine.collectFileStats(spark, root, opts)
      val report = graft.ops.ChunkPipeline.localReport(stats)
      // S6 console sink, untruncated
      report.toDF(spark).show(report.rows.size, truncate = false)
      if (args.printMetadata) {
        import org.apache.spark.sql.functions.{struct, to_json, col}
        import spark.implicits._
        spark.createDataset(stats).select(to_json(struct(col("*"))))
          .collect().foreach(r => println(r.getString(0)))
      }
      val out = s"${args.outputDir}/${Engine.sanitizeFolderPath(root)}"
      graft.ops.ChunkPipeline.writeCsv(spark, report, out)
      println(summary(stats))
      println(s"[graft] wrote $out")
    }
    println(f"[graft] total ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      s"over ${args.roots.length} root(s)")
  }

  /** The reference's closing sentence (`pdf_reader.py:167-192`, SURVEY.md
    * P11): the corpus ratio of sums and its `100 / total_ratio`
    * extrapolation, the text that 100 MB of such files hold.
    */
  private[graft] def summary(stats: Seq[graft.FileStats]): String = {
    val fileSize = stats.map(_.fileSize).sum
    val textSize = stats.map(_.textSize).sum
    if (textSize == 0)
      s"[graft] ${stats.size} file(s) yielded no text, so there is no ratio to extrapolate."
    else {
      val ratio = fileSize.toDouble / textSize
      ("[graft] %d file(s), %,d bytes, hold %,d characters of text: a ratio of %.2f, " +
        "so 100 MB of such files hold about %.2f MB of text.")
        .formatLocal(java.util.Locale.ROOT, stats.size, fileSize, textSize, ratio, 100 / ratio)
    }
  }

  /** Test hook: run against an existing session. */
  private[graft] def runWith(spark: SparkSession, argv: Array[String]): Unit =
    run(spark, parse(argv))
}
