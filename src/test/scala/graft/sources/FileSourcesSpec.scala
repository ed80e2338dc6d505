package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The driver-planned file job: its listing is the binaryFile
  * relation's, and its bins follow Graham's LPT rule.
  */
class FileSourcesSpec extends AnyFunSuite with SparkTestBase {

  private def write(root: Path, rel: String, bytes: Int): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](bytes)('x'))
  }

  test("the planned files are the ones binaryFile lists") {
    val tree = Files.createTempDirectory("listing")
    write(tree, "top.pdf", 10)
    write(tree, "a/b/c/deep.pdf", 20)
    write(tree, "a/.hidden.pdf", 30)
    write(tree, "a/_under.pdf", 40)
    write(tree, "a/UPPER.PDF", 50)
    write(tree, "a/b/empty.pdf", 0)
    write(tree, "a/b/odd name %41 #1.pdf", 60)
    write(tree, "a/other.txt", 70)
    val emptyRoot = Files.createTempDirectory("listing-empty")
    for (root <- Seq(tree, emptyRoot); glob <- Seq("*.pdf", "*.PDF", "*")) {
      val files = FileSources.binaryFiles(spark, root.toString, glob)
      val scanned = files.select("path", "length").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val listed = ColumnBridge.binaryFileListing(files).files
        .map(s => (s.getPath.toString, s.getLen)).toSet
      val read = FileSources.perFile(files, PlainTextExtractor)(
        (path, length, _) => Iterator((path, length))).collect().toSet
      assert(listed == scanned, s"$root $glob")
      assert(read == scanned, s"$root $glob")
    }
    val pdfs = FileSources.binaryFiles(spark, tree.toString, "*.pdf").select("path")
      .collect().map(_.getString(0).split('/').last).toSet
    assert(pdfs == Set("top.pdf", "deep.pdf", "odd name %41 #1.pdf"))
  }

  test("perFile takes the bare binaryFile relation only") {
    val files = FileSources.binaryFiles(spark, Files.createTempDirectory("bare").toString)
    intercept[IllegalArgumentException](
      FileSources.perFile(files.filter("length > 0"), PlainTextExtractor)((p, _, _) => Some(p)))
    intercept[IllegalArgumentException](
      FileSources.perFile(spark.range(1).toDF(), PlainTextExtractor)((p, _, _) => Some(p)))
  }

  private val rng = new scala.util.Random(20261019)

  private def randomFiles(n: Int, maxLen: Int): Seq[(String, Long)] =
    (0 until n).map(i => (f"dir/f$i%04d.pdf", rng.nextInt(maxLen).toLong))

  private def loads(bins: Seq[Seq[(String, Long)]], openCost: Long): Seq[Long] =
    bins.map(_.map(_._2 + openCost).sum)

  test("packBins: every file in one bin, never more bins than files") {
    for (n <- Seq(0, 1, 2, 5, 16, 17, 100); maxBins <- Seq(1, 4, 16)) {
      val files = randomFiles(n, 1000)
      val bins = FileSources.packBins(files, maxBins, 7)
      assert(bins.size == math.min(n, maxBins))
      assert(bins.forall(_.nonEmpty))
      assert(bins.flatten.sorted == files.sorted)
    }
  }

  test("packBins: the same listing gives the same bins, in descending load") {
    for (_ <- 1 to 20) {
      // equal lengths, so ties decide placement
      val files = randomFiles(40, 5).map { case (p, l) => (p, l * 100) }
      val bins = FileSources.packBins(files, 16, 4)
      for (_ <- 1 to 5) assert(FileSources.packBins(rng.shuffle(files), 16, 4) == bins)
      val ls = loads(bins, 4)
      assert(ls == ls.sorted.reverse, ls)
    }
  }

  test("packBins: the makespan is within LPT's bound") {
    // against the optimum, found by trying every assignment
    def optimum(costs: Seq[Long], m: Int): Long =
      costs.foldLeft(Seq(Vector.fill(m)(0L))) { (states, c) =>
        states.flatMap(s => s.indices.map(i => s.updated(i, s(i) + c).sorted)).distinct
      }.map(_.max).min
    for (_ <- 1 to 300) {
      val n = 1 + rng.nextInt(8)
      val m = 1 + rng.nextInt(math.min(n, 3))
      val openCost = rng.nextInt(50).toLong
      val files = randomFiles(n, 100)
      val makespan = loads(FileSources.packBins(files, m, openCost), openCost).max
      val opt = optimum(files.map(_._2 + openCost), m)
      // Graham: LPT <= (4/3 - 1/(3m)) OPT
      assert(3 * m * makespan <= (4 * m - 1) * opt, (files, m, openCost))
    }
    // on larger listings, against max(largest, total / bins): any list
    // schedule is within total / bins + (1 - 1/bins) largest of it
    for (_ <- 1 to 50) {
      val files = randomFiles(50 + rng.nextInt(300), 1 << 20)
      val m = 16
      val costs = files.map(_._2 + 4096)
      val makespan = loads(FileSources.packBins(files, m, 4096), 4096).max
      assert(makespan * m <= costs.sum + (m - 1) * costs.max)
    }
    // max(largest, total / bins) is not itself within 4/3 of LPT: four
    // equal files in three bins need two in one bin, 3/2 of total / bins,
    // which is also the optimum
    val four = FileSources.packBins((1 to 4).map(i => (s"f$i", 30L)), 3, 0)
    assert(loads(four, 0).max == 60L)
  }
}
