package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Normalize
import graft.sources.pdf.PdfTextExtractor
import graft.split.{RecursiveCharacterSplitter, SplitConfig}

class CorpusSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def tiny(seed: Long): (Path, Corpus.Manifest) = {
    val dir = Files.createTempDirectory("perfbench-corpus")
    dirs += dir
    (dir, Corpus.write(seed, dir, filesPerShape = 3, bigScale = 0.003))
  }

  override def afterAll(): Unit =
    dirs.foreach(d => Files.walk(d).iterator().asScala.toVector.reverse.foreach(Files.delete))

  private def files(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  test("the same seed gives the same bytes; another seed gives other bytes") {
    val (a, ma) = tiny(7)
    val (b, mb) = tiny(7)
    val (_, mc) = tiny(8)
    assert(files(a) == files(b))
    assert(ma.hash == mb.hash)
    assert(mc.hash != ma.hash)
    assert(mc.total.pages == ma.total.pages)
    assert(ma.byShape.forall(_._2.files > 0))
  }

  test("the manifest reads back as written") {
    val (dir, m) = tiny(9)
    assert(Corpus.read(dir) == m)
  }

  test("the closed form holds through graft's codec and splitter") {
    val (dir, m) = tiny(11)
    for (e <- m.entries) {
      val pages = PdfTextExtractor.extractDetailed(e.name, Files.readAllBytes(dir.resolve(e.name)))
      assert(pages.size == e.pages, e.name)
      val chunks = pages.flatMap(p => RecursiveCharacterSplitter.splitWithStartIndex(p.text, SplitConfig()))
      assert(chunks.size == e.chunks, e.name)
      assert(chunks.map(c => Normalize.normalize(c._1).length.toLong).sum == e.textSize, e.name)
    }
    val ratio = m.total.bytes.toDouble / m.total.textSize
    assert(ratio >= 5 && ratio <= 20, s"file/text ratio $ratio")
  }
}
