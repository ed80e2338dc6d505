package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one session builder: every entry point starts Spark through
  * [[GraftSession.start]], and its sessions carry the engine's confs.
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  private def assertEngineConfs(s: SparkSession): Unit = {
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(s.catalog.functionExists("cosine_sim"), "GraftExtensions not applied")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("the test session carries the engine confs") {
    assertEngineConfs(spark)
  }

  test("a new session of the context inherits the engine confs") {
    assertEngineConfs(spark.newSession())
  }

  test("only GraftSession builds a session or reads the core count") {
    // this spec names the needles, so it is the one other file exempt
    val self = Paths.get("src/test/scala/graft/GraftSessionSpec.scala")
    val needles = Seq("SparkSession.builder", "SPARK_GRAFT_CPUS")
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val found = Files.walk(Paths.get(d)).iterator().asScala
        .filter(f => f.toString.endsWith(".scala") && f != self).toList
      assert(found.nonEmpty, s"no sources under ${Paths.get(d).toAbsolutePath}")
      found
    }
    def mentions(f: Path, needle: String): Boolean = Files.readString(f).contains(needle)
    for (n <- needles)
      assert(files.filter(mentions(_, n)).map(_.getFileName.toString) ==
        Seq("GraftSession.scala"), s"$n outside GraftSession")
  }
}
