package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs (small parallelism — the specs
  * run on tiny data; sf-scale runs go through graft.Bench).
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // fresh artifact root per test JVM: durable index artifacts
      // must not leak across sbt runs (stale formats would shadow
      // the code under test)
      .config("spark.graft.artifactDir",
        java.nio.file.Files.createTempDirectory("graft-artifacts-test").toString)
      // and a fresh warehouse: saved tables (bucketed layouts, published
      // indexes) must not pile up in the checkout's spark-warehouse/
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse-test").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
