package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class LayoutSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** Independent Morton reference: interleave via bit loops. */
  private def morton(x: Long, y: Long): Long = {
    var z = 0L
    for (i <- 0 until 12)
      z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    z
  }

  test("zValue column matches the independent Morton reference") {
    import spark.implicits._
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (4095L, 4095L),
      (2400L, 1500L), (1023L, 2048L), (7L, 9L))
    val got = pts.toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"))).collect().map(_.getLong(0))
    assert(got.toSeq == pts.map { case (x, y) => morton(x, y) })
  }

  test("z-cells bound BOTH dimensions to 512-wide slices and cover every row") {
    val orders = graft.sources.Tables.table(spark, dir, "orders")
    val cells = Layout.layoutZorder(spark, dir).collect()
    assert(cells.length > 3, "degenerate cell count")
    assert(cells.map(_.getLong(1)).sum == orders.count())
    // global spans dwarf the per-cell spans: that's the skipping win
    for (c <- cells) {
      assert(c.getLong(3) - c.getLong(2) < 512L,
        s"cell ${c.getLong(0)} day span too wide")
      assert(c.getLong(5) - c.getLong(4) < 512L,
        s"cell ${c.getLong(0)} cust span too wide")
      // a cell's keys live in one aligned 512-grid slice per dim
      assert(c.getLong(2) / 512L == c.getLong(3) / 512L)
      assert(c.getLong(4) / 512L == c.getLong(5) / 512L)
    }
  }

  test("writing the layout: range partitions on z are disjoint, ordered") {
    val z = graft.sources.Tables.table(spark, dir, "orders")
      .select(
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x"),
        col("o_custkey").as("y"))
      .select(Layout.zValue(col("x").bitwiseAND(lit(4095L)),
        col("y").bitwiseAND(lit(4095L))).as("z"))
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions("z")
    val ranges = z.select(spark_partition_id().as("p"), col("z"))
      .groupBy("p").agg(min("z").as("lo"), max("z").as("hi"))
      .orderBy("p").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    for (Array((_, hi1), (lo2, _)) <- ranges.sliding(2))
      assert(hi1 <= lo2, "z ranges overlap across partitions")
  }

  test("hilbert index is a bijection with unit-step adjacency on a 32x32 grid") {
    import spark.implicits._
    val n = 32
    val pts = for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong)
    val got = Layout.withHilbert(pts.toDF("x", "y"),
        col("x"), col("y"), bits = 5)
      .select(col("x"), col("y"), col("hd")).collect()
      .map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1))).toMap
    // bijection: every curve position 0..n²−1 hit exactly once
    assert(got.keySet == (0L until (n.toLong * n)).toSet)
    // THE Hilbert property Z-order lacks: consecutive curve positions
    // are spatially adjacent (Manhattan distance exactly 1)
    for (d <- 0L until (n.toLong * n - 1)) {
      val (x1, y1) = got(d); val (x2, y2) = got(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1L,
        s"jump between d=$d ($x1,$y1) and d+1 ($x2,$y2)")
    }
  }

  test("hilbert cells bound both dimensions like z-cells and cover every row") {
    val orders = graft.sources.Tables.table(spark, dir, "orders")
    val cells = Layout.layoutHilbert(spark, dir).collect()
    assert(cells.map(_.getLong(1)).sum == orders.count())
    for (c <- cells) {
      // a 4^9 curve block is one ALIGNED 512x512 quadrant — the same
      // two-sided bound as z-cells, via the Hilbert block property
      assert(c.getLong(3) - c.getLong(2) < 512L,
        s"cell ${c.getLong(0)} day span too wide")
      assert(c.getLong(5) - c.getLong(4) < 512L,
        s"cell ${c.getLong(0)} cust span too wide")
      assert(c.getLong(2) / 512L == c.getLong(3) / 512L)
      assert(c.getLong(4) / 512L == c.getLong(5) / 512L)
    }
  }

  test("zonemap audit: scans are sound supersets; cluster key prunes, off-key does not") {
    val rows = Layout.layoutZonemap(spark, dir).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7)))
    assert(rows.length == 12)
    for ((id, _, total, scanned, rowsScanned, matched) <- rows) {
      // zone soundness: a skipping scan may never miss a matching row
      assert(scanned <= total, s"pred $id scanned > total")
      assert(matched <= rowsScanned, s"pred $id would miss rows")
    }
    // ship-date predicates (the clustering key) prune most files...
    for ((id, col, total, scanned, _, _) <- rows if col == "day")
      assert(scanned <= total / 2, s"day pred $id did not prune: $scanned/$total")
    // ...partkey predicates (uncorrelated) scan essentially everything
    for ((id, col, total, scanned, _, _) <- rows if col == "pk")
      assert(scanned == total, s"pk pred $id unexpectedly pruned")
  }

  test("zonemap audit: exact counts on a crafted two-file layout") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("zm-corpus").toString
    // 128 consecutive ship-days (two 64-day files), partkeys striped
    // across both files so off-key zones span the full range
    (0 until 128).map(i => (i, (i % 100) + 1L)).toDF("i", "l_partkey")
      .selectExpr( // dates built in-session (UTC), not via JVM-tz Timestamps
        "CAST(date_add(DATE '1992-01-01', i) AS TIMESTAMP) AS l_shipdate",
        "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val out = Layout.layoutZonemap(spark, tmp).collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    // pred 1: day in [0,29] -> file 0 only (64 rows scanned, 30 matched)
    assert(out(0) == (1L, 0L, 29L, 2L, 1L, 64L, 30L), out(0).toString)
    // pred 2: day in [360,389] -> beyond the 128-day corpus: zero scan
    assert(out(1) == (2L, 360L, 389L, 2L, 0L, 0L, 0L), out(1).toString)
    // pred 7: pk in [1,16] (maxpk=100) -> both files scanned, 2*16 matched
    assert(out(6) == (7L, 1L, 16L, 2L, 2L, 128L, 32L), out(6).toString)
  }

  private def tuples(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))

  private def bucketed(d: String) = tuples(Layout.layoutBucket(spark, d).collect())

  /** layout_bucket's rows by the plain shuffle join over corpus `d`. */
  private def plainJoin(d: String) = tuples(
    graft.sources.Tables.table(spark, d, "orders")
      .join(graft.sources.Tables.table(spark, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast(
          org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
          .cast("long").as("total_cents"))
      .collect())

  /** A writable corpus of sf0.001's `orders` (through `orders`) and
    * `customer`.
    */
  private def bucketCorpus(
      orders: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val d = java.nio.file.Files.createTempDirectory("bucket-corpus").toString
    orders(graft.sources.Tables.table(spark, dir, "orders"))
      .write.parquet(s"$d/orders.parquet")
    graft.sources.Tables.table(spark, dir, "customer")
      .write.parquet(s"$d/customer.parquet")
    d
  }

  test("layoutBucket: equals the plain shuffle join; republish is idempotent") {
    val out = bucketed(dir)
    val plain = plainJoin(dir)
    assert(out.toSet == plain.toSet)
    assert(out.sortBy(_._1).sameElements(out), "presentation order is c_custkey")
    // a second publish over the same corpus must serve the same rows
    assert(bucketed(dir).toSeq == out.toSeq)
  }

  test("layoutBucket: corpus A, then B, then A in one session reads A's buckets") {
    val a = bucketCorpus(identity)
    val b = bucketCorpus(_.filter(col("o_custkey") % 2 === 0))
    val first = bucketed(a)
    assert(first.toSet == plainJoin(a).toSet)
    assert(bucketed(b).toSet == plainJoin(b).toSet)
    assert(plainJoin(b).toSet != plainJoin(a).toSet, "B must differ from A")
    assert(bucketed(a).toSeq == first.toSeq, "A served B's buckets")
  }

  test("layoutBucket: rewriting customer in place republishes the buckets") {
    val c = bucketCorpus(identity)
    assert(bucketed(c).toSet == plainJoin(c).toSet)
    graft.sources.Tables.table(spark, dir, "customer")
      .withColumn("c_mktsegment", lit("REWRITTEN"))
      .write.mode("overwrite").parquet(s"$c/customer.parquet")
    val after = bucketed(c)
    assert(after.nonEmpty && after.forall(_._2 == "REWRITTEN"),
      "served the buckets of the customer table before the rewrite")
    assert(after.toSet == plainJoin(c).toSet)
  }
}
