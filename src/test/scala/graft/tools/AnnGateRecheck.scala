package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Re-derivation of the 0.45-threshold banding floor with the
  * round-10 Gaussian planes (ADVICE r10 #3).
  *
  * `Dedup.gateAnnGeometry`'s 64-band floor was justified by an
  * empirical note measured with the PRE-r10 discrete planes ("64
  * found every pair at every gate SF; 40 missed one at sf0.1"); the
  * Gaussian `Similarity.bandPlanes` change reshuffles every bucket
  * assignment, so that anecdote no longer describes the shipped
  * planes. This tool measures, at any SF, whether the banded
  * geometry's buckets COVER the exact qualifying relation: it
  * computes the grid kernel's all-pairs cos ≥ 0.45 relation, then
  * checks each qualifying pair for ≥ 1 shared (band, signature)
  * bucket under the exact `gateAnnGeometry(n)` the operator would
  * use. Signatures are computed only for vectors that appear in a
  * qualifying pair (coverage of a pair depends on its own two
  * signatures alone), so the check stays cheap even where banding
  * all n would not.
  *
  * Also records the tier the operator actually takes at this n: the
  * closed-form CPU rule (`bands·2⁻ʷ·C_join ≥ 1`, true for every
  * 0.45-envelope geometry at gate scales) delegates the whole query
  * to the grid kernel, so the banded coverage measured here is the
  * DEFENSE-IN-DEPTH property behind the floor, not the production
  * path at these scales.
  *
  * The measurement itself lives in [[measure]] so the `sbt test`
  * suite runs it at the two gate geometries on every build
  * (`DedupSpec` "banded geometry covers the exact qualifying
  * relation", VERDICT r11 ask #7) — the standalone main remains for
  * ad-hoc big-corpus audits (sf0.1, the derived sf1). Both thresholds
  * come from the shipped `Dedup` constants, not duplicated literals
  * (ADVICE r11 #2).
  *
  * Usage: sbt "Test/runMain graft.tools.AnnGateRecheck <sfDir> <outJson>"
  * Prints one JSON line and writes it to outJson.
  */
object AnnGateRecheck {

  final case class GateCoverage(
      n: Long, width: Int, bands: Int, gridDelegated: Boolean,
      qualifyingPairs: Long, bandedCovered: Long) {
    def bandedMissed: Long = qualifyingPairs - bandedCovered
  }

  /** Coverage of the exact cos ≥ `Dedup.CosineThreshold` relation by
    * the shipped `gateAnnGeometry(n)` banding, on the corpus at
    * `sfDir`. Exact and deterministic — safe to assert `missed == 0`.
    */
  def measure(spark: SparkSession, sfDir: String): GateCoverage = {
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val (width, bands) = graft.ext.Dedup.gateAnnGeometry(n)
    // the closed-form delegation test the operator applies before any
    // banding — same constant, not a copied literal
    val gridDelegated =
      bands * math.pow(0.5, width) * graft.ext.Dedup.JoinRowCostVsKernel >= 1.0

    // the exact qualifying relation at the shipped threshold
    val qual = graft.ext.Dedup
      .dedupEmbeddingGridAt(spark, sfDir, graft.ext.Dedup.CosineThreshold)
      .select(col("vec_a"), col("vec_b")).cache()
    val nQual = qual.count()

    val involved = qual.select(col("vec_a").as("vec_id"))
      .union(qual.select(col("vec_b").as("vec_id"))).distinct()
    val sigs = graft.ext.Dedup
      .bandSignaturesFor(emb.join(involved, "vec_id"), width, 0 until bands)
      .cache()
    val covered = qual
      .join(sigs.select(col("vec_id").as("vec_a"), col("band"),
        col("sig").as("sig_a")), Seq("vec_a"))
      .join(sigs.select(col("vec_id").as("vec_b"), col("band"),
        col("sig").as("sig_b")), Seq("vec_b", "band"))
      .filter(col("sig_a") === col("sig_b"))
      .select(col("vec_a"), col("vec_b")).distinct().count()
    qual.unpersist()
    sigs.unpersist()
    GateCoverage(n, width, bands, gridDelegated, nQual, covered)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession.start(GraftSession.cores)

    val c = measure(spark, sfDir)
    val json =
      s"""{"sf":"$sfDir","n":${c.n},"width":${c.width},"bands":${c.bands},""" +
        s""""grid_delegated":${c.gridDelegated},""" +
        s""""qualifying_pairs":${c.qualifyingPairs},""" +
        s""""banded_covered":${c.bandedCovered},""" +
        s""""banded_missed":${c.bandedMissed},""" +
        s""""planes":"gaussian_splitmix64_r10"}"""
    println(json)
    outJson.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
