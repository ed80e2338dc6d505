package graft.tools

import graft.{Bench, GraftSession}

/** Standalone box-health probe: the calibration job `Bench` times as
  * `calib_s` ([[graft.Bench.calibRun]], min of 2 reps; healthy reference
  * [[graft.Bench.calibRefSec]] at the session's core count), runnable
  * without the full bench so a round can cheaply poll for a healthy window before (re)publishing a
  * round-head artifact. Its session is built like the bench's, so its
  * `calib_s` compares with the bench's. Prints one JSON line.
  *
  * Usage: runMain graft.tools.CalibProbe
  */
object CalibProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start(GraftSession.cores)
    spark.range(0, 1000).selectExpr("sum(id)").collect() // session warm-up
    val calib = math.min(Bench.calibRun(spark), Bench.calibRun(spark))
    val ref = Bench.calibRefSec(spark.sparkContext.defaultParallelism)
    println(f"""{"calib_s":$calib%.3f,"calib_ref_s":$ref%.3f,""" +
      s""""degraded":${calib > ref * Bench.DegradedFactor}}""")
    spark.stop()
  }
}
