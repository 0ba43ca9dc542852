package graft.tools

import graft.{Bench, Tables}

/** Measurement-tooling probe for the bench canary's own JIT ramp: runs
  * the exact Bench.canaryProbe checkpoint N times back-to-back on an
  * idle box and prints each reading, so the canary warm-up policy in
  * Bench.Canary rests on a measured convergence curve rather than a
  * guess (round 13: two full sweeps agreed to 0.03% on cold total
  * while the canary read 0.19 s at start vs 0.09 s at end — drift 2.2
  * reported on a provably steady box).
  *
  * {{{ sbt "runMain graft.tools.CanaryRamp 30" }}}
  */
object CanaryRamp {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(30)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-canaryramp", cpus))
    for (i <- 1 to n)
      println(f"[canary-ramp] $i%3d ${Bench.canaryProbe(spark)}%.4f")
    spark.stop()
  }
}
