package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import graft.tools.DriftAutoRetrain
import org.scalatest.funsuite.AnyFunSuite

/** Spec-pins the streaming-native drift→retrain handoff (VERDICT r17
  * #3: the loop was tool-verified only). On the shifted fixture the
  * contract is:
  *
  *   - the calibrated trigger (mean drift < −0.05) fires, and the
  *     in-sink publish branch runs EXACTLY ONCE even though the drift
  *     condition stays true for every subsequent epoch;
  *   - the handoff publishes a NEW content-keyed vintage through
  *     `IvfIndex.ensureSaved` (marker + ownership sentinel on disk,
  *     key ≠ the stale vintage's) while the stream is still running;
  *   - serving state is asserted on the ARTIFACT KEY, not wall time:
  *     every pre-fire epoch resolves the stale vintage, the firing
  *     epoch and every later one resolve the fresh vintage, and each
  *     epoch's resolution loaded a complete readable index mid-stream
  *     (centroid count == the configured cells).
  */
class DriftAutoRetrainSpec extends AnyFunSuite with SparkTestSession {

  test("handoff fires once, publishes a new vintage, serves it from the firing epoch on") {
    val out = Files.createTempDirectory("graft-adrift-spec-").toString
    val report = DriftAutoRetrain.runHandoff(
      spark, "/root/testdata/sf0.001", out, scale = 4, noise = 0.6,
      cpus = 4)

    // the trigger fired at the calibrated band
    assert(report.firedEpoch.isDefined,
      s"drift trigger never fired: ${report.epochs}")
    assert(report.firedMean < -0.05)
    val fireEpoch = report.firedEpoch.get

    // exactly-once: one publish despite the condition holding on every
    // post-shift epoch
    assert(report.handoffRuns == 1,
      s"handoff ran ${report.handoffRuns} times: ${report.epochs}")
    assert(report.epochs.count(_.triggered) >= 1)

    // a NEW content-keyed vintage, complete on disk
    val fresh = report.freshDir.get
    assert(fresh != report.staleDir)
    assert(Paths.get(fresh).getFileName.toString
      .matches("graft-ardx-fresh-[0-9a-f]{12}"),
      s"fresh vintage not content-keyed: $fresh")
    assert(Files.exists(Paths.get(fresh, "_graft_ivf_ok")),
      "published vintage must carry the completion marker")
    assert(Files.exists(Paths.get(fresh, graft.Tables.ArtifactSentinel)),
      "published vintage must carry the ownership sentinel")

    // serving state per epoch, keyed by artifact dir: stale before the
    // firing epoch, fresh from it onwards — and each epoch proved its
    // vintage readable mid-stream (complete centroid table)
    for (e <- report.epochs) {
      val expected =
        if (e.epoch < fireEpoch) report.staleDir else fresh
      assert(e.servingDir == expected,
        s"epoch ${e.epoch} served ${e.servingDir}, expected $expected")
      assert(e.servingCells == report.cells,
        s"epoch ${e.epoch} loaded ${e.servingCells} centroids, " +
          s"expected ${report.cells} — torn or partial vintage visible")
    }

    // the loop left no bench conf behind (gate-session discipline)
    assert(spark.conf.getOption(graft.GraftConf.AnnIvfTrain.name).isEmpty)
  }
}
