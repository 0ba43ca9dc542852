package graft.tools

import java.util.concurrent.atomic.AtomicReference

import graft.{GraftConf, Lineage, QueryListener, Tables}
import graft.functions.GraftFunctions.dot
import graft.operators.IvfIndex
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The drift→retrain loop (VERDICT r15 #5, r16 #8), closed INSIDE one
  * streaming query — no operator between the signal and the republish
  * — then measured as a stale/fresh serving A/B. It is the
  * quantizer-staleness problem of continuously adaptive similarity
  * search: arriving vectors stop matching the corpus the IVF quantizer
  * was trained on.
  *
  *   - the arrival stream runs st_embedding_drift's exact scoring
  *     aggregation (same [[graft.queries.StreamingQueries.driftScoreAgg]]
  *     state: two longs per label, Complete mode) in micro-batches
  *     (`maxFilesPerTrigger` splits the fixture's part files so the
  *     monitor sees the drift ACCUMULATE batch over batch);
  *   - the sink is a foreachBatch that joins each epoch's state against
  *     the static pre-drift baseline and evaluates the calibrated
  *     trigger (mean drift < −0.05 — three orders of magnitude below
  *     the measured ±0.002 same-epoch control band, BASELINE r16);
  *   - the FIRST epoch that fires runs the handoff in-sink: Lloyd-2
  *     retrain on the grown corpus (the bench-only ivf.train lever),
  *     `IvfIndex.ensureSaved` republish under a NEW content-derived
  *     artifact key — the atomic-rename publish means any concurrent
  *     server either still reads the old vintage or the complete new
  *     one, never a torn index — and records the new vintage's dir;
  *   - after the stream drains, the arrival batch is served from BOTH
  *     vintages through the production `servePruned` read path
  *     (candidates per query, worst-cell skew, serve wall), and both
  *     vintages' centroids are scored on the GROWN corpus against exact
  *     brute-force top-3 (self-excluded): recall@3 at probes=1 — a
  *     shifted cluster sits near the BOUNDARY of the old cells it
  *     straddles, so single-probe serving splits it — and at the
  *     default probes=2, which HIDES moderate drift at twice the
  *     candidate cost (why monitors watch the drift signal and the
  *     candidate volume, not recall alone).
  *
  * Fixture: [[AnnQualityAb.clusteredEmbeddings]] with the epoch shift
  * (arrivals, vec_id % 5 = 4, cluster around near-orthogonal label
  * directions). Noise default 0.6: tight enough that clusters have
  * real cell structure, loose enough that brute purity is not
  * saturated. A 5th arg `control` writes the unshifted fixture — the
  * no-drift baseline that calibrates the threshold: the trigger must
  * never fire there, and the run fails if it does.
  *
  * {{{ tools/runmain.sh graft.tools.DriftAutoRetrain 10 <sf dir> [out] [noise] [control] }}}
  */
object DriftAutoRetrain {

  /** One epoch of the handoff loop as the sink saw it: the drift
    * verdict, and — the handoff's observable contract — which vintage
    * a server resolving NOW would read (`servingDir`) plus proof that
    * vintage is complete and readable mid-stream (`servingCells`, a
    * centroid count through `IvfIndex.load`). */
  private[graft] case class EpochRec(epoch: Long, labels: Int,
    meanDrift: Double, triggered: Boolean, servingDir: String,
    servingCells: Long)

  /** What [[runHandoff]] proved: the per-epoch trail, the two vintage
    * dirs, the firing epoch, and how many times the in-sink publish
    * branch actually ran (the exactly-once guarantee under a trigger
    * condition that stays true for every post-shift epoch). */
  private[graft] case class HandoffReport(nBase: Long, cells: Int,
    staleDir: String, freshDir: Option[String],
    firedEpoch: Option[Long], firedMean: Double, handoffRuns: Int,
    epochs: Seq[EpochRec])

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-adrift-x$scale"
    val noise = if (args.length > 3) args(3).toDouble else 0.6
    val control = args.length > 4 && args(4) == "control"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-adrift", cpus))

    val report = runHandoff(spark, src, out, scale, noise, cpus.toInt,
      shift = !control)
    if (control) require(report.firedEpoch.isEmpty,
      "the drift trigger fired on the control fixture at epoch " +
        s"${report.firedEpoch.get} — threshold inside the no-drift band")
    else {
      require(report.firedEpoch.isDefined,
        "the drift trigger never fired on the shifted fixture — " +
          "monitor or threshold regression")
      serveAb(spark, out, report)
    }
    spark.stop()
  }

  /** The streaming-native loop itself (factored out of main so
    * DriftAutoRetrainSpec can run it on a small shifted fixture and
    * assert the handoff contract — VERDICT r17 #3). Publishes the
    * stale vintage, monitors the arrival stream with
    * st_embedding_drift's scoring state, and lets the FIRST firing
    * epoch retrain + republish in-sink. Leaves no bench conf set. */
  private[graft] def runHandoff(spark: org.apache.spark.sql.SparkSession,
      src: String, out: String, scale: Int, noise: Double,
      cpus: Int, shift: Boolean = true): HandoffReport = {
    import graft.queries.{DedupQueries, SimilarityQueries, StreamingQueries}

    val (nBase, _) =
      AnnQualityAb.clusteredEmbeddings(spark, src, out, scale, noise, shift, cpus)
    val cells = math.max(16, math.round(math.sqrt(nBase * scale / 2.0))).toInt
    val tmp = System.getProperty("java.io.tmpdir")
    val embPath = s"$out/embeddings.parquet"

    val n = DedupQueries.normalizedEmbeddings(spark, out)
    val grown = Lineage.truncate(n.select(col("vec_id"), col("an")))
    val ex = Lineage.truncate(n.filter(col("vec_id") % 5 =!= 4))
    val preDrift = ex.select(col("vec_id"), col("an"))

    // ---- the CURRENTLY-SERVING vintage, published before any arrival
    // (Lloyd-2 on the pre-drift corpus; seed bound widened 5/4 so both
    // quantizers train exactly `cells` centroids: ivfCentroids seeds
    // vec_id < bound, and the pre-drift corpus holds 4 of every 5 ids)
    spark.conf.set(GraftConf.AnnIvfTrain.name, "2")
    val staleDir = IvfIndex.ensureSaved(
      s"$tmp/${Tables.artifactKey(spark, "graft-ardx-stale", embPath)}") {
      IvfIndex.build(preDrift, cells, Some(SimilarityQueries
        .ivfCentroids(spark, preDrift, cells * 5 / 4)))
    }

    // ---- static baseline of the monitor (pre-drift mean cosine per
    // label), computed once — exactly st_embedding_drift's batch leg
    val cu = Lineage.truncate(StreamingQueries.labelCentroids(
      ex.select(col("label"), col("an"))))
    val est = Lineage.truncate(StreamingQueries
      .driftScoreAgg(ex.select(col("label"), col("an")), cu,
        "n_existing", "esum"))

    // ---- the monitored arrival stream: micro-batched file source over
    // the SAME fixture files, st_embedding_drift's scoring state
    val schema = spark.read.parquet(embPath).schema
    val parts = new java.io.File(embPath)
      .listFiles().count(_.getName.endsWith(".parquet"))
    val arrivals = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", math.max(1, parts / 4))
      .parquet(s"$out/{embeddings.parquet}")
      .filter(col("vec_id") % 5 === 4)
      .select(col("label"),
        col("embedding").cast("array<double>").as("vd"))
      .withColumn("nrm", sqrt(dot(col("vd"), col("vd"))))
      .select(col("label"),
        transform(col("vd"), x => x / col("nrm")).as("an"))
    val scored = StreamingQueries.driftScoreAgg(arrivals, cu, "n_new", "nsum")

    // ---- the handoff sink: trigger evaluated per epoch; first firing
    // epoch retrains + republishes IN-SINK
    val fired = new AtomicReference[(Long, Double, String)](null)
    val handoffRuns = new java.util.concurrent.atomic.AtomicInteger
    val epochs =
      new java.util.concurrent.ConcurrentLinkedQueue[EpochRec]()
    val ck = java.nio.file.Files
      .createTempDirectory("graft-adrift-ck-").toString
    val query = scored.writeStream.foreachBatch {
      (batch: Dataset[Row], epoch: Long) =>
        val d = batch.join(est, "label")
          .select(
            (col("nsum").cast("double") / (lit(1e6) * col("n_new")) -
              col("esum").cast("double") / (lit(1e6) * col("n_existing")))
              .as("drift"))
          .collect().map(_.getDouble(0))
        val mean = if (d.isEmpty) 0.0 else d.sum / d.length
        val trigger = d.nonEmpty && mean < -0.05
        println(f"""{"metric":"adrift_epoch","epoch":$epoch,""" +
          f""""labels":${d.length},"mean_drift":$mean%.4f,""" +
          f""""min_drift":${d.minOption.getOrElse(0.0)}%.4f,""" +
          f""""max_drift":${d.maxOption.getOrElse(0.0)}%.4f,""" +
          f""""retrain_triggered":$trigger}""")
        if (trigger && fired.get() == null) {
          // THE HANDOFF: retrain on the grown corpus, publish the new
          // vintage under its own content key; ensureSaved's atomic
          // rename makes the vintage swap safe under concurrent readers
          handoffRuns.incrementAndGet()
          val freshDir = IvfIndex.ensureSaved(
            s"$tmp/${Tables.artifactKey(
              spark, "graft-ardx-fresh", embPath)}") {
            IvfIndex.build(grown, cells, Some(SimilarityQueries
              .ivfCentroids(spark, grown, cells)))
          }
          fired.compareAndSet(null, (epoch, mean, freshDir))
          println(s"""{"metric":"adrift_handoff","epoch":$epoch,""" +
            s""""published":"$freshDir"}""")
        }
        // the epoch's observable serving state: which vintage a server
        // resolving NOW reads (fresh from the firing epoch onwards),
        // proven complete by loading it mid-stream
        val servingDir =
          if (fired.get() == null) staleDir else fired.get()._3
        val servingCells = IvfIndex.load(spark, servingDir)._1.count()
        epochs.add(EpochRec(epoch, d.length, mean, trigger, servingDir,
          servingCells))
        ()
    }
      .option("checkpointLocation", ck)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    query.awaitTermination()
    Tables.deleteRecursively(ck, bestEffort = true)
    spark.conf.unset(GraftConf.AnnIvfTrain.name)

    import scala.jdk.CollectionConverters._
    HandoffReport(nBase, cells, staleDir,
      Option(fired.get()).map(_._3), Option(fired.get()).map(_._1),
      Option(fired.get()).map(_._2).getOrElse(0.0), handoffRuns.get(),
      epochs.iterator().asScala.toSeq.sortBy(_.epoch))
  }

  /** The after-drain A/B over the arrival batch (vec_id % 5 = 4, ids
    * below 2× the 1× count — misses are a percent-scale effect, so the
    * sample needs a few thousand truth edges), per vintage: the
    * production `servePruned` read of its persisted index, candidates
    * per query and worst-cell skew of that index, and recall@3 at
    * probes 1 and 2 of its centroids over the grown corpus. */
  private def serveAb(spark: org.apache.spark.sql.SparkSession,
      out: String, r: HandoffReport): Unit = {
    val grown = graft.queries.DedupQueries.normalizedEmbeddings(spark, out)
    val queries = Lineage.truncate(grown.filter(col("vec_id") % 5 === 4 &&
        col("vec_id") < r.nBase * 2)
      .select(col("vec_id").as("q_id"), col("an").as("qa")))
    val nQueries = queries.count()
    val truth = Lineage.truncate(graft.plans.TopK.topKPerKey(
        grown.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            dot(col("qa"), col("an")).as("cosine")),
        keys = Seq(col("q_id")),
        order = Seq(col("cosine").desc, col("n_id").asc), k = 3)
      .select(col("q_id"), col("n_id")))
    val nTrue = truth.count()
    val meter = QueryListener.attach(spark)
    val legs = for ((tag, dir) <- Seq("stale" -> r.staleDir,
        "fresh" -> r.freshDir.get)) yield {
      val (lc, lp) = IvfIndex.load(spark, dir)
      val (served, sec, _) =
        meter.timed(IvfIndex.servePruned(queries, lc, lp).count())
      val cands = IvfIndex.probeFrame(queries, lc, "q_id", "qa", 1)
        .select(col("q_id"), col("cell"))
        .join(lp.select(col("cell")), Seq("cell")).count()
      // one pass for max occupancy, LIVE cell count, and total: skew
      // = max/mean over cells that actually hold postings. Normalizing
      // by the CONFIGURED cell count (ADVICE r17) overstated the
      // divisor differently per vintage — Lloyd drops empty cells, and
      // the stale quantizer is seeded from a widened id bound — biasing
      // exactly the stale/fresh comparison this tool exists to print.
      val occRow = lp.groupBy(col("cell")).count()
        .agg(max(col("count")), count(lit(1)), sum(col("count"))).head()
      val skew = occRow.getLong(0).toDouble * occRow.getLong(1) /
        occRow.getLong(2)
      // recall of this vintage's centroids over the GROWN corpus
      val postings = Lineage.truncate(
        IvfIndex.build(grown, r.cells, Some(lc))._2)
      val Seq(rec1, rec2) = Seq(1, 2).map(p => truth.join(
        IvfIndex.serve(queries, lc, postings, probes = p)
          .select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
        .count().toDouble / nTrue)
      Seq("cands_per_query" -> f"${cands.toDouble / nQueries}%.1f",
        "cell_skew" -> f"$skew%.2f", "recall_p1" -> f"$rec1%.4f",
        "recall_p2" -> f"$rec2%.4f", "serve_rows" -> served.toString,
        "serve_s" -> f"$sec%.2f")
        .map { case (k, v) => s""""${tag}_$k":$v""" }.mkString(",")
    }
    meter.detach()
    println(f"""{"metric":"adrift_serving","fired_epoch":${r.firedEpoch.get},""" +
      f""""fired_mean_drift":${r.firedMean}%.4f,"cells":${r.cells},""" +
      s""""batch":$nQueries,"true_edges":$nTrue,${legs.mkString(",")}}""")
  }
}
