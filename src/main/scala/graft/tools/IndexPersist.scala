package graft.tools

import graft.{Lineage, QueryListener, RelStress, Tables}
import graft.operators.IvfIndex
import org.apache.spark.sql.functions._

/** Build-once / serve-many wall-clock A/B for the persisted IVF index
  * (`operators.IvfIndex`): at 100 TB the index BUILD is the expensive
  * per-corpus-vintage job and SERVING must not re-pay it — this tool
  * measures exactly that split, at an integer scale factor over the
  * driver fixture.
  *
  *   - corpus = existing vectors (vec_id % 5 ≠ 4) of the scaled
  *     fixture, replicated with a deterministic per-replica
  *     perturbation (vec_id-shifted, exact integer-mix noise — the
  *     StressSmoke embedding-replica shape) so ANN top-k stays
  *     non-degenerate. As of round 17 the corpus is MATERIALIZED to
  *     parquet as untimed fixture prep (sentinel-guarded, the
  *     StressSmoke discipline): at 100 TB the corpus already sits on
  *     disk, so synthesizing it has no business inside the timed
  *     build — and the materialized read gives the assignment scan
  *     real file parallelism instead of the generator plan's
  *     few-partition crossJoin (the r16 builds ran the n·cells pass
  *     on the base fixture's file count);
  *   - build (timed) = bounded-sample quantizer training
  *     (IvfIndex.trainSampled — Lloyd-2 over ~64 vectors/cell, the
  *     FAISS practice; VERDICT r16 #2) + ONE full-corpus assignment
  *     pass + the partitioned parquet write, cells = √(n/2) (the
  *     exact-assignment optimum). Training cost is sample·cells·rounds
  *     — fixed per cell — so the only term that grows with the corpus
  *     is the single n·cells assignment;
  *   - serve = load the stored artifacts, answer the FIXED 1× query
  *     batch (base-fixture new vectors), three repetitions — the
  *     serve wall must be flat across repetitions and a small
  *     fraction of build.
  *
  * {{{ sbt "runMain graft.tools.IndexPersist 10 /root/testdata/sf0.1 /tmp/graft-ivfidx" }}}
  */
object IndexPersist {

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val work = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-ivfidx-x$scale"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-ivf-index", cpus))
    val meter = QueryListener.attach(spark)

    val emb = Tables.load(spark, src, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
    val nBase = emb.count()

    // scaled existing corpus, normalized: replicas shift vec_id and add
    // an exact integer-mix perturbation so no two replicas are identical
    // vectors. The mix is keyed on (rep, BASE vec_id, position) — the
    // `col("vec_id")` inside the select resolves against the input
    // frame, i.e. the pre-shift id — and the `rep` term alone keeps
    // replicas distinct (ADVICE r15: the old comment claimed the
    // shifted id)
    val nVecs = nBase / 5 * 4 * scale
    val cells = math.max(16, math.round(math.sqrt(nVecs / 2.0))).toInt
    val idxDir = s"$work/index"

    // ---- untimed fixture prep: materialize the scaled corpus once
    // (RelStress.ensureCopy: sentinel-guarded against half-writes, keyed
    // on the embeddings table's vintage so a refreshed base fixture
    // regenerates)
    val corpusDir = s"$work/corpus.parquet"
    val (_, fixtureS, _) = meter.timed {
      RelStress.ensureCopy(spark, src, work, RelStress.Copy(
          RelStress.IvfCorpusSentinel, s"${scale}x", Seq("embeddings"))) {
        val reps = spark.range(scale).toDF("rep")
        val noise = (r: org.apache.spark.sql.Column,
            v: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =>
          (pmod(r * lit(2654435761L) + v * lit(40503L) + j * lit(69427L) +
            lit(2166136261L), lit(1000003L)).cast("double") / lit(1000003.0) -
            lit(0.5)) * lit(0.05)
        emb.crossJoin(broadcast(reps))
          .filter(col("vec_id") % 5 =!= 4)
          .select((col("vec_id") + col("rep") * lit(nBase)).as("vec_id"),
            transform(col("vd"), (x, j) =>
              x + noise(col("rep"), col("vec_id"), j.cast("long"))).as("vd"))
          .withColumn("nrm", sqrt(aggregate(col("vd"), lit(0.0),
            (acc, x) => acc + x * x)))
          .select(col("vec_id"), transform(col("vd"), x => x / col("nrm"))
            .as("an"))
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(corpusDir)
      }
    }

    // ---- timed build, from the on-disk corpus: bounded-sample train
    // (deterministic 1-in-m id-hash sample targeting ~64 vectors per
    // cell), ONE n·cells assignment pass, partitioned write
    val (trainS, buildS) = {
      val t0 = System.nanoTime()
      val corpus = spark.read.parquet(corpusDir)
      val m = math.max(1L, nVecs / (cells * 64L))
      val sample = corpus.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0)
      // EAGER checkpoint: with eager=false nothing runs before tTrain
      // is captured, so train_s would record only driver-side plan
      // assembly while the Lloyd compute silently lands in build_s
      // (ADVICE r17). Eager also keeps the guarantee that the
      // assignment broadcast never re-runs the Lloyd plan.
      val trained = Lineage.truncate(
        IvfIndex.trainSampled(sample, cells, rounds = 2), eager = true)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val (cents, postings) = IvfIndex.build(corpus, cells,
        centsOverride = Some(trained))
      IvfIndex.save(idxDir, cents, postings)
      (tTrain, (System.nanoTime() - t0) / 1e9)
    }

    // fixed 1x query batch (the production serving regime: batch size
    // does not grow with the corpus)
    val queries = graft.queries.DedupQueries.normalizedEmbeddings(spark, src)
      .filter(col("vec_id") % 5 === 4)
      .select(col("vec_id").as("q_id"), col("an").as("qa"))
    val nQueries = queries.count()

    val (lc, lp) = IvfIndex.load(spark, idxDir)
    // the production read path: probed cells collected (O(√n) bound),
    // pushed as a static partition filter on the postings scan
    val serveS = (1 to 3).map(i => meter.timed {
      IvfIndex.servePruned(queries, lc, lp)
        .write.mode("overwrite").parquet(s"$work/answers_$i")
    }._2)

    // partition-pruning proof at scale (VERDICT r15 #3): re-run the
    // served frame once through collect (tiny: batch × k rows) and
    // read the postings scan's partitions-read metric off the executed
    // plan — it must equal the batch's probed-cell count, not the cell
    // total
    val served = IvfIndex.servePruned(queries, lc, lp)
    served.collect()
    val partsRead = graft.plans.PlanScan
      .fileScans(served.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("postings")))
      .flatMap(_.metrics.get("numPartitions").map(_.value))
    val probedCells = IvfIndex.probeFrame(queries, lc, "q_id", "qa", 2)
      .select(col("cell")).distinct().count()
    println(s"""{"metric":"ivf_index_persist","scale":$scale,""" +
      s""""vecs":$nVecs,"cells":$cells,"batch":$nQueries,""" +
      f""""fixture_s":$fixtureS%.2f,"train_s":$trainS%.2f,""" +
      f""""build_s":$buildS%.2f,""" +
      s""""serve_s":[${serveS.map(s => f"$s%.2f").mkString(",")}],""" +
      s""""probed_cells":$probedCells,""" +
      s""""parts_read":[${partsRead.mkString(",")}]}""")
    spark.stop()
  }
}
