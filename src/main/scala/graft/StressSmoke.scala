package graft

import org.apache.spark.sql.functions._

/** Scale-cliff probe for the training-data layer: blows the synthetic
  * `documents`/`embeddings` tables up by an integer factor (distributed
  * generation — a crossJoin with a broadcast replica index, never a
  * driver loop) and runs every `td_*` registry query against the scaled
  * copy on the default heap, reporting cold/warm seconds and shuffle
  * volume per query.
  *
  * Replica semantics are chosen to stress the hard paths, not dodge
  * them: even replicas are EXACT text duplicates (exact-dedup groups of
  * scale/2; connected components gets clusters that many× bigger) and
  * odd replicas append a per-replica suffix (near-dup under shingle /
  * minhash / simhash metrics, so LSH bucket sizes and verify-join
  * fan-out grow quadratically with scale). Embedding replicas get a
  * deterministic per-replica perturbation, keeping ANN top-k
  * non-degenerate — and a per-replica LABEL suffix: the label column
  * stands in for the IVF cell id in td_embed_neardup's blocking, and
  * a production IVF re-trains its coarse quantizer as the corpus
  * grows, holding CELL SIZE roughly constant while cell COUNT scales
  * with n. Suffixing labels per replica models exactly that (cells ×
  * scale, size constant); holding labels constant instead would grow
  * each cell 50x and the in-cell pair volume 2500x — a fixture
  * artifact no production index exhibits, not a design property.
  *
  * A 4th arg `fixedq` (VERDICT r12 #2) sweeps ONLY the ANN family
  * (`td_ann_*`) with the query set pinned at the 1× fixture's count
  * via `spark.graft.ann.queryIdBound` — the PRODUCTION serving regime
  * (fixed query batch over a growing corpus, O(n) per batch), where
  * the default sweep's q ∝ n coupling grows work ~n² per octave.
  * Bench-only knob: the driver's correctness gate never sets the
  * conf, so oracle hashes are untouched. Both modes share one
  * generated directory (completion sentinel, written last).
  *
  * A 5th arg (default-mode only) restricts the sweep to one
  * registry-name prefix, for single-family rungs without re-measuring
  * 50 unchanged legs. Default mode also grows td_semdedup's cell
  * count with the factor (`spark.graft.semdedup.cells` = 8·√scale,
  * the exact-assignment optimum — see the sizing comment below) — the
  * production regime where the quantizer is re-trained as the corpus
  * grows; the same bench-only-conf contract as `queryIdBound`.
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.StressSmoke 50" }}}
  * {{{ sbt "runMain graft.StressSmoke 100 /root/testdata/sf0.1 /tmp/x100 fixedq" }}}
  * {{{ sbt "runMain graft.StressSmoke 100 /root/testdata/sf0.1 /tmp/x100 '' td_semdedup" }}}
  */
object StressSmoke {

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(50)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-stress-x$scale"
    // `default` is an explicit alias for the unset mode: sbt's runMain
    // argument parsing passes quoted empty strings through literally,
    // so a positional 5th arg needs a spellable 4th
    val mode = (if (args.length > 3) args(3) else "") match {
      case "default" => ""
      case m => m
    }
    require(Set("", "fixedq").contains(mode),
      s"unknown mode '$mode' (expected fixedq|default)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-stress", cpus))

    val docs = Tables.load(spark, src, "documents")
    val nDocs = docs.count()
    val emb = Tables.load(spark, src, "embeddings")
    val nVecs = emb.count()

    // completion sentinel: RelStress.copyDone, under this harness's own
    // prefix so a dir never satisfies the relational growth model
    val sentinel = "_graft_tdscaled_"
    if (!RelStress.copyDone(spark, src, out, scale, sentinel)) {
      val reps = spark.range(scale).toDF("rep")
      docs.crossJoin(broadcast(reps))
        .select(
          (col("doc_id") + col("rep") * lit(nDocs)).as("doc_id"),
          when(col("rep") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" r"), col("rep"))).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")

      val nLabels = emb.agg(max(col("label"))).head().getInt(0) + 1
      emb.crossJoin(broadcast(reps))
        .select(
          (col("vec_id") + col("rep") * lit(nVecs)).as("vec_id"),
          transform(col("embedding"),
            x => x + (col("rep") % 7).cast("float") * lit(0.001f))
            .as("embedding"),
          // numeric so label arithmetic (PQ's label % 10 code) still works
          (col("label") + col("rep").cast("int") * lit(nLabels))
            .cast("int").as("label"))
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

      // td_* queries that touch other tables (events for the distinct
      // sketch) read them unscaled from the source dir
      RelStress.sealCopy(spark, src, out, scale, sentinel, Seq("region",
        "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events"))
    }

    // fixture sizes on their own line (RelStress.sweep's JSON carries
    // metric/scale/queries; docs/vecs are td_-specific). In fixedq
    // mode, q is the 1× query count however far the corpus scales.
    val q = if (mode == "fixedq") nVecs / 50 else nVecs * scale / 50
    println(s"""{"metric":"stress_fixture","scale":$scale,""" +
      s""""docs":${nDocs * scale},"vecs":${nVecs * scale},"ann_q":$q}""")
    // IVF quantizer re-trained as the corpus grows (both modes): cell
    // count follows the k ∝ √n exact-assignment optimum — assignment
    // n·k + in-cell candidates ~ n²/k balance at k ∝ √n, so td_ann_ivf
    // and the td_knn_graph_ann build scale n^1.5, never fixed-k n².
    // Bench-only conf, same contract as queryIdBound below.
    spark.conf.set(GraftConf.AnnIvfCells.name,
      math.max(16, math.round(math.sqrt(nVecs * scale / 2.0))).toString)
    if (mode == "fixedq") {
      spark.conf.set(GraftConf.AnnQueryIdBound.name, nVecs.toString)
      RelStress.sweep(spark, out, "td_ann_", "stress_fixedq_total", scale)
    } else {
      // td_semdedup's quantizer re-trains as the corpus grows; cell
      // count follows the exact-assignment optimum k ∝ √n (total cost
      // n·k + n²/2k is minimized at k = √(n/2) — the classic IVF
      // nlist=√n sizing), so BOTH the assignment and the within-cell
      // pair term grow as n^1.5, never the fixed-k n² pair blow-up.
      // Bench-only conf, same contract as queryIdBound above.
      spark.conf.set(GraftConf.SemdedupCells.name,
        math.max(8, math.round(8 * math.sqrt(scale.toDouble))).toString)
      // the brute-force n² kNN members (td_knn_graph_stats, purity,
      // ann_recall) run in their documented fixed-sample diagnostic
      // regime above 10× — a fixed probe costs the same on any corpus;
      // the full-corpus member in the sweep is td_knn_graph_ann, which
      // never reads this bound
      if (scale > 10)
        spark.conf.set(GraftConf.KnnNodeBound.name, nVecs.toString)
      // optional 5th arg: registry-name prefix restricting the sweep
      // (e.g. `td_semdedup` for a single-query rung). Totals from a
      // filtered run are not family-comparable; the metric says so —
      // same convention as StreamStress's filtered connector column.
      val prefix = if (args.length > 4 && args(4).nonEmpty) args(4) else "td_"
      val metric = "stress_total" +
        (if (prefix != "td_") s"_${prefix.stripPrefix("td_").stripSuffix("_")}"
         else "")
      RelStress.sweep(spark, out, prefix, metric, scale)
    }
    spark.stop()
  }
}
