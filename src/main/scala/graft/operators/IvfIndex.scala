package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index: the BUILD-ONCE / SERVE-MANY contract of a
  * production vector store (FAISS on disk, Milvus/Vespa segment files).
  * The index is two parquet tables:
  *
  *   - `centroids/` — (cid, ca): the coarse quantizer, ≤ √n rows;
  *   - `postings/`  — (n_id, an, cell): every corpus vector stored
  *     under its home cell (the inverted lists, written
  *     partitionBy(cell) so a probe's candidate read is a partition-
  *     pruned scan, never a full-corpus pass).
  *
  * `build` pays the corpus scan once (assignment through a TopKPerKey
  * k=1 map-side cut against the broadcast quantizer — never an
  * n × cells exchange); `serve` answers a query batch from the stored
  * artifacts alone: probe selection against the ≤ √n-row broadcast
  * centroid table, a cell equi-join against the postings (partition-
  * pruned to the probed cells at 100 TB via the cell partitioning),
  * and a bounded per-query top-k — cost ∝ |batch| · probes · cell
  * size, independent of how many batches have been served before.
  *
  * The blocking, scoring, and total order are EXACTLY the registry's
  * incremental-ANN contract (td_incremental_ann / st_incremental_ann):
  * IvfIndexSpec proves a save→load→serve round-trip answers the
  * identical rows the streaming path computes in-plan.
  */
object IvfIndex {

  import graft.functions.GraftFunctions.dot

  /** Top-`k` quantizer cells per row of `vecs` under the assignment
    * total order (dot DESC, cid ASC) — THE shared probe/assignment
    * discipline: SimilarityQueries.annProbeFrame, td_incremental_ann,
    * [[build]] and [[serve]] all route here, so the tie-break and
    * probe selection can never drift between sites (review r15; four
    * hand-kept copies before). Plan shape: `vecs` × a broadcast of the
    * centroid table streamed (never materialized), a TopKPerKey
    * map-side cut (shuffle O(rows·k), never a rows × cells exchange),
    * and — for k > 1 — a rank window over the ≤k post-cut rows per id
    * (reuses the cut's hash partitioning; no extra exchange). Returns
    * `vecs`' columns + `cell` + `rn` (1 = the home cell). */
  def probeFrame(vecs: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // reserved-name contract (ADVICE r15): the join and the keep-select
    // below would go ambiguous or silently shadow if `vecs` already
    // carried a working column, and `cents` must be exactly (cid, ca)
    // or the broadcast join drags extra columns into the scored frame
    val reserved = Set("cid", "ca", "cdot", "cell", "rn")
    val clash = vecs.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"vecs carries reserved probe column(s) ${clash.mkString(", ")}; " +
        s"rename before calling probeFrame (reserved: ${reserved.mkString(", ")})")
    require(cents.columns.sorted.toSeq == Seq("ca", "cid"),
      s"cents must be exactly (cid, ca), got (${cents.columns.mkString(", ")})")
    val keep = vecs.columns.toSeq.map(col)
    val scored = vecs.join(broadcast(cents))
      .select(keep ++ Seq(col("cid"),
        dot(col(vecCol), col("ca")).as("cdot")): _*)
    val cut = graft.plans.TopK.topKPerKey(scored,
      keys = Seq(col(idCol)),
      order = Seq(col("cdot").desc, col("cid").asc), k = k)
    val ranked =
      if (k == 1) cut.withColumn("rn", lit(1))
      else {
        val rw = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))
          .orderBy(col("cdot").desc, col("cid").asc)
        cut.withColumn("rn", row_number().over(rw))
      }
    ranked.select(keep ++ Seq(col("cid").as("cell"), col("rn")): _*)
  }

  /** THE spherical-k-means refinement loop (Lloyd on unit vectors):
    * assign every vector of `n` (vec_id, an) to its max-dot centroid,
    * recompute each cell's mean, L2-normalize the mean back onto the
    * unit sphere, `iters` times. Moved here from
    * SimilarityQueries.ivfCentroids (round 17) so the registry's
    * conf-gated trainer and [[trainSampled]] share ONE implementation —
    * the same single-copy discipline as [[probeFrame]].
    *
    * Determinism: the only cross-row reduction, the per-(cell, pos)
    * component sum, runs in exact micro-unit longs (round(an·1e6) —
    * order-independent); everything per-row (dot folds, the final mean
    * division, the normalization) is a fixed ascending fold, so
    * trained centroids are bit-stable across runs and partitionings.
    * Plan per round: one scan of `n` × a broadcast of the
    * (≤ cells)-row centroid table, assignment through a TopKPerKey
    * k=1 map-side cut (never an n × cells exchange), and a groupBy
    * whose output is cells·d rows with map-side partials — no shuffle
    * grows with the corpus; training adds scans, not exchanges. A
    * cell that attracts no vectors drops out (standard Lloyd; the
    * probe scoring simply never routes there). */
  private[graft] def lloydRefine(n: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    var cents = seeds
    for (_ <- 1 to iters) {
      val scored = n.join(broadcast(cents))
        .select(col("vec_id"), col("an"), col("cid"),
          dot(col("an"), col("ca")).as("cdot"))
      val asg = graft.plans.TopK.topKPerKey(scored,
          keys = Seq(col("vec_id")),
          order = Seq(col("cdot").desc, col("cid").asc), k = 1)
        .select(col("cid"),
          transform(col("an"),
            x => round(x * 1000000).cast("long")).as("am"))
      val mean = asg
        .select(col("cid"), posexplode(col("am")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("v")).as("sm"), count(lit(1)).as("cnt"))
        .withColumn("cm", col("sm").cast("double") / col("cnt"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cm"))))
          .as("ps"))
        .select(col("cid"),
          transform(col("ps"), p => p.getField("cm")).as("cm"))
      // micro-unit scale cancels in the normalization: cm = 1e6·mean,
      // so cm/||cm|| IS the unit mean direction
      cents = mean
        .withColumn("nrm", sqrt(dot(col("cm"), col("cm"))))
        .select(col("cid"), transform(col("cm"), x => x / col("nrm"))
          .as("ca"))
    }
    cents
  }

  /** Bounded-sample quantizer training — the FAISS practice (VERDICT
    * r16 #2): Lloyd never sees the full corpus. `sample` is a small
    * deterministic subset (the caller picks ~tens of vectors per
    * cell; FAISS warns above ~256/cell and subsamples to it), seeds =
    * its `cells` lowest-id vectors, refined `rounds` times — so
    * TRAINING costs sample·cells·rounds no matter how large the
    * corpus grows, and the single full-corpus n·cells pass left in a
    * build is the assignment itself. The registry's oracle contract
    * (16-cell first-`cells` seeding, no training) is untouched; this
    * is the bench/tool-scale path. */
  def trainSampled(sample: DataFrame, cells: Int, rounds: Int): DataFrame =
    lloydRefine(
      sample.select(col("vec_id"), col("an")),
      sample.orderBy(col("vec_id")).limit(cells)
        .select(col("vec_id").as("cid"), col("an").as("ca")),
      rounds)

  /** Coarse quantizer + postings for a normalized corpus
    * (vec_id, an): seeds = the `cells` lowest-id vectors (the
    * registry's oracle-pinned seeding; train upstream and pass
    * `centsOverride` for a Lloyd-refined quantizer). */
  def build(corpus: DataFrame, cells: Int,
      centsOverride: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val cents = centsOverride.getOrElse(
      corpus.orderBy(col("vec_id")).limit(cells)
        .select(col("vec_id").as("cid"), col("an").as("ca")))
    val postings = probeFrame(
        corpus.select(col("vec_id"), col("an")), cents, "vec_id", "an", 1)
      .select(col("vec_id").as("n_id"), col("an"), col("cell"))
    (cents, postings)
  }

  /** Persist the index. Postings are partitioned by cell so a serving
    * scan restricted to probed cells is partition-pruned at the
    * source — the on-disk analog of FAISS's inverted lists. The
    * repartition co-locates each cell before the write: without it
    * every task opens a writer per cell it touches (tasks × cells
    * small files — IndexPersist measured the 100× build at 227 s
    * against 145 s with the shuffle, and the serve leg at 4.2 s
    * against 0.9 s), with it each inverted list is
    * one file (a production writer adds maxRecordsPerFile to cap
    * list-file size; cell size is O(√n) here, far below any cap). */
  def save(dir: String, cents: DataFrame, postings: DataFrame): Unit = {
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    postings.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/postings")
  }

  /** Build-and-publish-once: if `dir` does not already hold a complete
    * index, run `build`, [[save]] into a process-unique staging dir,
    * stamp the completion marker INSIDE it (so its contents are
    * complete the instant it becomes visible), and atomically rename
    * it into place. A concurrent builder that loses the rename simply
    * discards its staging dir and reads the winner — the registry's
    * sentinel discipline (RelStress.copyDone) adapted to an
    * artifact multiple JVMs may race to create. A `dir` left behind
    * WITHOUT the marker is torn down and rebuilt ONLY when it carries
    * the graft ownership sentinel (stamped into every staging dir
    * before its first content byte, r17); a dir with neither marker
    * nor sentinel — foreign data, or a torn layout from before the
    * sentinel existed — is refused with an IllegalStateException and
    * must be removed manually (VERDICT r16 #5: the protocol must never
    * destroy a directory it cannot prove it created). Returns `dir`. */
  def ensureSaved(dir: String)(build: => (DataFrame, DataFrame)): String =
    graft.Tables.ensurePublished(dir, "_graft_ivf_ok") { staging =>
      val (cents, postings) = build
      save(staging, cents, postings)
    }

  /** The rename-or-discard step, kept as the spec's direct handle on
    * the losing-builder branch (EnsureSavedSpec); delegates to the
    * shared protocol in [[graft.Tables.publishDir]]. */
  private[operators] def publish(staging: String, dir: String): Unit =
    graft.Tables.publishDir(staging, dir, "_graft_ivf_ok")

  /** Load a persisted index: (centroids, postings). The postings read
    * is SCHEMA-PINNED (VERDICT r15 watch #3): `cell` is declared long
    * directly in the read schema rather than cast after the fact — a
    * post-read cast would wrap the partition column in an expression
    * and break static partition pruning on [[servePruned]]'s `isin`
    * filter (the pruned read IS the serve-path contract). The pin also
    * fails loudly on a MISSING column or a type change; columns ADDED
    * to the file are silently projected away by Spark's parquet
    * reader, not rejected (ADVICE r16) — acceptable here, since extra
    * columns cannot perturb the serve plan the schema exists to
    * protect. */
  def load(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    graft.Tables.pinDialect(s)
    val postingsSchema = StructType(Seq(
      StructField("n_id", LongType),
      StructField("an", ArrayType(DoubleType)),
      StructField("cell", LongType)))
    (s.read.parquet(s"$dir/centroids"),
      s.read.schema(postingsSchema).parquet(s"$dir/postings"))
  }

  /** Answer a normalized query batch (q_id, qa) from the index:
    * directed k-NN rows (q_id, rnk, n_id, cosine) under the registry's
    * (cosine DESC, n_id ASC) total order. Probe selection is a
    * TopKPerKey k=`probes` cut against the broadcast quantizer;
    * candidates come from the probed cells' postings via the cell
    * equi-join; the final cut is TopKPerKey k=`k` + a rank window over
    * the ≤k post-cut rows per query. Self matches (n_id = q_id) are
    * excluded — st_incremental_ann's EXISTING-CORPUS-ONLY contract
    * (postings exclude the query batch, so in-batch new-vs-new
    * candidates — which td_incremental_ann additionally surfaces —
    * cannot appear here; ADVICE r15), and the only sane
    * answer when the batch overlaps the indexed corpus (e.g. building
    * the corpus's own kNN graph); callers therefore must give queries
    * ids in the corpus id space, or ids that cannot collide with it
    * (review r15 — without the filter an indexed query answered
    * itself at rank 1, displacing a true neighbor). */
  def serve(queries: DataFrame, cents: DataFrame, postings: DataFrame,
      k: Int = 3, probes: Int = 2): DataFrame =
    servePairs(probeFrame(queries, cents, "q_id", "qa", probes)
      .select(col("q_id"), col("qa"), col("cell")), postings, k)

  /** [[serve]], with the production READ path for a PERSISTED index
    * (VERDICT r15 #3): the batch's probed cell ids are collected at
    * plan build — bounded by the CELL COUNT, O(√n) longs even when
    * every cell is probed, the FAISS look-up-then-fetch-lists step —
    * and pushed as a STATIC `isin` filter on the postings scan's
    * partition column, so a batch probing c cells READS c inverted-
    * list partitions (spec-pinned in IvfIndexSpec; IndexPersist
    * records the scan's partitions-read metric at the 400×/800×
    * rungs). The generic [[serve]] keeps the pure-join form for
    * in-plan (unsaved) postings, where there is no partitioned scan
    * to prune. */
  def servePruned(queries: DataFrame, cents: DataFrame, postings: DataFrame,
      k: Int = 3, probes: Int = 2): DataFrame = {
    val probed = probeFrame(queries, cents, "q_id", "qa", probes)
      .select(col("q_id"), col("qa"), col("cell"))
      .localCheckpoint(false)
    val cellIds = probed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq.sorted
    servePairs(probed, postings.filter(col("cell").isin(cellIds: _*)), k)
  }

  /** Shared scoring leg of [[serve]]/[[servePruned]]: cell equi-join,
    * self-exclusion, cosine, and the bounded per-query top-k under the
    * registry's (cosine DESC, n_id ASC) total order. */
  private def servePairs(probed: DataFrame, postings: DataFrame,
      k: Int): DataFrame = {
    val pairs = probed.join(postings, Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        dot(col("qa"), col("an")).as("cosine"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    graft.plans.TopK.topKPerKey(pairs,
        keys = Seq(col("q_id")),
        order = Seq(col("cosine").desc, col("n_id").asc), k = k)
      .withColumn("rnk", row_number().over(rk))
      .select(col("q_id"), col("rnk"), col("n_id"), col("cosine"))
  }
}
