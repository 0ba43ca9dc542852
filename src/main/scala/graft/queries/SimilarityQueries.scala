package graft.queries

import graft.{GraftConf, Lineage, QueryDef, Tables}
import graft.functions.GraftFunctions._
import graft.operators.Triangles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §7.1 step 9): brute-force cosine top-k as the correctness
  * baseline, and a random-hyperplane-LSH bucketed variant as the scale
  * path (candidates restricted to one bucket → equi-join, no cross join).
  *
  * Query set: every 50th vector (vec_id % 50 = 0). Cosines are computed on
  * unit-normalized double vectors with the codegen'd ascending-fold dot
  * product ([[graft.functions.DotProduct]]), which the DuckDB oracles
  * replay bit-identically with list_reduce — so even the row_number ranks
  * agree without any rounding.
  */
object SimilarityQueries {

  /** The ANN query-set predicate: every 50th vector. With
    * `spark.graft.ann.queryIdBound` set (BENCH-ONLY — the driver's
    * correctness gate never sets it, so oracle hashes are untouched),
    * the set is additionally bounded to vec_id < bound: StressSmoke's
    * fixed-q mode pins it at the 1× fixture's vector count so the
    * scale ladder measures the PRODUCTION serving regime — a FIXED
    * query batch scanning a growing corpus, O(n) per batch — instead
    * of the fixture's q ∝ n coupling, which grows work ~n² per octave
    * and is a fixture property, not a plan property (VERDICT r12 #2).
    */
  private def isQueryVec(s: SparkSession, c: Column): Column = {
    val base = c % 50 === 0
    GraftConf.AnnQueryIdBound(s)
      .map(b => base && c < lit(b)).getOrElse(base)
  }

  /** Node set of the BRUTE-FORCE kNN members (td_knn_graph_stats,
    * td_knn_purity, td_knn_ann_recall). With
    * `spark.graft.knngraph.nodeBound` set (BENCH-ONLY — the
    * correctness gate never sets it, so oracle hashes are untouched;
    * same contract as ann.queryIdBound) the graph is restricted to
    * vec_id < bound, and the vec_id predicate PRUNES the corpus scan —
    * a fixed diagnostic sample costs the same at any corpus size
    * (BASELINE.md's BenchOne reading measured exactly that; take it
    * again with `tools.Profile <query> <dir> <bound conf>=N`). The
    * unbounded brute queries are the documented n² members; the
    * full-corpus kNN build at scale is [[annKnnEdges]] /
    * `td_knn_graph_ann`, which never honors this bound. */
  private def knnNodes(s: SparkSession, n: DataFrame): DataFrame =
    GraftConf.KnnNodeBound(s)
      .map(b => n.filter(col("vec_id") < b)).getOrElse(n)

  /** IVF coarse-quantizer cell count, shared by td_ann_ivf and the
    * ANN-backed kNN graph build. `spark.graft.ann.ivf.cells` is
    * BENCH-ONLY (ann.queryIdBound contract — the correctness gate
    * never sets it, so the oracle-pinned default of 16 governs every
    * hash): the stress ladders size it k ∝ √n, the classic IVF
    * nlist=√n sizing (total cost n·k + probes·n²/k is minimized at
    * k ∝ √n — the same exact-assignment optimum SemDeDup's cell knob
    * follows, DedupQueries.scala), so BOTH the assignment term and the
    * in-cell candidate term grow as n^1.5, never a fixed-k n² pair
    * blow-up. */
  private def ivfCells(s: SparkSession): Int =
    GraftConf.AnnIvfCells(s)

  /** IVF multi-probe count for the ANN kNN build.
    * `spark.graft.ann.probes` is BENCH-ONLY (ann.queryIdBound
    * contract — the correctness gate never sets it, so the
    * oracle-pinned default of 2 governs every hash): multi-probe is
    * THE standard IVF recall lever (Multi-probe LSH, Lv et al.
    * VLDB'07; FAISS `nprobe`) — a true neighbor just across a cell
    * boundary is found via the query's next-closest cells. Cost is
    * linear in the knob: candidates per query grow ∝ probes
    * (probes·n²/k pair volume), shuffle stays O(n·probes). */
  private def ivfProbes(s: SparkSession): Int =
    GraftConf.AnnProbes(s)

  /** Directed exact cosine k-NN edges,
    * (q_id, q_label, n_id, n_label) — the brute-force baseline:
    * queries broadcast, candidates stream (O(q·n) compute),
    * TopKPerKey's map-side cut keeps shuffle O(n·k). Labels ride the
    * build (narrow int columns on streams the vectors already
    * traverse) so the purity consumer shares this exact pipeline
    * instead of keeping a second copy in sync. Only for the
    * fixture-scale diagnostics / recall denominators; the scale path
    * is [[annKnnEdges]]. */
  private def bruteKnnEdges(n: DataFrame, k: Int = 3): DataFrame = {
    val qv = n.select(col("vec_id").as("q_id"), col("label").as("q_label"),
      col("an").as("qa"))
    val cv = n.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("an").as("ca"))
    val pairs = cv.join(broadcast(qv), col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        dot(col("qa"), col("ca")).as("cosine"))
    graft.plans.TopK.topKPerKey(pairs,
        keys = Seq(col("q_id")),
        order = Seq(col("cosine").desc, col("n_id").asc), k = k)
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"))
  }

  /** IVF coarse-quantizer centroid table (cid, ca — unit double
    * arrays). Default: the first-`cells` data seed (oracle-pinned —
    * the gate never sets a bench conf, so every ANN oracle hash is
    * computed against this quantizer). With `spark.graft.ann.ivf.train`
    * = N > 0 (BENCH-ONLY, VERDICT r14 #1) the seeds are refined by N
    * rounds of SPHERICAL k-means — assign every vector to its max-dot
    * centroid, recompute each cell's mean, L2-normalize the mean back
    * onto the unit sphere — the standard IVF training loop (Lloyd on
    * unit vectors; the machinery mirrors td_kmeans_lloyd). The loop
    * itself lives in [[graft.operators.IvfIndex.lloydRefine]] (one
    * shared implementation with the sampled trainer — round 17); this
    * wrapper owns only the registry seed rule and the conf gate. The
    * determinism discipline (exact micro-unit component sums,
    * bit-stable across runs and partitionings) is documented there. */
  private[graft] def ivfCentroids(s: SparkSession, n: DataFrame,
      cells: Int): DataFrame = {
    val seeds = n.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("an").as("ca"))
    graft.operators.IvfIndex.lloydRefine(n, seeds, GraftConf.AnnIvfTrain(s))
  }

  /** The IVF multi-probe frame (vec_id, label, an, cell, rn): each
    * vector's top-`probes` coarse-quantizer cells by dot, rn=1 its
    * home cell. Extracted from [[annKnnEdges]] so the spec can assert
    * blocking-sensitive intermediates (e.g. the distinct home-cell
    * count equals the configured cell count) that the build's output
    * could coincidentally mask (ADVICE r14). */
  private[graft] def annProbeFrame(s: SparkSession, n: DataFrame,
      cellsOverride: Option[Int] = None): DataFrame = {
    val cells = cellsOverride.getOrElse(ivfCells(s))
    // labels ride the whole build (narrow int column on streams the
    // vectors already traverse) so the purity consumer pays zero extra
    // joins — the same ride-along the brute purity query uses. The
    // probe cut itself is the ONE shared assignment discipline
    // (IvfIndex.probeFrame: broadcast scoring, TopKPerKey cut, tiny
    // post-cut rank window — rn=1 is the node's home cell, where it
    // is a candidate; rn<=probes are the cells it searches as a
    // query).
    graft.operators.IvfIndex.probeFrame(
      n.select(col("vec_id"), col("label"), col("an")),
      ivfCentroids(s, n, cells), "vec_id", "an", ivfProbes(s))
  }

  /** Directed cosine k-NN edges built from IVF MULTI-PROBE candidates —
    * the full-corpus kNN-graph build that survives 100 TB (VERDICT r13
    * #1): every vector probes its top-`probes` (oracle-pinned 2;
    * [[ivfProbes]]) coarse-quantizer cells and is a CANDIDATE in its
    * top-1 cell, so candidate generation is an equi-join on cell id —
    * the node set is never broadcast and never crossed with itself.
    * With cells ∝ √n (see [[ivfCells]]) the in-cell pair volume is
    * O(probes·n^1.5); shuffle is O(n·probes) per side for the cell
    * join plus the TopKPerKey O(n·k) cut. Plan shape:
    *   - cell scoring: n × cells rows streamed through a broadcast of
    *     the (≤ √n)-row centroid table ([[ivfCentroids]] — seeded by
    *     default, Lloyd-trained under the bench-only ivf.train knob),
    *     never materialized;
    *   - probe selection: TopKPerKey k=probes (map-side cut, shuffle
    *     O(n·probes)), NOT a row_number window over the n × cells
    *     exchange ([[annProbeFrame]]);
    *   - the probes-rows-per-node probe frame is lineage-truncated so
    *     the scoring pass runs once, not once per join side.
    * Multi-probe (probes > 1) is the standard IVF recall lever (an
    * exact neighbor just across a cell boundary is found via the
    * query's next-closest cells); recall vs the brute build is
    * measured by td_knn_ann_recall, and the trained-vs-seeded /
    * probes-2-vs-4 A/B is a committed rung (BASELINE.md, round 15). */
  private[graft] def annKnnEdges(s: SparkSession, n: DataFrame, k: Int = 3,
      checkpoint: Boolean = true, cellsOverride: Option[Int] = None)
      : DataFrame = {
    // `checkpoint = false` is a TEST-ONLY escape (PlanSpec): the
    // checkpoint truncates the visible plan to a Scan ExistingRDD, so
    // the shape gate inspects the un-truncated build
    val pr0 = annProbeFrame(s, n, cellsOverride)
    val pr = if (checkpoint) Lineage.truncate(pr0) else pr0
    val qside = pr.select(col("vec_id").as("q_id"),
      col("label").as("q_label"), col("an").as("qa"), col("cell"))
    val cside = pr.filter(col("rn") === 1)
      .select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("an").as("ca"), col("cell"))
    // candidate pairs: equi-join on cell — each (q, n) appears at most
    // once because a candidate lives in exactly one home cell
    val pairs = qside.join(cside, Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        dot(col("qa"), col("ca")).as("cosine"))
    graft.plans.TopK.topKPerKey(pairs,
        keys = Seq(col("q_id")),
        order = Seq(col("cosine").desc, col("n_id").asc), k = k)
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"))
  }

  /** Shared tail of the kNN-graph diagnostics: symmetrize the directed
    * edge set, then per-node degree, triangle count (degree-ordered
    * enumeration, operators/Triangles.scala) and local clustering
    * coefficient. The canonical edge set feeds both the degree
    * aggregate and the triangle enumeration; materialized once so the
    * kNN scoring pass never re-runs. */
  private def graphStatsTail(knn: DataFrame): DataFrame = {
    val e = Lineage.truncate(Triangles.canonicalEdges(knn, "q_id", "n_id"))
    val d = Triangles.degrees(e)
    val pv = Triangles.perVertexFromCanonical(e)
    d.join(pv, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          (coalesce(col("triangles"), lit(0L)) * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("lcc"))
      .orderBy("vec_id")
  }

  /** Oracle CTE fragment shared by the three ANN-kNN oracles
    * (graph_ann / ann_recall / purity_ann): the IVF multi-probe
    * blocking — `cc` = the 16 seed centroids (the oracle-pinned
    * [[ivfCells]] default, spelled HERE exactly once so the quantizer
    * constant cannot desynchronize across the oracles) and `pr` =
    * each vector's top-2 probed cells with rn=1 its home cell; label
    * rides `pr` for the purity consumer (unused by the other two).
    * Follows [[NormCte]]'s `n`. */
  private val IvfProbeCte =
    """cc AS (SELECT vec_id AS cid, an AS ca FROM n WHERE vec_id < 16),
      |pr AS (SELECT vec_id, label, an, cell, rn FROM (
      |  SELECT n.vec_id, n.label, n.an, cc.cid AS cell, row_number() OVER (
      |      PARTITION BY n.vec_id
      |      ORDER BY list_reduce(list_transform(range(len(n.an)),
      |        i -> n.an[i+1]*cc.ca[i+1]), (a,b) -> a+b) DESC, cc.cid) AS rn
      |  FROM n, cc) WHERE rn <= 2)""".stripMargin

  /** Shared oracle CTE: normalized embeddings (same as DedupQueries). */
  private val NormCte =
    """WITH vd AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vd
      |            FROM embeddings),
      |nr AS (SELECT vec_id, label, vd,
      |         sqrt(list_reduce(list_transform(range(len(vd)),
      |           i -> vd[i+1]*vd[i+1]), (a,b) -> a+b)) AS nrm FROM vd),
      |n AS (SELECT vec_id, label, vd,
      |        list_transform(vd, x -> x / nrm) AS an FROM nr)""".stripMargin

  /** Oracle CTE chain for the PQ(4×16) pipeline — everything from the
    * micro-unit vectors through per-pair ADC distances (`adc`). Prefix
    * with `WITH vd AS (...)`; shared by td_ann_pq and
    * td_ann_pq_recall. */
  private val PqSqlChain =
    """vm AS (SELECT vec_id, label, list_transform(vd,
      |         x -> CAST(CAST(round(x*1000000) AS BIGINT) AS DOUBLE)) AS vm
      |       FROM vd),
      |cent AS (SELECT label % 10 AS code, t.k AS pos,
      |           CAST(sum(CAST(round(vd[t.k+1]*1000000) AS BIGINT)) AS DOUBLE)
      |             / count(*) AS cm
      |         FROM vd, unnest(range(len(vd))) AS t(k) GROUP BY 1, 2),
      |cb AS (SELECT code, list(cm ORDER BY pos) AS cma
      |       FROM cent GROUP BY code),
      |sub AS (SELECT unnest(range(4)) AS s),
      |enc0 AS (SELECT v.vec_id, sub.s, cb.code,
      |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |             list_transform(range(16),
      |               i -> (v.vm[sub.s*16+i+1] - cb.cma[sub.s*16+i+1])
      |                  * (v.vm[sub.s*16+i+1] - cb.cma[sub.s*16+i+1]))),
      |             (a, b) -> a + b) AS d
      |         FROM vm v, sub, cb),
      |enc AS (SELECT vec_id, s, code FROM (
      |          SELECT *, row_number() OVER
      |            (PARTITION BY vec_id, s ORDER BY d, code) AS rk FROM enc0)
      |        WHERE rk = 1),
      |qd AS (SELECT vec_id AS q_id, vm FROM vm WHERE vec_id % 50 = 0),
      |ad0 AS (SELECT q.q_id, e.vec_id AS n_id, e.s,
      |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |            list_transform(range(16),
      |              i -> (q.vm[e.s*16+i+1] - c.cma[e.s*16+i+1])
      |                 * (q.vm[e.s*16+i+1] - c.cma[e.s*16+i+1]))),
      |            (a, b) -> a + b) AS d
      |        FROM qd q, enc e JOIN cb c ON e.code = c.code
      |        WHERE e.vec_id <> q.q_id),
      |adc AS (SELECT q_id, n_id,
      |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |            list(d ORDER BY s)), (a, b) -> a + b) AS adc_dist
      |        FROM ad0 GROUP BY q_id, n_id)""".stripMargin

  /** Per-(subspace, code) TRAINED PQ codebook — Lloyd k-means over each
    * subspace's 16-dim micro-unit subvectors (seeds = the first
    * `nCodes` vectors' subvectors), the unsupervised replacement for
    * the label-derived codebook (production corpora have no labels).
    * Same determinism discipline as [[ivfCentroids]]: assignment
    * distances are exact integers (micro-unit squared diffs, fused
    * [[graft.functions.GraftFunctions.sqDist]] kernel, ties to min
    * code), updates are per-(s, code, pos) exact long sums, the mean is
    * one exact-int division. A code whose cell empties RETAINS its
    * previous centroid (left-join + coalesce) so the (s, code) grid
    * stays DENSE — the ADC path's flat 40-slot qdist array indexes by
    * s·nCodes+code and would misalign if a code vanished. Output rows
    * carry the centroid widened into the 64-slot layout (slice s
    * holds it, other slices zero — never read at this s), so the
    * encode/ADC plan is IDENTICAL to the label-codebook path: only
    * the broadcast 40-row table changes. Plan per round: one
    * (n·subspaces)-row scan × a broadcast 40-row centroid table
    * through a TopKPerKey k=1 cut, plus a 40·16-row map-side-partial
    * groupBy — no shuffle grows with the corpus. */
  private[graft] def trainedPqCodebook(s: SparkSession, vm: DataFrame,
      iters: Int, subDim: Int = 16, nCodes: Int = 10): DataFrame = {
    val sv = vm
      .select(col("vec_id"), explode(sequence(lit(0), lit(3))).as("s"),
        col("vm"))
      .select(col("vec_id"), col("s"),
        slice(col("vm"), col("s") * subDim + 1, lit(subDim)).as("sv"))
    var cents = sv.filter(col("vec_id") < nCodes)
      .select(col("s"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv"))
    for (_ <- 1 to iters) {
      val asg = graft.plans.TopK.topKPerKey(
        sv.join(broadcast(cents), Seq("s"))
          .select(col("vec_id"), col("s"), col("code"), col("sv"),
            sqDist(col("sv"), col("cv")).as("d")),
        keys = Seq(col("vec_id"), col("s")),
        order = Seq(col("d").asc, col("code").asc), k = 1)
      val mean = asg
        .select(col("s"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(sum(col("v").cast("long")).as("sm"), count(lit(1)).as("cnt"))
        .withColumn("cm", col("sm").cast("double") / col("cnt"))
        .groupBy(col("s"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cm"))))
          .as("ps"))
        .select(col("s"), col("code"),
          transform(col("ps"), p => p.getField("cm")).as("cv2"))
      cents = cents.join(mean, Seq("s", "code"), "left")
        .select(col("s"), col("code"),
          coalesce(col("cv2"), col("cv")).as("cv"))
    }
    cents.select(col("s"), col("code"),
      transform(sequence(lit(0), lit(63)), j =>
        when(j >= col("s") * subDim && j < (col("s") + 1) * subDim,
          element_at(col("cv"), j - col("s") * subDim + 1))
          .otherwise(lit(0.0))).as("cma"))
  }

  /** Micro-unit vector frame (vec_id, label, vm) — the exact-integer
    * representation the whole PQ chain runs in; shared with the
    * codebook spec/tooling. */
  private[graft] def microVectors(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("vd"))
      .select(col("vec_id"), col("label"),
        transform(col("vd"),
          x => round(x * 1000000).cast("long").cast("double")).as("vm"))

  /** PQ(4×16) encode + ADC top-k per query (see td_ann_pq's doc for the
    * plan-shape rationale); returns (q_id, n_id, adc_dist, rnk<=k). */
  private def pqTop3(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val subDim = 16
    // `spark.graft.ann.pq.codes` (BENCH-ONLY; oracle-pinned default 10)
    // sizes the codebook, the qdist lookup array (4·nCodes slots) and
    // the s·nCodes+code indexing together, so the layout can never
    // desynchronize; sizes > 10 are the trained path's lever — the
    // label codebook tops out at the label cardinality, so codes > 10
    // without training would leave 4·nCodes-slot lookups indexing a
    // 40-row codebook: out-of-range element_at = NULL adc_dist under
    // the non-ANSI dialect, i.e. well-formed garbage. Fail loudly
    // instead (review r15).
    val nCodes = GraftConf.AnnPqCodes(s)
    val pqIters = GraftConf.AnnPqTrain(s)
    require(nCodes <= 10 || pqIters > 0,
      s"${GraftConf.AnnPqCodes.name}=$nCodes exceeds the label codebook's " +
        s"10-code cardinality; set ${GraftConf.AnnPqTrain.name} > 0 (the " +
        "trained codebook is the only path past 10 codes)")
    // micro-unit vectors: exact integers in doubles
    val vd = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("vd"))
    val vm = microVectors(s, dir)
    // codebook: per-code centroid (micro-unit double), as one 64-dim
    // array per code, ordered by position. The code is label % nCodes
    // (oracle-pinned 10): a PQ codebook's size is a FIXED design
    // parameter (real PQ: 256 codes/subspace) independent of corpus
    // size — label cardinality may grow with the data (the stress
    // fixture scales it with the corpus, as an IVF cell id must), and
    // the modulus keeps the codebook, the 4·nCodes-slot qdist lookup
    // array, and the s·nCodes+code indexing invariant. Identity on
    // the base fixture (labels 0..9).
    val cb = vd
      .select(pmod(col("label"), lit(nCodes)).as("label"),
        posexplode(col("vd")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(round(col("x") * 1000000).cast("long")).cast("double") /
        count(lit(1))).as("cm"))
      .groupBy(col("label").as("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cm")))).as("pc"))
      .select(col("code"), transform(col("pc"), p => p("cm")).as("cma"))
    // `spark.graft.ann.pq.train` (BENCH-ONLY, GraftConf contract —
    // the oracle-pinned default is the label%10 codebook above) swaps
    // in the unsupervised per-subspace k-means codebook; everything
    // downstream (encode, qdist, ADC) is shape-identical
    val cbs =
      if (pqIters > 0) trainedPqCodebook(s, vm, pqIters, nCodes = nCodes)
      else cb.select(explode(sequence(lit(0), lit(3))).as("s"),
        col("code"), col("cma"))
    // ascending-index prepend-0 fold of squared diffs on subspace s —
    // the fused codegen kernel ([[graft.functions.SubspaceL2]]), not a
    // higher-order-function chain: this expression runs candidates ×
    // codes times in the encode and is the PQ chain's compute bound
    // (VERDICT r8 #4); the generated loop is bit-identical to the
    // oracle's ascending list_reduce
    def l2(a: Column, b: Column, sCol: Column): Column =
      graft.functions.GraftFunctions.subspaceL2(a, b, sCol.cast("int"), subDim)
    // encode: nearest code per (vector, subspace), ties to min code
    val enc = vm.crossJoin(broadcast(cbs))
      .select(col("vec_id"), col("s"), col("code"),
        l2(col("vm"), col("cma"), col("s")).as("d"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d"), col("code"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.code").as("code"))
    // one row per candidate holding its 4 codes (the compressed
    // representation a PQ index actually stores — 4 bytes/vector)
    val cCols = (0 until 4).map(i =>
      min(when(col("s") === i, col("code"))).as(s"_c$i"))
    // Explicit width for the ADC scan: `codes` is a POST-SHUFFLE frame
    // of a few MB (4-byte codes per vector is the point of PQ), so AQE
    // coalesces it to a handful of partitions — correct for its size,
    // but this side then fans out ×q through the broadcast crossJoin
    // below, and AQE cannot see that multiplier (round-13 probe at the
    // 100× rung: the ADC+top-k stage got 8 tasks on 32 cores, 433 s of
    // executor time over 58 s wall; pinned at defaultParallelism the
    // same stage ran 32-wide in 16 s). A user-specified repartition
    // count is exempt from AQE coalescing, so the expansion stage keeps
    // cluster-wide parallelism at any scale; the extra exchange moves
    // only the codes themselves (~16 MB at 100×).
    val codes = enc.groupBy(col("vec_id")).agg(cCols.head, cCols.tail: _*)
      .repartition(s.sparkContext.defaultParallelism)
    // each query's DISTANCE LOOKUP TABLE (subspaces × codes = 40
    // doubles) broadcasts as one flat array indexed s*nCodes+code, so
    // the candidate × query enumeration is one broadcast join + a PURE
    // PROJECTION (4 element_at lookups + explicit left-associated add)
    // — the candidate stream never shuffles; the only exchange is the
    // per-query top-k heap (TopKPerKey via the rn<=k rewrite)
    val qd = vm.filter(isQueryVec(s, col("vec_id")))
      .select(col("vec_id").as("q_id"), col("vm").as("qm"))
    val qarr = qd.crossJoin(broadcast(cbs))
      .select(col("q_id"), col("s"), col("code"),
        l2(col("qm"), col("cma"), col("s")).as("d"))
      .groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("code"),
        col("d")))).as("scd"))
      .select(col("q_id"), transform(col("scd"), e => e("d")).as("qdist"))
    def lk(i: Int): Column =
      element_at(col("qdist"), lit(i * nCodes) + col(s"_c$i") + 1)
    val adc = codes.crossJoin(broadcast(qarr))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (lit(0.0) + lk(0) + lk(1) + lk(2) + lk(3)).as("adc_dist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist"), col("n_id"))
    adc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** 4-hyperplane random-projection bucket (16 buckets). Hyperplane j's
    * component i is the small integer ((i*37 + j*101) mod 19) - 9 — exact
    * in doubles, so the sign test is bit-deterministic cross-engine.
    * Computed by the fused codegen kernel
    * ([[graft.functions.HyperplaneBucket]], round 13): the previous
    * 4 × `aggregate(sequence(...))` composition ran ~1300 interpreted
    * lambda steps and four array materializations per CANDIDATE row —
    * ∝ corpus size, the serving-regime ladder's largest line. The
    * DuckDB oracle keeps replaying the aggregate formula, so the hash
    * gate proves the kernel's bit-equivalence cross-engine. */
  private def bucketExpr(vd: Column): Column =
    graft.functions.GraftFunctions.hyperplaneBucket(vd)

  /** The composed-Column formula the kernel replaced — retained for
    * the equivalence spec (SimilaritySpec pins kernel == composition
    * on the fixture; KernelProps pins it on random arrays). */
  private[graft] def bucketExprComposed(vd: Column): Column =
    (0 until 4).map { j =>
      val dotj = aggregate(sequence(lit(0), size(vd) - 1), lit(0.0),
        (acc, i) => acc + element_at(vd, i + 1) *
          ((i * 37 + lit(j * 101)) % 19 - 9).cast("double"))
      when(dotj > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Oracle CTE chain for the Lloyd(2) assignment — `vd` (raw doubles)
    * through `a2` (vec_id, cell_seed, cell_lloyd). Shared by
    * td_kmeans_lloyd and DedupQueries' td_semdedup, whose blocking key
    * is exactly this assignment. Defined BEFORE `defs`: the map
    * interpolates it eagerly at object init. Usable as
    * `WITH $KmeansSqlChain, ...`. */
  private[queries] val KmeansSqlChain =
    """vd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
      |            FROM embeddings),
      |xm AS (SELECT vec_id, list_transform(vd,
      |         x -> CAST(CAST(round(x*1000000) AS BIGINT) AS DOUBLE))
      |         AS xm FROM vd),
      |c0 AS (SELECT vec_id AS cid, xm AS cm FROM xm WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, xm, cell FROM (
      |  SELECT x.vec_id, x.xm, c.cid AS cell, row_number() OVER (
      |      PARTITION BY x.vec_id ORDER BY
      |      list_reduce(list_transform(range(len(x.xm)),
      |        i -> (x.xm[i+1]-c.cm[i+1])*(x.xm[i+1]-c.cm[i+1])),
      |        (a,b) -> a+b) ASC, c.cid) AS rn
      |  FROM xm x, c0 c) WHERE rn = 1),
      |s1 AS (SELECT cell, t.k AS pos,
      |         CAST(sum(CAST(xm[t.k+1] AS BIGINT)) AS BIGINT) AS sm,
      |         count(*) AS n
      |       FROM a1, unnest(range(len(xm))) AS t(k) GROUP BY 1, 2),
      |c1 AS (SELECT cell AS cid,
      |         list(CAST(sm AS DOUBLE)/n ORDER BY pos) AS cm
      |       FROM s1 GROUP BY 1),
      |a2 AS (SELECT vec_id, cell_seed, cell_lloyd FROM (
      |  SELECT x.vec_id, x.cell AS cell_seed, c.cid AS cell_lloyd,
      |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
      |      list_reduce(list_transform(range(len(x.xm)),
      |        i -> (x.xm[i+1]-c.cm[i+1])*(x.xm[i+1]-c.cm[i+1])),
      |        (a,b) -> a+b) ASC, c.cid) AS rn
      |  FROM a1 x, c1 c) WHERE rn = 1)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ---- Brute-force cosine top-k: the exact baseline every ANN variant
    // is judged against. Queries are broadcast; candidates stream —
    // O(q × n) work with no shuffle of the candidate side.
    "td_ann_topk" -> QueryDef.sql(
      "brute-force cosine top-5 per query vector (vec_id % 50 = 0)")(
      s"""$NormCte,
        |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |      WHERE q.vec_id % 50 = 0),
        |r AS (SELECT q_id, n_id, cosine, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM p)
        |SELECT q_id, rnk, n_id, cosine FROM r WHERE rnk <= 5
        |ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
      val n = DedupQueries.normalizedEmbeddings(s, dir)
      val q = n.filter(isQueryVec(s, col("vec_id")))
        .select(col("vec_id").as("q_id"), col("an").as("qa"))
      val c = n.select(col("vec_id").as("n_id"), col("an").as("ca"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      c.join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), dot(col("qa"), col("ca")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cosine"))
        .orderBy("q_id", "rnk")
    },

    // ---- IVF-style ANN: a 16-centroid coarse quantizer (seeded from the
    // first 16 vectors), cells assigned by max cosine, search restricted
    // to the query's cell. Centroids broadcast; assignment streams the
    // n × cells scores through a TopKPerKey k=1 cut (map-side, shuffle
    // O(n) — NOT a row_number window, whose exchange would carry all
    // n × cells scored rows once the cell count grows); candidate
    // generation is an equi-join on cell id. Cell count is the
    // oracle-pinned 16 by default; the stress ladders re-train the
    // quantizer as the corpus grows via the bench-only
    // `spark.graft.ann.ivf.cells` knob (k ∝ √n — see ivfCells).
    "td_ann_ivf" -> QueryDef.sql(
      "IVF coarse quantizer (16 seed centroids) + in-cell cosine top-3")(
      s"""$NormCte,
        |c AS (SELECT vec_id AS cid, an AS ca FROM n WHERE vec_id < 16),
        |asg AS (SELECT vec_id, an, cell FROM (
        |  SELECT n.vec_id, n.an, c.cid AS cell, row_number() OVER (
        |      PARTITION BY n.vec_id
        |      ORDER BY list_reduce(list_transform(range(len(n.an)),
        |        i -> n.an[i+1]*c.ca[i+1]), (a,b) -> a+b) DESC, c.cid) AS rn
        |  FROM n, c) WHERE rn = 1),
        |p AS (SELECT q.vec_id AS q_id, x.vec_id AS n_id, q.cell AS cell,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*x.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM asg q JOIN asg x
        |        ON q.cell = x.cell AND x.vec_id <> q.vec_id
        |      WHERE q.vec_id % 50 = 0),
        |r AS (SELECT q_id, n_id, cell, cosine, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM p)
        |SELECT q_id, rnk, n_id, cell, cosine FROM r WHERE rnk <= 3
        |ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
      val n = DedupQueries.normalizedEmbeddings(s, dir)
      // shared quantizer machinery: seeded = the oracle-pinned cents
      // (identical construction), and the bench-only ivf.train knob
      // makes the SEARCH index quality-tunable too (round 15)
      val cents = ivfCentroids(s, n, ivfCells(s))
      val scored = n.join(broadcast(cents))
        .select(col("vec_id"), col("an"), col("cid"),
          dot(col("an"), col("ca")).as("cdot"))
      val assigned = graft.plans.TopK.topKPerKey(scored,
          keys = Seq(col("vec_id")),
          order = Seq(col("cdot").desc, col("cid").asc), k = 1)
        .select(col("vec_id"), col("an"), col("cid").as("cell"))
      val q = assigned.filter(isQueryVec(s, col("vec_id")))
        .select(col("vec_id").as("q_id"), col("an").as("qa"), col("cell"))
      val cands = assigned.select(col("vec_id").as("n_id"),
        col("an").as("ca2"), col("cell").as("cell_c"))
      val rw = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      cands.join(broadcast(q),
          col("cell") === col("cell_c") && col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), col("cell"),
          dot(col("qa"), col("ca2")).as("cosine"))
        .withColumn("rnk", row_number().over(rw))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cell"),
          col("cosine"))
        .orderBy("q_id", "rnk")
    },

    // ---- Two-stage retrieval: PQ/ADC SHORTLIST (top-20 on 4-byte
    // codes — the cheap first pass over the whole corpus) then EXACT
    // cosine RE-RANK of only the shortlist (full vectors touched for
    // 20 candidates/query instead of n). This is the production ANN
    // serving pattern (FAISS IVF-PQ + refine, ScaNN reordering): at
    // 100 TB the exact pass reads ~q·20 vectors — the expensive fetch
    // is proportional to the answer size, not the corpus. Plan: the
    // shortlist is a broadcastable (q × 20)-row frame; both joins
    // back to the vector table broadcast the small side, so the only
    // shuffle is the ADC top-k heap itself.
    "td_ann_pq_rerank" -> QueryDef.sql(
      "PQ/ADC top-20 shortlist re-ranked by exact cosine to top-3")(
      s"""WITH vd AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vd
        |            FROM embeddings),
        |$PqSqlChain,
        |sl AS (SELECT q_id, n_id FROM (
        |         SELECT q_id, n_id, row_number() OVER
        |           (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rnk
        |         FROM adc) WHERE rnk <= 20),
        |nr AS (SELECT vec_id, vd,
        |         sqrt(list_reduce(list_transform(range(len(vd)),
        |           i -> vd[i+1]*vd[i+1]), (a,b) -> a+b)) AS nrm FROM vd),
        |nn AS (SELECT vec_id, list_transform(vd, x -> x / nrm) AS an FROM nr),
        |ex AS (SELECT sl.q_id, sl.n_id,
        |         list_reduce(list_transform(range(len(q.an)),
        |           i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine
        |       FROM sl JOIN nn q ON q.vec_id = sl.q_id
        |                JOIN nn c ON c.vec_id = sl.n_id)
        |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, n_id, cosine FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM ex)
        |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
      val short = pqTop3(s, dir, 20).select(col("q_id"), col("n_id"))
      val n = DedupQueries.normalizedEmbeddings(s, dir)
      val cv = n.select(col("vec_id").as("n_id"), col("an").as("ca"))
      val qv = n.filter(isQueryVec(s, col("vec_id")))
        .select(col("vec_id").as("q_id"), col("an").as("qa"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      cv.join(broadcast(short), "n_id")
        .join(broadcast(qv), "q_id")
        .select(col("q_id"), col("n_id"), dot(col("qa"), col("ca")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cosine"))
        .orderBy("q_id", "rnk")
    },

    // ---- INCREMENTAL ANN INGEST (VERDICT r14 #4 — the similarity
    // twin of td_incremental_dedup): a NEW batch (vec_id % 5 = 4,
    // ~20% of the corpus) is served by the EXISTING index — every
    // vector is assigned a home cell under the EXISTING corpus's
    // quantizer (seeds = the first `cells` existing vectors; in
    // production both the quantizer and the existing assignments are
    // stored index artifacts, loaded not recomputed — the fixture
    // recomputes them, exactly as td_incremental_dedup recomputes the
    // existing side's bands), each new vector probes its top-2 cells,
    // and its 3-NN candidates are the probed cells' members — existing
    // AND in-batch, so new-vs-new duplicates surface immediately. The
    // QUERY side is the batch alone: candidate volume is
    // |batch| · probes · cell-size, never existing × existing — cost
    // per ingest is linear in the batch at fixed cell size (the
    // stored index's cells ∝ √n sizing holds cell size ~√n; the
    // bench-only ivf.cells knob reaches the seed count for the scale
    // rungs). Same TopKPerKey map-side cut + tiny post-cut rank
    // window as annKnnEdges; the oracle replays the identical
    // blocking, scoring, and total order.
    "td_incremental_ann" -> QueryDef.sql(
      "new-batch 3-NN vs existing corpus via the existing IVF index")(
      s"""$NormCte,
        |cc AS (SELECT vec_id AS cid, an AS ca FROM n
        |       WHERE vec_id % 5 <> 4 ORDER BY vec_id LIMIT 16),
        |pr AS (SELECT vec_id, an, cell, rn FROM (
        |  SELECT n.vec_id, n.an, cc.cid AS cell, row_number() OVER (
        |      PARTITION BY n.vec_id
        |      ORDER BY list_reduce(list_transform(range(len(n.an)),
        |        i -> n.an[i+1]*cc.ca[i+1]), (a,b) -> a+b) DESC, cc.cid) AS rn
        |  FROM n, cc) WHERE rn <= 2),
        |p AS (SELECT q.vec_id AS q_id, x.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*x.an[i+1]), (a,b) -> a+b) AS cosine,
        |        x.vec_id % 5 = 4 AS n_is_new
        |      FROM pr q JOIN pr x
        |        ON q.cell = x.cell AND x.rn = 1 AND x.vec_id <> q.vec_id
        |      WHERE q.vec_id % 5 = 4),
        |r AS (SELECT q_id, n_id, cosine, n_is_new, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM p)
        |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, n_id, cosine, n_is_new
        |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
      val n = DedupQueries.normalizedEmbeddings(s, dir)
      val isNew = col("vec_id") % 5 === 4
      val cells = ivfCells(s)
      // the existing index's quantizer: first-`cells` EXISTING vectors
      // (TakeOrdered of a ≤cells-row frame — in production this is an
      // artifact read, not a scan)
      val cents = n.filter(!isNew).orderBy(col("vec_id")).limit(cells)
        .select(col("vec_id").as("cid"), col("an").as("ca"))
      // the shared probe/assignment discipline (IvfIndex.probeFrame)
      val pr = Lineage.truncate(graft.operators.IvfIndex.probeFrame(
        n.select(col("vec_id"), col("an")), cents, "vec_id", "an", 2))
      val qside = pr.filter(col("vec_id") % 5 === 4)
        .select(col("vec_id").as("q_id"), col("an").as("qa"), col("cell"))
      val cside = pr.filter(col("rn") === 1)
        .select(col("vec_id").as("n_id"), col("an").as("ca"), col("cell"))
      val pairs = qside.join(cside, Seq("cell"))
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          dot(col("qa"), col("ca")).as("cosine"),
          (col("n_id") % 5 === 4).as("n_is_new"))
      val rk = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      graft.plans.TopK.topKPerKey(pairs,
          keys = Seq(col("q_id")),
          order = Seq(col("cosine").desc, col("n_id").asc), k = 3)
        .withColumn("rnk", row_number().over(rk))
        .select(col("q_id"), col("rnk"), col("n_id"), col("cosine"),
          col("n_is_new"))
        .orderBy("q_id", "rnk")
    },

    // ---- Scalar int8 quantization: the storage-reduction step of a
    // 100 TB embedding store (4× smaller than float32). Per-vector
    // max-abs scale, symmetric round-to-int8 codes, exact integer code
    // checksum + deterministic reconstruction MSE.
    "td_embed_quantize" -> QueryDef.sql(
      "per-vector int8 scalar quantization with reconstruction error")(
      """WITH vd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
        |            FROM embeddings),
        |sc AS (SELECT vec_id, vd,
        |         list_max(list_transform(vd, x -> abs(x))) / 127 AS scale
        |       FROM vd),
        |q AS (SELECT vec_id, scale,
        |        list_transform(vd, x -> CAST(round(x / scale) AS BIGINT))
        |          AS codes, vd FROM sc)
        |SELECT vec_id, scale,
        |  CAST(list_reduce(codes, (a,b) -> a + b) AS BIGINT) AS code_sum,
        |  list_reduce(list_transform(range(len(vd)),
        |    i -> (vd[i+1] - codes[i+1]*scale) * (vd[i+1] - codes[i+1]*scale)),
        |    (a,b) -> a+b) AS sq_err
        |FROM q ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val vd = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
      val sc = vd.withColumn("scale",
        array_max(transform(col("vd"), x => abs(x))) / 127)
      val q = sc.withColumn("codes",
        transform(col("vd"), x => round(x / col("scale")).cast("long")))
      q.select(
        col("vec_id"), col("scale"),
        aggregate(col("codes"), lit(0L), (a, b) => a + b).as("code_sum"),
        aggregate(
          zip_with(col("vd"), col("codes"),
            (x, c) => (x - c * col("scale")) * (x - c * col("scale"))),
          lit(0.0), (a, b) => a + b).as("sq_err"))
        .orderBy("vec_id")
    },

    // ---- LSH-bucketed ANN: 4 random hyperplanes → 16 buckets; search
    // only the query's bucket. The scale path: bucket assignment is a
    // narrow map, candidate generation an equi-join on bucket.
    "td_ann_lsh" -> QueryDef.sql(
      "random-hyperplane LSH (16 buckets) cosine top-3 within bucket")(
      s"""$NormCte,
        |b AS (SELECT vec_id, an, CAST(list_sum(list_transform(range(4), j ->
        |        CASE WHEN list_reduce(list_transform(range(len(vd)),
        |               i -> vd[i+1] * CAST((i*37 + j*101) % 19 - 9 AS DOUBLE)),
        |               (a,b) -> a+b) > 0
        |             THEN (1 << j) ELSE 0 END)) AS INTEGER) AS bucket FROM n),
        |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.bucket AS bucket,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        |      WHERE q.vec_id % 50 = 0),
        |r AS (SELECT q_id, n_id, bucket, cosine, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM p)
        |SELECT q_id, rnk, n_id, bucket, cosine FROM r WHERE rnk <= 3
        |ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
      val n = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vd"))
        .withColumn("nrm", sqrt(dot(col("vd"), col("vd"))))
        .select(col("vec_id"), col("vd"),
          transform(col("vd"), x => x / col("nrm")).as("an"))
      val b = n.select(col("vec_id"), col("an"),
        bucketExpr(col("vd")).as("bucket"))
      val q = b.filter(isQueryVec(s, col("vec_id")))
        .select(col("vec_id").as("q_id"), col("an").as("qa"),
          col("bucket"))
      val c = b.select(col("vec_id").as("n_id"), col("an").as("ca"),
        col("bucket").as("bucket_c"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      c.join(broadcast(q),
          col("bucket") === col("bucket_c") && col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), col("bucket"),
          dot(col("qa"), col("ca")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("n_id"), col("bucket"),
          col("cosine"))
        .orderBy("q_id", "rnk")
    },

    // ---- Per-label element-wise centroid — the k-means/IVF TRAINING
    // step (assignment is td_ann_ivf's job). Floating sums are
    // order-dependent under distributed aggregation, so the centroid is
    // computed in exact integer micro-units (round(x·1e6), the same
    // HALF_UP both engines use for cents) — order-independent, hence
    // hash-stable — with the mean as one final exact-int double division.
    // Plan: posexplode → one groupBy(label, pos) with map-side partials.
    "td_embed_centroid" -> QueryDef.sql(
      "per-label element-wise embedding centroid in exact micro-units")(
      """WITH vd AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vd
        |            FROM embeddings)
        |SELECT label, t.k AS pos,
        |       CAST(sum(CAST(round(vd[t.k+1]*1000000) AS BIGINT)) AS BIGINT)
        |         AS sum_micro,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(vd[t.k+1]*1000000) AS BIGINT)) AS DOUBLE)
        |         / count(*) AS centroid_micro
        |FROM vd, unnest(range(len(vd))) AS t(k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(round(col("x") * 1000000).cast("long")).as("sum_micro"),
          count(lit(1)).as("n"))
        .withColumn("centroid_micro",
          col("sum_micro").cast("double") / col("n"))
        .orderBy("label", "pos")
    },

    // ---- ANN quality evaluation: recall@3 of the LSH-bucketed path
    // against the exact brute-force baseline, per query vector — the
    // metric that decides whether an approximate index is good enough to
    // deploy. Both sides are deterministic (ties broken by n_id), so the
    // per-query hit counts are exact cross-engine. Same plan shapes as
    // td_ann_topk / td_ann_lsh; the comparison itself is a small
    // (queries × k)-row join.
    "td_ann_recall" -> QueryDef.sql(
      "recall@3 of LSH-bucketed ANN vs exact brute-force, per query")(
      s"""$NormCte,
        |bp AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |      WHERE q.vec_id % 50 = 0),
        |bf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM bp)
        |       WHERE rnk <= 3),
        |b AS (SELECT vec_id, an, CAST(list_sum(list_transform(range(4), j ->
        |        CASE WHEN list_reduce(list_transform(range(len(vd)),
        |               i -> vd[i+1] * CAST((i*37 + j*101) % 19 - 9 AS DOUBLE)),
        |               (a,b) -> a+b) > 0
        |             THEN (1 << j) ELSE 0 END)) AS INTEGER) AS bucket FROM n),
        |lp AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        |      WHERE q.vec_id % 50 = 0),
        |ls AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM lp)
        |       WHERE rnk <= 3),
        |h AS (SELECT bf.q_id AS q_id,
        |        CASE WHEN ls.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |      FROM bf LEFT JOIN ls ON bf.q_id = ls.q_id AND bf.n_id = ls.n_id)
        |SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
        |       CAST(sum(hit) AS DOUBLE) / 3 AS recall_at_3
        |FROM h GROUP BY q_id ORDER BY q_id""".stripMargin) { (s, dir) =>
      val n = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vd"))
        .withColumn("nrm", sqrt(dot(col("vd"), col("vd"))))
        .select(col("vec_id"), col("vd"),
          transform(col("vd"), x => x / col("nrm")).as("an"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      // exact baseline: brute-force top-3
      val q0 = n.filter(isQueryVec(s, col("vec_id")))
        .select(col("vec_id").as("q_id"), col("an").as("qa"))
      val bf = n.select(col("vec_id").as("n_id"), col("an").as("ca"))
        .join(broadcast(q0), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          dot(col("qa"), col("ca")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"))
      // approximate path: LSH-bucketed top-3 (same construction as
      // td_ann_lsh)
      val b = n.select(col("vec_id"), col("an"),
        bucketExpr(col("vd")).as("bucket"))
      val ql = b.filter(isQueryVec(s, col("vec_id")))
        .select(col("vec_id").as("q_id"), col("an").as("qa"), col("bucket"))
      val ls = b.select(col("vec_id").as("n_id"), col("an").as("ca"),
          col("bucket").as("bucket_c"))
        .join(broadcast(ql),
          col("bucket") === col("bucket_c") && col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          dot(col("qa"), col("ca")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id").as("lq"), col("n_id").as("ln"))
      bf.join(ls, col("q_id") === col("lq") && col("n_id") === col("ln"),
          "left")
        .groupBy(col("q_id"))
        .agg(sum(when(col("ln").isNotNull, 1).otherwise(0)).cast("long")
          .as("n_hits"))
        .withColumn("recall_at_3", col("n_hits").cast("double") / 3)
        .orderBy("q_id")
    },

    // ---- Product quantization + asymmetric-distance (ADC) top-k: THE
    // memory-bounded ANN representation at 100 TB — each 64-dim vector
    // compresses to m=4 one-byte codes (16 dims per subspace), and query
    // distance is a table lookup per subspace, never a full-vector scan.
    // Codebook "training" is the per-label centroid restricted to each
    // subspace (the same deterministic label-as-cluster stand-in as
    // td_ann_ivf / td_embed_centroid; production swaps in k-means
    // without changing a single plan shape). Everything runs in exact
    // micro-unit arithmetic with ascending-index prepend-0 folds, so
    // encode codes, ADC distances, and ranks are all bit-identical
    // cross-engine. Plan shape: encode = candidates × broadcast(40-row
    // codebook); ADC = candidates × broadcast(queries) — no shuffle
    // grows with the corpus except the final per-query top-k.
    "td_ann_pq" -> QueryDef.sql(
      "PQ(4x16) encode + asymmetric-distance top-3 per query")(
      s"""WITH vd AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vd
        |            FROM embeddings),
        |$PqSqlChain
        |SELECT q_id, n_id, adc_dist, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rnk FROM adc)
        |WHERE rnk <= 3 ORDER BY q_id, n_id""".stripMargin) { (s, dir) =>
      pqTop3(s, dir)
        .select(col("q_id"), col("n_id"), col("adc_dist"), col("rnk"))
        .orderBy("q_id", "n_id")
    },

    // ---- PQ quality evaluation: recall@3 of the compressed ADC ranking
    // vs the exact brute-force cosine top-3 — what 4-byte codes cost in
    // answer quality (the LSH twin is td_ann_recall). Note the metrics
    // deliberately differ (ADC = unnormalized L2 on reconstructions;
    // brute force = cosine on unit vectors), so recall measures the
    // production trade as deployed, not a same-metric tautology.
    // Measured ≈0.17 mean at sf0.01: honest for a k=10-per-subspace
    // quantizer over near-random synthetic vectors — production PQ uses
    // k=256 codebooks from k-means, which raises recall without
    // changing any plan shape here; the pipeline+metric is the
    // deliverable.
    "td_ann_pq_recall" -> QueryDef.sql(
      "recall@3 of PQ/ADC vs exact brute-force cosine, per query")(
      s"""WITH vd AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vd
        |            FROM embeddings),
        |$PqSqlChain,
        |pq3 AS (SELECT q_id, n_id FROM (
        |          SELECT q_id, n_id, row_number() OVER
        |            (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rnk
        |          FROM adc) WHERE rnk <= 3),
        |nr AS (SELECT vec_id, vd,
        |         sqrt(list_reduce(list_transform(range(len(vd)),
        |           i -> vd[i+1]*vd[i+1]), (a,b) -> a+b)) AS nrm FROM vd),
        |nn AS (SELECT vec_id, list_transform(vd, x -> x / nrm) AS an FROM nr),
        |bp AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM nn q JOIN nn c ON c.vec_id <> q.vec_id
        |      WHERE q.vec_id % 50 = 0),
        |bf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM bp)
        |       WHERE rnk <= 3),
        |h AS (SELECT bf.q_id AS q_id,
        |        CASE WHEN pq3.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |      FROM bf LEFT JOIN pq3 ON bf.q_id = pq3.q_id
        |                           AND bf.n_id = pq3.n_id)
        |SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
        |       CAST(sum(hit) AS DOUBLE) / 3 AS recall_at_3
        |FROM h GROUP BY q_id ORDER BY q_id""".stripMargin) { (s, dir) =>
      val n = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vd"))
        .withColumn("nrm", sqrt(dot(col("vd"), col("vd"))))
        .select(col("vec_id"), transform(col("vd"), x => x / col("nrm"))
          .as("an"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      val q0 = n.filter(isQueryVec(s, col("vec_id")))
        .select(col("vec_id").as("q_id"), col("an").as("qa"))
      val bf = n.select(col("vec_id").as("n_id"), col("an").as("ca"))
        .join(broadcast(q0), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          dot(col("qa"), col("ca")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"))
      val pq3 = pqTop3(s, dir)
        .select(col("q_id").as("pq"), col("n_id").as("pn"))
      bf.join(pq3, col("q_id") === col("pq") && col("n_id") === col("pn"),
          "left")
        .groupBy(col("q_id"))
        .agg(sum(when(col("pn").isNotNull, 1).otherwise(0)).cast("long")
          .as("n_hits"))
        .withColumn("recall_at_3", col("n_hits").cast("double") / 3)
        .orderBy("q_id")
    },

    // ---- Distributed k-means (Lloyd's algorithm), 2 unrolled
    // iterations, k = 8 centroids seeded from the first 8 vectors — the
    // missing TRAINING half of the IVF quantizer (td_ann_ivf searches a
    // seed-centroid index; this trains one). Everything runs in exact
    // micro-unit arithmetic: vectors become round(x·1e6) integers held
    // in doubles, so iteration-1 squared distances are exact integers
    // (≤ 64·(2e6)² ≈ 2.6e14 < 2^53 — order-independent), the update
    // step sums BIGINT micro-units per (cell, pos) (order-independent),
    // and iteration-2 centroids/distances are single exact-int divisions
    // + a fixed ascending fold — deterministic cross-engine, so even the
    // argmin ranks agree bit-for-bit (ties broken by lowest cid).
    //
    // Plan at scale: centroids are broadcast (k·d doubles) — each
    // iteration is one scan of the corpus + a groupBy(cell, pos) whose
    // output is k·d rows with map-side partial aggregation. No shuffle
    // grows with the corpus; iterations add scans, not exchanges — the
    // plan a 1000-executor cluster would run.
    "td_kmeans_lloyd" -> QueryDef.sql(
      "k-means Lloyd x2 (k=8, data-seeded) in exact micro-units")(
      s"""WITH $KmeansSqlChain
        |SELECT vec_id, cell_seed, cell_lloyd,
        |       cell_seed <> cell_lloyd AS moved
        |FROM a2 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      kmeansAssign(s, dir)
        .withColumn("moved", col("cell_seed") =!= col("cell_lloyd"))
        .orderBy("vec_id")
    },

    // ---- kNN-GRAPH DIAGNOSTICS: the symmetrized cosine 3-NN graph's
    // per-node degree, triangle count, and local clustering coefficient
    // — the embedding-quality / cluster-cohesion view (a well-separated
    // label structure shows high LCC inside clusters; noise shows
    // low). The kNN build is the brute-force baseline: each candidate
    // row meets the broadcast node set, and the top-3 cut runs through
    // the map-side-combined TopKPerKey plan (shuffle O(n·k), never the
    // O(n²) pair set — the same partial-aggregate discipline as
    // rel_topk_per_key). Triangles are enumerated by the degree-ordered
    // orientation of operators/Triangles.scala — wedge volume bounded
    // O(E^1.5), each triangle exactly once — and the DuckDB oracle
    // recomputes them with the INDEPENDENT naive triple join, so a hash
    // match proves the oriented enumeration exact. Cosines are the
    // ascending-fold dot on unit vectors; ranks are total-ordered by
    // (cosine DESC, n_id), so both engines pick identical edges. With
    // `spark.graft.knngraph.nodeBound` set (BENCH-ONLY, same contract
    // as ann.queryIdBound) the node set is bounded and the vec_id
    // predicate prunes the corpus scan — the fixed-sample diagnostic
    // regime. The FULL-CORPUS build at scale is td_knn_graph_ann
    // (IVF multi-probe candidates, no bound, no broadcast node set);
    // this brute variant is its exactness baseline.
    "td_knn_graph_stats" -> QueryDef.sql(
      "cosine 3-NN graph: per-node degree, triangles, clustering coeff")(
      s"""$NormCte,
        |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM n q JOIN n c ON c.vec_id <> q.vec_id),
        |r AS (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM p),
        |e AS (SELECT DISTINCT least(q_id, n_id) AS lo,
        |        greatest(q_id, n_id) AS hi FROM r WHERE rnk <= 3),
        |d AS (SELECT id, count(*) AS deg FROM (
        |        SELECT lo AS id FROM e UNION ALL SELECT hi AS id FROM e)
        |      GROUP BY id),
        |tr AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |       FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
        |       JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
        |pv AS (SELECT id, count(*) AS tri FROM (
        |         SELECT a AS id FROM tr UNION ALL SELECT b AS id FROM tr
        |         UNION ALL SELECT c AS id FROM tr) GROUP BY id)
        |SELECT d.id AS vec_id, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(pv.tri, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.deg >= 2
        |       THEN CAST(COALESCE(pv.tri, 0) * 2 AS DOUBLE)
        |          / CAST(d.deg * (d.deg - 1) AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS lcc
        |FROM d LEFT JOIN pv ON d.id = pv.id ORDER BY vec_id""".stripMargin) {
      (s, dir) =>
      graphStatsTail(bruteKnnEdges(
        knnNodes(s, DedupQueries.normalizedEmbeddings(s, dir))))
    },

    // ---- ANN-BACKED kNN GRAPH (the full-corpus member — VERDICT r13
    // #1): same degree/triangles/lcc diagnostics as td_knn_graph_stats,
    // but the 3-NN edge set is built from IVF multi-probe candidates
    // (annKnnEdges: top-2 of 16 cells probed, candidates equi-joined on
    // cell id) instead of the brute n² scoring pass — the node set is
    // NEVER broadcast, there is no nodeBound conf, and with the stress
    // ladders' cells ∝ √n sizing the in-cell pair volume is O(n^1.5).
    // The DuckDB oracle replays the exact candidate blocking (same
    // quantizer seeds, same probe ranks, same ascending-fold cosines,
    // same total order) and recomputes triangles with the independent
    // naive triple join, so a hash match proves BOTH the blocked kNN
    // build and the oriented enumeration exact. Approximation quality
    // vs the brute graph is measured by td_knn_ann_recall.
    "td_knn_graph_ann" -> QueryDef.sql(
      "IVF multi-probe (top-2 of 16 cells) cosine 3-NN graph: " +
        "degree, triangles, clustering coeff")(
      s"""$NormCte,
        |$IvfProbeCte,
        |p AS (SELECT q.vec_id AS q_id, x.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*x.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM pr q JOIN pr x
        |        ON q.cell = x.cell AND x.rn = 1 AND x.vec_id <> q.vec_id),
        |r AS (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM p),
        |e AS (SELECT DISTINCT least(q_id, n_id) AS lo,
        |        greatest(q_id, n_id) AS hi FROM r WHERE rnk <= 3),
        |d AS (SELECT id, count(*) AS deg FROM (
        |        SELECT lo AS id FROM e UNION ALL SELECT hi AS id FROM e)
        |      GROUP BY id),
        |tr AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |       FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
        |       JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
        |pv AS (SELECT id, count(*) AS tri FROM (
        |         SELECT a AS id FROM tr UNION ALL SELECT b AS id FROM tr
        |         UNION ALL SELECT c AS id FROM tr) GROUP BY id)
        |SELECT d.id AS vec_id, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(pv.tri, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.deg >= 2
        |       THEN CAST(COALESCE(pv.tri, 0) * 2 AS DOUBLE)
        |          / CAST(d.deg * (d.deg - 1) AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS lcc
        |FROM d LEFT JOIN pv ON d.id = pv.id ORDER BY vec_id""".stripMargin) {
      (s, dir) =>
      graphStatsTail(annKnnEdges(s,
        DedupQueries.normalizedEmbeddings(s, dir)))
    },

    // ---- ANN kNN RECALL vs brute (the fixture-scale quality gate for
    // td_knn_graph_ann): per node, how many of its IVF multi-probe
    // 3-NN are also in its exact brute-force 3-NN. Contains the brute
    // n² build by definition, so it honors the bench-only nodeBound
    // (fixture-scale diagnostic regime) — the production build it
    // certifies does not. Both neighbor sets use the identical total
    // order (cosine DESC, n_id), so the intersection is exact
    // cross-engine; recall@3 is one exact-int division. Measured
    // ≈0.34 mean at sf0.01 — honest for this fixture: the synthetic
    // embeddings are near-random (brute 3-NN label purity ≈0.10,
    // exactly chance for 10 labels), the regime where NO blocked
    // method separates neighbors from the bulk (the PQ twin
    // td_ann_pq_recall reads ≈0.17 for the same reason); on clustered
    // production embeddings IVF recall rises with the structure the
    // quantizer exists to exploit.
    "td_knn_ann_recall" -> QueryDef.sql(
      "per-node recall@3 of the IVF multi-probe 3-NN vs exact brute 3-NN")(
      s"""$NormCte,
        |$IvfProbeCte,
        |p AS (SELECT q.vec_id AS q_id, x.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*x.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM pr q JOIN pr x
        |        ON q.cell = x.cell AND x.rn = 1 AND x.vec_id <> q.vec_id),
        |ra AS (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM p),
        |ka AS (SELECT q_id, n_id FROM ra WHERE rnk <= 3),
        |pb AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM n q JOIN n c ON c.vec_id <> q.vec_id),
        |rb AS (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM pb),
        |kb AS (SELECT q_id, n_id FROM rb WHERE rnk <= 3)
        |SELECT kb.q_id AS vec_id,
        |  CAST(count(ka.n_id) AS BIGINT) AS n_match,
        |  CAST(count(ka.n_id) AS DOUBLE) / 3 AS recall_at_3
        |FROM kb LEFT JOIN ka ON ka.q_id = kb.q_id AND ka.n_id = kb.n_id
        |GROUP BY kb.q_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val nodes = knnNodes(s, DedupQueries.normalizedEmbeddings(s, dir))
      // the diagnostic sizes its quantizer from its ACTUAL node set
      // (review r14): under the bench-only nodeBound the sample is a
      // fixed few thousand nodes while ann.ivf.cells is sized for the
      // full scaled corpus — quantizing the sample into the corpus's
      // cell count would measure a blocking regime neither the fixture
      // baseline nor the production build runs (≈6 nodes/cell at the
      // 100× rung). Bounded, cells follow the sample's own √(n/2)
      // optimum; unbounded (the correctness gate), ivfCells'
      // oracle-pinned default governs.
      val sampleCells = GraftConf.KnnNodeBound(s)
        .map(b => math.max(16L, math.round(math.sqrt(b.toDouble / 2))).toInt)
      val ann = annKnnEdges(s, nodes, cellsOverride = sampleCells)
        .select(col("q_id"), col("n_id"))
        .withColumn("m", lit(1))
      bruteKnnEdges(nodes).select(col("q_id"), col("n_id"))
        .join(ann, Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("m")).as("n_match"))
        .select(col("q_id").as("vec_id"), col("n_match"),
          (col("n_match").cast("double") / 3).as("recall_at_3"))
        .orderBy("vec_id")
    },

    // ---- ANN-BACKED LABEL PURITY (full-corpus twin of td_knn_purity,
    // completing the r13 weak pair): the same per-node
    // neighbors-share-my-label fraction, computed over the IVF
    // multi-probe 3-NN instead of the brute n² build — labels ride the
    // annKnnEdges streams (zero extra joins), the node set is never
    // broadcast, no nodeBound, same n^1.5/O(n)-shuffle posture as
    // td_knn_graph_ann. Same output columns as td_knn_purity, so the
    // two regimes diff directly; the denominator is the ACTUAL ANN
    // neighbor count (an isolated probe pair can yield < 3), exactly
    // as the brute query divides by its actual k_n.
    "td_knn_purity_ann" -> QueryDef.sql(
      "directed IVF multi-probe 3-NN label purity per vector")(
      s"""$NormCte,
        |$IvfProbeCte,
        |p AS (SELECT q.vec_id AS q_id, q.label AS q_label,
        |        x.label AS n_label, x.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*x.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM pr q JOIN pr x
        |        ON q.cell = x.cell AND x.rn = 1 AND x.vec_id <> q.vec_id),
        |r AS (SELECT q_id, q_label, n_label, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
        |      FROM p),
        |k AS (SELECT q_id, q_label,
        |        count(*) AS k_n,
        |        count(*) FILTER (n_label = q_label) AS n_same
        |      FROM r WHERE rnk <= 3 GROUP BY q_id, q_label)
        |SELECT q_id AS vec_id, q_label AS label,
        |  CAST(n_same AS BIGINT) AS n_same,
        |  CAST(n_same AS DOUBLE) / CAST(k_n AS DOUBLE) AS knn_purity
        |FROM k ORDER BY vec_id""".stripMargin) { (s, dir) =>
      annKnnEdges(s, DedupQueries.normalizedEmbeddings(s, dir))
        .groupBy(col("q_id"), col("q_label"))
        .agg(count(lit(1)).as("k_n"),
          count(when(col("n_label") === col("q_label"), 1)).as("n_same"))
        .select(col("q_id").as("vec_id"), col("q_label").as("label"),
          col("n_same"),
          (col("n_same").cast("double") / col("k_n").cast("double"))
            .as("knn_purity"))
        .orderBy("vec_id")
    },

    // ---- kNN LABEL PURITY: for each vector, the fraction of its
    // directed cosine 3-NN that share its label — THE standard
    // embedding-quality number (label-consistent neighborhoods ⇒ the
    // space separates the classes; purity near chance ⇒ noise). Same
    // TopKPerKey kNN build as td_knn_graph_stats (map-side top-k,
    // shuffle O(n·k)); labels ride the broadcast query side and the
    // candidate rows, so the purity pass adds one tiny aggregate, no
    // extra join. Ranks are total-ordered (cosine DESC, n_id), so both
    // engines pick identical neighbor sets; purity is one exact-int
    // division. Honors the same bench-only nodeBound as the stats
    // query.
    "td_knn_purity" -> QueryDef.sql(
      "directed cosine 3-NN label purity per vector")(
      s"""$NormCte,
        |p AS (SELECT q.vec_id AS q_id, q.label AS q_label,
        |        c.label AS n_label,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*c.an[i+1]), (a,b) -> a+b) AS cosine,
        |        c.vec_id AS n_id
        |      FROM n q JOIN n c ON c.vec_id <> q.vec_id),
        |r AS (SELECT q_id, q_label, n_label, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
        |      FROM p),
        |k AS (SELECT q_id, q_label,
        |        count(*) AS k_n,
        |        count(*) FILTER (n_label = q_label) AS n_same
        |      FROM r WHERE rnk <= 3 GROUP BY q_id, q_label)
        |SELECT q_id AS vec_id, q_label AS label,
        |  CAST(n_same AS BIGINT) AS n_same,
        |  CAST(n_same AS DOUBLE) / CAST(k_n AS DOUBLE) AS knn_purity
        |FROM k ORDER BY vec_id""".stripMargin) { (s, dir) =>
      bruteKnnEdges(knnNodes(s, DedupQueries.normalizedEmbeddings(s, dir)))
        .groupBy(col("q_id"), col("q_label"))
        .agg(count(lit(1)).as("k_n"),
          count(when(col("n_label") === col("q_label"), 1)).as("n_same"))
        .select(col("q_id").as("vec_id"), col("q_label").as("label"),
          col("n_same"),
          (col("n_same").cast("double") / col("k_n").cast("double"))
            .as("knn_purity"))
        .orderBy("vec_id")
    }
  )

  /** Lloyd(2) cell assignment (seeded from the first `k` vectors,
    * exact micro-unit arithmetic — see td_kmeans_lloyd's entry comment
    * for the determinism argument and the broadcast-centroid plan
    * shape): (vec_id, cell_seed, cell_lloyd). Shared with
    * td_semdedup, which blocks its within-cell pruning on
    * `cell_lloyd`; the registry fixture uses k=8 everywhere (matching
    * [[KmeansSqlChain]]), while the stress ladder grows td_semdedup's
    * k with the corpus — the SemDeDup production regime, where the
    * quantizer is re-trained as the corpus grows so CELL SIZE stays
    * roughly constant and cell COUNT scales with n. */
  private[queries] def kmeansAssign(s: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    // codegen'd kernel, not aggregate(zip_with(...)): the assignment
    // evaluates this vectors x centroids times, and the SemDeDup
    // ladder grows both factors with the corpus (KernelProps pins
    // kernel == interpreted composition bit-for-bit)
    def sqdist(a: Column, b: Column): Column = sqDist(a, b)
    val xm = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 1000000).cast("long").cast("double")).as("xm"))
    val c0 = xm.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("xm").as("cm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d"), col("cid"))
    val a1 = xm.join(broadcast(c0))
      .withColumn("d", sqdist(col("xm"), col("cm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("xm"), col("cid").as("cell"))
    val c1 = a1
      .select(col("cell"), posexplode(col("xm")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("v").cast("long")).as("sm"), count(lit(1)).as("n"))
      .withColumn("cme", col("sm").cast("double") / col("n"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cme"))))
        .as("ps"))
      .select(col("cell").as("cid"),
        transform(col("ps"), p => p.getField("cme")).as("cm"))
    a1.join(broadcast(c1))
      .withColumn("d", sqdist(col("xm"), col("cm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell").as("cell_seed"),
        col("cid").as("cell_lloyd"))
  }
}
