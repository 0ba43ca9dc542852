package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types.StructType

import graft.functions.BucketAdmit

/** Whole-operator Catalyst extension (preference (c), like
  * [[TopKPerKey]]): the per-band-bucket EXISTS(J ≥ 1/2) of
  * td_incremental_dedup as a first-class binary physical operator.
  *
  * WHY an operator and not a join: the LEFT SEMI band join this
  * replaces evaluated the jaccard kernel pairwise inside each bucket,
  * and a deterministic pair-counting probe measured that GENUINELY
  * QUADRATIC across corpus octaves in r18 (pair
  * evaluations ×3.99 at 800×/1600×/3200× — LSH buckets keyed by
  * common shingles grow linearly with the corpus, and the probes that
  * match nothing scan their whole bucket to reject, which no
  * early-exit can save: accepts are 0.03% of evaluations). Making
  * rejects cheap needs a per-bucket INDEX built once and probed per
  * row — bucket-level state that a join condition (pairwise by
  * construction) cannot hold. An aggregate carrying collect_list'd
  * buckets could, but wraps both legs' rows in per-partial-group
  * arrays, inflating the band-frame exchange ~45% — the exact bytes
  * the round-18 delta-varint encoding fought to shrink.
  *
  * This node keeps the SMJ's physical economics — the SAME two flat
  * band-frame legs, hash-clustered and sorted on the packed long band
  * key (Catalyst inserts or reuses the exchanges and sorts via the
  * declared requirements, so the operator composes with AQE like any
  * built-in) — and swaps only the per-bucket evaluation: a streaming
  * merge walk aligns the two sorted legs' key groups, and each
  * aligned bucket runs [[BucketAdmit.admitIndices]] (local-df
  * prefix-filter index, exact kernel on candidates, first-accept
  * early exit; direct scan for sub-cap buckets). Exchange bytes are
  * byte-identical to the join it replaces; verify CPU becomes linear
  * in bucket volume plus true matches (measured: evaluated pairs ==
  * accepted pairs exactly on the stress ladder).
  *
  * Both execs count that work per task ([[BucketAdmit.Work]]) and
  * publish it as SQL metrics ([[AdmitMetrics]]), so a plan's metrics
  * say how many pairs the kernel evaluated for how many admitted rows
  * (`graft.tools.Profile` prints them as an `op` line).
  *
  * Contract (by position): left = (bkey: long, dig: struct, hsb:
  * binary) — the all-new band frames; right = (bkey: long, hsb:
  * binary) — the existing band frames. Output: the left `dig` column
  * of rows with at least one J ≥ 1/2 partner in their bucket, at most
  * once per (bucket, dig); callers distinct() across bands exactly as
  * they did over the semi join.
  */
case class BucketAdmitJoin(left: LogicalPlan, right: LogicalPlan)
    extends BinaryNode {

  override def output: Seq[Attribute] = Seq(left.output(1))

  // no expressions — declare the child columns the exec consumes, or
  // ColumnPruning would strip the hsb payloads from under the operator
  override def references: AttributeSet =
    AttributeSet(left.output ++ right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BucketAdmitJoin =
    copy(left = newLeft, right = newRight)
}

/** Mode selection mirrors Spark's own join selection: when the probe
  * side's ESTIMATED size fits `spark.sql.autoBroadcastJoinThreshold`,
  * plan the broadcast variant (no exchange on either leg — the shape
  * AQE used to give the semi join at bench scale); otherwise the
  * shuffled merge variant. Static stats only — a custom node does not
  * participate in AQE's runtime join upgrades, so the threshold errs
  * the same way Spark 2's static planner did, which is acceptable:
  * both variants are exact, and every stress rung sits far above any
  * sane threshold. */
object BucketAdmitJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ BucketAdmitJoin(l, r) =>
      val thresh = org.apache.spark.sql.internal.SQLConf.get
        .autoBroadcastJoinThreshold
      if (thresh > 0 && j.left.stats.sizeInBytes <= thresh)
        BucketAdmitBroadcastExec(planLater(l), planLater(r)) :: Nil
      else BucketAdmitJoinExec(planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class BucketAdmitJoinExec(left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = Seq(left.output(1))

  override lazy val metrics: Map[String, SQLMetric] =
    AdmitMetrics.declare(sparkContext)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(left.output.head)) ::
      ClusteredDistribution(Seq(right.output.head)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(left.output.head, Ascending)),
      Seq(SortOrder(right.output.head, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val digType = left.output(1).dataType.asInstanceOf[StructType]
    val digFields = digType.fields.length
    // Worst-bucket heap bound (VERDICT r18 #5): the merge walk holds the
    // bucket's NEW side resident (bounded by the ingest batch's all-new
    // classes) but streams the EXISTING side in chunks of at most this
    // many payload bytes, running the kernel once per chunk over the
    // not-yet-admitted classes. EXISTS distributes over existing-side
    // chunks, and the admitted mask keeps every class emitted once and
    // first-accept early exit intact (a candidate (new, existing) pair
    // lives in exactly one chunk, so evaluations never repeat) — so the
    // survivor set is identical and work stays linear; the only cost of
    // a split bucket is re-deriving the chunk-local df order and prefix
    // index per chunk. The budget is ENCODED payload bytes; the kernel's
    // working set is ~30× that (decoded longs + the boxed df HashMap +
    // the prefix index — measured: a 64 MB chunk's df map alone OOM'd a
    // 1 GB heap), so the default is 8 MB ≈ a ~250 MB worst-case kernel
    // working set — comfortably inside standard task memory, and far
    // above the widest REAL stress bucket (~3 MB: one chunk, behavior
    // identical to the unsplit walk). A pathological mega-bucket past
    // executor heap completes where the unsplit walk OOMs
    // (BucketMegaStress, OPTIMIZATION_r19.md).
    val chunkBytes = graft.GraftConf.DedupBucketChunkBytes(
      org.apache.spark.sql.internal.SQLConf.get)
    val m = metrics
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lit = li.buffered
      val rit = ri.buffered
      val proj = UnsafeProjection.create(Array(digType.asInstanceOf[
        org.apache.spark.sql.types.DataType]))
      val holder = new GenericInternalRow(1)
      val work = new BucketAdmit.Work

      AdmitMetrics.publishing(work, m, new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty

        // both inputs arrive sorted by bkey; align key groups like a
        // sort-merge join, run the kernel only on buckets present on
        // BOTH sides (a one-sided bucket admits nothing)
        private def advance(): Unit = {
          while (!out.hasNext && lit.hasNext && rit.hasNext) {
            val lk = lit.head.getLong(0)
            val rk = rit.head.getLong(0)
            if (lk < rk) lit.next()
            else if (rk < lk) rit.next()
            else {
              val digsB = Array.newBuilder[InternalRow]
              val nHsbB = Array.newBuilder[Array[Byte]]
              while (lit.hasNext && lit.head.getLong(0) == lk) {
                val row = lit.next()
                digsB += row.getStruct(1, digFields).copy()
                nHsbB += row.getBinary(2)
                ()
              }
              val digs = digsB.result()
              val nHsb = nHsbB.result()
              work.buckets += 1
              work.newRows += digs.length
              val admitted = new java.util.BitSet(digs.length)
              var remaining = digs.length
              val acc = new scala.collection.mutable.ArrayBuffer[
                InternalRow](2)
              while (rit.hasNext && rit.head.getLong(0) == lk &&
                  remaining > 0) {
                // one existing-side chunk: at least one row, at most
                // chunkBytes of set payload
                val eHsb = Array.newBuilder[Array[Byte]]
                var b = 0L
                while (rit.hasNext && rit.head.getLong(0) == lk &&
                    (b < chunkBytes || b == 0L)) {
                  val e = rit.next().getBinary(1)
                  eHsb += e
                  b += e.length
                  work.existingRows += 1
                }
                work.chunks += 1
                // kernel over the classes no earlier chunk admitted
                val liveIdx = new Array[Int](remaining)
                val liveHsb = new Array[Array[Byte]](remaining)
                var i = 0; var w = 0
                while (i < digs.length) {
                  if (!admitted.get(i)) {
                    liveIdx(w) = i; liveHsb(w) = nHsb(i); w += 1
                  }
                  i += 1
                }
                val hits =
                  BucketAdmit.admitIndices(liveHsb, eHsb.result(), work)
                var h = 0
                while (h < hits.length) {
                  val idx = liveIdx(hits(h))
                  admitted.set(idx); remaining -= 1
                  acc += digs(idx)
                  h += 1
                }
              }
              // every class admitted (or existing side exhausted):
              // drain the bucket's remaining existing rows
              while (rit.hasNext && rit.head.getLong(0) == lk) rit.next()
              work.admitted += acc.length
              if (acc.nonEmpty) out = acc.iterator.map { d =>
                holder.update(0, d)
                proj(holder)
              }
            }
          }
        }

        override def hasNext: Boolean = {
          if (!out.hasNext) advance()
          out.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          out.next()
        }
      })
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BucketAdmitJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast variant: the all-new band frames (left) broadcast whole,
  * the existing frames stream WITHOUT any exchange or sort — the
  * small-scale shape AQE used to give the semi join. Existing rows
  * arrive ungrouped, so the probing direction reverses: per bucket of
  * the BROADCAST side a lazy prefix-filter index over the new sets is
  * built on first touch, each streamed existing row computes its own
  * prefix and evaluates only candidate new sets, and a new class is
  * emitted the first time it accepts in this partition (EXISTS
  * distributes over the partition union of the existing side, and the
  * caller's distinct() already dedups across bands, so cross-partition
  * repeats are absorbed exactly like cross-band ones). The prefix
  * theorem is symmetric, so candidates ⊇ all true matches unchanged.
  */
case class BucketAdmitBroadcastExec(left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = Seq(left.output(1))

  // no chunks: the existing side streams row by row
  override lazy val metrics: Map[String, SQLMetric] =
    AdmitMetrics.declare(sparkContext, "chunks")

  override def requiredChildDistribution: Seq[Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
      org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode) ::
      org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
      Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val digType = left.output(1).dataType.asInstanceOf[StructType]
    val digFields = digType.fields.length
    val bcast = left.executeBroadcast[Array[InternalRow]]()
    val m = metrics
    right.execute().mapPartitions { rit =>
      val proj = UnsafeProjection.create(Array(digType.asInstanceOf[
        org.apache.spark.sql.types.DataType]))
      val holder = new GenericInternalRow(1)
      val work = new BucketAdmit.Work
      // bucket map over the broadcast probe side, indexes built lazily
      val buckets = new java.util.HashMap[java.lang.Long,
        BucketAdmit.ProbeBucket]()
      bcast.value.foreach { row =>
        buckets.computeIfAbsent(row.getLong(0),
          _ => new BucketAdmit.ProbeBucket(work))
          .add(row.getStruct(1, digFields).copy(), row.getBinary(2))
      }
      AdmitMetrics.publishing(work, m, rit.flatMap { row =>
        val b = buckets.get(row.getLong(0))
        if (b == null) Iterator.empty
        else {
          val hits = b.probeExisting(row.getBinary(1))
          work.admitted += hits.length
          hits.iterator.map { d =>
            holder.update(0, d)
            proj(holder)
          }
        }
      })
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BucketAdmitBroadcastExec =
    copy(left = newLeft, right = newRight)
}

/** The SQL metrics of both execs, one per [[BucketAdmit.Work]] field.
  * A task adds its counts once, when its output iterator is exhausted;
  * a consumer that stops early (a limit) leaves that task uncounted. */
private[plans] object AdmitMetrics {

  private val descriptions = Seq(
    "buckets" -> "aligned buckets",
    "chunks" -> "existing-side chunks",
    "newRows" -> "new-side rows",
    "existingRows" -> "existing-side rows",
    "indexEntries" -> "prefix-index entries",
    "pairs" -> "pairs evaluated",
    "direct" -> "direct-scan kernel runs",
    "indexed" -> "indexed kernel runs",
    "admitted" -> "admitted rows")

  /** Every metric but those named in `skip`. */
  def declare(sc: SparkContext, skip: String*): Map[String, SQLMetric] =
    descriptions.collect { case (k, d) if !skip.contains(k) =>
      k -> SQLMetrics.createMetric(sc, d)
    }.toMap

  /** `rows`, adding `work` to `metrics` once, when `rows` runs out. */
  def publishing(work: BucketAdmit.Work, metrics: Map[String, SQLMetric],
      rows: Iterator[InternalRow]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var published = false
      override def hasNext: Boolean = {
        val more = rows.hasNext
        if (!more && !published) {
          published = true
          work.counts.foreach { case (k, v) => metrics.get(k).foreach(_.add(v)) }
        }
        more
      }
      override def next(): InternalRow = rows.next()
    }
}

/** DataFrame-side constructor (same bridge as [[TopK.topKPerKey]]). */
object BucketAdmitJoinApi {

  /** `probe` = (bkey, dig, hsb) all-new band frames, `existing` =
    * (bkey, hsb) — returns one `dig` column (see [[BucketAdmitJoin]]). */
  def admitJoin(probe: DataFrame, existing: DataFrame): DataFrame =
    PlanShim.ofRows(probe.sparkSession,
      BucketAdmitJoin(probe.queryExecution.analyzed,
        existing.queryExecution.analyzed))
}
