package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.PlanShim

/** Whole-operator Catalyst extension (SURVEY.md §7.1 step 9, preference
  * (c)): per-key top-k as a first-class physical operator.
  *
  * Spark's declarative form — `row_number() OVER (PARTITION BY k ORDER
  * BY o) <= k` — must SORT every partition's full data before ranking:
  * O(n log n) time and O(n) sort buffer (spill) per partition. Here the
  * MAP side keeps a bounded k-row heap per key (O(n log k), no sort of
  * the input), under a hard memory budget
  * (`spark.graft.topk.partialBudgetBytes`, default 64 MB per task): once
  * the budget is full, rows for untracked keys stream through unbuffered
  * — a superset is always correct because the final pass re-filters, the
  * exact analogue of partial hash aggregation's fallback mode (found at
  * the 20M-row beacon scale, where unbounded per-key heaps of wide rows
  * OOM'd an 8 g heap). The FINAL side is sort-based and streams: Catalyst
  * inserts a spillable SortExec over the post-exchange (already pruned)
  * data and the operator emits the first k rows per key group with O(1)
  * state — no pinned per-key memory at any key cardinality.
  *
  * The planner contract does the heavy lifting: `requiredChildDistribution
  * = ClusteredDistribution(keys)` + `requiredChildOrdering` make Catalyst
  * insert (or reuse) the hash exchange and the pruned sort, so the
  * operator composes with AQE like any built-in.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    partial: Boolean = false) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Planner rule: logical TopKPerKey → physical exec. Registered via
  * `spark.experimental.extraStrategies` (Tables.pinDialect) and
  * `injectPlannerStrategy` (GraftExtensions). */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child, partial) =>
      TopKPerKeyExec(keys, order, k, planLater(child), partial) :: Nil
    case _ => Nil
  }
}

/** `partial = true` is the map-side variant (the top-k analogue of
  * map-side combine): no distribution requirement, prunes each input
  * partition to k rows per key so the exchange above the final pass
  * moves only k·keys rows per map partition. */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else ClusteredDistribution(keys) :: Nil

  // final pass streams sorted key groups (the sort runs over data the
  // partial pass already pruned to ~k rows per key per map partition)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(keys.map(SortOrder(_, Ascending)) ++ order)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] =
    if (partial) executePartial() else executeFinal()

  /** Map-side prune: a RUN-AWARE cut in front of per-key bounded heaps
    * under a byte budget.
    *
    * Rows for one key are CONSECUTIVE in the common producing shapes —
    * a broadcast join expanding each outer row into its (row × cells)
    * scores, a generator explode, a sorted upstream — so the cut first
    * folds the CURRENT RUN into one O(k) heap with no per-key map
    * entry at all, and only a run's ≤k SURVIVORS enter the budgeted
    * hash map when the key changes (interleaved keys degrade to run
    * length 1 — the old per-row path plus one row memcpy, the
    * documented trade at the run-start site below). This bounds the
    * worst-case map output at ~n·k rows REGARDLESS of key cardinality:
    * before the run cut, a task whose key count overflowed the byte
    * budget streamed every row of every untracked key — at the ANN
    * probe-cut shape (keys × cells input) that degraded to the n×cells
    * worst case the operator exists to avoid (measured at the 800×
    * rung: 405M-row / 11.9 GB probe-cut shuffle, re-measured at 3.2M
    * rows after the run cut — BASELINE round 15). Overflow survivors
    * still stream through unbuffered (the final pass re-filters, so
    * any superset is correct — partial hash aggregation's fallback
    * discipline). */
  private def executePartial(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val childOutput = child.output
    val limit = k
    // explicit override is read on the driver; the DEFAULT is computed
    // inside the task from the EXECUTOR's own heap and task-slot count —
    // a driver-side Runtime.maxMemory / defaultParallelism would size
    // executor buffers from the wrong JVM's heap on a real cluster
    val explicitBudget = graft.GraftConf.TopkPartialBudgetBytes(conf)
    child.execute().mapPartitions { iter =>
      // heap/(slots*16), clamped to [8 MB, 64 MB] — the aggregate across
      // this JVM's concurrently-running tasks stays a bounded heap slice:
      // 16 MB/task on an 8 g × 32-thread local box (512 MB peak), 64 MB
      // on a typical 4-core × 8 g executor
      val budget = explicitBudget.getOrElse {
        val slots = org.apache.spark.SparkEnv.get.conf.getInt(
          "spark.executor.cores", Runtime.getRuntime.availableProcessors)
        math.max(8L << 20, math.min(64L << 20,
          Runtime.getRuntime.maxMemory / (16L * math.max(1, slots))))
      }
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = GenerateOrdering.generate(sortOrder, childOutput)
      // reverse heaps: the WORST kept row sits at the head for O(log k)
      // eviction when a better row arrives
      val heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      var retained = 0L
      def sizeOf(r: InternalRow): Long = r match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => 64L + 16L * childOutput.length // non-unsafe fallback
      }
      // per-row insert into the budgeted hash map, or stream the row
      // through when it cannot be tracked — the pre-run-cut per-row
      // path, byte for byte. `copied` says whether `row` may be kept
      // as-is (run survivors are already copies; fresh iterator rows
      // are reused buffers and must be copied before buffering).
      def mapInsertOrStream(key: UnsafeRow, row: InternalRow,
          copied: Boolean): Iterator[InternalRow] = {
        var pq = heaps.get(key)
        if (pq == null) {
          if (retained >= budget) Iterator.single(row) // budget full
          else {
            pq = new java.util.PriorityQueue[InternalRow](limit + 1,
              ordering.reverse)
            val kc = key.copy()
            heaps.put(kc, pq)
            val r = if (copied) row else row.copy()
            pq.add(r)
            retained += kc.getSizeInBytes + sizeOf(r)
            Iterator.empty
          }
        } else if (pq.size() < limit) {
          if (retained >= budget) Iterator.single(row)
          else {
            val r = if (copied) row else row.copy()
            pq.add(r)
            retained += sizeOf(r)
            Iterator.empty
          }
        } else if (ordering.compare(row, pq.peek()) < 0) {
          val out = pq.poll()
          val r = if (copied) row else row.copy()
          pq.add(r)
          retained += sizeOf(r) - sizeOf(out)
          Iterator.empty
        } else Iterator.empty // dominated by k tracked same-key rows
      }
      // The current run's key and O(k) heap (rows inside are copies —
      // the input buffer is reused). The heap is capped by the SAME
      // byte budget via its own counter (it is transient per run, so
      // tracked memory is ≤ 2× budget overall): a rewritten user
      // window with a huge k over wide rows must not pin k·rowSize
      // unbudgeted (review r15); a row the cap refuses streams
      // through — still a correct superset. Interleaved keys (run
      // length 1, budget full) pay ONE row memcpy + one key copy per
      // row over the old zero-copy stream — accepted deliberately:
      // the alternative (streaming each run's first row) inflates the
      // consecutive shape's map output from k to k+1 rows per key,
      // and shuffle serialization dwarfs a memcpy.
      var runKey: UnsafeRow = null
      var runBytes = 0L
      val runPq = new java.util.PriorityQueue[InternalRow](16,
        ordering.reverse)
      // route the finished run's survivors into the budgeted hash map;
      // rows that cannot be tracked stream through (returned)
      def flushRun(): Iterator[InternalRow] =
        if (runKey == null || runPq.isEmpty) Iterator.empty
        else if (runPq.size() == 1) {
          // run-length-1 fast path: no array materialization
          val r = runPq.poll()
          runBytes = 0L
          mapInsertOrStream(runKey, r, copied = true)
        } else {
          val survivors = runPq.toArray(new Array[InternalRow](runPq.size()))
          runPq.clear()
          runBytes = 0L
          val overflow = Array.newBuilder[InternalRow]
          survivors.foreach { row =>
            overflow ++= mapInsertOrStream(runKey, row, copied = true)
          }
          overflow.result().iterator
        }
      val passThrough = iter.flatMap { row =>
        val key = keyProj(row)
        if (runKey != null && key == runKey) {
          // run continuation: O(log k), no map lookup
          if (runPq.size() < limit) {
            if (runBytes >= budget) Iterator.single(row) // cap: stream
            else {
              val r = row.copy()
              runPq.add(r)
              runBytes += sizeOf(r)
              Iterator.empty
            }
          } else if (ordering.compare(row, runPq.peek()) < 0) {
            val out = runPq.poll()
            val r = row.copy()
            runPq.add(r)
            runBytes += sizeOf(r) - sizeOf(out)
            Iterator.empty
          } else Iterator.empty // dominated within the run
        } else {
          val out = flushRun()
          runKey = key.copy()
          val r = row.copy()
          runPq.add(r)
          runBytes = sizeOf(r)
          out
        }
      }
      import scala.jdk.CollectionConverters._
      // ++ is by-name: the final flush and the drain run only after the
      // input (and with it passThrough) is exhausted, in this order
      passThrough ++ flushRun() ++
        heaps.values().iterator().asScala.flatMap { pq =>
          val arr = pq.toArray(new Array[InternalRow](pq.size()))
          java.util.Arrays.sort(arr, ordering)
          arr.iterator
        }
    }
  }

  /** Reduce side: input arrives hash-clustered and sorted by (keys,
    * order), so the first k rows of each key group ARE its top k —
    * a single streaming pass with one retained key. */
  private def executeFinal(): RDD[InternalRow] = {
    val keyExprs = keys
    val childOutput = child.output
    val limit = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      var currentKey: UnsafeRow = null
      var count = 0
      iter.filter { row =>
        val key = keyProj(row)
        if (currentKey == null || !key.equals(currentKey)) {
          currentKey = key.copy()
          count = 0
        }
        count += 1
        count <= limit
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** DataFrame-side constructor. */
object TopK {

  /** The first k rows of each key group under `order` (give a total
    * order — include a unique tie-break — for deterministic results).
    * Plans the partial (map-side) + final pair, so the exchange between
    * them moves only k rows per key per map partition — same shape the
    * optimizer rewrite produces (caught by bench shuffle telemetry:
    * the final-only form shuffled the entire input). */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      k: Int): DataFrame = {
    val keyExprs = keys.map(PlanShim.expression)
    val sortOrder = order.map(c => PlanShim.expression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    PlanShim.ofRows(df.sparkSession,
      TopKPerKey(keyExprs, sortOrder, k,
        TopKPerKey(keyExprs, sortOrder, k, df.queryExecution.analyzed,
          partial = true)))
  }
}
