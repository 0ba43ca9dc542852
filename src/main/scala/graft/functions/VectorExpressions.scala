package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * This is the hot-path kernel of the similarity/dedup layer (SURVEY.md §7.1
  * step 9): an O(pairs × dim) inner loop that must stay inside generated Java,
  * not an interpreted higher-order function and not a boxing Scala UDF.
  *
  * Summation order is a fixed ascending-index left fold (acc starts at 0.0),
  * so the result is IEEE-deterministic and bit-identical to any engine that
  * folds the element products left-to-right — the DuckDB oracles replay
  * exactly that shape with `list_reduce`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullable: Boolean = true

  /** Mismatched lengths yield null, never a silently-truncated sum — a
    * corrupt-dimension vector must not produce a plausible score. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int ${ev.value}_n = $a.numElements();
         |if (${ev.value}_n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double ${ev.value}_acc = 0.0;
         |  for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |    ${ev.value}_acc += $a.getDouble(${ev.value}_i) * $b.getDouble(${ev.value}_i);
         |  }
         |  ${ev.value} = ${ev.value}_acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd full-array squared-L2 distance over two `array<double>`
  * columns: Σ (a[i] − b[i])², an ascending-index IEEE left fold from
  * 0.0 exactly like [[DotProduct]] (the DuckDB oracles replay the same
  * shape with `list_reduce` over squared differences). The kmeans/
  * SemDeDup assignment evaluates it vectors × centroids times — and
  * the SemDeDup stress ladder grows BOTH factors with the corpus — so
  * it must be a fused generated loop, not the interpreted
  * `aggregate(zip_with(...))` chain (per row that chain dispatches
  * ~20 lambda steps per element and materializes the difference
  * array). Mismatched lengths yield null, never a silently-truncated
  * sum — a corrupt-dimension vector must not produce a plausible
  * distance.
  */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      // NOTE operator placement: generated lines must never START with
      // an operator that stripMargin in an enclosing whole-stage
      // template could eat (see SubspaceL2's comment — the r8-r12
      // silent interpreted fallback)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared-L2 distance on ONE subspace of two `array<double>`
  * columns: Σ_{i=0}^{subDim−1} (a[s·subDim+i] − b[s·subDim+i])².
  *
  * This is the product-quantization hot kernel (the ADC distance-table
  * build and the encode step both evaluate it candidates × codes times,
  * VERDICT r8 #4): as a `aggregate(transform(sequence(...)))` chain it
  * runs as interpreted higher-order functions — per-row lambda dispatch
  * and a materialized 16-element array — where this expression is a
  * fused generated-Java loop inside whole-stage codegen.
  *
  * Summation is the same ascending-index left fold from 0.0 as
  * [[DotProduct]], bit-identical to the DuckDB oracle's `list_reduce`
  * over the same window. A subspace that overruns either array yields
  * null (matching `element_at`'s out-of-range null under the pinned
  * non-ANSI dialect, and keeping a corrupt-dimension vector from
  * scoring plausibly).
  */
case class SubspaceL2(first: Expression, second: Expression,
    third: Expression, subDim: Int)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_subspace_l2"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, s: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // bounds math in LONG: int `s * subDim` can wrap, and a wrapped
    // base + subDim can overflow negative so the `>` guard passes while
    // the index is out of bounds — registered as a general SQL function,
    // s is arbitrary caller input, not just the PQ query's 0..3
    val base = s.asInstanceOf[Int].toLong * subDim
    if (base < 0 || base + subDim > x.numElements()
        || base + subDim > y.numElements()) return null
    val b0 = base.toInt // < numElements <= Int.MaxValue after the guard
    var acc = 0.0
    var i = 0
    while (i < subDim) {
      val d = x.getDouble(b0 + i) - y.getDouble(b0 + i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, s) => {
      val base = ctx.freshName("base")
      val baseI = ctx.freshName("baseI")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      // same long-math guard as nullSafeEval: int s*subDim can wrap.
      // NOTE the operator placement: a generated line must never START
      // with '|' — enclosing whole-stage templates run stripMargin over
      // the combined source, which eats leading pipes and turned a
      // leading "||" into invalid Java. The whole PQ/ADC kernel then
      // silently fell back to INTERPRETED execution for every
      // candidate row ("Failed to compile ... ')' expected instead of
      // 'base_0'" in the sweep logs, r8-r12); PlanSpec pins the clean
      // compile by running td_ann_pq with the codegen fallback off.
      s"""
         |long $base = (long) $s * $subDim;
         |if ($base < 0 || $base + $subDim > $a.numElements() ||
         |    $base + $subDim > $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $baseI = (int) $base;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $subDim; $i++) {
         |    double $d = $a.getDouble($baseI + $i) - $b.getDouble($baseI + $i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Fused 4-hyperplane random-projection LSH bucket of an
  * `array<double>`: bit j of the result is set iff
  * `dot_j = Σ_{i=0}^{n−1} vd[i] · ((i·37 + j·101) % 19 − 9) > 0`.
  *
  * Replaces the composed Column formula (4 ×
  * `aggregate(sequence(0, size−1), …)`) the similarity layer bucketed
  * with through round 13 — per row that chain materialized four
  * 161-element int sequences and dispatched ~1300 interpreted lambda
  * steps; this expression is ONE generated loop with four scalar
  * accumulators and no allocation, and it was the serving-regime
  * (fixed-q) ladder's largest line (td_ann_lsh computes it over every
  * candidate row, ∝ corpus size). The DuckDB oracles keep replaying
  * the aggregate formula, so the hash gate proves the equivalence
  * cross-engine on every run.
  *
  * Bit-compatibility with the composed formula: each dot_j is the
  * same ascending-index IEEE left fold from 0.0 (independent
  * accumulators — one pass over i computes all four without changing
  * any per-j operation order); the weight arithmetic is the same
  * 32-bit int `(i*37 + j*101) % 19 − 9` (including wrap behavior for
  * absurd i) promoted exactly to double; an array NULL ELEMENT nulls
  * the remainder of every fold exactly as `acc + null` does, so the
  * bucket is 0 (all four `when(dot_j > 0…)` legs fall to otherwise).
  * Sole intentional difference, pinned in KernelProps: a NULL ARRAY
  * yields null (standard null-intolerant scalar), where the composed
  * chain produced bucket 0 — callers bucketing nullable embeddings
  * must coalesce, and a null never scores a plausible bucket.
  */
case class HyperplaneBucket(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hyperplane_bucket"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return 0 // null element: every fold goes null
      val v = x.getDouble(i)
      val b = i * 37
      d0 += v * (b % 19 - 9)
      d1 += v * ((b + 101) % 19 - 9)
      d2 += v * ((b + 202) % 19 - 9)
      d3 += v * ((b + 303) % 19 - 9)
      i += 1
    }
    (if (d0 > 0) 1 else 0) | (if (d1 > 0) 2 else 0) |
      (if (d2 > 0) 4 else 0) | (if (d3 > 0) 8 else 0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val d0 = ctx.freshName("d0"); val d1 = ctx.freshName("d1")
      val d2 = ctx.freshName("d2"); val d3 = ctx.freshName("d3")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val b = ctx.freshName("b")
      val nulled = ctx.freshName("nulled")
      // NOTE: no generated line may START with '|' (see SubspaceL2).
      s"""
         |int $n = $a.numElements();
         |double $d0 = 0.0, $d1 = 0.0, $d2 = 0.0, $d3 = 0.0;
         |boolean $nulled = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $nulled = true; break; }
         |  double $v = $a.getDouble($i);
         |  int $b = $i * 37;
         |  $d0 += $v * ($b % 19 - 9);
         |  $d1 += $v * (($b + 101) % 19 - 9);
         |  $d2 += $v * (($b + 202) % 19 - 9);
         |  $d3 += $v * (($b + 303) % 19 - 9);
         |}
         |${ev.value} = $nulled ? 0 :
         |  (($d0 > 0 ? 1 : 0) | ($d1 > 0 ? 2 : 0) |
         |   ($d2 > 0 ? 4 : 0) | ($d3 > 0 ? 8 : 0));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Order-preserving bijection from a double onto the signed longs:
  * x < y (SQL double ordering) ⇔ sortBits(x) < sortBits(y) (long
  * ordering). The standard IEEE-754 total-order transform — flip all
  * value bits of negatives (the sign bit stays set, so they sort
  * below every positive and ascend with value), identity on
  * non-negatives (Lucene's doubleToSortableLong) — with -0.0
  * first normalized to +0.0 (`+ 0.0`) so the two zero encodings
  * cannot order a tie differently than SQL comparison (which treats
  * them equal) would.
  *
  * Purpose: lets the LONG-keyed bounded-state top-k aggregate
  * ([[BottomKByKeyAgg]]) rank by a double without loss — e.g.
  * `bottomk(sortBits(-cosine), n_id, k)` is exactly top-k by
  * (cosine DESC, n_id ASC), the ANN family's total order, inside a
  * streaming groupBy where a rank window cannot run. NaN (never
  * produced by the vector kernels on valid input) canonicalizes above
  * +Infinity, matching SQL's NaN-last ordering. */
/** Codegen'd `jaccard(a, b) >= 1/2` over two SORTED distinct
  * `array<long>` columns — the verification kernel of the incremental-
  * dedup band join (VERDICT r16 #1). For distinct arrays
  * |A∪B| = |A|+|B|−|A∩B|, so J ≥ 1/2 ⟺ 3·|A∩B| ≥ |A|+|B| — an
  * integer test that is EXACTLY the oracle's double comparison at
  * these set sizes (x/y vs 0.5 cannot round across the threshold below
  * 2^52 elements; IncrementalDedupSpec pins the full size/overlap
  * grid). The merge walk replaces `array_intersect`'s per-pair hash-
  * set build and result-array allocation with two cursors and
  * IMPOSSIBILITY / SUFFICIENCY early exits:
  *
  *   - abandon FALSE the moment 3·(found + min(remainA, remainB))
  *     < |A|+|B| — at iteration 0 this is 2·min < max, i.e. the
  *     length-ratio prefilter folds into the same loop head;
  *   - accept TRUE the moment 3·found ≥ |A|+|B| (a true near-dup pair
  *     confirms ~⅓ of the way through its merge, compounding with the
  *     band join's LEFT SEMI first-match exit).
  *
  * CONTRACT: inputs must be sorted ascending and duplicate-free (the
  * plan sorts once per class at signature build — O(n log n) per ROW,
  * amortized over every pair the class participates in); an unsorted
  * input silently under-counts the intersection. Null if either side
  * is null — the same rows the oracle's NULL jaccard fails to verify.
  */
case class SortedJaccardGeHalf(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.LongType),
      ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_jaccard_ge_half_sorted"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    val s = na + nb
    var i = 0; var j = 0; var found = 0
    var verdict = false
    var done = false
    while (!done && i < na && j < nb) {
      if (3 * (found + math.min(na - i, nb - j)) < s) done = true
      else {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv < yv) i += 1
        else if (xv > yv) j += 1
        else { found += 1; i += 1; j += 1 }
        if (3 * found >= s) { verdict = true; done = true }
      }
    }
    verdict || 3 * found >= s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ev.value
      s"""
         |int ${v}_na = $a.numElements();
         |int ${v}_nb = $b.numElements();
         |int ${v}_s = ${v}_na + ${v}_nb;
         |int ${v}_i = 0; int ${v}_j = 0; int ${v}_f = 0;
         |while (${v}_i < ${v}_na && ${v}_j < ${v}_nb) {
         |  int ${v}_rem = ${v}_na - ${v}_i < ${v}_nb - ${v}_j
         |    ? ${v}_na - ${v}_i : ${v}_nb - ${v}_j;
         |  if (3 * (${v}_f + ${v}_rem) < ${v}_s) break;
         |  long ${v}_x = $a.getLong(${v}_i);
         |  long ${v}_y = $b.getLong(${v}_j);
         |  if (${v}_x < ${v}_y) { ${v}_i++; }
         |  else if (${v}_x > ${v}_y) { ${v}_j++; }
         |  else { ${v}_f++; ${v}_i++; ${v}_j++; }
         |  if (3 * ${v}_f >= ${v}_s) break;
         |}
         |$v = 3 * ${v}_f >= ${v}_s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class DoubleSortBits(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_sort_bits"

  override def nullSafeEval(x: Any): Any = {
    val b = java.lang.Double.doubleToLongBits(x.asInstanceOf[Double] + 0.0)
    // Lucene's doubleToSortableLong: negatives flip their 63 value
    // bits (sign stays set, so they sort below every positive and
    // ascend with value); non-negatives are identity
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("b")
      s"""
         |long $b = Double.doubleToLongBits($c + 0.0d);
         |${ev.value} = $b ^ (($b >> 63) & 0x7fffffffffffffffL);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** LEB128 delta codec for sorted distinct long sets, plus the jaccard
  * kernel that merge-walks two encoded streams directly.
  *
  * The incremental-dedup band frames carry every class's sorted shingle
  * set through the band-join exchange on BOTH legs (DedupQueries
  * .incrementalDedup). As a Spark `array<long>` that payload costs
  * 8 B/element plus UnsafeArrayData header and null-bitmap words — yet
  * the values are [[Sketches.P]]-reduced (< 2^30) and sorted, so the
  * information content per element is the GAP to its predecessor
  * (~ P / n, i.e. 3-4 varint bytes at realistic set sizes). Encoding
  * [count, v0, v1−v0, …] as LEB128 varints into a `binary` column
  * halves the dominant exchange payload at the top dedup rungs
  * (VERDICT r17 #1: the 4.1 GB band-frame exchange at 1600× is what the
  * disk-throughput lottery holds hostage), and the verification kernel
  * below walks the encoded form directly — same integer-exact
  * 3·|∩| ≥ |A|+|B| test, same early exits as [[SortedJaccardGeHalf]] —
  * so nothing ever decodes back to an array.
  *
  * Both kernels live here as plain JVM methods invoked from generated
  * code (`MODULE$` static calls): the byte-wise decode loop JIT-compiles
  * tighter as one C2 method than as codegen-inlined Java, and eval +
  * codegen share one implementation.
  */
object DeltaVarint {

  /** LEB128 decode at `pos0`; returns `(newPos << 40) | value`.
    * Callers guarantee values < 2^40 (shingle hashes and counts are
    * < 2^30 by construction — [[Sketches.P]]). */
  @inline private def vdec(a: Array[Byte], pos0: Int): Long = {
    var pos = pos0; var v = 0L; var sh = 0; var bb = 0
    do {
      bb = a(pos); pos += 1
      v |= (bb & 0x7fL) << sh; sh += 7
    } while ((bb & 0x80) != 0)
    (pos.toLong << 40) | v
  }

  @inline private def venc(buf: Array[Byte], pos0: Int, v0: Long): Int = {
    var v = v0; var p = pos0
    while ((v & ~0x7fL) != 0) {
      buf(p) = ((v & 0x7f) | 0x80).toByte; p += 1; v >>>= 7
    }
    buf(p) = v.toByte
    p + 1
  }

  /** Encode a SORTED ascending, duplicate-free `array<long>` of
    * non-negative values as [varint(n), varint(v0), varint(gap)…].
    * (Unsorted input still encodes losslessly — negative gaps take the
    * full 10 varint bytes — but the jaccard kernel's merge walk would
    * under-count on it, same contract as [[SortedJaccardGeHalf]].) */
  def encode(arr: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val buf = new Array[Byte](10 * n + 10)
    var p = venc(buf, 0, n.toLong)
    var prev = 0L
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      p = venc(buf, p, if (i == 0) v else v - prev)
      prev = v
      i += 1
    }
    java.util.Arrays.copyOf(buf, p)
  }

  /** Decode back to the long array (spec/debugging aid; the hot path
    * never calls this). */
  def decode(a: Array[Byte]): Array[Long] = {
    var d = vdec(a, 0)
    val n = (d & 0xffffffffffL).toInt
    val out = new Array[Long](n)
    var p = (d >>> 40).toInt
    var prev = 0L
    var i = 0
    while (i < n) {
      d = vdec(a, p); p = (d >>> 40).toInt
      prev = (if (i == 0) 0L else prev) + (d & 0xffffffffffL)
      out(i) = prev
      i += 1
    }
    out
  }

  /** `jaccard(A, B) >= 1/2` over two [[encode]]d sorted distinct sets —
    * bit-identical verdict to [[SortedJaccardGeHalf]] on the decoded
    * arrays: integer 3·|∩| ≥ |A|+|B| with the length-ratio prefilter,
    * abandon-early impossibility bound and accept-early sufficiency
    * bound folded into the merge walk, which advances by adding decoded
    * gaps — no array is ever materialized per pair. */
  def geHalf(a: Array[Byte], b: Array[Byte]): Boolean = {
    var d = vdec(a, 0)
    val na = (d & 0xffffffffffL).toInt
    var pa = (d >>> 40).toInt
    d = vdec(b, 0)
    val nb = (d & 0xffffffffffL).toInt
    var pb = (d >>> 40).toInt
    val s = na + nb
    var i = 0; var j = 0; var found = 0
    var ax = 0L; var bx = 0L
    if (na > 0) { d = vdec(a, pa); pa = (d >>> 40).toInt; ax = d & 0xffffffffffL }
    if (nb > 0) { d = vdec(b, pb); pb = (d >>> 40).toInt; bx = d & 0xffffffffffL }
    while (i < na && j < nb) {
      val remA = na - i; val remB = nb - j
      val rem = if (remA < remB) remA else remB
      if (3 * (found + rem) < s) return false
      if (ax < bx) {
        i += 1
        if (i < na) { d = vdec(a, pa); pa = (d >>> 40).toInt; ax += d & 0xffffffffffL }
      } else if (ax > bx) {
        j += 1
        if (j < nb) { d = vdec(b, pb); pb = (d >>> 40).toInt; bx += d & 0xffffffffffL }
      } else {
        found += 1; i += 1; j += 1
        if (i < na) { d = vdec(a, pa); pa = (d >>> 40).toInt; ax += d & 0xffffffffffL }
        if (j < nb) { d = vdec(b, pb); pb = (d >>> 40).toInt; bx += d & 0xffffffffffL }
      }
      if (3 * found >= s) return true
    }
    3 * found >= s
  }
}

/** `array<long>` → delta-varint `binary` (see [[DeltaVarint]]). The
  * encode runs once per CLASS at signature build; the payload win is
  * collected on every band row the class fans out to and every byte the
  * band-join exchange writes. */
case class DeltaVarintEncode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "graft_delta_varint"

  override def nullSafeEval(input: Any): Any =
    DeltaVarint.encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DeltaVarint$$.MODULE$$.encode($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** delta-varint `binary` → `array<long>` (inverse of
  * [[DeltaVarintEncode]]). Runs once per band ROW, directly above the
  * band-frame exchange: the exchange carries the compact encoding, the
  * join predicate walks the decoded UnsafeArrayData in place — per-PAIR
  * evaluation stays zero-copy (a BinaryType join condition would
  * re-copy the byte[] out of the row on every pair evaluation, which
  * measured 2.7× the r17 join-stage CPU at the 1600× rung). */
case class DeltaVarintDecode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_delta_varint_decode"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      DeltaVarint.decode(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.DeltaVarint$$.MODULE$$.decode($c));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[SortedJaccardGeHalf]] over two delta-varint-encoded sets (see
  * [[DeltaVarint.geHalf]]): same verdict, same early exits, no decode
  * to arrays. Null if either side is null — the same rows the oracle's
  * NULL jaccard fails to verify. */
case class DeltaJaccardGeHalf(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.BinaryType,
      org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_jaccard_ge_half_delta"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    DeltaVarint.geHalf(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DeltaVarint$$.MODULE$$.geHalf($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
