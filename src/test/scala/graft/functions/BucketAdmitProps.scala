package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** [[BucketAdmit.admitCore]] against the set-theoretic oracle, over
  * random buckets spanning BOTH strategies (the nN·nE ≤ DirectPairCap
  * direct scan and the prefix-filter index): a new set is admitted iff
  * SOME existing set satisfies the integer test 3·|A∩B| ≥ |A|+|B| —
  * the prefix theorem (smallest common token ranks inside both
  * floor(n/2)+1 prefixes whenever J ≥ 1/2) must make the index path
  * lossless for every size/overlap/df layout drawn, including empty
  * sets on either side (empty matches only empty). Same generator
  * bias as DeltaVarintProps: dense band so intersections actually
  * occur, full production domain, boundary values. The kernel's own
  * work count (what the execs publish as "pairs evaluated") stays
  * within the bucket's pair bound.
  */
object BucketAdmitProps extends Properties("graft.bucketadmit") {

  private val P = Sketches.P

  private val value: Gen[Long] = Gen.frequency(
    6 -> Gen.choose(0L, 40L),
    3 -> Gen.choose(0L, P - 1),
    1 -> Gen.oneOf(0L, 1L, P - 2, P - 1))

  private val sortedSet: Gen[Array[Long]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 24))
    vs <- Gen.listOfN(n, value)
  } yield vs.distinct.sorted.toArray

  // bucket sizes straddling DirectPairCap = 32 (e.g. 2×2 direct,
  // 12×12 indexed)
  private val bucket: Gen[(List[Array[Long]], List[Array[Long]])] = for {
    nN <- Gen.choose(0, 12)
    nE <- Gen.choose(0, 12)
    ns <- Gen.listOfN(nN, sortedSet)
    es <- Gen.listOfN(nE, sortedSet)
  } yield (ns, es)

  private def enc(a: Array[Long]): Array[Byte] =
    DeltaVarint.encode(new GenericArrayData(a))

  private def run(ns: List[Array[Long]],
      es: List[Array[Long]]): Seq[Long] = {
    val digs: Array[InternalRow] = ns.indices.map(i =>
      new GenericInternalRow(Array[Any](i.toLong)): InternalRow).toArray
    val admitted = BucketAdmit.admitCore(digs,
      ns.map(enc).toArray, es.map(enc).toArray, new BucketAdmit.Work)
    admitted.map(_.getLong(0)).toSeq
  }

  property("admitCore == exists(3|A.B| >= |A|+|B|) on both strategies") =
    forAll(bucket) { case (ns, es) =>
      val got = run(ns, es).toSet
      val want = ns.zipWithIndex.collect { case (a, i)
          if es.exists { b =>
            val inter = a.toSet.intersect(b.toSet).size
            3 * inter >= a.length + b.length
          } => i.toLong
      }.toSet
      got == want
    }

  property("admitted digs are unique and preserve input order") =
    forAll(bucket) { case (ns, es) =>
      val ids = run(ns, es)
      ids.distinct == ids && ids.sorted == ids
    }

  property("counted pairs <= nN*nE, and 0 when either side is empty") =
    forAll(bucket) { case (ns, es) =>
      val work = new BucketAdmit.Work
      val hits = BucketAdmit.admitIndices(ns.map(enc).toArray,
        es.map(enc).toArray, work)
      val bound = ns.length.toLong * es.length
      // every admitted set cost at least its accepting pair; a non-empty
      // bucket runs exactly one strategy
      hits.length <= work.pairs && work.pairs <= bound &&
        (bound > 0 || work.pairs == 0) &&
        work.direct + work.indexed == (if (bound > 0) 1 else 0)
    }
}
