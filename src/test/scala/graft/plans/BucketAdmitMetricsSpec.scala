package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BucketAdmit, DeltaVarint}

/** The SQL metrics both BucketAdmit execs publish, read back from the
  * executed plan after the action, on hand-built band buckets:
  *   - bucket 1 (narrow, 1 new × 2 existing ≤ DirectPairCap): all three
  *     are copies of one set;
  *   - bucket 2 (wide, 6 new × 8 existing): new sets 0-2 copy existing
  *     sets, 3-5 are disjoint from everything;
  *   - bucket 3 holds only a new set, bucket 4 only an existing one.
  */
class BucketAdmitMetricsSpec extends AnyFunSuite with graft.SparkTestSession
    with AdaptiveSparkPlanHelper {

  private def set(base: Long): Array[Byte] =
    DeltaVarint.encode(new GenericArrayData((base until base + 10).toArray))

  private val newSide: Seq[(Long, Long, Long)] = // (bkey, id, set base)
    Seq((1L, 100L, 0L)) ++
      (0 until 6).map(j => (2L, j.toLong,
        if (j < 3) 2000L + 200L * j else 50000L + 100L * j)) :+
      ((3L, 200L, 0L))
  private val existingSide: Seq[(Long, Long)] = // (bkey, set base)
    Seq((1L, 0L), (1L, 0L)) ++ (0 until 8).map(k => (2L, 2000L + 100L * k)) :+
      ((4L, 0L))
  private val survivors = Seq(0L, 1L, 2L, 100L)

  private def frames(bkeys: Set[Long]): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val probe = newSide.filter(r => bkeys(r._1))
      .map { case (b, id, base) => (b, Tuple1(id), set(base)) }
      .toDF("bkey", "dig", "hsb")
    val existing = existingSide.filter(r => bkeys(r._1))
      .map { case (b, base) => (b, set(base)) }.toDF("bkey", "hsb")
    (probe, existing)
  }

  /** Σ new×existing over the buckets present on both sides. */
  private def pairBound(bkeys: Set[Long]): Long = bkeys.toSeq.map { b =>
    newSide.count(_._1 == b).toLong * existingSide.count(_._1 == b)
  }.sum

  /** (admitted ids, output rows, the exec's metrics) for one run. */
  private def run(bkeys: Set[Long], shuffled: Boolean,
      chunkBytes: Option[String] = None): (Seq[Long], Long, Map[String, Long]) = {
    val key = graft.GraftConf.DedupBucketChunkBytes.name
    val bc = "spark.sql.autoBroadcastJoinThreshold"
    val prev = Seq(bc, key).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(bc, if (shuffled) "-1" else "10485760")
    chunkBytes.foreach(spark.conf.set(key, _))
    try {
      val (probe, existing) = frames(bkeys)
      val df = BucketAdmitJoinApi.admitJoin(probe, existing)
      val rows = df.collect().map(_.getStruct(0).getLong(0)).toSeq
      val execs = collect(df.queryExecution.executedPlan) {
        case e: BucketAdmitJoinExec => e: SparkPlan
        case e: BucketAdmitBroadcastExec => e: SparkPlan
      }
      assert(execs.size == 1, df.queryExecution.executedPlan)
      assert(execs.head.isInstanceOf[BucketAdmitJoinExec] == shuffled,
        execs.head.nodeName)
      (rows.distinct.sorted, rows.size.toLong,
        execs.head.metrics.map { case (k, m) => k -> m.value })
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((variant, shuffled) <- Seq("shuffled" -> true, "broadcast" -> false)) {
    test(s"$variant exec: admitted = output rows <= pairs <= Σ new×existing") {
      val all = Set(1L, 2L, 3L, 4L)
      val (ids, rows, m) = run(all, shuffled)
      assert(ids == survivors)
      assert(m("admitted") == rows && rows > 0, m)
      assert(m("admitted") <= m("pairs") && m("pairs") <= pairBound(all), m)
      assert(m("buckets") > 0 && m("newRows") > 0 && m("existingRows") > 0, m)
      assert(m("indexEntries") > 0, m)
      assert(m.contains("chunks") == shuffled, m.keySet)
      if (shuffled) {
        // one chunk per aligned bucket; one kernel run per chunk
        assert(m("buckets") == 2 && m("chunks") == 2, m)
        assert(m("newRows") == 7 && m("existingRows") == 10, m)
        // the prefix filter leaves no reject to verify on these sets
        assert(m("pairs") == m("admitted"), m)
        assert(m("indexEntries") == 8 * 6, m) // 8 sets × (10 / 2 + 1)
      }
    }

    test(s"$variant exec: a bucket under the direct cap counts as direct, a wider one as indexed") {
      val (_, _, narrow) = run(Set(1L), shuffled)
      assert(narrow("direct") > 0 && narrow("indexed") == 0, narrow)
      assert(narrow("indexEntries") == 0, narrow)
      val (_, _, wide) = run(Set(2L), shuffled)
      assert(wide("indexed") > 0 && wide("direct") == 0, wide)
      if (shuffled) assert(
        pairBound(Set(1L)) <= BucketAdmit.DirectPairCap &&
          pairBound(Set(2L)) > BucketAdmit.DirectPairCap)
      else assert(newSide.count(_._1 == 1L) <= BucketAdmit.DirectSideCap &&
        newSide.count(_._1 == 2L) > BucketAdmit.DirectSideCap)
    }
  }

  test("a small chunk budget splits buckets into more chunks, same survivors") {
    val all = Set(1L, 2L, 3L, 4L)
    val (unsplit, _, one) = run(all, shuffled = true)
    val (split, rows, many) = run(all, shuffled = true, Some("1"))
    assert(split == unsplit && split == survivors)
    assert(one("chunks") == one("buckets"), one)
    assert(many("chunks") > many("buckets"), many)
    assert(many("admitted") == rows && many("pairs") <= pairBound(all), many)
  }
}
