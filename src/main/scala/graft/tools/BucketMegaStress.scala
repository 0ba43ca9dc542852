package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.plans.{BucketAdmitJoinApi, BucketAdmitJoinExec}

/** Adversarial mega-bucket rung for the chunked BucketAdmitJoin walk
  * (round 19, VERDICT r18 #5): ONE band bucket whose existing side is
  * far larger than the executor heap. The unsplit walk must buffer the
  * whole bucket and OOMs; the chunked walk completes with identical
  * survivors. Measurement tooling only.
  *
  * Args: nExisting (sets in the one bucket; ~1.2 KB each),
  * chunkBytes or the literal `unsplit` (Long.MaxValue — the pre-split
  * behavior). The probe side is 4 sets: 3 exact copies of existing
  * sets (J=1 admits) spread across the bucket plus 1 disjoint set —
  * expected admitted = 3, printed and asserted. The exec's `chunks`
  * metric is printed too, and must read 1 for `unsplit` and more than
  * 1 for a budget below the bucket's payload bytes, so a run that
  * completes without the chunked walk fails.
  *
  * {{{ SPARK_DRIVER_MEM=1g tools/runmain.sh graft.tools.BucketMegaStress 600000 unsplit }}}
  * {{{ SPARK_DRIVER_MEM=1g tools/runmain.sh graft.tools.BucketMegaStress 600000 67108864 }}}
  */
object BucketMegaStress extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val nExisting = args.headOption.map(_.toLong).getOrElse(600000L)
    // the miss set starts past the largest existing token
    // ((nExisting - 1) * 1500 + 897), so it is disjoint at every size
    val missBase = nExisting * 1500L
    require(missBase + 897L < (1L << 30),
      s"nExisting $nExisting puts the largest token ${missBase + 897L} " +
        s"at or past 2^30; the largest nExisting is ${((1L << 30) - 898) / 1500}")
    val chunk = args.lift(1) match {
      case Some("unsplit") | None => Long.MaxValue.toString
      case Some(v) => v
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.pinDialect(
      graft.Tables.localSession("graft-megabucket", cpus))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffled exec
    spark.conf.set(graft.GraftConf.DedupBucketChunkBytes.name, chunk)
    import graft.functions.GraftFunctions.deltaVarint

    // 300 sorted P-reduced tokens per set, disjoint across rows
    def setOf(base: org.apache.spark.sql.Column) =
      deltaVarint(sequence(base, base + 897L, lit(3L)))
    val existing = spark.range(nExisting)
      .select(lit(42L).as("bkey"), setOf(col("id") * 1500L).as("hsb"))
    val probes = Seq(0L, nExisting / 2, nExisting - 1)
    val matching = probes.map(k =>
      spark.range(1).select(lit(42L).as("bkey"),
        struct(lit(k).as("nid")).as("dig"), setOf(lit(k * 1500L)).as("hsb")))
    val miss = spark.range(1).select(lit(42L).as("bkey"),
      struct(lit(-1L).as("nid")).as("dig"), setOf(lit(missBase)).as("hsb"))
    val newSide = (matching :+ miss).reduce(_ unionByName _)
    val payload = existing.agg(sum(length(col("hsb")))).head().getLong(0)

    val df = BucketAdmitJoinApi.admitJoin(newSide, existing)
    val (admitted, sec, _) = graft.QueryListener.attach(spark).timed(df.collect())
    val ids = admitted.map(_.getStruct(0).getLong(0)).sorted.toSeq
    val chunks = collect(df.queryExecution.executedPlan) {
      case e: BucketAdmitJoinExec => e.metrics("chunks").value
    }.sum
    println(f"""{"metric":"megabucket","n_existing":$nExisting,""" +
      f""""chunk_bytes":"$chunk","payload_bytes":$payload,""" +
      f""""chunks":$chunks,"admitted":${ids.length},""" +
      f""""ids":${ids.mkString("[", ",", "]")},"sec":$sec%.1f}""")
    require(ids == probes.sorted,
      s"survivor identity broken: $ids vs expected ${probes.sorted}")
    if (chunk.toLong >= payload) require(chunks == 1,
      s"a $chunk-byte budget over a $payload-byte bucket read $chunks chunks, not 1")
    else require(chunks > 1,
      s"a $chunk-byte budget under a $payload-byte bucket read $chunks chunks; " +
        "the chunked walk did not run")
    spark.stop()
  }
}
