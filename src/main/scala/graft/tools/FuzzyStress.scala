package graft.tools

import graft.{QueryListener, Tables}
import graft.queries.RelationalQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe for the fuzzy-join blocking strategies
  * (rel_fuzzy_join / rel_fuzzy_join_sig / rel_fuzzy_join_exact): grows
  * `customer` by 1x/10x/50x and measures CANDIDATE-PAIR VOLUME under
  *
  *  - attribute blocking (nation key — block count fixed at 25, so
  *    pair volume grows as n²/25), counted analytically as
  *    sum(m·(m−1)/2) over blocks — never materialized; at 50x that
  *    would be ~10^10 pairs, which is precisely the point;
  *  - rare-q-gram prefix signatures (block count bounded by the gram
  *    space — pair volume n²·s²/|grams|, a 1000x-smaller quadratic:
  *    the honest characterization, not near-linear once n passes the
  *    gram-space diversity), counted analytically; and
  *  - deletion-neighborhood (SymDelete) signatures (block space ≈ the
  *    string space itself, so blocks stay O(1) on sparse data and
  *    candidate volume tracks the TRUE pair volume — near-linear),
  *    counted analytically and executed end-to-end through
  *    fuzzyJoinSymDel (timed, exact output).
  *
  * The scaled fixture regenerates each replica's name from its
  * remapped key through an affine permutation of the 9-digit space
  * (key·999999937 mod 10^9 — the multiplier is prime so the map is
  * injective on the id range): names become uniform over the
  * padded-id space, the sparse regime real entity data lives in. The
  * unscaled fixture's sequential ids pack the edit space so densely
  * that the TRUE result itself grows quadratically — no blocking can
  * beat the output's own growth there, so it is the wrong fixture for
  * a scaling claim.
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.FuzzyStress 1,10,50" }}}
  */
object FuzzyStress {

  def main(args: Array[String]): Unit = {
    val scales = args.headOption.getOrElse("1,10,50").split(",").map(_.toInt)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-fuzzystress", cpus))

    val base = Tables.load(spark, src, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val stride = base.agg(max(col("c_custkey"))).head().getLong(0) + 1

    def scaled(s: Int): DataFrame =
      base.crossJoin(broadcast(spark.range(s).toDF("rep")))
        .withColumn("c_custkey", col("c_custkey") + col("rep") * lit(stride))
        .withColumn("c_name", concat(lit("Customer#"),
          lpad(((col("c_custkey") * lit(999999937L)) % lit(1000000000L))
            .cast("string"), 9, "0")))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))

    def pairVolume(blocks: DataFrame): Long =
      blocks.agg(sum(col("m") * (col("m") - 1))).head().getLong(0) / 2

    val meter = QueryListener.attach(spark)
    val lines = scales.map { s =>
      val c = scaled(s).cache()
      val n = c.count()
      // attribute blocking: 25 nation blocks regardless of n -> n^2
      val nationPairs = pairVolume(
        c.groupBy("c_nationkey").agg(count(lit(1)).as("m")))
      val names = c.select(col("c_custkey"), col("c_name"))
      // rare-gram prefix signatures: analytic volume from the index
      val sigPairs = pairVolume(RelationalQueries.fuzzySignatures(names)
        .groupBy("gram").agg(count(lit(1)).as("m")))
      // deletion-neighborhood signatures: analytic volume
      val symPairs = pairVolume(RelationalQueries.symDelSignatures(names)
        .groupBy("variant").agg(count(lit(1)).as("m")))
      // and the exact join end to end
      val (out, sec, _) =
        meter.timed(RelationalQueries.fuzzyJoinSymDel(names).count())
      c.unpersist()
      println(f"[fuzzystress] scale=$s n=$n nation_pairs=$nationPairs " +
        f"sig_pairs=$sigPairs symdel_pairs=$symPairs " +
        f"exact_out=$out exact_sec=$sec%.1f")
      s"""{"scale":$s,"n":$n,"nation_pairs":$nationPairs,""" +
        s""""sig_pairs":$sigPairs,"symdel_pairs":$symPairs,""" +
        s""""exact_out":$out,"exact_sec":$sec}"""
    }
    println(s"""{"metric":"fuzzystress","scales":[${lines.mkString(",")}]}""")
    spark.stop()
  }
}
