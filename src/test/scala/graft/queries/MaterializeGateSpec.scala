package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The scale-gated materialize-once contraction (round 19, VERDICT r18
  * #1): gate semantics, result identity across the gate, and the plan
  * contraction it exists for. */
class MaterializeGateSpec extends AnyFunSuite with graft.SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"
  private val perCore = graft.GraftConf.DedupMaterializePerCoreBytes.name

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  test("auto mode gates on documents bytes >= perCore * defaultParallelism") {
    // sf0.001 documents are a few KB: far below any sane per-core gate
    assert(!DedupQueries.materializeContraction(spark, sfDir))
    // a 1-byte-per-core threshold flips it on for the same corpus
    withConf(perCore, "1") {
      assert(DedupQueries.materializeContraction(spark, sfDir))
    }
    // the ends of the bound force either side: 0 on, Long.MaxValue off
    // (perCore × parallelism would overflow to a negative gate)
    withConf(perCore, "0") {
      assert(DedupQueries.materializeContraction(spark, sfDir))
    }
    withConf(perCore, Long.MaxValue.toString) {
      assert(!DedupQueries.materializeContraction(spark, sfDir))
    }
    // an unreadable path fails CLOSED (pathBytes -1 under any gate)
    assert(!DedupQueries.materializeContraction(spark, "/nonexistent-dir"))
    withConf(perCore, "0") {
      assert(!DedupQueries.materializeContraction(spark, "/nonexistent-dir"))
    }
  }

  test("gate-on results are row-identical to gate-off for every contraction consumer") {
    // localCheckpoint is semantics-preserving; this pins it end to end
    // through the three consumers whose plan the gate rewires (the
    // cluster family shares shingleGroups through the memoized labels,
    // which the per-suite session would cache across the A/B — covered
    // transitively by minhash_lsh, whose pair machinery is the same)
    for (name <- Seq("td_dedup_minhash_lsh", "td_dedup_ngram_jaccard",
        "td_dedup_simhash")) {
      val off = graft.SparkEntry.registry(name).build(spark, sfDir)
        .collect().map(_.toString).sorted
      withConf(perCore, "0") {
        val on = graft.SparkEntry.registry(name).build(spark, sfDir)
          .collect().map(_.toString).sorted
        assert(on.toSeq == off.toSeq, s"$name rows differ across the gate")
      }
    }
  }

  test("gate-on contracts every corpus scan behind the checkpointed pass") {
    // the shape the gate buys: consumers read the (invisible-in-explain)
    // checkpointed contraction as ExistingRDD; zero parquet scan nodes
    // remain in the consumer plan (the corpus passes run once, inside
    // the checkpoint materialization). Gate-off keeps the parquet scans.
    withConf(perCore, "0") {
      val p = graft.SparkEntry.registry("td_dedup_ngram_jaccard")
        .build(spark, sfDir).queryExecution.executedPlan.toString
      assert(p.contains("ExistingRDD"), p.take(3000))
      assert(!p.contains("Scan parquet"), p.take(3000))
    }
    val pOff = graft.SparkEntry.registry("td_dedup_ngram_jaccard")
      .build(spark, sfDir).queryExecution.executedPlan.toString
    assert(pOff.contains("Scan parquet"), pOff.take(3000))
  }

  test("releaseMemos frees the pair table a build below the gate persisted") {
    // the gate reads differently at release (perCore flipped to 0): the
    // release must still free what the build recorded, not re-decide
    val dir = java.nio.file.Files.createTempDirectory("graft-gate-release-")
      .toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    assert(graft.SparkEntry.queries("td_dedup_clusters")(spark, dir)
      .collect().nonEmpty)
    // the pair plan a build below the gate persists (mat = true only
    // skips the persist, so this reads the cache without adding to it)
    val pairs = DedupQueries.minhashVerifiedRepPairs(spark, dir,
      DedupQueries.shingleGroups(spark, dir, mat = false)._1, mat = true)
    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(pairs.storageLevel != none, "the build persisted no pair table")
    withConf(perCore, "0") {
      assert(DedupQueries.materializeContraction(spark, dir))
      DedupQueries.releaseMemos(spark, dir)
    }
    assert(pairs.storageLevel == none,
      "a persisted pair table outlived releaseMemos")
  }
}
