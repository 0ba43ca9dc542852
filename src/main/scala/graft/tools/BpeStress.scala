package graft.tools

import graft.{GraftConf, QueryListener, Tables}
import graft.queries.TextQueries

/** Cost-law probe for the distributed BPE trainer (sibling of
  * [[FuzzyStress]]/[[GraphStress]]): trains at increasing merge counts
  * on the real documents table and records, per count, wall-time,
  * sec/merge, and Spark jobs/merge.
  *
  * What it certifies: each merge is one distributed pair-count
  * aggregation over the cached O(vocab) representation plus a 1-row
  * argmax collect (inherent to BPE — merge k+1 depends on merge k),
  * and the every-[[TextQueries.CheckpointEvery]]-rounds truncation
  * keeps lineage (and therefore per-job work) flat — so wall-time is
  * LINEAR in merge count and jobs/merge is the constant 2 (the
  * aggregation's shuffle-map job and the argmax result job; the lazy
  * checkpoint materializes inside them). Measured on sf0.001 at 4
  * cores: jobs = 2·merges + 4 at 5, 10 and 25 merges. Without the
  * checkpoints, job k replays k chained replace() projections and the
  * curve bends quadratic; that regression is exactly what this harness
  * exists to catch (BASELINE.md records the table). The harness sets
  * `GraftConf.BpeLocalVocabLimit` to 0: under the default limit any
  * vocabulary below 1M words trains on the driver, and the loop above
  * never runs. The record prints the limit it ran with.
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.BpeStress 10,25,50,100" }}}
  */
object BpeStress {

  def main(args: Array[String]): Unit = {
    val counts = args.headOption.getOrElse("10,25,50,100")
      .split(",").map(_.toInt)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.localSession("graft-bpestress", cpus)
    spark.conf.set(GraftConf.BpeLocalVocabLimit.name, "0")
    val localLimit = GraftConf.BpeLocalVocabLimit(spark)

    val meter = QueryListener.attach(spark)
    val docs = Tables.load(spark, src, "documents").cache()
    docs.count() // warm the input so per-count timings measure the loop
    // JIT/codegen warmup — without it the first measured count absorbs
    // classloading and reads 2-5x slow, masking the cost law
    TextQueries.bpeTrain(docs, 5).count()

    val lines = counts.map { k =>
      val (nRules, sec, got) = meter.timed(TextQueries.bpeTrain(docs, k).count())
      val nJobs = got.jobs
      println(f"[bpestress] merges=$k rules=$nRules sec=$sec%.1f " +
        f"sec_per_merge=${sec / k}%.3f jobs=$nJobs " +
        f"jobs_per_merge=${nJobs.toDouble / k}%.2f")
      f"""{"merges":$k,"rules":$nRules,"sec":$sec%.1f,""" +
        f""""sec_per_merge":${sec / k}%.3f,"jobs":$nJobs}"""
    }
    println(s"""{"metric":"bpestress","local_vocab_limit":$localLimit,""" +
      s""""counts":[${lines.mkString(",")}]}""")
    spark.stop()
  }
}
