package graft.tools

import graft.{QueryListener, Tables}
import graft.queries.TextQueries

/** Cost-law probe for the distributed BPE trainer (sibling of
  * [[FuzzyStress]]/[[GraphStress]]): trains at increasing merge counts
  * on the real documents table and records, per count, wall-time,
  * sec/merge, and Spark jobs/merge.
  *
  * What it certifies: each merge is ONE distributed pair-count job over
  * the cached O(vocab) representation plus a 1-row argmax collect
  * (inherent to BPE — merge k+1 depends on merge k), and the
  * every-[[TextQueries.CheckpointEvery]]-rounds localCheckpoint keeps
  * lineage (and therefore per-job work) flat — so wall-time is LINEAR
  * in merge count and jobs/merge is a small constant (~2: the argmax
  * job + the interleaved checkpoint materialization). Without the
  * checkpoints, job k replays k chained replace() projections and the
  * curve bends quadratic; that regression is exactly what this harness
  * exists to catch (BASELINE.md records the table).
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
    println(s"""{"metric":"bpestress","counts":[${lines.mkString(",")}]}""")
    spark.stop()
  }
}
