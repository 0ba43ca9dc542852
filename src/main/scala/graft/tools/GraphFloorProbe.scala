package graft.tools

import org.apache.spark.sql.functions._

/** Attribution probe for the graph queries' warm walls (VERDICT r17
  * #4 for pagerank, r18 #6 for kcore/labelprop): times each graph
  * query's operator at 0..3 iterations on a warm JVM, so iters=0
  * isolates the shared edge-derivation + cache-materialization floor
  * (lineitem⋈orders distinct + persist + node count) and the deltas
  * give the per-round cost; `op=pagerank` lines are the pagerank
  * ladder. All three operators
  * already persist the derived edge table once per run (within-query
  * derivation reuse), so what this probe settles is whether the warm
  * walls are that shared floor or per-round work. Measurement tooling
  * only.
  *
  * {{{ tools/runmain.sh graft.tools.GraphFloorProbe /root/testdata/sf0.1 }}}
  */
object GraphFloorProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.pinDialect(
      graft.Tables.localSession("graft-gfprobe", cpus))
    def undirected = {
      val e0 = graft.Tables.load(spark, dir, "lineitem")
        .join(graft.Tables.load(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    }
    // the registry's kcore threshold (GraphQueries.CoreK)
    val coreK = 10
    val ops: Seq[(String, Int => Long)] = Seq(
      ("pagerank", i => graft.operators.PageRank.run(undirected, i).count()),
      ("kcore", i => graft.operators.KCore.run(undirected, coreK, i).count()),
      ("labelprop",
        i => graft.operators.LabelPropagation.run(undirected, i).count()))
    for ((name, run) <- ops) {
      run(3) // JIT/page-cache warmup per operator
      // KCore requires rounds >= 1: its floor is read as 2*t(1) - t(2)
      // (derivation + caches = t(1) minus one round's delta)
      val ladder = if (name == "kcore") Seq(1, 2, 3, 3) else Seq(0, 1, 2, 3, 3)
      for (iters <- ladder) {
        val t0 = System.nanoTime()
        val n = run(iters)
        println(f"[gfprobe] op=$name iters=$iters rows=$n " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    }
    spark.stop()
  }
}
