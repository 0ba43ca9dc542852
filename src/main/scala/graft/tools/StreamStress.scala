package graft.tools

import graft.{GraftConf, RelStress, Tables}

/** Scale-cliff probe for the STREAMING layer — the last family without
  * one (rel_ has [[graft.RelStress]], td_ [[graft.StressSmoke]], the
  * graph operators [[GraphStress]]): replays every `st_*` registry
  * query against a factor-scaled copy of the fixture directory and
  * reports cold/warm wall time plus fenced shuffle-write per query.
  *
  * The scaled copy comes from [[graft.RelStress.scaleTo]] — the SAME
  * user-universe growth model the relational sweep uses (each replica
  * an independent user population, `user_id + rep * stride`, per-user
  * behavior unchanged). For streaming that model is the interesting
  * one: state volume (sessionization windows, dedup keys, join buffers,
  * timer registrations) grows linearly in the factor while per-key
  * cardinality stays fixed, which is exactly how a production stream's
  * state grows — more users, not deeper per-user histories. Watermark
  * eviction behavior is unchanged because event-time spans are NOT
  * shifted per replica.
  *
  * The state-partition count stays at the family default
  * (`spark.graft.stream.statePartitions`, 4) unless overridden on the
  * session — deliberately: holding partitions fixed while state grows
  * measures per-partition state pressure, the quantity a cluster
  * operator would watch to decide when to re-shard. Pass a 4th arg to
  * override for an A/B.
  *
  * A 5th arg picks the SINK MODE (VERDICT r11 #1, r12 #4/#5 — see
  * StreamingQueries.sinkMode for the full semantics):
  *
  *  - (unset): the memory/DSv2 verify leg — every emitted row is
  *    collected to the driver, as the oracle harness does;
  *  - `noop`: engine-only — state machinery runs, rows drop at the
  *    sink (`streamstress_engine_total`);
  *  - `digest`: engine + executor-side order-insensitive row digest —
  *    ONE row per micro-batch reaches the driver, and the per-query
  *    digest lines prove row-identity across A/B runs without the
  *    ~10M-row collections the old verify leg paid
  *    (`streamstress_digest_total`);
  *  - `connector`: like noop for memory-sink queries, but the DSv2
  *    sink queries keep their committed-store WRITE (the external-
  *    system stand-in) and skip only the read-back — the honest
  *    engine+write column for st_sink_* (`streamstress_connector_total`).
  *
  * Run each (rung, mode) in its own JVM so neither sweep warms the
  * other; the metric name distinguishes the records.
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StreamStress 10" }}}
  * {{{ sbt "runMain graft.tools.StreamStress 10 /root/testdata/sf0.1 /tmp/x10 4 noop" }}}
  */
object StreamStress {

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-streamstress-x$scale"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark =
      Tables.pinDialect(Tables.localSession("graft-streamstress", cpus))
    if (args.length > 3 && args(3).nonEmpty)
      spark.conf.set(GraftConf.StreamStatePartitions.name, args(3))
    val mode = GraftConf.StreamSink.read(
      if (args.length > 4 && args(4).nonEmpty) args(4) else "memory")
    spark.conf.set(GraftConf.StreamSink.name, mode)
    // optional 6th arg: registry-name prefix restricting the sweep
    // (e.g. `st_sink_` for the connector-mode column, which only
    // differs from noop on the two DSv2 sink queries — a full-family
    // re-sweep would re-measure 20 unchanged legs). Totals from a
    // filtered run are not family-comparable; the metric name says so.
    // nonEmpty guard: sbt's runMain passes quoted empty strings
    // through literally, and prefix "" would match the ENTIRE registry
    // (rel_/td_ too) under a streaming sink mode
    val prefix = if (args.length > 5 && args(5).nonEmpty) args(5) else "st_"
    RelStress.scaleToIfAbsent(spark, src, out, scale, cpus.toInt)
    val metric = (mode match {
      case "noop" => "streamstress_engine_total"
      case "digest" => "streamstress_digest_total"
      case "connector" => "streamstress_connector_total"
      case _ => "streamstress_total"
    }) + (if (prefix != "st_") s"_${prefix.stripSuffix("_")}" else "")
    RelStress.sweep(spark, out, prefix, metric, scale)
    spark.stop()
  }
}
