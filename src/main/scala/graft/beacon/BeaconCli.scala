package graft.beacon

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Argument-compatible CLI for the two reference commands
  * (beacon/cli.py:7-12; option names from prepare_calls.py:20-29,
  * prepare_contacts.py:8-9):
  *
  * {{{
  * beacon prepare-contacts GDS_FILE                          > contacts.csv
  * beacon prepare-calls -o DIR -fnu N -cnu N -snu N -clru N CALLS_FILE
  * }}}
  */
object BeaconCli {

  def main(args: Array[String]): Unit = args.toList match {
    case "prepare-contacts" :: rest => prepareContacts(rest)
    case "prepare-calls" :: rest => prepareCalls(rest)
    case other =>
      System.err.println(
        s"usage: beacon (prepare-contacts|prepare-calls) ...; got: $other")
      sys.exit(2)
  }

  private def session(): SparkSession =
    Tables.pinDialect(Tables.localSession("beacon"))

  private def prepareContacts(args: List[String]): Unit = args match {
    case gdsPath :: Nil =>
      val spark = session()
      CsvIO.writeStdout(
        PrepareContacts(PrepareContacts.fromCsv(spark, gdsPath)))
      spark.stop()
    case _ =>
      System.err.println("usage: beacon prepare-contacts GDS_FILE")
      sys.exit(2)
  }

  private val callsFlags = Map(
    "-o" -> "output-dir", "--output-dir" -> "output-dir",
    "-fnu" -> "food-needs-user", "--food-needs-user" -> "food-needs-user",
    "-cnu" -> "complex-needs-user", "--complex-needs-user" -> "complex-needs-user",
    "-snu" -> "simple-needs-user", "--simple-needs-user" -> "simple-needs-user",
    "-clru" -> "call-log-review-user", "--call-log-review-user" -> "call-log-review-user")

  private def prepareCalls(args: List[String]): Unit = {
    def parse(rest: List[String], opts: Map[String, String],
        positional: List[String]): (Map[String, String], List[String]) =
      rest match {
        case Nil => (opts, positional.reverse)
        case flag :: value :: tail if callsFlags.contains(flag) =>
          parse(tail, opts + (callsFlags(flag) -> value), positional)
        case arg :: tail => parse(tail, opts, arg :: positional)
      }
    val (opts, positional) = parse(args, Map.empty, Nil)
    val required = callsFlags.values.toSet
    val missing = required.filterNot(opts.contains)
    if (missing.nonEmpty || positional.length != 1) {
      System.err.println(
        s"usage: beacon prepare-calls -o DIR -fnu N -cnu N -snu N -clru N CALLS_FILE" +
          (if (missing.nonEmpty) s"\nmissing: ${missing.mkString(", ")}" else ""))
      sys.exit(2)
    }
    val spark = session()
    val users = PrepareCalls.Users(
      opts("food-needs-user").toLong,
      opts("complex-needs-user").toLong,
      opts("simple-needs-user").toLong,
      opts("call-log-review-user").toLong)
    run(spark, positional.head, opts("output-dir"), users)
    spark.stop()
  }

  /** The prepare-calls work, session-agnostic (reused by tests and the
    * benchmark): the seven reference CSVs through [[writeSinks]]. */
  def run(spark: SparkSession, callsPath: String, outputDir: String,
      users: PrepareCalls.Users): Unit =
    writeSinks(PrepareCalls(PrepareCalls.fromCsv(spark, callsPath), users)) {
      (name, df) => CsvIO.writeCsv(df, s"$outputDir/$name.csv")
    }

  /** Sinks written at once. Each is a distributed sort+write job, and
    * every concurrent job multiplies peak execution memory (sort
    * buffers across all its tasks). Measured: 3-at-a-time completes 5M
    * rows on the default heap where 7-at-a-time OOMs — and is no slower
    * at any size (the jobs pipeline through the pool). */
  private[beacon] val SinkConcurrency = 3

  /** Materialize `outputs`' shared base once, up front, then `write`
    * every sink as concurrent Spark jobs, [[SinkConcurrency]] at a
    * time: they share the cached base scan, and each single-file CSV
    * write is itself one task, so concurrency is what keeps the
    * cluster busy. */
  def writeSinks(outputs: PrepareCalls.Outputs)(
      write: (String, DataFrame) => Unit): Unit = {
    outputs.base.count()
    val pool = Executors.newFixedThreadPool(SinkConcurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writes = outputs.all.map { case (name, df) => Future(write(name, df)) }
      Await.result(Future.sequence(writes), Duration.Inf)
    } finally pool.shutdown()
  }
}
