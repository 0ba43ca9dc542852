package graft.beacon

import java.nio.file.Files

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The prepare-calls base is split by Spark's file-split rule over the
  * input's bytes, never below 2 partitions, and the partition count never
  * reaches the output files: their order comes from `_ord` alone. */
class BasePartitionsSpec extends AnyFunSuite with SparkTestSession {

  private val users = PrepareCalls.Users(101L, 102L, 103L, 104L)
  private lazy val calls =
    CallsFixture.writeCallsCsv(Files.createTempDirectory("base-parts-in-"))

  private def baseParts(): Int = {
    val outputs = PrepareCalls(PrepareCalls.fromCsv(spark, calls.toString), users)
    try outputs.base.rdd.getNumPartitions
    finally outputs.base.unpersist()
  }

  /** Run the CLI path into a fresh directory; file name → bytes. */
  private def runCli(): Map[String, Array[Byte]] = {
    val out = Files.createTempDirectory("base-parts-out-")
    BeaconCli.run(spark, calls.toString, out.toString, users)
    Files.list(out).iterator().asScala.toSeq
      .map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap
  }

  /** Run `body` with small file-split confs, restoring the shared
    * session's previous values afterwards. */
  private def withSmallSplits[T](body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes" -> "256",
      "spark.sql.files.openCostInBytes" -> "64")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a small input gets the floor of 2 base partitions, not 1") {
    assert(baseParts() == 2)
  }

  test("small split confs fan the base out; the seven CSVs stay byte-identical") {
    val atFloor = runCli()
    val (parts, fanned) = withSmallSplits((baseParts(), runCli()))
    assert(parts > 2)
    assert(atFloor.keySet.size == 7 && fanned.keySet == atFloor.keySet)
    atFloor.foreach { case (name, bytes) =>
      assert(fanned(name).sameElements(bytes), s"$name differs")
    }
  }

  test("a source with no size estimate gets the default parallelism") {
    val raw = PrepareCalls.fromCsv(spark, calls.toString).drop("_idx")
    val fromRdd =
      PrepareCalls.canonicalize(spark.createDataFrame(raw.rdd, raw.schema))
    assert(PrepareCalls.basePartitions(fromRdd) ==
      spark.sparkContext.defaultParallelism.max(2))
  }
}
