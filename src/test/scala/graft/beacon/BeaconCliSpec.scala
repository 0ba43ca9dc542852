package graft.beacon

import java.nio.file.Files

import graft.{QueryListener, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** End-to-end CLI-path test: fixture calls.csv in, the reference's seven
  * named output CSVs out (prepare_calls.py:176-191), each a single file
  * with header + file-ordered rows. */
class BeaconCliSpec extends AnyFunSuite with SparkTestSession {

  test("prepare-calls writes the seven reference output files") {
    val inDir = Files.createTempDirectory("cli-in-")
    val outDir = Files.createTempDirectory("cli-out-")
    val calls = CallsFixture.writeCallsCsv(inDir)
    BeaconCli.run(spark, calls.toString, outDir.toString,
      PrepareCalls.Users(101L, 102L, 103L, 104L))

    val expected = Set("quality_assurance.csv", "contact_profile_updates.csv",
      "original_triage_needs.csv", "original_triage_notes.csv",
      "food_needs.csv", "callback_needs.csv", "remaining_needs.csv")
    val written = Files.list(outDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(written == expected)

    val needs = Files.readAllLines(outDir.resolve("original_triage_needs.csv"))
    assert(needs.get(0) ==
      "nhs_number,category,name,created_at,updated_at,completed_on")
    assert(needs.size == 10) // header + 9 base rows (no embedded newlines)
    assert(needs.get(1).startsWith("111,phone triage,"))
    assert(needs.get(1).endsWith(",2020-04-06,2020-04-06,2020-04-06"))
    assert(needs.get(3).endsWith(",2020-04-08,2020-04-08,")) // null → empty

    // profile CSV has quoted multi-line cells — read it back with the
    // engine's own reader and check the round trip
    val profile = spark.read.option("header", true).option("multiLine", true)
      .csv(outDir.resolve("contact_profile_updates.csv").toString)
    assert(profile.columns.toSeq == Seq("nhs_number", "additional_info",
      "delivery_details", "dietary_details", "has_covid_symptoms"))
    val rows = profile.collect()
    assert(rows.length == 9)
    val covid = rows.map(r => Option(r.getString(4))).toSeq
    // booleans serialize as true/false, null as empty (read back as null)
    assert(covid.count(_.contains("true")) == 1) // r0 'Yes'
    assert(covid.count(_.contains("false")) == 1) // r2 'No'
    assert(covid.count(_.isEmpty) == 7) // '' and 'Unsure' → null → empty
    assert(rows.exists(r => Option(r.getString(1))
      .exists(_.contains("How many people in household: 3 (1 baby)"))))
  }

  test("the seven sinks are written at most SinkConcurrency at a time") {
    val inDir = Files.createTempDirectory("cli-in-")
    val calls = CallsFixture.writeCallsCsv(inDir)
    val outputs = PrepareCalls(PrepareCalls.fromCsv(spark, calls.toString),
      PrepareCalls.Users(101L, 102L, 103L, 104L))
    val running = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    BeaconCli.writeSinks(outputs) { (name, _) =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      try Thread.sleep(100) finally running.decrementAndGet()
      written.add(name)
    }
    assert(written.asScala == outputs.all.keySet)
    assert(BeaconCli.SinkConcurrency == 3)
    assert(peak.get == BeaconCli.SinkConcurrency)
  }

  test("per-sink job counts on the fixture: the QA audit table takes at most 5") {
    val inDir = Files.createTempDirectory("cli-in-")
    val outDir = Files.createTempDirectory("cli-out-")
    val calls = CallsFixture.writeCallsCsv(inDir)
    val outputs = PrepareCalls(PrepareCalls.fromCsv(spark, calls.toString),
      PrepareCalls.Users(101L, 102L, 103L, 104L))
    outputs.base.count() // the shared base, materialized as writeSinks does
    val listener = QueryListener.attach(spark)
    val jobs = try outputs.all.toSeq.sortBy(_._1).map { case (name, df) =>
      name -> listener.timed(CsvIO.writeCsv(df, s"$outDir/$name.csv"))._3.jobs
    } finally listener.detach()
    info(jobs.map { case (n, j) => s"$n=$j" }.mkString(" "))
    assert(jobs.toMap.apply("quality_assurance") <= 5, jobs)
  }
}
