package graft.beacon

import java.nio.file.Files

import graft.SparkTestSession
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

  test("spark.graft.sink.concurrency must be an integer >= 1, named on failure") {
    val inDir = Files.createTempDirectory("cli-in-")
    val outDir = Files.createTempDirectory("cli-out-")
    val calls = CallsFixture.writeCallsCsv(inDir)
    val key = "spark.graft.sink.concurrency"
    for (bad <- Seq("abc", "0", "-2", "1.5")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException] {
          BeaconCli.run(spark, calls.toString, outDir.toString,
            PrepareCalls.Users(101L, 102L, 103L, 104L))
        }
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"))
      } finally spark.conf.unset(key)
    }
    assert(Files.list(outDir).count() == 0) // failed before any sink ran
  }
}
