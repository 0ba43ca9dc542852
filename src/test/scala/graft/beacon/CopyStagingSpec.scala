package graft.beacon

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The psql \COPY leg of S5: every prepared staging file must pre-flight
  * cleanly under the same rules Postgres applies at copy time (jsonb
  * parses, NOT NULL non-empty, date/boolean/bigint coercible), and the
  * generated DDL + load script must match the reference's documented
  * flow (README.md:49-78). */
class CopyStagingSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val users = PrepareCalls.Users(101L, 102L, 103L, 104L)

  private lazy val outputs: PrepareCalls.Outputs = {
    val dir = Files.createTempDirectory("beacon-copy-fixture-")
    val calls = CallsFixture.writeCallsCsv(dir)
    PrepareCalls(PrepareCalls.fromCsv(spark, calls.toString), users)
  }

  /** prepared output → staging table it \COPYs into (README.md:73-78). */
  private val stagingOf = Map(
    "original_triage_needs" -> "tmp_original_triage_needs",
    "original_triage_notes" -> "tmp_original_triage_notes",
    "food_needs" -> "tmp_identified_needs",
    "callback_needs" -> "tmp_identified_needs",
    "remaining_needs" -> "tmp_identified_needs",
    "contact_profile_updates" -> "tmp_contact_profile_updates")

  test("every prepared staging file passes copy-time validation") {
    stagingOf.foreach { case (out, table) =>
      CopyStaging.validate(outputs.all(out), table)
    }
  }

  test("invalid jsonb cells are counted per rule") {
    val notes = outputs.originalTriageNotes
      .withColumn("import_data",
        when(col("import_data").isNotNull, lit("{not json")).otherwise(col("import_data")))
    val v = CopyStaging.violations(notes, "tmp_original_triage_notes")
    assert(v.keySet == Set("import_data: jsonb"))
    assert(v("import_data: jsonb") > 0)
  }

  test("NOT NULL and type rules catch bad cells in string-typed frames") {
    val df = Seq(
      ("111", "phone triage", "ok", "2020-04-06", "2020-04-06", null.asInstanceOf[String]),
      (null.asInstanceOf[String], "phone triage", "bad-null", "06/04/2020", "2020-04-06", "x")
    ).toDF("nhs_number", "category", "name", "created_at", "updated_at",
      "completed_on")
    val v = CopyStaging.violations(df, "tmp_original_triage_needs")
    assert(v("nhs_number: NOT NULL") == 1)
    assert(v("created_at: date") == 1) // 06/04/2020 is not COPY-safe ISO
    assert(v("completed_on: date") == 1) // "x" is not a date
  }

  test("a calls row with every labelled field blank stages a NULL body") {
    // compose_body over no non-blank labelled field gives "", and
    // \COPY reads an empty unquoted CSV cell as NULL, so the reference
    // rejects such a row at import exactly as this check does; the
    // shape is a dated row carrying only nhs_number, date and time
    val dir = Files.createTempDirectory("beacon-blank-row-")
    val calls = dir.resolve("calls.csv")
    val row = Map("nhs_number" -> "321", "latest_attempt_date" -> "23/05/2020",
      "latest_attempt_time" -> "14:34")
    Files.write(calls, CallsFixture.toCsv(Seq(
      CallsHeaderMap.fields.map(_.original),
      CallsHeaderMap.canonicalOrder.map(c => row.getOrElse(c, ""))))
      .getBytes(java.nio.charset.Charset.forName("windows-1252")))
    val notes = PrepareCalls(PrepareCalls.fromCsv(spark, calls.toString), users)
      .originalTriageNotes
    assert(notes.select("body").collect().map(_.getString(0)).toSeq == Seq(""))
    assert(CopyStaging.violations(notes, "tmp_original_triage_notes") ==
      Map("body: NOT NULL" -> 1L))
  }

  test("a frame missing a NOT NULL column is rejected outright") {
    val df = Seq(("a", "b")).toDF("nhs_number", "category")
    val e = intercept[IllegalArgumentException] {
      CopyStaging.violations(df, "tmp_original_triage_needs")
    }
    assert(e.getMessage.contains("NOT NULL columns absent"))
  }

  test("a frame with a column the table lacks is rejected outright") {
    val df = Seq(("a", "b", "c", "d", "e", "f")).toDF("nhs_number",
      "category", "name", "created_at", "updated_at", "bogus")
    val e = intercept[IllegalArgumentException] {
      CopyStaging.violations(df, "tmp_original_triage_needs")
    }
    assert(e.getMessage.contains("bogus"))
  }

  test("boolean cells accept Postgres' unique prefixes, reject ambiguous") {
    // boolin accepts any unique case-insensitive prefix of
    // true/false/yes/no/on/off plus 1/0; bare "o" is ambiguous (on/off)
    val df = Seq("tr", "FALS", "ye", "of", "on", "1", "o", "maybe")
      .toDF("has_covid_symptoms")
      .withColumn("nhs_number", lit("111"))
    val v = CopyStaging.violations(df, "tmp_contact_profile_updates")
    assert(v.get("has_covid_symptoms: boolean").contains(2L)) // o, maybe
  }

  test("bigint cells require strict integer syntax, not cast semantics") {
    val df = Seq(
      ("111", "3.7"), // int8in rejects; a non-ANSI cast would truncate to 3
      ("112", " 42 "), // whitespace-trimmed: loads
      ("113", "9999999999999999999"), // overflows int8: rejected
      ("114", "-12")) // loads
      .toDF("nhs_number", "user_id")
      .withColumn("category", lit("phone triage"))
      .withColumn("created_at", lit("2020-04-06"))
      .withColumn("updated_at", lit("2020-04-06"))
    val v = CopyStaging.violations(df, "tmp_identified_needs")
    assert(v.get("user_id: bigint").contains(2L)) // 3.7 and the overflow
  }

  test("load script reproduces the documented psql flow") {
    val script = CopyStaging.loadScript
    // DDL declares the jsonb columns (the dialect behavior Derby lacks)
    assert(script.contains("import_data jsonb"))
    assert(script.contains("supplemental_data jsonb"))
    // the \COPY statements match README.md:73-78 verbatim in shape
    assert(script.contains("\\COPY tmp_identified_needs (nhs_number, " +
      "category, name, created_at, updated_at, completed_on, " +
      "supplemental_data, user_id) FROM food_needs.csv DELIMITER ',' CSV HEADER"))
    assert(script.contains("\\COPY tmp_contact_profile_updates (nhs_number, " +
      "additional_info, delivery_details, dietary_details, " +
      "has_covid_symptoms) FROM contact_profile_updates.csv DELIMITER ',' CSV HEADER"))
    // one load line per prepared file
    assert(CopyStaging.loads.size == 7)
  }
}
