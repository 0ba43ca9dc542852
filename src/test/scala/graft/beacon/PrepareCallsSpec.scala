package graft.beacon

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.beacon.BeaconExprs._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end tests for the prepare-calls pipeline against the
  * synthetic fixture (FIXTURES.md §2), asserting the reference's
  * documented edge semantics: trailing-space outcomes, explode counts,
  * error-as-null parses, first-match lookups, file-order outputs.
  */
class PrepareCallsSpec extends AnyFunSuite with SparkTestSession
    with AdaptiveSparkPlanHelper {

  private val users = PrepareCalls.Users(101L, 102L, 103L, 104L)

  private lazy val outputs: PrepareCalls.Outputs = {
    val dir = Files.createTempDirectory("beacon-fixture-")
    val calls = CallsFixture.writeCallsCsv(dir)
    PrepareCalls(PrepareCalls.fromCsv(spark, calls.toString), users)
  }

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.orderBy("_ord").drop("_ord").collect().toSeq

  test("base drops empty attempt dates and preserves file order") {
    val base = outputs.base.orderBy("_idx").select("nhs_number").collect()
    assert(base.map(_.getString(0)).toSeq == CallsFixture.baseNhsOrder)
  }

  test("windows-1252 encoding is decoded (é in notes)") {
    val notes = outputs.base.filter(org.apache.spark.sql.functions
      .col("nhs_number") === "333").select("notes").collect()
    assert(notes.head.getString(0) == "café visits")
  }

  test("multiLine quoted newlines survive") {
    val notes = outputs.base.filter(org.apache.spark.sql.functions
      .col("nhs_number") === "888").select("notes").collect()
    assert(notes.head.getString(0) == "line one\nline two")
  }

  test("original_triage_needs: completion per was_contact_made") {
    val rows = sorted(outputs.originalTriageNeeds)
    assert(rows.size == 9)
    val completed = rows.map(r =>
      r.getString(0) -> Option(r.getDate(5)).map(_.toString))
    assert(completed(0) == ("111" -> Some("2020-04-06"))) // Yes
    assert(completed(1) == ("222" -> Some("2020-04-07"))) // No 3 attempts
    assert(completed(2) == ("333" -> None)) // Unknown
    assert(completed(3) == ("111" -> None)) // No 2 attempts
    assert(completed(4) == ("555" -> None)) // No -1 attempt
    assert(completed(5) == ("666" -> None)) // Invalid phone numbers
    assert(rows.forall(_.getString(1) == "phone triage"))
    assert(rows.forall(_.getString(2) == MsgOriginalTriageNeed))
  }

  test("call-note explode: counts and categories (U1/C14)") {
    val notes = sorted(outputs.originalTriageNotes)
      .filter(_.getString(1) != "phone_import")
    // r0:1 success, r1:3 failure, r2:0, r4:2 message, r5:1 failure,
    // r6:1 failure, r7..r9: 1 success each
    val byNhs = notes.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1))).toMap
    assert(byNhs("111") == Seq("phone_success", "phone_message", "phone_message"))
    assert(byNhs("222") == Seq("phone_failure", "phone_failure", "phone_failure"))
    assert(!byNhs.contains("333")) // unrecognized value → 0 rows
    assert(byNhs("555") == Seq("phone_failure")) // 'Call back ' ≠ voicemail
    assert(byNhs("666") == Seq("phone_failure"))
    assert(byNhs("888") == Seq("phone_success"))
    assert(notes.forall(_.getString(2) == MsgCallLogNote))
  }

  test("notes cat: import notes first, call notes null-padded (U2)") {
    val all = sorted(outputs.originalTriageNotes)
    assert(all.size == 9 + 11)
    val (imports, calls) = all.splitAt(9)
    assert(imports.forall(_.getString(1) == "phone_import"))
    assert(imports.forall(r => !r.isNullAt(5))) // import_data present
    assert(calls.forall(r => r.isNullAt(5))) // null-padded by unionByName
  }

  test("food_needs: raw-priority filter, parse, supplemental JSON (F3/C15/C17)") {
    val rows = sorted(outputs.foodNeeds)
    assert(rows.map(_.getString(0)) == Seq("111", "111", "777"))
    val r0 = rows.head
    assert(Option(r0.getDate(5)).map(_.toString).contains("2020-04-06"))
    assert(r0.getString(6) ==
      """{"food_service_type":"Grocery delivery","food_priority":"1"}""")
    assert(r0.getLong(7) == 101L)
    assert(r0.getString(2).startsWith(MsgGenericNeed + "\n" + MsgClosedFoodNeed))
    val r4 = rows(1) // Priority 3 → open need, no closed-food line
    assert(r4.isNullAt(5))
    assert(r4.getString(6) ==
      """{"food_service_type":"Grocery delivery","food_priority":"3"}""")
    assert(!r4.getString(2).contains(MsgClosedFoodNeed))
    val r7 = rows(2) // no priority → key omitted
    assert(r7.getString(6) == """{"food_service_type":"Grocery delivery"}""")
  }

  test("callback_needs: two date formats, garbage → null, +6 days (C18/C19/F4)") {
    val rows = sorted(outputs.callbackNeeds)
    val startOn = rows.map(r => r.getString(0) -> r.getDate(5).toString)
    assert(startOn == Seq(
      "111" -> "2020-04-12", // food need → latest+6
      "333" -> "2020-04-12", // dotted 12.04.20
      "111" -> "2020-04-15", // r4 food → latest+6
      "555" -> "2020-04-16", // 'Call back ' outcome → latest+6
      "777" -> "2020-04-18", // food referral → latest+6
      "888" -> "2020-04-14")) // slash 14/04/2020
    // r9's 'next tuesday' parses to null and creates no need
    assert(!rows.map(_.getString(0)).contains("999"))
  }

  test("remaining_needs: cat order and user routing (C20)") {
    val rows = sorted(outputs.remainingNeeds)
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(5)))
    assert(got == Seq(
      ("555", "prescription pickups", 103L),
      ("888", "physical and mental wellbeing", 102L),
      ("888", "financial support", 102L),
      ("666", "other", 104L), // no complex/simple → review user
      ("777", "other", 102L), // complex (adult social care)
      ("888", "other", 103L))) // simple (housing/waste)
  }

  test("contact_profile_updates: composed info, dietary 'No' → null, covid ternary") {
    val rows = sorted(outputs.contactProfileUpdates)
    val r0 = rows.head
    assert(r0.getString(1) == "How many people in household: 3 (1 baby)\nNotes: likes calls")
    assert(r0.isNullAt(3)) // dietary 'No' → null (C11)
    assert(r0.getBoolean(4)) // covid Yes
    val r2 = rows(2)
    assert(r2.getString(3) == "vegetarian")
    assert(!r2.getBoolean(4)) // covid No
    val r7 = rows(6)
    assert(r7.isNullAt(4)) // covid Unsure → null (C13)
  }

  test("quality_assurance: first-match lookups and list joins (J1/J2)") {
    val rows = sorted(outputs.qualityAssurance)
    assert(rows.map(_.getString(0)) == CallsFixture.baseNhsOrder)
    val byIdx = rows.toIndexedSeq
    // both 111 rows use r0's (first) food need and triage status
    for (i <- Seq(0, 3)) {
      assert(byIdx(i).getString(2) == "Completed")
      assert(byIdx(i).getString(4) ==
        "Food need created\nPriority: 1\nStatus: Completed\nAssigned to: 101")
      assert(byIdx(i).getString(3) ==
        "phone_success, phone_message, phone_message")
      assert(byIdx(i).getString(5) ==
        "Callback need created\nStart on: 2020-04-12")
    }
    assert(byIdx(2).getString(2) == "To do") // 333 unrecognized contact
    assert(byIdx(2).isNullAt(3)) // 0 call notes → null
    assert(byIdx(7).getString(6) ==
      "Physical And Mental Wellbeing (Assigned to 102)\n" +
        "Financial Support (Assigned to 102)\nOther (Assigned to 103)")
    // call_log composes labeled fields in header order (C4)
    assert(byIdx(1).getString(7) == "Contact successful: No 3 attempts made")
    assert(byIdx(0).getString(7).startsWith(
      "Contact successful: Yes\nOutcome: Food referral\n"))
  }

  test("qa joins are broadcast at fixture scale without forced hints (AQE)") {
    // The QA build side is one O(n) rollup of the input table (a row per
    // nhs_number), so the code pins no broadcast(); this asserts the perf
    // property — one shuffle, for the rollup, and AQE still broadcasts it
    // while it is actually small — without hard-coding the strategy for
    // scales where it would be wrong.
    val df = outputs.qualityAssurance
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan
    val keys = collect(plan) { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case a: Attribute => a.name }
        case other => Seq(other.toString)
      }
    }
    assert(keys == Seq(Seq("nhs_number")), plan)
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size == 1, plan)
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan)
  }

  test("import_data default is the compact serializer; petl-byte twin pinned (C1)") {
    // Registry decision (SURVEY §7.3.3, VERDICT r13 #4): the pipelines
    // default to the codegen'd compact to_json form — the only consumer
    // is the Postgres jsonb staging column, which normalizes separators
    // and never sees the byte difference — while serializeRowPetlStyle
    // stays the opt-in json.dumps-byte-exact golden vehicle. Both forms
    // are pinned HERE on one row: semantic (parsed) equality plus the
    // exact expected bytes of each, so either serializer drifting (or
    // the default silently switching) fails this test, not a diff far
    // downstream.
    val sp = spark
    import sp.implicits._
    val df = Seq(("111", "café", "a\"b")).toDF("NHSNumber", "Name", "Note")
    val keys = Seq("NHSNumber", "Name", "Note")
    val compact = df.select(serializeRow(keys).as("j")).head().getString(0)
    val petl = df.select(serializeRowPetlStyle(keys).as("j"))
      .head().getString(0)
    // the committed defaults, byte-exact
    assert(compact ==
      "{\"NHSNumber\":\"111\",\"Name\":\"café\",\"Note\":\"a\\\"b\"}")
    assert(petl ==
      "{\"NHSNumber\": \"111\", \"Name\": \"caf\\u00e9\", \"Note\": \"a\\\"b\"}")
    // semantic equality: both parse to the identical object
    val Seq(cp, pp) = Seq(compact, petl).map(s =>
      Seq(s).toDF("j").select(
        org.apache.spark.sql.functions.from_json($"j",
          org.apache.spark.sql.types.StructType(keys.map(k =>
            org.apache.spark.sql.types.StructField(k,
              org.apache.spark.sql.types.StringType)))).as("o"))
        .select("o.*").head())
    assert(cp == pp)
    // and the pipeline column really is the compact form
    val row = outputs.base.select("import_data").head().getString(0)
    assert(row.startsWith("{\"") && !row.contains("\": \""),
      s"import_data is not the compact default: $row")
  }

  test("CSV sink writes ordered single file with empty cells for null (S4)") {
    val dir = Files.createTempDirectory("beacon-out-")
    CsvIO.writeCsv(outputs.qualityAssurance, s"$dir/quality_assurance.csv")
    val lines = Files.readAllLines(dir.resolve("quality_assurance.csv"))
    assert(lines.get(0).startsWith("nhs_number,latest_attempt_date,"))
    // 9 data rows in file order; quoted multi-line cells expand the file,
    // so just anchor the first data row's key columns
    assert(lines.get(1).startsWith("111,2020-04-06,Completed,"))
  }

  test("ragged CSV rows: missing trailing fields read as nulls (PERMISSIVE)") {
    val dir = Files.createTempDirectory("ragged-")
    // header + one complete row + one row with only the first 5 fields
    val header = CallsFixture.toCsv(Seq(CallsHeaderMap.fields.map(_.original)))
    val full = CallsFixture.toCsv(Seq(
      CallsHeaderMap.canonicalOrder.map(c =>
        Map("nhs_number" -> "1", "latest_attempt_date" -> "01/04/2020",
          "was_contact_made" -> "Yes").getOrElse(c, ""))))
    val ragged = "2,x,02/04/2020,09:00,Yes\n"
    val p = dir.resolve("calls.csv")
    java.nio.file.Files.write(p, (header + full + ragged)
      .getBytes(java.nio.charset.Charset.forName("windows-1252")))
    val out = PrepareCalls(PrepareCalls.fromCsv(spark, p.toString),
      PrepareCalls.Users(1L, 2L, 3L, 4L))
    val base = out.base.orderBy("_idx").collect()
    assert(base.length == 2) // both rows have attempt dates → both kept
    // the ragged row's absent columns are null → falsy to every predicate
    assert(sortedRows(out.remainingNeeds).isEmpty)
    val triage = sortedRows(out.originalTriageNeeds)
    assert(triage.map(_.getString(0)) == Seq("1", "2"))
  }

  /** A canonical frame from canonical-name → value maps through
    * [[PrepareCalls.canonicalize]]; an absent name is null, as the CSV
    * reader yields a blank cell. */
  private def canonical(rows: Seq[Map[String, String]]): DataFrame = {
    val names = CallsHeaderMap.canonicalOrder
    PrepareCalls.canonicalize(spark.createDataFrame(
      rows.map(r => Row.fromSeq(names.map(r.get(_).orNull))).asJava,
      StructType(names.map(StructField(_, StringType)))))
  }

  private val qaLookups = Seq("original_triage_status",
    "original_triage_call_notes", "food_need", "callback_need",
    "remaining_needs")

  test("quality_assurance: a null nhs_number matches no lookup, not even another null") {
    val out = PrepareCalls(canonical(Seq(
      Map("latest_attempt_date" -> "06/04/2020", "was_contact_made" -> "Yes",
        "outcome" -> "Food referral ", "food_priority" -> "Priority 1",
        "addl_medication_prescriptions" -> "insulin"),
      Map("latest_attempt_date" -> "07/04/2020",
        "was_contact_made" -> "No 2 attempts made",
        "callback_date" -> "14/04/2020", "addl_financial" -> "debt"),
      Map("nhs_number" -> "100", "latest_attempt_date" -> "08/04/2020",
        "was_contact_made" -> "Yes"))), users)
    val rows = sortedRows(out.qualityAssurance.select("nhs_number",
      qaLookups :+ "_ord": _*))
    assert(rows.size == 3)
    for (r <- rows.take(2)) {
      assert(r.isNullAt(0))
      assert((1 to qaLookups.size).forall(r.isNullAt), r)
    }
    assert(rows(2).getString(1) == "Completed") // a keyed row still matches
  }

  test("quality_assurance: first MATCHING row per lookup, needs in cat order (J1/J2)") {
    val out = PrepareCalls(canonical(Seq(
      // 100's first row: no food or callback need
      Map("nhs_number" -> "100", "latest_attempt_date" -> "06/04/2020",
        "was_contact_made" -> "No 2 attempts made"),
      // 200's earlier row: a wellbeing need (cat rank 1)
      Map("nhs_number" -> "200", "latest_attempt_date" -> "07/04/2020",
        "was_contact_made" -> "Yes", "addl_mental_wellbeing" -> "anxious"),
      // 100's later row: food and callback needs
      Map("nhs_number" -> "100", "latest_attempt_date" -> "08/04/2020",
        "was_contact_made" -> "Yes", "food_priority" -> "Priority 2",
        "callback_date" -> "20/04/2020"),
      // 200's later row: a prescription need (cat rank 0)
      Map("nhs_number" -> "200", "latest_attempt_date" -> "09/04/2020",
        "was_contact_made" -> "Yes",
        "addl_medication_prescriptions" -> "insulin"))), users)
    val rows = sortedRows(out.qualityAssurance.select("nhs_number",
      qaLookups :+ "_ord": _*))
    assert(rows.map(_.getString(0)) == Seq("100", "200", "100", "200"))
    for (r <- Seq(rows(0), rows(2))) {
      assert(r.getString(1) == "To do") // the first row's, not a later match
      assert(r.getString(2) ==
        "phone_failure, phone_failure, phone_success")
      assert(r.getString(3) ==
        "Food need created\nPriority: 2\nStatus: Completed\nAssigned to: 101")
      assert(r.getString(4) == "Callback need created\nStart on: 2020-04-20")
      assert(r.isNullAt(5))
    }
    for (r <- Seq(rows(1), rows(3))) {
      assert(r.isNullAt(3) && r.isNullAt(4))
      assert(r.getString(5) == "Prescription Pickups (Assigned to 103)\n" +
        "Physical And Mental Wellbeing (Assigned to 102)")
    }
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.orderBy("_ord").drop("_ord").collect().toSeq
}
