package graft.beacon

import java.nio.file.Files

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class PrepareContactsSpec extends AnyFunSuite with SparkTestSession {

  private lazy val contacts = {
    val dir = Files.createTempDirectory("gds-fixture-")
    val gds = CallsFixture.writeGdsCsv(dir)
    PrepareContacts(PrepareContacts.fromCsv(spark, gds.toString),
      now = "2026-08-12T00:00:00")
  }

  test("output columns match the reference cut order") {
    assert(contacts.columns.toSeq ==
      PrepareContacts.outputColumns :+ "_ord")
  }

  test("address concat skips empty parts, includes postcode (C3)") {
    val rows = contacts.orderBy("_ord").collect()
    assert(rows(0).getString(4) == "Flat 2, 10 High St, NW1 2AB")
    assert(rows(1).getString(4) == "1 Low Rd, Camden, NW1 9ZZ")
    assert(rows(2).getString(4) == "") // all parts empty
  }

  test("date_of_birth strict dd/MM/yyyy with error-as-null (C2/P5)") {
    val rows = contacts.orderBy("_ord").collect()
    assert(rows(0).getDate(8).toString == "1980-01-31")
    assert(rows(1).isNullAt(8)) // 29/02/2001 does not exist
    assert(rows(2).getDate(8).toString == "1955-06-05")
  }

  test("driver-captured single timestamp, not per-row clock (§7.3.7)") {
    val rows = contacts.collect()
    assert(rows.forall(_.getString(9) == "2026-08-12T00:00:00"))
    assert(rows.forall(_.getString(10) == "2026-08-12T00:00:00"))
  }

  test("stdout sink streams the ordered CSV (S3)") {
    def stdout(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        CsvIO.writeStdout(df)
      }
      out.toByteArray
    }
    val lines = new String(stdout(contacts), "UTF-8").linesIterator.toSeq
    assert(lines.head.startsWith("nhs_number,first_name,"))
    assert(lines(1).startsWith("111,Joan,M,Smith,"))
    assert(lines.length == 1 + 3)

    // quoted cells holding \r\n or a lone \r: stdout is the file's bytes
    val dir = Files.createTempDirectory("gds-cr-")
    val gds = dir.resolve("gds.csv")
    val rows = CallsFixture.gdsRows
      .updated(0, CallsFixture.gdsRows(0).updated(4, "1 High St\r\nFlat 2"))
      .updated(1, CallsFixture.gdsRows(1).updated(5, "Unit\r3"))
    Files.write(gds, CallsFixture.toCsv(CallsFixture.gdsHeader +: rows)
      .getBytes("UTF-8"))
    val crContacts = PrepareContacts(PrepareContacts.fromCsv(spark, gds.toString),
      now = "2026-08-12T00:00:00")
    val file = dir.resolve("contacts.csv")
    CsvIO.writeCsv(crContacts, file.toString)
    val fileBytes = Files.readAllBytes(file)
    assert(new String(fileBytes, "UTF-8").contains("1 High St\r\nFlat 2"))
    assert(stdout(crContacts).sameElements(fileBytes))
  }

  test("gds_import_data serializes the original row keyed by source header (C1)") {
    val r0 = contacts.orderBy("_ord").collect()(0)
    val json = r0.getString(11)
    assert(json.contains("\"NHSNumber\":\"111\""))
    assert(json.contains("\"DOB\":\"31/01/1980\"")) // raw, pre-parse value
    assert(json.contains("\"Address3\":\"\"")) // empty cells kept as ""
  }

  test("petl-style JSON serializer is byte-identical to Python json.dumps") {
    val sp = spark
    import sp.implicits._
    val df = Seq(("111", "caf\u00e9", "a\"b")).toDF("NHSNumber", "Name", "Note")
    val got = df.select(graft.beacon.BeaconExprs
        .serializeRowPetlStyle(Seq("NHSNumber", "Name", "Note")).as("j"))
      .collect().head.getString(0)
    // reference output from python3 json.dumps over the same dict
    assert(got == "{\"NHSNumber\": \"111\", \"Name\": \"caf\\u00e9\", \"Note\": \"a\\\"b\"}")
  }
}
