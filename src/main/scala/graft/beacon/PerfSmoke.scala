package graft.beacon

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.file.Files

import graft.Tables
import graft.beacon.CallsHeaderMap.{canonicalOrder, fields}

/** End-to-end perf smoke for the beacon domain layer, committed so the
  * BASELINE.md numbers stay reproducible round over round:
  * generates an N-row windows-1252 calls.csv by cycling representative
  * row patterns (~3 rows per nhs_number → the lookup/rollup joins have
  * realistic key cardinality), runs the full prepare-calls pipeline
  * (all seven sinks via [[BeaconCli.run]]), prints one JSON line.
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.beacon.PerfSmoke 200000" }}}
  */
object PerfSmoke {

  // representative value-domain patterns (subset of the test fixture's
  // classes: success+food, failed attempts, callback, other-needs)
  private val patterns: Seq[Map[String, String]] = Seq(
    Map("latest_attempt_date" -> "06/04/2020", "was_contact_made" -> "Yes",
      "outcome" -> "Food referral ", "food_priority" -> "Priority 1",
      "household_count" -> "3 (1 baby)", "dietary_requirements" -> "No",
      "has_covid_symptoms" -> "Yes", "notes" -> "likes calls"),
    Map("latest_attempt_date" -> "07/04/2020",
      "was_contact_made" -> "No 3 attempts made"),
    Map("latest_attempt_date" -> "08/04/2020", "was_contact_made" -> "Yes",
      "callback_date" -> "12.04.20", "outcome" -> "Call back ",
      "dietary_requirements" -> "vegetarian", "has_covid_symptoms" -> "No",
      "notes" -> "café visits, \"quoted\"\nsecond line"),
    Map("latest_attempt_date" -> "09/04/2020", "was_contact_made" -> "Yes",
      "outcome" -> "Other referral", "addl_adult_social_care" -> "concern",
      "has_covid_symptoms" -> "Unsure"),
    Map("latest_attempt_date" -> "10/04/2020", "was_contact_made" -> "Yes",
      "callback_date" -> "14/04/2020", "addl_housing_waste" -> "bins",
      "addl_mental_wellbeing" -> "anxious", "addl_financial" -> "debt"))

  private def quote(cell: String): String =
    if (cell.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + cell.replace("\"", "\"\"") + "\""
    else cell

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    // "csv" (default) = reference-parity single-file ordered sinks
    // (distributed sort + ordered part concat; single FILE, not a
    // single task); "parquet" = the engine path: partitioned parquet,
    // which is what a 100 TB deployment writes; "staged" = the
    // documented 100 TB INGEST answer (SURVEY §7.3.8, VERDICT r13 #6):
    // the unsplittable multiLine windows-1252 CSV is parsed ONCE into
    // a staged parquet table (the single-task parse paid exactly
    // once, `_idx` file order captured in that pass), and all nine
    // pipelines then run from the splittable staged base — every
    // downstream scan parallelizes like any other parquet table
    val sink = if (args.length > 1) args(1) else "csv"
    require(Set("csv", "parquet", "staged").contains(sink),
      s"unknown sink '$sink' (expected csv|parquet|staged)")
    val dir = Files.createTempDirectory("graft-perf-")
    val csv = dir.resolve("calls.csv")
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(csv.toFile), Charset.forName("windows-1252")),
      1 << 20)
    try {
      w.write(fields.map(f => quote(f.original)).mkString(",")); w.write("\n")
      var i = 0
      while (i < n) {
        val pat = patterns(i % patterns.length)
        val nhs = (9000000000L + i / 3).toString // ~3 rows per key
        w.write(canonicalOrder.map {
          case "nhs_number" => nhs
          case c => quote(pat.getOrElse(c, ""))
        }.mkString(","))
        w.write("\n")
        i += 1
      }
    } finally w.close()

    val spark = Tables.pinDialect(Tables.localSession("graft-perf",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
    val users = PrepareCalls.Users(101L, 102L, 103L, 104L)
    val out = dir.resolve("out").toString
    try {
      def writeAllParquet(outputs: PrepareCalls.Outputs): Unit =
        BeaconCli.writeSinks(outputs) { (name, df) =>
          df.drop("_ord").write.mode("overwrite").parquet(s"$out/$name")
        }
      val t0 = System.nanoTime()
      sink match {
        case "parquet" =>
          writeAllParquet(
            PrepareCalls(PrepareCalls.fromCsv(spark, csv.toString), users))
        case "staged" =>
          // staging cost is INSIDE the timed window — it is part of
          // the e2e cost this mode exists to compare against the
          // direct-CSV path
          val staged = s"$out/_staged_calls"
          PrepareCalls.fromCsv(spark, csv.toString)
            .write.mode("overwrite").parquet(staged)
          writeAllParquet(PrepareCalls(spark.read.parquet(staged), users))
        case _ =>
          BeaconCli.run(spark, csv.toString, out, users)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"metric":"prepare_calls_e2e","rows":$n,"sink":"$sink","value":$secs%.1f,"unit":"sec","rows_per_sec":${(n / secs).toInt}}""")
    } finally {
      spark.stop()
      // a 20M-row probe leaves ~15 GB of csv+outputs per run — FAILED
      // runs piling up exhausted the disk before the engine ever could,
      // so cleanup must run on every exit path
      graft.Tables.deleteRecursively(dir.toString)
    }
  }
}
