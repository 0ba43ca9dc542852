package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.beacon.{BeaconCli, CopyStaging, CsvIO, ImportStage, PrepareCalls, PrepareContacts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

/** What one iteration did: wall time per timed call, operations
  * attempted/failed (a throw or a failed output check fails the call),
  * the rows each call returned, counts the per-layer view needs, and the
  * query executions it ran outside a Dataset action (the listener sees
  * the rest). */
final class Iter {
  val calls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  var attempted = 0
  var failed = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val plans = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]

  private val checks = scala.collection.mutable.ArrayBuffer.empty[(String, () => Seq[String])]

  /** Times `body` as call `name`. `body` returns the call's output
    * check, which [[runChecks]] runs after the iteration's clock stops;
    * a throw or a failed check fails the call. */
  def call(name: String)(body: => () => Seq[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val check = body
      calls(name) = (System.nanoTime() - t0) / 1e9
      checks += name -> check
    } catch {
      case NonFatal(e) =>
        calls(name) = (System.nanoTime() - t0) / 1e9
        fail(name, Seq(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
    }
  }

  private def fail(name: String, why: Seq[String]): Unit = {
    failed += 1
    failures ++= why.map(b => s"$name: $b")
  }

  def runChecks(): Unit = {
    checks.foreach { case (name, check) =>
      val bad = try check() catch {
        case NonFatal(e) => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (bad.nonEmpty) fail(name, bad)
    }
    checks.clear()
  }
}

trait Workload {
  def name: String
  def session(): SparkSession
  /** Generate or load the inputs; called once, in set-up. */
  def prepare(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def inputRows: Long
  def inputBytes: Long
  def iterate(spark: SparkSession, i: Int, t: Tracer): Iter
  /** Untimed clean-up after an iteration's checks. */
  def after(spark: SparkSession): Unit = ()
  /** The rows one iteration handles, for `rows_per_s`. */
  def rowsPerIteration(first: Iter): Double = inputRows.toDouble
  /** Iterations a run makes however long they take: the cold one plus
    * at least one warm one. */
  def minIterations: Int = 2
}

object Workload {

  /** Execute the full output on the executors, never collecting it
    * (the action `graft.Bench` uses: `count()` lets the optimizer prune
    * the work). */
  def consume(df: DataFrame, it: Iter): Long = {
    it.plans += df.queryExecution
    df.queryExecution.toRdd.count()
  }

  def genericWarmup(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  /** Records (not lines: quoted cells may hold newlines) in a CSV file
    * as the program writes it, its first line, and a CRC32C of its
    * bytes, in one pass. The sink writes Spark's CSV dialect: inside a
    * quoted cell a quote (or a backslash before one) is escaped with a
    * backslash, not doubled. */
  final case class FileFacts(records: Long, header: String, crc: Long, bytes: Long)

  def facts(path: String): FileFacts = {
    val in = Files.newInputStream(Paths.get(path))
    try {
      val buf = new Array[Byte](1 << 20)
      val crc = new java.util.zip.CRC32C
      val head = new java.io.ByteArrayOutputStream
      var inHeader = true
      var quoted = false
      var escaped = false
      var records = 0L
      var bytes = 0L
      var n = in.read(buf)
      while (n > 0) {
        crc.update(buf, 0, n)
        bytes += n
        var i = 0
        while (i < n) {
          val b = buf(i)
          if (inHeader && b != '\n') head.write(b)
          if (escaped) escaped = false
          else if (quoted && b == '\\') escaped = true
          else if (b == '"') quoted = !quoted
          else if (b == '\n' && !quoted) { records += 1; inHeader = false }
          i += 1
        }
        n = in.read(buf)
      }
      FileFacts(records, head.toString("UTF-8"), crc.getValue, bytes)
    } finally in.close()
  }

  /** Header / record-count / same-bytes-as-iteration-0 checks for one
    * output file. `expectedRows` excludes the header. */
  def checkFile(path: String, header: String, expectedRows: Long,
      digests: scala.collection.mutable.Map[String, (Long, Long)],
      it: Iter): Seq[String] = {
    val f = facts(path)
    val name = Paths.get(path).getFileName.toString
    it.counts("beacon.sink.rows") += f.records - 1
    it.counts("beacon.sink.out_mb") += f.bytes / 1e6
    val bad = Seq.newBuilder[String]
    if (f.header != header) bad += s"$name header '${f.header.take(120)}' != '$header'"
    if (f.records - 1 != expectedRows)
      bad += s"$name has ${f.records - 1} rows, expected $expectedRows"
    digests.get(name) match {
      case Some(d) if d != (f.crc, f.bytes) => bad += s"$name differs from iteration 0"
      case Some(_) => ()
      case None => digests(name) = (f.crc, f.bytes)
    }
    bad.result()
  }

  def diskMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum / 1e6

  def dirBytes(path: String): Long = {
    val w = Files.walk(Paths.get(path))
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }

  def cleanDir(path: String): Unit =
    if (Files.exists(Paths.get(path))) {
      val w = Files.walk(Paths.get(path))
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally w.close()
    }
}

/** prepare-calls end to end: the CLI's own `BeaconCli.run` (scan, disk
  * base, concurrent CSV sinks), then the `\COPY` pre-flight
  * (`CopyStaging.violations`) on the staged CSVs and the SQL import
  * stage J3/J4/J5 against a contacts table built in set-up. Traced
  * iterations run the same calls one layer at a time, sinks one by one
  * through `CsvIO.writeCsv`. */
final class CallsPipeline(seed: Long, rows: Int, work: String) extends Workload {
  import Workload._

  val name = "calls_pipeline"
  private val input = s"$work/calls.csv"
  private val users = PrepareCalls.Users(101L, 102L, 103L, 104L)
  private var expected: Gen.CallsExpected = _
  private var contacts: DataFrame = _
  private val digests = scala.collection.mutable.Map.empty[String, (Long, Long)]

  private val headers = Map(
    "quality_assurance" -> "nhs_number,latest_attempt_date,original_triage_status,original_triage_call_notes,food_need,callback_need,remaining_needs,call_log",
    "contact_profile_updates" -> "nhs_number,additional_info,delivery_details,dietary_details,has_covid_symptoms",
    "original_triage_needs" -> "nhs_number,category,name,created_at,updated_at,completed_on",
    "original_triage_notes" -> "nhs_number,category,body,created_at,updated_at,import_data",
    "food_needs" -> "nhs_number,category,name,created_at,updated_at,completed_on,supplemental_data,user_id",
    "callback_needs" -> "nhs_number,category,name,created_at,updated_at,start_on",
    "remaining_needs" -> "nhs_number,category,name,created_at,updated_at,user_id")

  def session(): SparkSession =
    graft.Tables.pinDialect(graft.Tables.localSession("perfbench-beacon"))

  def prepare(spark: SparkSession): Unit = {
    expected = Gen.calls(seed, rows, input)
    import spark.implicits._
    contacts = expected.keys.zipWithIndex.map { case (k, i) =>
      (i + 1L, k.toString, s"resident $i", Option.empty[String],
        Option.empty[String], if (i % 4 == 0) Some("vegan") else None,
        Option.empty[String])
    }.toDF("id", "nhs_number", "first_name", "additional_info",
      "delivery_details", "dietary_details", "has_covid_symptoms")
  }

  def warmup(spark: SparkSession): Unit = genericWarmup(spark)
  def inputRows: Long = expected.inputRows
  def inputBytes: Long = Files.size(Paths.get(input))

  /** A staged CSV as `\COPY` loads it into a staging table: read once
    * (file order kept in `_ord`) and held for the import stage's SQL. */
  private def staged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).option("multiLine", true).csv(path)
      .withColumn("_ord", monotonically_increasing_id())
      .cache()

  def iterate(spark: SparkSession, i: Int, t: Tracer): Iter = {
    val it = new Iter
    val out = s"$work/out"
    it.call("prepare_calls") {
      if (!t.enabled) BeaconCli.run(spark, input, out, users)
      else {
        val canonical = t.span("beacon.read")(PrepareCalls.fromCsv(spark, input))
        val outputs = t.span("beacon.derive.build")(PrepareCalls(canonical, users))
        t.span("beacon.base") {
          outputs.base.count()
          it.counts("beacon.base.disk_mb") = diskMb(spark)
        }
        outputs.all.toSeq.sortBy(_._1).foreach { case (n, df) =>
          t.span(s"beacon.sink.$n")(CsvIO.writeCsv(df, s"$out/$n.csv"))
        }
      }
      () => headers.toSeq.sortBy(_._1).flatMap { case (n, h) =>
        checkFile(s"$out/$n.csv", h, expected.tables(n), digests, it)
      }
    }
    it.call("import") {
      val loads = CopyStaging.loads.filter { case (f, _, _) =>
        Files.exists(Paths.get(s"$out/$f")) }
      val frames = loads.map { case (f, _, _) =>
        f.stripSuffix(".csv") -> staged(spark, s"$out/$f") }.toMap
      val violations = t.span("beacon.import.validate") {
        loads.flatMap { case (f, table, _) =>
          CopyStaging.violations(frames(f.stripSuffix(".csv")), table)
            .map { case (rule, n) => s"$f: $rule ($n rows)" }
        }
      }
      val needs = frames("food_needs")
        .unionByName(frames("callback_needs"), allowMissingColumns = true)
        .unionByName(frames("remaining_needs"), allowMissingColumns = true)
      val j3 = t.span("beacon.import.j3")(
        consume(ImportStage.importIdentifiedNeeds(contacts, needs), it))
      val (j4Needs, j4Notes) = t.span("beacon.import.j4") {
        val (n, notes) = ImportStage.importOriginalTriageNeedsAndNotes(contacts,
          frames("original_triage_needs"), frames("original_triage_notes"), 1L)
        (consume(n, it), consume(notes, it))
      }
      val j5 = t.span("beacon.import.j5")(consume(
        ImportStage.applyContactProfileUpdates(contacts,
          frames("contact_profile_updates")), it))
      it.counts("beacon.import.rows") = (j3 + j4Needs + j4Notes + j5).toDouble
      () => violations ++ Seq(
        ("J3 needs", j3, expected.j3),
        ("J4 needs", j4Needs, expected.j4Needs),
        ("J4 notes", j4Notes, expected.j4Notes),
        ("J5 contacts", j5, expected.keys.size.toLong)).collect {
        case (what, got, want) if got != want => s"$what: $got rows, expected $want"
      }
    }
    it
  }

  override def after(spark: SparkSession): Unit = {
    // the next iteration must scan and persist its own base (and load
    // its own staging tables) again
    spark.catalog.clearCache()
    cleanDir(s"$work/out")
  }
}

/** prepare-contacts: `PrepareContacts.fromCsv`, `PrepareContacts(...)`
  * and `CsvIO.writeCsv` of the contacts table. */
final class ContactsPrepare(seed: Long, rows: Int, work: String) extends Workload {
  import Workload._

  val name = "contacts_prepare"
  private val input = s"$work/gds.csv"
  private var expected = 0L
  private val digests = scala.collection.mutable.Map.empty[String, (Long, Long)]
  // one instant for every iteration, so outputs must be byte-identical
  private val now = java.time.LocalDateTime.of(2020, 4, 6, 12, 40)
    .plusSeconds(seed.abs % 86400).toString
  private val header = "nhs_number,first_name,middle_names,surname,address," +
    "postcode,telephone,mobile,date_of_birth,created_at,updated_at,gds_import_data"

  def session(): SparkSession =
    graft.Tables.pinDialect(graft.Tables.localSession("perfbench-beacon"))
  def prepare(spark: SparkSession): Unit = expected = Gen.gds(seed, rows, input)
  def warmup(spark: SparkSession): Unit = genericWarmup(spark)
  def inputRows: Long = expected
  def inputBytes: Long = Files.size(Paths.get(input))

  def iterate(spark: SparkSession, i: Int, t: Tracer): Iter = {
    val it = new Iter
    val out = s"$work/out/contacts.csv"
    it.call("prepare_contacts") {
      val gds = t.span("beacon.read")(PrepareContacts.fromCsv(spark, input))
      val contacts = t.span("beacon.derive.build")(PrepareContacts(gds, now))
      t.span("beacon.sink.contacts")(CsvIO.writeCsv(contacts, out))
      () => checkFile(out, header, expected, digests, it)
    }
    it
  }

  override def after(spark: SparkSession): Unit = cleanDir(s"$work/out")
}

/** A fixed panel of registry queries (`graft.SparkEntry.queries`) on the
  * committed test tables, in an order fixed by the seed, each consumed
  * with `queryExecution.toRdd.count()`; row counts must match the
  * committed table. `dataRoot` holds one directory per scale factor. */
final class EnginePanel(seed: Long, dataRoot: String, expectedRows: Map[String, Long])
    extends Workload {
  import Workload._

  val name = "engine_panel"
  val queries: Seq[String] = new scala.util.Random(seed).shuffle(EnginePanel.panel)
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private def dir(q: String) = s"$dataRoot/${EnginePanel.scaleOf(q)}"

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.pinDialect(spark)
  }

  /** The panel's input is the fixed table set: load each table (schema
    * and timestamp-encoding sniff, cached per table after the first). */
  def prepare(spark: SparkSession): Unit = {
    tables.foreach(t => graft.Tables.load(spark, s"$dataRoot/sf0.001", t))
    graft.Tables.load(spark, s"$dataRoot/sf0.01", "customer")
  }

  /** `graft.Bench`'s session warm-up: codegen and shuffle once, one
    * stateful micro-batch under each state-store provider, and the
    * embedded Derby engine the exactly-once sink boots. */
  def warmup(spark: SparkSession): Unit = {
    genericWarmup(spark)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      for (prov <- Seq(None, Some("org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider"))) {
        prov.foreach(spark.conf.set(provKey, _))
        val ck = Files.createTempDirectory("perfbench-warm-ck-").toString
        spark.readStream.format("graftgen")
          .option("rows", "64").option("slices", "2").load()
          .dropDuplicates("id")
          .writeStream.format("noop").option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
    } finally {
      spark.conf.unset(provKey)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    try {
      java.sql.DriverManager.getConnection("jdbc:derby:memory:perfbenchwarm;create=true").close()
      java.sql.DriverManager.getConnection("jdbc:derby:memory:perfbenchwarm;drop=true")
    } catch { case NonFatal(_) => () } // drop=true always throws 08006
  }

  def inputRows: Long = 0L
  def inputBytes: Long = dirBytes(dataRoot)

  /** Rows the panel returns per pass. */
  override def rowsPerIteration(first: Iter): Double = first.counts("panel.rows")
  /** Cold pass plus two warm passes, so each query has a median. */
  override def minIterations: Int = 3

  def iterate(spark: SparkSession, i: Int, t: Tracer): Iter = {
    val it = new Iter
    queries.foreach { q =>
      it.call(q) {
        val rows = t.span(s"query.$q") {
          val df = t.span(s"query.$q.build")(graft.SparkEntry.queries(q)(spark, dir(q)))
          t.span(s"query.$q.exec")(consume(df, it))
        }
        it.rows(q) = rows
        it.counts("panel.rows") += rows
        () => expectedRows.get(q) match {
          case Some(n) if n == rows => Nil
          case Some(n) => Seq(s"$rows rows, expected $n")
          case None => Seq("no expected row count committed")
        }
      }
    }
    it
  }
}

object EnginePanel {
  /** One query per query family — graph (Butterfly), dedup (MinHash
    * LSH verify), fuzzy join, ANN, relational (TopKPerKey), text — and
    * the streaming state and sink paths. */
  val panel: Seq[String] = Seq(
    "rel_graph_butterfly_vp", "td_dedup_minhash_lsh", "rel_fuzzy_join_sig",
    "td_knn_ann_recall", "rel_topk_per_key", "td_dup_spans",
    "st_state_v2_dedup", "st_sink_exactly_once")

  /** The scale a query reads. The fuzzy join reads sf0.01: at sf0.001 its
    * signature blocking yields no candidate pair, so its verify would
    * never run. */
  def scaleOf(q: String): String =
    if (q == "rel_fuzzy_join_sig") "sf0.01" else "sf0.001"

  def family(q: String): String =
    if (q.startsWith("rel_graph_")) "graph"
    else if (q.startsWith("td_dedup_") || q == "td_incremental_dedup") "dedup"
    else if (q.startsWith("rel_fuzzy_")) "fuzzy"
    else if (q.startsWith("td_knn_")) "ann"
    else if (q.startsWith("st_")) "stream"
    else if (q == "td_dup_spans") "text"
    else "rel"

  val families: Seq[String] = Seq("graph", "dedup", "fuzzy", "ann", "rel", "text", "stream")
}
