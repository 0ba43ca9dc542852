package graft.beacon

import graft.beacon.BeaconExprs._
import graft.beacon.CallsHeaderMap.{canonicalOrder, labeledFields, renameMap}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `prepare-calls` pipeline (reference: beacon/prepare_calls.py:31-191)
  * re-expressed Spark-first: one cached base scan feeding eight derived
  * DataFrames (the reference re-parses its CSV ~14×; SURVEY.md §3 E2),
  * petl's driver-memory dict lookups replaced by broadcast left joins, and
  * file-order determinism made explicit with an `_ord` struct column that
  * sinks sort on (SURVEY.md §7.3.1).
  */
object PrepareCalls {

  /** The per-need user-id assignments from the CLI flags
    * (prepare_calls.py:24-27). */
  final case class Users(
      foodNeedsUser: Long,
      complexNeedsUser: Long,
      simpleNeedsUser: Long,
      callLogReviewUser: Long)

  /** The seven output tables plus the shared base. Every DataFrame carries
    * a trailing `_ord` struct column encoding the reference's file order
    * (cat-rank, source-row index, explode position); [[CsvIO.writeCsv]]
    * sorts on it and drops it. */
  final case class Outputs(
      base: DataFrame,
      qualityAssurance: DataFrame,
      contactProfileUpdates: DataFrame,
      originalTriageNeeds: DataFrame,
      originalTriageNotes: DataFrame,
      foodNeeds: DataFrame,
      callbackNeeds: DataFrame,
      remainingNeeds: DataFrame) {
    def all: Map[String, DataFrame] = Map(
      "quality_assurance" -> qualityAssurance,
      "contact_profile_updates" -> contactProfileUpdates,
      "original_triage_needs" -> originalTriageNeeds,
      "original_triage_notes" -> originalTriageNotes,
      "food_needs" -> foodNeeds,
      "callback_needs" -> callbackNeeds,
      "remaining_needs" -> remainingNeeds)
  }

  private val needsFields =
    Seq("nhs_number", "category", "name", "created_at", "updated_at")
  private val notesFields =
    Seq("nhs_number", "category", "body", "created_at", "updated_at")

  private def ord(rank: Int, idx: Column, pos: Column = lit(0L)): Column =
    struct(lit(rank).as("rank"), idx.as("idx"), pos.as("pos")).as("_ord")

  /** Read the windows-1252 calls CSV (prepare_calls.py:32-34) with an
    * all-string dynamic schema, stamp the file-order index, and apply the
    * bulk rename. multiLine handles quoted embedded newlines in free-text
    * columns; it pins the file to one scan partition, which also makes
    * monotonically_increasing_id the file order (SURVEY.md §7.3.1/8). */
  def fromCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", true)
      .option("encoding", "windows-1252")
      .option("multiLine", true)
      .csv(path)
    canonicalize(raw)
  }

  /** Rename original headers → canonical names and stamp `_idx`. Accepts
    * either original or already-canonical column names. */
  def canonicalize(raw: DataFrame): DataFrame = {
    val renamed = raw.withColumnsRenamed(renameMap)
    val missing = canonicalOrder.filterNot(renamed.columns.contains)
    require(missing.isEmpty, s"calls input is missing columns: $missing")
    renamed
      .withColumn("_idx", monotonically_increasing_id())
      .select(col("_idx") +: canonicalOrder.map(col): _*)
  }

  /** The shared base table (prepare_calls.py:33-41): filter on a truthy
    * attempt date, serialize the original row as import_data, parse the
    * date, and derive created/updated_at. Cached — nine pipelines read it.
    *
    * The multiLine windows-1252 scan is pinned to ONE partition (format
    * requirement, SURVEY.md §7.3.8) — but file order is already captured
    * in `_idx` by then, so the base fans out here to [[basePartitions]]:
    * as many partitions as Spark's own file-split rule would give a
    * splittable scan of the same bytes. The floor is 2, never 1: a
    * one-partition repartition plans as `SinglePartition`, which
    * satisfies every required distribution, so every downstream window
    * and sort would run as one task (found at the 5M-row PerfSmoke
    * scale: single-task sorts/windows OOM'd). The base is a one-shot
    * staging materialization read nine times, not an analytics working
    * set, so it persists DISK_ONLY: memory caching a multi-GB
    * wide-string base fills the storage pool while every core still
    * holds the columnar cache's transient batch builders, and that
    * unaccounted-for concurrency gap OOM'd an 8 g heap at the 20M-row
    * scale — DISK_ONLY streams compressed batches straight to local disk
    * (page-cache-fast on re-read) with bounded heap regardless of input
    * size. */
  def base(canonical: DataFrame): DataFrame = {
    canonical
      .filter(truthy(col("latest_attempt_date")))
      .repartition(basePartitions(canonical))
      .withColumn("import_data", serializeRow(canonicalOrder))
      .withColumn("latest_attempt_date", parseDate(col("latest_attempt_date")))
      .withColumn("created_at", col("latest_attempt_date"))
      .withColumn("updated_at", col("latest_attempt_date"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
  }

  /** The base's partition count: ceil(bytes / maxSplitBytes), where bytes
    * is the canonical plan's estimated size (the file length for a CSV
    * scan, counted as one file) and maxSplitBytes is
    * `FilePartition.maxSplitBytes` over the session's
    * `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and
    * `minPartitionNum` (default parallelism when unset) — the split a
    * splittable scan of the same bytes would get. A plan with no size
    * estimate (an RDD source reports `spark.sql.defaultSizeInBytes`) gets
    * the default parallelism instead. Floored at 2; see [[base]]. */
  private[beacon] def basePartitions(canonical: DataFrame): Int = {
    val spark = canonical.sparkSession
    val conf = spark.sessionState.conf
    val bytes = canonical.queryExecution.optimizedPlan.stats.sizeInBytes
    val splits =
      if (bytes >= conf.defaultSizeInBytes) spark.sparkContext.defaultParallelism
      else {
        val maxSplit = FilePartition.maxSplitBytes(spark,
          bytes.toLong + conf.filesOpenCostInBytes).max(1L) // openCost may be 0
        ((bytes + maxSplit - 1) / maxSplit).min(Int.MaxValue).toInt
      }
    splits.max(2)
  }

  def apply(canonical: DataFrame, users: Users): Outputs = {
    val sp = base(canonical)

    // original_triage_needs (prepare_calls.py:46-52)
    val originalTriageNeeds = sp
      .withColumn("category", lit("phone triage"))
      .withColumn("name", lit(MsgOriginalTriageNeed))
      .withColumn("completed_on",
        triageCompletion(col("was_contact_made"), col("latest_attempt_date")))
      .select((needsFields :+ "completed_on").map(col) :+
        ord(0, col("_idx")): _*)

    // original_triage_call_notes (prepare_calls.py:55-61): the U1 explode.
    // selectnotnone never drops raw string cells; unmatched
    // was_contact_made values get count 0 and vanish at explode.
    val callNotes = sp
      .filter(col("was_contact_made").isNotNull)
      .withColumn("category",
        callNoteCategory(col("was_contact_made"), col("outcome")))
      .withColumn("n", callNoteCount(col("was_contact_made")))
      .select(col("_idx"), col("nhs_number"), col("created_at"),
        col("updated_at"), col("category"),
        posexplode(array_repeat(lit(1), col("n"))).as(Seq("pos", "dummy")))
      .withColumn("body", lit(MsgCallLogNote))
      .select(notesFields.map(col) :+ ord(1, col("_idx"), col("pos")): _*)

    // original_triage_import_notes (prepare_calls.py:63-68)
    val importNotes = sp
      .withColumn("category", lit("phone_import"))
      .withColumn("body", composeBody(Nil))
      .select((notesFields :+ "import_data").map(col) :+
        ord(0, col("_idx")): _*)

    // cat(import_notes, call_notes) (prepare_calls.py:180-181):
    // union-by-name, call notes' missing import_data null-padded.
    val originalTriageNotes =
      importNotes.unionByName(callNotes, allowMissingColumns = true)

    // food_needs (prepare_calls.py:70-80). Note the F3 filter reads the
    // RAW food_priority; parsing happens after.
    val foodNeeds = sp
      .filter(needsFood(col("outcome"), col("food_priority")))
      .withColumn("category", lit("groceries and cooked meals"))
      .withColumn("food_priority", parseFoodPriority(col("food_priority")))
      .withColumn("supplemental_data", supplementalData(col("food_priority")))
      .withColumn("completed_on",
        foodCompletion(col("food_priority"), col("latest_attempt_date")))
      .withColumn("user_id", lit(users.foodNeedsUser))
      .withColumn("name", composeFoodNeedDesc(col("completed_on")))
      .select((needsFields ++ Seq("completed_on", "supplemental_data",
        "user_id")).map(col) :+ ord(0, col("_idx")): _*)

    // callback_needs (prepare_calls.py:82-90): parse first, then filter.
    val callbackNeeds = sp
      .withColumn("callback_date", parseCallbackDate(col("callback_date")))
      .filter(needsCallback(col("callback_date"), col("outcome"),
        col("food_priority")))
      .withColumn("category", lit("phone triage"))
      .withColumn("name", composeWithPrefix(MsgCallbackNeed))
      .withColumn("start_on",
        callbackStartDate(col("callback_date"), col("latest_attempt_date")))
      .select((needsFields :+ "start_on").map(col) :+ ord(0, col("_idx")): _*)

    // The four remaining-need pipelines (prepare_calls.py:92-129), each a
    // filter + constant category + composed name + user id.
    def simpleNeed(rank: Int, filterCol: Column, category: String,
        userId: Column): DataFrame = sp
      .filter(filterCol)
      .withColumn("category", lit(category))
      .withColumn("name", composeWithPrefix(MsgOtherNeed))
      .withColumn("user_id", userId)
      .select((needsFields :+ "user_id").map(col) :+ ord(rank, col("_idx")): _*)

    val prescriptionNeeds = simpleNeed(0,
      truthy(col("addl_medication_prescriptions")),
      "prescription pickups", lit(users.simpleNeedsUser))
    val mentalWellbeingNeeds = simpleNeed(1,
      truthy(col("addl_mental_wellbeing")),
      "physical and mental wellbeing", lit(users.complexNeedsUser))
    val financialNeeds = simpleNeed(2, truthy(col("addl_financial")),
      "financial support", lit(users.complexNeedsUser))
    val otherNeeds = simpleNeed(3, needsOtherSupport(col("outcome")),
      "other", otherNeedUser(users.complexNeedsUser, users.simpleNeedsUser,
        users.callLogReviewUser))

    // cat of the four (prepare_calls.py:148-155/187-191); _ord.rank keeps
    // petl's concatenation order.
    val remainingNeeds = prescriptionNeeds
      .unionByName(mentalWellbeingNeeds)
      .unionByName(financialNeeds)
      .unionByName(otherNeeds)

    // contact_profile_updates (prepare_calls.py:131-143)
    val contactProfileUpdates = sp
      .withColumn("additional_info", composeAdditionalInfo)
      .withColumn("delivery_details", composeDeliveryDetails)
      .withColumn("dietary_details",
        composeDietaryDetails(col("dietary_requirements")))
      .withColumn("has_covid_symptoms",
        parseCovidSymptoms(col("has_covid_symptoms")))
      .select(Seq("nhs_number", "additional_info", "delivery_details",
        "dietary_details", "has_covid_symptoms").map(col) :+
        ord(0, col("_idx")): _*)

    val qualityAssurance = qa(sp, originalTriageNeeds, callNotes, foodNeeds,
      callbackNeeds, remainingNeeds)

    Outputs(sp, qualityAssurance, contactProfileUpdates, originalTriageNeeds,
      originalTriageNotes, foodNeeds, callbackNeeds, remainingNeeds)
  }

  /** First row per nhs_number in file order — the deterministic form of
    * petl dictlookupone's first-match semantics (prepare_calls.py:147-151;
    * SURVEY.md §2.4 J1). */
  private def firstPerKey(df: DataFrame, cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("nhs_number")).orderBy(col("_ord"))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(("nhs_number" +: cols).map(col): _*)
  }

  /** The QA audit table (prepare_calls.py:145-173): petl's driver-memory
    * dict lookups become broadcast left joins — J1 (first match) via a
    * file-order row_number, J2 (list per key) via sort_array(collect_list).
    */
  private def qa(sp: DataFrame, originalTriageNeeds: DataFrame,
      callNotes: DataFrame, foodNeeds: DataFrame, callbackNeeds: DataFrame,
      remainingNeeds: DataFrame): DataFrame = {

    val triageStatus = firstPerKey(originalTriageNeeds, Seq("completed_on"))
      .select(col("nhs_number"),
        when(col("completed_on").isNotNull, "Completed")
          .otherwise("To do").as("original_triage_status"))

    // J2: all call-note categories per key, in file order, comma-joined.
    val noteCats = callNotes
      .groupBy(col("nhs_number"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("_ord"), col("category")))),
        x => x.getField("category")), ", ").as("original_triage_call_notes"))

    val foodNeed = firstPerKey(foodNeeds,
      Seq("completed_on", "supplemental_data", "user_id"))
      .select(col("nhs_number"), concat_ws("\n",
        lit("Food need created"),
        concat(lit("Priority: "), coalesce(
          get_json_object(col("supplemental_data"), "$.food_priority"),
          lit(""))),
        concat(lit("Status: "), when(col("completed_on").isNotNull,
          "Completed").otherwise("To do")),
        concat(lit("Assigned to: "), col("user_id"))).as("food_need"))

    val callbackNeed = firstPerKey(callbackNeeds, Seq("start_on"))
      .select(col("nhs_number"), concat_ws("\n",
        lit("Callback need created"),
        concat(lit("Start on: "), col("start_on").cast("string")))
        .as("callback_need"))

    // J2 over the 4-way cat: per-key lines "<Category> (Assigned to <id>)"
    // in cat order (initcap ≡ Python str.title for these categories).
    val remaining = remainingNeeds
      .groupBy(col("nhs_number"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("_ord"), col("category"),
          col("user_id")))),
        x => concat(initcap(x.getField("category")), lit(" (Assigned to "),
          x.getField("user_id"), lit(")"))), "\n").as("remaining_needs"))

    // No broadcast() hints: the five build sides are per-nhs_number
    // rollups of the SAME input table — O(n), not dimension tables. A
    // forced broadcast would OOM at scale; AQE broadcasts them anyway
    // while they are actually small (pinned by PrepareCallsSpec).
    sp.withColumn("call_log", composeBody(Nil))
      .join(triageStatus, Seq("nhs_number"), "left")
      .join(noteCats, Seq("nhs_number"), "left")
      .join(foodNeed, Seq("nhs_number"), "left")
      .join(callbackNeed, Seq("nhs_number"), "left")
      .join(remaining, Seq("nhs_number"), "left")
      .select(Seq("nhs_number", "latest_attempt_date",
        "original_triage_status", "original_triage_call_notes", "food_need",
        "callback_need", "remaining_needs", "call_log").map(col) :+
        ord(0, col("_idx")): _*)
  }
}
