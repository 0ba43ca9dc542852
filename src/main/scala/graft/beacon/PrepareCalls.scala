package graft.beacon

import graft.beacon.BeaconExprs._
import graft.beacon.CallsHeaderMap.{canonicalOrder, labeledFields, renameMap}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._

/** The `prepare-calls` pipeline (reference: beacon/prepare_calls.py:31-191)
  * re-expressed Spark-first: one cached base scan feeding eight derived
  * DataFrames (the reference re-parses its CSV ~14×; SURVEY.md §3 E2),
  * petl's five driver-memory dict lookups replaced by one per-key rollup
  * of the base joined back once ([[qa]]), and file-order determinism
  * made explicit with an `_ord` struct column that sinks sort on
  * (SURVEY.md §7.3.1).
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

    // Derived columns that a sink table and the QA lookups both read,
    // each defined once over the base's raw columns.
    val triageCompletedOn =
      triageCompletion(col("was_contact_made"), col("latest_attempt_date"))
    val noteCategory = callNoteCategory(col("was_contact_made"), col("outcome"))
    val noteCount = callNoteCount(col("was_contact_made"))
    // F3 reads the RAW food_priority; C15-C17 read it parsed.
    val foodNeed = needsFood(col("outcome"), col("food_priority"))
    val foodPriority = parseFoodPriority(col("food_priority"))
    val foodCompletedOn = foodCompletion(foodPriority, col("latest_attempt_date"))
    val foodSupplemental = supplementalData(foodPriority)
    val foodUser = lit(users.foodNeedsUser)
    val callbackDate = parseCallbackDate(col("callback_date"))
    val callbackNeed = needsCallback(callbackDate, col("outcome"),
      col("food_priority"))
    val callbackStartOn =
      callbackStartDate(callbackDate, col("latest_attempt_date"))
    // The four remaining needs (prepare_calls.py:92-129) in cat order
    // (prepare_calls.py:148-155/187-191): filter, category, user id.
    val remaining = Seq(
      (truthy(col("addl_medication_prescriptions")), "prescription pickups",
        lit(users.simpleNeedsUser)),
      (truthy(col("addl_mental_wellbeing")), "physical and mental wellbeing",
        lit(users.complexNeedsUser)),
      (truthy(col("addl_financial")), "financial support",
        lit(users.complexNeedsUser)),
      (needsOtherSupport(col("outcome")), "other", otherNeedUser(
        users.complexNeedsUser, users.simpleNeedsUser,
        users.callLogReviewUser)))

    // original_triage_needs (prepare_calls.py:46-52)
    val originalTriageNeeds = sp
      .withColumn("category", lit("phone triage"))
      .withColumn("name", lit(MsgOriginalTriageNeed))
      .withColumn("completed_on", triageCompletedOn)
      .select((needsFields :+ "completed_on").map(col) :+
        ord(0, col("_idx")): _*)

    // original_triage_call_notes (prepare_calls.py:55-61): the U1 explode.
    // selectnotnone never drops raw string cells; unmatched
    // was_contact_made values get count 0 and vanish at explode.
    val callNotes = sp
      .filter(col("was_contact_made").isNotNull)
      .withColumn("category", noteCategory)
      .withColumn("n", noteCount)
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

    // food_needs (prepare_calls.py:70-80). C8's body reads the parsed
    // priority, so food_priority is replaced before `name`.
    val foodNeeds = sp
      .filter(foodNeed)
      .withColumn("category", lit("groceries and cooked meals"))
      .withColumn("completed_on", foodCompletedOn)
      .withColumn("supplemental_data", foodSupplemental)
      .withColumn("user_id", foodUser)
      .withColumn("food_priority", foodPriority)
      .withColumn("name", composeFoodNeedDesc(col("completed_on")))
      .select((needsFields ++ Seq("completed_on", "supplemental_data",
        "user_id")).map(col) :+ ord(0, col("_idx")): _*)

    // callback_needs (prepare_calls.py:82-90). The body reads the parsed
    // callback_date, so it is replaced before `name`.
    val callbackNeeds = sp
      .filter(callbackNeed)
      .withColumn("start_on", callbackStartOn)
      .withColumn("callback_date", callbackDate)
      .withColumn("category", lit("phone triage"))
      .withColumn("name", composeWithPrefix(MsgCallbackNeed))
      .select((needsFields :+ "start_on").map(col) :+ ord(0, col("_idx")): _*)

    // cat of the four remaining needs; _ord.rank keeps petl's
    // concatenation order.
    val remainingNeeds = remaining.zipWithIndex.map {
      case ((need, category, userId), rank) => sp
        .filter(need)
        .withColumn("category", lit(category))
        .withColumn("name", composeWithPrefix(MsgOtherNeed))
        .withColumn("user_id", userId)
        .select((needsFields :+ "user_id").map(col) :+
          ord(rank, col("_idx")): _*)
    }.reduce(_ unionByName _)

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

    def status(completedOn: Column): Column =
      when(completedOn.isNotNull, "Completed").otherwise("To do")
    val qualityAssurance = qa(sp,
      firstMatch(lit(true), status(triageCompletedOn))
        .as("original_triage_status"),
      listOf(array_repeat(struct(col("_idx"), noteCategory.as("text")),
        noteCount), ", ").as("original_triage_call_notes"),
      firstMatch(foodNeed, concat_ws("\n",
        lit("Food need created"),
        concat(lit("Priority: "), coalesce(
          get_json_object(foodSupplemental, "$.food_priority"), lit(""))),
        concat(lit("Status: "), status(foodCompletedOn)),
        concat(lit("Assigned to: "), foodUser))).as("food_need"),
      firstMatch(callbackNeed, concat_ws("\n",
        lit("Callback need created"),
        concat(lit("Start on: "), callbackStartOn.cast("string"))))
        .as("callback_need"),
      // "<Category> (Assigned to <id>)" by cat rank, then file order
      // (initcap ≡ Python str.title for these categories).
      listOf(filter(array(remaining.zipWithIndex.map {
        case ((need, category, userId), rank) => when(need, struct(
          lit(rank).as("rank"), col("_idx"), concat(initcap(lit(category)),
            lit(" (Assigned to "), userId, lit(")")).as("text")))
      }: _*), _.isNotNull), "\n").as("remaining_needs"))

    Outputs(sp, qualityAssurance, contactProfileUpdates, originalTriageNeeds,
      originalTriageNotes, foodNeeds, callbackNeeds, remainingNeeds)
  }

  /** J1, petl dictlookupone's first match (prepare_calls.py:147-151):
    * `value` of the lowest-`_idx` row of the group that passes `filter`,
    * null when none does. */
  private def firstMatch(filter: Column, value: Column): Column =
    min(when(filter, struct(col("_idx"), value.as("v")))).getField("v")

  /** J2, petl dictlookup's list per key: every row's `entries` (structs
    * whose leading fields order them and whose `text` is listed), over
    * the group, sorted and joined with `sep`; null when there are none. */
  private def listOf(entries: Column, sep: String): Column = {
    val all = sort_array(flatten(collect_list(entries)))
    when(size(all) > 0, array_join(transform(all, _.getField("text")), sep))
  }

  /** The QA audit table (prepare_calls.py:145-173). petl's five dict
    * lookups keyed on nhs_number (SURVEY.md §2.4 J1/J2) each depend on
    * one key's base rows in `_idx` order, so ONE groupBy(nhs_number) of
    * the base computes every `lookup` ([[firstMatch]], [[listOf]]) and
    * ONE left join puts them back: a groupjoin (Moerkotte & Neumann,
    * VLDB 2011). The equi-join never matches a null key, so a null
    * nhs_number gets null lookups, not another null row's (pinned by
    * PrepareCallsSpec). No broadcast() hint: the rollup has a row per
    * key, O(n) in the input, so a forced broadcast would OOM at scale;
    * AQE broadcasts it while it is actually small. */
  private def qa(sp: DataFrame, lookups: Column*): DataFrame =
    sp.withColumn("call_log", composeBody(Nil))
      .join(sp.groupBy(col("nhs_number")).agg(lookups.head, lookups.tail: _*),
        Seq("nhs_number"), "left")
      .select(Seq("nhs_number", "latest_attempt_date",
        "original_triage_status", "original_triage_call_notes", "food_need",
        "callback_need", "remaining_needs", "call_log").map(col) :+
        ord(0, col("_idx")): _*)
}
