package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.Charset
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators for the two beacon workloads. Each writes one
  * CSV file and, from the same draws, derives the row count every output
  * table must have — an independent re-statement of the reference's
  * routing rules (prepare_calls.py), never a call into the program. */
object Gen {

  private def quote(cell: String): String =
    if (cell.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + cell.replace("\"", "\"\"") + "\""
    else cell

  private def writer(path: String, charset: String): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path),
      Charset.forName(charset)), 1 << 20)

  private def pick(r: SplittableRandom, xs: IndexedSeq[String]): String =
    xs(r.nextInt(xs.length))

  /** `p`-probability draw of a value from `xs`, else the empty cell. */
  private def maybe(r: SplittableRandom, p: Double,
      xs: IndexedSeq[String]): String =
    if (r.nextDouble() < p) pick(r, xs) else ""

  // ---- calls.csv (prepare-calls input) ------------------------------

  /** The 30 original spreadsheet headers, byte-exact (trailing spaces
    * and typos are part of the input format), in file order. */
  val callsHeaders: IndexedSeq[String] = IndexedSeq(
    "NHSNUMBER",
    "15/04/20 consolidation record",
    "Contact attempted (date)  Format:  06/04/2020",
    "Time. Format:  12:40",
    "Contact Sucessful ",
    "Outcome complete at the end of the call",
    "If no support needed, what support are they getting and who is supporting them eg Govt food parcels/Age Uk/Other VCS, family member, friends, neighbours). If support need is likely to change eg resident would like a call back to check in with them - selec",
    "Food Requirements Priority ",
    "Book weekly food delivery  yes/no",
    "Date to call resident back.  Add date below - 6 days from today's date (avoid weekend dates) format: 12/04/20",
    "how many people in household? Basic number and if relevant eg baby, children",
    "Do you have any special dietary requirements and notes? Eg special requirements - allergies, standard, vegetarian, vegan, baby, religious - halal  ",
    "Additional food notes  or essential items needed",
    "Delivery contact details if different? Eg if someone needs to let deliverer in. Contact name and number",
    "Any special delivery information - any times you cannot do/access?  Eg how to get to block/house/intercome/doorbell doesn't work - times to avoid eg when taking medication",
    "Are you or anyone in your home showing any symptoms of COVID-19?",
    "Additional Support: Adult Social Care.  Complete if you or resident have concerns and want follow up action.",
    "Additional Support: Children Services Complete if you or resident have concerns and want follow up action.",
    "Additional Support: Safeguarding Complete if you or resident have concerns and want follow up action.",
    "Additional Support: Mental Wellbeing Referral Complete if you or resident have concerns and want follow up action.",
    "Additional Support: Housing/ Waste Disposal. Complete if you or resident have concerns and want follow up action.",
    "Additional Support: Medication/ prescriptions. ",
    "Additional Support: Medical appointment Transport. ",
    "Additional Support: Financial guidance/ information. Complete if you or resident have concerns and want follow up action.",
    "Additional Support: Additional Shopping needs",
    "Additional Support: Other referrals (eg concerns for neighbour/friend)",
    "Additional Support: Miscellaneous Other",
    "Additional Support: Miscellaneous Other2",
    "Notes: Please add any helpful information from resident here",
    "Have you told resident about the 24/7 Camden Council Covid 19 support line and website?                         Call:  020 7974 4444 extension 9  and www.camden.gov.uk/covid-19")

  private val wasContactMade = IndexedSeq("Yes", "Yes", "Yes", "yes",
    "No -1 attempt made", "No 2 attempts made", "No 3 attempts made",
    "NO 3 ATTEMPTS MADE", "Invalid phone numbers", "Not home", "")
  private val outcomes = IndexedSeq("Left voicemail", "Food referral ",
    "Food and Other referral", "Call back ", "Other referral",
    "No further action", "No further action", "")
  private val foodPriorities = IndexedSeq("Priority 1", "Priority 2",
    "priority 3", "Priority 4")
  private val freeText = IndexedSeq("family helps", "Age UK weekly visit",
    "neighbour shops, sometimes", "café vouchers – £10", "son’s friend",
    "gets \"meals on wheels\"")
  private val notesText = IndexedSeq("likes calls", "hard of hearing",
    "prefers mornings, after 10", "café visits, \"quoted\"\nsecond line",
    "pharmacy closed\nneeds\nfollow-up", "said “thanks” – £5 owed")

  /** Per-table expected row counts of one generated calls file, plus the
    * key-level facts the import stage's expected counts need. */
  final case class CallsExpected(
      inputRows: Long,
      tables: Map[String, Long],
      keys: IndexedSeq[Long],
      j3: Long, j4Needs: Long, j4Notes: Long)

  /** Writes `rows` calls rows to `path` (windows-1252) and returns the
    * expected output counts. ~3 rows per nhs_number in shuffled order;
    * `keys` (the import stage's contacts table) is decided by the same
    * seed: 90% of the call keys plus 10% keys absent from calls. */
  def calls(seed: Long, rows: Int, path: String): CallsExpected = {
    val r = new SplittableRandom(seed)
    val nKeys = math.max(1, rows / 3)
    val base = 9000000000L + (seed.abs % 1000) * 1000000L
    val inContacts = Array.tabulate(nKeys)(_ => r.nextDouble() < 0.9)
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    // per key: base rows (= triage needs), notes rows, identified needs
    val keyBase = new Array[Long](nKeys)
    val keyNotes = new Array[Long](nKeys)
    val keyNeeds = new Array[Long](nKeys)
    val w = writer(path, "windows-1252")
    try {
      w.write(callsHeaders.map(quote).mkString(",")); w.write("\n")
      var i = 0
      while (i < rows) {
        val k = r.nextInt(nKeys)
        val dated = r.nextDouble() >= 0.03
        val day = 1 + r.nextInt(28)
        val month = 4 + r.nextInt(3)
        val date = if (dated) f"$day%02d/$month%02d/2020" else ""
        val wcm = pick(r, wasContactMade)
        val outcome = pick(r, outcomes)
        val fp = maybe(r, 0.3, foodPriorities)
        val cbKind = r.nextInt(8)
        val cb = cbKind match {
          case 0 => f"${1 + r.nextInt(28)}%02d/0${4 + r.nextInt(3)}/2020"
          case 1 => f"${1 + r.nextInt(28)}%02d.0${4 + r.nextInt(3)}.20"
          case 2 => "call next week"
          case _ => ""
        }
        val addl = Array.fill(12)(maybe(r, 0.06, freeText))
        val cells = IndexedSeq(
          (base + k).toString,
          maybe(r, 0.1, IndexedSeq("Yes", "consolidated")),
          date,
          f"${8 + r.nextInt(10)}%02d:${r.nextInt(60)}%02d",
          wcm, outcome,
          maybe(r, 0.3, freeText),
          fp,
          maybe(r, 0.5, IndexedSeq("yes", "no")),
          cb,
          maybe(r, 0.7, IndexedSeq("3 (1 baby)", "2", "1", "5 (2 children)")),
          maybe(r, 0.7, IndexedSeq("No", "no ", "vegetarian", "halal", "vegan")),
          maybe(r, 0.3, freeText),
          maybe(r, 0.2, IndexedSeq("Jo 07700 900123", "door code 4412")),
          maybe(r, 0.2, IndexedSeq("ring twice", "not before 9am, \"really\"")),
          maybe(r, 0.8, IndexedSeq("Yes", "No", "No", "Unsure"))) ++
          addl ++ IndexedSeq(
          maybe(r, 0.5, notesText),
          maybe(r, 0.8, IndexedSeq("Yes", "No")))
        w.write(cells.map(quote).mkString(",")); w.write("\n")

        if (dated) {
          val l = wcm.toLowerCase
          val callNotes =
            if (l == "yes" || l == "no -1 attempt made" ||
                l == "invalid phone numbers") 1
            else if (l == "no 2 attempts made") 2
            else if (l == "no 3 attempts made") 3
            else 0
          val food = outcome == "Food referral " ||
            outcome == "Food and Other referral" || fp.nonEmpty
          val callback = cbKind <= 1 || food || outcome == "Call back "
          // addl order: adult social care, children, safeguarding,
          // mental wellbeing, housing/waste, medication, medical
          // transport, financial, shopping, referrals, misc1, misc2
          val prescription = addl(5).nonEmpty
          val mental = addl(3).nonEmpty
          val financial = addl(7).nonEmpty
          val other = outcome == "Other referral" ||
            outcome == "Food and Other referral" ||
            Seq(0, 1, 2, 4, 6, 9, 10, 11).exists(j => addl(j).nonEmpty)
          val remaining = Seq(prescription, mental, financial, other).count(identity)
          val needs = (if (food) 1 else 0) + (if (callback) 1 else 0) + remaining
          counts("quality_assurance") += 1
          counts("contact_profile_updates") += 1
          counts("original_triage_needs") += 1
          counts("original_triage_notes") += 1 + callNotes
          if (food) counts("food_needs") += 1
          if (callback) counts("callback_needs") += 1
          counts("remaining_needs") += remaining
          keyBase(k) += 1
          keyNotes(k) += 1 + callNotes
          keyNeeds(k) += needs
        }
        i += 1
      }
    } finally w.close()

    var j3, j4Needs, j4Notes = 0L
    var k = 0
    while (k < nKeys) {
      if (inContacts(k)) {
        j3 += keyNeeds(k)
        j4Needs += keyBase(k)
        j4Notes += keyNotes(k) * keyBase(k)
      }
      k += 1
    }
    val contactKeys = (0 until nKeys).filter(inContacts(_)).map(base + _) ++
      (0 until nKeys / 10).map(x => base - 1 - x)
    val tables = Seq("quality_assurance", "contact_profile_updates",
      "original_triage_needs", "original_triage_notes", "food_needs",
      "callback_needs", "remaining_needs").map(t => t -> counts(t)).toMap
    CallsExpected(rows.toLong, tables, contactKeys, j3, j4Needs, j4Notes)
  }

  // ---- gds.csv (prepare-contacts input) -----------------------------

  val gdsHeaders: IndexedSeq[String] = IndexedSeq("NHSNumber", "FirstName",
    "MiddleName", "LastName", "Address1", "Address2", "Address3", "Address4",
    "Address5", "Postcode", "DOB", "Phone", "Mobile", "PracticeCode", "Ward")

  private val firstNames = IndexedSeq("Joan", "Amir", "Zoë", "Siân", "José",
    "Li", "Grace", "Olu", "Priya", "Tom")
  private val surnames = IndexedSeq("Smith", "O'Brien", "Nguyen", "Kowalski",
    "Okafor", "Patel", "Jones", "MacLeod")
  private val streets = IndexedSeq("High St", "Camden Rd", "Royal College St",
    "Agar Grove", "Kentish Town Rd")

  /** Writes `rows` gds rows (UTF-8, one row per nhs_number) and returns
    * the row count prepare-contacts must emit (one per input row). About
    * 1 row in 7 has a quoted multi-line first address line; ~5% of DOBs
    * are invalid (null date_of_birth, row kept). */
  def gds(seed: Long, rows: Int, path: String): Long = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val base = 9400000000L + (seed.abs % 1000) * 1000000L
    val w = writer(path, "UTF-8")
    try {
      w.write(gdsHeaders.mkString(",")); w.write("\n")
      var i = 0
      while (i < rows) {
        val flat = s"Flat ${1 + r.nextInt(40)}"
        val street = s"${1 + r.nextInt(200)} ${pick(r, streets)}"
        val addr1 = if (r.nextInt(7) == 0) s"$flat\n$street" else flat
        val dob = r.nextInt(20) match {
          case 0 => pick(r, IndexedSeq("1980-01-31", "unknown", "00/00/0000"))
          case _ => f"${1 + r.nextInt(28)}%02d/${1 + r.nextInt(12)}%02d/${1930 + r.nextInt(80)}"
        }
        val cells = IndexedSeq(
          (base + i).toString,
          pick(r, firstNames),
          maybe(r, 0.3, IndexedSeq("M", "Anne", "J")),
          pick(r, surnames),
          addr1,
          if (addr1.contains('\n')) "" else street,
          "Camden",
          maybe(r, 0.2, IndexedSeq("London", "Greater London")),
          "",
          s"NW${1 + r.nextInt(9)} ${r.nextInt(10)}${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}",
          dob,
          maybe(r, 0.7, IndexedSeq("020 7946 0000", "020 7974 4444")),
          maybe(r, 0.8, IndexedSeq("07700 900000", "07700 900123")),
          s"F8${r.nextInt(1000)}",
          maybe(r, 0.9, IndexedSeq("Kentish Town", "Camden Town", "St Pancras")))
        w.write(cells.map(quote).mkString(",")); w.write("\n")
        i += 1
      }
    } finally w.close()
    rows.toLong
  }
}
