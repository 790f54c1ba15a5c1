package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Independent seeded random streams: one per (seed, purpose). */
object Rng {
  def apply(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(new java.util.Random(seed * 1000003L + stream.hashCode).nextLong())
}

/** One NYC payroll row, as the Socrata payroll feed carries it. */
final case class PayRow(title: String, base: Long, gross: Long, ot: Long,
    other: Long, year: Int)

/** One NYC job posting; `postUntil` is null when the feed omits it. */
final case class JobRow(title: String, from: Long, to: Long,
    posting: String, postUntil: String)

/** One Lightcast occupation row of the XLSX export. */
final case class SocRow(occupation: String, postings: Int, duration: Double)

/** The generated inputs of one run. The program sees them only as the
  * feed server's JSON pages and the XLSX file. */
final case class Feed(payroll: IndexedSeq[PayRow], jobs: IndexedSeq[JobRow],
    soc: IndexedSeq[SocRow]) {

  /** Distinct payroll titles with a row in the match's fiscal-year window. */
  def payTitlesInWindow: Set[String] =
    payroll.iterator.filter(r => r.year >= FeedGen.YearStart &&
      r.year <= FeedGen.YearEnd).map(_.title).toSet

  def jobTitles: Set[String] = jobs.iterator.map(_.title).toSet

  /** `j1.candidate_pairs`: the pairs J1 must decide. */
  def candidatePairs: Long = jobTitles.size.toLong * payTitlesInWindow.size

  def payrollJson: Array[Array[Byte]] = payroll.map(FeedGen.json).toArray
  def jobsJson: Array[Array[Byte]] = jobs.map(FeedGen.json).toArray
}

/** Seeded generator of the weekly chain's inputs: same shape and seed,
  * byte-identical feed and workbook.
  *
  * Titles follow a job-title grammar (rank? domain domain? role level?)
  * with hot tokens ("ASSISTANT", "CITY", "ANALYST"), so most pairs share
  * a token yet fail the 85/85 and 75/75 thresholds. A share of job titles
  * is derived from a payroll title by one small edit, so those pairs
  * match. Payroll titles are upper case; job titles vary case and
  * punctuation, which the match's normalisation must absorb. */
object FeedGen {
  val YearStart = 2024
  val YearEnd = 2025

  val Ranks: IndexedSeq[String] = Vector("ASSISTANT", "CITY", "SENIOR",
    "PRINCIPAL", "SUPERVISING", "DEPUTY", "CHIEF", "ADMINISTRATIVE",
    "ASSOCIATE", "EXECUTIVE")
  // weights of "no rank" followed by Ranks; the first two are hot
  private val rankWeights = Array(40.0, 15, 12, 6, 5, 5, 4, 4, 3, 3, 3)
  val Domains: IndexedSeq[String] = Vector("CIVIL", "ELECTRICAL",
    "MECHANICAL", "DATA", "HOUSING", "PARKS", "BUDGET", "POLICY", "PROGRAM",
    "HEALTH", "SAFETY", "TRANSIT", "WATER", "TAX", "PAYROLL", "PROCUREMENT",
    "CONSTRUCTION", "ENVIRONMENTAL", "LEGAL", "COMPUTER", "SYSTEMS",
    "NETWORK", "CLAIMS", "CONTRACT", "COMMUNITY", "PUBLIC", "FIRE",
    "SANITATION", "TRAFFIC", "BUILDING", "ELEVATOR", "HIGHWAY", "CHILD",
    "YOUTH", "RECORDS", "INFORMATION", "SECURITY", "LABOR", "RESEARCH",
    "FINANCIAL", "OPERATIONS", "FACILITIES", "PLANNING", "EDUCATION",
    "TECHNOLOGY")
  val Roles: IndexedSeq[String] = Vector("ANALYST", "ENGINEER", "INSPECTOR",
    "MANAGER", "CLERK", "PLANNER", "COORDINATOR", "AIDE", "SPECIALIST",
    "ATTORNEY", "ACCOUNTANT", "SCIENTIST", "TECHNICIAN", "OFFICER",
    "ADMINISTRATOR", "CONSULTANT", "DIRECTOR", "INVESTIGATOR", "SUPERVISOR",
    "ARCHITECT", "AUDITOR", "COUNSELOR", "WORKER", "ASSISTANT")
  // ANALYST is hot
  private val roleWeights = Array.tabulate(Roles.size)(i => if (i == 0) 8.0 else 1.0)
  val Levels: IndexedSeq[String] = Vector("I", "II", "III", "IV")

  /** A title as a token tuple; -1 means the slot is empty. */
  private final case class T(rank: Int, d1: Int, d2: Int, role: Int, level: Int) {
    def tokens: Seq[String] =
      (if (rank >= 0) Seq(Ranks(rank)) else Nil) ++ Seq(Domains(d1)) ++
        (if (d2 >= 0) Seq(Domains(d2)) else Nil) ++ Seq(Roles(role)) ++
        (if (level >= 0) Seq(Levels(level)) else Nil)
  }

  private def pick(r: SplittableRandom, w: Array[Double]): Int = {
    var x = r.nextDouble() * w.sum
    var i = 0
    while (i < w.length - 1 && x >= w(i)) { x -= w(i); i += 1 }
    i
  }

  private def randomTitle(r: SplittableRandom): T = {
    val d1 = r.nextInt(Domains.size)
    val d2 = if (r.nextDouble() < 0.3) {
      val d = r.nextInt(Domains.size); if (d == d1) -1 else d
    } else -1
    T(pick(r, rankWeights) - 1, d1, d2, pick(r, roleWeights),
      if (r.nextDouble() < 0.5) r.nextInt(Levels.size) else -1)
  }

  /** One small edit: add, drop or change the rank or the level. */
  private def edit(r: SplittableRandom, t: T): T = r.nextInt(4) match {
    case 0 => t.copy(rank = if (t.rank >= 0) -1 else r.nextInt(Ranks.size))
    case 1 => t.copy(level = if (t.level >= 0) -1 else r.nextInt(Levels.size))
    case 2 => t.copy(level = (t.level + 1) % Levels.size)
    case _ => t.copy(rank = r.nextInt(Ranks.size))
  }

  private def titleCase(w: String): String =
    if (Levels.contains(w)) w else w.head + w.tail.toLowerCase

  private def payrollName(t: T): String = t.tokens.mkString(" ")

  private def jobName(r: SplittableRandom, t: T): String = {
    val toks = t.tokens
    r.nextInt(3) match {
      case 0 => toks.map(titleCase).mkString(" ")
      case 1 if t.level >= 0 =>
        toks.init.map(titleCase).mkString(" ") + ", " + toks.last
      case 1 => toks.map(titleCase).mkString(" ") + "."
      case _ if t.level >= 0 => toks.init.mkString(" ") + " (" + toks.last + ")"
      case _ => toks.mkString(" ")
    }
  }

  /** Row counts per title: one each, the rest spread by a Zipf law over
    * the titles' popularity ranks (0 = most popular). */
  private def allocate(rank: Array[Int], rows: Int, zipf: Double): Array[Int] = {
    val titles = rank.length
    require(rows >= titles, s"$rows rows cannot cover $titles titles")
    val w = rank.map(k => 1.0 / math.pow(k + 1.0, zipf))
    val total = w.sum
    val extra = rows - titles
    val n = w.map(x => 1 + math.floor(extra * x / total).toInt)
    val byRank = rank.indices.sortBy(i => (rank(i), i))
    var left = rows - n.sum
    var i = 0
    while (left > 0) { n(byRank(i % titles)) += 1; left -= 1; i += 1 }
    n
  }

  private def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }

  private val months = Vector("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL",
    "AUG", "SEP", "OCT", "NOV", "DEC")

  def generate(shape: Shape, seed: Long): Feed = {
    val r = Rng(seed, "feed")

    // payroll titles, each with a salary level shared by its rows
    val payT = new scala.collection.mutable.LinkedHashMap[T, Long]
    while (payT.size < shape.payTitles)
      payT.getOrElseUpdate(randomTitle(r), 40000L + r.nextInt(120) * 1000L)
    val payList = payT.toVector

    // popular payroll titles are popular postings too: a derived job
    // title takes its source's popularity rank, so the skew of J1's
    // join-back is the same for every seed
    val payRank = shuffled(r, payList.size)

    // job titles: derived round-robin from the payroll titles (inheriting
    // level and rank), or drawn independently
    val jobT = new scala.collection.mutable.LinkedHashMap[T, (Long, Int)]
    val derived = math.round(shape.jobTitles * shape.derivedFrac).toInt
    val sources = shuffled(r, payList.size)
    var k = 0
    while (jobT.size < shape.jobTitles) {
      if (jobT.size < derived) {
        val src = sources(k % sources.length)
        k += 1
        val (t, lvl) = payList(src)
        val e = if (r.nextDouble() < 0.3) t else edit(r, t)
        jobT.getOrElseUpdate(e, (lvl, payRank(src)))
      } else jobT.getOrElseUpdate(randomTitle(r),
        (40000L + r.nextInt(120) * 1000L, payList.size + r.nextInt(payList.size)))
    }

    val payCounts = allocate(payRank, shape.payRows, shape.zipf)
    val payroll = payList.indices.flatMap { i =>
      val (t, lvl) = payList(i)
      val name = payrollName(t)
      (0 until payCounts(i)).map { k =>
        val base = (lvl * (0.8 + 0.4 * r.nextDouble()) / 10).round * 10
        val year =
          if (k == 0) YearStart + r.nextInt(2)
          else if (r.nextDouble() < 0.2) YearStart - 1
          else YearStart + r.nextInt(2)
        PayRow(name, base, (base * (0.9 + 0.2 * r.nextDouble())).round,
          r.nextInt(5000), r.nextInt(2000), year)
      }
    }

    val jobList = jobT.toVector
    val jobCounts = allocate(jobList.map(_._2._2).toArray, shape.jobRows, shape.zipf)
    val jobs = jobList.indices.flatMap { i =>
      val (t, (lvl, _)) = jobList(i)
      val name = jobName(r, t)
      val n = jobCounts(i)
      // the rows of one title tile its salary range with narrow bands,
      // so each payroll row falls in about 1.5 postings' bands and J1
      // output stays a small multiple of the payroll rows
      (0 until n).map { k =>
        val center = lvl * (0.8 + 0.4 * (k + r.nextDouble()) / n)
        val half = 0.4 * lvl * 0.75 / n
        val day = java.time.LocalDate.of(2024, 1, 1).plusDays(r.nextInt(540))
        val until =
          if (r.nextDouble() < 0.3) null
          else {
            val u = day.plusDays(30 + r.nextInt(90))
            val d = u.getDayOfMonth
            s"${if (d < 10) "0" else ""}$d-${months(u.getMonthValue - 1)}-${u.getYear}"
          }
        JobRow(name, (center - half).round, (center + half).round,
          s"${day}T00:00:00.000", until)
      }
    }

    // Lightcast occupations: plural "Domain [Domain] Role" names
    val socNames = new scala.collection.mutable.LinkedHashSet[String]
    while (socNames.size < shape.socRows) {
      val t = randomTitle(r)
      socNames += (t.tokens.slice(if (t.rank >= 0) 1 else 0,
        t.tokens.size - (if (t.level >= 0) 1 else 0))
        .map(titleCase).mkString(" ") + "s")
    }
    val soc = socNames.toVector.map(n =>
      SocRow(n, 100 + r.nextInt(20000), 10.0 + r.nextInt(100) * 0.5))

    Feed(payroll, jobs, soc)
  }

  val PayrollFields: Seq[String] = Seq("title_description", "base_salary",
    "pay_basis", "regular_gross_paid", "total_ot_paid", "total_other_pay",
    "fiscal_year")
  val JobFields: Seq[String] = Seq("business_title", "salary_range_from",
    "salary_range_to", "posting_date", "post_until")

  /** Socrata-style JSON object: every value a string, absent when null. */
  def json(row: Product): Array[Byte] = {
    val (fields, values) = row match {
      case p: PayRow => (PayrollFields, Seq(p.title, s"${p.base}.00",
        "per Annum", s"${p.gross}.00", s"${p.ot}.00", s"${p.other}.00",
        p.year.toString))
      case j: JobRow => (JobFields, Seq(j.title, s"${j.from}.00",
        s"${j.to}.00", j.posting, j.postUntil))
      case other => throw new IllegalArgumentException(s"not a feed row: $other")
    }
    fields.zip(values).collect { case (f, v) if v != null => Json.str(f) + ":" + Json.str(v) }
      .mkString("{", ",", "}").getBytes(UTF_8)
  }

  val SocHeader: Seq[String] = Seq("Occupation (SOC)",
    "Total Postings (Jan 2024 - Jun 2025)", "Median Posting Duration")

  /** The Lightcast workbook: one sheet, inline strings and numbers, fixed
    * entry times so the bytes depend on the rows alone. */
  def xlsx(soc: Seq[SocRow]): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bytes)
    def entry(name: String, content: String): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L)
      zip.putNextEntry(e)
      zip.write(content.getBytes(UTF_8))
      zip.closeEntry()
    }
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def row(cells: Seq[Any]): String =
      "<row>" + cells.map {
        case s: String => s"""<c t="inlineStr"><is><t>${esc(s)}</t></is></c>"""
        case n => s"<c><v>$n</v></c>"
      }.mkString + "</row>"
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    entry("xl/workbook.xml",
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      (Seq("""<?xml version="1.0"?>""",
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""",
        row(SocHeader)) ++
        soc.map(s => row(Seq(s.occupation, s.postings, s.duration))) ++
        Seq("</sheetData></worksheet>")).mkString("\n"))
    zip.close()
    bytes.toByteArray
  }
}
