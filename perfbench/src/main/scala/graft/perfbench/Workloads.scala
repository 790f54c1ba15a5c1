package graft.perfbench

/** Input sizes of one workload. The contents come from the seed; the
  * sizes do not, so every seed costs about the same. */
final case class Shape(
    payTitles: Int,     // distinct payroll titles, each with a row in the match year window
    jobTitles: Int,     // distinct job-posting titles
    derivedFrac: Double, // share of job titles derived from a payroll title (likely matches)
    payRows: Int,
    jobRows: Int,
    zipf: Double,       // skew of rows per title; 0 spreads rows evenly
    socRows: Int,       // Lightcast occupations in the XLSX
    payPage: Int,       // feed page sizes ($limit per request)
    jobPage: Int)

/** One benchmark workload: a name and its input shape. */
final case class Workload(name: String, shape: Shape)

object Workloads {
  val all: Seq[Workload] = Seq(
    // many distinct titles, few rows each: the most J1/J2 pair scoring
    // per chain of the two; its gold is small
    Workload("chain_match_heavy",
      Shape(payTitles = 1600, jobTitles = 1600, derivedFrac = 0.25,
        payRows = 2400, jobRows = 2000, zipf = 0.0, socRows = 400,
        payPage = 500, jobPage = 500)),
    // hundreds of titles, many skewed rows: the most fetch, parse, lake
    // and bronze rows and J1 join-back rows per chain of the two, and a
    // deep salary-matches gold table to page
    Workload("chain_feed_heavy",
      Shape(payTitles = 200, jobTitles = 300, derivedFrac = 0.9,
        payRows = 16000, jobRows = 1500, zipf = 1.0, socRows = 300,
        payPage = 1000, jobPage = 250)))

  /** The small feed of the untimed chain that warms the JVM up. */
  val warmup: Shape = Shape(payTitles = 200, jobTitles = 200, derivedFrac = 0.5,
    payRows = 1500, jobRows = 500, zipf = 0.5, socRows = 100,
    payPage = 250, jobPage = 250)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
