package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.functions.FuzzyKernel

/** Row count and order-independent content digest of one table. */
final case class TableDigest(rows: Long, digest: String)

/** Correctness checks computed by the benchmark itself, independently of
  * the code paths they check. */
object Checks {

  /** The four gold tables, in `Serve.registry` id order, with each
    * one's sort key (the serve contract: sort key desc, then every other
    * column asc in name order). */
  val Gold: Seq[(String, String)] = Seq(
    "gold.nyc_salary_matches" -> "match_score",
    "gold.nyc_matched_job_posting_duration_soc" -> "median_posting_duration",
    "gold.nyc_salary_matches_unique_job_posting_title" -> "match_score",
    "gold.nyc_matched_job_posting_duration_soc_unique_title" -> "median_posting_duration")

  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  /** Sum over rows of the first 8 bytes of SHA-256(row), mod 2^64. */
  def digest(rows: Seq[Row]): TableDigest = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest((0 until r.length).map(i => cell(r.get(i)))
        .mkString("\u001f").getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    TableDigest(rows.size.toLong, f"$sum%016x")
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1 // Spark: nulls first ascending
    case (_, null) => 1
    case (x: String, y: String) =>
      // Spark compares strings by UTF-8 bytes
      java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case _ => throw new IllegalStateException(s"cannot order $a and $b")
  }

  /** The serve contract's order, implemented here without Spark. */
  def contractOrder(columns: Seq[String], sortKey: String): Ordering[Row] = {
    val k = columns.indexOf(sortKey)
    val rest = columns.zipWithIndex.filterNot(_._1 == sortKey).sortBy(_._1).map(_._2)
    (a: Row, b: Row) => {
      // desc with nulls last is the exact reverse of asc nulls first
      var c = -cmp(a.get(k), b.get(k))
      val it = rest.iterator
      while (c == 0 && it.hasNext) { val i = it.next(); c = cmp(a.get(i), b.get(i)) }
      c
    }
  }

  /** A served JSON row object equals an expected row: the same non-null
    * fields with the same values (Spark's JSON omits null fields). */
  def sameRow(node: com.fasterxml.jackson.databind.JsonNode, columns: Seq[String],
      r: Row): Boolean =
    node != null && node.isObject &&
      node.size == columns.indices.count(i => !r.isNullAt(i)) &&
      columns.indices.forall { i =>
        val f = node.get(columns(i))
        r.get(i) match {
          case null => f == null
          case s: String => f != null && f.isTextual && f.asText == s
          case n: Int => f != null && f.isIntegralNumber && f.asLong == n
          case n: Long => f != null && f.isIntegralNumber && f.asLong == n
          case d: Double => f != null && f.isNumber && f.asDouble == d
          case _ => false
        }
      }

  /** J1 by brute force over the generated rows, for the given job
    * titles: the number of J1 rows per job title. A title pair matches
    * when token_set_ratio and WRatio of the normalised titles are both at
    * least 85; a row pair is emitted when the payroll row is in the
    * fiscal-year window and its base salary lies in the posting's band. */
  def expectedJ1Rows(feed: Feed, titles: Seq[String]): Map[String, Long] = {
    val pay = feed.payroll.filter(r => r.year >= FeedGen.YearStart &&
      r.year <= FeedGen.YearEnd).groupBy(_.title)
    val payNorm = pay.keys.map(t => t -> FuzzyKernel.normalizeTitle(t)).toSeq
    val jobs = feed.jobs.groupBy(_.title)
    titles.map { a =>
      val na = FuzzyKernel.normalizeTitle(a)
      val matched = payNorm.collect {
        case (b, nb) if FuzzyKernel.tokenSetRatio(na, nb) >= 85.0 &&
            FuzzyKernel.wratio(na, nb) >= 85.0 => b
      }
      val n = matched.iterator.map { b =>
        jobs.getOrElse(a, Nil).iterator.map { j =>
          pay(b).count(p => j.from <= p.base && p.base <= j.to).toLong
        }.sum
      }.sum
      a -> n
    }.toMap
  }

  /** J1's distinct key pairs by brute force over all distinct titles. */
  def expectedJ1Pairs(feed: Feed): Set[(String, String)] = {
    val pay = feed.payroll.filter(r => r.year >= FeedGen.YearStart &&
      r.year <= FeedGen.YearEnd).groupBy(_.title)
    val jobs = feed.jobs.groupBy(_.title)
    (for {
      (a, jrows) <- jobs.iterator
      na = FuzzyKernel.normalizeTitle(a)
      (b, prows) <- pay.iterator
      nb = FuzzyKernel.normalizeTitle(b)
      if FuzzyKernel.tokenSetRatio(na, nb) >= 85.0 &&
        FuzzyKernel.wratio(na, nb) >= 85.0 &&
        jrows.exists(j => prows.exists(p => j.from <= p.base && p.base <= j.to))
    } yield a -> b).toSet
  }

  /** J2 by brute force: the occupations each title matches at 75/75. */
  def expectedJ2(feed: Feed, titles: Seq[String]): Set[(String, String)] = {
    val occ = feed.soc.map(s => s.occupation -> FuzzyKernel.normalizeTitle(s.occupation))
    titles.flatMap { a =>
      val na = FuzzyKernel.normalizeTitle(a)
      occ.collect {
        case (o, no) if FuzzyKernel.tokenSetRatio(na, no) >= 75.0 &&
            FuzzyKernel.wratio(na, no) >= 75.0 => a -> o
      }
    }.toSet
  }

  def collect(spark: SparkSession, table: String): (Seq[String], Seq[Row]) = {
    val df = spark.table(table)
    (df.columns.toSeq, df.collect().toSeq)
  }
}
