package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Runs the chain on a small seeded feed and checks J1 against a
  * brute-force scan that uses neither blocking nor the join-back. */
class J1OracleSpec extends AnyFunSuite {
  test("J1's distinct key pairs and rows equal a brute-force scan of the titles") {
    val shape = Shape(payTitles = 150, jobTitles = 150, derivedFrac = 0.4,
      payRows = 600, jobRows = 400, zipf = 0.8, socRows = 80, payPage = 100, jobPage = 100)
    val feed = FeedGen.generate(shape, 11)
    val dir = Files.createTempDirectory("perfbench-j1")
    val spark = graft.Sessions.local("perfbench-test", 2)
    val server = new FeedServer(Map("payroll" -> feed.payrollJson, "jobs" -> feed.jobsJson), 2)
    try {
      Chain.freshCatalog(spark, dir.resolve("warehouse"))
      val xlsx = dir.resolve("lightcast.xlsx")
      Files.write(xlsx, FeedGen.xlsx(feed.soc))
      Chain.run(spark, xlsx.toString, Chain.sources(server, feed, shape),
        dir.resolve("lake").toString)

      val j1 = spark.table("bronze.payroll_to_jobs_title_fuzzy_matches")
      val got = j1.select("business_title", "title_description").distinct().collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
      val want = Checks.expectedJ1Pairs(feed)
      assert(want.nonEmpty && want.size < feed.candidatePairs)
      assert(got == want)

      val titles = feed.jobTitles.toSeq
      val rows = j1.groupBy("business_title").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantRows = Checks.expectedJ1Rows(feed, titles)
      titles.foreach(t => assert(rows.getOrElse(t, 0L) == wantRows(t), t))

      val matched = want.map(_._1).toSeq
      val j2 = spark.table("bronze.jobs_to_lightcast_title_fuzzy_matches")
        .select("business_title", "lightcast_matched_occupation").collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
      assert(j2 == Checks.expectedJ2(feed, matched))
      assert(spark.table("gold.nyc_salary_matches").count() == j1.count())
      assert(j1.where(col("base_salary") < col("salary_range_from")).isEmpty)
    } finally {
      server.stop()
      spark.stop()
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}
