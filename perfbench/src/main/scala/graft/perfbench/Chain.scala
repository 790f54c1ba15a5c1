package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Expectations.Check
import graft.pipeline.IngestFlow

/** The weekly chain's inputs as the program receives them, and the chain
  * itself: the Lightcast XLSX step, then `IngestFlow.runAll`. */
object Chain {
  val LightcastTable = "lightcast_job_postings_data"

  /** The two Socrata feeds, paged by the shape's page sizes; the last
    * planned page comes back empty, so nothing is cut off. */
  def sources(server: FeedServer, feed: Feed, shape: Shape): Seq[IngestFlow.RestDataset] = Seq(
    IngestFlow.RestDataset("nyc_payroll_data", server.url("payroll"),
      FeedGen.PayrollFields, shape.payPage, feed.payroll.size / shape.payPage + 2),
    IngestFlow.RestDataset("nyc_job_postings_data", server.url("jobs"),
      FeedGen.JobFields, shape.jobPage, feed.jobs.size / shape.jobPage + 2))

  /** Expectation suites gating both feeds, so the ingest stage runs the
    * `Expectations` gate before it promotes. */
  val expectations: Map[String, IngestFlow.TableExpectations] = Map(
    "nyc_payroll_data" -> IngestFlow.TableExpectations(Seq(
      Check("title_present", col("title_description").isNotNull),
      Check("salary_nonnegative", col("base_salary").cast("double") >= 0))),
    "nyc_job_postings_data" -> IngestFlow.TableExpectations(Seq(
      Check("title_present", col("business_title").isNotNull),
      Check("band_ordered",
        col("salary_range_from").cast("double") <= col("salary_range_to").cast("double")))))

  def run(spark: SparkSession, xlsx: String, sources: Seq[IngestFlow.RestDataset],
      lake: String): Unit = {
    IngestFlow.ingestXlsx(spark, xlsx, LightcastTable, lake)
    IngestFlow.runAll(spark, sources, lake, expectations = expectations)
  }

  /** Fresh, empty bronze and gold databases under `warehouse`. */
  def freshCatalog(spark: SparkSession, warehouse: java.nio.file.Path): Unit =
    Seq("bronze", "gold").foreach { db =>
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"CREATE DATABASE $db LOCATION '${warehouse.resolve(s"$db.db").toUri}'")
    }
}
