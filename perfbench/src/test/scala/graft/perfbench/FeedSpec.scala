package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

class FeedSpec extends AnyFunSuite {
  private val shape = Shape(payTitles = 60, jobTitles = 50, derivedFrac = 0.5,
    payRows = 400, jobRows = 150, zipf = 1.0, socRows = 40, payPage = 50, jobPage = 50)

  private def bytes(f: Feed): Seq[Array[Byte]] =
    Seq(f.payrollJson.flatten, f.jobsJson.flatten, FeedGen.xlsx(f.soc))

  test("the same seed gives a byte-identical feed and workbook") {
    val a = bytes(FeedGen.generate(shape, 7))
    val b = bytes(FeedGen.generate(shape, 7))
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
    val c = bytes(FeedGen.generate(shape, 8))
    a.zip(c).foreach { case (x, y) => assert(!java.util.Arrays.equals(x, y)) }
  }

  test("the feed has the shape's sizes") {
    (shape +: Workloads.all.map(_.shape)).foreach { s =>
      val f = FeedGen.generate(s, 3)
      assert(f.payroll.size == s.payRows)
      assert(f.jobs.size == s.jobRows)
      assert(f.soc.map(_.occupation).distinct.size == s.socRows)
      assert(f.jobTitles.size == s.jobTitles)
      assert(f.payTitlesInWindow.size == s.payTitles)
      assert(f.jobs.forall(j => j.from <= j.to))
    }
  }

  test("the feed server pages exactly, at the boundaries too") {
    val rows = Array.tabulate(10)(i => s"""{"i":"$i"}""".getBytes("UTF-8"))
    val server = new FeedServer(Map("t" -> rows), 2)
    val client = HttpClient.newHttpClient()
    def get(q: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(URI.create(server.url("t") + q)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    }
    def ids(from: Int, until: Int) = (from until until).map(i => s"""{"i":"$i"}""")
      .mkString("[", ",", "]")
    try {
      assert(get("?$limit=3&$offset=0") == (200, ids(0, 3)))
      assert(get("?$limit=3&$offset=9") == (200, ids(9, 10)))
      assert(get("?$limit=3&$offset=10") == (200, "[]"))
      assert(get("?$limit=3&$offset=11") == (200, "[]"))
      assert(get("?$limit=10&$offset=0") == (200, ids(0, 10)))
      assert(get("?$limit=0&$offset=4") == (200, "[]"))
      assert(get(s"?$$limit=${Long.MaxValue}&$$offset=7") == (200, ids(7, 10)))
      assert(get("?%24limit=2&%24offset=4") == (200, ids(4, 6)))
      assert(get("") == (200, ids(0, 10))) // Socrata's default $limit is 1000
      // consecutive pages tile the dataset with no gap or overlap
      val tiled = (0 until 4).map(p => get(s"?$$limit=3&$$offset=${3 * p}")._2
        .stripPrefix("[").stripSuffix("]")).filter(_.nonEmpty).mkString("[", ",", "]")
      assert(tiled == ids(0, 10))
      assert(get("?$limit=-1")._1 == 400)
      assert(get("?$offset=x")._1 == 400)
      assert(client.send(HttpRequest.newBuilder(URI.create(server.url("nope"))).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode == 404)
      assert(server.requests.get == 16)
    } finally server.stop()
  }
}
