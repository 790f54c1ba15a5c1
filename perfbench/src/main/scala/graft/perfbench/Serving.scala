package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** A gold table as the benchmark expects it served: its rows in the
  * serve contract's order. */
final case class GoldTable(id: Int, columns: Seq[String], sortKey: String,
    rows: IndexedSeq[Row]) {
  private lazy val key = columns.indexOf(sortKey)
  def score(r: Row): Option[Double] = r.get(key) match {
    case null => None
    case s: String => s.trim.toDoubleOption
    case n: Number => Some(n.doubleValue)
    case _ => None
  }
  lazy val sortedScores: IndexedSeq[Double] = rows.flatMap(score).sorted
}

/** One request of the mix. `scoreCol` and `range` apply to dashboard
  * sections only. */
final case class Req(kind: String, id: Int, offset: Int, limit: Int,
    scoreCol: String = "", range: Option[(Long, Long)] = None) {
  def path: String = kind match {
    case "report" => s"/reports/$id?offset=$offset&limit=$limit"
    case _ => s"/dashboard/data?id=$id&score_col=$scoreCol" +
      range.fold("") { case (lo, hi) => s"&lo=$lo&hi=$hi" }
  }
}

/** A finished request: status -1 when the client itself failed. */
final case class Done(req: Req, dueNs: Long, sentNs: Long, endNs: Long,
    status: Int, body: String) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
}

/** The HTTP read path: request mixes, the open and closed loops, and
  * the check of every response against the serve contract. */
final class Serving(port: Int, gold: IndexedSeq[GoldTable]) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private val mapper = new ObjectMapper()

  /** Seeded mix in shuffled blocks of 19 requests. Per table, four report
    * pages of [[Serving.PageRows]] rows at seeded offsets over the table's
    * full depth. Then the dashboard as its page sends it
    * (`Dashboard.scala`): on load, sections 2 and 3 with their score
    * column and the default `max_rows`; then section 2 again with a
    * whole-number `lo`/`hi` range, as typed into its filter. Every block
    * has the same make-up, so percentiles do not move with how many slow
    * kinds a seed happens to draw. */
  def mix(r: SplittableRandom, n: Int): IndexedSeq[Req] =
    Iterator.continually {
      val pages = gold.flatMap { t =>
        Seq.fill(4)(Req("report", t.id,
          r.nextInt(math.max(1, t.rows.size - Serving.PageRows + 1)), Serving.PageRows))
      }
      def section(t: GoldTable, range: Option[(Long, Long)]) =
        Req("dashboard", t.id, 0, Serving.DashboardRows, t.sortKey, range)
      val matches = gold(2)
      val a = matches.sortedScores(r.nextInt(matches.sortedScores.size))
      val b = matches.sortedScores(r.nextInt(matches.sortedScores.size))
      val block = (pages ++ Seq(section(matches, None), section(gold(3), None),
        section(matches, Some((math.floor(math.min(a, b)).toLong,
          math.ceil(math.max(a, b)).toLong))))).toArray
      var i = block.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1); val x = block(i); block(i) = block(j); block(j) = x; i -= 1
      }
      block.toSeq
    }.flatten.take(n).toIndexedSeq

  def send(req: Req, dueNs: Long): Done = {
    val sent = System.nanoTime()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}"))
          .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      Done(req, dueNs, sent, System.nanoTime(), resp.statusCode, resp.body)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Done(req, dueNs, sent, System.nanoTime(), -1, String.valueOf(e))
    }
  }

  /** Open loop: request i is due at start + i/rate whatever the state of
    * earlier ones; latency counts from the due time. */
  def openLoop(reqs: IndexedSeq[Req], rate: Double): IndexedSeq[Done] = {
    val pool = Executors.newFixedThreadPool(64)
    try {
      val start = System.nanoTime() + 5000000L
      val futures = reqs.indices.map { i =>
        val due = start + (i * 1e9 / rate).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        pool.submit(() => send(reqs(i), due))
      }
      futures.map(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
  }

  /** Closed loop: `clients` callers, each sending its next request when
    * the previous one returns, until `seconds` have passed or, with
    * `seconds` = 0, until every request was sent once. Returns the
    * finished requests and the `System.nanoTime` the loop started at. */
  def closedLoop(reqs: IndexedSeq[Req], clients: Int, seconds: Double)
      : (IndexedSeq[Done], Long) = {
    val next = new java.util.concurrent.atomic.AtomicInteger
    val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Done])
    val start = System.nanoTime()
    val stopAt = start + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (if (seconds > 0) System.nanoTime() < stopAt else i < reqs.size) {
          out.add(send(reqs(i % reqs.size), System.nanoTime()))
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (out.asScala.toIndexedSeq, start)
  }

  /** Whether a response is what the serve contract says it must be: a
    * report page is rows [offset, offset+limit) of the contract order; a
    * dashboard section carries the table's total, the filtered count,
    * the filtered score stats and the first rows of the filtered order. */
  def valid(d: Done): Boolean = d.status == 200 && {
    val t = gold(d.req.id)
    val node = try mapper.readTree(d.body) catch { case _: Exception => null }
    node != null && (d.req.kind match {
      case "report" =>
        val want = t.rows.slice(d.req.offset, d.req.offset + d.req.limit)
        node.isArray && node.size == want.size &&
          want.indices.forall(i => Checks.sameRow(node.get(i), t.columns, want(i)))
      case _ =>
        val in = t.rows.filter(r => d.req.range.forall { case (l, h) =>
          t.score(r).exists(s => s >= l && s <= h)
        })
        val s = in.flatMap(t.score)
        val stats = if (s.isEmpty) None else Some((s.sum / s.size, s.min, s.max))
        val rows = in.take(d.req.limit)
        val rs = node.get("rows")
        val st = node.get("stats")
        node.path("total").asLong(-1) == t.rows.size &&
          node.path("filtered").asLong(-1) == in.size &&
          rs != null && rs.isArray && rs.size == rows.size &&
          rows.indices.forall(i => Checks.sameRow(rs.get(i), t.columns, rows(i))) &&
          (stats match {
            case None => st != null && st.isNull
            case Some((mean, mn, mx)) =>
              st != null && st.path("min").asDouble == mn &&
                st.path("max").asDouble == mx &&
                math.abs(st.path("mean").asDouble - mean) <= 1e-9 * math.max(1.0, math.abs(mean))
          })
    })
  }
}

object Serving {
  /** Rows per report page. No client of the program pages `/reports`
    * with `offset`/`limit`: the reference's client takes whole tables
    * (limit 750000). The size is therefore a choice, not a measurement. */
  val PageRows = 100

  /** Rows of a dashboard section: `HttpApi`'s default `max_rows`, which
    * the dashboard page does not set. */
  val DashboardRows = 1000
}
