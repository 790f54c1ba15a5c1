package graft.perfbench

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Socrata-style feed: `GET /resource/<name>.json?$limit=N&$offset=M`
  * answers rows [M, M+N) of the named dataset as a JSON array (Socrata's
  * default `$limit` is 1000). It counts requests and response bytes and
  * notes, per dataset, when the first request arrived and the last one
  * finished, so the ingest stage's fetch time is seen from the server
  * side. */
final class FeedServer(datasets: Map[String, Array[Array[Byte]]], threads: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
  val requests = new AtomicLong
  val bytes = new AtomicLong
  private val firstNs = datasets.map { case (k, _) => k -> new AtomicLong(Long.MaxValue) }
  private val lastNs = datasets.map { case (k, _) => k -> new AtomicLong(Long.MinValue) }

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def url(name: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/resource/$name.json"

  def reset(): Unit = {
    requests.set(0); bytes.set(0)
    firstNs.values.foreach(_.set(Long.MaxValue))
    lastNs.values.foreach(_.set(Long.MinValue))
  }

  /** Per requested dataset: (first arrival, last completion) in
    * `System.nanoTime` units. */
  def windows: Map[String, (Long, Long)] =
    datasets.keys.filter(k => lastNs(k).get != Long.MinValue)
      .map(k => k -> (firstNs(k).get, lastNs(k).get)).toMap

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private val Path = "/resource/([A-Za-z0-9_]+)\\.json".r

  private def handle(ex: HttpExchange): Unit = {
    val arrived = System.nanoTime()
    val dataset = ex.getRequestURI.getPath match {
      case Path(name) if datasets.contains(name) => Some(name)
      case _ => None
    }
    dataset.foreach(firstNs(_).accumulateAndGet(arrived, math.min))
    try {
      val body = dataset match {
        case Some(name) =>
          params(ex) match {
            case Some((limit, offset)) => Right(page(datasets(name), limit, offset))
            case None => Left(400 -> "bad $limit/$offset")
          }
        case _ => Left(404 -> "no such dataset")
      }
      val (status, bytesOut) = body match {
        case Right(b) => 200 -> b
        case Left((code, msg)) => code -> s"""{"error":"$msg"}""".getBytes("UTF-8")
      }
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytesOut.length.toLong)
      ex.getResponseBody.write(bytesOut)
      requests.incrementAndGet()
      bytes.addAndGet(bytesOut.length.toLong)
    } finally {
      ex.close()
      dataset.foreach(lastNs(_).accumulateAndGet(System.nanoTime(), math.max))
    }
  }

  /** ($limit, $offset) from the query string; None when malformed. */
  private def params(ex: HttpExchange): Option[(Long, Long)] = {
    val kv = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.contains('=')).map { s =>
        val Array(k, v) = s.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> v
      }.toMap
    for {
      limit <- kv.get("$limit").fold(Option(1000L))(_.toLongOption)
      offset <- kv.get("$offset").fold(Option(0L))(_.toLongOption)
      if limit >= 0 && offset >= 0
    } yield (limit, offset)
  }

  private def page(rows: Array[Array[Byte]], limit: Long, offset: Long): Array[Byte] = {
    val from = math.min(offset, rows.length.toLong).toInt
    val to = (from + math.min(limit, (rows.length - from).toLong)).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write('[')
    var i = from
    while (i < to) {
      if (i > from) out.write(',')
      out.write(rows(i))
      i += 1
    }
    out.write(']')
    out.toByteArray
  }
}
