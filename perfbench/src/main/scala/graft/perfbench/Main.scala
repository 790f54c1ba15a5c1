package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.functions.FuzzyKernel
import graft.pipeline.IngestFlow
import graft.serve.{HttpApi, Serve}

/** The weekly chain and paged gold serve, run end to end in one process.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --out <file> --pins <file> [--pin]`
  *
  * Writes one JSON object to `--out`: with `--trace 0` the end-to-end
  * metrics, with `--trace 1` the per-layer ones. Exits 1 when any
  * correctness check fails; the object then says `"correct": false`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, pins: Path, pin: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      Paths.get(need("pins")), argv.contains("--pin"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.filterNot(_ == "--pin") ++
      (if (argv.contains("--pin")) Array("--pin", "1") else Array.empty[String]))
    val run = new Run(args, Workloads.byName(args.workload))
    val ok = try run.execute() finally run.close()
    sys.exit(if (ok) 0 else 1)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One benchmark run. */
final class Run(args: Main.Args, wl: Workload) {
  import Main.{median, quantile}

  private val cores = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())
  private val shape = wl.shape
  private var spark: SparkSession = _
  private var feed: Feed = _
  private var server: FeedServer = _
  private val xlsxPath = args.work.resolve("lightcast.xlsx")
  private var chainIdx = 0

  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var peakOldGenBytes = 0L
  private var baseline: Option[Seq[TableDigest]] = None

  /** A failed check: logged, counted into `failed`, and the run is not
    * correct. */
  private def problem(msg: String, failures: Long = 1): Unit = {
    System.err.println(s"perfbench: CHECK FAILED: $msg")
    problems += msg
    failed += failures
  }

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(msg: String): Unit = System.err.println(
    f"perfbench: [${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%6.1f s] $msg")

  private def stages: Seq[IngestFlow.RestDataset] = Chain.sources(server, feed, shape)

  // ---- set-up ---------------------------------------------------------------

  /** One set-up pass: Spark session, feed and workbook, feed server.
    * Returns its seconds. */
  private def setupPass(first: Boolean): Double = {
    val t0 = if (first) {
      System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    } else {
      teardown()
      System.nanoTime()
    }
    spark = graft.Sessions.local("perfbench", cores)
    feed = FeedGen.generate(shape, args.seed)
    Files.write(xlsxPath, FeedGen.xlsx(feed.soc))
    server = new FeedServer(
      Map("payroll" -> feed.payrollJson, "jobs" -> feed.jobsJson), cores)
    (System.nanoTime() - t0) / 1e9
  }

  private def teardown(): Unit = {
    if (server != null) server.stop()
    if (spark != null) spark.stop()
    server = null
    spark = null
  }

  private val chainSamples = mutable.ArrayBuffer.empty[Double]

  // ---- the chain ------------------------------------------------------------

  /** A fresh warehouse and lake for the next chain. */
  private def freshDirs(): Path = {
    chainIdx += 1
    val dir = args.work.resolve(s"chain-$chainIdx")
    Files.createDirectories(dir)
    Chain.freshCatalog(spark, dir.resolve("warehouse"))
    // earlier chains' files are no longer needed
    (1 until chainIdx).foreach(i => deleteTree(args.work.resolve(s"chain-$i")))
    dir
  }

  /** One cold chain, `ingestXlsx` then `runAll`; returns its seconds.
    * Traced, the same calls `runAll` makes are made one by one, each in
    * its span. */
  private def chain(tracer: Option[Tracer]): Double = {
    val lake = freshDirs().resolve("lake").toString
    server.reset()
    // the garbage of earlier chains and checks is collected here, not
    // at a random point inside the timed chain
    System.gc()
    val t0 = System.nanoTime()
    try tracer match {
      case None =>
        attempted += 5
        try Chain.run(spark, xlsxPath.toString, stages, lake)
        catch { case e: Exception => failed += 5; throw e }
      case Some(tr) => tracedChain(tr, lake)
    } catch {
      case e: Exception =>
        log(s"chain failed: $e")
        throw e
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def tracedChain(tr: Tracer, lake: String): Unit = {
    val l = tr.listener
    val root = tr.begin("chain")
    def stage[A](name: String)(body: => A): Span = {
      attempted += 1
      try tr.span(name, root)(body)._2
      catch { case e: Exception => failed += 1; throw e }
    }
    val xlsx = stage("xlsx")(IngestFlow.ingestXlsx(spark, xlsxPath.toString,
      Chain.LightcastTable, lake))
    val ingest = stage("ingest")(IngestFlow.runDataIngestion(spark, stages, lake, Chain.expectations))
    val fetchS = server.windows.values.map { case (first, last) => (last - first) / 1e9 }.sum
    val bronze = stage("bronze")(IngestFlow.dbSync(spark, lake))
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    l.armMatchSplit()
    val matched = stage("match")(IngestFlow.runFuzzyMatch(spark))
    val gold = stage("gold")(IngestFlow.runGoldLayer(spark))
    val chainSpan = tr.end(root)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val split =
      if (l.j1EndMs < 0) {
        problem("the J1 write execution was not seen inside runFuzzyMatch")
        matched.endNs
      } else math.max(matched.startNs, math.min(matched.endNs, tr.nanosOfEpochMs(l.j1EndMs)))
    tr.add("j1", matched.id, "", matched.startNs, split)
    tr.add("j2", matched.id, "", split, matched.endNs)
    lastTrace = Some(Run.TracedChain(chainSpan, xlsx, ingest, bronze, matched, gold,
      split, fetchS, server.requests.get, server.bytes.get))
  }

  private var lastTrace: Option[Run.TracedChain] = None

  // ---- correctness ----------------------------------------------------------

  private def count(sql: String): Long = spark.sql(sql).head().getLong(0)

  /** Checks the catalog a chain left: gold digests against the run's
    * first chain and the pinned values, gold against bronze, bronze
    * against the feed, and (first chain) J1 and J2 on a sample of
    * titles against a brute-force scan of the generated rows. */
  private def checkChain(): Seq[TableDigest] = {
    val digests = Checks.Gold.map { case (t, _) => Checks.digest(Checks.collect(spark, t)._2) }
    baseline match {
      case Some(b) if b != digests =>
        problem(s"gold differs between chains of one run: $b vs $digests")
      case Some(_) =>
      case None =>
        baseline = Some(digests)
        log(s"gold rows: ${digests.map(_.rows).mkString(", ")}")
        pinned.foreach { p =>
          if (p != digests) problem(s"gold digests $digests differ from the pinned $p")
        }
        firstChainChecks(digests)
    }
    digests
  }

  private lazy val pinned: Option[Seq[TableDigest]] = {
    val rows = if (Files.exists(args.pins))
      scala.io.Source.fromFile(args.pins.toFile, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).filter(a => a(0) == wl.name && a(1) == args.seed.toString)
        .toSeq
    else Nil
    if (rows.isEmpty) None
    else Some(Checks.Gold.map { case (t, _) =>
      rows.find(_(2) == t).map(a => TableDigest(a(3).toLong, a(4)))
        .getOrElse(throw new IllegalStateException(s"pins lack $t"))
    })
  }

  private def firstChainChecks(d: Seq[TableDigest]): Unit = {
    val j1 = "bronze.payroll_to_jobs_title_fuzzy_matches"
    val j2 = "bronze.jobs_to_lightcast_title_fuzzy_matches"
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) problem(s"$what: got $got, want $want")
    expect("bronze payroll rows", count("SELECT count(*) FROM bronze.nyc_payroll_data"), feed.payroll.size)
    expect("bronze job rows", count("SELECT count(*) FROM bronze.nyc_job_postings_data"), feed.jobs.size)
    expect("bronze lightcast rows",
      count("SELECT count(*) FROM bronze.lightcast_job_postings_data"), feed.soc.size)
    expect("gold salary rows vs J1 rows", d(0).rows, count(s"SELECT count(*) FROM $j1"))
    expect("gold unique-title rows vs J1 titles", d(2).rows,
      count(s"SELECT count(DISTINCT business_title) FROM $j1"))
    expect("gold soc rows vs J2 rows", d(1).rows, count(s"SELECT count(*) FROM $j2"))
    expect("gold soc unique rows vs distinct J2 rows", d(3).rows,
      count(s"""SELECT count(*) FROM (SELECT DISTINCT business_title,
        lightcast_matched_occupation, `Total Postings (Jan 2024 - Jun 2025)`,
        `Median Posting Duration` FROM $j2)"""))
    if (Checks.Gold.exists { case (t, _) => count(s"SELECT count(*) FROM $t") == 0 })
      problem("a gold table is empty")

    // J1 rows per title and J2 pairs, on a seeded sample of titles
    val r = Rng(args.seed, "oracle-sample")
    val titles = feed.jobTitles.toVector.sorted
    val sample = Vector.fill(40)(titles(r.nextInt(titles.size))).distinct
    val want = Checks.expectedJ1Rows(feed, sample)
    val got = spark.table(j1).where(col("business_title").isin(sample: _*))
      .groupBy("business_title").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    sample.foreach(t => expect(s"J1 rows of '$t'", got.getOrElse(t, 0L), want(t)))
    val matchedTitles = sample.filter(t => want(t) > 0)
    val wantJ2 = Checks.expectedJ2(feed, matchedTitles)
    val gotJ2 = spark.table(j2).where(col("business_title").isin(matchedTitles: _*))
      .select("business_title", "lightcast_matched_occupation").collect()
      .map(x => x.getString(0) -> x.getString(1)).toSet
    if (gotJ2 != wantJ2)
      problem(s"J2 pairs of sampled titles: ${(gotJ2 -- wantJ2).take(5)} unexpected, " +
        s"${(wantJ2 -- gotJ2).take(5)} missing")
  }

  // ---- memory -----------------------------------------------------------------

  /** Old-generation bytes still in use after a full collection. */
  private def heapCheckpoint(): Unit = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .foreach { p =>
        val u = Option(p.getCollectionUsage).map(_.getUsed).filter(_ > 0)
          .getOrElse(p.getUsage.getUsed)
        peakOldGenBytes = math.max(peakOldGenBytes, u)
      }
  }

  // ---- serving ----------------------------------------------------------------

  private def goldTables(): IndexedSeq[GoldTable] =
    Checks.Gold.zipWithIndex.map { case ((t, key), id) =>
      require(Serve.registry(id).table == t && Serve.registry(id).sortKey == key,
        s"Serve.registry($id) is not $t by $key")
      val (cols, rows) = Checks.collect(spark, t)
      GoldTable(id, cols, key, rows.sorted(Checks.contractOrder(cols, key)).toIndexedSeq)
    }.toIndexedSeq

  /** Checks and counts finished requests; returns which were valid. */
  private def tally(done: Seq[Done], serving: Serving): Seq[Boolean] = {
    val ok = done.map(serving.valid)
    attempted += done.size
    done.zip(ok).find(!_._2).foreach { case (d, _) =>
      problem(s"${ok.count(!_)} of ${done.size} responses broke the serve contract, " +
        s"e.g. ${d.req.path} -> ${d.status} ${d.body.take(200)}", ok.count(!_))
    }
    ok
  }

  /** Latency of a request that failed: it misses any limit. */
  private val FailedMs = 60000.0

  private def latencies(done: Seq[Done], ok: Seq[Boolean]): Seq[Double] =
    done.zip(ok).map { case (d, good) => if (good) d.latencyMs else FailedMs }

  /** Open loop at the workload's rate, then the closed loop. */
  private def servePhase(seconds: Double): Unit = {
    log("serve phase")
    val api = HttpApi.start(spark, port = 0)
    try {
      val serving = new Serving(api.port, goldTables())
      // half a block of the mix warms the request plans before timing
      serving.closedLoop(serving.mix(Rng(args.seed, "warm-up"), 10), cores, 0.0)
      val n = math.max(100, math.ceil(Run.OpenRate * seconds * Run.OpenShare).toInt)
      val open = serving.openLoop(serving.mix(Rng(args.seed, "open-loop"), n), Run.OpenRate)
      val window = seconds * Run.ClosedShare
      val (closed, start) = serving.closedLoop(
        serving.mix(Rng(args.seed, "closed-loop"), 20000), cores, window)
      val lat = latencies(open, tally(open, serving))
      e2e("serve_p50_ms") = (median(lat), "ms")
      e2e("serve_p90_ms") = (quantile(lat, 0.9), "ms")
      // requests still in flight when the window closes are checked and
      // attempted, but only responses within the window count, so the
      // tail of the slowest last request does not stretch the window
      val stopAt = start + (window * 1e9).toLong
      val inWindow = closed.zip(tally(closed, serving))
        .count { case (d, good) => good && d.endNs <= stopAt }
      e2e("serve_pages_per_s") = (inWindow / window, "1/s")
      log(f"serve: ${open.size} open-loop requests at ${Run.OpenRate} /s " +
        f"(p90 has ${lat.count(_ > quantile(lat, 0.9))} samples beyond it), " +
        f"$inWindow of ${closed.size} closed-loop responses by $cores clients " +
        f"valid within the $window%.2f s window")
    } finally api.stop()
  }

  // ---- the run ------------------------------------------------------------------

  def execute(): Boolean = {
    Files.createDirectories(args.work)
    val runStart = System.nanoTime()
    val setups = (0 until Run.SetupPasses).map(i => setupPass(i == 0))
    e2e("setup_s") = (median(setups), "s")
    // the first pass alone carries JVM start and one-time class loading
    layer("setup.cold_s") = (setups.head, "s")
    log(s"set-up passes (s): ${setups.mkString(", ")}; settings: cores=$cores " +
      s"master=local[$cores] heap=${Runtime.getRuntime.maxMemory >> 20}MB " +
      s"work=${args.work} shape=$shape")

    if (args.pin) return pin()
    if (args.trace) traced() else untraced()

    val ok = problems.isEmpty
    val metrics = if (args.trace) layer else e2e
    val json = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    Files.write(args.out, (s"""{"correct":$ok,"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$json}""").getBytes("UTF-8"))
    log(f"run took ${(System.nanoTime() - runStart) / 1e9}%.1f s, " +
      s"${chainIdx} chains, problems: ${problems.size}")
    ok
  }

  /** One untimed chain over a small feed first, so the timed chains
    * find the JVM and Spark's generated code warm. */
  private def warmUp(): Unit = {
    log("warm-up chain")
    val small = FeedGen.generate(Workloads.warmup, args.seed)
    val xlsx = args.work.resolve("warm-up.xlsx")
    Files.write(xlsx, FeedGen.xlsx(small.soc))
    val srv = new FeedServer(Map("payroll" -> small.payrollJson, "jobs" -> small.jobsJson), cores)
    try Chain.run(spark, xlsx.toString, Chain.sources(srv, small, Workloads.warmup),
      freshDirs().resolve("lake").toString)
    finally srv.stop()
    log("timed chains")
  }

  private def untraced(): Unit = {
    warmUp()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // cold chains until the chain share of the run is used, at least 2
    while (chainSamples.size < 2 ||
        elapsed + median(chainSamples.toSeq) < args.seconds * Run.ChainShare) {
      chainSamples += chain(None)
      checkChain()
    }
    e2e("chain_s") = (median(chainSamples.toSeq), "s")
    servePhase(args.seconds)
    e2e("ok_frac") = ((attempted - failed).toDouble / attempted, "ratio")
    log(s"chain_s samples: ${chainSamples.mkString(", ")}")
  }

  private def pin(): Boolean = {
    chain(None)
    val d = checkChain()
    val lines = Checks.Gold.zip(d).map { case ((t, _), g) =>
      s"${wl.name} ${args.seed} $t ${g.rows} ${g.digest}" }
    Files.write(args.out, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    problems.isEmpty
  }

  // ---- the traced run -------------------------------------------------------------

  private def traced(): Unit = {
    warmUp()
    val listener = new GroupListener
    val sc = spark.sparkContext
    val tr = new Tracer(sc, listener)
    // untraced, traced, untraced: the JVM still warms up from chain to
    // chain, so the traced chain is compared with the mean of its two
    // neighbours; the difference is the tracing overhead
    val before = chain(None)
    checkChain()
    sc.addSparkListener(listener)
    val tracedS = chain(Some(tr))
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    checkChain()
    val untracedS = (before + chain(None)) / 2
    checkChain()
    heapCheckpoint()
    val t = lastTrace.get
    def put(k: String, v: Double, unit: String): Unit = layer(k) = (v, unit)
    def counters(span: String): Unit = {
      val c = listener.counters(span)
      put(s"$span.jobs", c.jobs, "count")
      put(s"$span.tasks", c.tasks, "count")
      put(s"$span.cpu_s", c.cpuNs / 1e9, "s")
      put(s"$span.shuffle_bytes", c.shuffleBytes, "B")
      put(s"$span.spill_bytes", c.spillBytes, "B")
      put(s"$span.peak_exec_mb", c.peakExecBytes / 1048576.0, "MB")
      put(s"$span.written_bytes", c.writtenBytes, "B")
    }
    Seq("ingest", "xlsx", "bronze", "j1", "j2", "gold").foreach(counters)

    val stagesS = Seq(t.xlsx, t.ingest, t.bronze, t.matched, t.gold).map(_.seconds).sum
    put("chain.traced_s", tracedS, "s")
    put("chain.untraced_s", untracedS, "s")
    put("trace.overhead_s", tracedS - untracedS, "s")
    put("chain.stages_s", stagesS, "s")
    put("chain.unaccounted_s", t.total.seconds - stagesS, "s")

    val ingestRows = feed.payroll.size + feed.jobs.size
    put("ingest.s", t.ingest.seconds, "s")
    put("ingest.fetch_s", t.fetchS, "s")
    put("ingest.post_fetch_s", t.ingest.seconds - t.fetchS, "s")
    put("ingest.requests", t.requests, "count")
    put("ingest.bytes", t.bytes, "B")
    put("ingest.rows", count("SELECT count(*) FROM bronze.nyc_payroll_data") +
      count("SELECT count(*) FROM bronze.nyc_job_postings_data"), "count")
    put("ingest.rows_per_s", ingestRows / t.ingest.seconds, "1/s")
    put("xlsx.s", t.xlsx.seconds, "s")
    put("xlsx.rows", count("SELECT count(*) FROM bronze.lightcast_job_postings_data"), "count")
    put("bronze.s", t.bronze.seconds, "s")
    put("bronze.rows", Seq("nyc_payroll_data", "nyc_job_postings_data",
      "lightcast_job_postings_data").map(b => count(s"SELECT count(*) FROM bronze.$b")).sum, "count")

    val j1 = "bronze.payroll_to_jobs_title_fuzzy_matches"
    val j2 = "bronze.jobs_to_lightcast_title_fuzzy_matches"
    val keyPairs = count(s"SELECT count(*) FROM (SELECT DISTINCT business_title, title_description FROM $j1)")
    put("match.s", t.matched.seconds, "s")
    put("j1.s", (t.j1EndNs - t.matched.startNs) / 1e9, "s")
    put("j2.s", (t.matched.endNs - t.j1EndNs) / 1e9, "s")
    put("j1.candidate_pairs", feed.candidatePairs, "count")
    put("j1.key_pairs", keyPairs, "count")
    put("j1.keep_ratio", keyPairs.toDouble / feed.candidatePairs, "ratio")
    put("j1.rows", count(s"SELECT count(*) FROM $j1"), "count")
    put("j2.key_pairs", count(s"SELECT count(*) FROM (SELECT DISTINCT business_title, lightcast_matched_occupation FROM $j2)"), "count")
    put("j2.rows", count(s"SELECT count(*) FROM $j2"), "count")
    put("gold.s", t.gold.seconds, "s")
    put("gold.rows", Checks.Gold.map { case (g, _) => count(s"SELECT count(*) FROM $g") }.sum, "count")

    kernels(put)
    tracedServe(tr, listener, put)
    counters("serve")
    heapCheckpoint()
    put("peak_heap_mb", peakOldGenBytes / 1048576.0, "MB")
    // beside the result file, outside the run's work dir that is deleted
    val traceFile = Files.createDirectories(args.out.toAbsolutePath.getParent.resolve("traces"))
      .resolve(s"${wl.name}-seed${args.seed}.json")
    tr.writeJson(traceFile)
    log(s"spans written to $traceFile")
  }

  /** Single-thread ns per call of the match kernels, after warm-up, over
    * a seeded sample of this workload's own title pairs. */
  private def kernels(put: (String, Double, String) => Unit): Unit = {
    val r = Rng(args.seed, "kernel-sample")
    val jobs = feed.jobTitles.toVector.sorted
    val pays = feed.payTitlesInWindow.toVector.sorted
    val n = 20000
    val raw = Array.fill(n)((jobs(r.nextInt(jobs.size)), pays(r.nextInt(pays.size))))
    val norm = raw.map { case (a, b) => (FuzzyKernel.normalizeTitle(a), FuzzyKernel.normalizeTitle(b)) }
    var sink = 0.0
    def time(f: Int => Double): Double = {
      (0 until 2).foreach(_ => (0 until n).foreach(i => sink += f(i)))
      val per = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sink += f(i); i += 1 }
        (System.nanoTime() - t0).toDouble / n
      }
      median(per)
    }
    put("kernel.token_set_ratio_ns", time(i => FuzzyKernel.tokenSetRatio(norm(i)._1, norm(i)._2)), "ns")
    put("kernel.wratio_ns", time(i => FuzzyKernel.wratio(norm(i)._1, norm(i)._2)), "ns")
    put("kernel.normalize_ns", time(i => FuzzyKernel.normalizeTitle(raw(i)._1).length.toDouble), "ns")
    if (sink == 42.0) log("") // keeps the JIT from dropping the calls
  }

  /** Direct and HTTP page latencies, one request at a time, then a short
    * open loop split by request kind. */
  private def tracedServe(tr: Tracer, listener: GroupListener,
      put: (String, Double, String) => Unit): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val api = HttpApi.start(spark, port = 0)
    try {
      val serving = new Serving(api.port, goldTables())
      val pages = serving.mix(Rng(args.seed, "sequential"), 200).filter(_.kind == "report").take(30)
      pages.take(5).foreach(p => Serve.fetchJsonIterator(spark, p.id, p.offset, p.limit).size)
      val root = tr.begin("serve")
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      val jobs0 = listener.counters("serve").jobs
      val direct = pages.zipWithIndex.map { case (p, i) =>
        tr.span("serve.direct", root, s"direct-$i", "serve") {
          attempted += 1
          Serve.fetchJsonIterator(spark, p.id, p.offset, p.limit).size
        }._2.seconds * 1000
      }
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      val jobsPerPage = (listener.counters("serve").jobs - jobs0).toDouble / pages.size
      val http = pages.zipWithIndex.map { case (p, i) =>
        val (d, s) = tr.span("serve.http", root, s"http-$i", "serve")(serving.send(p, System.nanoTime()))
        tally(Seq(d), serving)
        s.seconds * 1000
      }
      put("serve.direct_ms", median(direct), "ms")
      put("serve.http_ms", median(http), "ms")
      put("serve.http_overhead_ms", median(http) - median(direct), "ms")
      put("serve.jobs_per_page", jobsPerPage, "count")
      val open = serving.openLoop(serving.mix(Rng(args.seed, "open-loop"), 60), Run.OpenRate)
      open.zipWithIndex.foreach { case (d, i) =>
        tr.add(s"serve.open.${d.req.kind}", root, s"open-$i", d.dueNs, d.endNs)
      }
      tally(open, serving)
      def kindMs(k: String) = median(open.filter(_.req.kind == k).map(_.latencyMs))
      put("serve.report_ms", kindMs("report"), "ms")
      put("serve.dashboard_ms", kindMs("dashboard"), "ms")
      put("serve.gen_late_ms", median(open.map(d => (d.sentNs - d.dueNs) / 1e6)), "ms")
      tr.end(root)
    } finally api.stop()
    org.apache.spark.perfbench.ListenerBus.drain(sc)
  }

  def close(): Unit = {
    try teardown() finally deleteTree(args.work)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

object Run {
  /** Set-up passes per run; set-up time is their median. */
  val SetupPasses = 3

  /** Share of --seconds spent running cold chains (at least two). */
  val ChainShare = 0.5

  /** Open-loop requests per second, below closed-loop capacity. */
  val OpenRate = 8.0

  /** Share of --seconds spent in the open loop (at least 100 requests). */
  val OpenShare = 0.25

  /** Share of --seconds spent in the closed loop. */
  val ClosedShare = 0.25

  /** The spans and feed-server counts of one traced chain. */
  final case class TracedChain(total: Span, xlsx: Span, ingest: Span,
      bronze: Span, matched: Span, gold: Span, j1EndNs: Long,
      fetchS: Double, requests: Long, bytes: Long)
}
