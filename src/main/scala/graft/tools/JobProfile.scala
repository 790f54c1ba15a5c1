package graft.tools

/** Optimization-round measurement helper (guide §1.1 "empirical"): run a
  * named query end-to-end through the noop sink in a warm local[N]
  * session and print every Spark JOB it launched — duration, stage
  * count, task count, and the call site — so a multi-action query's
  * serial driver structure (eager stats jobs, checkpoint rounds,
  * staged-swap writes) is read from measurements, not guessed from
  * code. Two timed executions are printed: cold (first run in the
  * session, includes lazy index builds) and warm (steady state).
  *
  *   sbt "runMain graft.tools.JobProfile <query>[,<query>…] [sfdir] [cpus]"
  */
object JobProfile {
  private final case class J(id: Int, t0: Long, var t1: Long = -1L,
    var stages: Int = 0, var tasks: Int = 0, site: String)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(Seq("d15_containment_dedup"))
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = args.drop(2).headOption.map(_.toInt).getOrElse(32)
    val spark = graft.Sessions.local("job-profile", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short"))))
          .getOrElse("?").take(90)
        jobs.put(e.jobId, J(e.jobId, System.nanoTime(),
          stages = e.stageInfos.size,
          tasks = e.stageInfos.map(_.numTasks).sum, site = site))
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.t1 = System.nanoTime())
    }
    def runOnce(name: String, tag: String): Unit = {
      jobs.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus so late job-end events land
      graft.Bench.drainListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.t0)
      val jsum = js.filter(_.t1 > 0).map(j => (j.t1 - j.t0) / 1e9).sum
      println(f"== $name [$tag] wall ${wall}%.2f s, ${js.size} jobs, " +
        f"summed job time ${jsum}%.2f s (serial gaps = wall - overlap)")
      js.foreach { j =>
        val d = if (j.t1 > 0) (j.t1 - j.t0) / 1e9 else -1.0
        println(f"  job ${j.id}%3d  ${d}%7.3f s  stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d  ${j.site}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // session warmup (parquet reader, codegen, shuffle machinery)
    graft.SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      runOnce(n, "cold")
      runOnce(n, "warm")
    }
    spark.stop()
  }
}
