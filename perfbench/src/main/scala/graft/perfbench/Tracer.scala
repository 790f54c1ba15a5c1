package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark work summed over the tasks of one span's jobs. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var writtenBytes = 0L
}

/** Counts the Spark work under each job group. The tracer sets the
  * group to the span name around each call. `runFuzzyMatch` runs J1 and
  * J2 under one call, so jobs of the "match" group are split at the end
  * of the SQL execution that writes J1's table: jobs before it are J1's,
  * jobs after it J2's. */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private var j1Exec = -1L
  private var inJ2 = false
  /** Epoch millis at which J1's write execution ended; -1 before. */
  @volatile var j1EndMs: Long = -1L

  /** Call with the bus drained, before the match stage starts. */
  def armMatchSplit(): Unit = synchronized {
    j1Exec = -1L; inJ2 = false; j1EndMs = -1L
  }

  def counters(group: String): Counters = synchronized {
    groups.getOrElseUpdate(group, new Counters)
  }


  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("other")
    val group = if (g == "match") (if (inJ2) "j2" else "j1") else g
    groups.getOrElseUpdate(group, new Counters).jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "other"),
        new Counters)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
      c.writtenBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart if j1Exec < 0 && !inJ2 &&
          s.physicalPlanDescription.contains(GroupListener.J1Table) =>
        j1Exec = s.executionId
      case s: SparkListenerSQLExecutionEnd if s.executionId == j1Exec && !inJ2 =>
        inJ2 = true
        j1EndMs = s.time
      case _ =>
    }
  }
}

object GroupListener {
  val J1Table = "payroll_to_jobs_title_fuzzy_matches"
}

/** A timed span. Spans of one request share `req`. */
final case class Span(id: Int, name: String, parent: Int, req: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the program and tags
  * each call's Spark jobs with a job group, the span name by default. */
final class Tracer(sc: SparkContext, val listener: GroupListener) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  // epoch millis at a known nanoTime, to place listener event times
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  def nanosOfEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  /** Opens a span; returns its id. */
  def begin(name: String, parent: Int = -1, req: String = ""): Int =
    add(name, parent, req, System.nanoTime(), -1L).id

  def end(id: Int): Span = synchronized {
    val s = spans(id).copy(endNs = System.nanoTime())
    spans(id) = s
    s
  }

  def span[A](name: String, parent: Int = -1, req: String = "",
      group: String = "")(body: => A): (A, Span) = {
    val g = if (group.isEmpty) name else group
    sc.setJobGroup(g, g)
    val id = begin(name, parent, req)
    try {
      val a = body
      (a, end(id))
    } finally sc.clearJobGroup()
  }

  def add(name: String, parent: Int, req: String, startNs: Long, endNs: Long): Span =
    synchronized {
      val s = Span(spans.size, name, parent, req, startNs, endNs)
      spans += s
      s
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""req":${Json.str(s.req)},"start_ns":${s.startNs - nano0},""" +
        s""""end_ns":${s.endNs - nano0},"self_s":${selfSeconds(s)}}"""
    }
    java.nio.file.Files.write(path,
      lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append("\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A metric value with all its digits; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
