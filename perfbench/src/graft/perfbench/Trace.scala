package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Traced-run instrumentation: a SparkListener that attributes every job,
  * stage and task to the job group it ran under (one group per op, probe
  * or check), and in-memory spans around the benchmark's own calls into
  * each layer. Nothing here runs in an untraced run.
  *
  * Listener events arrive on Spark's bus thread; every field is guarded by
  * the listener's own lock, and `drain` waits for the bus to empty before
  * results are read. */
final class Trace(sc: SparkContext) extends SparkListener {

  final case class Job(group: String, desc: String, start: Long, var end: Long, stages: Seq[Int])

  /** Per-group engine counters. */
  final class Counts {
    var jobs = 0; var stages = 0; var tasks = 0; var emptyTasks = 0
    var runMs = 0L; var schedDelayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val counts = mutable.HashMap.empty[String, Counts]
  @volatile private var listenerNs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try synchronized(f) finally listenerNs += System.nanoTime() - t0
  }
  private def countsOf(g: String): Counts = counts.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = Job(group, desc, e.time, -1L, e.stageIds)
    e.stageIds.foreach(stageGroup(_) = group)
    countsOf(group).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    countsOf(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val c = countsOf(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) c.emptyTasks += 1
      c.runMs += m.executorRunTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val info = e.taskInfo
      if (info != null && info.finishTime > 0)
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  /** Block until every posted event has been delivered to this listener. */
  def drain(): Unit = org.apache.spark.BusDrain(sc)

  def listenerSeconds: Double = listenerNs / 1e9

  /** Summed counters over the groups matching `p`. */
  def totals(p: String => Boolean): Counts = synchronized {
    val t = new Counts
    counts.collect { case (g, c) if p(g) =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks; t.emptyTasks += c.emptyTasks
      t.runMs += c.runMs; t.schedDelayMs += c.schedDelayMs
      t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead; t.spill += c.spill
    }
    t
  }

  def jobsOf(p: String => Boolean): Seq[Job] = synchronized(jobs.values.filter(j => p(j.group)).toSeq)

  // ---- spans --------------------------------------------------------------

  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Record `f` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val s = synchronized {
      val s = Span(spans.size, open.headOption.getOrElse(-1), name, System.nanoTime(), -1L)
      spans += s; open = s.id :: open; s
    }
    try f finally synchronized { s.end = System.nanoTime(); open = open.tail }
  }

  def spanJson: String = synchronized {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_s":${(s.start - t0) / 1e9},"end_s":${(s.end - t0) / 1e9}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Trace {
  /** Length of the union of [start, end] intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
