package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark stamps its job events with. `parent` is 0 for a root. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
                      layer: String, start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** Spark counters of the tasks run by one job group (one traced call). */
final class TaskAgg {
  var tasks = 0L; var failedTasks = 0L; var runMs = 0L; var gcMs = 0L
  var bytesRead = 0L; var recordsRead = 0L; var shuffleWrite = 0L; var spill = 0L
  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; failedTasks += o.failedTasks; runMs += o.runMs; gcMs += o.gcMs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

final case class JobRec(id: Int, group: String, start: Long, end: Long)

/** Collects, per job group, the jobs and task counters of every Spark job
  * the traced calls issue. Registered only around traced calls. */
final class JobListener extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val byGroup = new ConcurrentHashMap[String, TaskAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      jobs.put(e.jobId, JobRec(e.jobId, g, t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val a = byGroup.computeIfAbsent(g, _ => new TaskAgg)
    a.synchronized {
      a.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.bytesRead += m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead
        a.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobsOf(group: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.start)
  def aggOf(group: String): TaskAgg = byGroup.getOrDefault(group, new TaskAgg)
}

/** Span store of a traced run: spans stay in memory and are
  * written once, at exit. */
final class Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private var nextId = 0L
  val spans = ArrayBuffer.empty[Span]

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def newId(): Long = { nextId += 1; nextId }
  def add(s: Span): Unit = spans += s

  /** Self time per layer: a span's duration minus the part of it its
    * children cover. */
  def selfTimeByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.dur - Trace.covered(kids.get(s.id).toSeq.flatten.map(c => (c.start, c.end)), s.start, s.end)
      }.sum
    }
  }
}

object Trace {
  /** Wait until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfBenchBus.drain(sc)

  /** Length of the union of the intervals, clipped to [from, to]. */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var total = 0.0; var a = Double.NaN; var b = Double.NaN
    intervals.map { case (x, y) => (math.max(x, from), math.min(y, to)) }
      .filter { case (x, y) => y > x }.sortBy(_._1).foreach { case (x, y) =>
        if (a.isNaN) { a = x; b = y }
        else if (x <= b) b = math.max(b, y)
        else { total += b - a; a = x; b = y }
      }
    if (!a.isNaN) total += b - a
    total
  }
}
