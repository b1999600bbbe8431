package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

final case class Call(cls: String, ms: Double, traced: Boolean)

/** A call a traced run recorded, resolved against the listener's jobs once
  * the bus is drained. */
final case class TracedCall(cls: String, trace: Long, op: Long, api: Long,
                            apiStart: Double, apiEnd: Double)

/** Per-class Spark work of the traced calls. */
final class ClassWork {
  var calls = 0L; var jobs = 0L; var jobMs = 0.0; var driverMs = 0.0
  val tasks = new TaskAgg
}

/** State of one benchmark run: the timed calls, the pass/fail ledger, the
  * per-layer numbers and, in a traced run, spans and Spark counters. */
final class Run(val spark: SparkSession, val seed: Long,
                val seconds: Double, val traceMode: Boolean, val work: Path,
                val cpus: Int) {
  val sc = spark.sparkContext
  val calls = ArrayBuffer.empty[Call]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Per-layer metrics (emitted with --trace 1). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Layer numbers for the report only (workload-specific). */
  val report = mutable.LinkedHashMap.empty[String, Any]
  val setupSeconds = ArrayBuffer.empty[Double]

  val tracer = new Tracer
  /** Live memory in MiB, sampled after each set-up and each measured
    * phase, outside the timed calls. */
  val liveMb = ArrayBuffer.empty[Double]
  private lazy val listener = new JobListener
  private var tracedWallMs = 0.0
  val traced = ArrayBuffer.empty[TracedCall]
  val byClass = mutable.LinkedHashMap.empty[String, ClassWork]
  /** The most recent traced call, so a workload can hang spans it derives
    * from the program's own ledgers under it. */
  var lastTraced: Option[TracedCall] = None

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what; System.err.println(s"perfbench: CHECK FAILED: $what") }
  }

  /** The memory the program itself holds: the heap still reachable after
    * a full collection, plus the JVM's non-heap pools (metaspace, code
    * cache) and NIO buffers. The heap is fixed at start-up, so the
    * process's RSS would tell the JVM's settings, not what the program
    * keeps. */
  def sampleMemory(): Unit = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    liveMb += (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }

  /** Times one call into the program. A traced run traces every other
    * call of each class, so traced and untraced calls of one JVM give the
    * tracing overhead. A traced call gets an operation span, a layer span
    * for the public function, and its Spark jobs tagged with a job group
    * of its own, seen by a listener that is registered only around it. */
  def call[T](cls: String, layerName: String, api: String)(f: => T): T = {
    attempted += 1
    if (!traceMode || calls.count(_.cls == cls) % 2 == 1) {
      val t0 = System.nanoTime()
      val r = try f catch { case e: Throwable => failed += 1; throw e }
      calls += Call(cls, (System.nanoTime() - t0) / 1e6, traced = false)
      r
    } else {
      val trace = tracer.newId(); val op = tracer.newId(); val apiId = tracer.newId()
      sc.addSparkListener(listener)
      val opStart = tracer.now()
      sc.setJobGroup(op.toString, s"perfbench:$cls", interruptOnCancel = false)
      val a0 = tracer.now()
      val t0 = System.nanoTime()
      val r = try f catch { case e: Throwable => failed += 1; throw e }
      val ms = (System.nanoTime() - t0) / 1e6
      val a1 = tracer.now()
      sc.clearJobGroup()
      val opEnd = tracer.now()
      Trace.drain(sc)
      sc.removeSparkListener(listener)
      tracedWallMs += opEnd - opStart
      calls += Call(cls, ms, traced = true)
      tracer.add(Span(trace, op, 0, cls, "bench", opStart, opEnd))
      tracer.add(Span(trace, apiId, op, api, layerName, a0, a1))
      val tc = TracedCall(cls, trace, op, apiId, a0, a1)
      traced += tc
      lastTraced = Some(tc)
      r
    }
  }

  /** Runs each phase's step in a closed loop (one client) for its share of
    * the run, at least once (twice in a traced run, so that every class
    * has a traced and an untraced call), then samples live memory. */
  def measure(phases: Seq[(Double, () => Unit)]): Unit = {
    phases.foreach { case (frac, step) =>
      val deadline = System.nanoTime() + (frac * seconds * 1e9).toLong
      var n = 0
      while (n < (if (traceMode) 2 else 1) || System.nanoTime() < deadline) { step(); n += 1 }
      sampleMemory()
    }
    if (traceMode) resolveTraced()
  }

  /** Traced calls against the listener's jobs: job spans and per-class
    * Spark work. */
  private def resolveTraced(): Unit =
    traced.foreach { tc =>
      val w = byClass.getOrElseUpdate(tc.cls, new ClassWork)
      val jobs = listener.jobsOf(tc.op.toString)
      // jobs hang under the innermost span that covers their start
      val under = tracer.spans.filter(s => s.trace == tc.trace && s.layer != "bench")
      jobs.foreach { j =>
        val parent = under.filter(s => s.start <= j.start && j.start <= s.end)
          .sortBy(_.dur).headOption.map(_.id).getOrElse(tc.api)
        tracer.add(Span(tc.trace, tracer.newId(), parent, s"job ${j.id}", "spark",
          j.start.toDouble, j.end.toDouble))
      }
      val covered = Trace.covered(jobs.map(j => (j.start.toDouble, j.end.toDouble)), tc.apiStart, tc.apiEnd)
      w.calls += 1; w.jobs += jobs.size; w.jobMs += covered
      w.driverMs += (tc.apiEnd - tc.apiStart) - covered
      w.tasks.add(listener.aggOf(tc.op.toString))
    }

  /** Traced against untraced median of the given classes, as a fraction;
    * None unless both kinds of call were made. */
  def tracingOverhead(classes: Seq[String]): Option[Double] = {
    val (t, u) = calls.filter(c => classes.contains(c.cls)).partition(_.traced)
    if (t.isEmpty || u.isEmpty) None
    else Some(Stats.median(t.map(_.ms).toSeq) / Stats.median(u.map(_.ms).toSeq) - 1)
  }

  def samples(classes: String*): Seq[Double] =
    calls.filter(c => classes.contains(c.cls)).map(_.ms).toSeq
  def median(cls: String): Option[Double] = {
    val xs = samples(cls)
    if (xs.isEmpty) None else Some(Stats.median(xs))
  }

  /** Spark work summed over the traced calls of the given classes. */
  def workOf(classes: String*): ClassWork = {
    val w = new ClassWork
    classes.flatMap(byClass.get).foreach { c =>
      w.calls += c.calls; w.jobs += c.jobs; w.jobMs += c.jobMs; w.driverMs += c.driverMs
      w.tasks.add(c.tasks)
    }
    w
  }

  /** The Spark counters every workload reports: totals over all traced
    * calls, and per call of the classes the end-to-end numbers describe. */
  def sparkLayer(primary: Seq[String]): Unit = {
    val all = workOf(byClass.keys.toSeq: _*)
    val wallMs = math.max(tracedWallMs, 1e-9)  // Σ wall of the traced calls
    layer("spark.jobs") = all.jobs.toDouble
    layer("spark.tasks") = all.tasks.tasks.toDouble
    layer("spark.failed_tasks") = all.tasks.failedTasks.toDouble
    layer("spark.cpu_busy_frac") = all.tasks.runMs / (wallMs * cpus)
    layer("spark.gc_s") = all.tasks.gcMs / 1e3
    layer("spark.shuffle_write_bytes") = all.tasks.shuffleWrite.toDouble
    layer("spark.spill_bytes") = all.tasks.spill.toDouble
    val op = workOf(primary: _*)
    val n = math.max(op.calls, 1L).toDouble
    layer("call.jobs") = op.jobs / n
    layer("call.tasks") = op.tasks.tasks / n
    layer("call.driver_ms") = op.driverMs / n
    layer("call.spark_job_ms") = op.jobMs / n
    layer("call.task_busy_ms") = op.tasks.runMs / n
    layer("call.bytes_read") = op.tasks.bytesRead / n
    layer("call.records_read") = op.tasks.recordsRead / n
    report("spark.traced_wall_s") = wallMs / 1e3
    report("trace.self_ms_by_layer") = tracer.selfTimeByLayer
  }
}
