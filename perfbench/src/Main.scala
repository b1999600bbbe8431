package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** JVM side of the benchmark (run.py starts it and owns the final result):
  *
  *   --mode run --workload W --seed N --seconds S --trace 0|1 --cpus C
  *        --work DIR --out FILE [--trace-out FILE] [--canary SEED]
  *   --mode pin --seeds N --cpus C --work DIR --out FILE
  *   --mode train --cpus C --work DIR --out FILE
  *
  * `run` writes the measured numbers to FILE; `pin` writes the corpus
  * fingerprint of every workload for seeds 0 until N; `train` runs the
  * serve workload once, briefly and on a small corpus, so the build can
  * record the classes it loads (most of Spark SQL and the engine) in a
  * class-data-sharing archive. */
object Main {
  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(o("work"))
    val cpus = o("cpus").toInt
    val spark = session(work, cpus)
    log("spark session up")
    try {
      val out = o("mode") match {
        case "run" => run(spark, o, work, cpus, Workloads(o("workload")))
        case "pin" => pins(spark, o("seeds").toInt, cpus)
        case "train" => run(spark, Map("workload" -> "serve", "seed" -> "0", "seconds" -> "0.1",
          "trace" -> "1"), work, cpus, new Serve(Workloads.TrainConvs))
      }
      write(Paths.get(o("out")), Json.write(out))
    } finally {
      spark.stop()
      log("stopped")
    }
  }

  private def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def write(p: Path, s: String): Unit =
    Files.write(p, (s + "\n").getBytes(StandardCharsets.UTF_8))

  private def fp(x: (Long, Long)): String = s"${x._1}:${x._2}"

  private def pins(spark: SparkSession, seeds: Int, cpus: Int): Map[String, Map[String, String]] =
    Workloads.Names.map { w =>
      w -> (0 until seeds).map(s => s.toString -> fp(Corpus.fingerprint(Workloads.inputOf(w, spark, s, cpus)))).toMap
    }.toMap

  private def run(spark: SparkSession, o: Map[String, String], work: Path, cpus: Int,
                  w: Workload): Any = {
    val name = o("workload")
    val seed = o("seed").toLong
    val traceMode = o("trace") == "1"
    val data = work.resolve("data")
    Files.createDirectories(data)
    val r = new Run(spark, seed, o("seconds").toDouble, traceMode, data, cpus)
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      w.prepare(r)
      out("fingerprint") = fp(Corpus.fingerprint(w.corpus))
      o.get("canary").foreach(c =>
        out("canary") = fp(Corpus.fingerprint(Workloads.inputOf(name, spark, c.toLong, cpus))))
      log("inputs prepared")
      (0 until w.setupReps).foreach { rep =>
        val t0 = System.nanoTime()
        w.setup(r, rep)
        r.setupSeconds += (System.nanoTime() - t0) / 1e9
        log(f"set-up $rep took ${r.setupSeconds.last}%.2fs")
        r.sampleMemory()
      }
      w.loop(r)
      log("measured")
      w.finish(r)
      log("checked")
    } catch {
      case e: Throwable =>
        r.failed += 1
        r.failures += e.toString
        e.printStackTrace()
    }
    out("attempted") = math.max(r.attempted, 1L)
    out("failed") = r.failed
    out("failures") = r.failures.take(20).toSeq

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    if (r.setupSeconds.nonEmpty) e2e("setup_s") = Stats.median(r.setupSeconds.toSeq)
    val ops = r.samples(w.primary: _*)
    if (ops.nonEmpty) e2e("ops_per_s") = ops.size / (ops.sum / 1e3)
    val lat = r.samples(w.latency: _*)
    if (lat.nonEmpty) e2e("op_p50_ms") = Stats.median(lat)
    if (r.liveMb.nonEmpty) e2e("peak_live_mb") = r.liveMb.max
    out("e2e") = e2e

    // every timed class: count, median, tail (with its percentile), mean
    val classes = r.calls.map(_.cls).distinct.map { c =>
      val xs = r.samples(c)
      c -> (if (xs.isEmpty) Map("n" -> 0) else {
        val (p, v) = Stats.tail(xs)
        Map("n" -> xs.size, "p50_ms" -> Stats.median(xs), s"p${p}_ms" -> v, "mean_ms" -> xs.sum / xs.size)
      })
    }
    out("classes") = classes.toMap
    if (traceMode) {
      r.sparkLayer(w.primary)
      r.layer("analysis.tokenize_mb_per_s") = Workloads.tokenizeMbPerS()
      r.layer("trace.spans") = r.tracer.spans.size.toDouble
      r.tracingOverhead(w.latency).foreach(r.layer("trace.overhead_frac") = _)
      o.get("trace-out").foreach { f =>
        write(Paths.get(f), Json.write(Map(
          "workload" -> name, "seed" -> seed,
          "spans" -> r.tracer.spans.map(s => Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs),
          "layer" -> r.layer, "report" -> r.report)))
      }
    }
    out("layer") = r.layer
    out("report") = r.report
    out
  }
}
