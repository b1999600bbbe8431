package graft.index

import graft.SparkFunSuite
import graft.query.IndexReader
import graft.sources.SyntheticTranscripts
import graft.store.Manifest
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Build-side job labels and the cost of a patch: every Spark job of
  * `IndexBuilder.build` is described `graft:build`, every job of
  * `Incremental.atomicSet` `graft:atomicSet`, the caller's description
  * survives both, and a one-document patch on an 8-segment index runs
  * a bounded number of jobs — it resolves against staging and rewrites
  * one segment, with no corpus hash, key diff or id assignment; a
  * patch past the auto-compaction fraction writes one staging base and
  * compacts nothing after it. */
class BuildJobSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  /** Jobs of a patch, bounded from a measurement: 6 on `local[4]` (3 to
    * resolve, then one each for the apply, the wave and the dictionary
    * merge; corpus_stats is written in-process). */
  private val PatchJobBudget = 7

  /** The description of each job `call` starts in its own job group. */
  private def jobsOf(call: => Unit): Seq[String] = timedJobsOf(call).map(_._1)

  /** (description, submission time in epoch ms) of each job `call`
    * starts in its own job group. */
  private def timedJobsOf(call: => Unit): Seq[(String, Long)] = {
    val sc = spark.sparkContext
    val group = s"build-job-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")) -> e.time)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "caller")
      try {
        call
        assert(sc.getLocalProperty("spark.job.description") == "caller")
      } finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  /** Shuffle records read by the tasks of the jobs `call` starts in its
    * own job group. */
  private def shuffleReadOf(call: => Unit): Long = {
    val sc = spark.sparkContext
    val group = s"build-shuffle-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val read = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "caller")
      try call finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    read.get
  }

  /** What `call`, run in its own job group, carries out of its tasks
    * or plans as a write: the `graft.*` accumulables of its stages, and
    * the write-command nodes of its SQL executions (`WriteFilesExec`
    * and `DataWritingCommandExec` over a file source). */
  private def writeMechanismsOf(call: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"build-writes-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val found = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def writeNodes(n: SparkPlanInfo): Seq[String] =
      (if (Set("WriteFiles", "Execute InsertIntoHadoopFsRelationCommand")(n.nodeName)) Seq(n.nodeName)
       else Nil) ++ n.children.flatMap(writeNodes)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) e.stageIds.foreach(stages.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          e.stageInfo.accumulables.values.flatMap(_.name).filter(_.startsWith("graft.")).foreach(found.add)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) =>
          writeNodes(x.sparkPlanInfo).foreach(found.add)
        case _ =>
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "caller")
      try call finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    found.asScala.toSeq.distinct
  }

  test("build, delta, atomicSet and compact write every index file inside its tasks: no graft accumulator, no Spark write command") {
    val dir = tmpDir("build-writes")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = 0)
    val v1 = SyntheticTranscripts.generate(spark, 42L, nConvs = 200, maxTurns = 6)
    val v2 = v1.filter(col("conv_id") =!= "conv-000005")
      .withColumn("text", when(col("conv_id") === "conv-000010", lit("delta written turn")).otherwise(col("text")))
      .unionByName(SyntheticTranscripts.generate(spark, 99L, nConvs = 10, maxTurns = 4)
        .withColumn("conv_id", concat(lit("zz-"), col("conv_id"))))
      .as[graft.model.Turn]
    val sets = Seq(("conv-000020", 0, "patched turn writeword")).toDF("conv_id", "turn_idx", "text")
    for ((step, call) <- Seq[(String, () => Unit)](
        "build" -> (() => IndexBuilder.build(spark, v1, cfg)),
        "delta" -> (() => assert(IndexBuilder.build(spark, v2, cfg).segmentsBuilt > 0)),
        "atomicSet" -> (() => assert(Incremental.atomicSet(spark, cfg, sets).segmentsBuilt == 1)),
        "compact" -> (() => assert(Incremental.compact(spark, dir) > 0)))) {
      val found = writeMechanismsOf(call())
      assert(found.isEmpty, s"$step: $found")
    }
    assert(new IndexReader(spark, dir).search("writeword", 10).size == 1)
  }

  test("build and atomicSet jobs carry their graft label; a one-document patch runs a bounded number of jobs") {
    val dir = tmpDir("build-job-idx")
    val cfg = BuildConfig(dir, nSegments = 8, waveSize = 8, autoCompactFraction = 0)
    val corpus = SyntheticTranscripts.generate(spark, 42L, nConvs = 400, maxTurns = 8)
    val build = jobsOf(IndexBuilder.build(spark, corpus, cfg))
    assert(build.nonEmpty && build.forall(_ == "graft:build"), build.distinct)

    val sets = Seq(("conv-000010", 0, "one patched turn jobcountword"))
      .toDF("conv_id", "turn_idx", "text")
    var rep: BuildReport = null
    val patch = jobsOf { rep = Incremental.atomicSet(spark, cfg, sets) }
    info(s"${build.size} build jobs, ${patch.size} atomicSet jobs")
    assert(rep.segmentsBuilt == 1)
    assert(patch.nonEmpty && patch.forall(_ == "graft:atomicSet"), patch.distinct)
    assert(patch.size <= PatchJobBudget, s"${patch.size} jobs for a one-document patch")
  }

  test("a patch that touches more than half the segments writes one new staging base and runs no job after finalize") {
    val dir = tmpDir("build-job-rebase")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = 0.5)
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 400, maxTurns = 8), cfg)
    // the first turn of each of segments 0-2: 3 of 4 segments > 0.5
    val picks = IndexBuilder.readDocs(spark, dir).filter(col("segment") < 3)
      .groupBy("segment").agg(min(struct(col("doc_id"), col("conv_id"), col("turn_idx"))).as("d"))
      .select(col("d.conv_id"), col("d.turn_idx")).as[(String, Int)].collect()
    assert(picks.length == 3)
    val sets = picks.toSeq.map { case (c, t) => (c, t, "rebased patch turn rebaseword") }
      .toDF("conv_id", "turn_idx", "text")
    var rep: BuildReport = null
    val jobs = timedJobsOf { rep = Incremental.atomicSet(spark, cfg, sets) }
    assert(rep.segmentsBuilt == 3)
    assert(jobs.size <= PatchJobBudget, s"${jobs.size} jobs for a patch that writes a new staging base")
    assert(jobs.nonEmpty && jobs.forall(_._1 == "graft:atomicSet"))
    // the finalize manifest is the patch's last write: no job (such as
    // a compaction) starts after it
    val finalized = Files.getLastModifiedTime(
      Manifest.finalizePath(IndexBuilder.manifestDir(dir))).toMillis
    assert(jobs.forall(_._2 <= finalized), s"jobs after finalize: ${jobs.filter(_._2 > finalized)}")
    for (leftover <- Seq(IndexBuilder.overlayDir(dir), s"$dir/_tmp_compact", s"$dir/_staging/docs_precompact"))
      assert(!Files.exists(Paths.get(leftover)), leftover)
    val hits = new IndexReader(spark, dir).search("rebaseword", 10)
    assert(hits.size == 3)
  }

  test("the apply shuffles at most its change set, and Phase B shuffles nothing") {
    for (fraction <- Seq(0.0, 0.5)) {
      val dir = tmpDir(s"build-shuffle-$fraction")
      val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = fraction)
      IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 400, maxTurns = 8), cfg)
      // three turns in three segments: overlays without a fraction, a
      // new staging base with one
      val keys = IndexBuilder.readDocs(spark, dir).filter(col("segment") < 3)
        .groupBy("segment").agg(min(struct(col("doc_id"), col("conv_id"), col("turn_idx"))).as("d"))
        .select(col("d.conv_id"), col("d.turn_idx")).as[(String, Int)].collect()
      val sets = keys.toSeq.map { case (c, t) => (c, t, "shuffle probe text") }.toDF("conv_id", "turn_idx", "text")
      val prior = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(dir))).get
      val (rows, perSegment) = Incremental.changeSet(spark, cfg, sets)
      try {
        val changed = perSegment.values.sum
        assert(changed == 3)
        val t0 = System.currentTimeMillis()
        var stats: (Long, Double, Long, Int) = null
        val applyRead = shuffleReadOf {
          stats = Incremental.applyChanges(spark, cfg, t0, prior, perSegment.keySet, rows,
            spark.sparkContext.emptyRDD, None, 0L)
        }
        assert(applyRead <= changed, s"fraction $fraction: the apply read $applyRead shuffle records")
        assert(IndexBuilder.overlaidSegments(dir).isEmpty == (fraction > 0))
        val waveRead = shuffleReadOf(IndexBuilder.finishBuild(spark, cfg, t0, stats))
        assert(waveRead == 0, s"fraction $fraction: Phase B read $waveRead shuffle records")
      } finally rows.unpersist()
      assert(new IndexReader(spark, dir).search("shuffle probe", 10).size == 3)
    }
  }
}
