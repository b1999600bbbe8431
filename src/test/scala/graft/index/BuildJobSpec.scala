package graft.index

import graft.SparkFunSuite
import graft.query.IndexReader
import graft.sources.SyntheticTranscripts
import graft.store.Manifest
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Build-side job labels and the cost of a patch: every Spark job of
  * `IndexBuilder.build` is described `graft:build`, every job of
  * `Incremental.atomicSet` `graft:atomicSet`, the caller's description
  * survives both, and a one-document patch on an 8-segment index runs
  * a bounded number of jobs — it resolves inside the task that rewrites
  * its segment, with no corpus hash, key diff, id assignment, SQL join
  * or Spark scan of staging; a patch past the auto-compaction fraction
  * writes one staging base and compacts nothing after it. */
class BuildJobSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  /** Jobs of a patch: 4 on `local[4]` (one that routes the patch to its
    * candidate segments, then one each for the apply, the wave and the
    * dictionary merge; corpus_stats is written in-process). */
  private val PatchJobBudget = 4

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

  /** Shuffle records read by the tasks of each job `call` starts in its
    * own job group, by job id. */
  private def shuffleReadOf(call: => Unit): Map[Int, Long] = {
    val sc = spark.sparkContext
    val group = s"build-shuffle-${System.nanoTime()}"
    val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val read = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) {
          read.put(e.jobId, 0L)
          e.stageIds.foreach(jobOf.put(_, e.jobId))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (jobOf.containsKey(e.stageId) && e.taskMetrics != null)
          read.merge(jobOf.get(e.stageId), e.taskMetrics.shuffleReadMetrics.recordsRead, _ + _)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "caller")
      try call finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    read.asScala.toMap
  }

  /** The joins and staging scans `call`, run in its own job group,
    * plans: SQL plan nodes and RDD operation scopes named `*Join*`, SQL
    * plan nodes whose metadata names `_staging`, and file-scan RDDs. */
  private def joinsAndScansOf(call: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"build-plans-${System.nanoTime()}"
    val found = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def planned(n: SparkPlanInfo): Seq[String] =
      (if (n.nodeName.contains("Join") || n.metadata.values.exists(_.contains("_staging"))) Seq(n.nodeName)
       else Nil) ++ n.children.flatMap(planned)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          e.stageInfos.flatMap(_.rddInfos).foreach { r =>
            if (r.name == "FileScanRDD") found.add(r.name)
            r.scope.map(_.name).filter(_.contains("Join")).foreach(found.add)
          }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) =>
          planned(x.sparkPlanInfo).foreach(found.add)
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

  test("a patch plans no join and scans no staging through Spark") {
    val dir = tmpDir("build-plans")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = 0.5)
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 200, maxTurns = 6), cfg)
    // an overlay patch, then one past the fraction that writes a new base
    for (keys <- Seq(Seq(("conv-000020", 0)), Seq(("conv-000001", 0), ("conv-000080", 1), ("conv-000150", 0)))) {
      val sets = keys.map { case (c, t) => (c, t, s"planned patch $c") }.toDF("conv_id", "turn_idx", "text")
      val found = joinsAndScansOf(assert(Incremental.atomicSet(spark, cfg, sets).segmentsBuilt > 0))
      assert(found.isEmpty, s"$keys: $found")
    }
  }

  test("a patch shuffles only its routed rows, and Phase B shuffles nothing") {
    for (fraction <- Seq(0.0, 0.5)) {
      val dir = tmpDir(s"build-shuffle-$fraction")
      val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = fraction)
      IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 400, maxTurns = 8), cfg)
      // three turns in three segments: overlays without a fraction, a
      // new staging base with one; a duplicate of the first, and a key
      // past every segment's range
      val keys = IndexBuilder.readDocs(spark, dir).filter(col("segment") < 3)
        .groupBy("segment").agg(min(struct(col("doc_id"), col("conv_id"), col("turn_idx"))).as("d"))
        .select(col("d.conv_id"), col("d.turn_idx")).as[(String, Int)].collect().toSeq
      val patch = keys.map { case (c, t) => (c, t, "shuffle probe text") } ++
        Seq((keys.head._1, keys.head._2, "shuffle probe text too"), ("zzz-absent", 0, "dropped"))
      val router = new Incremental.KeyRouter(SegStats.view(dir).collect { case (s, SegStat(_, _, _, _, Some(r))) => s -> r })
      val routed = patch.map { case (c, t, _) => router.segmentsOf(DocKey(UTF8String.fromString(c), t)).size }.sum
      assert(routed == 4)
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val reads = shuffleReadOf(assert(Incremental.atomicSet(spark, cfg,
        patch.toDF("conv_id", "turn_idx", "text")).segmentsBuilt == 3))
      // the routing job and the apply read the routed rows; the wave and
      // the dictionary merge read no shuffle
      assert(reads.size <= PatchJobBudget && reads.values.count(_ > 0) == 2, s"fraction $fraction: $reads")
      assert(reads.values.forall(_ <= routed), s"fraction $fraction: $reads")
      assert(IndexBuilder.overlaidSegments(dir).isEmpty == (fraction > 0))
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(persisted).isEmpty)
      assert(new IndexReader(spark, dir).search("shuffle probe", 10).size == 3)
    }
  }
}
