package graft.index

import graft.SparkFunSuite
import graft.sources.SyntheticTranscripts
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Build-side job labels and the cost of a patch: every Spark job of
  * `IndexBuilder.build` is described `graft:build`, every job of
  * `Incremental.atomicSet` `graft:atomicSet`, the caller's description
  * survives both, and a one-document patch on an 8-segment index runs
  * a bounded number of jobs — it resolves against staging and rewrites
  * one segment, with no corpus hash, key diff or id assignment. */
class BuildJobSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  /** Jobs of a one-document patch, bounded from a measurement: 12 on
    * `local[4]`, against 30 when a patch ran as a source delta over a
    * patched-corpus view. */
  private val PatchJobBudget = 14

  /** The description of each job `call` starts in its own job group. */
  private def jobsOf(call: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"build-job-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
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
}
