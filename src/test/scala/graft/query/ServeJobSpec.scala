package graft.query

import graft.SparkFunSuite
import graft.index.{BuildConfig, IndexBuilder}
import graft.sources.SyntheticTranscripts
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** The serving contract: a top-k call is ONE shuffle-free Spark job
  * described `graft:<method>` — the df lookup reads the dictionary
  * in-process, so no dictionary job — and the caller's own job
  * description survives the call. */
class ServeJobSpec extends SparkFunSuite {

  private lazy val reader: IndexReader = {
    val dir = tmpDir("idx-serve-job")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 40),
      BuildConfig(dir, nSegments = 4))
    new IndexReader(spark, dir)
  }

  /** (description, stage count) of each job `call` starts in its own
    * job group. */
  private def jobsOf(call: => Unit): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    val group = s"serve-job-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(e.properties.getProperty("spark.job.description") -> e.stageInfos.size)
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

  test("search, searchPhrase and searchMany each run one single-stage job") {
    assert(reader.search("user", 5).nonEmpty)
    assert(jobsOf(reader.search("user tool", 5)) == Seq("graft:search" -> 1))
    assert(jobsOf(reader.searchPhrase("user la", 5)) == Seq("graft:searchPhrase" -> 1))
    assert(jobsOf(reader.searchMany(Seq("a" -> "user", "b" -> "la ma"), 5)) ==
      Seq("graft:searchMany" -> 1))
  }

  test("the df lookup runs no Spark job") {
    assert(jobsOf(reader.docFreqs(Seq("user", "la"))).isEmpty)
  }
}
