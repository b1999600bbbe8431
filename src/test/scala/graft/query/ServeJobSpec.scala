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

  private lazy val dir: String = {
    val d = tmpDir("idx-serve-job")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 40),
      BuildConfig(d, nSegments = 4))
    d
  }

  private lazy val reader: IndexReader = new IndexReader(spark, dir)

  /** (description, stage count) of each job `call` starts in its own
    * job group. */
  private def jobsOf(call: => Unit): Seq[(String, Int)] =
    jobStarts(call)(e => e.properties.getProperty("spark.job.description") -> e.stageInfos.size)

  /** `f` of each job `call` starts in its own job group. */
  private def jobStarts[T](call: => Unit)(f: SparkListenerJobStart => T): Seq[T] = {
    val sc = spark.sparkContext
    val group = s"serve-job-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) seen.add(f(e))
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

  test("over paged postings, search, searchPhrase and searchMany each run one stage of at most defaultParallelism tasks") {
    val par = spark.sparkContext.defaultParallelism
    def tasks(call: => Unit) = jobStarts(call)(_.stageInfos.map(_.numTasks))
    for (call <- Seq[() => Unit](() => reader.search("user tool", 5), () => reader.searchPhrase("user la", 5),
      () => reader.searchMany(Seq("a" -> "user", "b" -> "la ma"), 5))) {
      val Seq(Seq(n)) = tasks(call())
      assert(n >= 1 && n <= par, n)
    }
    // a positions-free index still refuses a phrase before any read
    val noPos = tmpDir("idx-serve-nopos")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 40),
      BuildConfig(noPos, nSegments = 4, storePositions = false))
    val err = intercept[IllegalArgumentException](new IndexReader(spark, noPos).searchPhrase("user la", 5))
    assert(err.getMessage.contains("storePositions"))
  }

  test("the df lookup runs no Spark job") {
    assert(jobsOf(reader.docFreqs(Seq("user", "la"))).isEmpty)
  }

  test("prefix, wildcard and fuzzy queries each run one single-stage job: the expansion reads the dictionary in-process") {
    assert(reader.searchPrefix("us", 5).nonEmpty && reader.searchWildcard("*er", 5).nonEmpty &&
      reader.searchFuzzy("usr", 1, 5).nonEmpty)
    assert(jobsOf(reader.searchPrefix("us", 5)) == Seq("graft:searchPrefix" -> 1))
    assert(jobsOf(reader.searchWildcard("u?er", 5)) == Seq("graft:searchWildcard" -> 1))
    assert(jobsOf(reader.searchWildcard("*er", 5)) == Seq("graft:searchWildcard" -> 1))
    assert(jobsOf(reader.searchFuzzy("usr", 1, 5)) == Seq("graft:searchFuzzy" -> 1))
  }

  test("searchParsed with wildcard and fuzzy clauses and searchManyMixed with prefix and fuzzy specs each run one single-stage job") {
    assert(reader.searchParsed("us* usr~1", 5).nonEmpty)
    assert(jobsOf(reader.searchParsed("us* usr~1", 5)) == Seq("graft:searchParsed" -> 1))
    val mixed = Seq("p" -> QuerySpec.Prefix("us"), "f" -> QuerySpec.Fuzzy("usr", 1), "t" -> QuerySpec.Free("la"))
    assert(reader.searchManyMixed(mixed, 5).map(_._1).toSet == Set("p", "f", "t"))
    assert(jobsOf(reader.searchManyMixed(mixed, 5)) == Seq("graft:searchManyMixed" -> 1))
  }

  test("a searchManyMixed batch of every QuerySpec case runs one single-stage job") {
    val every: Seq[(String, QuerySpec)] = Seq(
      "free" -> QuerySpec.Free("user tool"),
      "bool" -> QuerySpec.Boolean("user la", "bash"),
      "phrase" -> QuerySpec.Phrase("user la"),
      "near" -> QuerySpec.Phrase("user la", 2),
      "mm" -> QuerySpec.MinMatch("user la ma", 2),
      "prefix" -> QuerySpec.Prefix("us"),
      "wild" -> QuerySpec.Wildcard("u?er"),
      "fuzzy" -> QuerySpec.Fuzzy("usr", 1),
      "boost" -> QuerySpec.Boosted(Seq("user" -> 2.0, "la" -> 0.5)),
      "unord" -> QuerySpec.NearUnordered("la", "user", 1),
      "mixed" -> QueryParser.parse("la^2 us* usr~1 tool"))
    assert(every.map(_._2.getClass).distinct.size == 10)
    assert(reader.searchManyMixed(every, 5).map(_._1).toSet.size >= every.size - 2)
    assert(jobsOf(reader.searchManyMixed(every, 5)) == Seq("graft:searchManyMixed" -> 1))
  }

  test("scoredDocs and matchingDocs each collect in one single-stage job: no postings shuffle") {
    assert(reader.scoredDocs("user la").collect().nonEmpty && reader.matchingDocs("user la").collect().nonEmpty)
    assert(jobsOf(reader.scoredDocs("user la").collect()).map(_._2) == Seq(1))
    assert(jobsOf(reader.matchingDocs("user la").collect()).map(_._2) == Seq(1))
  }

  test("suggest, terms and bestSuggestions run no Spark job, and collate one: the hit count") {
    assert(reader.suggest("usr", 1, 5).collect().nonEmpty && reader.terms("u", 5).collect().nonEmpty)
    assert(jobsOf(reader.suggest("usr", 2, 5).collect()).isEmpty)
    assert(jobsOf(reader.terms("u", 5).collect()).isEmpty)
    assert(jobsOf(reader.terms("", 5).collect()).isEmpty)
    assert(jobsOf(reader.bestSuggestions(Seq("usr", "laq", "user"), 2)).isEmpty)
    assert(jobsOf(reader.collate("usr la", 2).collect()).size == 1)
  }

  test("a fresh reader's scoredDocsDirichlet runs the jobs of a warmed one: totalTokens reads the dictionary in-process") {
    assert(reader.scoredDocsDirichlet("user la").collect().nonEmpty)
    val warm = jobsOf(reader.scoredDocsDirichlet("user la").collect())
    val fresh = new IndexReader(spark, dir)
    assert(jobsOf(fresh.scoredDocsDirichlet("user la").collect()) == warm)
    val sumCf = spark.read.parquet(IndexBuilder.dictionaryDir(dir))
      .agg(org.apache.spark.sql.functions.sum("cf")).head().getLong(0)
    assert(fresh.totalTokens == sumCf && sumCf > 0)
  }
}
