package graft.index

import graft.SparkFunSuite
import graft.model.Turn
import graft.query.IndexReader
import graft.sources.SyntheticTranscripts
import graft.store.Manifest
import org.apache.spark.sql.functions._

/**
 * The per-segment staging stats ([[SegStats]]) through an index's
 * life: a fixed-seed sequence of builds, `atomicSet` patches (overlay
 * and base writes), deltas that update, delete and append, `compact`,
 * and kills followed by a rerun. After every step the stats files,
 * summed per segment, equal an aggregation over the staging view —
 * count, Σ dl, max(doc_id) and the content hash — and the phase A
 * manifest's document count and avgdl are bit-equal to that
 * aggregation's (and, after a completed step, so are corpus_stats').
 */
class SegStatsSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  /** Per segment, the staging view aggregated by Spark. */
  private def aggregated(dir: String): Map[Int, SegStat] =
    IndexBuilder.readDocs(spark, dir).groupBy("segment")
      .agg(count(lit(1)), sum(col("dl").cast("long")), max("doc_id"), IndexBuilder.ContentHash)
      .as[(Int, Long, Long, Long, Long)].collect()
      .map { case (s, n, dl, mx, h) => s -> SegStat(n, dl, mx, h) }.toMap

  private def assertStats(dir: String, step: String, completed: Boolean): Unit = {
    val want = aggregated(dir)
    assert(SegStats.view(dir).filter(_._2.n > 0) == want, step)
    val total = want.values.foldLeft(SegStats.Empty)(_ + _)
    assert(SegStats.total(dir) == total, step)
    val phaseA = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(dir))).get
    val avgdl = if (total.n == 0) 1.0 else total.dlSum.toDouble / total.n
    assert(phaseA("n_docs").toLong == total.n, step)
    assert(phaseA("avgdl").toDouble == avgdl, step) // bit-equal
    if (completed) {
      val stats = new IndexReader(spark, dir).stats
      assert(stats.n_docs == total.n && stats.avgdl == avgdl, step)
    }
  }

  /** The sequence: the corpus lives in `corpus` (key → turn); each step
    * changes the index and the corpus alike. */
  private def run(seed: Long): Unit = {
    val rng = new scala.util.Random(seed)
    val dir = tmpDir(s"segstats-$seed")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = 0.5)
    var corpus: Map[(String, Int), Turn] = (0 until 60).flatMap { c =>
      (0 until 1 + c % 4).map { t =>
        val x = SyntheticTranscripts.makeTurn(seed, c, t)
        (x.conv_id, x.turn_idx) -> x
      }
    }.toMap
    var word = 0
    def keysIn(segments: Set[Int]): Seq[(String, Int)] =
      IndexBuilder.readDocs(spark, dir).filter(col("segment").isInCollection(segments))
        .select("conv_id", "turn_idx").as[(String, Int)].collect().toSeq.sorted
    /** Patches one random turn in each of `segments`. */
    def patch(segments: Set[Int], c: BuildConfig = cfg): Unit = {
      val keys = segments.toSeq.sorted.map(s => rng.shuffle(keysIn(Set(s))).head)
      word += 1
      val sets = keys.map { case (c, t) => (c, t, s"patched text $seed w$word") }
      corpus ++= sets.map { case (c, t, x) => (c, t) -> corpus((c, t)).copy(text = x) }
      Incremental.atomicSet(spark, c, sets.toDF("conv_id", "turn_idx", "text"))
    }
    /** Updates, deletes and appends turns through a delta build. */
    def delta(c: BuildConfig = cfg): Unit = {
      val keys = rng.shuffle(corpus.keys.toSeq.sorted)
      word += 1
      corpus = corpus -- keys.take(3)
      corpus ++= keys.slice(3, 6).map(k => k -> corpus(k).copy(text = s"delta text $seed w$word"))
      corpus ++= (0 until 1 + rng.nextInt(6)).map { t =>
        val x = SyntheticTranscripts.makeTurn(seed + word, 1000 + word, t)
        val k = (s"zz-$word-${x.conv_id}", t)
        k -> x.copy(conv_id = k._1)
      }
      IndexBuilder.build(spark, corpus.values.toSeq.toDS(), c)
    }

    IndexBuilder.build(spark, corpus.values.toSeq.toDS(), cfg)
    assertStats(dir, "build", completed = true)
    patch(Set(rng.nextInt(4)))
    assert(IndexBuilder.overlaidSegments(dir).size == 1)
    assertStats(dir, "one-segment patch (overlay)", completed = true)
    delta()
    assertStats(dir, "delta", completed = true)
    patch(rng.shuffle((0 until 4).toSet.toSeq).take(3).toSet)
    assert(IndexBuilder.overlaidSegments(dir).isEmpty)
    assertStats(dir, "three-segment patch (base write)", completed = true)
    patch(Set(rng.nextInt(4)))
    assert(Incremental.compact(spark, dir) == 1)
    assertStats(dir, "compact", completed = true)
    val killed = cfg.copy(failAfterWaves = 0)
    intercept[SimulatedKill](patch(Set(rng.nextInt(4)), killed))
    assertStats(dir, "killed patch", completed = false)
    IndexBuilder.build(spark, corpus.values.toSeq.toDS(), cfg)
    assertStats(dir, "rerun after the killed patch", completed = true)
    intercept[SimulatedKill](delta(killed))
    assertStats(dir, "killed delta", completed = false)
    IndexBuilder.build(spark, corpus.values.toSeq.toDS(), cfg)
    assertStats(dir, "rerun after the killed delta", completed = true)
  }

  test("per-segment staging stats equal the staging view's aggregation after every step") {
    run(3L)
  }
}
