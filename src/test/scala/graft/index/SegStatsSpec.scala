package graft.index

import graft.SparkFunSuite
import graft.model.Turn
import graft.query.IndexReader
import graft.sources.SyntheticTranscripts
import graft.store.Manifest
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}

/**
 * The per-segment staging stats ([[SegStats]]) through an index's
 * life: a fixed-seed sequence of builds, `atomicSet` patches (overlay
 * and base writes), deltas that update, delete and append, `compact`,
 * and kills followed by a rerun. After every step the stats files,
 * summed per segment, equal an aggregation over the staging view —
 * count, Σ dl, max(doc_id), the content hash and the least and
 * greatest (conv_id, turn_idx) — and the phase A
 * manifest's document count and avgdl are bit-equal to that
 * aggregation's (and, after a completed step, so are corpus_stats').
 */
class SegStatsSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  /** Per segment, the staging view aggregated by Spark (its key range
    * by Spark's ordering of the (conv_id, turn_idx) struct). */
  private def aggregated(dir: String): Map[Int, SegStat] = {
    val key = struct(col("conv_id"), col("turn_idx"))
    IndexBuilder.readDocs(spark, dir).groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("dl").cast("long")).as("dl"), max("doc_id").as("mx"),
        IndexBuilder.ContentHash.as("h"), min(key).as("lo"), max(key).as("hi"))
      .select(col("segment"), col("n"), col("dl"), col("mx"), col("h"),
        col("lo.conv_id"), col("lo.turn_idx"), col("hi.conv_id"), col("hi.turn_idx"))
      .as[(Int, Long, Long, Long, Long, String, Int, String, Int)].collect()
      .map { case (s, n, dl, mx, h, loC, loT, hiC, hiT) =>
        def k(c: String, t: Int) = DocKey(UTF8String.fromString(c), t)
        s -> SegStat(n, dl, mx, h, Some(KeyRange(k(loC, loT), k(hiC, hiT))))
      }.toMap
  }

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
    /** Updates, deletes and appends turns through a delta build. The
      * appended conversation sorts right after the corpus's least one,
      * so the tail segment it lands in gets a key range that overlaps
      * the first segment's. */
    def delta(c: BuildConfig = cfg): Unit = {
      val keys = rng.shuffle(corpus.keys.toSeq.sorted)
      word += 1
      corpus = corpus -- keys.take(3)
      corpus ++= keys.slice(3, 6).map(k => k -> corpus(k).copy(text = s"delta text $seed w$word"))
      val least = corpus.keys.min._1
      corpus ++= (0 until 1 + rng.nextInt(6)).map { t =>
        val x = SyntheticTranscripts.makeTurn(seed + word, 1000 + word, t)
        val k = (s"$least d$word", t)
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
    val ranges = SegStats.view(dir).values.flatMap(_.keys).toSeq
    def holds(r: KeyRange, k: DocKey) = r.lo <= k && k <= r.hi
    assert(ranges.combinations(2).exists { case Seq(a, b) => holds(a, b.lo) || holds(b, a.lo) },
      "the appended tail segment's key range overlaps another")
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

  test("key ranges round-trip through _segstats for conv_ids with spaces, newlines and non-ASCII") {
    val dir = Paths.get(tmpDir("segstats-keys"))
    def k(c: String, t: Int) = DocKey(UTF8String.fromString(c), t)
    val stats = Map(
      0 -> SegStat(3, 12, 2, -7L, Some(KeyRange(k("a b", 0), k("line\nbreak\r\n", 7)))),
      1 -> SegStat(2, 9, 4, 42L, Some(KeyRange(k("ünï cödé 日本", -1), k("\ud83d\ude00 emoji: x", Int.MaxValue)))),
      2 -> SegStat(1, 1, 5, 0L, Some(KeyRange(k("", 3), k("", 3)))),
      3 -> SegStats.Empty)
    SegStats.write(dir, stats)
    assert(SegStats.read(dir).contains(stats))
  }

  test("an index whose _segstats has no key ranges is not compatible; atomicSet refuses it") {
    val dir = tmpDir("segstats-v8")
    val cfg = BuildConfig(dir, nSegments = 2, waveSize = 2)
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 5L, nConvs = 20, maxTurns = 3), cfg)
    val phaseA = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(dir))).get
    assert(IndexBuilder.compatible(cfg, phaseA))
    // the file as an index built before key ranges wrote it: five fields a line
    val f = Paths.get(IndexBuilder.stagingDir(dir), SegStats.FileName)
    val lines = new String(Files.readAllBytes(f), "UTF-8").split("\n").map(_.split(" ").take(5).mkString(" "))
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(SegStats.read(Paths.get(IndexBuilder.stagingDir(dir))).isEmpty)
    assert(!IndexBuilder.compatible(cfg, phaseA))
    val e = intercept[IllegalStateException](Incremental.atomicSet(spark, cfg,
      Seq(("conv-000001", 0, "x")).toDF("conv_id", "turn_idx", "text")))
    assert(e.getMessage.contains("atomicSet needs an index built with this config"))
  }
}
