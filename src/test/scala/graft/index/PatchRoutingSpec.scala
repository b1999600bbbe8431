package graft.index

import graft.SparkFunSuite
import graft.sources.SyntheticTranscripts
import graft.store.Manifest
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * How `atomicSet` routes a patch by the segments' key ranges
 * ([[SegStats]]), each case held to a fresh build of the patched
 * corpus ([[ModelChecks]]): keys at a segment's first and last row, a
 * conversation whose turns span two segments, duplicate keys that set
 * disjoint fields or the same field (the greater value wins), absent
 * keys inside and past every range, and a key that a `delta` append
 * makes several ranges hold. A patch that changes nothing writes no
 * file and appends no ledger row.
 */
class PatchRoutingSpec extends SparkFunSuite with ModelChecks {
  import graft.SparkTestBase.spark.implicits._

  private def corpus(seed: Long, convs: Int): Corpus = (0 until convs).flatMap { c =>
    (0 until 1 + c % 4).map { t =>
      val x = SyntheticTranscripts.makeTurn(seed, c, t)
      (x.conv_id, x.turn_idx) -> x
    }
  }.toMap

  private def router(dir: String) =
    new Incremental.KeyRouter(SegStats.view(dir).collect { case (s, SegStat(_, _, _, _, Some(r))) => s -> r })

  private def routes(r: Incremental.KeyRouter, k: (String, Int)): Seq[Int] =
    r.segmentsOf(DocKey(UTF8String.fromString(k._1), k._2))

  private val Queries = Seq("routeword", "disjoint text", "same field", "user assistant", "bash search")

  test("a patch routes by key range: segment bounds, a conversation in two segments, merged duplicates, absent keys, a key in several ranges") {
    val dir = tmpDir("routing")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = 0)
    var model = corpus(11L, 40)
    IndexBuilder.build(spark, model.values.toSeq.toDS(), cfg)
    // a delta appends a conversation that sorts right after the least
    // one: the tail segment's range then holds keys of segment 0 too
    val least = model.keys.min._1
    model ++= (0 until 3).map { t =>
      (s"$least+", t) -> SyntheticTranscripts.makeTurn(12L, 0, t).copy(conv_id = s"$least+", turn_idx = t)
    }
    IndexBuilder.build(spark, model.values.toSeq.toDS(), cfg)
    val r = router(dir)
    val docs = IndexBuilder.readDocs(spark, dir).select("conv_id", "turn_idx", "segment")
      .as[(String, Int, Int)].collect().toSeq
    val bounds = SegStats.view(dir).values.flatMap(_.keys).flatMap(k => Seq(k.lo, k.hi))
      .map(k => (k.convId.toString, k.turnIdx)).toSet
    val split = docs.groupBy(_._1).collect { case (c, ts) if ts.map(_._3).distinct.size > 1 => c }.min
    val splitKeys = docs.filter(_._1 == split).map(d => (d._1, d._2)).toSet
    val shared = docs.map(d => (d._1, d._2)).filter(k => routes(r, k).size > 1).min
    val patched = bounds ++ splitKeys + shared
    assert(bounds.size >= 6 && splitKeys.size > 1 && routes(r, shared).size > 1)
    val Seq(k1, k2) = model.keys.toSeq.filterNot(patched).sorted.take(2)
    val absentInside = (least, 99)
    assert(routes(r, absentInside).nonEmpty && routes(r, ("zzzz", 0)).isEmpty)

    // (key, text, role): null keeps the field
    val sets: Seq[((String, Int), String, String)] =
      patched.toSeq.sorted.map(k => (k, s"patched ${k._1} ${k._2} routeword", null)) ++ Seq(
        (k1, "disjoint text", null), (k1, null, "disjoint_role"),
        (k2, "alpha same field", null), (k2, "beta same field", null),
        (absentInside, "absent inside", null), (("zzzz", 0), "absent past", null))
    Incremental.atomicSet(spark, cfg, sets.map { case ((c, t), x, ro) => (c, t, x, ro) }
      .toDF("conv_id", "turn_idx", "text", "role"))
    // the model: per present key, the greatest value of each field set
    sets.groupBy(_._1).foreach { case (k, rows) =>
      model.get(k).foreach { turn =>
        def greatest(vs: Seq[String]) = vs.filter(_ != null).maxOption
        model += k -> turn.copy(text = greatest(rows.map(_._2)).getOrElse(turn.text),
          role = greatest(rows.map(_._3)).getOrElse(turn.role))
      }
    }
    assert(model(k2).text == "beta same field" && model(k1).role == "disjoint_role")
    assertModel(dir, model, cfg, Queries, "routing edge cases")
  }

  /** path → (size, mtime) of every file under `dir`. */
  private def files(dir: String): Map[String, (Long, Long)] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))).toMap

  test("a patch that changes nothing writes no file and appends no ledger row") {
    for (fraction <- Seq(0.0, 0.5)) {
      val dir = tmpDir(s"routing-noop-$fraction")
      val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = fraction)
      val model = corpus(13L, 40)
      IndexBuilder.build(spark, model.values.toSeq.toDS(), cfg)
      // the same text for the first key of three of four segments (past
      // the fraction: the base path), a NULL set, an absent key
      val firsts = IndexBuilder.readDocs(spark, dir).select("segment", "conv_id", "turn_idx")
        .as[(Int, String, Int)].collect().groupBy(_._1).toSeq.sortBy(_._1).take(3)
        .map(_._2.map(d => (d._2, d._3)).min)
      val nullKey = model.keys.toSeq.filterNot(firsts.contains).min
      val sets = firsts.map(k => (k._1, k._2, model(k).text)) ++
        Seq((nullKey._1, nullKey._2, null: String), ("conv-000001", 99, "absent"))
      val before = files(dir)
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val rep = Incremental.atomicSet(spark, cfg, sets.toDF("conv_id", "turn_idx", "text"))
      assert(rep.segmentsBuilt == 0, s"fraction $fraction")
      assert(files(dir) == before, s"fraction $fraction")
      assert(Manifest.segmentStates(IndexBuilder.manifestDir(dir)).values.forall(_.get("status").contains(Manifest.Complete)))
      assertClean(dir, persisted, s"fraction $fraction")
      assertModel(dir, model, cfg, Queries, s"no-op patch, fraction $fraction")
    }
  }
}
