package graft.index

import graft.SparkFunSuite
import graft.analysis.Analyzer
import graft.model.Turn
import graft.store.{LocalParquet, Manifest}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A change set applied to the staging view as a `row_number` window
  * over (segment, doc_id) computes it, with a Spark shuffle: per doc_id
  * the last of its view row (op 0), its upsert (1) and its delete (2),
  * unless that is the delete. The apply the in-place segment merge
  * replaced, kept as its oracle. */
object ApplyOracle {
  def view(spark: SparkSession, dir: String, upserts: Seq[Row], deletes: Seq[(Int, Long)]): Set[Row] = {
    import spark.implicits._
    val names = IndexBuilder.StagingSchema.fieldNames.map(col).toIndexedSeq
    val current = IndexBuilder.readDocs(spark, dir).withColumn("op", lit(0))
    val ups = spark.createDataFrame(upserts.asJava, IndexBuilder.StagingSchema).withColumn("op", lit(1))
    val dels = deletes.toDF("segment", "doc_id").withColumn("op", lit(2))
    val last = Window.partitionBy("segment", "doc_id").orderBy(col("op").desc)
    current.unionByName(ups).unionByName(dels, allowMissingColumns = true)
      .withColumn("rank", row_number().over(last))
      .filter(col("rank") === 1 && col("op") =!= 2)
      .select(names: _*).collect().toSet
  }
}

/**
 * The in-place apply ([[Incremental.applyChanges]]) against
 * [[ApplyOracle]] over random change sets on a 4-segment index:
 * updates, deletes, a segment emptied to zero rows, appends that open a
 * new tail segment, overlays written over overlays, and base rewrites
 * (`autoCompactFraction` drawn per sequence). After every step the
 * staging view equals the oracle's, the `_segstats` equal the oracle
 * view's aggregation, and every postings file is byte-identical to
 * the one a from-scratch Phase B writes over the oracle view with the
 * same doc_ids.
 */
class ApplyOracleSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private sealed trait Op
  /** New text for a share of the segment's rows. */
  private case class Update(seg: Int, share: Double) extends Op
  /** Deletes a share of the segment's rows. */
  private case class DeleteSome(seg: Int, share: Double) extends Op
  /** Deletes every row of the segment. */
  private case class Empty(seg: Int) extends Op
  /** Appends `n` documents after the largest doc_id. */
  private case class Append(n: Int) extends Op

  private case class Sequence(fraction: Double, steps: Seq[Seq[Op]], seed: Long)

  private val op: Gen[Op] = Gen.frequency(
    4 -> Gen.zip(Gen.choose(0, 4), Gen.choose(0.05, 0.5)).map((Update.apply _).tupled),
    2 -> Gen.zip(Gen.choose(0, 4), Gen.choose(0.05, 0.5)).map((DeleteSome.apply _).tupled),
    1 -> Gen.choose(0, 3).map(Empty),
    2 -> Gen.choose(1, 45).map(Append))

  private val sequences: Gen[Sequence] = for {
    fraction <- Gen.oneOf(0.0, 0.5, 0.9)
    steps <- Gen.listOfN(4, Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, op)))
    seed <- Gen.choose(0L, 1L << 40)
  } yield Sequence(fraction, steps, seed)

  private val Words = Vector("alpha", "beta", "gamma", "delta", "kappa", "omega", "sigma", "tau")

  private def hashRow(s: SegStat) = (s.n, s.dlSum, s.maxDocId, s.hash)

  /** Per segment: (n, Σ dl, max doc_id, content hash) of `rows`. */
  private def aggregated(rows: Set[Row]): Map[Int, (Long, Long, Long, Long)] =
    spark.createDataFrame(rows.toSeq.asJava, IndexBuilder.StagingSchema).groupBy("segment")
      .agg(count(lit(1)), sum(col("dl").cast("long")), max("doc_id"), IndexBuilder.ContentHash)
      .as[(Int, Long, Long, Long, Long)].collect()
      .map { case (s, n, dl, mx, h) => s -> ((n, dl, mx, h)) }.toMap

  /** segment → the sorted digests of its postings files. */
  private def postings(dir: String): Map[Int, Seq[String]] =
    LocalParquet.partitions(Paths.get(IndexBuilder.postingsDir(dir)), "segment").map { case (s, d) =>
      s -> LocalParquet.files(d).map { f =>
        java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f))
          .map("%02x".format(_)).mkString
      }.sorted
    }.toMap

  /** A from-scratch Phase B and finalize over `rows` as the staging base
    * of a copy of `dir`'s phase A state. */
  private def reference(dir: String, rows: Set[Row], cfg: BuildConfig): String = {
    val ref = tmpDir("apply-oracle-ref")
    val m = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(dir))).get
    spark.createDataFrame(rows.toSeq.asJava, IndexBuilder.StagingSchema)
      .repartitionByRange(2, col("segment"), col("doc_id")).sortWithinPartitions("segment", "doc_id")
      .write.parquet(IndexBuilder.stagingDir(ref))
    SegStats.write(Paths.get(IndexBuilder.stagingDir(ref)), aggregated(rows).map { case (s, (n, dl, mx, h)) =>
      s -> SegStat(n, dl, mx, h, None) })
    Files.createDirectories(Paths.get(IndexBuilder.manifestDir(ref)))
    Files.copy(Manifest.phaseAPath(IndexBuilder.manifestDir(dir)), Manifest.phaseAPath(IndexBuilder.manifestDir(ref)))
    IndexBuilder.finishBuild(spark, cfg.copy(outDir = ref), 0L,
      (m("n_docs").toLong, m("avgdl").toDouble, m("seg_size").toLong, m("n_segments_effective").toInt))
    ref
  }

  /** What the sequences covered. */
  private val seen = scala.collection.mutable.Set.empty[String]

  private def run(name: String, sq: Sequence): Unit = {
    val rng = new scala.util.Random(sq.seed)
    val dir = tmpDir(s"apply-oracle-$name")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = sq.fraction)
    val corpus = (0 until 160).map { i =>
      Turn(f"c${i / 4}%03d", i % 4, if (i % 3 == 0) "user" else "assistant",
        (0 until 1 + i % 6).map(j => Words((i + j * 3) % Words.size)).mkString(" "), "",
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    }
    IndexBuilder.build(spark, corpus.toDS(), cfg)
    val segSize = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(dir))).get("seg_size").toLong
    var appended = 0
    sq.steps.zipWithIndex.foreach { case (ops, step) =>
      val ctx = s"$name step $step ${ops.mkString(",")} (fraction ${sq.fraction})"
      val view = IndexBuilder.readDocs(spark, dir).collect().toSeq.sortBy(_.getLong(0))
      val bySeg = view.groupBy(_.getInt(1))
      def pick(seg: Int, share: Double) = bySeg.getOrElse(seg, Nil).filter(_ => rng.nextDouble() < share)
      val deletes = ops.flatMap {
        case DeleteSome(s, share) => pick(s, share)
        case Empty(s) => bySeg.getOrElse(s, Nil)
        case _ => Nil
      }.map(r => (r.getInt(1), r.getLong(0))).distinct
      var nextId = view.lastOption.fold(-1L)(_.getLong(0)) + 1
      def row(id: Long, conv: String, tix: Int, role: String, text: String) =
        Row(id, (id / segSize).toInt, conv, tix, role, text, "", Analyzer.V1.docLength(text), text.hashCode.toLong)
      val upserts = ops.flatMap {
        case Update(s, share) => pick(s, share).map(r =>
          row(r.getLong(0), r.getString(2), r.getInt(3), r.getString(4), s"updated $step ${Words(rng.nextInt(Words.size))}"))
        case Append(n) => (0 until n).map { _ =>
          appended += 1; nextId += 1
          row(nextId - 1, s"zz$appended", 0, "user", s"appended ${Words(rng.nextInt(Words.size))} w$appended")
        }
        case _ => Nil
      }.reverse.distinctBy(_.getLong(0)).reverse // one upsert per doc_id, as a resolved change set has
      val touched = (upserts.map(_.getInt(1)) ++ deletes.map(_._1)).toSet
      val overlaidBefore = IndexBuilder.overlaidSegments(dir)
      val expected = ApplyOracle.view(spark, dir, upserts, deletes)
      val prior = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(dir))).get
      val t0 = System.currentTimeMillis()
      val stats = Incremental.applyChanges(spark, cfg, t0, prior, touched,
        spark.createDataFrame(upserts.asJava, IndexBuilder.StagingSchema).queryExecution.toRdd,
        spark.sparkContext.parallelize(deletes), None, 0L)
      IndexBuilder.finishBuild(spark, cfg, t0, stats)

      if (touched.nonEmpty) {
        if (IndexBuilder.overlaidSegments(dir).isEmpty && overlaidBefore.size + touched.size > 1) seen += "rebase"
        if ((overlaidBefore & touched).exists(IndexBuilder.overlaidSegments(dir))) seen += "overlay over overlay"
      }
      if (ops.exists(_.isInstanceOf[Empty]) && touched.nonEmpty) seen += "emptied"
      if (upserts.exists(_.getInt(1) > prior("n_segments_effective").toInt - 1)) seen += "new tail segment"

      val got = IndexBuilder.readDocs(spark, dir).collect().toSeq
      assert(got.size == expected.size && got.toSet == expected,
        s"$ctx: extra ${got.toSet.diff(expected).take(5)}, missing ${expected.diff(got.toSet).take(5)}")
      assert(SegStats.view(dir).filter(_._2.n > 0).map { case (s, t) => s -> hashRow(t) } == aggregated(expected), ctx)
      assert(postings(dir) == postings(reference(dir, expected, cfg)), ctx)
    }
  }

  test("the in-place apply equals the window-merge oracle; postings byte-identical to a rebuild over it") {
    val cases = (0 until 4).flatMap(i => sequences.apply(Gen.Parameters.default, Seed(9100L + i)))
    cases.zipWithIndex.foreach { case (sq, i) => run(s"case$i", sq) }
    assert(seen == Set("rebase", "overlay over overlay", "emptied", "new tail segment"), seen)
  }
}
