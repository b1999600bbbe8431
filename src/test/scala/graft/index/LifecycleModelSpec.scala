package graft.index

import graft.SparkFunSuite
import graft.model.Turn
import graft.sources.SyntheticTranscripts
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * The index through random lifecycles, held to a model: a fixed-seed
 * scalacheck generator draws short sequences over a small corpus of
 * `delta` builds (updates, deletes, appends that sort among the
 * existing keys), `atomicSet` patches (disjoint fields, one key set
 * twice, keys at segment bounds), `compact`, and either change killed
 * at a wave and then rerun. After every step the index equals a fresh
 * build of the model corpus ([[ModelChecks.assertModel]]: documents,
 * content hash, corpus stats, dictionary and top-k on both executors)
 * and leaves no persisted RDD and no `_tmp_*` directory.
 */
class LifecycleModelSpec extends SparkFunSuite with ModelChecks {
  import graft.SparkTestBase.spark.implicits._

  private sealed trait Op
  /** A delta that updates, deletes and appends this many turns. */
  private case class Delta(update: Int, delete: Int, append: Int) extends Op
  /** A patch of this many keys. */
  private case class Patch(keys: Int) extends Op
  private case object Compact extends Op
  /** `op` killed after `waves` waves of one segment, then rerun. */
  private case class Killed(op: Op, waves: Int) extends Op

  private case class Sequence(fraction: Double, ops: Seq[Op], seed: Long)

  private val delta: Gen[Op] =
    Gen.zip(Gen.choose(0, 3), Gen.choose(0, 3), Gen.choose(0, 4)).map((Delta.apply _).tupled)
  private val patch: Gen[Op] = Gen.choose(1, 6).map(Patch)

  /** A patch, a delta, each of them killed at wave 0 or 1, and a
    * compaction, in a random order, under `fraction`. */
  private def sequences(fraction: Double): Gen[Sequence] = for {
    ops <- Gen.sequence[Seq[Op], Op](Seq(patch, delta,
      Gen.zip(patch, Gen.choose(0, 1)).map((Killed.apply _).tupled),
      Gen.zip(delta, Gen.choose(0, 1)).map((Killed.apply _).tupled),
      Gen.const(Compact)))
    seed <- Gen.choose(0L, 1L << 40)
  } yield Sequence(fraction, new scala.util.Random(seed).shuffle(ops), seed)

  private val Words = Vector("lifeword", "kappa", "omega", "sigma", "assistant", "error", "timeout", "browser")

  private val Queries = Seq("lifeword", "kappa omega", "assistant timeout browser")

  private def run(name: String, sq: Sequence): Unit = {
    val rng = new scala.util.Random(sq.seed)
    val dir = tmpDir(s"lifecycle-$name")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = sq.fraction)
    var model: Corpus = (0 until 24).flatMap { c =>
      (0 until 1 + c % 4).map { t =>
        val x = SyntheticTranscripts.makeTurn(sq.seed % 1000, c, t)
        (x.conv_id, x.turn_idx) -> x.copy(text = x.text.split(' ').take(12).mkString(" "))
      }
    }.toMap
    var n = 0
    def text() = { n += 1; Seq.fill(1 + rng.nextInt(4))(Words(rng.nextInt(Words.size))).mkString(" ") + s" w$n" }
    def pick(k: Int) = rng.shuffle(model.keys.toSeq.sorted).take(k)

    /** Applies `o` to the model, and returns the call that applies it
      * to the index with a config (the caller's kill hook in it). */
    def apply(o: Op): BuildConfig => Unit = o match {
      case Delta(u, d, a) =>
        val keys = pick(u + d)
        model ++= keys.take(u).map(k => k -> model(k).copy(text = text()))
        model --= keys.drop(u)
        if (a > 0) {
          // a new conversation sorting right after a random existing one
          val after = model.keys.toSeq.sorted.apply(rng.nextInt(model.size))._1
          model ++= (0 until a).map { t =>
            (s"$after+$n", t) -> Turn(s"$after+$n", t, "user", text(), "", new java.sql.Timestamp(0L))
          }
        }
        val src = model.values.toSeq.toDS()
        c => IndexBuilder.build(spark, src, c)
      case Patch(k) =>
        // keys at a segment's bounds half the time, else anywhere
        val bounds = SegStats.view(dir).values.flatMap(_.keys).flatMap(r => Seq(r.lo, r.hi))
          .map(b => (b.convId.toString, b.turnIdx)).toSeq.sorted
        val keys = (0 until k).map(_ => if (rng.nextBoolean()) bounds(rng.nextInt(bounds.size)) else pick(1).head).distinct
        // per key: text, role, both in disjoint rows, or text twice
        val rows = keys.flatMap { key =>
          rng.nextInt(4) match {
            case 0 => Seq((key, text(), null))
            case 1 => Seq((key, null, s"role${rng.nextInt(50)}"))
            case 2 => Seq((key, text(), null), (key, null, s"role${rng.nextInt(50)}"))
            case _ => Seq((key, text(), null), (key, text(), null))
          }
        }
        rows.groupBy(_._1).foreach { case (key, rs) =>
          def greatest(vs: Seq[String]) = vs.filter(_ != null).maxOption
          val t = model(key)
          model += key -> t.copy(text = greatest(rs.map(_._2)).getOrElse(t.text),
            role = greatest(rs.map(_._3)).getOrElse(t.role))
        }
        val sets = rows.map { case ((conv, turn), x, r) => (conv, turn, x, r) }.toDF("conv_id", "turn_idx", "text", "role")
        c => Incremental.atomicSet(spark, c, sets)
      case Compact => _ => Incremental.compact(spark, dir)
      case Killed(inner, _) => apply(inner)
    }

    IndexBuilder.build(spark, model.values.toSeq.toDS(), cfg)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    sq.ops.zipWithIndex.foreach { case (o, i) =>
      val ctx = s"$name step $i $o (fraction ${sq.fraction}, seed ${sq.seed})"
      val call = apply(o)
      o match {
        case Killed(_, waves) =>
          try call(cfg.copy(waveSize = 1, failAfterWaves = waves)) catch { case _: SimulatedKill => }
          call(cfg)
        case _ => call(cfg)
      }
      assertModel(dir, model, cfg, Queries, ctx)
      assertClean(dir, persisted, ctx)
    }
  }

  test("every lifecycle step leaves the index equal to a fresh build of its model corpus") {
    val cases = Seq(0.0, 0.5).zipWithIndex.flatMap { case (f, i) =>
      sequences(f).apply(Gen.Parameters.default, Seed(5300L + i)) }
    cases.foreach(c => info(c.toString))
    cases.zipWithIndex.foreach { case (sq, i) => run(s"case$i", sq) }
  }
}
