package graft.query

import graft.index.TermBlocks
import graft.model.QueryHit
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * ScalaCheck properties of the [[Wand]] kernels over random corpora cut
 * into docId-contiguous segments and encoded with
 * [[TermBlocks.encodeTerm]] (frequent terms span several blocks per
 * segment) — pure Scala, no Spark, fixed seeds. Every property is
 * checked against a brute-force scan of the token sequences, which
 * shares no code with the cursors, the leapfrog, the merge or the
 * collector:
 *  - [[Wand.matchingDocIds]] is the must-set intersection minus the NOT
 *    set;
 *  - [[Wand.scoredDocIds]] at every minimum-should-match, the synonym
 *    merge and the Dirichlet merge give bit-equal (doc, score) lists;
 *  - every plan run over all segments into ONE collector is the
 *    brute-force top-k, for k below, at and above the hit count, with
 *    exact-duplicate documents straddling each segment boundary (equal
 *    scores in different segments, which the docId tie-break orders).
 */
class WandPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int, salt: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(salt * 1000 + i)))

  /** Skewed vocabulary: `a` lands in most documents, `g` in few. */
  private val Weighted = Vector("a" -> 30, "b" -> 20, "c" -> 14, "d" -> 9, "e" -> 5, "f" -> 3, "g" -> 1)
  /** Query terms: the vocabulary plus one term no document holds. */
  private val QueryTerms = Weighted.map(_._1) :+ "zz"

  private final class Corpus(val docs: Vector[Vector[String]], segStarts: Vector[Int]) {
    val n: Long = docs.length.toLong
    val avgdl: Double = docs.map(_.length.toLong).sum.toDouble / n
    private val tfs: Vector[Map[String, Int]] = docs.map(_.groupBy(identity).map { case (t, o) => t -> o.size })
    def tf(d: Int, t: String): Int = tfs(d).getOrElse(t, 0)
    def dl(d: Int): Int = docs(d).length
    val df: Map[String, Long] = tfs.flatMap(_.keys).groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val cf: Map[String, Long] = docs.flatten.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    def idf(t: String): Double = BM25.idf(df.getOrElse(t, 0L), n)

    /** Each segment's term → blocks, ascending, as the index builder
      * writes them. */
    val segments: Vector[Plan.Blocks] = segStarts.indices.toVector.map { seg =>
      val (lo, hi) = (segStarts(seg), if (seg + 1 < segStarts.length) segStarts(seg + 1) else docs.length)
      Weighted.map(_._1).flatMap { t =>
        val ids = (lo until hi).filter(tf(_, t) > 0)
        if (ids.isEmpty) None
        else Some(t -> TermBlocks.encodeTerm(t, seg, ids.map(_.toLong).toArray, ids.map(tf(_, t)).toArray,
          ids.map(dl).toArray, ids.map(d => docs(d).indices.filter(docs(d)(_) == t).toArray).toArray).toIndexedSeq)
      }.toMap
    }

    def multiBlock: Boolean = segments.length > 1 && segments.exists(_.values.exists(_.length > 1))
  }

  /** 150–600 documents of 1–10 tokens in 1–4 segments; the documents on
    * both sides of every boundary are copies of one document. */
  private val corpora: Gen[Corpus] = for {
    n <- Gen.choose(150, 600)
    nSeg <- Gen.choose(1, 4)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val rng = new java.util.SplittableRandom(seed)
    val total = Weighted.map(_._2).sum
    def token(): String = {
      var r = rng.nextInt(total)
      Weighted.find { case (_, w) => r -= w; r < 0 }.get._1
    }
    val cuts = Iterator.continually(1 + rng.nextInt(n - 2)).distinct.take(nSeg - 1).toVector.sorted
    val docs = cuts.foldLeft(Vector.fill(n)(Vector.fill(1 + rng.nextInt(10))(token()))) { (ds, c) =>
      ds.updated(c, ds(c - 1)).updated(c + 1, ds(c - 1))
    }
    new Corpus(docs, 0 +: cuts)
  }

  private def terms(lo: Int, hi: Int): Gen[Seq[String]] =
    Gen.choose(lo, hi).flatMap(Gen.listOfN(_, Gen.oneOf(QueryTerms))).map(_.distinct.sorted)

  private def hitsOf(c: Corpus)(score: Int => Option[Double]): Vector[(Long, Double)] =
    c.docs.indices.flatMap(d => score(d).map(d.toLong -> _)).toVector

  private def perSegment[A](c: Corpus)(f: Plan.Blocks => Iterator[A]): Vector[A] =
    c.segments.flatMap(f(_))

  private def only(b: Plan.Blocks, ts: Seq[String]): Plan.Blocks = b.filter { case (t, _) => ts.contains(t) }

  test("matchingDocIds == the must-set intersection minus the NOT set") {
    val cases = for (c <- corpora; must <- terms(1, 3); not <- terms(0, 2)) yield (c, must, not.filterNot(must.contains))
    samples(cases, 60, 1).foreach { case (c, must, not) =>
      val want = c.docs.indices.filter(d => must.forall(c.tf(d, _) > 0) && !not.exists(c.tf(d, _) > 0)).map(_.toLong)
      val got = perSegment(c)(b => Wand.matchingDocIds(only(b, must), only(b, not), must))
      assert(got == want, s"+$must -$not")
    }
  }

  test("scoredDocIds at every minimum-should-match == brute force, bit-equal") {
    samples(for (c <- corpora; ts <- terms(1, 4)) yield (c, ts), 40, 2).foreach { case (c, ts) =>
      val idfs = ts.map(t => t -> c.idf(t)).toMap
      (1 to ts.length).foreach { mm =>
        val want = hitsOf(c) { d =>
          val on = ts.filter(c.tf(d, _) > 0)
          if (on.isEmpty || on.length < mm) None
          else Some(on.foldLeft(0.0)((s, t) => s + idfs(t) * BM25.tfNorm(c.tf(d, t), c.dl(d), c.avgdl)))
        }
        assert(perSegment(c)(b => Wand.scoredDocIds(only(b, ts), idfs, c.avgdl, mm)) == want, s"$ts mm=$mm")
      }
    }
  }

  test("synonym merge == brute force over summed group tfs, bit-equal") {
    val cases = for (c <- corpora; ts <- terms(1, 5); g <- Gen.listOfN(ts.length, Gen.choose(0, 2))) yield (c, ts, g)
    samples(cases, 40, 3).foreach { case (c, ts, g) =>
      val groups = ts.zip(g).groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))
        .filter(_.exists(c.df.contains))
      val groupIdfs = groups.map(m => BM25.idf(m.flatMap(c.df.get).max, c.n)).toArray
      val termGroup = groups.zipWithIndex.flatMap { case (m, i) => m.map(_ -> i) }.toMap
      val want = hitsOf(c) { d =>
        val gtf = groups.map(_.map(c.tf(d, _)).sum)
        if (gtf.forall(_ == 0)) None
        else Some(gtf.indices.foldLeft(0.0) { (s, i) =>
          if (gtf(i) > 0) s + groupIdfs(i) * BM25.tfNorm(gtf(i), c.dl(d), c.avgdl) else s
        })
      }
      val got = perSegment(c)(b => Wand.scoredDocIdsSynonyms(only(b, groups.flatten), termGroup, groupIdfs, c.avgdl))
      assert(got == want, s"groups $groups")
    }
  }

  test("Dirichlet merge at every minimum-should-match == brute force, bit-equal") {
    val cases = for (c <- corpora; ts <- terms(1, 4); mu <- Gen.oneOf(10.0, 500.0, 2000.0)) yield (c, ts, mu)
    samples(cases, 40, 4).foreach { case (c, ts, mu) =>
      val total = c.docs.map(_.length.toLong).sum
      val ps = ts.flatMap(t => c.cf.get(t).map(t -> _.toDouble / total)).toMap
      (1 to ts.length).foreach { mm =>
        val want = hitsOf(c) { d =>
          val on = ts.filter(c.tf(d, _) > 0)
          if (on.isEmpty || on.length < mm) None
          else Some(on.foldLeft(0.0) { (s, t) =>
            s + math.max(0.0, math.log(1.0 + c.tf(d, t) / (mu * ps(t))) + math.log(mu / (c.dl(d) + mu)))
          })
        }
        assert(perSegment(c)(b => Wand.scoredDocIdsDirichlet(only(b, ts), ps, mu, mm)) == want, s"$ts mu=$mu mm=$mm")
      }
    }
  }

  /** A plan, the brute-force score of each document under it, and its
    * label. */
  private final class Case(val label: String, val plan: Plan, val allow: Long => Boolean,
                           val score: Int => Option[Double])

  private def cases(c: Corpus): Gen[Case] = {
    def sum(ts: Seq[String], w: String => Double, d: Int) =
      ts.foldLeft(0.0)((s, t) => if (c.tf(d, t) > 0) s + w(t) * BM25.tfNorm(c.tf(d, t), c.dl(d), c.avgdl) else s)
    val present = QueryTerms.filter(c.df.contains)
    val disj = for {
      ts <- terms(1, 4)
      boosts <- Gen.listOfN(ts.length, Gen.oneOf(0.5, 1.0, 2.0))
      mm <- Gen.choose(1, ts.length)
      filtered <- Gen.oneOf(false, true)
    } yield {
      val w = ts.zip(boosts).map { case (t, b) => t -> b * c.idf(t) }.toMap
      val allow: Long => Boolean = if (filtered) _ % 3 != 1 else null
      new Case(s"disj $w mm=$mm filtered=$filtered", Plan.Disj(w, mm), allow, d => {
        val on = ts.count(c.tf(d, _) > 0)
        if (on == 0 || on < mm || (filtered && !allow(d.toLong))) None else Some(sum(ts, w, d))
      })
    }
    val conj = for (must <- terms(1, 3); not0 <- terms(0, 2)) yield {
      val not = not0.filterNot(must.contains)
      val w = must.map(t => t -> c.idf(t)).toMap
      new Case(s"conj +$must -$not", Plan.Conj(must, not, w), null, d =>
        if (must.forall(c.tf(d, _) > 0) && !not.exists(c.tf(d, _) > 0)) Some(sum(must, w, d)) else None)
    }
    val near = for (n <- Gen.choose(2, 3); ts <- Gen.listOfN(n, Gen.oneOf(present)); slop <- Gen.choose(0, 2)) yield {
      val idfSum = ts.foldLeft(0.0)((s, t) => s + c.idf(t))
      new Case(s"near $ts~$slop", Plan.Near(ts.toIndexedSeq, idfSum, slop), null, d => {
        val toks = c.docs(d)
        val pf = toks.indices.count { p0 =>
          toks(p0) == ts.head && {
            var prev = p0
            ts.tail.forall { t => prev = toks.indexOf(t, prev + 1); prev >= 0 } && prev - p0 <= ts.length - 1 + slop
          }
        }
        if (pf > 0) Some(idfSum * BM25.tfNorm(pf, c.dl(d), c.avgdl)) else None
      })
    }
    val unordered = for (ab <- Gen.pick(2, present); slop <- Gen.choose(0, 2)) yield {
      val Seq(a, b) = ab.toSeq
      val idfSum = c.idf(a) + c.idf(b)
      new Case(s"unordered $a $b~$slop", Plan.NearUnordered(a, b, idfSum, slop), null, d => {
        val toks = c.docs(d)
        val pf = toks.indices.count(i => toks(i) == a &&
          (math.max(0, i - slop - 1) to math.min(toks.length - 1, i + slop + 1)).exists(toks(_) == b))
        if (pf > 0) Some(idfSum * BM25.tfNorm(pf, c.dl(d), c.avgdl)) else None
      })
    }
    Gen.oneOf(disj, conj, near, unordered)
  }

  test("every plan over all segments through ONE collector == brute-force top-k") {
    val runs = samples(for (c <- corpora; q <- Gen.listOfN(8, cases(c))) yield (c, q), 30, 5)
    assert(runs.exists(_._1.multiBlock), "degenerate corpora: no multi-block, multi-segment sample")
    var tiedAtK = 0
    runs.foreach { case (c, qs) =>
      qs.foreach { q =>
        val all = hitsOf(c)(q.score).sorted(BM25.hitOrdering)
        Seq(1, 3, 10, all.length + 1).foreach { k =>
          val top = new Wand.TopKMerger(k)
          c.segments.foreach(q.plan.run(_, c.avgdl, top, q.allow))
          val got = top.result.map(h => (h.doc_id, h.score))
          assert(got == all.take(k), s"${q.label} k=$k")
          if (all.length > k && all(k)._2 == all(k - 1)._2) tiedAtK += 1
        }
      }
    }
    assert(tiedAtK > 0, "degenerate queries: no score tie at a k-th place")
  }

  test("the collector keeps (score desc, docId asc) and prunes only what cannot enter") {
    val top = new Wand.TopKMerger(2)
    assert(top.beats(0.0))
    // an equal score enters only with a smaller docId (4 over 5, 7 over 9)
    Seq(5L -> 1.0, 9L -> 2.0, 4L -> 1.0, 3L -> 2.0, 7L -> 2.0, 8L -> 2.0, 1L -> 1.0)
      .foreach { case (d, s) => top.offer(d, s) }
    assert(top.beats(2.0) && !top.beats(1.9))
    assert(top.result == Vector(QueryHit(3L, 2.0), QueryHit(7L, 2.0)))
    val none = new Wand.TopKMerger(0)
    none.offer(1L, 1.0)
    assert(!none.beats(Double.MaxValue) && none.result.isEmpty)
  }
}
