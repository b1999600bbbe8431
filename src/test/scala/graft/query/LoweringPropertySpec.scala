package graft.query

import graft.SparkFunSuite
import graft.analysis.Tokenizer
import graft.index.{BuildConfig, IndexBuilder}
import graft.model.QueryHit
import graft.sources.SyntheticTranscripts
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck property over the vocabulary of a small built index:
  * every query shape, lowered once and run by both executors, gives
  * bit-identical hits on the cluster single-query method, in one
  * `searchManyMixed` batch of every query's [[QuerySpec]] and on
  * [[LocalIndex]] — and those hits equal a brute-force scorer over the
  * tokenized corpus, which shares no code with the lowering. */
class LoweringPropertySpec extends SparkFunSuite {

  private val K = 7

  private lazy val dir: String = {
    val d = tmpDir("idx-lowering-prop")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 120),
      BuildConfig(d, nSegments = 5))
    d
  }
  private lazy val rdr = new IndexReader(spark, dir, queryTasks = 2)
  private lazy val local = LocalIndex.load(spark, dir)

  // ---- the brute-force scorer ----
  private case class Doc(id: Long, toks: IndexedSeq[String], tfs: Map[String, Int])
  private lazy val docs: IndexedSeq[Doc] = {
    import graft.SparkTestBase.spark.implicits._
    SyntheticTranscripts.generate(spark, 42L, nConvs = 120).collect()
      .sortBy(t => (t.conv_id, t.turn_idx)).toIndexedSeq.zipWithIndex.map { case (t, i) =>
        val toks = Tokenizer.tokenize(t.text).toIndexedSeq
        Doc(i.toLong, toks, toks.groupBy(identity).view.mapValues(_.size).toMap)
      }
  }
  private lazy val nDocs = docs.length.toLong
  private lazy val avgdl = docs.map(_.toks.length.toLong).sum.toDouble / nDocs
  private lazy val dfs: Map[String, Long] =
    docs.flatMap(_.tfs.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
  private lazy val vocab: IndexedSeq[String] = dfs.keys.toIndexedSeq.sorted
  private def idf(t: String) = BM25.idf(dfs(t), nDocs)
  private def top(hits: Seq[(Long, Double)]) = hits.sorted(BM25.hitOrdering).take(K).toVector

  /** Weighted disjunction; a term's weights sum in clause order. */
  private def disj(weights: Seq[(String, Double)], mm: Int = 1) = {
    val w = collection.mutable.LinkedHashMap.empty[String, Double]
    weights.foreach { case (t, b) => w.update(t, w.getOrElse(t, 0.0) + b) }
    val ts = w.keys.filter(dfs.contains).toSeq.sorted
    top(docs.flatMap { d =>
      var s = 0.0; var m = 0
      ts.foreach { t =>
        val tf = d.tfs.getOrElse(t, 0)
        if (tf > 0) { m += 1; s += (w(t) * idf(t)) * BM25.tfNorm(tf, d.toks.length, avgdl) }
      }
      if (m > 0 && m >= mm) Some(d.id -> s) else None
    })
  }
  private def conj(must: Seq[String], not: Seq[String]) = {
    val m = must.distinct.sorted
    if (m.isEmpty || !m.forall(dfs.contains)) Vector.empty
    else top(docs.filter(d => m.forall(d.tfs.contains) && !not.exists(d.tfs.contains)).map { d =>
      d.id -> m.foldLeft(0.0)((s, t) => s + idf(t) * BM25.tfNorm(d.tfs(t), d.toks.length, avgdl))
    })
  }
  /** Ordered chains of width ≤ (m−1)+slop, each start counting once. */
  private def near(ts: Seq[String], slop: Int) =
    if (ts.isEmpty || !ts.forall(dfs.contains)) Vector.empty[(Long, Double)]
    else if (ts.length == 1) disj(Seq(ts.head -> 1.0))
    else {
      val idfSum = ts.foldLeft(0.0)((s, t) => s + idf(t))
      top(docs.flatMap { d =>
        val pf = d.toks.indices.count { p0 =>
          d.toks(p0) == ts.head && {
            var prev = p0
            ts.tail.forall { t =>
              val p = d.toks.indexOf(t, prev + 1)
              prev = p
              p >= 0
            } && prev - p0 <= ts.length - 1 + slop
          }
        }
        if (pf > 0) Some(d.id -> idfSum * BM25.tfNorm(pf, d.toks.length, avgdl)) else None
      })
    }
  private def nearUnordered(a: String, b: String, slop: Int) =
    if (!dfs.contains(a) || !dfs.contains(b)) Vector.empty[(Long, Double)]
    else top(docs.flatMap { d =>
      val pf = d.toks.indices.count(i => d.toks(i) == a &&
        (math.max(0, i - slop - 1) to math.min(d.toks.length - 1, i + slop + 1)).exists(d.toks(_) == b))
      if (pf > 0) Some(d.id -> (idf(a) + idf(b)) * BM25.tfNorm(pf, d.toks.length, avgdl)) else None
    })
  private def glob(p: String, s: String): Boolean =
    if (p.isEmpty) s.isEmpty
    else p.head match {
      case '*' => glob(p.tail, s) || (s.nonEmpty && glob(p, s.tail))
      case '?' => s.nonEmpty && glob(p.tail, s.tail)
      case c => s.nonEmpty && s.head == c && glob(p.tail, s.tail)
    }
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1),
        math.min(d(i - 1)(j), d(i)(j - 1)) + 1)
    d(a.length)(b.length)
  }
  private def expandGlob(p: String) = vocab.filter(glob(p, _)).map(_ -> 1.0)
  private def expandFuzzy(q: String, e: Int) = vocab.filter(lev(_, q) <= e).map(_ -> 1.0)

  // ---- the generators ----
  /** One query: its single-query call (on either executor), its batch
    * form and the brute-force answer. */
  private case class Q(label: String, call: TopKSearch => Vector[QueryHit],
                       spec: QuerySpec, want: () => Vector[(Long, Double)])

  private def term: Gen[String] = Gen.frequency(9 -> Gen.oneOf(vocab), 1 -> Gen.const("zzqx"))
  private def terms(lo: Int, hi: Int) = Gen.choose(lo, hi).flatMap(Gen.listOfN(_, term))
  /** A window of consecutive tokens from one document (so phrases hit). */
  private def window(n: Int): Gen[Seq[String]] = for {
    d <- Gen.oneOf(docs.filter(_.toks.length > n + 2))
    i <- Gen.choose(0, d.toks.length - n - 1)
  } yield d.toks.slice(i, i + n)
  private def mutate(t: String): Gen[String] = Gen.choose(0, t.length - 1).flatMap { i =>
    Gen.oneOf(t.patch(i, "", 1), t.patch(i, "q", 1), t.patch(i, "e", 0))
  }
  private def pattern(t: String): Gen[String] = Gen.choose(1, t.length - 1).flatMap { i =>
    Gen.oneOf(t.take(i) + "*", t.patch(i, "?", 1), "*" + t.drop(i), "?" + t.drop(1))
  }
  private val boost = Gen.oneOf(0.0, 0.5, 1.0, 2.5)

  private def shapes: Seq[Gen[Q]] = Seq(
    terms(1, 4).map { ts =>
      val q = ts.mkString(" ")
      Q(s"free '$q'", _.search(q, K), QuerySpec.Free(q), () => disj(ts.distinct.map(_ -> 1.0)))
    },
    for (ms <- terms(1, 2); ns <- terms(0, 1)) yield {
      val (m, n) = (ms.mkString(" "), ns.mkString(" "))
      Q(s"boolean +'$m' -'$n'", _.searchBoolean(m, n, K), QuerySpec.Boolean(m, n),
        () => conj(ms, ns.filterNot(ms.contains)))
    },
    Gen.choose(1, 3).flatMap(window).map { ts =>
      val q = ts.mkString(" ")
      Q(s"phrase '$q'", _.searchPhrase(q, K), QuerySpec.Phrase(q), () => near(ts, 0))
    },
    for (ts <- terms(2, 4); m <- Gen.choose(2, 3)) yield {
      val q = ts.mkString(" ")
      Q(s"mm '$q' $m", _.searchMinShouldMatch(q, m, K), QuerySpec.MinMatch(q, m),
        () => disj(ts.distinct.map(_ -> 1.0), m))
    },
    for (t <- Gen.oneOf(vocab); n <- Gen.choose(1, 3)) yield {
      val p = t.take(n)
      Q(s"prefix '$p'", _.searchPrefix(p, K), QuerySpec.Prefix(p),
        () => disj(vocab.filter(_.startsWith(p)).map(_ -> 1.0)))
    },
    for (t <- Gen.oneOf(vocab); f <- mutate(t); e <- Gen.choose(0, 2)) yield
      Q(s"fuzzy '$f'~$e", _.searchFuzzy(f, e, K), QuerySpec.Fuzzy(f, e), () => disj(expandFuzzy(f, e))),
    Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.zip(Gen.oneOf(vocab), boost))).map { bs0 =>
      val bs = bs0.groupBy(_._1).map(_._2.head).toSeq
      Q(s"boosted $bs", _.searchBoosted(bs, K), QuerySpec.Boosted(bs), () => disj(bs))
    },
    Gen.oneOf(vocab).filter(_.length >= 2).flatMap(pattern).map { p =>
      Q(s"wildcard '$p'", _.searchWildcard(p, K), QuerySpec.Wildcard(p), () => disj(expandGlob(p)))
    },
    for (ts <- Gen.choose(2, 3).flatMap(window); s <- Gen.choose(0, 2)) yield {
      val q = ts.mkString(" ")
      Q(s"near '$q'~$s", _.searchNear(q, s, K), QuerySpec.Phrase(q, s), () => near(ts, s))
    },
    for (ts <- window(3).filter(w => w.head != w.last); s <- Gen.choose(0, 2)) yield {
      val (a, b) = (ts.last, ts.head)
      Q(s"unordered '$a' '$b'~$s", _.searchNearUnordered(a, b, s, K),
        QuerySpec.NearUnordered(a, b, s), () => nearUnordered(a, b, s))
    },
    parsed)

  /** Query strings: a clause mix lowering to one disjunction, a
    * boolean, or a sloppy phrase; the batch runs the parser's spec. */
  private def parsed: Gen[Q] = {
    val clause: Gen[(String, () => Seq[(String, Double)])] = Gen.oneOf(vocab).flatMap { t =>
      Gen.oneOf(
        Gen.const(t -> (() => Seq(t -> 1.0))),
        boost.map(b => s"$t^$b" -> (() => Seq(t -> b))),
        Gen.const(t).filter(_.length >= 2).flatMap(pattern).map(p => p -> (() => expandGlob(p))),
        Gen.zip(mutate(t), Gen.choose(0, 2)).map { case (f, e) => s"$f~$e" -> (() => expandFuzzy(f, e)) })
    }
    val mix = Gen.choose(1, 4).flatMap(Gen.listOfN(_, clause)).map { cs =>
      (cs.map(_._1).mkString(" "), () => disj(cs.flatMap(_._2())))
    }
    val bool = for (a <- term; b <- term; c <- term) yield
      (s"+$a $b -$c", () => conj(Seq(a, b), Seq(c).filterNot(Set(a, b))))
    val phrase = for (ts <- Gen.choose(2, 3).flatMap(window); s <- Gen.choose(0, 2)) yield
      ("\"" + ts.mkString(" ") + "\"~" + s, () => near(ts, s))
    Gen.oneOf(mix, bool, phrase).map { case (q, want) =>
      Q(s"parsed '$q'", _.searchParsed(q, K), QueryParser.parse(q), want)
    }
  }

  private def hits(v: Vector[QueryHit]) = v.map(h => (h.doc_id, h.score))

  test("every shape: cluster, batch and LocalIndex hits are bit-identical to brute force") {
    val qs = shapes.zipWithIndex.flatMap { case (g, s) =>
      (0 until 5).flatMap(i => g.apply(Gen.Parameters.default, Seed(1000L * s + i)))
    }
    assert(qs.size >= 50, s"generators gave up: ${qs.size} queries")
    val batch = rdr.searchManyMixed(qs.zipWithIndex.map { case (q, i) => s"q$i" -> q.spec }, K).groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toVector).toMap
    var nonEmpty = 0
    qs.zipWithIndex.foreach { case (q, i) =>
      val want = q.want()
      if (want.nonEmpty) nonEmpty += 1
      assert(hits(q.call(rdr)) == want, s"cluster ${q.label}")
      assert(hits(q.call(local)) == want, s"LocalIndex ${q.label}")
      assert(batch.getOrElse(s"q$i", Vector.empty) == want, s"batch ${q.label}")
    }
    assert(nonEmpty >= qs.size * 2 / 3, s"only $nonEmpty of ${qs.size} queries hit")
  }
}
