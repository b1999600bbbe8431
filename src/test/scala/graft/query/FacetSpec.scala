package graft.query

import graft.SparkFunSuite
import graft.index.{BuildConfig, IndexBuilder}
import graft.sources.SyntheticTranscripts

/** Search as a relational operator: the FULL boolean match set as a
  * distributed DataFrame ([[IndexReader.matchingDocs]]) and facet
  * counting on top of it ([[IndexReader.facetCounts]]) — both against
  * brute-force oracles over the tokenized corpus. */
class FacetSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def fixture(name: String) = {
    val dir = tmpDir(name)
    val turns = SyntheticTranscripts.generate(spark, 42L, nConvs = 300)
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 6))
    val corpus = turns.collect().sortBy(t => (t.conv_id, t.turn_idx))
    (new IndexReader(spark, dir), corpus)
  }

  test("matchingDocs == brute-force boolean filter over the tokenized corpus") {
    val (rdr, corpus) = fixture("idx-facet")
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    Seq(("user la", "bash"), ("la ma", ""), ("user", "la"),
        ("user la ma", "ra")).foreach { case (mq, nq) =>
      val must = graft.analysis.Tokenizer.tokenize(mq).distinct
      val not = graft.analysis.Tokenizer.tokenize(nq).distinct
      val want = corpus.indices
        .filter(i => must.forall(tokSets(i)) && !not.exists(tokSets(i)))
        .map(_.toLong).toSet
      val got = rdr.matchingDocs(mq, nq).as[Long].collect().toSet
      assert(got == want, s"must='$mq' not='$nq'")
      assert(want.nonEmpty, s"degenerate fixture for '$mq'")
    }
    // absent must-term, empty query → empty match set (schema intact)
    assert(rdr.matchingDocs("nosuchterm user").collect().isEmpty)
    assert(rdr.matchingDocs("").collect().isEmpty)
    assert(rdr.matchingDocs("user la").columns.toSeq == Seq("doc_id"))
  }

  test("matchingDocs cardinality == exhaustive searchBoolean") {
    val (rdr, _) = fixture("idx-facet-card")
    assert(rdr.matchingDocs("user la", "bash").count() ==
      rdr.searchBoolean("user la", "bash", 1000000).size)
  }

  test("scoredDocs: full scored match set, bit-equal to brute-force; minMatch filters") {
    val (rdr, corpus) = fixture("idx-scored")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val q = "user la ma"
    val terms = graft.analysis.Tokenizer.tokenize(q).distinct.sorted
    // brute force with k = everything IS the full scored match set
    val want = BM25Oracle.bruteForceTopK(terms, docTfs, dfs, nDocs, avgdl,
      Int.MaxValue).toMap
    val got = rdr.scoredDocs(q).as[(Long, Double)].collect().toMap
    assert(got == want) // bit-equal doubles (same summation order)
    assert(got.size > 10)
    // minMatch keeps only docs matching >= m of the terms
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    val wantMm = want.filter { case (id, _) =>
      terms.count(tokSets(id.toInt)) >= 2
    }
    assert(rdr.scoredDocs(q, minMatch = 2).as[(Long, Double)]
      .collect().toMap == wantMm)
    assert(wantMm.nonEmpty && wantMm.size < want.size)
    assert(rdr.scoredDocs("nosuchterm").collect().isEmpty)
  }

  test("searchCollapse: per-group argmax over the scored match set") {
    val (rdr, corpus) = fixture("idx-collapse")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val q = "user la"
    val terms = graft.analysis.Tokenizer.tokenize(q).distinct.sorted
    val scored = BM25Oracle.bruteForceTopK(terms, docTfs, dfs, nDocs, avgdl, Int.MaxValue)
    val want = scored.groupBy { case (id, _) => corpus(id.toInt).role }
      .map { case (role, hits) =>
        val best = hits.minBy { case (id, s) => (-s, id) }
        role -> ((best._1, best._2, hits.size.toLong))
      }
    val meta = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t.role) }.toSeq.toDF("doc_id", "role")
    val got = rdr.searchCollapse(q, meta, "doc_id", "role")
      .as[(String, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want)
    assert(got.size > 1)
  }

  test("searchGroupTopK: per-group top-N over the scored match set; N=1 == collapse") {
    val (rdr, corpus) = fixture("idx-group")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val q = "user la"
    val terms = graft.analysis.Tokenizer.tokenize(q).distinct.sorted
    val scored = BM25Oracle.bruteForceTopK(terms, docTfs, dfs, nDocs, avgdl, Int.MaxValue)
    val meta = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t.role) }.toSeq.toDF("doc_id", "role")
    val want = scored.groupBy { case (id, _) => corpus(id.toInt).role }
      .flatMap { case (role, hits) =>
        hits.sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
          .map { case ((id, s), i) => (role, (i + 1).toLong, id, s) }
      }.toSet
    val got = rdr.searchGroupTopK(q, meta, "doc_id", "role", perGroup = 3)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(got.size > 3) // multiple groups actually contribute
    // perGroup = 1 selects exactly the collapse winners
    val collapsed = rdr.searchCollapse(q, meta, "doc_id", "role")
      .as[(String, Long, Double, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    val top1 = rdr.searchGroupTopK(q, meta, "doc_id", "role", perGroup = 1)
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._3)).toSet
    assert(top1 == collapsed)
  }

  test("searchPrefix: dictionary expansion == brute-force over expanded terms") {
    val (rdr, corpus) = fixture("idx-prefix")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    Seq("la", "ka", "b").foreach { p =>
      val expanded = dfs.keys.filter(_.startsWith(p)).toSeq.sorted
      assert(expanded.size > 1, s"degenerate prefix '$p'")
      val want = BM25Oracle.bruteForceTopK(expanded, docTfs, dfs, nDocs, avgdl, 10)
      val got = rdr.searchPrefix(p, 10).map(h => (h.doc_id, h.score))
      assert(got == want, s"prefix '$p'")
      // trailing * and uppercase are accepted
      assert(rdr.searchPrefix(p.toUpperCase + "*", 10)
        .map(h => (h.doc_id, h.score)) == want)
    }
    // single-expansion prefix degenerates to the plain term query
    assert(rdr.searchPrefix("use", 10).map(h => (h.doc_id, h.score)) ==
      rdr.search("user", 10).map(h => (h.doc_id, h.score)))
    assert(rdr.searchPrefix("zzzzqqq", 10).isEmpty)
    intercept[IllegalArgumentException] { rdr.searchPrefix("la", 10, maxExpansions = 1) }
    intercept[IllegalArgumentException] { rdr.searchPrefix("*", 10) }
  }

  test("searchAfter: cursor pages tile the full ordering — no overlap, no gap") {
    val (rdr, corpus) = fixture("idx-after")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val q = "user la"
    val terms = graft.analysis.Tokenizer.tokenize(q).distinct.sorted
    val all = BM25Oracle.bruteForceTopK(terms, docTfs, dfs, nDocs, avgdl, Int.MaxValue)
    assert(all.size > 20)
    // exact scores (identity scoreKey): page walk reproduces the full
    // ordering as consecutive slices
    var cursor: Option[(Double, Long)] = None
    val walked = Iterator.continually {
      val page = rdr.searchAfter(q, 7, cursor)
      cursor = page.lastOption.map(h => (h.score, h.doc_id))
      page
    }.takeWhile(_.nonEmpty).flatten.map(h => (h.doc_id, h.score)).toVector
    assert(walked == all.toVector)
    // first page == plain top-k
    assert(rdr.searchAfter(q, 7).map(h => (h.doc_id, h.score)) ==
      rdr.search(q, 7).map(h => (h.doc_id, h.score)))
    // rounded scoreKey: page 2 == rounded-ordering ranks k+1..2k
    val r4 = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.functions.round(c, 4)
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rounded = all.map { case (id, s) => (id, round4(s)) }
      .sortBy { case (id, s) => (-s, id) }
    val p1 = rdr.searchAfter(q, 7, None, scoreKey = r4)
    val p2 = rdr.searchAfter(q, 7,
      Some((p1.last.score, p1.last.doc_id)), scoreKey = r4)
    assert(p2.map(h => (h.doc_id, h.score)) == rounded.slice(7, 14).toVector)
    // cursor past the end → empty page
    assert(rdr.searchAfter(q, 7, Some((-1.0, Long.MaxValue))).isEmpty)
  }

  test("snippets/highlight: width-token window on first hit, matches wrapped") {
    val (rdr, corpus) = fixture("idx-hl")
    val q = "user la"
    val terms = graft.analysis.Tokenizer.tokenize(q).distinct.toSet
    val hits = rdr.search(q, 8)
    val ids = hits.map(_.doc_id)
    val width = 6
    val want = ids.map { id =>
      val toks = graft.analysis.Tokenizer.tokenize(corpus(id.toInt).text)
      val fp = toks.indexWhere(terms) // 0-based, -1 if absent
      val m = if (fp < 0) 1 else fp + 1 // 1-based, sentinel -> 1
      val start0 = math.max(1, m - width / 2) - 1
      val sn = toks.slice(start0, start0 + width)
        .map(t => if (terms(t)) s"<em>$t</em>" else t).mkString(" ")
      id -> sn
    }.toMap
    val got = rdr.snippets(q, ids, width).as[(Long, String)].collect().toMap
    assert(got == want)
    assert(want.values.exists(_.contains("<em>")), "degenerate fixture")
    // highlight = hits joined with their snippets
    val hl = rdr.highlight(q, 8, width).as[(Long, Double, String)].collect()
      .map(r => (r._1, (r._2, r._3))).toMap
    assert(hl == hits.map(h => h.doc_id -> ((h.score, want(h.doc_id)))).toMap)
    intercept[IllegalArgumentException] { rdr.snippets(q, ids, 0) }
  }

  test("terms: prefix-filtered dictionary enumeration, (df desc, term) order") {
    val (rdr, corpus) = fixture("idx-terms")
    val dfs = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
      .flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def want(prefix: String, limit: Int) = dfs.filter(_._1.startsWith(prefix)).toSeq
      .sorted(Ordering.Tuple2(Ordering.Long.reverse, utf8Order).on[(String, Long)](r => (r._2, r._1))).take(limit)
    def got(prefix: String, limit: Int) = rdr.terms(prefix, limit).as[(String, Long)].collect().toSeq
    assert(want("la", 5).size > 1, "degenerate prefix")
    assert(got("la", 5) == want("la", 5))
    // no prefix = global top terms
    assert(got("", 8) == want("", 8))
    // a limit of 1 and one beyond the matches; the prefix is lowercased
    val prefixes = Seq("la", "u", "s", "ma", "t")
    for (p <- prefixes; limit <- Seq(1, dfs.size + 1)) assert(got(p, limit) == want(p, limit), s"terms('$p', $limit)")
    assert(prefixes.exists(p => want(p, dfs.size + 1).size > 5), "degenerate prefixes")
    assert(got("", dfs.size + 1) == want("", dfs.size + 1))
    assert(got("LA", 3) == want("la", 3))
    // an absent prefix enumerates nothing
    assert(got("zzqx", 5).isEmpty && got("\uD835\uDC1E", 5).isEmpty)
    intercept[IllegalArgumentException] { rdr.terms("la", 0) }
  }

  test("collate: best suggestion per term + corrected-query hit count") {
    val (rdr, corpus) = fixture("idx-collate")
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    val dfs = tokSets.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val vocab = dfs.keys.toSeq.sorted
    def best(t: String, me: Int): String =
      vocab.filter(v => refLev(v, t) <= me)
        .sorted(suggestOrder(dfs, t)).headOption.getOrElse(t)
    def check(q: String, me: Int): Long = {
      val corrected = graft.analysis.Tokenizer.tokenize(q).map(best(_, me))
      val wantColl = corrected.mkString(" ")
      val wantHits = corpus.indices
        .count(i => corrected.distinct.forall(tokSets(i))).toLong
      val Array((gotColl, gotHits)) =
        rdr.collate(q, me).as[(String, Long)].collect()
      assert(gotColl == wantColl, s"collation for '$q'~$me")
      assert(gotHits == wantHits, s"hits for '$q'~$me")
      wantHits
    }
    for (q <- Seq("usr la", "user la", "laq mb user"))
      assert(check(q, 2) > 0, s"degenerate fixture for '$q'")
    // fixed-seed edits of vocabulary terms, two or three to a query,
    // at every maxEdits
    val edited = edits(vocab, new scala.util.Random(11))
    for (q <- edited.grouped(2).map(_.mkString(" ")) ++ edited.grouped(3).map(_.mkString(" ")); me <- 0 to 2)
      check(q, me)
    // an in-dictionary query self-corrects to itself
    val Array((same, _)) = rdr.collate("user la", 2).as[(String, Long)].collect()
    assert(same == "user la")
    // uncorrectable terms stay as typed and count zero hits
    val Array((uc, ucHits)) =
      rdr.collate("user zzzzqqqzz", 2).as[(String, Long)].collect()
    assert(uc == "user zzzzqqqzz" && ucHits == 0L)
  }

  test("collate's suggestion phase runs no Spark job for an n-term query") {
    val (rdr, _) = fixture("idx-collate-jobs")
    rdr.collate("user la", 2).collect() // warm the lazy dictionary listing
    val group = s"collate-batch-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "collate suggestion batching")
    try rdr.bestSuggestions(Seq("usr", "laq", "mb", "user", "la"), 2)
    finally spark.sparkContext.clearJobGroup()
    // the status store is fed from the listener bus: drain it so every
    // job the call started is counted
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(jobs == 0,
      s"the suggestion phase reads the dictionary in-process and must run no job, ran $jobs")
  }

  test("facetQueries: named subquery counts == brute-force boolean counts") {
    val (rdr, corpus) = fixture("idx-facetq")
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    val subs = Seq(("a", "user la", "bash"), ("b", "la ma", ""), ("c", "user", "la"))
    val want = subs.map { case (name, mq, nq) =>
      val must = graft.analysis.Tokenizer.tokenize(mq).distinct
      val not = graft.analysis.Tokenizer.tokenize(nq).distinct
      name -> corpus.indices
        .count(i => must.forall(tokSets(i)) && !not.exists(tokSets(i))).toLong
    }.toMap
    assert(want.values.forall(_ > 0), "degenerate fixture")
    val got = rdr.facetQueries(subs).as[(String, Long)].collect().toMap
    assert(got == want)
    intercept[IllegalArgumentException] { rdr.facetQueries(Seq.empty) }
    intercept[IllegalArgumentException] {
      rdr.facetQueries(Seq(("x", "la", ""), ("x", "ma", "")))
    }
  }

  test("searchBoostBy: per-doc function boost == brute force over the scored set") {
    val (rdr, corpus) = fixture("idx-boostby")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val q = "user la"
    val terms = graft.analysis.Tokenizer.tokenize(q).distinct.sorted
    val scored = BM25Oracle.bruteForceTopK(terms, docTfs, dfs, nDocs, avgdl, Int.MaxValue)
    val meta = corpus.indices
      .map(i => (i.toLong, (i % 7 + 1).toDouble)).toDF("doc_id", "w")
    val want = scored.map { case (id, s) => (id, s * (id % 7 + 1).toDouble) }
      .sortBy { case (id, s) => (-s, id) }.take(10).toVector
    val got = rdr.searchBoostBy(q, meta, "doc_id", org.apache.spark.sql.functions.col("w"), 10)
      .as[(Long, Double)].collect().toVector
    assert(got == want) // bit-equal: same double multiply
    // the boost actually reorders relative to the plain ranking
    assert(got.map(_._1) != scored.sortBy { case (id, s) => (-s, id) }
      .take(10).map(_._1).toVector)
    intercept[IllegalArgumentException] {
      rdr.searchBoostBy(q, meta, "doc_id", org.apache.spark.sql.functions.col("w"), 0)
    }
  }

  test("rerank: top-n cut rescored by a second query == brute force") {
    val (rdr, corpus) = fixture("idx-rerank")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    def full(q: String): Map[Long, Double] = {
      val ts = graft.analysis.Tokenizer.tokenize(q).distinct.sorted
      BM25Oracle.bruteForceTopK(ts, docTfs, dfs, nDocs, avgdl, Int.MaxValue).toMap
    }
    val (q1, q2, n, w, k) = ("user la", "ma", 25, 3.0, 10)
    val s1 = full(q1); val s2 = full(q2)
    val cut = s1.toSeq.sortBy { case (id, s) => (-s, id) }.take(n)
    val want = cut.map { case (id, s) => (id, s + w * s2.getOrElse(id, 0.0)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).toVector
    val got = rdr.rerank(q1, q2, n, w, k).as[(Long, Double)].collect().toVector
    assert(got == want)
    // the rescore actually moved something inside the cut
    assert(got.map(_._1) != cut.take(k).map(_._1).toVector)
    assert(want.exists { case (id, s) => s != s1(id) }, "degenerate: no q2 overlap")
    intercept[IllegalArgumentException] { rdr.rerank(q1, q2, 0, w, k) }
  }

  test("elevate: pinned docs first in list order, unmatched elevated at score 0") {
    val (rdr, corpus) = fixture("idx-elevate")
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    // a (term, doc) pair where the doc does NOT match the one-term query
    val vocab = tokSets.flatten.distinct.sorted
    val (qt, nmIdx) = (for {
      t <- vocab.iterator; i <- corpus.indices.iterator if !tokSets(i)(t)
    } yield (t, i)).next()
    val nonMatch = nmIdx.toLong
    val scored = rdr.scoredDocs(qt).as[(Long, Double)].collect().toMap
    assert(!scored.contains(nonMatch) && scored.size > 10)
    val pinned = scored.keys.min // any matched doc, pinned ahead of rank 1
    val out = rdr.elevate(qt, Seq(pinned, nonMatch), k = 10)
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(out(0) == ((pinned, scored(pinned), true)))
    assert(out(1) == ((nonMatch, 0.0, true)))
    val organicRest = scored.removed(pinned).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(8)
      .map { case (id, s) => (id, s, false) }
    assert(out.drop(2) == organicRest)
  }

  test("keywords: per-doc top-k terms by tf·ln(N/df), rounded before the cut") {
    val (rdr, corpus) = fixture("idx-keywords")
    val n = corpus.length.toDouble
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      i.toLong -> graft.analysis.Tokenizer.termFreqs(t.text)
    }.toMap
    val dfs = docTfs.values.flatMap(_.keys).groupBy(identity).view
      .mapValues(_.size).toMap
    val ids = Seq(0L, 1L, 2L)
    val want = ids.flatMap { id =>
      docTfs(id).toSeq.map { case (t, tf) =>
        val r = BigDecimal(tf * math.log(n / dfs(t)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (t, r)
      }.sortBy { case (t, s) => (-s, t) }.take(4).zipWithIndex
        .map { case ((t, s), i) => (id, (i + 1).toLong, t, s) }
    }.toSet
    val got = rdr.keywords(ids, 4)
      .as[(Long, Long, String, Double)].collect().toSet
    assert(got == want)
    assert(want.size == ids.size * 4)
  }

  test("round-5 serving edges: 1-member synonym == plain term; empty roots; all-zero elevation") {
    val (rdr, _) = fixture("idx-r5edge")
    // a synonym group of one IS the plain term (tf sum = tf, max df = df)
    assert(rdr.scoredDocsSynonyms(Seq(Seq("user"))).as[(Long, Double)].collect().toMap ==
      rdr.scoredDocs("user").as[(Long, Double)].collect().toMap)
    // graph with no matching roots: empty at any depth, schema intact
    val m = spark.range(0, 50).toDF("doc_id")
      .withColumn("f", $"doc_id" % 5).withColumn("t", ($"doc_id" + 1) % 5)
    val g = rdr.graphTraverse("nosuchterm", "", m, "doc_id", "f", "t", 3)
    assert(g.collect().isEmpty && g.columns.toSeq == Seq("doc_id", "depth"))
    // elevation of a query with no matches: the pinned docs, in order,
    // all at score 0
    val e = rdr.elevate("nosuchterm", Seq(9L, 3L), k = 10)
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(e == Seq((9L, 0.0, true), (3L, 0.0, true)))
    // dirichlet on an unknown term: empty, no totalTokens crash
    assert(rdr.scoredDocsDirichlet("nosuchterm").collect().isEmpty)
    // keywords with k beyond the doc vocabulary: every term, ranked
    val kw = rdr.keywords(Seq(0L), 1000000)
    assert(kw.count() ==
      rdr.termVectors(Seq(0L)).count())
  }

  test("searchParentsBlockJoin: child scores roll up by max/avg/total") {
    val (rdr, corpus) = fixture("idx-bj")
    val m = corpus.indices.map(i => (i.toLong, i.toLong / 7))
      .toDF("doc_id", "parent_id")
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = rdr.scoredDocs("user la").as[(Long, Double)].collect()
      .map { case (id, s) => (id, r4(s)) }
    val byParent = scored.groupBy(_._1 / 7)
    Seq("max", "avg", "total").foreach { mode =>
      val want = byParent.map { case (p, xs) =>
        val ss = xs.map(_._2)
        val v = mode match {
          case "max"   => ss.max
          case "avg"   => ss.sum / ss.length
          case "total" => ss.sum
        }
        (p, r4(v), xs.length.toLong)
      }.toSeq.sortBy { case (p, v, _) => (-v, p) }.take(5)
      val got = rdr.searchParentsBlockJoin("user la", m, "doc_id", "parent_id",
          mode, 5, scoreKey = c => org.apache.spark.sql.functions.round(c, 4))
        .as[(Long, Double, Long)].collect().toSeq
      assert(got == want, s"mode $mode")
    }
    intercept[IllegalArgumentException] {
      rdr.searchParentsBlockJoin("user la", m, "doc_id", "parent_id", "bogus")
    }
  }

  test("graphTraverse: BFS first-reach depth == recursive min-depth brute force") {
    val (rdr, corpus) = fixture("idx-graph")
    // derived follow relation: d2 follows d1 when d2.t == d1.f
    val meta = corpus.indices.map(i => (i.toLong, i % 17L, (i * 5 + 2) % 17L))
    val m = meta.toDF("doc_id", "f", "t")
    val roots = rdr.matchingDocs("user la", "ma").as[Long].collect().toSet
    assert(roots.nonEmpty)
    // brute-force BFS over the same relation
    val byT = meta.groupBy(_._3)
    val fOf = meta.map(r => r._1 -> r._2).toMap
    var want = roots.map(_ -> 0L).toMap
    var frontier = roots
    (1 to 2).foreach { d =>
      val next = frontier.flatMap(id => byT.getOrElse(fOf(id), Nil).map(_._1))
        .diff(want.keySet)
      want ++= next.map(_ -> d.toLong)
      frontier = next
    }
    val got = rdr.graphTraverse("user la", "ma", m, "doc_id", "f", "t", 2)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(want.values.toSet == Set(0L, 1L, 2L), "fixture should have all depths")
    // maxDepth 0 = roots only
    assert(rdr.graphTraverse("user la", "ma", m, "doc_id", "f", "t", 0)
      .as[(Long, Long)].collect().toMap == roots.map(_ -> 0L).toMap)
  }

  test("scoredDocsSynonyms: group tf-sum + max-df idf == brute force; differs from plain OR") {
    val (rdr, corpus) = fixture("idx-syn")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val groups = Seq(Seq("la", "user"), Seq("ma")) // sorted within group
    val gdfs = groups.map(g => g.map(t => dfs.getOrElse(t, 0L)).max)
    val want = docTfs.flatMap { case (id, dl, tfs) =>
      val gtfs = groups.map(g => g.map(t => tfs.getOrElse(t, 0)).sum)
      if (gtfs.forall(_ == 0)) None
      else {
        var s = 0.0
        groups.indices.foreach { i =>
          if (gtfs(i) > 0)
            s += BM25.idf(gdfs(i), nDocs) * BM25.tfNorm(gtfs(i), dl, avgdl)
        }
        Some(id -> s)
      }
    }.toMap
    val got = rdr.scoredDocsSynonyms(groups).as[(Long, Double)].collect().toMap
    assert(got == want) // bit-equal doubles (same summation order)
    assert(got.size > 10)
    // the group saturates member tfs together — a plain OR does not
    val or = rdr.scoredDocs("la user ma").as[(Long, Double)].collect().toMap
    assert(got != or)
    intercept[IllegalArgumentException] {
      rdr.scoredDocsSynonyms(Seq(Seq("la"), Seq("la")))
    }
    assert(rdr.scoredDocsSynonyms(Seq(Seq("nosuchterm"))).collect().isEmpty)
  }

  test("scoredDocsDirichlet: LM similarity == brute force; clamp and p(t|C) exact") {
    val (rdr, corpus) = fixture("idx-lm")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val total = docTfs.map(_._2.toLong).sum
    val cfs = docTfs.flatMap(_._3.toSeq).groupBy(_._1).view
      .mapValues(_.map(_._2.toLong).sum).toMap
    val q = "user la ma"; val mu = 700.0
    val terms = graft.analysis.Tokenizer.tokenize(q).distinct.sorted
    val want = docTfs.flatMap { case (id, dl, tfs) =>
      val matched = terms.filter(tfs.contains)
      if (matched.isEmpty) None
      else {
        var s = 0.0
        matched.foreach { t => // ascending term order = cursor order
          val p = cfs(t).toDouble / total
          s += math.max(0.0,
            math.log(1.0 + tfs(t) / (mu * p)) + math.log(mu / (dl + mu)))
        }
        Some(id -> s)
      }
    }.toMap
    val got = rdr.scoredDocsDirichlet(q, mu).as[(Long, Double)].collect().toMap
    assert(got == want) // bit-equal doubles (same summation order)
    assert(got.size > 10)
    assert(rdr.totalTokens == total) // Σ cf over the dictionary is exact
    assert(rdr.scoredDocsDirichlet("nosuchterm", mu).collect().isEmpty)
  }

  test("termVectors: per-doc (term, tf, df) == brute force over the corpus") {
    val (rdr, corpus) = fixture("idx-tv")
    val ids = Seq(0L, 5L, 17L)
    val allTfs = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text))
    val dfs = allTfs.flatMap(_.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val want = ids.flatMap { id =>
      allTfs(id.toInt).map { case (t, tf) => (id, t, tf.toLong, dfs(t)) }
    }.toSet
    val got = rdr.termVectors(ids).as[(Long, String, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.size > 10)
    intercept[IllegalArgumentException] { rdr.termVectors(Seq.empty) }
  }

  test("searchJoin: docs sharing a join key with any boolean match") {
    val (rdr, corpus) = fixture("idx-join")
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    val meta = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t.role) }.toSeq.toDF("doc_id", "role")
    val matchedRoles = corpus.indices
      .filter(i => Seq("user", "la").forall(tokSets(i)) && !tokSets(i)("bash"))
      .map(i => corpus(i).role).toSet
    assert(matchedRoles.nonEmpty && matchedRoles.size < corpus.map(_.role).distinct.size,
      "degenerate fixture: join must be selective")
    val want = corpus.indices.filter(i => matchedRoles(corpus(i).role))
      .map(_.toLong).toSet
    val got = rdr.searchJoin("user la", "bash", meta, "doc_id", "role")
      .as[Long].collect().toSet
    assert(got == want)
  }

  /** Spec-local reference glob matcher — direct recursive descent, an
    * independent implementation from Shape.globToRegex + regex. */
  private def refGlob(pat: String, s: String): Boolean =
    if (pat.isEmpty) s.isEmpty
    else pat.head match {
      case '*' => refGlob(pat.tail, s) || (s.nonEmpty && refGlob(pat, s.tail))
      case '?' => s.nonEmpty && refGlob(pat.tail, s.tail)
      case c => s.nonEmpty && s.head == c && refGlob(pat.tail, s.tail)
    }

  test("searchWildcard: glob expansion == brute-force over expanded terms") {
    val (rdr, corpus) = fixture("idx-wildcard")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val vocab = dfs.keys.toSeq.sorted
    // mid-pattern '?', leading '*' (no prefix pushdown), trailing '*'
    Seq("?a", "*sh", "u*", "b?s*") .foreach { pat =>
      val expanded = vocab.filter(refGlob(pat, _))
      assert(expanded.nonEmpty, s"degenerate glob '$pat'")
      val want = BM25Oracle.bruteForceTopK(expanded, docTfs, dfs, nDocs, avgdl, 10)
      val got = rdr.searchWildcard(pat, 10).map(h => (h.doc_id, h.score))
      assert(got == want, s"glob '$pat'")
      // uppercase input is lowercased, same result
      assert(rdr.searchWildcard(pat.toUpperCase, 10)
        .map(h => (h.doc_id, h.score)) == want)
    }
    // wildcard-free pattern degenerates to the plain term query
    assert(rdr.searchWildcard("user", 10).map(h => (h.doc_id, h.score)) ==
      rdr.search("user", 10).map(h => (h.doc_id, h.score)))
    assert(rdr.searchWildcard("zz?qq*", 10).isEmpty)
    intercept[IllegalArgumentException] { rdr.searchWildcard("?a", 10, maxExpansions = 1) }
    intercept[IllegalArgumentException] { rdr.searchWildcard("*", 10) }
    intercept[IllegalArgumentException] { rdr.searchWildcard("?*", 10) }
  }

  /** Spec-local reference edit distance — full unbanded Wagner–Fischer
    * matrix over code points (as DuckDB counts), an independent
    * implementation from Shape.editDistance's two-row early-bail form. */
  private def refLev(s: String, t: String): Int = {
    val (a, b) = (s.codePoints().toArray, t.codePoints().toArray)
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) d(i)(0) = i
    for (j <- 0 to b.length) d(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1),
        math.min(d(i - 1)(j), d(i)(j - 1)) + 1)
    d(a.length)(b.length)
  }

  test("searchFuzzy: levenshtein expansion == brute-force over expanded terms") {
    val (rdr, corpus) = fixture("idx-fuzzy")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val vocab = dfs.keys.toSeq.sorted
    Seq(("laq", 1), ("user", 2), ("bask", 1)).foreach { case (q, me) =>
      val expanded = vocab.filter(refLev(_, q) <= me)
      assert(expanded.nonEmpty, s"degenerate fuzzy '$q'~$me")
      val want = BM25Oracle.bruteForceTopK(expanded, docTfs, dfs, nDocs, avgdl, 10)
      val got = rdr.searchFuzzy(q, me, 10).map(h => (h.doc_id, h.score))
      assert(got == want, s"fuzzy '$q'~$me (expansion $expanded)")
    }
    // maxEdits = 0 degenerates to the plain term query
    assert(rdr.searchFuzzy("user", 0, 10).map(h => (h.doc_id, h.score)) ==
      rdr.search("user", 10).map(h => (h.doc_id, h.score)))
    // nothing within distance → empty; cap and bad maxEdits throw
    assert(rdr.searchFuzzy("zzqqxxyy", 2, 10).isEmpty)
    intercept[IllegalArgumentException] { rdr.searchFuzzy("user", 2, 10, maxExpansions = 1) }
    intercept[IllegalArgumentException] { rdr.searchFuzzy("user", 3, 10) }
  }

  test("Shape.editDistance agrees with the reference matrix over the vocabulary") {
    val (_, corpus) = fixture("idx-lev-parity")
    val vocab = corpus.flatMap(t =>
      graft.analysis.Tokenizer.termFreqs(t.text).keys).distinct.sorted
    assert(vocab.size > 10)
    val probes = vocab ++ Seq("laq", "zzz", "", "userx", "ka")
    for (a <- probes; b <- vocab) {
      for (m <- 0 to 2)
        assert((Shape.editDistance(a, b, m) <= m) == (refLev(a, b) <= m),
          s"editDistance('$a','$b',$m)")
      assert(Shape.editDistance(a, b) == refLev(a, b), s"editDistance('$a','$b')")
    }
  }

  test("moreLikeThis: tf·idf term selection + disjunctive search, seed excluded") {
    val (rdr, corpus) = fixture("idx-mlt")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val seedTf = graft.analysis.Tokenizer.termFreqs(corpus(0).text)
    def select(minTf: Int, cap: Int) = seedTf.toSeq
      .filter(_._2 >= minTf)
      .map { case (t, f) =>
        val sc = f * BM25.idf(dfs(t), nDocs)
        (t, BigDecimal(sc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (t, sc) => (-sc, t) }.take(cap).map(_._1).sorted
    val sel = select(1, 4)
    assert(sel.size == 4 && seedTf.size > 4) // the cap binds
    val want = BM25Oracle.bruteForceTopK(sel, docTfs, dfs, nDocs, avgdl, Int.MaxValue)
      .filter(_._1 != 0L).take(10)
    val got = rdr.moreLikeThis(0L, 10, maxQueryTerms = 4)
      .map(h => (h.doc_id, h.score))
    assert(got == want)
    assert(got.nonEmpty && !got.exists(_._1 == 0L))
    // minTermFreq floor changes the selected set
    val sel2 = select(2, 4)
    assert(sel2 != sel && sel2.nonEmpty)
    val want2 = BM25Oracle.bruteForceTopK(sel2, docTfs, dfs, nDocs, avgdl, Int.MaxValue)
      .filter(_._1 != 0L).take(10)
    assert(rdr.moreLikeThis(0L, 10, maxQueryTerms = 4, minTermFreq = 2)
      .map(h => (h.doc_id, h.score)) == want2)
    // unknown seed and unsatisfiable floors → empty
    assert(rdr.moreLikeThis(999999L, 10).isEmpty)
    assert(rdr.moreLikeThis(0L, 10, minDocFreq = corpus.length + 1).isEmpty)
  }

  test("facetStats == stats over the brute-force match set") {
    val (rdr, corpus) = fixture("idx-facet-stats")
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    val meta = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t.role, t.text.length.toLong) }
      .toSeq.toDF("doc_id", "role", "len")
    val must = Seq("la")
    val matched = corpus.indices
      .filter(i => must.forall(tokSets(i)) && !tokSets(i)("bash"))
    val want = matched.groupBy(i => corpus(i).role).map { case (role, is) =>
      val lens = is.map(i => corpus(i).text.length.toLong)
      role -> ((is.size.toLong, lens.min, lens.max, lens.sum))
    }
    val got = rdr.facetStats("la", "bash", meta, "doc_id", "role", "len")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == want)
    assert(got.size > 1)
  }

  test("facetPivot / facetRange / searchSortBy over the brute-force match set") {
    val (rdr, corpus) = fixture("idx-facet-more")
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    val lens = corpus.map(_.text.length.toLong)
    val meta = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t.role, lens(i), lens(i) % 2) }
      .toSeq.toDF("doc_id", "role", "len", "par")
    val matched = corpus.indices.filter(i => tokSets(i)("la") && !tokSets(i)("bash"))
    assert(matched.size > 10)
    // pivot: counts per (role, parity-of-length) combination
    val wantPivot = matched.groupBy(i => (corpus(i).role, lens(i) % 2)).view
      .mapValues(_.size.toLong).toMap
    val gotPivot = rdr.facetPivot("la", "bash", meta, "doc_id", Seq("role", "par"))
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(gotPivot == wantPivot && gotPivot.size > 2)
    // range: width-25 bins of len, mincount=1
    val wantRange = matched.groupBy(i => 25L * (lens(i) / 25L)).view
      .mapValues(_.size.toLong).toMap
    val gotRange = rdr.facetRange("la", "bash", meta, "doc_id", "len", 0L, 25L)
      .as[(Long, Long)].collect().toMap
    assert(gotRange == wantRange && gotRange.size > 1)
    // sort-by-field: longest matches first, doc_id tie-break, ORDERED
    val wantSort = matched.map(i => (i.toLong, lens(i)))
      .sortBy { case (id, l) => (-l, id) }.take(7)
    val gotSort = rdr.searchSortBy("la", "bash", meta, "doc_id", "len",
      asc = false, 7).as[(Long, Long)].collect().toSeq
    assert(gotSort == wantSort)
    // ascending variant
    assert(rdr.searchSortBy("la", "bash", meta, "doc_id", "len", asc = true, 7)
      .as[(Long, Long)].collect().toSeq ==
      matched.map(i => (i.toLong, lens(i))).sortBy { case (id, l) => (l, id) }.take(7))
  }

  test("searchBoosted: per-term idf scaling; boost=1 reproduces search bit-exactly") {
    val (rdr, corpus) = fixture("idx-boost")
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val nDocs = corpus.length.toLong
    val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
    val dfs = docTfs.flatMap(_._3.keys).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val boosts = Seq("user" -> 3.0, "la" -> 1.0, "ma" -> 0.25)
    // brute force with the engine's exact association: (b·idf)·tfNorm,
    // summed in ascending term order
    val bm = boosts.toMap
    val terms = bm.keys.toSeq.sorted
    val want = docTfs.flatMap { case (id, dl, tfs) =>
      var s = 0.0; var m = false
      terms.foreach { t =>
        val tf = tfs.getOrElse(t, 0)
        if (tf > 0) {
          m = true
          s += (bm(t) * BM25.idf(dfs(t), nDocs)) * BM25.tfNorm(tf, dl, avgdl)
        }
      }
      if (m) Some((id, s)) else None
    }.sortBy { case (id, s) => (-s, id) }.take(10).toVector
    val got = rdr.searchBoosted(boosts, 10).map(h => (h.doc_id, h.score))
    assert(got == want)
    assert(got.nonEmpty)
    // all-1.0 boosts == plain search, bit-equal
    assert(rdr.searchBoosted(Seq("user" -> 1.0, "la" -> 1.0), 10)
      .map(h => (h.doc_id, h.score)) ==
      rdr.search("user la", 10).map(h => (h.doc_id, h.score)))
    // boosts actually reorder vs the unboosted ranking on this corpus
    assert(got.map(_._1) != rdr.search("user la ma", 10).map(_.doc_id))
    // zero boost keeps the term matching at zero contribution
    val gotZero = rdr.searchBoosted(Seq("user" -> 0.0, "la" -> 1.0), 10)
      .map(h => (h.doc_id, h.score))
    assert(gotZero == rdr.searchBoosted(Seq("la" -> 1.0, "user" -> 0.0), 10)
      .map(h => (h.doc_id, h.score)))
    intercept[IllegalArgumentException] { rdr.searchBoosted(Seq("user" -> -1.0)) }
    intercept[IllegalArgumentException] {
      rdr.searchBoosted(Seq("user" -> 1.0, "user" -> 2.0))
    }
  }

  test("suggest: nearest dictionary terms, (distance, df desc, term) order") {
    val (rdr, corpus) = fixture("idx-suggest")
    val dfs = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
      .flatMap(_.toSeq).groupBy(identity).view.mapValues(_.size.toLong).toMap
    def want(q: String, me: Int, n: Int) = dfs.keys.toSeq.filter(refLev(_, q) <= me)
      .sorted(suggestOrder(dfs, q)).take(n).map(t => (t, refLev(t, q).toLong, dfs(t)))
    def got(q: String, me: Int, n: Int) = rdr.suggest(q, me, n).as[(String, Long, Long)].collect().toSeq
    Seq(("laq", 1), ("laq", 2), ("user", 2)).foreach { case (q, me) =>
      assert(want(q, me, 5).nonEmpty, s"degenerate suggest '$q'~$me")
      assert(got(q, me, 5) == want(q, me, 5), s"suggest('$q', $me)")
    }
    // fixed-seed edits of vocabulary terms at every maxEdits, with n of
    // 1, 5 and beyond the candidates
    val edited = edits(dfs.keys.toSeq.sorted, new scala.util.Random(7))
    for (q <- edited; me <- 0 to 2; n <- Seq(1, 5, dfs.size + 1))
      assert(got(q, me, n) == want(q, me, n), s"suggest('$q', $me, $n)")
    assert(edited.forall(q => want(q, 1, 1).nonEmpty), "degenerate edits")
    assert(edited.exists(q => want(q, 2, dfs.size + 1).size > 5), "degenerate edits")
    assert(rdr.suggest("zzqqxxyy", 2, 5).collect().isEmpty)
    intercept[IllegalArgumentException] { rdr.suggest("user", 3) }
    intercept[IllegalArgumentException] { rdr.suggest("", 1) }
    intercept[IllegalArgumentException] { rdr.suggest("user", 1, -1) }
  }

  /** Spark's string order: UTF-8 bytes, unsigned. */
  private val utf8Order: Ordering[String] = Ordering.fromLessThan((a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0)

  /** The suggest order of candidate terms for `q`: distance asc, df
    * desc, term asc by UTF-8 bytes. */
  private def suggestOrder(dfs: Map[String, Long], q: String): Ordering[String] =
    Ordering.Tuple3(Ordering.Int, Ordering.Long.reverse, utf8Order).on(t => (refLev(t, q), dfs(t), t))

  /** One edit each — insert, substitute, delete in turn — of 12
    * vocabulary terms of 3+ BMP letters drawn by `rnd`, the first two
    * writing a non-ASCII and a supplementary-plane code point. */
  private def edits(vocab: Seq[String], rnd: scala.util.Random): Seq[String] = {
    val long = vocab.filter(v => v.length >= 3 && v.forall(_.isLetter))
    (0 until 12).map { i =>
      val v = long(rnd.nextInt(long.size))
      val at = rnd.nextInt(v.length)
      val c = i match {
        case 0 => "\u00e9"
        case 1 => "\uD835\uDC1E"
        case _ => ('a' + rnd.nextInt(26)).toChar.toString
      }
      i % 3 match {
        case 0 => v.take(at) + c + v.drop(at)
        case 1 => v.take(at) + c + v.drop(at + 1)
        case _ => v.take(at) + v.drop(at + 1)
      }
    }
  }

  test("facetCounts == groupBy over the brute-force match set") {
    val (rdr, corpus) = fixture("idx-facet-counts")
    val tokSets = corpus.map(t => graft.analysis.Tokenizer.termFreqs(t.text).keySet)
    val meta = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t.role) }.toSeq.toDF("doc_id", "role")
    val must = Seq("la", "user")
    val want = corpus.indices
      .filter(i => must.forall(tokSets(i)) && !tokSets(i)("bash"))
      .groupBy(i => corpus(i).role).view.mapValues(_.size.toLong).toMap
    val got = rdr.facetCounts("user la", "bash", meta, "doc_id", "role")
      .as[(String, Long)].collect().toMap
    assert(got == want)
    assert(got.values.sum > 0)
  }
}
