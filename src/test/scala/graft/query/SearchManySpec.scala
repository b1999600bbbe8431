package graft.query

import graft.SparkFunSuite
import graft.index.{BuildConfig, IndexBuilder}
import graft.sources.SyntheticTranscripts

/** Batched retrieval must be result-identical to per-query search. */
class SearchManySpec extends SparkFunSuite {

  test("searchMany == per-query search, bit-identical, across query shapes") {
    val dir = tmpDir("idx-many")
    val turns = SyntheticTranscripts.generate(spark, 42L, nConvs = 400)
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 6))
    val rdr = new IndexReader(spark, dir)
    val queries = Seq(
      "q0" -> "assistant tool error",
      "q1" -> "user",
      "q2" -> "la ma na",
      "q3" -> "nosuchtermanywhere",
      "q4" -> "user assistant system tool",
      "q5" -> "ra ra ra la")
    val batched = rdr.searchMany(queries, 10)
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4))).toMap
    queries.foreach { case (qid, q) =>
      val single = rdr.search(q, 10).map(h => (h.doc_id, h.score))
      assert(batched.getOrElse(qid, Seq.empty) == single, s"query $qid '$q'")
    }
  }

  test("searchManyMixed: free + boolean + phrase in ONE job == individual calls") {
    val dir = tmpDir("idx-mixed")
    val turns = SyntheticTranscripts.generate(spark, 42L, nConvs = 400)
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 6))
    val rdr = new IndexReader(spark, dir)
    val specs: Seq[(String, QuerySpec)] = Seq(
      "f0" -> QuerySpec.Free("assistant tool error"),
      "f1" -> QuerySpec.Free("la ma na"),
      "b0" -> QuerySpec.Boolean("user la", "bash"),
      "b1" -> QuerySpec.Boolean("la ma", ""),
      "p0" -> QuerySpec.Phrase("user bash"),
      "p1" -> QuerySpec.Phrase("assistant search"),
      "p2" -> QuerySpec.Phrase("user"), // 1-term phrase = term query
      "x0" -> QuerySpec.Free("nosuchtermanywhere"),
      "x1" -> QuerySpec.Boolean("user nosuchtermanywhere", ""),
      "m0" -> QuerySpec.MinMatch("user la ma", 2),
      "m1" -> QuerySpec.MinMatch("la ma na ra", 3),
      "w0" -> QuerySpec.Prefix("la"),
      "w1" -> QuerySpec.Prefix("KA*"), // case + trailing-* forms
      "x2" -> QuerySpec.MinMatch("user nosuchtermanywhere", 2),
      "x3" -> QuerySpec.Prefix("zzzzqqq"),
      "z0" -> QuerySpec.Fuzzy("laq", 1),
      "z1" -> QuerySpec.Fuzzy("USER", 2), // case form
      "x4" -> QuerySpec.Fuzzy("zzqqxxyy", 2))
    val got = rdr.searchManyMixed(specs, 10)
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4))).toMap
    def hits(v: Vector[graft.model.QueryHit]) = v.map(h => (h.doc_id, h.score))
    assert(got.getOrElse("f0", Nil) == hits(rdr.search("assistant tool error", 10)))
    assert(got.getOrElse("f1", Nil) == hits(rdr.search("la ma na", 10)))
    assert(got.getOrElse("b0", Nil) == hits(rdr.searchBoolean("user la", "bash", 10)))
    assert(got.getOrElse("b1", Nil) == hits(rdr.searchBoolean("la ma", "", 10)))
    assert(got.getOrElse("p0", Nil) == hits(rdr.searchPhrase("user bash", 10)))
    assert(got.getOrElse("p1", Nil) == hits(rdr.searchPhrase("assistant search", 10)))
    assert(got.getOrElse("p2", Nil) == hits(rdr.searchPhrase("user", 10)))
    assert(got.getOrElse("x0", Nil).isEmpty && got.getOrElse("x1", Nil).isEmpty)
    assert(got.getOrElse("m0", Nil) == hits(rdr.searchMinShouldMatch("user la ma", 2, 10)))
    assert(got.getOrElse("m1", Nil) == hits(rdr.searchMinShouldMatch("la ma na ra", 3, 10)))
    assert(got.getOrElse("w0", Nil) == hits(rdr.searchPrefix("la", 10)))
    assert(got.getOrElse("w1", Nil) == hits(rdr.searchPrefix("ka", 10)))
    assert(got.getOrElse("z0", Nil) == hits(rdr.searchFuzzy("laq", 1, 10)))
    assert(got.getOrElse("z1", Nil) == hits(rdr.searchFuzzy("user", 2, 10)))
    // absent term → mm unreachable; unmatched prefix/fuzzy → no expansion
    assert(got.getOrElse("x2", Nil).isEmpty && got.getOrElse("x3", Nil).isEmpty &&
      got.getOrElse("x4", Nil).isEmpty)
    assert(got("b0").nonEmpty && got("b1").nonEmpty && got("p0").nonEmpty &&
      got("m0").nonEmpty && got("m1").nonEmpty && got("w0").nonEmpty &&
      got("w1").nonEmpty && got("z0").nonEmpty &&
      got("z1").nonEmpty) // non-trivial shapes actually hit
  }

  test("a positions-free index serves a batch whose only phrases are 1-term (no false needPos)") {
    val dir = tmpDir("idx-mixed-nopos")
    val turns = SyntheticTranscripts.generate(spark, 42L, nConvs = 120)
    IndexBuilder.build(spark, turns,
      BuildConfig(dir, nSegments = 4, storePositions = false))
    val rdr = new IndexReader(spark, dir)
    // a 1-term phrase compiles to a plain term query and never reads
    // positions — the batch must be accepted...
    val got = rdr.searchManyMixed(Seq(
      "p" -> QuerySpec.Phrase("user"),
      "f" -> QuerySpec.Free("assistant tool")), 10)
    assert(got.exists(_._1 == "p") && got.exists(_._1 == "f"))
    assert(got.filter(_._1 == "p").sortBy(_._2).map(r => (r._3, r._4)) ==
      rdr.search("user", 10).map(h => (h.doc_id, h.score)))
    // ...while a REAL multi-token phrase still fails fast
    val err = intercept[IllegalArgumentException] {
      rdr.searchManyMixed(Seq("p2" -> QuerySpec.Phrase("user bash")), 10)
    }
    assert(err.getMessage.contains("storePositions"))
  }

  test("searchManyMixed rejects the arguments the single-query methods reject") {
    val dir = tmpDir("idx-mixed-args")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 60),
      BuildConfig(dir, nSegments = 2))
    val rdr = new IndexReader(spark, dir)
    Seq(QuerySpec.Fuzzy("user", 3), QuerySpec.Fuzzy("user", -1), QuerySpec.Prefix(""),
      QuerySpec.Prefix("*")).foreach { bad =>
      intercept[IllegalArgumentException] {
        rdr.searchManyMixed(Seq("ok" -> QuerySpec.Free("user"), "bad" -> bad), 10)
      }
    }
  }
}

/** Filtered retrieval: exact top-k under a metadata predicate. */
class SearchWhereSpec extends graft.SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  test("searchWhere == brute-force oracle restricted to allowed docs") {
    val dir = tmpDir("idx-where")
    val turns = graft.sources.SyntheticTranscripts.generate(spark, 42L, nConvs = 300)
    graft.index.IndexBuilder.build(spark, turns,
      graft.index.BuildConfig(dir, nSegments = 5))
    val rdr = new IndexReader(spark, dir)

    val corpus = turns.collect().sortBy(t => (t.conv_id, t.turn_idx))
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val dfs = collection.mutable.HashMap.empty[String, Long]
    docTfs.foreach(_._3.keys.foreach(t => dfs.update(t, dfs.getOrElse(t, 0L) + 1)))
    val avgdl = docTfs.map(_._2).sum.toDouble / corpus.length

    // filter on a staging column (role) AND on doc parity
    Seq(
      (org.apache.spark.sql.functions.col("role") === "assistant",
        (i: Long) => corpus(i.toInt).role == "assistant"),
      (org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(2)) === 0,
        (i: Long) => i % 2 == 0)
    ).foreach { case (pred, oraclePred) =>
      Seq("assistant tool error", "la ma na", "user").foreach { q =>
        val got = rdr.searchWhere(q, pred, 10).map(h => (h.doc_id, h.score))
        // oracle: score all docs, keep allowed, same global df/avgdl
        val terms = graft.analysis.Tokenizer.tokenize(q).distinct.sorted
        val want = graft.query.BM25Oracle.bruteForceTopK(terms,
          docTfs.filter(d => oraclePred(d._1)), dfs, corpus.length, avgdl, 10)
        assert(got == want, s"query '$q'")
      }
    }

    // permissive predicate (every doc allowed): the sorted-long-array
    // allowed sets hold the WHOLE corpus (the representation-floor
    // worst case, 8 B/doc) and must equal the unfiltered search
    Seq("assistant tool error", "la ma na").foreach { q =>
      val got = rdr.searchWhere(q,
        org.apache.spark.sql.functions.lit(true), 10).map(h => (h.doc_id, h.score))
      val want = rdr.search(q, 10).map(h => (h.doc_id, h.score))
      assert(got == want, s"permissive query '$q'")
    }
  }

  test("searchWhere permissive predicate at a forced high segment count (64 segments, 1 task)") {
    // many segments per task → many per-segment allowed arrays alive in
    // one task at once — the memory shape a permissive predicate
    // stresses; results must stay bit-identical to unfiltered search
    val dir = tmpDir("idx-where-hiseg")
    val turns = graft.sources.SyntheticTranscripts.generate(spark, 42L, nConvs = 300)
    graft.index.IndexBuilder.build(spark, turns,
      graft.index.BuildConfig(dir, nSegments = 64, waveSize = 64))
    val rdr = new IndexReader(spark, dir, queryTasks = 1)
    Seq("assistant tool error", "la ma na", "user").foreach { q =>
      val got = rdr.searchWhere(q,
        org.apache.spark.sql.functions.lit(true), 10).map(h => (h.doc_id, h.score))
      val want = rdr.search(q, 10).map(h => (h.doc_id, h.score))
      assert(got == want, s"permissive hi-seg query '$q'")
    }
  }
}

/** Serving mode: in-process WAND must be bit-identical to the
  * distributed reader. */
class LocalIndexSpec extends graft.SparkFunSuite {
  test("LocalIndex.search == IndexReader.search, bit-identical") {
    val dir = tmpDir("idx-local")
    val turns = graft.sources.SyntheticTranscripts.generate(spark, 42L, nConvs = 400)
    graft.index.IndexBuilder.build(spark, turns,
      graft.index.BuildConfig(dir, nSegments = 6))
    val dist = new IndexReader(spark, dir)
    val local = LocalIndex.load(spark, dir)
    assert(local.nDocs == dist.stats.n_docs)
    Seq("assistant tool error", "user", "la ma na", "nosuchterm",
      "user assistant system tool", "ra ra ra la", "sa ta va wa").foreach { q =>
      assert(local.search(q, 10).map(h => (h.doc_id, h.score)) ==
        dist.search(q, 10).map(h => (h.doc_id, h.score)), s"query '$q'")
    }
    // partial cache: terms of one query suffice for that query
    val partial = LocalIndex.loadTerms(spark, dir, Seq("la", "ma", "na"))
    assert(partial.search("la ma na", 10).map(h => (h.doc_id, h.score)) ==
      dist.search("la ma na", 10).map(h => (h.doc_id, h.score)))
    // filtered serving: docID-predicate form equals the cluster path's
    // Column-predicate form
    import org.apache.spark.sql.functions.{col, pmod, lit}
    Seq("assistant tool error", "la ma na").foreach { q =>
      assert(local.searchWhere(q, id => id % 3 == 0, 10).map(h => (h.doc_id, h.score)) ==
        dist.searchWhere(q, pmod(col("doc_id"), lit(3)) === 0, 10).map(h => (h.doc_id, h.score)),
        s"filtered query '$q'")
    }
  }

  test("LocalIndex.searchDirichlet == sorted IndexReader.scoredDocsDirichlet, bit-identical") {
    val dir = tmpDir("idx-local-lm")
    val turns = graft.sources.SyntheticTranscripts.generate(spark, 42L, nConvs = 400)
    graft.index.IndexBuilder.build(spark, turns,
      graft.index.BuildConfig(dir, nSegments = 6))
    val dist = new IndexReader(spark, dir)
    val local = LocalIndex.load(spark, dir)
    import graft.SparkTestBase.spark.implicits._
    Seq("assistant tool error", "user", "la ma na").foreach { q =>
      val want = dist.scoredDocsDirichlet(q, mu = 800.0)
        .as[(Long, Double)].collect().toVector
        .sorted(BM25.hitOrdering).take(10)
      val got = local.searchDirichlet(q, mu = 800.0, k = 10)
        .map(h => (h.doc_id, h.score))
      assert(got == want, s"query '$q'")
      assert(want.nonEmpty)
    }
    assert(local.searchDirichlet("nosuchterm").isEmpty)
    // a partial cache refuses the LM scorer (needs the full dictionary)
    val partial = LocalIndex.loadTerms(spark, dir, Seq("la", "ma"))
    intercept[IllegalArgumentException] { partial.searchDirichlet("la ma") }
  }

  test("serving latency: in-process queries are sub-5ms after load") {
    val dir = tmpDir("idx-local-lat")
    val turns = graft.sources.SyntheticTranscripts.generate(spark, 42L, nConvs = 400)
    graft.index.IndexBuilder.build(spark, turns,
      graft.index.BuildConfig(dir, nSegments = 6))
    val local = LocalIndex.load(spark, dir)
    val qs = Seq("assistant tool", "la ma", "user system", "na ra sa")
    qs.foreach(q => local.search(q, 10)) // warm
    val t0 = System.nanoTime()
    val n = 200
    var i = 0
    while (i < n) { local.search(qs(i % qs.length), 10); i += 1 }
    val perQueryMs = (System.nanoTime() - t0) / 1e6 / n
    info(f"in-process latency: $perQueryMs%.3f ms/query")
    assert(perQueryMs < 50.0) // generous bound for CI noise; typical ~1ms
  }
}
