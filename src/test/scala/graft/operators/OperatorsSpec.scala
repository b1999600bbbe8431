package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Unit specs for the operator library (SURVEY.md §2.1-§2.3 + the
 * training-data family) — one spec per operator, mirroring the
 * reference's per-processor test classes under
 * `/root/reference/code/ingest/src/test/java/org/jesterj/ingest/processors/`
 * (CopyFieldTest, RegexValueReplaceTest, SetStaticValueTest, ...).
 */
class OperatorsSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private lazy val docs: DataFrame = Seq(
    (0L, "the quick brown fox", "en", "src0"),
    (1L, "the quick brown fox", "en", "src1"), // exact dup of 0
    (2L, "the quick brown foxes jumped", "en", "src0"),
    (3L, "el perro y el gato en la casa", "es", "src2"),
    (4L, "  padded   value  ", "fr", "src2"),
    (5L, "", "de", "src3")
  ).toDF("doc_id", "text", "lang", "source")

  // ---- Transforms (§2.3) ----

  test("copyField / dropField / trim / static / template") {
    var df = Transforms.copyField(docs, "lang", "lang2")
    df = Transforms.trimValues(df, "text")
    df = Transforms.setStaticValue(df, "ver", "v1")
    df = Transforms.template(df, "tag", col("source"), lit(":"), col("lang2"))
    val r = df.filter($"doc_id" === 4).select("text", "lang2", "ver", "tag").head()
    assert(r.getString(0) == "padded   value")
    assert(r.getString(1) == "fr" && r.getString(2) == "v1" && r.getString(3) == "src2:fr")
    assert(!Transforms.dropField(df, "lang2").columns.contains("lang2"))
  }

  test("fieldTemplate: ${field} substitution with literals, casts, edge shapes") {
    val out = Transforms.fieldTemplate(docs, "tpl", "id=${doc_id} [${lang}] src:${source}!")
      .select("doc_id", "tpl").as[(Long, String)].collect().toMap
    assert(out(0L) == "id=0 [en] src:src0!")
    assert(out(3L) == "id=3 [es] src:src2!")
    // template with no refs, ref-only template, adjacent refs
    assert(Transforms.fieldTemplate(docs.limit(1), "t", "plain")
      .select("t").as[String].head() == "plain")
    assert(Transforms.fieldTemplate(docs.limit(1), "t", "${lang}${source}")
      .select("t").as[String].head() == "ensrc0")
  }

  test("wrap: around-advice composition with lazy in/out metrics (WrappingProcessor analog)") {
    val (out, metrics) = Transforms.wrap(docs, "drop-empty") { d =>
      d.filter(length(col("text")) > 0)
    }
    assert(out.count() == 5) // one empty-text row dropped
    val m = metrics.collect().head
    assert(m.getString(0) == "drop-empty" && m.getLong(1) == 6L && m.getLong(2) == 5L)
  }

  test("childDocs: composite parent⇛ordinal ids, parent fields carried") {
    val kids = ScanOps.childDocs(docs.filter(col("doc_id") === 2L), "doc_id",
        split(col("text"), " "))
      .select("child_id", "child", "lang").as[(String, String, String)].collect()
    assert(kids.length == 5)
    assert(kids.head == ("2⇛0", "the", "en"))
    assert(kids.last == ("2⇛4", "jumped", "en"))
    assert(kids.forall(_._3 == "en")) // parent fields on every child
  }

  test("xmlExtract: element paths, attributes, malformed → null not task failure") {
    import org.apache.spark.sql.types._
    val xml = Seq(
      (1L, """<rec id="7"><a><b>hello</b></a><n>42</n></rec>"""),
      (2L, """<rec id="8"><a><b>world</b></a></rec>"""), // missing <n>
      (3L, """<rec id="9"><a><b>broken""")               // malformed
    ).toDF("row_id", "xml")
    val schema = StructType(Seq(
      StructField("_id", LongType),
      StructField("a", StructType(Seq(StructField("b", StringType)))),
      StructField("n", LongType)))
    val out = ScanOps.xmlExtract(xml, "xml", schema,
        Map("_id" -> "rid", "a.b" -> "ab", "n" -> "n"))
      .select("row_id", "rid", "ab", "n")
      .as[(Long, Option[Long], Option[String], Option[Long])].collect().toSeq
    assert(out.contains((1L, Some(7L), Some("hello"), Some(42L))))
    assert(out.contains((2L, Some(8L), Some("world"), None)))
    val bad = out.find(_._1 == 3L).get
    assert(bad._3.isEmpty && bad._4.isEmpty) // malformed parses to nulls
  }

  test("setStaticValue skipIfPresent keeps existing non-empty values") {
    val df = Seq((1, "x"), (2, ""), (3, null)).toDF("id", "v")
    val out = Transforms.setStaticValue(df, "v", "filled", skipIfPresent = true)
      .orderBy("id").select("v").as[String].collect()
    assert(out.toSeq == Seq("x", "filled", "filled"))
  }

  test("splitField explode emits one row per part, trimmed semantics") {
    val df = Seq((1, "a, b, c")).toDF("id", "v")
    val rows = Transforms.splitField(df, "v", ",", "part", explodeRows = true)
      .select(trim($"part")).as[String].collect().toSeq
    assert(rows == Seq("a", "b", "c"))
  }

  test("regexReplace discardUnmatched drops non-matching rows (reference discardingUnmatched)") {
    val out = Transforms.regexReplace(docs, "text", "fox", "wolf",
      discardUnmatched = true)
    assert(out.count() == 3)
    assert(out.filter($"doc_id" === 0).select("text").head().getString(0)
      == "the quick brown wolf")
  }

  test("readableFileSize binary units, floored") {
    val df = Seq((1, 512L), (2, 2048L), (3, 5L * 1048576L + 1), (4, 3L * 1073741824L))
      .toDF("id", "bytes")
    val out = Transforms.readableFileSize(df, "bytes").orderBy("id")
      .select("readable_size").as[String].collect().toSeq
    assert(out == Seq("512 bytes", "2 KB", "5 MB", "3 GB"))
  }

  test("logAndDrop returns kept rows + dropped count metric") {
    val (kept, metric) = Transforms.logAndDrop(docs, length($"text") === 0)
    assert(kept.count() == 5)
    assert(metric.head().getLong(0) == 1L)
  }

  // ---- ScanOps (§2.1) ----

  test("fetchUrl: stub kernel plumbing — status/body/error columns, host partitioning, throttle, failOnError") {
    val urls = (0L until 40L).map(i => (i, s"http://h${i % 3}.example/$i"))
      .toDF("id", "url")
    val got = Transforms.fetchUrl(urls, "url")
      .select($"id", $"http_status", $"body".cast("string").as("b"), $"fetch_error")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        Option(r.getString(2)), Option(r.getString(3)))).sortBy(_._1)
    got.foreach { case (id, status, body, err) =>
      if (id % 17 == 0) {
        assert(status == 404 && body.isEmpty && err.contains("HTTP server responded 404"))
      } else {
        assert(status == 200 && body.contains(s"BODY:http://h${id % 3}.example/$id") && err.isEmpty)
      }
    }
    // one host → one partition (the per-host throttle is globally
    // correct, unlike the reference's per-JVM visited-site cache)
    val partsPerHost = Transforms.fetchUrl(urls, "url")
      .select(expr("parse_url(url, 'HOST')").as("h"), spark_partition_id().as("p"))
      .distinct().groupBy("h").count().as[(String, Long)].collect()
    assert(partsPerHost.nonEmpty && partsPerHost.forall(_._2 == 1L), partsPerHost.toSeq)
    // throttle: 4 same-host fetches spaced >= throttleMs (stamps land
    // in a JVM-static holder — a closure-captured buffer would be a
    // serialized copy on the task side)
    val sameHost = (0 until 4).map(i => (i.toLong, s"http://only.example/p$i")).toDF("id", "url")
    FetchStamps.times.clear()
    Transforms.fetchUrl(sameHost.coalesce(1), "url",
      fetcher = FetchStamps.stampingFetch, throttleMs = 60L).count()
    val gaps = FetchStamps.toSeqTimes.sorted.sliding(2).map(w => w(1) - w(0)).toSeq
    assert(gaps.size == 3 && gaps.forall(_ >= 55L), gaps)
    // failOnError rethrows (the reference's failOnIOError)
    val boom = intercept[org.apache.spark.SparkException] {
      Transforms.fetchUrl(Seq((0L, "http://x.example/0")).toDF("id", "url"),
        "url", failOnError = true).count()
    }
    assert(boom.getMessage.contains("fetch failed") ||
      Option(boom.getCause).exists(_.getMessage.contains("fetch failed")))
  }

  test("excludeSeen = scanner dedup memory (left_anti)") {
    val seen = Seq(0L, 2L).toDF("doc_id")
    val out = ScanOps.excludeSeen(docs, seen, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 4L, 5L))
  }

  test("changedDocs reindexes new + hash-changed docs only") {
    val prior = docs.filter($"doc_id" < 4)
      .select($"doc_id", when($"doc_id" === 2, md5(lit("stale")))
        .otherwise(md5($"text")).as("prior_hash"))
    val out = ScanOps.changedDocs(docs, prior, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 4L, 5L)) // 2 = hash diff; 4,5 = no prior
  }

  test("docPerLine emits line_no + reference-style #L<n> ids") {
    val df = Seq(("f1", "l1\nl2\nl3")).toDF("id", "text")
    val out = ScanOps.docPerLine(df, "id", "text")
      .select("line_id", "line").as[(String, String)].collect().toSeq
    assert(out == Seq(("f1#L0", "l1"), ("f1#L1", "l2"), ("f1#L2", "l3")))
  }

  test("scanFiles: binaryFile source with reference file-attr fields") {
    val dir = tmpDir("scanfiles")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.txt"), "hello".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.bin"), Array[Byte](1, 2, 3))
    val out = ScanOps.scanFiles(spark, dir)
    assert(out.count() == 2)
    val a = out.filter($"id".endsWith("a.txt")).head()
    assert(new String(a.getAs[Array[Byte]]("raw_data")) == "hello")
    assert(a.getAs[String]("file_size") == "5")
    assert(a.getAs[String]("modified").toLong > 0L)
  }

  test("preAnalyze emits {t,s,e,i} token structs (PreAnalyzed JSON analog)") {
    val out = ScanOps.preAnalyze(Seq((1, "Hello, World")).toDF("id", "text"), "text")
      .select(explode($"pre_analyzed").as("tok"))
      .select("tok.t", "tok.s", "tok.e", "tok.i")
      .as[(String, Int, Int, Int)].collect().toSeq
    assert(out == Seq(("hello", 0, 5, 1), ("world", 7, 12, 1)))
  }

  // ---- Routing (§2.2) ----

  test("routeByField branches + merge reunion preserves all routed rows") {
    val branches = Routing.routeByField(docs, "lang", branchValues = Seq("en", "es"))
    assert(branches("en").count() == 3 && branches("es").count() == 1)
    val merged = Routing.merge(branches.values.toSeq)
    assert(merged.count() == 4) // fr/de dropped like the reference's no-match
  }

  test("duplicateToAll fans out to every branch and leaves nothing persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val branches = Routing.duplicateToAll(docs, 3)
    assert(branches.size == 3)
    assert(branches.map(_.count()) == Seq.fill(3)(docs.count()))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("branchCounts = router accounting") {
    val counts = Routing.branchCounts(docs, "lang")
      .as[(String, Long)].collect().toMap
    assert(counts == Map("en" -> 3L, "es" -> 1L, "fr" -> 1L, "de" -> 1L))
  }

  // ---- Dedup family ----

  test("exactDedup keeps lowest id per content hash") {
    val groups = Dedup.exactDedup(docs, "doc_id", "text")
    assert(groups.count() == 5) // 6 docs, one exact dup pair
    val dupRow = groups.filter($"n_copies" === 2).head()
    assert(dupRow.getAs[Long]("keep_id") == 0L)
    val survivors = Dedup.exactDedupRows(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(0L, 2L, 3L, 4L, 5L))
  }

  test("chunkDedup: first-occurrence election, within-doc repeats, reassembly") {
    val df = Seq(
      (0L, "aa bb cc dd aa bb"), // idx2 repeats idx0 within the doc
      (1L, "cc dd ee ff"),       // "cc dd" loses to doc 0 idx 1
      (2L, "aa bb"),             // everything dropped
      (3L, "gg"),                // ragged single-token chunk kept
      (4L, "")                   // no tokens: 0 units, empty text
    ).toDF("doc_id", "text")
    val want = Seq(
      (0L, 3L, 1L, "aa bb cc dd"),
      (1L, 2L, 1L, "ee ff"),
      (2L, 1L, 1L, ""),
      (3L, 1L, 0L, "gg"),
      (4L, 0L, 0L, ""))
    val out = Dedup.chunkDedup(df, "doc_id", "text", chunkTokens = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == want)
    // deterministic at any parallelism (election is a min-aggregate)
    val out7 = Dedup.chunkDedup(df.repartition(7), "doc_id", "text", chunkTokens = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out7 == want)
  }

  test("nearDupComponents: multi-hop chains merge to min id; disjoint groups stay apart") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 6L), // chain {1,2,3,6}, diameter 3
      (5L, 4L),                                   // pair {4,5}
      (7L, 8L), (8L, 9L), (9L, 7L)                // triangle {7,8,9}
    ).toDF("id_a", "id_b")
    val got = Dedup.nearDupComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 6L -> 1L,
      4L -> 4L, 5L -> 4L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
    // non-convergence within the bound is an error, not a wrong answer
    intercept[IllegalArgumentException] {
      Dedup.nearDupComponents(Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b"),
        maxIter = 1)
    }
  }

  test("minHash: exact dups get identical signatures and est_jaccard 1.0") {
    val sigs = Dedup.minHashSignaturesPoly(docs, "doc_id", "text")
    val s0 = sigs.filter($"doc_id" === 0).head().toSeq.tail
    val s1 = sigs.filter($"doc_id" === 1).head().toSeq.tail
    assert(s0 == s1)
    val pairs = Dedup.minHashCandidates(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    val p01 = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(p01.exists(_._3 == 1.0))
  }

  test("simHash: identical docs identical fingerprints; hamming 0 pair found") {
    val fps = Dedup.simHash(docs.filter($"doc_id" < 3), "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps(0L) == fps(1L))
    val nd = Dedup.simHashNearDups(docs.filter($"doc_id" < 3), "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    assert(nd.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
  }

  test("near-dup join buckets are capped: a forced hot bucket emits a bounded pair set") {
    // 100 identical docs → identical fingerprints → every chunk bucket
    // holds all 100 members. Capped at 8 the join emits C(8,2) = 28
    // pairs over the 8 LOWEST ids — not C(100,2) = 4950 — so the
    // O(m²) in-bucket blowup (and the collect_list aggregator) is
    // bounded on a boilerplate-heavy corpus.
    val hot = (0L until 100L).map(i => (i, "identical boilerplate text"))
      .toDF("id", "text")
    val fp = Dedup.simHashPoly(hot, "id", "text", bits = 32)
      .withColumnRenamed("doc_id", "id")
    val sp = Dedup.simHashNearDupsFrom(fp, bits = 32, nChunks = 4,
      maxHammingDistance = 3, maxBucketSize = 8)
      .as[(Long, Long, Long)].collect()
    assert(sp.length == 28, s"expected 28 capped pairs, got ${sp.length}")
    assert(sp.forall(p => p._1 < 8 && p._2 < 8)) // lowest ids kept

    // same bound on the SRP embedding join: identical vectors share a
    // bucket; cap 8 → 28 pairs of the lowest ids, all cosine 1
    val vecs = (0L until 50L).map(i => (i, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val epDf = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.5, planes = 4, maxBucketSize = 8)
    val ep = epDf.as[(Long, Long, Double)].collect()
    assert(ep.length == 28, s"expected 28 capped pairs, got ${ep.length}")
    assert(ep.forall(p => p._1 < 8 && p._2 < 8 && math.abs(p._3 - 1.0) < 1e-12))

    // the cap itself must be the map-side keep-lowest-k aggregate, not
    // a row_number window (a hot bucket would carry every member — the
    // full vectors here — into ONE window-sort task)
    for (df <- Seq(epDf, Dedup.simHashNearDupsFrom(fp, bits = 32, nChunks = 4,
        maxHammingDistance = 3, maxBucketSize = 8))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), "capped path must not plan a window")
      assert(plan.contains("collect_top_k"), plan.take(2000))
    }
  }

  test("ShinglesExpr: parity with the declarative chain (several k; null/empty/short/unicode edges)") {
    val edge = Seq((9001L, null: String), (9002L, ""), (9003L, "!!! ?? --"),
      (9004L, "one"), (9005L, "one two"), (9006L, "Tab\tsep and CAPS 123 caps"),
      (9007L, "répété tokens über straße 42"), (9008L, "a a a a a b a a"))
      .toDF("doc_id", "text")
    val all = docs.select($"doc_id", $"text").unionByName(edge)
    for (k <- Seq(1, 2, 3, 5)) {
      def rows(c: org.apache.spark.sql.Column) =
        all.select($"doc_id", c.as("s")).orderBy("doc_id").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[String](1)))
      val got = rows(Dedup.shingles($"text", k))
      val want = rows(DeclOracles.shinglesDecl($"text", k))
      assert(got.sameElements(want), s"k=$k")
    }
  }

  test("TokensExpr: parity with the declarative tokenize chain (edges incl. null/unicode)") {
    val edge = Seq((9001L, null: String), (9002L, ""), (9003L, "!!! ?? --"),
      (9004L, "one"), (9005L, "a a b 42 A"), (9006L, "Tab\tsep and CAPS 123 caps"),
      (9007L, "répété tokens über straße 42"))
      .toDF("doc_id", "text")
    val all = docs.select($"doc_id", $"text").unionByName(edge)
    def rows(c: org.apache.spark.sql.Column) =
      all.select($"doc_id", c.as("s")).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[String](1)))
    assert(rows(Dedup.tokens($"text")).sameElements(rows(DeclOracles.tokensDecl($"text"))))
  }

  test("ChunksExpr: parity with the declarative windowing chain (several widths; edges)") {
    val edge = Seq((9001L, null: String), (9002L, ""), (9003L, "!!! ?? --"),
      (9004L, "one"), (9005L, "one two three"), (9006L, "Tab\tsep and CAPS 123 caps"),
      (9007L, "répété tokens über straße 42"))
      .toDF("doc_id", "text")
    val all = docs.select($"doc_id", $"text").unionByName(edge)
    for (w <- Seq(1, 2, 3, 8)) {
      def rows(c: org.apache.spark.sql.Column) =
        all.select($"doc_id", c.as("s")).orderBy("doc_id").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[String](1)))
      val got = rows(coalesce(graft.functions.ChunksExpr(lower($"text"), w),
        array().cast("array<string>")))
      val want = rows(DeclOracles.chunksDecl($"text", w))
      assert(got.sameElements(want), s"w=$w")
    }
  }

  test("BandHashExpr: parity with the declarative slice/join/hash chain (both hash modes)") {
    for (crossEngine <- Seq(true, false)) {
      val sigs = docs.select($"doc_id",
        graft.functions.MinHashSigExpr(Dedup.tokens($"text"), 3, 64, crossEngine).as("sig"))
        .filter($"sig".isNotNull)
      def rows(c: org.apache.spark.sql.Column) =
        sigs.select($"doc_id", c.as("bh")).orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1)))
      val got = rows(graft.functions.BandHashExpr($"sig", 16, 4, crossEngine))
      val want = rows(DeclOracles.bandHashDecl($"sig", 16, 4, crossEngine))
      assert(got.sameElements(want), s"crossEngine=$crossEngine")
    }
  }

  test("SimHashExpr: bit-parity with the declarative per-bit fold (16 and 64 bits; null text → 0)") {
    val withNull = docs.select($"doc_id", $"text")
      .unionByName(Seq((9999L, null: String)).toDF("doc_id", "text"))
    for (bits <- Seq(16, 64)) {
      val poly = bits == 16
      val th = transform(array_distinct(Dedup.tokens($"text")),
        t => if (poly) graft.operators.Hashing.polyHash(t) else xxhash64(t))
      val native = withNull.select($"doc_id", Dedup.simHashBits(th, bits).as("h"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val decl = withNull.select($"doc_id", DeclOracles.simHashDecl(th, bits).as("h"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(native == decl, s"bits=$bits")
      // the FULLY fused text-level form (tokenize → dedupe → hash →
      // vote in one scan) equals both
      val fused = withNull.select($"doc_id",
          Dedup.simHashText($"text", bits, poly).as("h"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(fused == decl, s"fused bits=$bits")
      assert(native.find(_._1 == 9999L).get._2 == 0L) // null text degrades to 0
      assert(native.map(_._2).distinct.size > 2)       // genuinely spreads
    }
  }

  test("ngramJaccard: dup pair = 1.0, overlapping pair in (0,1)") {
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", pairs)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val dup = j.getOrElse((0L, 1L), j.getOrElse((1L, 0L), -1.0))
    assert(dup == 1.0)
    val overlap = j.getOrElse((2L, 0L), j.getOrElse((0L, 2L), -1.0))
    assert(overlap > 0.0 && overlap < 1.0)
  }

  // ---- TextAnalysis ----

  test("tokenEntropy: H = ln n - sum(tf ln tf)/n; uniform doc at 0; empty doc absent") {
    val df = Seq((0L, "aa aa bb"), (1L, "cc cc cc cc"), (2L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(0L, 1L)) // zero-token doc has no entropy
    val h0 = math.log(3.0) - (2 * math.log(2.0)) / 3
    assert(got(0)._2 == 3L && math.abs(got(0)._3 - h0) < 1e-12)
    assert(got(1)._2 == 4L && math.abs(got(1)._3) < 1e-12) // single type
  }

  test("languageId picks max-stopword-hit language, und for no hits") {
    val out = TextAnalysis.languageId(docs, "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(0L) == "en" && out(3L) == "es" && out(5L) == "und")
  }

  test("qualityScore fields + quality_ok rule") {
    val out = TextAnalysis.qualityScore(docs, "text")
    val r0 = out.filter($"doc_id" === 0).head()
    assert(r0.getAs[Int]("n_tokens") == 4)
    assert(r0.getAs[Double]("mean_token_len") == 16.0 / 4)
    assert(r0.getAs[Double]("stopword_ratio") == 0.25)
    val r5 = out.filter($"doc_id" === 5).head()
    assert(!r5.getAs[Boolean]("quality_ok"))
  }

  test("lmScores: hand-computed add-alpha bigram NLL; short docs absent") {
    val lm = Seq((0L, "a b a"), (1L, "b a"), (2L, "c"), (3L, ""))
      .toDF("doc_id", "text")
    // bigrams: doc0 (a,b),(b,a); doc1 (b,a); c(a,b)=1 c(b,a)=2;
    // c(a)=1 c(b)=2; V=3 (a,b,c)
    val alpha = 0.5
    val pba = (1 + alpha) / (1 + alpha * 3) // P(b|a)
    val pab = (2 + alpha) / (2 + alpha * 3) // P(a|b)
    val want = Map(
      0L -> (2L, -(math.log(pba) + math.log(pab)) / 2),
      1L -> (1L, -math.log(pab)))
    val got = TextAnalysis.lmScores(lm, "doc_id", "text", alpha)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == want.keySet) // docs 2 (one token) and 3 (none) absent
    want.foreach { case (id, (n, nll)) =>
      assert(got(id)._1 == n, s"n_bigrams doc $id")
      assert(math.abs(got(id)._2 - nll) < 1e-12, s"nll doc $id")
    }
    // a repeated common pattern scores lower (more likely) than a
    // one-off pattern: doc1's single (b,a) is the corpus's modal bigram
    assert(got(1L)._2 < got(0L)._2)
    intercept[IllegalArgumentException] {
      TextAnalysis.lmScores(lm, "doc_id", "text", 0.0)
    }
  }

  test("TokenStatsExpr: one-pass stats match the declarative HOF forms on edge cases") {
    // mixed case, digits, unicode (multi-byte must not split or join
    // ASCII runs), punctuation-only, empty, and null text
    val rows = Seq(
      (0L, "The quick brown fox and the dog"),
      (1L, "el la de que y en un relámpago über straße"),
      (2L, "a1b2 c3  --  x9"),
      (3L, "!!! ,,, ???"),
      (4L, ""),
      (5L, "DER und von ZU den"),
      (6L, null: String))
    val df = rows.toDF("id", "text")
    // declarative twins built from the spec'd reference forms
    val toks = TextAnalysis.tokensCol($"text")
    val declared = df.select($"id",
        size(toks).as("n"),
        aggregate(toks, lit(0L), (a, x) => a + length(x)).as("ls"),
        TextAnalysis.stopwordHits($"text", "de").as("hde"),
        TextAnalysis.stopwordHits($"text", "en").as("hen"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4)))))
      .toMap
    val langs = Seq("de", "en", "es", "fr")
    val lists = Seq(
      Seq("der", "die", "das", "und", "von", "zu", "den", "mit", "ist", "ein"),
      Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
      Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
      Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"))
    val native = df.select($"id",
        graft.functions.TokenStatsExpr(lower($"text"), lists).as("st"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else {
        val st = r.getStruct(1)
        val hits = st.getSeq[Int](2)
        Some((st.getInt(0), st.getLong(1), hits(langs.indexOf("de")), hits(langs.indexOf("en"))))
      })).toMap
    rows.foreach { case (id, text) =>
      assert(native(id) == declared(id), s"id=$id text='$text'")
    }
    assert(native(6L).isEmpty) // null text → null struct, like the HOF chain
  }

  test("tokenCounts: ws vs bpe-ish") {
    val df = Seq((1, "ab cd-ef, 12 x")).toDF("id", "text")
    val r = TextAnalysis.tokenCounts(df, "text").head()
    // ws: [ab, cd-ef,, 12, x]; bpeish: [ab, cd, -, ef, ,, 1, 2, x]
    assert(r.getAs[Long]("ws_tokens") == 4L)
    assert(r.getAs[Long]("bpeish_tokens") == 8L)
  }

  test("TokenCountsExpr: one-scan counts match the regex forms on edge cases") {
    val rows = Seq(
      (0L, "ab cd-ef, 12 x"),
      (1L, "héllo wörld — naïve café 99"),
      (2L, "a😀b emoji😀 end"), // surrogate pair counts once
      (3L, " \t\n\f\r "),                      // every \s class char
      (4L, ""),
      (5L, "trailing space "),
      (6L, null: String))
    val df = rows.toDF("id", "text")
    def shape(d: org.apache.spark.sql.DataFrame) =
      d.select($"id", $"ws_tokens", $"bpeish_tokens").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))).toMap
    val native = shape(TextAnalysis.tokenCounts(df, "text"))
    val decl = shape(DeclOracles.tokenCountsDecl(df, "text"))
    rows.foreach { case (id, text) =>
      assert(native(id) == decl(id), s"id=$id text='$text'")
    }
    assert(native(0L).contains((4L, 8L)))
    assert(native(2L).contains((3L, 6L))) // a|😀|b = 3 bpeish + emoji|end runs
    assert(native(6L).isEmpty)
  }

  test("repetitionSignals: hand-computed fractions; run-length fold equals per-token counting") {
    val docs = Seq(
      (1L, "spam spam spam eggs"),      // dup 2/4, top 3/4, bigrams: "spam spam"x2,"spam eggs" → dup 1/3
      (2L, "a b c d"),                  // all distinct → 0, top 1/4, dup_bi 0
      (3L, "x x x x x x x x x x"),      // dup 9/10, top 1.0, dup_bi 8/9
      (4L, "one"),                      // single token: no bigrams → dup_bi 0
      (5L, "")                          // empty: all 0, ok
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "text")
      .select("doc_id", "dup_token_frac", "top_token_frac", "dup_bigram_frac", "repetition_ok")
      .as[(Long, Double, Double, Double, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 0.5, 0.75, 1.0 / 3.0, false)))
    assert(got(1) == ((2L, 0.0, 0.25, 0.0, false))) // top 0.25 > 0.20 threshold
    assert(got(2) == ((3L, 0.9, 1.0, 8.0 / 9.0, false)))
    assert(got(3) == ((4L, 0.0, 1.0, 0.0, false)))
    assert(got(4) == ((5L, 0.0, 0.0, 0.0, true)))
    // the sorted run-length fold must equal naive per-distinct-token
    // max counting on messier inputs
    val messy = (0L until 50L).map(i =>
      (i, (0 until (3 + (i % 17)).toInt).map(j => s"w${(i * 7 + j * j) % 5}").mkString(" ")))
      .toDF("doc_id", "text")
    val fold = TextAnalysis.repetitionSignals(messy, "text")
      .select("doc_id", "top_token_frac").as[(Long, Double)].collect().toMap
    val naive = messy.select($"doc_id",
        (array_max(transform(array_distinct(TextAnalysis.tokensCol($"text")),
          t => size(filter(TextAnalysis.tokensCol($"text"), x => x === t)))).cast("double") /
          size(TextAnalysis.tokensCol($"text"))).as("f"))
      .as[(Long, Double)].collect().toMap
    assert(fold == naive)
    // native kernel == declarative chain, bit-for-bit, incl. null text
    val edge = docs.unionByName(Seq((9L, null: String)).toDF("doc_id", "text"))
      .unionByName(messy)
    val cols = Seq("doc_id", "dup_token_frac", "top_token_frac",
      "dup_bigram_frac", "repetition_ok")
    def vals(d: org.apache.spark.sql.DataFrame) =
      d.select(cols.head, cols.tail: _*)
        .as[(Long, Double, Double, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(vals(TextAnalysis.repetitionSignals(edge, "text")) ==
      vals(DeclOracles.repetitionSignalsDecl(edge, "text")))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val df = Seq((1, "A  B\tC"), (2, "a b c")).toDF("id", "text")
    val fps = TextAnalysis.fingerprint(df, "text")
      .select("fingerprint").as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("rollingHash matches the reference polynomial formula") {
    val r = Seq((1, "ab")).toDF("id", "text")
      .select(TextAnalysis.rollingHash($"text")).as[Long].head()
    val expected = ((0L * 257 + 'a') % 1000000007L * 257 + 'b') % 1000000007L
    assert(r == expected)
  }

  // ---- Similarity ----

  test("bruteForceTopK: exact cosine, rank by (cosine desc, id asc)") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 1.0f)), (3L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      Array(1.0f, 0.0f), 3).as[(Long, Long, Double)].collect().toSeq
    assert(top.map(_._2) == Seq(0L, 3L, 2L)) // ties 0/3 broken by id
    assert(top(0)._3 == 1.0 && math.abs(top(2)._3 - math.sqrt(0.5)) < 1e-12)
  }

  test("bruteForceTopK: a null id cannot split the rank window (ranks stay unique)") {
    // the warning-suppressing constant partition key must be null-proof:
    // a bare id·0 maps a NULL id to a NULL key, silently splitting the
    // window into two partitions and emitting duplicate rank values
    val e = Seq(
      (java.lang.Long.valueOf(0L), Seq(1.0f, 0.0f)),
      (null.asInstanceOf[java.lang.Long], Seq(0.9f, 0.1f)),
      (java.lang.Long.valueOf(2L), Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      Array(1.0f, 0.0f), 3).select("rank").as[Long].collect().toSeq
    assert(top.sorted == Seq(1L, 2L, 3L), s"ranks were $top")
  }

  test("ann persisted index: exact-match vector found via its own bucket") {
    val e = (0L until 50L).map(i => (i, Seq.tabulate(8)(d =>
      math.sin(i * 31 + d).toFloat))).toDF("vec_id", "embedding")
    val dir = tmpDir("ann-idx")
    Similarity.annBuild(e, "vec_id", "embedding", dir, planes = 6)
    val q = Seq.tabulate(8)(d => math.sin(7 * 31 + d).toFloat).toArray
    val got = Similarity.annQuery(spark, dir, q, 5)
      .as[(Long, Double)].collect()
    assert(got.nonEmpty && got.head._1 == 7L && math.abs(got.head._2 - 1.0) < 1e-9)
  }

  // ---- Multimodal ----

  test("ivf persisted index: query's own bucket is probed; exact match found; build deterministic") {
    val dim = 8
    // i·31 mod 101 is injective for i < 101 → all vectors distinct
    val vecs = (0L until 40L).map { i =>
      (i, (0 until dim).map(d => ((i * 31 + d * 13) % 101 - 50).toFloat / 50f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs(23)._2.toArray
    val dir = tmpDir("ivf-idx")
    Similarity.ivfBuild(df, "vec_id", "embedding", dir, numCentroids = 4)
    val top = Similarity.ivfQuery(spark, dir, query, 5, nprobe = 2)
      .as[(Long, Double)].collect()
    // probe #1 is exactly the query's own argmax centroid (same
    // arithmetic) → the vector itself always enters the candidate set
    assert(top.head._1 == 23L)
    assert(math.abs(top.head._2 - 1.0) < 1e-9)
    // determinism: byte-equivalent index from a differently-partitioned
    // build → identical query result
    val dir2 = tmpDir("ivf-idx2")
    Similarity.ivfBuild(df.repartition(7), "vec_id", "embedding", dir2, numCentroids = 4)
    val top2 = Similarity.ivfQuery(spark, dir2, query, 5, nprobe = 2)
      .as[(Long, Double)].collect()
    assert(top.toSeq == top2.toSeq)
  }

  test("multimodal: schema contract, deterministic decode, null payload error channel") {
    val media = Multimodal.demoMediaTable(spark, docs.filter($"doc_id" < 2),
      "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media, nFeatures = 4)
    val rows = feats.select("media_id", "features", "decode_error")
      .collect().sortBy(_.getLong(0))
    assert(rows.forall(_.isNullAt(2) == false || rows.head.getSeq[Float](1).nonEmpty))
    // identical payloads (doc 0 and 1 share text) → identical features
    assert(rows(0).getSeq[Float](1) == rows(1).getSeq[Float](1))

    val withNull = media.withColumn("payload",
      when($"media_id" === 0, lit(null).cast("binary")).otherwise($"payload"))
    val errs = Multimodal.extractFeatures(withNull, 4)
      .select("media_id", "decode_error").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(errs(0L) == "null payload" && errs(1L) == null)
  }

  test("multimodal: frame sampling explodes duration/everyMs rows") {
    val media = Multimodal.demoMediaTable(spark, docs.limit(1), "doc_id", "text")
      .withColumn("media_meta", struct(
        lit("video").as("media_type"), lit("fake").as("format"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        lit(null).cast("int").as("sample_rate"), lit(2500L).as("duration_ms")))
    val frames = Multimodal.sampleFrames(media, everyMs = 1000L)
      .select("frame_ts_ms").as[Long].collect().toSeq
    assert(frames == Seq(0L, 1000L, 2000L))
  }
}

/** Benchmark decontamination + PII scrubbing (training-data ops). */
class DecontamScrubSpec extends graft.SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  test("decontaminate flags docs sharing a word 5-gram with the benchmark; hash and string forms agree") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words alpha beta gamma delta epsilon tail"), // 1 shared 5-gram
      (2L, "alpha beta gamma delta epsilon zeta"),             // exact dup: both 5-grams
      (3L, "totally unrelated text with no overlap at all"),
      (4L, "short one")                                        // shorter than n: its only (short) shingle ≠ bench's
    ).toDF("doc_id", "text")
    val want = Map(1L -> 1L, 2L -> 2L)
    Seq(true, false).foreach { hashed =>
      val got = Dedup.decontaminate(corpus, bench, "doc_id", "text",
          n = 5, hashNgrams = hashed)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"hashNgrams=$hashed")
    }
  }

  test("scrub replaces pattern matches and counts over the original text") {
    val df = Seq((0L, "the fox and the foxes saw a fox"), (1L, "no match"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.scrub(df, "text", "\\bfox\\b", "[X]")
      .select("doc_id", "scrubbed", "n_redactions")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L) == (("the [X] and the foxes saw a [X]", 2L))) // \b spares "foxes"
    assert(got(1L) == (("no match", 0L)))
  }

  test("scrubPii redacts emails, URLs, and phone numbers with summed counts") {
    val df = Seq(
      (0L, "contact alice@example.com or bob.smith@mail.co today"),
      (1L, "see https://example.com/path?q=1 and http://foo.bar"),
      (2L, "call +1 (555) 123-4567 now"),
      (3L, "nothing to redact here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrubPii(df, "text")
      .select("doc_id", "scrubbed", "n_redactions")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L)._2 == 2L && !got(0L)._1.contains("@"))
    assert(got(1L)._2 == 2L && !got(1L)._1.contains("http"))
    assert(got(2L)._2 == 1L && !got(2L)._1.exists(_.isDigit))
    assert(got(3L) == (("nothing to redact here", 0L)))
  }
}

/** Deterministic sampling (data mixing) + sequence packing. */
class SamplingPackingSpec extends graft.SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private lazy val rows = (0L until 400L)
    .map(i => (i, s"src${i % 4}")).toDF("id", "stratum")

  test("sampleByHash: deterministic, monotone in fraction, exact at 0 and 1") {
    assert(Sampling.sampleByHash(rows, "id", 1.0).count() == 400)
    assert(Sampling.sampleByHash(rows, "id", 0.0).count() == 0)
    Seq(true, false).foreach { ce =>
      val a = Sampling.sampleByHash(rows, "id", 0.3, ce).as[(Long, String)].collect().toSet
      val b = Sampling.sampleByHash(rows, "id", 0.3, ce).as[(Long, String)].collect().toSet
      assert(a == b, s"nondeterministic sample (crossEngine=$ce)")
      val sup = Sampling.sampleByHash(rows, "id", 0.6, ce).as[(Long, String)].collect().toSet
      assert(a.subsetOf(sup), "larger fraction must be a superset (same hash)")
      assert(a.size > 40 && a.size < 200, s"0.3 sample wildly off: ${a.size}")
    }
  }

  test("exportShards: round trip preserves every row; shards deterministic at any parallelism") {
    val df = (0L until 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val want = (0L until 200L).map(i => (i, s"t$i", i % 4)).toSet
    val back = graft.sources.Export.exportShards(df, "doc_id", tmpDir("export-4"), 4)
    assert(back.select($"doc_id", $"text", $"shard".cast("long"))
      .as[(Long, String, Long)].collect().toSet == want)
    val back7 = graft.sources.Export.exportShards(
      df.repartition(7), "doc_id", tmpDir("export-4b"), 4)
    assert(back7.select($"doc_id", $"text", $"shard".cast("long"))
      .as[(Long, String, Long)].collect().toSet == want)
  }

  test("temperatureMix: sqrt-scaled keep rates; largest stratum keeps all; deterministic") {
    val df = (0L until 90L).map(i => (i, if (i < 81) "big" else "small"))
      .toDF("doc_id", "src")
    val out = Sampling.temperatureMix(df, "doc_id", "src")
      .as[(Long, String, Double)].collect().toSet
    val rates = out.map(r => r._2 -> r._3).toMap
    assert(rates("big") == 1.0) // 81 docs, sqrt 9 = the max
    assert(math.abs(rates("small") - 0.333333) < 1e-9) // sqrt 3 / sqrt 9, 6dp
    assert(out.count(_._2 == "big") == 81) // rate 1.0 keeps everything
    val kept = out.count(_._2 == "small")
    assert(kept > 0 && kept < 9, s"small stratum should partially drop: $kept")
    val out7 = Sampling.temperatureMix(df.repartition(7), "doc_id", "src")
      .as[(Long, String, Double)].collect().toSet
    assert(out == out7) // deterministic at any parallelism
    // empty input: empty frame in the output shape, not an NPE on the
    // null max aggregate
    assert(Sampling.temperatureMix(df.limit(0), "doc_id", "src").count() == 0)
  }

  test("stratified: per-stratum rates, zero default drops unlisted strata") {
    val got = Sampling.stratified(rows, "stratum", "id",
        Map("src0" -> 1.0, "src1" -> 0.5), defaultFraction = 0.0)
      .as[(Long, String)].collect()
    val byStr = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byStr.getOrElse("src0", 0) == 100) // rate 1.0 keeps all
    assert(byStr.getOrElse("src2", 0) == 0 && byStr.getOrElse("src3", 0) == 0)
    val s1 = byStr.getOrElse("src1", 0)
    assert(s1 > 20 && s1 < 80, s"src1 at 0.5 wildly off: $s1")
  }

  test("capPerGroup: top-n per group under a deterministic order") {
    val df = (0L until 200L)
      .map(i => (i, s"d${i % 5}", (i * 37 % 101))).toDF("id", "domain", "q")
    val want = (0L until 200L).map(i => (i, s"d${i % 5}", i * 37 % 101))
      .groupBy(_._2).values.flatMap(_.sortBy { case (id, _, q) => (-q, id) }.take(7))
      .map(_._1).toSet
    val got = Sampling.capPerGroup(df, "domain",
        Seq(org.apache.spark.sql.functions.col("q").desc,
          org.apache.spark.sql.functions.col("id").asc), 7)
      .select("id").as[Long].collect().toSet
    assert(got == want)
    assert(got.size == 35) // 5 domains x 7
    // cap larger than any group keeps everything, schema unchanged
    assert(Sampling.capPerGroup(df, "domain",
      Seq(org.apache.spark.sql.functions.col("id").asc), 1000).count() == 200)
    assert(Sampling.capPerGroup(df, "domain",
      Seq(org.apache.spark.sql.functions.col("id").asc), 7)
      .columns.toSeq == Seq("id", "domain", "q"))
    intercept[IllegalArgumentException] {
      Sampling.capPerGroup(df, "domain", Seq.empty, 7)
    }
    intercept[IllegalArgumentException] {
      Sampling.capPerGroup(df, "domain",
        Seq(org.apache.spark.sql.functions.col("id").asc), 0)
    }
  }

  test("packByBudget: hand-computed bins/offsets, shards independent") {
    val df = Seq(
      ("a", 1L, 3L), ("a", 2L, 2L), ("a", 3L, 4L), // prefix 0,3,5
      ("b", 1L, 6L), ("b", 2L, 1L)                 // prefix 0,6
    ).toDF("shard", "ord", "toks")
    val got = Packing.packByBudget(df, "shard", "ord", "toks", budget = 5L)
      .select("shard", "ord", "tokens_before", "bin", "bin_offset")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got(("a", 1L)) == ((0L, 0L, 0L)))
    assert(got(("a", 2L)) == ((3L, 0L, 3L)))
    assert(got(("a", 3L)) == ((5L, 1L, 0L)))
    assert(got(("b", 1L)) == ((0L, 0L, 0L))) // shard b restarts at zero
    assert(got(("b", 2L)) == ((6L, 1L, 1L)))
  }
}

/** As-of join semantics: latest right row with ts <= left ts per key. */
class AsOfSpec extends graft.SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._
  private def t(s: Long) = new java.sql.Timestamp(s * 1000)

  test("asOfJoin picks latest prior value, <= ties included, none before → null") {
    val left = Seq((1L, 1L, t(100), 5.0), (2L, 1L, t(50), 6.0), (3L, 2L, t(10), 7.0))
      .toDF("event_id", "user_id", "ts", "value")
    val right = Seq((10L, 1L, t(40), 1.1), (11L, 1L, t(100), 2.2), (12L, 2L, t(20), 3.3))
      .toDF("event_id", "user_id", "ts", "value")
    val out = AsOf.asOfJoin(left, right, "user_id", "ts", "event_id", "value")
      .select("event_id", "asof_value").as[(Long, Option[Double])].collect().toMap
    assert(out(1L).contains(2.2)) // tie at ts=100 → right included (<=)
    assert(out(2L).contains(1.1)) // latest prior at ts=40
    assert(out(3L).isEmpty)       // no right row at or before ts=10
  }
}

/** JVM-static stamp collector for the fetchUrl throttle test (local
  * mode: tasks share the JVM, so static state is visible; a
  * closure-captured buffer would be a serialized task-side copy). */
object FetchStamps {
  val times = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  import scala.jdk.CollectionConverters._
  def toSeqTimes: Seq[Long] = times.asScala.toSeq.map(_.longValue)
  val stampingFetch: String => graft.operators.Transforms.FetchResult = u => {
    times.add(System.currentTimeMillis())
    graft.operators.Transforms.fakeFetch(u)
  }
}
