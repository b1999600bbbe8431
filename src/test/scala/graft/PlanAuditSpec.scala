package graft

import graft.index.{BuildConfig, IndexBuilder}
import graft.sources.SyntheticTranscripts
import org.apache.spark.sql.functions._

/**
 * Physical-plan audits: the properties that decide whether the same
 * code survives a 100x scale-up — filter pushdown into parquet scans,
 * column pruning, broadcast joins for small dimensions, and
 * shuffle-free encode reads. Asserted on `.explain("formatted")`
 * output so a regression that silently de-optimizes a plan fails CI.
 */
class PlanAuditSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  private lazy val idxDir: String = {
    val dir = tmpDir("idx-plan")
    val turns = SyntheticTranscripts.generate(spark, 42L, nConvs = 300)
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 4))
    dir
  }

  test("postings term filter pushes down to the parquet scan") {
    val plan = planOf(spark.read.parquet(IndexBuilder.postingsDir(idxDir))
      .filter(col("term").isInCollection(Seq("user", "tool"))))
    assert(plan.contains("PushedFilters: [In(term"), plan.take(1500))
  }

  test("doc_stats lookup prunes columns (never reads text) and pushes the id filter") {
    val df = IndexBuilder.readDocs(spark, idxDir)
      .filter(col("doc_id") === 42L)
      .select("doc_id", "conv_id", "turn_idx")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,42)]"), plan.take(1500))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
  }

  test("staging segment filter pushes down; files are segment-monotone (stats prune)") {
    val df = spark.read.parquet(IndexBuilder.stagingDir(idxDir))
      .filter(col("segment").isInCollection(Seq(1, 2)))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [In(segment"), plan.take(1500))
    // each staging file covers a contiguous segment range → min/max
    // row-group stats make the pushed filter skip whole files
    val files = new java.io.File(IndexBuilder.stagingDir(idxDir))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val segs = spark.read.parquet(f.getPath).select("segment")
        .collect().map(_.getInt(0))
      assert(segs.sameElements(segs.sorted), s"${f.getName} segment not monotone")
    }
  }

  test("small-dimension join broadcasts (no shuffle of the fact side)") {
    val fact = spark.range(0, 10000).withColumn("k", col("id") % 10)
    val dim = Seq((0L, "a"), (1L, "b")).toDF("k", "name")
    val plan = planOf(fact.join(broadcast(dim), "k"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("dictionary files are term-range-sorted (min/max stats prune lookups)") {
    import org.apache.spark.sql.Row
    val files = new java.io.File(IndexBuilder.dictionaryDir(idxDir))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // within every file terms are sorted → row-group stats are tight
    files.foreach { f =>
      val terms = spark.read.parquet(f.getPath).select("term").collect().map(_.getString(0))
      assert(terms.sameElements(terms.sorted), s"${f.getName} not term-sorted")
    }
  }

  test("postings files are term-clustered within segment (block sort before write)") {
    val segDir = new java.io.File(IndexBuilder.postingsDir(idxDir), "segment=0")
    val fs = segDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(fs.nonEmpty)
    val terms = spark.read.parquet(fs.head.getPath).select("term", "block_id")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(terms.sameElements(terms.sortBy(identity)), "postings not (term, block_id)-sorted")
  }

  test("minhash candidate generation: one signature computation, no self-join, no cartesian") {
    val docs = Seq((0L, "a b c d e f"), (1L, "a b c d e g"), (2L, "x y z w v u"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.operators.Dedup.minHashCandidates(docs, "doc_id", "text"))
    // signatures must be derived ONCE: the old self-join duplicated the
    // whole pipeline per side (2x compute, 3x shuffle)
    assert("graft_minhash_sig".r.findAllIn(plan).size <= 1, plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin")) // pairs come from in-bucket lists, not a join
    // the per-pair signature compare is the fused native kernel, not
    // an interpreted zip_with + filter (runs maxBucketSize²/2 times
    // per hot bucket)
    assert(plan.contains("graft_sig_eq_count"), plan.take(2000))
    // the maxBucketSize cap is the map-side-combinable keep-lowest-k
    // aggregate (collect_top_k), NOT a row_number window: a window
    // funnels every hot-bucket member into one sort task — the exact
    // skew the cap exists to bound
    assert(!plan.contains("Window"), "bucket cap must not plan a window")
    assert(plan.contains("collect_top_k"), plan.take(2000))
  }

  test("native kernels stay in the production plans (no silent fallback to interpreted HOFs)") {
    // spark.range inputs: a local Seq collapses to a pre-evaluated
    // LocalTableScan and the expressions would vanish from the plan
    val docs = spark.range(0, 4).select(col("id").as("doc_id"),
      concat(lit("the quick fox la "), col("id").cast("string")).as("text"))
    // each operator's plan must contain its fused native expression —
    // a refactor that quietly reverts to the declarative form would
    // re-introduce per-row interpreted higher-order functions
    assert(planOf(graft.operators.Dedup.simHash(docs, "doc_id", "text"))
      .contains("graft_simhash_text"))
    assert(planOf(graft.operators.TextAnalysis.languageId(docs, "text"))
      .contains("graft_token_stats"))
    assert(planOf(graft.operators.TextAnalysis.qualityScore(docs, "text"))
      .contains("graft_token_stats"))
    assert(planOf(graft.operators.TextAnalysis.tokenCounts(docs, "text"))
      .contains("graft_token_counts"))
    val vecs = spark.range(0, 8).select(col("id"),
      transform(sequence(lit(0), lit(2)),
        d => (col("id") + d.cast("long")).cast("float")).as("v"))
    assert(planOf(vecs.select(
        graft.operators.Similarity.hyperplaneBucket(col("v"), 6)))
      .contains("graft_srp_bucket"))
    assert(planOf(vecs.select(graft.operators.Similarity.dot(col("v"), col("v"))))
      .contains("graft_dot"))
  }

  test("text kernels fold case themselves: no curate plan calls lower()") {
    val docs = spark.range(0, 4).select(col("id").as("doc_id"),
      concat(lit("The Quick fox LA "), col("id").cast("string")).as("text"))
    val bench = docs.filter(col("doc_id") < 2)
    import graft.operators.{Dedup, TextAnalysis}
    // Spark's lower() costs every executor JVM a one-off ICU set-up
    // of over a second; the kernels' own fold gives the same runs
    Seq(
      "minHashNearDups" -> Dedup.minHashNearDups(docs, "doc_id", "text"),
      "simHashNearDups" -> Dedup.simHashNearDups(docs, "doc_id", "text"),
      "decontaminate" -> Dedup.decontaminate(docs, bench, "doc_id", "text"),
      "chunkDedup" -> Dedup.chunkDedup(docs, "doc_id", "text"),
      "repetitionSignals" -> TextAnalysis.repetitionSignals(docs, "text"),
      "qualityScore" -> TextAnalysis.qualityScore(docs, "text"),
      "languageId" -> TextAnalysis.languageId(docs, "text"),
      "lmScores" -> TextAnalysis.lmScores(docs, "doc_id", "text"),
      "tokenEntropy" -> TextAnalysis.tokenEntropy(docs, "doc_id", "text")
    ).foreach { case (name, df) =>
      val plan = planOf(df)
      assert(plan.contains("graft_"), s"$name has no native kernel")
      assert(!plan.contains("lower("), s"$name calls lower():\n${plan.take(3000)}")
    }
  }

  test("constant-zero rank-window key survives the optimizer (warning suppression intact)") {
    // non-nullable input (spark.range id) — exactly the case where
    // Spark 4 simplifies `x · 0` to a foldable 0 and
    // EliminateWindowPartitions strips the key, reverting the window
    // to unpartitioned and re-spamming the WindowExec warning that
    // the suppression exists to keep meaningful
    val vecs = spark.range(0, 30).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (col("id") + d.cast("long")).cast("float")).as("embedding"))
    val plan = planOf(graft.operators.Similarity.bruteForceTopK(
      vecs, "vec_id", "embedding", Array(1f, 0f, 0f, 0f), 5))
    assert(plan.contains("pmod"), plan.take(2000))
  }

  test("upsert old-home discovery reads only (id, bucket) from the index — never the vectors") {
    val vecs = (0L until 30L).map(i =>
      (i, (0 until 4).map(d => ((i * 31 + d * 13) % 101 - 50).toFloat / 50f)))
    val dir = tmpDir("upsert-plan")
    graft.operators.Similarity.ivfBuild(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, numCentroids = 4)
    val old = spark.read.parquet(graft.operators.Similarity.ivfAssignedDir(dir))
    val moved = Seq(1L, 2L, 3L).toDF("id")
    val plan = planOf(graft.operators.Similarity.upsertOldHomes(old, moved))
    // the one per-upsert full-table pass: column pruning must reduce
    // the parquet scan to the 8-byte id column (+ the bucket partition
    // value) — reading the vector column would turn cheap columnar I/O
    // into a corpus read on every trickle upsert
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("; ")
    assert(readSchema.contains("struct<id:bigint>"), readSchema)
    assert(!readSchema.contains("v:array"), readSchema)
  }

  test("ivf probe: partition-pruned scan of the persisted index, no join, heap top-k") {
    val vecs = (0L until 30L).map(i =>
      (i, (0 until 4).map(d => ((i * 31 + d * 13) % 101 - 50).toFloat / 50f)))
    val df = vecs.toDF("vec_id", "embedding")
    val dir = tmpDir("ivf-plan")
    graft.operators.Similarity.ivfBuild(df, "vec_id", "embedding", dir, numCentroids = 4)
    val plan = planOf(graft.operators.Similarity.ivfQuery(
      spark, dir, vecs(3)._2.toArray, 5, nprobe = 2))
    // the probe filter lands on the PARTITION column → Catalyst prunes
    // bucket directories at planning; the scan never lists the corpus
    assert(plan.contains("PartitionFilters: [bucket"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject")) // top-k, not a global sort
  }

  test("serving relational ops: group-partitioned window, TakeOrdered top-k, no cartesian") {
    val rdr = new graft.query.IndexReader(spark, idxDir)
    val meta = spark.range(0, 3000).toDF("doc_id")
      .withColumn("role", concat(lit("r"), pmod(col("doc_id"), lit(4))))
      .withColumn("w", (pmod(col("doc_id"), lit(7)) + 1).cast("double"))
    // result grouping: the rank window shuffles BY GROUP — never a
    // global (range-partitioned) sort of the match set
    val gp = planOf(rdr.searchGroupTopK("user la", meta, "doc_id", "role", 3))
    assert(gp.contains("hashpartitioning(role"), gp.take(2500))
    assert(!gp.contains("rangepartitioning"), "group top-N must not global-sort")
    // function-boost and rerank top-k plans are distributed
    // TakeOrdered (per-partition heaps), never Sort+CollectLimit
    val bp = planOf(rdr.searchBoostBy("user la", meta, "doc_id", col("w"), 10))
    assert(bp.contains("TakeOrderedAndProject"), bp.take(2500))
    assert(!bp.contains("CartesianProduct"))
    val rp = planOf(rdr.rerank("user la", "ma", 25, 2.0, 10))
    assert(rp.contains("TakeOrderedAndProject"), rp.take(2500))
    assert(!rp.contains("CartesianProduct"))
    // join query: a semi-join against the bounded key set, no cartesian
    val jp = planOf(rdr.searchJoin("user la", "", meta, "doc_id", "role"))
    assert(jp.contains("LeftSemi"), jp.take(2500))
    assert(!jp.contains("CartesianProduct"))
  }

  test("by-id doc-store get pushes the conv_id filter into the scan (RTG shape)") {
    val plan = planOf(graft.index.IndexBuilder.readDocs(spark, idxDir)
      .filter(col("conv_id").isInCollection(Seq("conv-000001", "conv-000002"))))
    assert(plan.contains("PushedFilters: [In(conv_id"), plan.take(1500))
  }

  test("elevate / keywords / chunkDedup plans: TakeOrdered, bounded window, no hot-key window") {
    val rdr = new graft.query.IndexReader(spark, idxDir)
    // elevation: one TakeOrdered over the aggregated match set — no
    // global sort, no window, no cartesian
    val ep = planOf(rdr.elevate("user la", Seq(3L, 7L), 10))
    assert(ep.contains("TakeOrderedAndProject"), ep.take(2500))
    assert(!ep.contains("Window"), "elevate must not plan a window")
    assert(!ep.contains("CartesianProduct"))
    // keywords: the only window partitions by doc_id (bounded by the
    // request), never an empty/global partition
    val kp = planOf(rdr.keywords(Seq(0L, 1L), 5))
    assert(kp.contains("Window"), kp.take(2500))
    assert(kp.contains("hashpartitioning(doc_id"), kp.take(2500))
    // chunk dedup: winner election is a partial-aggregable min by
    // chunk value — a window partitioned by chunk would serialize a
    // corpus-wide boilerplate chunk into one sort partition
    val docs = Seq((0L, "aa bb cc dd"), (1L, "aa bb")).toDF("doc_id", "text")
    val cp = planOf(graft.operators.Dedup.chunkDedup(docs, "doc_id", "text", 2))
    assert(!cp.contains("Window"), "chunkDedup must elect winners by aggregate, not window")
    assert(cp.contains("partial_min") || cp.contains("partial min") ||
      cp.toLowerCase.contains("hashaggregate"), cp.take(2500))
    assert(!cp.contains("CartesianProduct"))
  }
}
