package graft

import graft.index.{BuildConfig, IndexBuilder}
import graft.model.Turn
import graft.query.IndexReader
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Memoized fulltext index over a test-data `documents` table, used by
 * the SparkEntry `ft_*` correctness queries and the benchmark.
 *
 * The documents table stands in for the transcript corpus: each doc
 * becomes a single-turn conversation with `conv_id = "doc-%010d"`, so
 * the engine's global (conv_id, turn_idx) sort order equals numeric
 * doc_id order and the assigned dense docIDs are recoverable from
 * conv_id — the oracle compares on the ORIGINAL doc_id, never on any
 * engine-internal id.
 */
object FtIndex {

  /** Bump to invalidate /tmp caches when the index layout changes. */
  private val CacheVersion = 10 // v10: postings written in small pages, paged by term

  private val built = scala.collection.mutable.Set[String]()

  /** The fixture `kind` of `sfDir` under `/tmp/graft_ft<kind>_v<CacheVersion>`,
    * built once by `build(dir)` and memoized per JVM AND on disk: a
    * `_ft_done` marker written after the build completes lets every
    * later JVM skip the build entirely (no corpus re-scan), and
    * guarantees a concurrent reader in another process never observes
    * the cache mid-build (the sf corpora are immutable, so a marked dir
    * is final; the marker lives under the CacheVersion'd path, so
    * layout bumps invalidate it with the rest of the cache). A
    * directory without its marker is cleared before the build. */
  private def fixture(kind: String, sfDir: String)(build: String => Unit): String = synchronized {
    val out = s"/tmp/graft_ft${kind}_v$CacheVersion/${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}"
    if (!built.contains(out)) {
      val marker = java.nio.file.Paths.get(out, "_ft_done")
      if (!java.nio.file.Files.exists(marker)) {
        graft.store.Manifest.deleteRecursively(java.nio.file.Paths.get(out))
        build(out)
        java.nio.file.Files.createFile(marker)
      }
      built += out
    }
    out
  }

  /** The documents table as a Dataset[Turn] (the engine's input shape). */
  def docsAsTurns(spark: SparkSession, sfDir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        format_string("doc-%010d", col("doc_id")).as("conv_id"),
        lit(0).as("turn_idx"),
        lit("doc").as("role"),
        col("text"),
        lit("").as("tool"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"))
      .as[Turn]
  }

  /** The index of the documents table; idempotent and memoized per
    * JVM + on disk. Returns the index directory. */
  def ensure(spark: SparkSession, sfDir: String): String = fixture("idx", sfDir) { out =>
    IndexBuilder.build(spark, docsAsTurns(spark, sfDir), BuildConfig(out, nSegments = 8, waveSize = 8))
  }

  def reader(spark: SparkSession, sfDir: String): IndexReader =
    new IndexReader(spark, ensure(spark, sfDir))

  // ---- incremental-maintenance gate fixture ----
  // The index is built over a BASE corpus variant, then delta-updated
  // to the true documents corpus: ~2% of docs (a contiguous id range →
  // clustered in a couple of segments) carry stale placeholder text
  // that the update REPLACES, the id tail is absent and gets APPENDED,
  // and synthetic "del-" twin docs exist only in the base and get
  // DELETED. The final corpus equals `documents` exactly, so the
  // DuckDB oracle is plain BM25 SQL over the documents table — if any
  // stale posting, ghost doc, or missed append survived the delta, the
  // hash comparison fails.

  /** The base (pre-update) corpus variant derived from documents. */
  private def baseTurns(spark: SparkSession, sfDir: String): Dataset[Turn] = {
    import spark.implicits._
    val t = docsAsTurns(spark, sfDir).toDF()
    val id = origId(col("conv_id"))
    val maxId = t.agg(max(id)).head().getLong(0)
    val n = maxId + 1
    val base = t.filter(id < lit((n * 9) / 10)) // tail 10% appended later
      .withColumn("text",
        when(id >= lit(n / 5) && id < lit(n / 5 + math.max(1L, n / 50)),
          lit("stale placeholder revision pending rewrite"))
          .otherwise(col("text"))) // ~2% updated later
    val extras = t.filter(id < lit(math.max(1L, n / 25))) // deleted later
      .withColumn("conv_id", concat(lit("del-"), col("conv_id")))
    base.unionByName(extras).as[Turn]
  }

  /** Build base, then delta-update to the true corpus. */
  def ensureIncremental(spark: SparkSession, sfDir: String): String = fixture("inc", sfDir) { out =>
    val cfg = BuildConfig(out, nSegments = 8, waveSize = 8)
    IndexBuilder.build(spark, baseTurns(spark, sfDir), cfg)
    IndexBuilder.build(spark, docsAsTurns(spark, sfDir), cfg) // the delta
  }

  // ---- non-default analyzer chain (v1+stop) gate fixture ----
  // Same corpus, indexed under the stopword-removing chain — proves a
  // non-default analysis chain survives build → query → oracle (the
  // chain id is persisted in corpus_stats and re-parsed at query time,
  // so the query side tokenizes identically). The DuckDB oracle
  // mirrors the chain with a list_filter over the same stopword list.

  def ensureStop(spark: SparkSession, sfDir: String): String = fixture("stop", sfDir) { out =>
    IndexBuilder.build(spark, docsAsTurns(spark, sfDir), BuildConfig(out, nSegments = 8, waveSize = 8,
      analyzer = graft.analysis.Analyzer(stop = true)))
  }

  // ---- full text_en-analog chain (v1+stop+stem) gate fixture ----
  // Same corpus, indexed under the stopword-removing + Porter-stemming
  // chain — the complete analog of the reference's text_en field type
  // (StandardTokenizer → Stop → LowerCase → PorterStem,
  // `preanalyze/conf/schema.xml:39-60`). The query side re-parses the
  // persisted chain id, so query terms are stemmed identically; the
  // DuckDB oracle maps corpus tokens through the engine's (token →
  // stem) vocabulary map (SparkEntry.StemCaseSql).

  def ensureStem(spark: SparkSession, sfDir: String): String = fixture("stem", sfDir) { out =>
    IndexBuilder.build(spark, docsAsTurns(spark, sfDir), BuildConfig(out, nSegments = 8, waveSize = 8,
      analyzer = graft.analysis.Analyzer.TextEn))
  }

  // ---- compaction gate fixture ----
  // The same base → delta fixture as ensureIncremental, then an
  // EXPLICIT Incremental.compact folds the overlays into a fresh base
  // (auto-compaction disabled so overlays are guaranteed present at
  // the compact). The final staging VIEW must be unchanged, so the
  // oracle is the same final-corpus BM25 SQL as ft_incremental — a
  // compact that dropped, duplicated, or ghosted any row
  // hash-mismatches.

  def ensureCompacted(spark: SparkSession, sfDir: String): String = fixture("cmp", sfDir) { out =>
    val cfg = BuildConfig(out, nSegments = 8, waveSize = 8, autoCompactFraction = 0)
    IndexBuilder.build(spark, baseTurns(spark, sfDir), cfg)
    IndexBuilder.build(spark, docsAsTurns(spark, sfDir), cfg)
    graft.index.Incremental.compact(spark, out)
  }

  // ---- atomic-update gate fixture ----
  // Base index over the true corpus, then Incremental.atomicSet
  // patches a contiguous ~2% id band with `text || " patched dup"` —
  // the Solr atomic-update verb driven end-to-end through the delta
  // machinery. The oracle is plain BM25 SQL over the same CASE-patched
  // corpus, so a lost patch, a ghost of the old text, or a corrupted
  // unpatched document all hash-mismatch.

  def ensureAtomic(spark: SparkSession, sfDir: String): String = fixture("atom", sfDir) { out =>
    val cfg = BuildConfig(out, nSegments = 8, waveSize = 8)
    val t = docsAsTurns(spark, sfDir)
    IndexBuilder.build(spark, t, cfg)
    val n = t.count()
    val lo = n / 4
    val cnt = math.max(1L, n / 50)
    val sets = t.toDF()
      .withColumn("id", origId(col("conv_id")))
      .filter(col("id") >= lo && col("id") < lo + cnt)
      .select(col("conv_id"), col("turn_idx"),
        concat(col("text"), lit(" patched dup")).as("text"))
    graft.index.Incremental.atomicSet(spark, cfg, sets)
  }

  /** Original doc_id parsed back out of the engine conv_id
    * ("doc-%010d" → the zero-padded digits; safe for doc_id 0). */
  def origId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(c, 5, 10).cast("long")

  /** doc_stats with the original doc_id restored. */
  def docStats(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    IndexBuilder.readDocs(spark, dir)
      .select(origId(col("conv_id")).as("doc_id"), col("dl").cast("long").as("dl"))
  }
}
