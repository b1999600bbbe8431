package graft.query

import graft.analysis.Analyzer
import graft.index.IndexBuilder
import graft.model.{CorpusStats, PostingBlockRow, QueryHit, RankedTurn}
import graft.store.LocalParquet
import graft.store.LocalParquet.TermFilter
import java.nio.file.Paths
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Distributed BM25 top-k retrieval over a built index (SURVEY.md
 * §2.7): every top-k query is a [[QuerySpec]] — the [[TopKSearch]]
 * methods, [[searchMany]] and [[searchManyMixed]] — or, for
 * [[moreLikeThis]], a shape of analyzed terms; the shared [[Lowering]]
 * turns it into a [[Plan]] (dictionary expansions, df → idf), and ONE
 * executor runs any batch of plans in ONE Spark stage
 * with no shuffle, described `graft:<method>`: each task reads its
 * own segments' postings files in place ([[graft.store.LocalParquet]])
 * and runs each plan's block-max WAND kernel into one bounded
 * collector per query → driver k-way merge per query under the total
 * order (score desc, docId asc). A single query is a batch of one.
 *
 * What prunes the read: each postings file is term-sorted (a segment
 * has one, or several under a small encoder memory budget) and
 * written in bounded row groups of small pages, so each row group's
 * min/max term is a sparse terms index and each page's (the `term`
 * column index) a dense one — a task reads only the pages whose range
 * holds a query term, in the row groups whose range holds one, and
 * decodes their other columns only for the matching rows (position
 * lists only for proximity plans). A block then decodes straight into
 * arrays of its `n_docs` values (positions: Σ tf), one pass per stream
 * ([[graft.index.PostingCodec.DecodedBlock]]). The dictionary is
 * written in pages too and read the same way, in-process
 * on the driver, so neither step runs a job of its own: the df
 * lookup reads the row groups that can hold its terms, a prefix
 * expansion those whose range meets the prefix, and a fuzzy or
 * leading-wildcard expansion every row group's `term` column. The
 * relational paths ([[matchingDocs]], [[scoredDocs]], [[searchWhere]])
 * read postings through the same per-segment helper, one task per
 * segment group, with no postings shuffle. So every query-side read
 * of a postings or dictionary file goes through
 * [[graft.store.LocalParquet]]: postings through
 * [[IndexReader.segmentBlocks]], the dictionary through
 * [[IndexReader.dictionary]] — the df lookup, the expansions,
 * [[totalTokens]], [[suggest]], [[terms]], [[collate]]'s suggestions
 * and [[termVectors]]' df all read it in place.
 *
 * == Two-level merge + θ sharing ==
 * Query tasks each own a contiguous RANGE of segments (`segment /
 * groupSize`), processed in ascending docId order into ONE
 * collector per query ([[Wand.TopKMerger]]): every segment's kernel
 * writes into it directly and prunes against the task's live kth
 * score — the shared-collector-threshold pattern of Lucene's
 * per-segment search.
 * The driver then merges per-TASK top-k: O(k · tasks) rows collected,
 * independent of segment count — at 2^20 segments the flat per-segment
 * collect would be O(k · 2^20) rows with every segment's WAND starting
 * cold at θ = −∞.
 *
 * @param queryTasks target query-task count; 0 → defaultParallelism
 *   (the segment tasks are equal-sized, so one wave: each extra task
 *   costs a launch and a result round-trip on the query's path)
 */
class IndexReader(spark: SparkSession, dir: String,
                  queryTasks: Int = 0) extends TopKSearch with Serializable {
  import spark.implicits._

  /** `dir` as a local path: the index files are read in place. */
  private val root: String = IndexReader.localDir(dir)

  lazy val stats: CorpusStats = IndexReader.readStats(root)

  /** Query-side chain = the chain the index was built with. */
  lazy val analyzer: Analyzer = Analyzer.parse(stats.analyzer)

  private lazy val dictionaryFiles = IndexReader.dictionaryFiles(root)

  /** Segments per query task (contiguous ranges keep docIds ascending
    * within a task — the θ-carry correctness condition). */
  private[query] lazy val groupSize: Int = {
    val nSeg = graft.store.Manifest
      .read(graft.store.Manifest.phaseAPath(IndexBuilder.manifestDir(root)))
      .flatMap(_.get("n_segments_effective")).map(_.toInt).getOrElse(0)
    val tasks = if (queryTasks > 0) queryTasks
                else spark.sparkContext.defaultParallelism
    if (nSeg <= 0) 1 else math.max(1, (nSeg + tasks - 1) / tasks)
  }

  /** The `postings/segment=N` listing as query tasks of [[groupSize]]
    * consecutive segments, ascending: each task's (segment, postings
    * files). Listed once per reader. */
  private lazy val segmentGroups: Seq[Seq[(Int, Seq[String])]] = {
    val g = groupSize
    IndexReader.segments(root).groupBy(_._1 / g).toSeq.sortBy(_._1).map(_._2)
  }

  /** Whether the index stored per-posting position lists
    * (BuildConfig.storePositions; missing manifest key = older
    * positional build → true). Phrase queries require them. */
  lazy val positionsStored: Boolean = IndexReader.positionsStored(root)

  /** Global document frequencies for a term set: an in-process read
    * of the dictionary row groups that can hold the terms — bounded by
    * terms × row-group size, not by the vocabulary. */
  def docFreqs(terms: Seq[String]): Map[String, Long] =
    IndexReader.dictionaryLookup(dictionaryFiles, terms, "df")

  /** Collection frequencies (total occurrences) for the given terms —
    * same row-group-pruned dictionary lookup as [[docFreqs]]. */
  def collectionFreqs(terms: Seq[String]): Map[String, Long] =
    IndexReader.dictionaryLookup(dictionaryFiles, terms, "cf")

  /** Total token count of the indexed corpus: Σ cf over the dictionary,
    * one in-process read of its `cf` column (no Spark job, cached per
    * reader) — exact, unlike avgdl·nDocs which reintroduces the double
    * ratio. */
  lazy val totalTokens: Long =
    IndexReader.dictionary(dictionaryFiles, None, Set("cf"))(_[Long]("cf")).sum

  /** The lowering over this index's dictionary: df lookups, and one
    * in-process dictionary read per expansion family, pruned to the
    * row groups that meet the family's literal prefixes — postings are
    * never read to expand a query. */
  private lazy val lowering = new Lowering(analyzer, stats, new TermSource {
    def docFreqs(terms: Seq[String]): Map[String, Long] = IndexReader.this.docFreqs(terms)
    def expand(es: Seq[Shape.Expansion]): Seq[String] = {
      val filter = TermFilter.prefixed(es.map(_.literalPrefix).toSet, t => es.exists(_.matches(t)))
      IndexReader.dictionary(dictionaryFiles, Some(filter), Set("term"))(_[String]("term")).toVector.sorted
    }
  }, positionsStored)

  /** The top-k executor: ONE shuffle-free Spark stage for any batch of
    * plans, one task per [[segmentGroups]] entry. Each task reads its
    * segments' files in place, pruned to the plans' terms, and runs
    * every plan over them in docId order, each plan writing into one
    * [[Wand.TopKMerger]] per query id that carries θ across segments —
    * returning the pre-merge (id, doc, score) rows, O(k · tasks) per
    * id. The plans ride in the task closure ([[SegmentTask]]); the job
    * is described as `graft:<method>`. */
  private def collectPlans(method: String, plans: Seq[(String, Plan)],
                           k: Int): Array[(String, Long, Double)] = {
    val groups = segmentGroups
    if (plans.isEmpty || groups.isEmpty) return Array.empty
    val avgdl = stats.avgdl
    val terms = plans.flatMap(_._2.terms).toSet
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$method")
    val out = new Array[Array[SegmentTask.Hit]](groups.size)
    try sc.runJob(sc.parallelize(groups, groups.size), SegmentTask(plans, terms, avgdl, k), groups.indices,
      (i: Int, hits: Array[SegmentTask.Hit]) => out(i) = hits)
    finally sc.setJobDescription(caller)
    out.flatten
  }

  private def best(hits: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    hits.sorted(BM25.hitOrdering).take(k)

  /** Lowers a batch of shapes and serves it in one postings job:
    * (query id, rank 1..k, doc, score) rows. */
  private def serve(method: String, shapes: Seq[(String, Shape)],
                    k: Int): Seq[(String, Int, Long, Double)] = {
    val plans = shapes.map(_._1).zip(lowering.lower(shapes.map(_._2)))
      .collect { case (id, Some(p)) => id -> p }
    collectPlans(method, plans, k).toSeq.groupBy(_._1).toSeq.flatMap { case (id, rows) =>
      best(rows.map(r => (r._2, r._3)), k).zipWithIndex
        .map { case ((doc, score), i) => (id, i + 1, doc, score) }
    }
  }

  private def serve1(method: String, shape: Shape, k: Int): Vector[QueryHit] =
    serve(method, Seq("" -> shape), k).map(r => QueryHit(r._3, r._4)).toVector

  /** A [[TopKSearch]] query as one postings job, `graft:<method>`. */
  protected[query] def topK(method: String, spec: QuerySpec, k: Int): Vector[QueryHit] =
    serve1(method, lowering.spec(spec), k)

  /** The pre-driver-merge collected rows — package-visible so specs
    * can pin the O(k · tasks) collect bound. */
  private[query] def searchCollect(query: String, k: Int): Array[QueryHit] =
    collectPlans("searchCollect", lowering.lower(Seq(lowering.spec(QuerySpec.Free(query)))).flatten.map("" -> _), k)
      .map(r => QueryHit(r._2, r._3))

  /**
   * Spellcheck / suggest (the Solr spellcheck component): the closest
   * dictionary terms to an input, as (term, distance, df) ordered by
   * (edit distance asc, df desc, term asc) — "nearest first, then
   * most common", Solr's popularity-weighted suggestion order, fully
   * deterministic. The candidates are [[searchFuzzy]]'s: one
   * in-process pass over the dictionary's `term` column keeps the
   * terms within `maxEdits` ([[Shape.editDistance]]), and a bounded
   * heap keeps the best `n` of them on the driver — no Spark job, and
   * O(n) rows held whatever the vocabulary size. The term is
   * lowercased, not analyzed.
   */
  def suggest(term: String, maxEdits: Int = 2, n: Int = 5): DataFrame = {
    require(n >= 0, s"n $n is negative")
    val f = Shape.fuzzy(term, maxEdits, n)
    suggestions(Seq(f), n)(f.q).toDF("term", "distance", "df")
  }

  /** Term enumeration (the Solr terms component / Lucene TermsEnum):
    * dictionary terms matching an optional prefix, with their
    * document frequencies, ordered df-desc then term-asc (Solr's
    * `terms.sort=count`) and capped at `limit` — an in-process read of
    * the dictionary row groups that meet the prefix (every one for an
    * empty prefix) into a bounded heap on the driver: no Spark job,
    * postings never touched. */
  def terms(prefix: String = "", limit: Int = 10): DataFrame = {
    require(limit > 0, "limit must be positive")
    val top = new TopN(limit, IndexReader.TermsOrder)
    IndexReader.dictionary(dictionaryFiles, Some(TermFilter.prefixed(
      Set(prefix.toLowerCase(java.util.Locale.ROOT)), _ => true)), Set("term", "df"))(
      r => (r[String]("term"), r[Long]("df"))).foreach(top.add)
    top.result.toDF("term", "df")
  }

  /** Whole-query spellcheck collation (Solr `spellcheck.collate`):
    * every query term replaced by its BEST dictionary suggestion
    * under the [[suggest]] order (edit distance asc, df desc, term
    * asc) — a term already in the dictionary is its own suggestion at
    * distance 0, so correct terms pass through unchanged and no
    * separate presence check is needed — plus the corrected query's
    * boolean (all-terms) hit count, Solr's "collation with hits"
    * response shape. The suggestions for every distinct query term
    * come from ONE in-process dictionary pass ([[bestSuggestions]]),
    * so the one Spark job is the distributed match-set count. A term
    * with no suggestion within `maxEdits` stays as typed; the
    * collation then counts 0 hits, exactly Solr's response for an
    * uncorrectable term. */
  def collate(query: String, maxEdits: Int = 2): DataFrame = {
    require(maxEdits >= 0 && maxEdits <= 2, s"maxEdits $maxEdits not in 0..2")
    val raw = analyzer.tokenize(query)
    val bestOf = bestSuggestions(raw.distinct, maxEdits)
    val corrected = raw.map(t => bestOf(t).getOrElse(t))
    val collation = corrected.mkString(" ")
    // an RDD count is one single-stage job; the Dataset count's
    // aggregate would add a shuffle stage, run as a job of its own
    val nHits = if (corrected.isEmpty) 0L else matchingDocs(collation).rdd.count()
    // column named `collated`: COLLATION is a reserved word in ANSI
    // SQL engines, which would break the cross-engine oracle
    Seq((collation, nHits)).toDF("collated", "n_hits")
  }

  /** Best dictionary suggestion per input term under the [[suggest]]
    * order, from ONE in-process dictionary pass and no Spark job
    * (`FacetSpec` pins that): None for a term with no candidate
    * within `maxEdits`. */
  private[query] def bestSuggestions(ts: Seq[String], maxEdits: Int): Map[String, Option[String]] =
    suggestions(ts.distinct.map(Shape.Fuzzy(_, maxEdits, 1)), 1).map { case (t, c) => t -> c.headOption.map(_._1) }

  /** The best `n` (term, distance, df) candidates of each fuzzy term
    * under [[IndexReader.SuggestOrder]]: one in-process pass over the
    * dictionary keeps the terms any of `fs` matches (decoding df only
    * for them), and one bounded heap per fuzzy term keeps its best. */
  private def suggestions(fs: Seq[Shape.Fuzzy], n: Int): Map[String, Vector[(String, Long, Long)]] = {
    if (fs.isEmpty) return Map.empty
    val tops = fs.map(f => f.q -> new TopN(n, IndexReader.SuggestOrder)).toMap
    val filter = TermFilter.prefixed(Set(""), t => fs.exists(_.matches(t)))
    val rows = IndexReader.dictionary(dictionaryFiles, Some(filter), Set("term", "df"))(r => (r[String]("term"), r[Long]("df")))
    for ((t, df) <- rows; f <- fs; d = Shape.editDistance(t, f.q, f.maxEdits) if d <= f.maxEdits)
      tops(f.q).add((t, d.toLong, df))
    tops.map { case (q, top) => q -> top.result }
  }

  /**
   * More-like-this (the Lucene/Solr MLT component): find documents
   * similar to a SEED document by (1) selecting the seed's most
   * "interesting" terms — highest tf·idf within the seed, Lucene's
   * MLT heuristic, subject to `minTermFreq`/`minDocFreq` floors and a
   * `maxQueryTerms` cap — and (2) running the selected terms as one
   * disjunction, excluding the seed itself from
   * the results. The seed's text is ONE row fetched from the doc
   * store and its term stats ONE dictionary lookup — O(1) driver
   * work; the search is the ordinary distributed top-k (collected at
   * k+1 so dropping the seed still leaves a full top-k).
   *
   * Selection orders by (tf·idf rounded to 4 decimals) desc, term
   * asc — the rounding makes the cutoff reproducible across engines
   * (ties in (tf, df) are exact; unequal pairs essentially never land
   * within 1e-4), exactly like the rank tie-breaks elsewhere. This
   * engine's idf is the BM25 idf used everywhere else (Lucene MLT
   * uses the classic `log(N/df)+1`; same ordering for fixed N in the
   * common range, and one consistent idf keeps selection and scoring
   * on the same scale).
   */
  def moreLikeThis(docId: Long, k: Int = 10, maxQueryTerms: Int = 25,
                   minTermFreq: Int = 1, minDocFreq: Int = 1): Vector[QueryHit] = {
    if (stats.n_docs == 0) return Vector.empty
    val seedOpt = IndexBuilder.readDocs(spark, root)
      .filter(col("doc_id") === docId).select("text").as[String]
      .collect().headOption
    if (seedOpt.isEmpty) return Vector.empty // unknown seed: no neighbors
    val tfs = analyzer.tokenize(seedOpt.get).groupBy(identity).view
      .mapValues(_.size).toMap.filter(_._2 >= math.max(1, minTermFreq))
    if (tfs.isEmpty) return Vector.empty
    val dfs = docFreqs(tfs.keys.toSeq.sorted)
      .filter(_._2 >= math.max(1, minDocFreq))
    val chosen = dfs.toSeq
      .map { case (t, df) =>
        val sc = tfs(t) * BM25.idf(df, stats.n_docs)
        (t, BigDecimal(sc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (t, sc) => (-sc, t) }
      .take(maxQueryTerms).map(_._1).sorted
    if (chosen.isEmpty) return Vector.empty
    serve1("moreLikeThis", Shape.Or(chosen.map(Shape.Term(_))), k + 1).filter(_.doc_id != docId).take(k)
  }

  /**
   * Batched top-k: MANY queries against the index in ONE Spark job —
   * the serving-scale path (per-query jobs pay scheduler latency;
   * a batch amortizes the postings scan across queries). One postings
   * scan pruned to the UNION of all query terms; each segment task
   * runs WAND per query over its term subset; the driver merges
   * per-task winners per query. Results are identical to calling
   * [[search]] per query (same summation order, same tie-break).
   *
   * @param queries (query_id, query text)
   * @return (query_id, rank, doc_id, score) rows, rank 1..k
   */
  def searchMany(queries: Seq[(String, String)], k: Int = 10): Seq[(String, Int, Long, Double)] =
    serve("searchMany", queries.map { case (id, q) => id -> lowering.spec(QuerySpec.Free(q)) }, k)

  /**
   * Mixed-shape batched serving: any [[QuerySpec]]s — free-text,
   * boolean, phrase and proximity, minimum-should-match, boosted,
   * prefix, wildcard, fuzzy and mixed (parsed) disjunctions — answered
   * together in ONE Spark job: one postings scan pruned to the union of
   * every query's terms (expansions included, each family resolved by
   * ONE batch-wide dictionary scan), per-task θ-shared evaluation per
   * query, driver merge per query. Every spec lowers exactly as its
   * [[TopKSearch]] method's does, so results are identical to calling
   * that method per query, argument checks included (SearchManySpec
   * and LoweringPropertySpec pin the parity).
   *
   * @param queries (query_id, spec)
   * @return (query_id, rank, doc_id, score), rank 1..k
   */
  def searchManyMixed(queries: Seq[(String, QuerySpec)],
                      k: Int = 10): Seq[(String, Int, Long, Double)] =
    serve("searchManyMixed", queries.map { case (id, q) => id -> lowering.spec(q) }, k)

  /**
   * Metadata-filtered top-k: BM25 over only the documents matching a
   * predicate on the doc table (staging columns: conv_id, turn_idx,
   * role, tool, text, dl, segment). Distributed and broadcast-free:
   * the allowed docIds are grouped by segment group (the one shuffle,
   * of (segment, docId) pairs), and each group's task reads its own
   * segments' postings in place, holds one segment's allowed set at a
   * time (bounded by segSize), and WAND drops disallowed candidates
   * after cursor alignment — exact filtered top-k, not
   * post-filtering. Segment groups with no allowed doc read nothing.
   */
  def searchWhere(query: String, predicate: org.apache.spark.sql.Column,
                  k: Int = 10): Vector[QueryHit] = {
    val plan = lowering.lower(Seq(lowering.spec(QuerySpec.Free(query)))).head match {
      case Some(p) => p
      case None => return Vector.empty
    }
    val avgdl = stats.avgdl
    val g = groupSize
    val groups = segmentGroups.map(segs => segs.head._1 / g -> segs).toMap
    val terms = plan.terms.toSet
    val perTask = IndexBuilder.readDocs(spark, root)
      .filter(predicate)
      .select("segment", "doc_id").as[(Int, Long)]
      .groupByKey(_._1 / g)
      .flatMapGroups { (group, allowRows) =>
        // per-segment allowed sets as SORTED primitive long arrays +
        // binary search (~8 B/doc — no boxing, no HashSet node
        // overhead): memory stays proportional to predicate
        // selectivity but at the representation floor, so even a
        // permissive predicate (≈ every doc allowed) costs segSize
        // longs per segment, not a multi-GB boxed hash set. Absent
        // segment → nothing allowed there.
        val okBySeg = new java.util.HashMap[Int, LongBuf]()
        allowRows.foreach { case (s, id) =>
          var buf = okBySeg.get(s)
          if (buf == null) { buf = new LongBuf(); okBySeg.put(s, buf) }
          buf.add(id)
        }
        val filter = Some(TermFilter.in(terms))
        val top = new Wand.TopKMerger(k)
        groups.getOrElse(group, Nil).foreach { case (seg, files) =>
          val buf = okBySeg.get(seg)
          if (buf != null && buf.nonEmpty) {
            val arr = buf.sortedArray
            plan.run(IndexReader.segmentBlocks(seg, files, filter, Set("positions")), avgdl, top,
              id => java.util.Arrays.binarySearch(arr, id) >= 0)
          }
        }
        top.result.iterator.map(h => (h.doc_id, h.score))
      }.collect()

    best(perTask.toSeq, k).map { case (d, s) => QueryHit(d, s) }.toVector
  }

  /** The relational paths' segment scan, a Dataset on the caller's
    * session: one task per [[segmentGroups]] entry reads each of its
    * segments' postings in place, pruned to `terms` (no position
    * lists), and `f` maps each segment's term → blocks to its output
    * rows. No shuffle. */
  private def scan[T: Encoder](terms: Seq[String])(
      f: Plan.Blocks => Iterator[T]): Dataset[T] = {
    val groups = segmentGroups
    val ts = terms.toSet
    implicit val tag: scala.reflect.ClassTag[T] = implicitly[Encoder[T]].clsTag
    spark.createDataset(spark.sparkContext.parallelize(groups, math.max(1, groups.size)).mapPartitions { tasks =>
      val filter = Some(TermFilter.in(ts))
      tasks.flatten.flatMap { case (seg, files) => f(IndexReader.segmentBlocks(seg, files, filter, Set("positions"))) }
    })
  }

  /**
   * The FULL match set of a boolean query as a DataFrame of docIds —
   * search as a relational operator. No scoring, no top-k heap, and
   * crucially NO driver collect: per-segment leapfrog intersection
   * emits matching docIds ([[Wand.matchingDocIds]]) and the result
   * STAYS distributed, so facet counts, joins against document
   * metadata, and bulk exports compose as ordinary DataFrame ops
   * downstream. At 100 TB the match set of a selective conjunction is
   * exactly what should flow into a shuffle — never the postings, and
   * never a driver materialization (the top-k paths collect O(k·tasks)
   * rows; a match SET is unbounded and must not come home).
   */
  def matchingDocs(mustQuery: String, notQuery: String = ""): DataFrame =
    lowering.lower(Seq(lowering.spec(QuerySpec.Boolean(mustQuery, notQuery)))).head match {
      case Some(Plan.Conj(must, not, _)) =>
        scan(must ++ not) { byTerm =>
          val (mb, nb) = byTerm.partition { case (t, _) => must.contains(t) }
          Wand.matchingDocIds(mb, nb, must)
        }.toDF("doc_id")
      case _ => spark.emptyDataset[Long].toDF("doc_id")
    }

  /**
   * The FULL scored match set of a disjunctive (optionally
   * minimum-should-match) query as a DataFrame of (doc_id, score) —
   * the scored sibling of [[matchingDocs]]. No top-k heap and NO
   * driver collect: per-segment cursor merges emit every matching
   * doc's full BM25 score ([[Wand.scoredDocIds]], bit-equal to the
   * top-k scores) and the result stays distributed, so collapsing,
   * score-thresholded exports, and metadata joins compose as ordinary
   * DataFrame ops. At 100 TB this is what must flow into a shuffle —
   * never the postings, never a driver materialization.
   */
  def scoredDocs(query: String, minMatch: Int = 1): DataFrame =
    lowering.lower(Seq(lowering.spec(QuerySpec.MinMatch(query, minMatch)))).head match {
      case Some(Plan.Disj(idfs, mm)) =>
        val avgdl = stats.avgdl
        scan(idfs.keys.toSeq.sorted)(Wand.scoredDocIds(_, idfs, avgdl, mm)).toDF("doc_id", "score")
      case _ => spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    }

  /**
   * The full scored match set under query-time SYNONYM expansion
   * (Solr's SynonymGraphFilter at query time / Lucene SynonymQuery):
   * each group of terms scores as ONE virtual term — tf summed across
   * the group's members, idf from the group's MAX member df — so a
   * document mentioning any mix of the synonyms saturates the same
   * curve a single term would, instead of stacking per-member scores
   * the way a plain OR does. Groups must be disjoint. Same segment
   * machinery and scale shape as [[scoredDocs]].
   */
  def scoredDocsSynonyms(groups: Seq[Seq[String]]): DataFrame = {
    val gs = groups.map(g => g.flatMap(analyzer.tokenize(_)).distinct.sorted)
      .filter(_.nonEmpty)
    val flat = gs.flatten
    require(flat.distinct.size == flat.size, "synonym groups must be disjoint")
    def empty = spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    if (gs.isEmpty || stats.n_docs == 0) return empty
    val dfs = docFreqs(flat)
    // groups whose every member is absent contribute nothing
    val live = gs.filter(_.exists(dfs.contains))
    if (live.isEmpty) return empty
    val groupIdfs = live.map { g =>
      BM25.idf(g.flatMap(dfs.get).max, stats.n_docs)
    }.toArray
    val termGroup = live.zipWithIndex
      .flatMap { case (g, i) => g.map(_ -> i) }.toMap
    val avgdl = stats.avgdl
    scan(live.flatten)(Wand.scoredDocIdsSynonyms(_, termGroup, groupIdfs, avgdl))
      .toDF("doc_id", "score")
  }

  /**
   * The full scored match set under the Dirichlet-smoothed
   * language-model similarity (Solr's per-field `similarity` config
   * with LMDirichletSimilarity; Zhai & Lafferty '01) — the engine's
   * second scorer, sharing the postings/dictionary/segment machinery
   * with BM25: per matched term max(0, ln(1 + tf/(μ·p(t|C))) +
   * ln(μ/(dl+μ))), p(t|C) = cf/totalTokens from the dictionary.
   * Serves through the relational path (match set → TakeOrdered at
   * the caller), not the WAND collector: the block-max metadata bounds
   * BM25's tfNorm, not the LM saturation curve, so BM25 remains the
   * pruned default scorer and the LM is the re-scoring alternative —
   * at 100 TB a scored MATCH SET is what flows into a shuffle either
   * way. Same determinism contract as [[scoredDocs]] (ascending-term
   * summation; clamp per term).
   */
  def scoredDocsDirichlet(query: String, mu: Double = 2000.0,
                          minMatch: Int = 1): DataFrame = {
    require(mu > 0, "mu must be positive")
    val mm = math.max(1, minMatch)
    val terms = lowering.terms(query)
    def empty = spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    if (terms.isEmpty || stats.n_docs == 0) return empty
    val cfs = collectionFreqs(terms)
    if (cfs.size < mm || cfs.isEmpty) return empty
    val total = totalTokens
    if (total <= 0) return empty
    val ps = cfs.map { case (t, cf) => t -> cf.toDouble / total }
    scan(terms)(Wand.scoredDocIdsDirichlet(_, ps, mu, mm)).toDF("doc_id", "score")
  }

  /**
   * Field collapsing (Solr collapse / Lucene grouping): one best-
   * scoring document per group of a metadata column, with the group's
   * match count — `scoredDocs ⨝ metadata → per-group argmax`, all
   * distributed (the shuffle carries matched (docId, score) pairs and
   * the argmax is a map-side-combinable max_by; group cardinality,
   * not corpus size, reaches the driver only if the caller collects).
   * Ties break (score desc, docId asc) via the max_by ordering key.
   * `scoreKey` optionally transforms the score BEFORE the argmax
   * (e.g. rounding, quantized relevance tiers) — the reported score
   * is the transformed one, so selection and output stay consistent.
   */
  def searchCollapse(query: String, meta: DataFrame, idCol: String,
                     groupCol: String, minMatch: Int = 1,
                     scoreKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column
                       = identity): DataFrame =
    scoredDocs(query, minMatch)
      .withColumn("score", scoreKey(col("score")))
      .join(meta.select(col(idCol).cast("long").as("doc_id"), col(groupCol)),
        Seq("doc_id"))
      .groupBy(groupCol)
      .agg(
        max_by(col("doc_id"),
          struct(col("score"), lit(0L) - col("doc_id"))).as("doc_id"),
        max(col("score")).as("score"),
        count(lit(1)).as("n_matches"))

  /** Result grouping (Solr group.field / group.limit, Lucene
    * grouping): the top `perGroup` hits per metadata group by
    * (score desc, doc_id asc), over the FULL scored match set — the
    * generalization of [[searchCollapse]] (perGroup = 1 selects the
    * same docs). One rank window per group after the match-set ⨝
    * metadata join: the shuffle carries matched (docId, score) pairs
    * partitioned BY GROUP — never a global sort, never the driver.
    * `scoreKey` as in [[searchCollapse]] (rounding before the rank
    * keeps engine and oracle selections identical). */
  def searchGroupTopK(query: String, meta: DataFrame, idCol: String,
                      groupCol: String, perGroup: Int, minMatch: Int = 1,
                      scoreKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column
                        = identity): DataFrame = {
    require(perGroup > 0, "perGroup must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("score").desc, col("doc_id").asc)
    scoredDocs(query, minMatch)
      .withColumn("score", scoreKey(col("score")))
      .join(meta.select(col(idCol).cast("long").as("doc_id"), col(groupCol)),
        Seq("doc_id"))
      .withColumn("grank", row_number().over(w).cast("long"))
      .filter(col("grank") <= perGroup)
      .select(col(groupCol), col("grank"), col("doc_id"), col("score"))
  }

  /** Function-query boosting (Solr's `boost=` / Lucene
    * FunctionScoreQuery): each match's relevance score MULTIPLIED by
    * a caller-supplied column expression over document metadata
    * (recency decay, popularity, length priors…) — scored match set ⨝
    * metadata → `score · boost` → distributed TakeOrdered, never a
    * global sort. Unlike [[searchBoosted]] (per-TERM weights inside
    * the WAND core), the function is per-DOCUMENT and outside the
    * core, so it composes with any boost shape at the cost of scoring
    * the full match set (the price Lucene pays too — a function query
    * can't be bounded by term upper bounds). `scoreKey` (e.g. 4dp
    * rounding) applies AFTER the multiply, so engine and oracle rank
    * the same values. */
  def searchBoostBy(query: String, meta: DataFrame, idCol: String,
                    boost: org.apache.spark.sql.Column, k: Int = 10,
                    minMatch: Int = 1,
                    scoreKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column
                      = identity): DataFrame = {
    require(k > 0, "k must be positive")
    scoredDocs(query, minMatch)
      .join(meta.select(col(idCol).cast("long").as("doc_id"),
        boost.cast("double").as("boost_v")), Seq("doc_id"))
      .withColumn("score", scoreKey(col("score") * col("boost_v")))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .select("doc_id", "score")
  }

  /** Re-ranking (the Solr ReRankQParser / Lucene QueryRescorer): the
    * main query's top `n` hits re-ordered by `score₁ + weight·score₂`
    * where score₂ comes from a second (usually more expensive) query;
    * docs the second query doesn't match keep score₁ — exactly
    * Solr's additive reRank semantics. The top-n cut runs on the
    * FIRST query's (rounded) scores via distributed TakeOrdered; the
    * rescore is a LEFT join of the n-row cut against the second
    * query's scored match set, so the expensive side never exceeds n
    * rows in the join. `scoreKey` applies to score₁ BEFORE the cut
    * and to the combined score, keeping both cutoffs engine-stable. */
  def rerank(query: String, rescoreQuery: String, n: Int, weight: Double,
             k: Int = 10,
             scoreKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column
               = identity): DataFrame = {
    require(n > 0 && k > 0, "n and k must be positive")
    val base = scoredDocs(query)
      .withColumn("score", scoreKey(col("score")))
      .orderBy(col("score").desc, col("doc_id").asc).limit(n)
    val re = scoredDocs(rescoreQuery)
      .withColumnRenamed("score", "score2")
    base.join(re, Seq("doc_id"), "left")
      .withColumn("score", scoreKey(
        col("score") + lit(weight) * coalesce(col("score2"), lit(0.0))))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .select("doc_id", "score")
  }

  /** Query elevation (the Solr QueryElevationComponent): editorially
    * pinned documents first, in the given order, then the organic
    * ranking. Elevated documents are included even when they do not
    * match the query (Solr's component injects them by id), with
    * organic score 0.0; elevated documents that DO match keep their
    * BM25 score but rank by elevation position. Implementation: the
    * scored match set unioned with the (tiny) elevation list as
    * zero-score rows, one map-side-combinable max-aggregate collapses
    * the overlap (BM25 scores are strictly positive, so a matching
    * elevated doc's real score wins), elevation position looked up
    * from a literal map, then ONE TakeOrdered — O(k) to the driver,
    * never the match set. Returns (doc_id, score, elevated) in final
    * rank order. */
  def elevate(query: String, elevated: Seq[Long], k: Int = 10,
              scoreKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column
                = identity): DataFrame = {
    require(k > 0, "k must be positive")
    require(elevated.nonEmpty, "elevation list must be non-empty")
    require(elevated.distinct.size == elevated.size,
      "elevation list must not repeat a doc id")
    import spark.implicits._
    val posMap = typedLit(elevated.zipWithIndex
      .map { case (id, i) => id -> (i + 1).toLong }.toMap)
    val eDf = elevated.map(id => (id, 0.0)).toDF("doc_id", "score")
    scoredDocs(query)
      .withColumn("score", scoreKey(col("score")))
      .union(eDf)
      .groupBy("doc_id").agg(max(col("score")).as("score"))
      .withColumn("elev_pos", element_at(posMap, col("doc_id")))
      .orderBy(
        when(col("elev_pos").isNotNull, lit(0)).otherwise(lit(1)).asc,
        col("elev_pos").asc_nulls_last,
        col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("score"),
        col("elev_pos").isNotNull.as("elevated"))
  }

  /** Term vectors (the Solr TermVectorComponent): per-document
    * (term, tf, df) rows for the given doc ids — tf recomputed from
    * the STORED text under the v1 chain (Solr's own fallback when
    * vectors aren't indexed reads stored fields the same way), df
    * from the index dictionary. One id-filtered doc-store scan →
    * explode → count, then each task looks its partition's distinct
    * terms up in the dictionary files in place
    * ([[IndexReader.dictionaryLookup]]) and keeps the rows with a df —
    * never a postings read (our postings are term-major; walking
    * them doc-ward would scan the whole index for k docs). Like
    * [[snippets]], exact for v1-chain indexes; a stemming chain's
    * dictionary holds stems, so its raw-token rows drop. */
  def termVectors(docIds: Seq[Long]): DataFrame = {
    require(docIds.nonEmpty, "termVectors needs at least one doc id")
    val toks = graft.operators.TextAnalysis.tokensCol(col("text"))
    IndexBuilder.readDocs(spark, root)
      .filter(col("doc_id").isInCollection(docIds))
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)]
      .mapPartitions(IndexReader.withDf(dictionaryFiles))
      .toDF("doc_id", "term", "tf", "df")
  }

  /** Per-document significant terms (tf·idf keyword extraction — the
    * Lucene MoreLikeThis "interesting terms" / Solr tv.tf_idf shape):
    * for each given document, the top `k` stored-text terms by
    * tf · ln(N/df), built on [[termVectors]] (one id-filtered
    * doc-store scan + per-task dictionary lookups). Scores are
    * rounded to 4 decimals BEFORE the per-doc cut so the ranking is
    * representation-stable across engines; ties break term-ascending.
    * The window partitions by doc_id over ≤ |docIds| · vocab rows —
    * bounded by the request, never the corpus. */
  def keywords(docIds: Seq[Long], k: Int = 5): DataFrame = {
    require(k > 0, "k must be positive")
    val n = stats.n_docs
    val tv = termVectors(docIds)
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tv.withColumn("krank", row_number().over(w).cast("long"))
      .filter(col("krank") <= k)
      .select(col("doc_id"), col("krank"), col("term"), col("tfidf"))
  }

  /** Join query (Solr's `{!join from=f to=f}` over one collection):
    * every document whose `joinCol` value appears among the boolean
    * query's matches — match set ⨝ metadata → DISTINCT join keys →
    * left-semi back onto the metadata. The key set is bounded by the
    * join column's cardinality (never the match set), so the semi-
    * join side is broadcastable at any corpus size. */
  def searchJoin(mustQuery: String, notQuery: String, meta: DataFrame,
                 idCol: String, joinCol: String): DataFrame = {
    val m = meta.select(col(idCol).cast("long").as("doc_id"), col(joinCol))
    val keys = matchingDocs(mustQuery, notQuery)
      .join(m, Seq("doc_id")).select(joinCol).distinct()
    m.join(keys, Seq(joinCol), "left_semi").select("doc_id")
  }

  /** Deep paging (Solr cursorMark / Lucene searchAfter): the next `k`
    * hits strictly AFTER a `(score, docId)` cursor in (score desc,
    * doc_id asc) order — the stateless pagination that stays O(k) per
    * page regardless of page depth, where `start=N` offset paging
    * costs O(N + k). Computed over the full scored match set with the
    * cursor as a FILTER, then `orderBy.limit(k)` — Spark plans that
    * as a distributed TakeOrdered (per-partition heaps, k rows to the
    * driver), so no page ever materializes more than k rows anywhere.
    * Hits come back page-ordered. Pass the last hit of a page as the
    * next page's cursor; with `scoreKey` rounding (recommended — it
    * makes the cursor representation-stable across engines) ties are
    * broken by doc_id exactly as the ordering does, so pages never
    * skip or repeat a document. */
  def searchAfter(query: String, k: Int = 10,
                  after: Option[(Double, Long)] = None, minMatch: Int = 1,
                  scoreKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column
                    = identity): Vector[QueryHit] = {
    require(k > 0, "k must be positive")
    val scored = scoredDocs(query, minMatch)
      .withColumn("score", scoreKey(col("score")))
    val paged = after match {
      case Some((s, id)) =>
        scored.filter(col("score") < s ||
          (col("score") === s && col("doc_id") > id))
      case None => scored
    }
    paged.orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .collect().iterator
      .map(r => QueryHit(r.getLong(r.fieldIndex("doc_id")),
        r.getDouble(r.fieldIndex("score"))))
      .toVector
  }

  /** Snippet generation (the Solr highlighter / Lucene
    * FastVectorHighlighter shape): for the given doc ids, a `width`-
    * token window of the STORED text centered on the first query-term
    * occurrence, matched terms wrapped in `<em>`. All column
    * expressions over the doc store (one Parquet scan filtered to the
    * k hit ids — an id IN-filter Parquet can evaluate against row-
    * group stats): v1 tokens → first-match position (array_position
    * per term, 0 = absent mapped to a sentinel, least) → slice →
    * per-token wrap → join. Tokens come from the V1 chain of the
    * stored text, and a token is marked iff it equals an ANALYZED
    * query term — exact for v1-chain indexes (the common case); under
    * a stemming chain morphological variants score but are not
    * marked, the classic highlighter/analyzer mismatch Lucene
    * documents for its own highlighters. */
  def snippets(query: String, docIds: Seq[Long], width: Int = 10): DataFrame = {
    require(width > 0, "width must be positive")
    val terms = analyzer.tokenize(query).distinct.sorted
    val Big = 999999999L
    val toks = graft.operators.TextAnalysis.tokensCol(col("text"))
    val firstPos = least(terms.map { t =>
      val ap = array_position(col("ts"), t)
      when(ap === 0, Big).otherwise(ap)
    }: _*)
    IndexBuilder.readDocs(spark, root)
      .filter(col("doc_id").isInCollection(docIds))
      .withColumn("ts", toks)
      .withColumn("mpos",
        when(firstPos === Big, 1L).otherwise(firstPos))
      .withColumn("start", greatest(lit(1L), col("mpos") - lit(width / 2)))
      .withColumn("sn", slice(col("ts"), col("start").cast("int"), lit(width)))
      .withColumn("snippet", array_join(
        transform(col("sn"), t =>
          when(t.isInCollection(terms), concat(lit("<em>"), t, lit("</em>")))
            .otherwise(t)), " "))
      .select(col("doc_id"), col("snippet"))
  }

  /** Highlighted top-k serving: [[search]]'s hits joined with their
    * [[snippets]] — (doc_id, score, snippet), score-desc order left
    * to the caller (the k-row join output is driver-sized). */
  def highlight(query: String, k: Int = 10, width: Int = 10): DataFrame = {
    val hits = search(query, k)
    val hitsDF = spark.createDataFrame(hits.map(h => (h.doc_id, h.score)))
      .toDF("doc_id", "score")
    hitsDF.join(snippets(query, hits.map(_.doc_id), width), Seq("doc_id"))
      .select("doc_id", "score", "snippet")
  }

  /** Facet queries (Solr `facet.query`): the match-set COUNT of each
    * named boolean (must, not) subquery — arbitrary-predicate facet
    * buckets next to [[facetCounts]]'s field buckets. One distributed
    * count per subquery (matchingDocs → map-side-combinable count —
    * one 8-byte row per task reaches the shuffle), unioned; the union
    * of K single-row aggregates is K independent tiny jobs, never a
    * cross-query shuffle. */
  def facetQueries(queries: Seq[(String, String, String)]): DataFrame = {
    require(queries.nonEmpty, "facetQueries needs at least one subquery")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate facet name")
    queries.map { case (name, must, not) =>
      matchingDocs(must, not).agg(count(lit(1)).as("n_docs"))
        .select(lit(name).as("facet"), col("n_docs"))
    }.reduce(_ unionAll _)
  }

  /** Facet counts over a boolean query's match set — the Solr/Lucene
    * faceting shape the reference's search sinks expose: matching docs
    * grouped by a metadata column. Computed as match-set ⨝ metadata →
    * count, all distributed: the join shuffles only MATCHED docIds
    * (8 B rows) and the count is map-side combinable. */
  def facetCounts(mustQuery: String, notQuery: String,
                  meta: DataFrame, idCol: String, facetCol: String): DataFrame =
    // cast like the sibling facet methods: a string id column would
    // otherwise coerce BOTH join sides to double and silently mis-join
    // ids above 2^53
    matchingDocs(mustQuery, notQuery)
      .join(meta.select(col(idCol).cast("long").as("doc_id"), col(facetCol)),
        Seq("doc_id"))
      .groupBy(facetCol).agg(count(lit(1)).as("n_docs"))

  /** Pivot (multi-level) faceting (Solr facet.pivot): match-set
    * counts per COMBINATION of metadata columns — the flat relational
    * form of Solr's nested pivot tree (the nesting is a driver-side
    * rollup of these rows if a caller wants it). Same single
    * map-side-combinable aggregate as [[facetCounts]]; cardinality of
    * the output is the product of the pivot columns' cardinalities at
    * worst, never the match set. */
  def facetPivot(mustQuery: String, notQuery: String, meta: DataFrame,
                 idCol: String, pivotCols: Seq[String]): DataFrame = {
    require(pivotCols.nonEmpty, "facetPivot needs at least one column")
    matchingDocs(mustQuery, notQuery)
      .join(meta.select(col(idCol).cast("long").as("doc_id") +:
        pivotCols.map(col): _*), Seq("doc_id"))
      .groupBy(pivotCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Range faceting (Solr facet.range): fixed-width numeric bins over
    * the match set — each matched doc lands in the bin
    * `start + width·⌊(v − start)/width⌋`; bins with no matches are
    * absent (Solr's `mincount=1` shape). The bin arithmetic is plain
    * integer-in-double math (exact for any realistic column range),
    * so an oracle reproduces it verbatim. */
  def facetRange(mustQuery: String, notQuery: String, meta: DataFrame,
                 idCol: String, rangeCol: String,
                 start: Long, width: Long): DataFrame = {
    require(width > 0, "width must be positive")
    matchingDocs(mustQuery, notQuery)
      .join(meta.select(col(idCol).cast("long").as("doc_id"), col(rangeCol)),
        Seq("doc_id"))
      .withColumn("bin_start", (lit(start) +
        floor((col(rangeCol) - lit(start)) / lit(width.toDouble)) * lit(width))
        .cast("long"))
      .groupBy("bin_start").agg(count(lit(1)).as("n_docs"))
  }

  /** Sorted-by-field serving (the Solr `sort=<field> asc|desc` form):
    * top-k of a boolean query's match set ordered by a METADATA
    * column instead of relevance, doc_id-asc tie-break — match-set ⨝
    * metadata → `orderBy.limit(k)`, which Spark plans as a
    * distributed TakeOrdered (per-partition heaps, k rows to the
    * driver), never a global sort of the match set. */
  def searchSortBy(mustQuery: String, notQuery: String, meta: DataFrame,
                   idCol: String, sortCol: String, asc: Boolean = true,
                   k: Int = 10): DataFrame = {
    val s = col(sortCol)
    matchingDocs(mustQuery, notQuery)
      .join(meta.select(col(idCol).cast("long").as("doc_id"), s), Seq("doc_id"))
      .orderBy((if (asc) s.asc else s.desc), col("doc_id").asc)
      .limit(k)
  }

  /** Stats faceting (the Solr stats component / JSON `stats` facet):
    * count + min/max/sum of a numeric metadata column per facet
    * group, over a boolean query's match set. Same shape as
    * [[facetCounts]] — match-set ⨝ metadata → one hash aggregate, all
    * partial (map-side-combinable), so the shuffle carries one row
    * per (task, group), never the match set. The mean is left to the
    * caller (`sum_v / n_docs`) so every emitted stat is an exact
    * integer-safe aggregate. */
  def facetStats(mustQuery: String, notQuery: String, meta: DataFrame,
                 idCol: String, facetCol: String, statCol: String): DataFrame =
    matchingDocs(mustQuery, notQuery)
      .join(meta.select(col(idCol).cast("long").as("doc_id"),
        col(facetCol), col(statCol)), Seq("doc_id"))
      .groupBy(facetCol)
      .agg(count(lit(1)).as("n_docs"),
        min(col(statCol)).as("min_v"),
        max(col(statCol)).as("max_v"),
        sum(col(statCol)).as("sum_v"))

  /** Block-join parent query (Lucene ToParentBlockJoinQuery / Solr
    * `{!parent}` with a score mode): children matching the query roll
    * up to their parents, parent score = `max` | `avg` | `total` of
    * the matching children's scores (Lucene's ScoreMode), plus the
    * matching-child count. One scored-match-set ⨝ parent-key
    * projection, one map-side-combinable aggregate, one TakeOrdered —
    * the same scale shape as [[searchCollapse]], with the parent key
    * playing the group. `scoreKey` (rounding) applies to child scores
    * BEFORE the roll-up and to the parent score after, keeping both
    * cutoffs engine-stable; `max` needs no re-round (max of rounded
    * values is exact cross-engine). */
  def searchParentsBlockJoin(query: String, meta: DataFrame, idCol: String,
                             parentCol: String, scoreMode: String, k: Int = 10,
                             scoreKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column
                               = identity): DataFrame = {
    require(k > 0, "k must be positive")
    val agg = scoreMode match {
      case "max"   => max(col("score"))
      case "avg"   => avg(col("score"))
      case "total" => sum(col("score"))
      case other => throw new IllegalArgumentException(
        s"unknown score mode '$other' (max | avg | total)")
    }
    scoredDocs(query)
      .withColumn("score", scoreKey(col("score")))
      .join(meta.select(col(idCol).cast("long").as("doc_id"),
        col(parentCol).as("parent_id")), Seq("doc_id"))
      .groupBy("parent_id")
      .agg(agg.as("score"), count(lit(1)).as("n_children"))
      .withColumn("score", scoreKey(col("score")))
      .orderBy(col("score").desc, col("parent_id").asc).limit(k)
      .select("parent_id", "score", "n_children")
  }

  /** Graph query (Solr `{!graph from=f to=t maxDepth=N}`): BFS from
    * the root query's match set over the edge relation "document d₂
    * follows d₁ when d₂[to] = d₁[from]", up to `maxDepth` hops.
    * Returns (doc_id, depth) with depth the FIRST-reach BFS depth
    * (0 for roots) — equal to the min-depth over all paths, which the
    * oracle reproduces with a bounded recursive closure.
    *
    * Scale shape: per hop, one frontier⨝meta projection to DISTINCT
    * follow keys (bounded by the key domain, broadcastable — the same
    * argument as [[searchJoin]]), one keyed join back, and one
    * anti-join against the reached set; ≤ maxDepth rounds, each
    * lineage-truncated with an eager localCheckpoint (see
    * [[graft.operators.Dedup.nearDupComponents]] for why persist
    * alone lets iterative plans grow 2^rounds). The metadata frame is
    * NOT checkpointed — its plan is round-constant. */
  def graphTraverse(rootMust: String, rootNot: String, meta: DataFrame,
                    idCol: String, fromCol: String, toCol: String,
                    maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    // the edge relation stays a lazy column-pruned scan: each hop
    // re-reads 3 columns, which scales (a localCheckpoint here would
    // materialize a corpus-sized copy — the atomicSet anti-pattern)
    val m = meta.select(col(idCol).cast("long").as("doc_id"),
      col(fromCol).as("f"), col(toCol).as("t"))
    var reached = matchingDocs(rootMust, rootNot)
      .withColumn("depth", lit(0L)).localCheckpoint(true)
    var frontier = reached
    var depth = 0L
    while (depth < maxDepth && !frontier.isEmpty) {
      val keys = frontier.join(m, Seq("doc_id"))
        .select(col("f").as("k")).distinct()
      val newDocs = m.join(keys, m("t") === keys("k"))
        .select(col("doc_id")).distinct()
        .join(reached.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("depth", lit(depth + 1L))
        .localCheckpoint(true)
      // each frontier is checkpointed, so `reached` stays a FLAT union
      // of ≤ maxDepth+1 checkpointed scans — linear, not the
      // 2^rounds self-reference growth the CC loop guards against; no
      // per-hop re-materialization of the whole reached set needed
      reached = reached.union(newDocs)
      frontier = newDocs
      depth += 1
    }
    reached
  }

  /** Stats-component percentiles (Solr `stats.percentiles`): EXACT
    * linear-interpolated quantiles of a metadata stat per facet value
    * over the boolean match set — Spark's exact `percentile` and
    * DuckDB's `quantile_cont` share the same R-7 definition
    * (rank = p·(n−1), linear interpolation), so the oracle reproduces
    * the values to rounding. The exact aggregator holds each group's
    * (value → count) map — bounded by the stat's per-group
    * cardinality, the tradeoff Solr itself makes for exact
    * percentiles (its default is t-digest approximation; swap in
    * percentile_approx for that regime at 100 TB). */
  def facetPercentiles(mustQuery: String, notQuery: String, meta: DataFrame,
                       idCol: String, facetCol: String, statCol: String,
                       pLo: Double = 0.5, pHi: Double = 0.95): DataFrame =
    matchingDocs(mustQuery, notQuery)
      .join(meta.select(col(idCol).cast("long").as("doc_id"),
        col(facetCol), col(statCol)), Seq("doc_id"))
      .groupBy(facetCol)
      .agg(count(lit(1)).as("n_docs"),
        round(percentile(col(statCol), lit(pLo)), 4).as("p_lo"),
        round(percentile(col(statCol), lit(pHi)), 4).as("p_hi"))

  /** Top-k joined back to (conv_id, turn_idx) via doc_stats. */
  def searchRanked(query: String, k: Int = 10): Seq[RankedTurn] = {
    val hits = search(query, k)
    if (hits.isEmpty) return Seq.empty
    val ids = hits.map(_.doc_id)
    val meta = IndexBuilder.readDocs(spark, root)
      .filter(col("doc_id").isInCollection(ids))
      .select("doc_id", "conv_id", "turn_idx")
      .as[(Long, String, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    hits.map { h =>
      val (cid, tix) = meta(h.doc_id)
      RankedTurn(h.doc_id, h.score, cid, tix)
    }
  }

  /** Search as a DataFrame with 1-based rank (for SparkEntry/Verify). */
  def searchDF(query: String, k: Int = 10): DataFrame = {
    val rows = searchRanked(query, k).zipWithIndex.map { case (r, i) =>
      (i + 1, r.doc_id, r.score, r.conv_id, r.turn_idx)
    }
    spark.createDataFrame(rows)
      .toDF("rank", "doc_id", "score", "conv_id", "turn_idx")
  }
}

/** The least `n` values added under `ord`, ascending: a bounded
  * max-heap, so a stream of any length holds at most `n`. */
private[query] final class TopN[T](n: Int, ord: Ordering[T]) {
  private val heap = scala.collection.mutable.PriorityQueue.empty[T](ord)
  def add(x: T): Unit = { heap.enqueue(x); if (heap.size > n) heap.dequeue() }
  def result: Vector[T] = heap.toVector.sorted(ord)
}

/** Growable primitive long buffer → sorted array (the searchWhere
  * allowed-set representation: 8 B/doc, binary-search membership). */
private[query] final class LongBuf {
  private var a = new Array[Long](16)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
    a(n) = v; n += 1
  }
  def nonEmpty: Boolean = n > 0
  def sortedArray: Array[Long] = {
    val out = java.util.Arrays.copyOf(a, n)
    java.util.Arrays.sort(out)
    out
  }
}

object IndexReader {

  /** `dir` as a local path: a `file:` URI maps to its path, any other
    * scheme throws, since every index file is read in place. */
  private[query] def localDir(dir: String): String =
    if (!dir.matches("(?s)[A-Za-z][A-Za-z0-9+.-]*:.*")) dir
    else {
      val uri = new java.net.URI(dir)
      require(uri.getScheme.equalsIgnoreCase("file"),
        s"index dir $dir is not on the local file system: its files are read in place")
      Paths.get(uri).toString
    }

  /** The index's corpus stats, read in-process and format-checked: the
    * table is written as one file of one row, and anything else throws. */
  private[query] def readStats(dir: String): CorpusStats = {
    val table = IndexBuilder.corpusStatsDir(dir)
    val rows = LocalParquet.files(Paths.get(table)).flatMap(f => LocalParquet.read(f) { r =>
      CorpusStats(r[Long]("n_docs"), r[Double]("avgdl"), r[Long]("n_terms"),
        r[Int]("index_version"), r[Int]("tokenizer_version"), r[String]("analyzer"))
    })
    require(rows.size == 1, s"corpus stats table $table holds ${rows.size} rows, not one")
    graft.model.IndexFormat.check(rows.head, dir)
    rows.head
  }

  /** The manifest's `store_positions` flag (a missing key is an older
    * positional build → true). */
  private[query] def positionsStored(dir: String): Boolean = graft.store.Manifest
    .read(graft.store.Manifest.phaseAPath(IndexBuilder.manifestDir(dir)))
    .flatMap(_.get("store_positions")).forall(_ == "true")

  /** The `postings/segment=N` listing: each segment's postings files,
    * ascending by segment. */
  private[query] def segments(dir: String): Seq[(Int, Seq[String])] =
    LocalParquet.partitions(Paths.get(IndexBuilder.postingsDir(dir)), "segment")
      .map { case (seg, d) => seg -> LocalParquet.files(d).map(_.toString) }

  private[query] def dictionaryFiles(dir: String): Seq[String] =
    LocalParquet.files(Paths.get(IndexBuilder.dictionaryDir(dir))).map(_.toString)

  /** The one read of the dictionary files on the query side: the rows
    * `filter` keeps (every row when None), each mapped by `f`,
    * streamed one row group at a time, decoding only `columns` (and
    * the filter's `term`). */
  private[query] def dictionary[T](files: Seq[String], filter: Option[TermFilter],
                                   columns: Set[String])(f: LocalParquet.Row => T): Iterator[T] =
    files.iterator.flatMap(p => LocalParquet.rows(Paths.get(p), filter, Set("term", "df", "cf") -- columns)(f))

  /** `field` (df or cf) of each of `terms` present in the dictionary
    * files — an in-process read of only the row groups whose term
    * range can hold one of them. */
  private[query] def dictionaryLookup(files: Seq[String], terms: Seq[String],
                                      field: String): Map[String, Long] =
    dictionary(files, Some(TermFilter.in(terms.toSet)), Set("term", field))(
      r => r[String]("term") -> r[Long](field)).toMap

  /** [[IndexReader.termVectors]]' task: its partition's (doc, term, tf)
    * rows with each term's df, from one lookup of the partition's
    * distinct terms; a term the dictionary lacks drops, as in an
    * inner join. */
  private[query] def withDf(files: Seq[String]): Iterator[(Long, String, Long)] => Iterator[(Long, String, Long, Long)] =
    rows => {
      val rs = rows.toVector
      val dfs = dictionaryLookup(files, rs.map(_._2).distinct, "df")
      rs.iterator.collect { case (doc, t, tf) if dfs.contains(t) => (doc, t, tf, dfs(t)) }
    }

  /** Spark's string order, by UTF-8 bytes (`String.compareTo`
    * compares UTF-16 units, which differ above U+E000). */
  private val Utf8Order: Ordering[String] = Ordering.by(UTF8String.fromString)

  /** [[IndexReader.suggest]]'s order of (term, distance, df): nearest,
    * then most common, then term. */
  private[query] val SuggestOrder: Ordering[(String, Long, Long)] =
    Ordering.Tuple3(Ordering.Long, Ordering.Long.reverse, Utf8Order).on(c => (c._2, c._3, c._1))

  /** [[IndexReader.terms]]' order of (term, df): most common, then term. */
  private[query] val TermsOrder: Ordering[(String, Long)] =
    Ordering.Tuple2(Ordering.Long.reverse, Utf8Order).on(_.swap)

  /** One segment's postings, read in place: the blocks of the terms
    * `filter` keeps (every term when None), by term, in file order;
    * the columns in `without` stay null, and so do `block_id` and
    * `block_cf` (0), which no query kernel reads: a block decode sizes
    * its arrays from `n_docs` and the `tfs` prefix sums. The one read
    * of postings files on the query side. */
  private[query] def segmentBlocks(seg: Int, files: Seq[String], filter: Option[TermFilter],
                                   without: Set[String]): Plan.Blocks =
    files.iterator.flatMap(f => LocalParquet.read(Paths.get(f), filter, without ++ Set("block_id", "block_cf"))(blockRow(seg, _)))
      .toVector.groupBy(_.term)

  /** A postings row of `segment` (a partition column, so not in the
    * file); a missing `positions` value is null, a missing
    * `block_id` or `block_cf` 0. */
  private[query] def blockRow(segment: Int, r: LocalParquet.Row): PostingBlockRow =
    PostingBlockRow(r[String]("term"), segment, r[Int]("block_id"), r[Int]("n_docs"),
      r[Long]("max_doc_id"), r[Int]("block_max_tf"), r[Int]("block_min_dl"),
      r[Array[Byte]]("doc_deltas"), r[Array[Byte]]("tfs"), r[Array[Byte]]("dls"),
      r[Array[Byte]]("positions"), r[Long]("block_cf"))
}

/** The query task of [[IndexReader]]'s executor. Spark's closure
  * cleaner reads the class that defines a job's function with ASM on
  * every job; defining it in this small object, and passing it to the
  * `runJob` overload that takes it as is, keeps that read off the large
  * `IndexReader`, `RDD` and `SparkContext` classes. */
private[query] object SegmentTask {
  type Hit = (String, Long, Double)

  /** A task over segment groups: each segment's postings files read in
    * place, pruned to `terms`, then every plan run over the segments in
    * docId order, each writing straight into its query id's one
    * [[Wand.TopKMerger]], whose live k-th score is θ. */
  def apply(plans: Seq[(String, Plan)], terms: Set[String], avgdl: Double,
            k: Int): (TaskContext, Iterator[Seq[(Int, Seq[String])]]) => Array[Hit] = (_, tasks) => {
    // only proximity plans read position lists
    val without = if (plans.exists(p => p._2.isInstanceOf[Plan.Near] || p._2.isInstanceOf[Plan.NearUnordered]))
      Set.empty[String] else Set("positions")
    val filter = Some(TermFilter.in(terms))
    val mergers = scala.collection.mutable.LinkedHashMap.empty[String, Wand.TopKMerger]
    tasks.flatten.foreach { case (seg, files) =>
      val byTerm = IndexReader.segmentBlocks(seg, files, filter, without)
      if (byTerm.nonEmpty)
        plans.foreach { case (id, p) => p.run(byTerm, avgdl, mergers.getOrElseUpdate(id, new Wand.TopKMerger(k))) }
    }
    mergers.iterator.flatMap { case (id, m) => m.result.iterator.map(h => (id, h.doc_id, h.score)) }.toArray
  }
}
