package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/**
 * Deduplication operators for large-scale training-data pipelines.
 * The reference's own dedup is id/hash-based scan memory
 * (`/root/reference/code/ingest/src/main/java/org/jesterj/ingest/model/impl/ScannerImpl.java:365-417`);
 * exact dedup generalizes it, and the near-dup family (MinHash-LSH,
 * SimHash, n-gram Jaccard) follows the standard public constructions
 * (Broder '97 resemblance/minwise hashing; Charikar '02 simhash).
 *
 * All operators are shuffle-once designs: candidate generation goes
 * through band/bucket keys (bounded fan-out), never an O(n²) cross
 * join. Hashes are explicit arithmetic (xxhash64 / polynomial), so
 * results are deterministic at any parallelism.
 */
object Dedup {

  /** Keep-lowest-k bucket cap as ONE map-side-combinable aggregate
    * (Spark's own `CollectTopK`, a `TypedImperativeAggregate` holding a
    * bounded priority queue of ≤ k members): returns each group's k
    * smallest `member` structs as an ascending-sorted array — exactly
    * `sort_array(collect_list(...))` over rows a `row_number() ≤ k`
    * window kept, but WITHOUT the window. The window form was the hot-
    * key sort it defended against: every member of a pathological
    * bucket (one boilerplate chunk value shared by 10⁷ docs — carrying
    * full embedding vectors in [[embeddingNearDups]]) was shuffled into
    * ONE window-sort task before the cap dropped it. Partial
    * aggregation caps each bucket at k members PER MAP TASK before the
    * exchange, so the reduce side of a hot bucket merges ≤ k·tasks
    * bounded queues instead of sorting 10⁷ rows. Deterministic at any
    * parallelism (ids are unique per bucket, so the struct ordering is
    * the id ordering the window used). */
  private[operators] def bottomK(member: Column, k: Int): Column =
    ColumnBridge.bottomK(member, k)

  /** Exact dedup: keep the lowest-id row per distinct content hash.
    * One hash-groupBy shuffle on a 64-bit key; at 100 TB this is a
    * map-side-combine aggregation, never a row-level row_number sort. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Exact-dedup survivor set: rows whose id is the keeper. */
  def exactDedupRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactDedup(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Engine-analyzer token array (mirrors graft.analysis.Tokenizer V1:
    * lowercase + maximal [a-z0-9] runs) as a column expression —
    * ONE native scan ([[graft.functions.TokensExpr]]; the declarative
    * twin `DeclOracles.tokensDecl` is kept as the spec'd parity reference: its
    * trailing `filter` HOF was interpreted per row). */
  def tokens(textCol: Column): Column =
    graft.functions.TokensExpr(lower(textCol))

  /** Word k-shingles as a distinct array (engine-analyzer tokens, so
    * dedup and the fulltext index agree on what a "word" is).
    * Tokenize → window → join → first-occurrence dedup run in ONE
    * native pass ([[graft.functions.ShinglesExpr]]); null and
    * token-less text both degrade to an EMPTY array, exactly like the
    * declarative `DeclOracles.shinglesDecl` twin it replaced (whose greatest()
    * skips the null size, so even null text folds to []) — the
    * shingle stream is corpus × tokens wide, and the interpreted
    * transform/slice/array_join/array_distinct chain dominated the
    * decontamination and n-gram-Jaccard profiles. */
  def shingles(textCol: Column, k: Int): Column =
    coalesce(graft.functions.ShinglesExpr(lower(textCol), k),
      array().cast("array<string>"))

  /**
   * Oracle-checkable MinHash signatures: shingle hashes are the
   * cross-engine polynomial hash ([[Hashing.polyHash]]) instead of
   * xxhash64, so an external SQL engine reproduces the signature
   * bit-for-bit. Returns (doc_id, s1..s`numHashes`). Production
   * candidate generation ([[minHashCandidates]]) keeps xxhash64.
   */
  def minHashSignaturesPoly(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 8, shingleK: Int = 3): DataFrame = {
    // shingling + hashing + n-way min in one native loop
    // (graft.functions.MinHashSigExpr; null = doc yields no shingles)
    val sig = df.select(col(idCol).as("doc_id"),
        graft.functions.MinHashSigExpr(tokens(col(textCol)), shingleK,
          numHashes, crossEngine = true).as("sig"))
      .filter(col("sig").isNotNull)
    sig.select(col("doc_id") +:
      (1 to numHashes).map(i => element_at(col("sig"), i).as(s"s$i")): _*)
  }

  /** SimHash fingerprint of a token-hash array: all bit votes in one
    * native pass ([[graft.functions.SimHashExpr]]); null input (null
    * text → null token array) degrades to fingerprint 0, exactly like
    * the declarative form it replaced (`DeclOracles.simHashDecl`, kept as the
    * spec'd parity reference). */
  def simHashBits(tokenHashes: Column, bits: Int): Column =
    coalesce(graft.functions.SimHashExpr(tokenHashes, bits), lit(0L))

  /** Fully fused SimHash over raw text: tokenize → dedupe → hash →
    * vote in one scan ([[graft.functions.SimHashTextExpr]]); null
    * text degrades to fingerprint 0 like the declarative chain. */
  def simHashText(textCol: Column, bits: Int, poly: Boolean): Column =
    coalesce(graft.functions.SimHashTextExpr(lower(textCol), bits, poly), lit(0L))

  /** Oracle-checkable SimHash over `bits` low bits of the polynomial
    * token hash (production [[simHash]] uses 64-bit xxhash64). */
  def simHashPoly(df: DataFrame, idCol: String, textCol: String,
                  bits: Int = 16): DataFrame =
    df.select(col(idCol).as("doc_id"),
      simHashText(col(textCol), bits, poly = true).as("simhash"))

  /**
   * MinHash signatures + LSH banding (Broder '97 / Leskovec-Rajaraman-
   * Ullman MMDS ch.3). `numHashes` permutations approximated by
   * (a_i * h + b_i) mod p over xxhash64 shingle hashes; signatures cut
   * into `bands` bands of `rowsPerBand`; equal band-hash → candidate
   * pair. Returns candidate pairs (id_a < id_b) with estimated
   * similarity = fraction of matching signature positions.
   *
   * Scale shape: explode is per (doc, band) — corpus × bands rows, not
   * corpus² — and the band-groupBy shuffle carries 16-byte keys. Bucket
   * skew (a band value shared by thousands of near-dup docs) is capped
   * by `maxBucketSize` exactly like AQE skew caps a join.
   */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, maxBucketSize: Int = 64,
                        crossEngine: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // shingle hash folded into [0, P) so the affine rehash never
    // overflows signed-64 (ANSI-safe: a, b < 1e6 ⇒ a*h + b < ~1e15).
    // crossEngine swaps xxhash64 (Spark-only, fast) for the polynomial
    // hash an external SQL oracle reproduces — every other step is
    // shared, so the oracle validates the banding/capping/pairing
    // construction itself. Shingling + hashing + signature mins run in
    // one native loop (graft.functions.MinHashSigExpr).
    val sig = df.select(col(idCol).as("id"),
        graft.functions.MinHashSigExpr(tokens(col(textCol)), shingleK,
          numHashes, crossEngine).as("sig"))
      .filter(col("sig").isNotNull)
    // band key = hash of the band's slice of the signature, all bands
    // in ONE native loop ([[graft.functions.BandHashExpr]]; the
    // declarative transform/slice/array_join twin is `DeclOracles.bandHashDecl`,
    // parity spec'd)
    val banded = sig.select(col("id"), col("sig"),
      posexplode(graft.functions.BandHashExpr(col("sig"), bands, rowsPerBand,
        crossEngine)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    // cap pathological buckets (boilerplate-heavy corpora) and collect
    // each bucket's member list in ONE keep-lowest-k aggregate
    // ([[bottomK]]): a single shuffle of ≤ maxBucketSize (id, sig)
    // members per bucket PER MAP TASK — no window, so a hot band value
    // never funnels its members into one sort task (the old self-join
    // shuffled the signature pipeline three times; the round-5 window
    // cap still sorted every hot-bucket member in one task).
    val buckets = banded.groupBy("band", "band_hash")
      .agg(bottomK(struct(col("id"), col("sig")), maxBucketSize).as("m"))
      .filter(size(col("m")) >= 2)
    // pairs (i < j over the id-sorted member list ⇒ id_a < id_b);
    // est_jaccard = fraction of matching signature positions, counted
    // by the fused native kernel (one loop per pair; the declarative
    // zip_with + filter twin is `DeclOracles.sigEqCountDecl`, parity spec'd) —
    // the compare runs maxBucketSize²/2 times per hot bucket, the LSH
    // stage's hottest loop
    val pairs = flatten(transform(sequence(lit(0), size(col("m")) - 2), i =>
      transform(sequence(i + 1, size(col("m")) - 1), j =>
        struct(
          col("m")(i).getField("id").as("id_a"),
          col("m")(j).getField("id").as("id_b"),
          (graft.functions.SigEqCountExpr(
            col("m")(i).getField("sig"), col("m")(j).getField("sig"))
            / lit(numHashes.toDouble)).as("est_jaccard")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.est_jaccard"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs above a similarity threshold. */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8,
                      crossEngine: Boolean = false): DataFrame =
    minHashCandidates(df, idCol, textCol, crossEngine = crossEngine)
      .filter(col("est_jaccard") >= threshold)

  /**
   * SimHash (Charikar '02): 64-bit fingerprint where bit j is the sign
   * of Σ_tokens (±1 by token-hash bit j). Near-dups = fingerprints
   * within `maxHammingDistance`. Candidate generation by 4×16-bit
   * chunk banding (Manku et al. WWW'07): dups within Hamming ≤ 3 share
   * at least one exact chunk.
   */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // same token definition as the engine analyzer and the oracle twin
    // ([[simHashPoly]]): prod and oracle variants differ ONLY in the
    // hash function, so the oracle validates tokenization. Fully fused:
    // tokenize → dedupe → xxhash64 → all 64 bit votes in ONE scan (the
    // round-3 form folded the token-hash array once per bit through
    // interpreted HOFs, and even the native-vote form still built the
    // distinct token array through interpreted transform/filter).
    df.select(col(idCol).as("id"),
      simHashText(col(textCol), 64, poly = false).as("simhash"))

  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHammingDistance: Int = 3,
                      maxBucketSize: Int = 64): DataFrame =
    simHashNearDupsFrom(simHash(df, idCol, textCol), bits = 64,
      nChunks = 4, maxHammingDistance = maxHammingDistance,
      maxBucketSize = maxBucketSize)

  /** Chunk-banding near-dup pairs over an existing `(id, simhash)`
    * fingerprint table (Manku et al. WWW'07: fingerprints within
    * Hamming ≤ nChunks − 1 share at least one exact chunk). Split out
    * so the oracle-checkable polynomial fingerprints go through the
    * SAME banding/join construction as the production 64-bit path —
    * the `d_simhash_pairs` gate entry validates it end-to-end.
    *
    * Same single-shuffle shape as [[minHashCandidates]]: banded rows
    * group on (chunk, chunk_val) and each bucket's pairs are emitted
    * from ONE id-sorted member list, with `maxBucketSize` capping
    * pathological buckets (a boilerplate-heavy corpus can share one
    * hot chunk value across thousands of docs — uncapped, that bucket
    * emits O(m²) pairs, the exact skew mode AQE caps on joins). The
    * cap keeps both aggregator memory and pair fan-out bounded;
    * capped members are the lowest `maxBucketSize` ids (deterministic
    * at any parallelism). */
  def simHashNearDupsFrom(fp: DataFrame, bits: Int, nChunks: Int,
                          maxHammingDistance: Int,
                          maxBucketSize: Int = 64): DataFrame = {
    require(bits % nChunks == 0, "nChunks must divide bits")
    val chunkBits = bits / nChunks
    val mask = (1L << chunkBits) - 1
    val banded = fp.select(col("id"), col("simhash"),
      posexplode(array((0 until nChunks).map(c =>
        shiftrightunsigned(col("simhash"), c * chunkBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val buckets = banded.groupBy("chunk", "chunk_val")
      .agg(bottomK(struct(col("id"), col("simhash")), maxBucketSize).as("m"))
      .filter(size(col("m")) >= 2)
    val pairs = flatten(transform(sequence(lit(0), size(col("m")) - 2), i =>
      transform(sequence(i + 1, size(col("m")) - 1), j =>
        struct(
          col("m")(i).getField("id").as("id_a"),
          col("m")(j).getField("id").as("id_b"),
          bit_count(col("m")(i).getField("simhash")
            .bitwiseXOR(col("m")(j).getField("simhash"))).cast("long").as("hamming")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .distinct()
      .filter(col("hamming") <= maxHammingDistance)
  }

  /**
   * Benchmark decontamination — the n-gram-overlap check public LLM
   * training pipelines run against evaluation sets (Brown et al. '20
   * appendix C; the PaLM/Llama variants differ only in n): a corpus
   * doc is contaminated if it shares any word n-gram with a benchmark
   * doc. Returns (doc_id, n_contaminated_ngrams) for corpus docs with
   * ≥1 shared distinct n-gram; clean docs are absent.
   *
   * Scale shape: the benchmark side (eval sets, ~10⁵ docs) is tiny
   * next to a 100 TB corpus, so its distinct n-gram set is BROADCAST —
   * the corpus side streams map-only through explode →
   * broadcast-hash-join, and the only shuffle is the per-doc count of
   * MATCHED rows (vanishingly few). `hashNgrams` stores the broadcast
   * set as xxhash64 longs (8 B per n-gram instead of the n-word
   * string, ~10× smaller); the gate entry runs the string form so the
   * DuckDB oracle joins raw n-grams through the same construction.
   */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 8,
                    hashNgrams: Boolean = true): DataFrame = {
    val key: Column => Column = if (hashNgrams) xxhash64(_) else identity
    val benchNg = bench.select(explode(shingles(col(textCol), n)).as("ng"))
      .select(key(col("ng")).as("ng")).distinct()
    val corpusNg = corpus.select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), n)).as("ng"))
      .select(col("doc_id"), key(col("ng")).as("ng"))
    corpusNg.join(broadcast(benchNg), Seq("ng"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_ngrams"))
  }

  /** Exact n-gram Jaccard for a candidate pair set (verification stage
    * after LSH): joins shingle sets back in and computes |∩|/|∪|. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame, shingleK: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh"))
    pairs.join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** Connected components over a near-dup pair graph — the clustering
    * stage that turns LSH pair lists into dedup GROUPS (keep one
    * document per component, drop the rest): iterative minimum-label
    * propagation to the smallest reachable id (the plain-MapReduce CC
    * construction — Afrati & Ullman / the "hash-to-min" family).
    * Returns (id, component) for every VERTEX of the pair graph;
    * singletons never appear in pair lists, so compose with a
    * left_anti + own-id default for the full-corpus view.
    *
    * Scale shape: each round is one edge⨝label shuffle, one
    * map-side-combinable min-aggregate, and one POINTER-JUMP relabel
    * (component := label(component) — every label is itself a vertex
    * id, so the self-join always resolves), which squares the hop
    * distance per round: convergence in O(log diameter) rounds, not
    * O(diameter) — long near-dup CHAINS (A~B~C~…, each hop under the
    * LSH threshold) otherwise force one round per hop, measured 20+
    * rounds on banded simhash graphs. `maxIter` bounds pathology.
    * Every round TRUNCATES LINEAGE with an eager localCheckpoint —
    * persist alone is not enough for iterative plans: cached data is
    * matched only after the WHOLE logical tree is re-analyzed, and
    * each round's tree embeds two copies of the previous round's
    * (the self-join), so Catalyst analysis grows 2^rounds × the pair-
    * source plan (measured 17 s/round on a 200-vertex graph before
    * the change, sub-second after). localCheckpoint trades replay-
    * ability on executor loss for flat plans; a real cluster swaps in
    * reliable `checkpoint` for fault tolerance. The convergence check
    * is an exact changed-row count. Deterministic at any parallelism
    * (min is order-free; the jump preserves the min-reachable
    * invariant). */
  def nearDupComponents(pairs: DataFrame, idA: String = "id_a",
                        idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    val e0 = pairs.select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
    // eager localCheckpoints: the pair-source plan is evaluated ONCE
    // and every later round plans against a flat checkpointed scan
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(true)
    var ckpt = edges.select(col("a").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint(true)
    var labels = ckpt
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(
          labels.select(col("id").as("b"), col("component").as("nl")), Seq("b"))
        .select(col("a").as("id"), col("nl").as("component"))
      // alias both union branches to FRESH attribute ids: `labels`'
      // checkpointed attributes appear inside `prop`'s plan too, and a
      // union whose branches share attribute ids trips Catalyst's
      // constraint rewrite (NoSuchElementException in rewriteConstraints)
      val own = labels.select(col("id").as("id"), col("component").as("component"))
      val stepped = own
        .union(prop.select(col("id").as("id"), col("component").as("component")))
        .groupBy("id").agg(min(col("component")).as("component"))
      // pointer jump (follow the label one more hop through itself) and
      // the changed-vs-previous flag ride ONE materialization: the
      // convergence check is then a checkpoint-partition scan, not the
      // second shuffle-join job per round it used to be
      val next = stepped.as("x")
        .join(stepped.select(col("id").as("cid"), col("component").as("cc")).as("y"),
          col("x.component") === col("y.cid"), "left")
        .join(labels.select(col("id").as("id"), col("component").as("old")), Seq("id"))
        .select(col("id"),
          coalesce(col("cc"), col("x.component")).as("component"),
          (coalesce(col("cc"), col("x.component")) < col("old")).as("chg"))
        .localCheckpoint(true)
      val changed = next.filter(col("chg")).count()
      ckpt.unpersist()
      ckpt = next
      labels = next.select("id", "component")
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    require(converged, s"nearDupComponents did not converge in $maxIter rounds " +
      "(graph diameter exceeds the bound — raise maxIter)")
    labels
  }

  /** Paragraph-level exact dedup (the CCNet / MassiveText stage that
    * drops every repeated paragraph corpus-wide, keeping the first
    * occurrence — finer-grained than [[exactDedup]]'s whole-document
    * hash, so boilerplate shared by otherwise-distinct documents is
    * removed without dropping the documents). The unit is a
    * fixed-width non-overlapping run of `chunkTokens` analyzer tokens
    * (ragged tail kept): on corpora with real line structure the
    * caller would split on newlines instead, but the unit definition
    * is the only thing that changes — election, filtering, and
    * reassembly are unit-agnostic. First occurrence = lowest
    * (doc_id, chunk_idx), deterministic at any parallelism.
    *
    * Returns every input document as (doc_id, n_units, n_dropped,
    * text_dedup) with text_dedup the surviving chunks rejoined in
    * document order (empty when everything was dropped or the doc had
    * no tokens).
    *
    * Scale shape: winner election is a map-side-combinable
    * min-aggregate keyed by chunk value — NOT a window — so a
    * boilerplate chunk repeated across millions of documents partial-
    * aggregates to one row per map task instead of piling every copy
    * into a single sort partition; the survivor check re-joins on the
    * same chunk key (AQE skew-splittable), and reassembly shuffles
    * (doc_id, idx, chunk) rows once. Nothing is ever wider than the
    * exploded chunk stream. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 8): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    // tokenize + fixed-width windowing in ONE native pass
    // ([[graft.functions.ChunksExpr]]; declarative twin `DeclOracles.chunksDecl`
    // parity spec'd — the interpreted transform/slice/array_join chain
    // dominated this operator's noop-isolated compute)
    val withChunks = df
      .select(col(idCol).cast("long").as("doc_id"),
        coalesce(graft.functions.ChunksExpr(lower(col(textCol)), chunkTokens),
          array().cast("array<string>")).as("chunks"))
    val ex = withChunks
      .select(col("doc_id"), posexplode(col("chunks")))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "chunk")
    val winners = ex.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
    val kept = ex.join(winners, Seq("chunk"))
      .filter(col("doc_id") === col("w.doc_id") && col("idx") === col("w.idx"))
      .select("doc_id", "idx", "chunk")
    val keptAgg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("chunk")))),
        s => s.getField("chunk")), " ").as("text_dedup"))
    withChunks
      .select(col("doc_id"), size(col("chunks")).cast("long").as("n_units"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_units"),
        (col("n_units") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Embedding near-dup: cosine ≥ threshold among LSH-bucketed
    * candidates (random-hyperplane LSH; see Similarity.cosineLsh).
    * Single-shuffle + capped, exactly like [[simHashNearDupsFrom]]:
    * a near-dup-heavy corpus can pile thousands of vectors into one
    * SRP bucket, and uncapped that bucket emits O(m²) pairs;
    * `maxBucketSize` bounds both the per-bucket member list
    * (aggregator memory: ≤ cap vectors) and the pair fan-out, keeping
    * the lowest ids (deterministic at any parallelism). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95, planes: Int = 16,
                        maxBucketSize: Int = 64): DataFrame = {
    val withKey = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("v"), planes))
    val buckets = withKey.groupBy("bucket")
      .agg(bottomK(struct(col("id"), col("v")), maxBucketSize).as("m"))
      .filter(size(col("m")) >= 2)
    val pairs = flatten(transform(sequence(lit(0), size(col("m")) - 2), i =>
      transform(sequence(i + 1, size(col("m")) - 1), j =>
        struct(
          col("m")(i).getField("id").as("id_a"),
          col("m")(j).getField("id").as("id_b"),
          Similarity.cosine(col("m")(i).getField("v"),
            col("m")(j).getField("v")).as("cosine")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.cosine"))
      .distinct()
      .filter(col("cosine") >= threshold)
  }
}
