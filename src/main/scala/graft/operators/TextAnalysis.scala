package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-quality operators for training-data pipelines: language-ID
 * (stopword-hit heuristic), quality scoring (length / punctuation /
 * stopword ratios), token counting (whitespace + BPE-ish regex), and
 * document fingerprinting. All pure `functions._` column expressions
 * (codegen'd); the DuckDB oracle mirrors each formula exactly.
 */
object TextAnalysis {

  /** Tokens under the engine's V1 analysis chain, as a column
    * expression mirroring graft.analysis.Tokenizer.tokenize — the
    * native fused scan ([[graft.functions.TokensExpr]]; parity with
    * the declarative chain pinned via `DeclOracles.tokensDecl`). */
  def tokensCol(text: Column): Column =
    graft.functions.TokensExpr(text)

  private val StopwordLists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de" -> Seq("der", "die", "das", "und", "von", "zu", "den", "mit", "ist", "ein"))

  /** Per-language stopword hit count over the token array — the
    * declarative (interpreted-HOF) reference form; the production
    * operators below get every language's count from ONE native scan
    * ([[graft.functions.TokenStatsExpr]]). OperatorsSpec pins the
    * parity. */
  def stopwordHits(text: Column, lang: String): Column = {
    val stops = StopwordLists(lang)
    size(filter(tokensCol(text), t => t.isInCollection(stops)))
  }

  private val Langs: Seq[String] = StopwordLists.keys.toSeq.sorted

  /** One-native-scan token statistics: struct(n_tokens, len_sum,
    * hits[lang in sorted order]). Materialized into a column so the
    * scan runs once per row however many signals read it. */
  private def tokenStats(text: Column): Column =
    graft.functions.TokenStatsExpr(text, Langs.map(StopwordLists(_)))

  /** N-gram-heuristic language ID: the language whose stopword list
    * hits most tokens wins; ties broken by language code order;
    * no hits → 'und' (undetermined). All four languages' hit counts
    * come from one native pass (the old form re-derived the token
    * array through interpreted filter/split HOFs per language). */
  def languageId(df: DataFrame, textCol: String, into: String = "lang_pred"): DataFrame = {
    val tmp = "__graft_token_stats"
    val hitCols = Langs.indices.map(i => element_at(col(tmp)("hits"), i + 1))
    val best = greatest(hitCols: _*)
    // right-fold so the earliest language in sorted order wins ties
    val pred = Langs.zip(hitCols).foldRight(lit("und"): Column) {
      case ((l, h), acc) => when(h === best && best > 0, lit(l)).otherwise(acc)
    }
    df.withColumn(tmp, tokenStats(col(textCol)))
      .withColumn(into, pred)
      .drop(tmp)
  }

  /** Quality signals: token count, mean token length, punctuation
    * ratio, stopword ratio — the standard cheap quality-filter
    * features (Gopher/C4-style rules, public). Token-derived signals
    * come from one native pass; the punctuation count stays a
    * codegen'd regexp over the raw text. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val tmp = "__graft_token_stats"
    val nTok = col(tmp)("n_tokens")
    val lenSum = col(tmp)("len_sum")
    val stops = element_at(col(tmp)("hits"), Langs.indexOf("en") + 1)
    val nChar = length(t)
    val punct = nChar - length(regexp_replace(t, "[\\.,;:!\\?]", ""))
    df.withColumn(tmp, tokenStats(t))
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len",
        when(nTok > 0, lenSum.cast("double") / nTok).otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(nChar > 0, punct.cast("double") / nChar).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(nTok > 0, stops.cast("double") / nTok).otherwise(lit(0.0)))
      .withColumn("quality_ok",
        nTok >= 5 && col("mean_token_len") >= 2 && col("mean_token_len") <= 12 &&
          col("stopword_ratio") >= 0.0)
      .drop(tmp)
  }

  /** Token counts: whitespace-split words and a BPE-ish count (letter
    * runs + single digits + punctuation marks as single tokens) — the
    * usual cheap proxy for tokenizer budget accounting. Semantics are
    * defined by (and `DeclOracles.tokenCountsDecl` still implements) the regexes
    * `\s+`-split and `[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]`, reproducible by
    * any PCRE engine; the production path is one native code-point
    * scan ([[graft.functions.TokenCountsExpr]], parity spec'd). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val tmp = "__graft_token_counts"
    df.withColumn(tmp, graft.functions.TokenCountsExpr(col(textCol)))
      .withColumn("ws_tokens", col(tmp)("ws_tokens"))
      .withColumn("bpeish_tokens", col(tmp)("bpeish_tokens"))
      .drop(tmp)
  }

  /** Gopher-style repetition signals (Rae et al. '21, §A1.1 — the
    * published repetition filters of a training-data pipeline):
    * duplicate-token fraction, dominant-token fraction, and
    * duplicate-bigram fraction over the analyzer token array. High
    * values mark boilerplate and degenerate generations. The dominant
    * token is found by a sorted run-length FOLD (one pass over the
    * sorted array — never a per-distinct-token rescan, which is
    * O(vocab · n) per doc); bigram counting is positional (exact
    * counts, not the shingle SET the dedup family uses). Thresholds
    * follow the Gopher shape, tunable per corpus; every formula is
    * mirrored by the `ta_repetition` DuckDB oracle. */
  def repetitionSignals(df: DataFrame, textCol: String,
                        maxDupTokenFrac: Double = 0.95,
                        maxTopTokenFrac: Double = 0.20,
                        maxDupBigramFrac: Double = 0.90): DataFrame = {
    // integer stats in ONE native pass
    // ([[graft.functions.RepetitionStatsExpr]]); the fractions stay
    // declarative over those ints, so the doubles are bit-identical to
    // the `DeclOracles.repetitionSignalsDecl` chain it replaced (parity spec'd).
    // Null text → zero-token row, like the declarative when(n > 0).
    val tmp = "__graft_rep"
    val st = col(tmp)
    val n = st.getField("n_tokens")
    val dupTok = when(n > 0,
      (n - st.getField("n_distinct")).cast("double") / n).otherwise(lit(0.0))
    val topTok = when(n > 0,
      st.getField("max_tf").cast("double") / n).otherwise(lit(0.0))
    val nb = st.getField("n_bigrams")
    val dupBi = when(nb > 0,
      (nb - st.getField("n_distinct_bigrams")).cast("double") / nb)
      .otherwise(lit(0.0))
    df.withColumn(tmp, coalesce(
        graft.functions.RepetitionStatsExpr(col(textCol)),
        struct(lit(0L).as("n_tokens"), lit(0L).as("n_distinct"),
          lit(0L).as("max_tf"), lit(0L).as("n_bigrams"),
          lit(0L).as("n_distinct_bigrams"))))
      .withColumn("dup_token_frac", dupTok)
      .withColumn("top_token_frac", topTok)
      .withColumn("dup_bigram_frac", dupBi)
      .withColumn("repetition_ok",
        col("dup_token_frac") <= maxDupTokenFrac &&
          col("top_token_frac") <= maxTopTokenFrac &&
          col("dup_bigram_frac") <= maxDupBigramFrac)
      .drop(tmp)
  }

  /** RE2-safe public PII patterns (no backreferences/lookaround, so
    * they run identically under Java regex, RE2, and SQL engines). */
  val PiiEmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PiiUrlPattern = "https?://[^\\s]+"
  val PiiPhonePattern = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"

  /** Pattern scrubbing — the PII/boilerplate redaction stage of a
    * training-data pipeline: replace every match of `pattern` with
    * `replacement` and count the redactions (counted over the ORIGINAL
    * text, so nested replacements can't double-count). Pure codegen'd
    * regexp ops; non-overlapping left-to-right match semantics are
    * identical across Java regex and RE2-family SQL engines for the
    * backreference-free patterns this stage uses. */
  def scrub(df: DataFrame, textCol: String, pattern: String,
            replacement: String = "[REDACTED]",
            into: String = "scrubbed"): DataFrame =
    df.withColumn(into, regexp_replace(col(textCol), pattern, replacement))
      .withColumn("n_redactions",
        size(regexp_extract_all(col(textCol), lit(pattern), lit(0))).cast("long"))

  /** The standard PII sweep: emails, URLs, phone numbers, scrubbed in
    * one pass each, redaction counts summed over the original text. */
  def scrubPii(df: DataFrame, textCol: String,
               replacement: String = "[REDACTED]",
               into: String = "scrubbed"): DataFrame = {
    val pats = Seq(PiiEmailPattern, PiiUrlPattern, PiiPhonePattern)
    val scrubbed = pats.foldLeft(col(textCol))((c, p) => regexp_replace(c, p, replacement))
    val n = pats.map(p =>
      size(regexp_extract_all(col(textCol), lit(p), lit(0))).cast("long")).reduce(_ + _)
    df.withColumn(into, scrubbed).withColumn("n_redactions", n)
  }

  /** Content fingerprint: md5 of the normalized text (lowercased,
    * whitespace collapsed) — the reference's MD5 content-hash change
    * detector generalized (`model/impl/DocumentImpl.java:299-325`,
    * alg constant `model/Document.java:125-127`). */
  def fingerprint(df: DataFrame, textCol: String, into: String = "fingerprint"): DataFrame =
    df.withColumn(into,
      md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " "))))

  /** Rolling polynomial hash (Rabin-Karp style, base 257 mod 1e9+7)
    * over the raw text — a locality-sensitive prefix fingerprint used
    * for streaming dedup windows. Cross-engine: see
    * [[graft.operators.Hashing.polyHash]] for the DuckDB mirror. */
  def rollingHash(text: Column): Column = Hashing.polyHash(text)

  /** Unigram token entropy — the lexical-diversity quality signal
    * (low entropy = repetitive/boilerplate text; the complement of
    * [[repetitionSignals]]' duplicate fractions): H(doc) =
    * −Σ_t (tf/n)·ln(tf/n), computed by the algebraic identity
    * H = ln(n) − (Σ_t tf·ln tf)/n so ONE (doc_id, term) count
    * aggregate plus ONE per-doc aggregate suffice — both map-side
    * combinable, shuffling only the distinct (doc, term) pairs and
    * then one row per doc. Emits (doc_id, n_tokens, entropy);
    * zero-token documents have no defined entropy and are absent. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol).cast("long").as("doc_id"),
        explode(tokensCol(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("doc_id").agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast("double") * log(col("tf").cast("double"))).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (log(col("n_tokens").cast("double")) - col("s") / col("n_tokens"))
          .as("entropy"))
  }

  /** Bigram-LM quality scoring — the "perplexity filter" of the
    * published pretraining pipelines (Gopher/CCNet score documents
    * under a language model and drop the tails), with the LM an
    * add-α-smoothed BIGRAM model trained on the corpus itself so the
    * whole computation is self-contained and SQL-reproducible:
    * nll(doc) = −mean over the doc's token bigrams of
    * ln[(c(a,b) + α) / (c(a) + α·V)], where c(·) are corpus bigram /
    * bigram-left counts and V the distinct-token vocabulary size.
    * Low nll = the document reads like the corpus; high = gibberish
    * relative to it. Emits (doc_id, n_bigrams, nll); documents with
    * fewer than two tokens have no bigrams and are absent.
    *
    * Scale shape: one explode to the bigram stream, two
    * map-side-combinable count aggregates for the model, one
    * broadcast-sized scalar (V), and a per-doc mean — shuffles on
    * bigram keys and doc ids only, never wider than the token stream.
    * At 100 TB the model counts would train on a hash sample
    * (`Sampling.sampleByHash`) instead of the full corpus; the
    * scoring join is unchanged. */
  def lmScores(df: DataFrame, idCol: String, textCol: String,
               alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val base = df.select(col(idCol).cast("long").as("doc_id"),
      tokensCol(col(textCol)).as("ts"))
    val n1 = greatest(size(col("ts")) - 1, lit(0))
    val bi = base.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("ts"), lit(1), n1), slice(col("ts"), lit(2), n1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("a"), col("bg.1").as("b"))
    val cab = bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    // c(a) = Σ_b c(a,b) exactly — derived from the bigram counts, so
    // the model costs one corpus scan, not two
    val ca = cab.groupBy("a").agg(sum("c_ab").as("c_a"))
    val v = base.select(explode(col("ts")).as("t"))
      .agg(countDistinct(col("t"))).first().getLong(0)
    // EXPLICIT broadcast of the model tables (vocab² / vocab rows):
    // the planner's post-explode size estimates are unreliable here
    // and were observed to flip the join build side onto the scored
    // STREAM — collecting the whole bigram stream to the driver. The
    // hints pin the only scale-safe shape: stream stays distributed,
    // model ships to the tasks.
    bi.join(broadcast(cab), Seq("a", "b")).join(broadcast(ca), Seq("a"))
      .withColumn("lp",
        log((col("c_ab") + lit(alpha)) / (col("c_a") + lit(alpha * v))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), (lit(0.0) - avg(col("lp"))).as("nll"))
  }
}
