package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Dedup.tokens
import Hashing.P
import Similarity.planeComponent
import TextAnalysis.tokensCol

/**
 * Declarative (pure `functions._`) twins of the native kernels, the
 * parity oracles the specs hold each kernel to. No production path
 * calls them: each is the interpreted higher-order-function chain its
 * kernel replaced, kept as the independent statement of what the
 * kernel must compute.
 */
object DeclOracles {

  /** Declarative (pure functions._) twin of [[Dedup.tokens]], kept only as
    * the spec'd parity reference. */
  def tokensDecl(textCol: Column): Column =
    filter(split(regexp_replace(lower(textCol), "[^a-z0-9]+", " "), " "),
      t => length(t) > lit(0))

  /** Declarative (pure functions._) twin, kept only as the spec'd
    * parity reference for the native kernel (OperatorsSpec). */
  def shinglesDecl(textCol: Column, k: Int): Column = {
    val toks = tokens(textCol)
    // sliding k-grams via transform over indices; filter out ragged tail
    array_distinct(filter(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => array_join(slice(toks, i + lit(1), lit(k)), " ")),
      s => length(s) > lit(0)))
  }

  /** Declarative (pure functions._) twin of the native chunk builder
    * ([[graft.functions.ChunksExpr]]), kept only as the spec'd parity
    * reference. */
  def chunksDecl(textCol: Column, chunkTokens: Int): Column = {
    val ts = tokens(textCol)
    val nCh = ceil(size(ts).cast("double") / chunkTokens).cast("int")
    when(size(ts) > 0,
      transform(sequence(lit(1), nCh), i =>
        array_join(slice(ts, (i - lit(1)) * lit(chunkTokens) + lit(1),
          lit(chunkTokens)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Declarative (pure functions._) reference implementation: one
    * interpreted `aggregate` fold per bit — kept only as the parity
    * oracle for the native kernel (OperatorsSpec pins the equality). */
  def simHashDecl(tokenHashes: Column, bits: Int): Column = {
    val bitCols = (0 until bits).map { j =>
      val votes = aggregate(tokenHashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L)))
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** Declarative (pure functions._) twin of the native band hash
    * ([[graft.functions.BandHashExpr]]), kept only as the spec'd
    * parity reference. */
  def bandHashDecl(sig: Column, bands: Int, rowsPerBand: Int,
                   crossEngine: Boolean): Column = {
    val bandHash: Column => Column =
      if (crossEngine) Hashing.polyHash else xxhash64(_)
    transform(sequence(lit(0), lit(bands - 1)),
      b => bandHash(array_join(
        slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)), ",")))
  }

  /** Declarative (pure functions._) twin of the native signature
    * compare ([[graft.functions.SigEqCountExpr]]), kept only as the
    * spec'd parity reference: count of positions where both arrays
    * hold equal non-null values. */
  def sigEqCountDecl(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => (x === y).cast("int")), v => v === 1))

  /** Declarative regex reference form of [[TextAnalysis.tokenCounts]], kept as the
    * spec'd parity oracle for the native scan. */
  def tokenCountsDecl(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = size(filter(split(t, "\\s+"), x => length(x) > 0)).cast("long")
    val bpeish = size(regexp_extract_all(t,
      lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"), lit(0))).cast("long")
    df.withColumn("ws_tokens", ws).withColumn("bpeish_tokens", bpeish)
  }

  /** Declarative (pure functions._) twin of [[TextAnalysis.repetitionSignals]],
    * kept only as the spec'd parity reference. */
  def repetitionSignalsDecl(df: DataFrame, textCol: String,
                            maxDupTokenFrac: Double = 0.95,
                            maxTopTokenFrac: Double = 0.20,
                            maxDupBigramFrac: Double = 0.90): DataFrame = {
    val tmp = "__graft_toks"
    val toks = col(tmp)
    val n = size(toks)
    val dupTok = when(n > 0,
      (n - size(array_distinct(toks))).cast("double") / n).otherwise(lit(0.0))
    // dominant-token count: run-length fold over the sorted array
    val best = aggregate(sort_array(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val topTok = when(n > 0, best.cast("double") / n).otherwise(lit(0.0))
    val bigrams = when(n >= 2,
      transform(sequence(lit(1), n - 1), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val tmpB = "__graft_bigrams"
    val bg = col(tmpB)
    val nb = size(bg)
    val dupBi = when(nb > 0,
      (nb - size(array_distinct(bg))).cast("double") / nb).otherwise(lit(0.0))
    df.withColumn(tmp, tokensCol(col(textCol)))
      .withColumn(tmpB, bigrams)
      .withColumn("dup_token_frac", dupTok)
      .withColumn("top_token_frac", topTok)
      .withColumn("dup_bigram_frac", dupBi)
      .withColumn("repetition_ok",
        col("dup_token_frac") <= maxDupTokenFrac &&
          col("top_token_frac") <= maxTopTokenFrac &&
          col("dup_bigram_frac") <= maxDupBigramFrac)
      .drop(tmp, tmpB)
  }

  /** Declarative (pure functions._) reference implementation. */
  def dotDecl(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Declarative (pure functions._) reference implementation of
    * [[Similarity.hyperplaneBucket]]: one `zip_with`+`aggregate` sub-tree per
    * plane — interpreted HOFs, kept only as the spec'd parity oracle
    * for the native kernel. */
  def hyperplaneBucketDecl(v: Column, planes: Int): Column = {
    val bits = (0 until planes).map { j =>
      val prods = zip_with(v, sequence(lit(0), size(v) - 1),
        (x, i) => x.cast("double") * planeComponent(j, i))
      val s = aggregate(prods, lit(0.0), (acc, p) => acc + p)
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** Declarative (pure functions._) reference implementation. */
  def polyHashDecl(s: Column): Column =
    aggregate(transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L), (h, c) => pmod(h * lit(257L) + c, lit(P)))
}
