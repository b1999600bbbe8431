package perfbench

import graft.sources.SyntheticTranscripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** The query mix of the serve workload: every term and bigram
  * comes from the benchmark's own SQL over the corpus, never from the
  * engine's dictionary. */
final case class Queries(bm25: IndexedSeq[String], phrases: IndexedSeq[String],
                         bools: IndexedSeq[(String, String)])

object Corpus {
  /** Copies in the batch corpus get ids above this; originals stay below. */
  val CopyIdBase = 1000000000L

  /** Turns in a corpus of `nConvs` conversations (1..10 turns, cyclic). */
  def turnsOf(nConvs: Long): Long = (0L until nConvs).map(c => 1 + c % 10).sum

  def generate(spark: SparkSession, seed: Long, nConvs: Long, cpus: Int): DataFrame =
    SyntheticTranscripts.generate(spark, seed, nConvs, maxTurns = 10, partitions = cpus).toDF()

  /** The batch corpus: turns with a numeric id, plus injected exact copies
    * (same text) and near copies (one appended token) of a hash-chosen
    * share of them; `dup_of` names the original of each copy. */
  def withDuplicates(base: DataFrame, seed: Long, exactPerMille: Int,
                     nearPerMille: Int): DataFrame = {
    val b = base.select(
        (substring(col("conv_id"), 6, 32).cast("long") * 16 + col("turn_idx")).as("id"),
        col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"))
      .withColumn("dup_of", lit(null).cast("long"))
      .withColumn("dup_kind", lit(null).cast("string"))
    val h = pmod(xxhash64(col("id"), lit(seed)), lit(1000))
    // a copy is a document of its own: new id and a new (conv_id,
    // turn_idx) key, which the index requires to be unique
    def copies(pick: org.apache.spark.sql.Column, kind: String, text: org.apache.spark.sql.Column) =
      b.filter(pick)
        .withColumn("dup_of", col("id"))
        .withColumn("id", col("id") + lit(CopyIdBase))
        .withColumn("conv_id", concat(lit("copy"), substring(col("conv_id"), 5, 32)))
        .withColumn("text", text)
        .withColumn("dup_kind", lit(kind))
    // near copies need enough tokens that one extra token keeps the
    // 3-shingle Jaccard well above the 0.8 near-dup threshold
    val longEnough = size(split(col("text"), " ")) >= 40
    b.unionByName(copies(h < exactPerMille, "exact", col("text")))
      .unionByName(copies(h >= exactPerMille && h < exactPerMille + nearPerMille && longEnough,
        "near", concat(col("text"), lit(" zqnear"))))
  }

  /** Writes the corpus to parquet and returns the frame read back from it:
    * everything after set-up reads only this parquet. */
  def materialize(spark: SparkSession, df: DataFrame, dir: Path): DataFrame = {
    df.write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  /** (rows, bit_xor of a per-row xxhash64 over every column). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(expr(s"bit_xor(xxhash64(${df.columns.map(c => s"`$c`").mkString(", ")}))"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Seeded query mix over head, mid and tail document-frequency terms,
    * adjacent bigrams that occur in the corpus, and must/not pairs. */
  def queries(spark: SparkSession, corpus: DataFrame, seed: Long): Queries = {
    import spark.implicits._
    // terms and bigrams from a fixed eighth of the conversations: over the
    // whole serve corpus these two shuffles cost about as much as a build
    val toks = corpus.filter(pmod(xxhash64(col("conv_id")), lit(8)) === 0)
      .select(split(col("text"), " ").as("ts"))
    val byDf = toks.select(explode(array_distinct(col("ts"))).as("t"))
      .groupBy("t").count().filter(col("count") >= 2)
      .orderBy(desc("count"), asc("t")).as[(String, Long)].collect().map(_._1)
    val n = byDf.length
    require(n >= 500, s"corpus too small for the query mix ($n terms with df >= 2)")
    val head = byDf.take(20)
    val mid = byDf.slice(n * 2 / 5, n * 2 / 5 + 200)
    val tail = byDf.takeRight(200)
    val n1 = greatest(size(col("ts")) - 1, lit(0))
    val bigrams = toks
      .select(explode(arrays_zip(slice(col("ts"), lit(1), n1), slice(col("ts"), lit(2), n1))).as("bg"))
      .select(col("bg.0").as("a"), col("bg.1").as("b"))
      .groupBy("a", "b").count().filter(col("count") >= 3)
      .orderBy(desc("count"), asc("a"), asc("b")).limit(5000)
      .as[(String, String, Long)].collect()
    require(bigrams.length >= 200, s"corpus too small for phrase queries (${bigrams.length} bigrams)")
    val rng = new scala.util.Random(seed)
    def pick(xs: Array[String]): String = xs(rng.nextInt(xs.length))
    // the four shapes in turn, so any run of consecutive queries has the
    // same mix of cheap and costly ones whatever the seed
    val bm25 = IndexedSeq.tabulate(64) { i =>
      i % 4 match {
        case 0 => s"${pick(head)} ${pick(mid)}"
        case 1 => s"${pick(mid)} ${pick(tail)}"
        case 2 => s"${pick(head)} ${pick(mid)} ${pick(tail)}"
        case _ => s"${pick(mid)} ${pick(mid)}"
      }
    }
    val phrases = IndexedSeq.fill(32) {
      val (a, b, _) = bigrams(100 + rng.nextInt(bigrams.length - 100))
      s"$a $b"
    }
    val bools = IndexedSeq.fill(32)((s"${pick(head)} ${pick(mid)}", pick(mid)))
    Queries(bm25, phrases, bools)
  }

  /** A fixed text sample (independent of the run seed) for the single-
    * thread tokenizer throughput. */
  lazy val tokenizerSample: Array[String] =
    Array.tabulate(2000)(c => SyntheticTranscripts.makeTurn(12345L, c.toLong, c % 10).text)
}
