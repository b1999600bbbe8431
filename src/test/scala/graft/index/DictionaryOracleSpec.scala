package graft.index

import graft.SparkFunSuite
import graft.model.Turn
import graft.store.LocalParquet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.{Files, Paths}

/** The dictionary as the postings' groupBy computes it: df = Σ n_docs
  * and cf = Σ block_cf per term over every block row, with a Spark
  * shuffle — the finalize the range merge replaced, kept as its
  * oracle. */
object DictionaryOracle {
  def rows(spark: SparkSession, dir: String): Set[(String, Long, Long)] = {
    import spark.implicits._
    if (!Files.exists(Paths.get(IndexBuilder.postingsDir(dir)))) Set.empty
    else spark.read.schema(IndexBuilder.PostingSchema).parquet(IndexBuilder.postingsDir(dir))
      .groupBy("term")
      .agg(sum(col("n_docs").cast("long")).as("df"), sum("block_cf").as("cf"))
      .as[(String, Long, Long)].collect().toSet
  }
}

/**
 * Properties of the shuffle-free dictionary merge over fixed-seed
 * corpora of 1–8 segments, with `sortPartitions` from 1 to 16 (1–4
 * dictionary files): its rows and `n_terms` equal
 * [[DictionaryOracle]]'s, its files are term-sorted with disjoint term
 * ranges, file i is term range i, and each range's first row is its
 * split term. Every corpus has a term in every document (so in every
 * segment), and the empty and all-empty-text corpora run too.
 */
class DictionaryOracleSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private val Vocab = Vector.tabulate(60)(i => s"w${('a' + i % 26).toChar}${i / 26}")

  private case class Case(docs: Vector[String], nSegments: Int, sortPartitions: Int)

  /** Documents draw from a vocabulary window that slides with their
    * position, so segments start at different terms (the split
    * candidates); `zz` is in every non-blank document, so in every
    * segment, and some documents have no token at all. */
  private val cases: Gen[Case] = for {
    n <- Gen.choose(1, 90)
    raw <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None),
      9 -> Gen.listOf(Gen.choose(0, 19)).map(Some(_))))
    seg <- Gen.choose(1, 8)
    p <- Gen.choose(1, 16)
  } yield Case(raw.zipWithIndex.map {
    case (None, _) => "!!! ..."
    case (Some(ix), i) => ("zz" +: ix.take(12).map(j => Vocab(i * 40 / n + j))).mkString(" ")
  }.toVector, seg, p)

  private def samples(n: Int): Seq[Case] =
    (0 until n).flatMap(i => cases.apply(Gen.Parameters.default, Seed(7000L + i)))

  private def turns(docs: Seq[String]) = docs.zipWithIndex.map { case (t, i) =>
    Turn(f"c${i / 3}%04d", i % 3, "user", t, "", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
  }.toDS()

  /** Builds `docs` and checks the dictionary; returns the split terms. */
  private def check(name: String, docs: Seq[String], nSegments: Int, p: Int): Seq[String] = {
    val dir = tmpDir(s"dict-oracle-$name")
    val rep = IndexBuilder.build(spark, turns(docs),
      BuildConfig(dir, nSegments = nSegments, sortPartitions = p))
    val oracle = DictionaryOracle.rows(spark, dir)
    val files = LocalParquet.files(Paths.get(IndexBuilder.dictionaryDir(dir)))
    val perFile = files.map(f => LocalParquet.read(f)(r => (r[String]("term"), r[Long]("df"), r[Long]("cf"))))
    val got = perFile.flatten
    val ctx = s"$name: ${docs.size} docs, $nSegments segments, p=$p"
    assert(got.toSet == oracle && got.size == oracle.size, ctx)
    assert(rep.nTerms == oracle.size, ctx)
    assert(new graft.query.IndexReader(spark, dir).stats.n_terms == oracle.size, ctx)
    // files: sorted within, ranges disjoint and ascending in file order
    val ranges = perFile.filter(_.nonEmpty).map(_.map(_._1))
    ranges.foreach(ts => assert(ts.zip(ts.tail).forall { case (a, b) => a < b }, s"$ctx: unsorted file"))
    ranges.zip(ranges.drop(1)).foreach { case (a, b) => assert(a.last < b.head, s"$ctx: overlapping files") }
    val k = math.max(1, p / 4)
    assert(files.size <= k, ctx)
    // file i is range i: each later file opens with its split term
    val postings = LocalParquet.partitions(Paths.get(IndexBuilder.postingsDir(dir)), "segment")
      .flatMap { case (_, d) => LocalParquet.files(d).map(_.toString) }
    val splits = IndexBuilder.termRanges(postings, k).flatMap(_._1)
    assert(ranges.drop(1).map(_.head) == splits, ctx)
    splits
  }

  test("the range-merged dictionary equals the groupBy oracle; files are term-sorted with disjoint ranges") {
    val cs = samples(10)
    assert(cs.map(c => math.max(1, c.sortPartitions / 4)).toSet.size > 1)
    val splits = cs.zipWithIndex.map { case (c, i) =>
      check(s"case$i", c.docs, c.nSegments, c.sortPartitions).size
    }
    assert(splits.sum > 0, "no sample cut the terms into ranges")
  }

  test("a split term held by several segments is counted once, at the start of its range") {
    // segment j holds ta..td from the j-th on: each split term opens a
    // range and sits in every segment before it; td is in all four
    val docs = Vector.tabulate(40)(i => Seq("ta", "tb", "tc", "td").drop(i / 10).mkString(" "))
    assert(check("shared", docs, 4, 16) == Seq("tb", "tc", "td"))
  }

  test("the empty and all-empty-text corpora merge to an empty dictionary") {
    check("empty", Vector.empty, 4, 16)
    check("blank", Vector.fill(20)("!!! ... ???"), 4, 16)
  }
}
