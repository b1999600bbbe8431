package graft.index

import graft.query.BM25
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class PostingCodecSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 100): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  private val postingsGen: Gen[(Array[Long], Array[Int], Array[Int])] = for {
    deltas <- Gen.nonEmptyListOf(Gen.chooseNum(1L, 5000L))
    ids = deltas.scanLeft(41L)(_ + _).tail.toArray
    tfs <- Gen.listOfN(ids.length, Gen.chooseNum(1, 50))
    dls <- Gen.listOfN(ids.length, Gen.chooseNum(1, 500))
  } yield (ids, tfs.toArray, dls.toArray)

  test("block round-trip preserves postings exactly") {
    samples(postingsGen).foreach { case (ids, tfs, dls) =>
      val blocks = TermBlocks.encodeTerm("t", 0, ids, tfs, dls)
      val decoded = blocks.flatMap { b =>
        val d = PostingCodec.decodeBlock(b)
        d.docIds.indices.map(i => (d.docIds(i), d.tfs(i), d.dls(i)))
      }
      assert(decoded == ids.indices.map(i => (ids(i), tfs(i), dls(i))).toSeq)
    }
  }

  test("block structure: size cap, skip pointers, block ids") {
    val n = 1000
    val ids = Array.tabulate(n)(i => (i * 3 + 1).toLong)
    val tfs = Array.fill(n)(2)
    val dls = Array.fill(n)(100)
    val blocks = TermBlocks.encodeTerm("t", 3, ids, tfs, dls)
    assert(blocks.length == math.ceil(n.toDouble / PostingCodec.BlockSize).toInt)
    assert(blocks.map(_.block_id) == blocks.indices)
    assert(blocks.forall(_.n_docs <= PostingCodec.BlockSize))
    assert(blocks.map(_.n_docs).sum == n)
    // skip pointer = last docId of each block; strictly ascending
    assert(blocks.map(_.max_doc_id).toVector == blocks.map(b =>
      PostingCodec.decodeBlock(b).docIds.last).toVector)
    assert(blocks.map(_.max_doc_id).sliding(2).forall(s => s.length < 2 || s(0) < s(1)))
  }

  test("positions round-trip exactly across block boundaries (format v3)") {
    val rng = new java.util.SplittableRandom(99)
    samples(postingsGen, 50).foreach { case (ids, tfs, dls) =>
      // tf random ascending positions per posting, may start at 0
      val positions: Array[Array[Int]] = tfs.map { tf =>
        val out = new Array[Int](tf)
        var p = rng.nextInt(3)
        var i = 0
        while (i < tf) { out(i) = p; p += 1 + rng.nextInt(7); i += 1 }
        out
      }
      val blocks = TermBlocks.encodeTerm("t", 0, ids, tfs, dls, positions)
      val decoded = blocks.flatMap { b =>
        val d = PostingCodec.decodeBlock(b)
        d.docIds.indices.map(i =>
          d.posFlat.slice(d.posOff(i), d.posOff(i + 1)).toVector)
      }
      assert(decoded == positions.map(_.toVector).toSeq)
    }
  }

  test("synthesized positions (no explicit lists) keep the tf-sum invariant") {
    val ids = Array.tabulate(300)(i => (i * 2 + 1).toLong)
    val tfs = Array.tabulate(300)(i => 1 + i % 5)
    val dls = Array.fill(300)(50)
    TermBlocks.encodeTerm("t", 0, ids, tfs, dls).foreach { b =>
      val d = PostingCodec.decodeBlock(b)
      assert(d.posFlat.length == d.tfs.sum)
      d.docIds.indices.foreach { i =>
        assert(d.posFlat.slice(d.posOff(i), d.posOff(i + 1)).toVector ==
          Vector.range(0, d.tfs(i)))
      }
    }
  }

  test("decoded blocks equal the oracle's, positions over several hundred per block") {
    val rng = new java.util.SplittableRandom(5)
    samples(postingsGen, 60).foreach { case (ids, tfs0, dls) =>
      // tf up to 50 over up to 128 postings: Σ tf in the hundreds
      val tfs = tfs0.map(tf => 1 + (tf * 3) % 50)
      val positions = tfs.map(tf => Array.tabulate(tf)(j => j * 3 + rng.nextInt(3)))
      TermBlocks.encodeTerm("t", 0, ids, tfs, dls, positions).foreach { b =>
        val d = PostingCodec.decodeBlock(b)
        assert(d.docIds.sameElements(VByteOracle.undeltas(VByteOracle.decode(b.doc_deltas))))
        assert(d.tfs.sameElements(VByteOracle.decodeInts(b.tfs)))
        assert(d.dls.sameElements(VByteOracle.decodeInts(b.dls)))
        assert(d.posFlat.sameElements(VByteOracle.positions(b.positions, d.tfs)))
        assert(d.posOff.sameElements(d.tfs.scanLeft(0)(_ + _)))
        assert(d.docIds.length == b.n_docs && d.posFlat.length == b.block_cf)
      }
    }
    val big = TermBlocks.encodeTerm("t", 0, Array.tabulate(128)(_.toLong + 1), Array.fill(128)(5),
      Array.fill(128)(9), Array.fill(128)(Array(0, 2, 4, 6, 8)))
    assert(big.size == 1 && big.head.block_cf == 640)
    assert(PostingCodec.decodeBlock(big.head).posFlat.sameElements(VByteOracle.positions(big.head.positions, Array.fill(128)(5))))
  }

  test("a block whose stream holds fewer values than n_docs or Σ tf throws") {
    val b = TermBlocks.encodeTerm("t", 0, Array(3L, 9L, 12L), Array(2, 1, 3), Array(7, 8, 9)).head
    intercept[IllegalArgumentException](PostingCodec.decodeBlock(b.copy(n_docs = 4)))
    intercept[IllegalArgumentException](PostingCodec.decodeBlock(b.copy(tfs = b.tfs.dropRight(1))))
    intercept[IllegalArgumentException](PostingCodec.decodeBlock(b.copy(positions = b.positions.dropRight(1))).posFlat)
    intercept[IllegalArgumentException](PostingCodec.decodeBlock(b.copy(n_docs = 2)))
  }

  test("(block_max_tf, block_min_dl) bound in-block contributions at any avgdl") {
    samples(postingsGen, 50).foreach { case (ids, tfs, dls) =>
      TermBlocks.encodeTerm("t", 0, ids, tfs, dls).foreach { b =>
        val d = PostingCodec.decodeBlock(b)
        assert(b.block_max_tf == d.tfs.max)  // exact extrema, not approximate
        assert(b.block_min_dl == d.dls.min)
        // the derived bound dominates every contribution at any avgdl
        Seq(1.0, 77.7, 5000.0).foreach { avgdl =>
          val bound = BM25.tfNorm(b.block_max_tf, b.block_min_dl, avgdl)
          val maxActual = d.docIds.indices
            .map(i => BM25.tfNorm(d.tfs(i), d.dls(i), avgdl)).max
          assert(bound >= maxActual)
        }
      }
    }
  }
}
