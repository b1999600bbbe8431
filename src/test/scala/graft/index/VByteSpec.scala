package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck round-trips for the compression layer (SURVEY.md §5:
  * "forAll docIdSeq: decode(encode) == id"), and the sized decoders
  * against [[VByteOracle]], the decode-then-prefix-sum/narrow they
  * replaced. Generators are driven with fixed seeds (no scalatestplus
  * bridge in the offline cache). */
class VByteSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  /** A block's value count: the edges of one and two VByte bytes'
    * worth of 7-bit values and of a full block, or any up to 300. */
  private val count: Gen[Int] = Gen.frequency(4 -> Gen.oneOf(0, 1, 127, 128), 1 -> Gen.chooseNum(0, 300))

  private def block[A](value: Gen[A]): Gen[List[A]] = count.flatMap(Gen.listOfN(_, value))

  test("vbyte round-trip: arbitrary non-negative longs") {
    samples(block(Gen.chooseNum(0L, Long.MaxValue))).foreach { xs =>
      val a = xs.toArray
      val bytes = VByte.encode(a)
      assert(VByteOracle.decode(bytes).sameElements(a), a.mkString(","))
      // prefix sums wrap past Long.MaxValue on both sides alike
      assert(VByte.decodeDocIds(bytes, a.length).sameElements(VByteOracle.undeltas(a)), a.mkString(","))
    }
  }

  test("vbyte round-trip: ints") {
    samples(block(Gen.chooseNum(0, Int.MaxValue))).foreach { xs =>
      val a = xs.toArray
      val bytes = VByte.encodeInts(a)
      assert(bytes.sameElements(VByte.encode(a.map(_.toLong))))
      assert(VByte.decodeInts(bytes, a.length).sameElements(a))
      assert(VByte.decodeInts(bytes, a.length).sameElements(VByteOracle.decodeInts(bytes)))
    }
  }

  test("delta round-trip: strictly ascending docId sequences") {
    val ascending = block(Gen.chooseNum(1L, 1000000L)).map { xs =>
      xs.scanLeft(0L)(_ + _).tail.toArray // strictly ascending
    }
    samples(ascending).foreach { ids =>
      val bytes = VByte.encode(VByte.deltas(ids))
      assert(VByte.decodeDocIds(bytes, ids.length).sameElements(ids))
      assert(VByteOracle.undeltas(VByteOracle.decode(bytes)).sameElements(ids))
    }
  }

  test("encoding boundary values") {
    val vals = Array(0L, 127L, 128L, 16383L, 16384L, Int.MaxValue.toLong, Long.MaxValue)
    assert(VByteOracle.decode(VByte.encode(vals)).sameElements(vals))
    val ints = Array(0, 127, 128, 16383, 16384, Int.MaxValue)
    assert(VByte.decodeInts(VByte.encodeInts(ints), ints.length).sameElements(ints))
    assert(VByte.sizeOf(0) == 1 && VByte.sizeOf(127) == 1 && VByte.sizeOf(128) == 2)
    assert(VByte.sizeOf(Int.MaxValue) == 5 && VByte.sizeOf(Long.MaxValue) == 9)
  }

  test("rejects negative values and truncated streams") {
    intercept[IllegalArgumentException](VByte.encode(Array(-1L)))
    intercept[IllegalArgumentException](VByte.encodeInts(Array(3, -1)))
    val noTerminator = Array(0x01.toByte)
    intercept[IllegalArgumentException](VByte.decodeInts(noTerminator, 1))
    intercept[IllegalArgumentException](VByte.decodeDocIds(noTerminator, 1))
    intercept[IllegalArgumentException](VByte.decodeRuns(noTerminator, Array(1), 1))
    intercept[IllegalArgumentException](VByteOracle.decode(noTerminator))
  }

  test("a stream with fewer or more values than its count throws") {
    samples(block(Gen.chooseNum(0, Int.MaxValue)), 50).foreach { xs =>
      val a = xs.toArray
      val bytes = VByte.encodeInts(a)
      val runs = if (a.isEmpty) Array.empty[Int] else Array(a.length)
      for (n <- Seq(a.length + 1, a.length - 1) if n >= 0) {
        intercept[IllegalArgumentException](VByte.decodeInts(bytes, n))
        intercept[IllegalArgumentException](VByte.decodeDocIds(bytes, n))
        if (n < a.length) intercept[IllegalArgumentException](VByte.decodeRuns(bytes, Array(n), n))
        else intercept[IllegalArgumentException](VByte.decodeRuns(bytes, runs :+ 1, n))
      }
      // one value's bytes dropped from the end, or one value appended
      if (a.nonEmpty) {
        val cut = bytes.dropRight(VByte.sizeOf(a.last))
        intercept[IllegalArgumentException](VByte.decodeInts(cut, a.length))
        intercept[IllegalArgumentException](VByte.decodeDocIds(cut, a.length))
      }
      intercept[IllegalArgumentException](VByte.decodeInts(bytes ++ VByte.encodeInts(Array(5)), a.length))
      intercept[IllegalArgumentException](VByte.decodeDocIds(bytes ++ VByte.encodeInts(Array(5)), a.length))
    }
  }

  test("run decoding equals the oracle's per-run prefix sums, zero-length runs included") {
    val runs = Gen.listOf(Gen.chooseNum(0, 40)).flatMap(tfs =>
      Gen.listOfN(tfs.sum, Gen.chooseNum(0, 1 << 20)).map(ds => (tfs.toArray, ds.toArray)))
    samples(runs, 100).foreach { case (tfs, ds) =>
      val bytes = VByte.encodeInts(ds)
      assert(VByte.decodeRuns(bytes, tfs, ds.length).sameElements(VByteOracle.positions(bytes, tfs)))
    }
  }
}
