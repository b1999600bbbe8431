package graft.index

import graft.model.PostingBlockRow

/**
 * Posting-list block codec. For one (segment, term), postings sorted by
 * docId are cut into blocks of [[PostingCodec.BlockSize]] docs; each
 * block stores VByte(delta(docIds)), VByte(tfs), VByte(dls) plus skip
 * metadata: max_doc_id (skip pointer) and (block_max_tf, block_min_dl)
 * — tfNorm(max_tf, min_dl, avgdl) · idf computed at query time is the
 * block-max WAND bound, valid at any avgdl (format v2: incremental
 * updates may shift avgdl after a block is written).
 *
 * Blocks are self-contained (first delta absolute), so a cursor can
 * skip whole blocks via max_doc_id without decoding them.
 *
 * The reference delegates this to Lucene's postings format behind
 * `SendToSolrProcessor.getSolrClient().add(...)`
 * (`/root/reference/code/ingest/src/main/java/org/jesterj/ingest/processors/SendToSolrProcessor.java:112`);
 * this is our from-scratch equivalent (SURVEY.md §2.7).
 */
object PostingCodec extends Serializable {

  val BlockSize: Int = 128

  /** Delta-encode one block's concatenated per-posting position runs
    * (first position of each run absolute; positions within a doc are
    * strictly ascending). `tfs` delimits the runs. */
  def encodePositions(tfs: Array[Int], positions: Array[Array[Int]]): Array[Byte] = {
    var total = 0
    var i = 0
    while (i < positions.length) { total += positions(i).length; i += 1 }
    val flat = new Array[Int](total)
    var o = 0
    i = 0
    while (i < positions.length) {
      val ps = positions(i)
      require(ps.length == tfs(i), s"posting $i: ${ps.length} positions != tf ${tfs(i)}")
      var j = 0
      var prev = 0
      while (j < ps.length) {
        flat(o) = ps(j) - prev
        prev = ps(j); o += 1; j += 1
      }
      i += 1
    }
    VByte.encodeInts(flat)
  }

  /** Encode one term's postings (already sorted by docId ascending).
    * `positions(i)` = posting i's token positions (ascending); null →
    * position-less blocks (tests only; production always stores them). */
  def encodeTerm(term: String, segment: Int,
                 docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
                 positions: Array[Array[Int]] = null): Seq[PostingBlockRow] = {
    require(docIds.length == tfs.length && tfs.length == dls.length)
    val pos: Array[Array[Int]] =
      if (positions != null) positions
      // synthesized placeholder: tf positions 0..tf-1 per posting keeps
      // the (sum tf = position count) invariant decoders rely on
      else tfs.map(tf => Array.range(0, tf))
    val out = Vector.newBuilder[PostingBlockRow]
    var start = 0
    var blockId = 0
    while (start < docIds.length) {
      val end = math.min(start + BlockSize, docIds.length)
      val ids = java.util.Arrays.copyOfRange(docIds, start, end)
      val btfs = java.util.Arrays.copyOfRange(tfs, start, end)
      val bdls = java.util.Arrays.copyOfRange(dls, start, end)
      val bpos = java.util.Arrays.copyOfRange(pos.asInstanceOf[Array[AnyRef]], start, end)
        .asInstanceOf[Array[Array[Int]]]
      var maxTf = 0
      var minDl = Int.MaxValue
      var cf = 0L
      var i = 0
      while (i < ids.length) {
        if (btfs(i) > maxTf) maxTf = btfs(i)
        if (bdls(i) < minDl) minDl = bdls(i)
        cf += btfs(i)
        i += 1
      }
      out += PostingBlockRow(term, segment, blockId, ids.length, ids.last,
        maxTf, minDl, VByte.encode(VByte.deltas(ids)), VByte.encodeInts(btfs),
        VByte.encodeInts(bdls), encodePositions(btfs, bpos), cf)
      start = end
      blockId += 1
    }
    out.result()
  }

  /** Decoded block: parallel arrays of absolute docIds, tfs, dls, each
    * of `n_docs` values, decoded in one pass per stream. Positions
    * decode LAZILY (only the phrase path pays): `posFlat` is the
    * block's Σ tf absolute positions concatenated in posting order, in
    * one pass over the stream, and `posOff` the per-posting offsets
    * (length n+1) — posting i's positions are
    * posFlat[posOff(i) until posOff(i+1)]. A stream that holds more or
    * fewer values than its count throws. */
  final class DecodedBlock(val docIds: Array[Long], val tfs: Array[Int],
                           val dls: Array[Int], positionsRaw: Array[Byte]) {
    lazy val posOff: Array[Int] = {
      val off = new Array[Int](tfs.length + 1)
      var i = 0
      while (i < tfs.length) { off(i + 1) = off(i) + tfs(i); i += 1 }
      off
    }
    /** Absolute positions (un-delta'd per posting run). */
    lazy val posFlat: Array[Int] = VByte.decodeRuns(positionsRaw, tfs, posOff(tfs.length))
  }

  def decodeBlock(row: PostingBlockRow): DecodedBlock =
    new DecodedBlock(VByte.decodeDocIds(row.doc_deltas, row.n_docs),
      VByte.decodeInts(row.tfs, row.n_docs), VByte.decodeInts(row.dls, row.n_docs), row.positions)
}
