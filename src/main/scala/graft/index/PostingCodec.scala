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

  /** One block row from the first `n` postings of `ids`, `tfs` and
    * `dls` (docId ascending): the skip metadata (max docId, max tf, min
    * dl), cf and the VByte streams. `pos` holds the postings' absolute
    * positions concatenated in posting order, `pn` of them (Σ tf, or 0
    * for an index without positions); each posting's run is stored
    * delta-encoded, its first position absolute. */
  def encodeBlock(term: String, segment: Int, blockId: Int, n: Int, ids: Array[Long],
                  tfs: Array[Int], dls: Array[Int], pos: Array[Int], pn: Int): PostingBlockRow = {
    val bIds = java.util.Arrays.copyOf(ids, n)
    val bTfs = java.util.Arrays.copyOf(tfs, n)
    val bDls = java.util.Arrays.copyOf(dls, n)
    var maxTf = 0
    var minDl = Int.MaxValue
    var cf = 0L
    var i = 0
    while (i < n) {
      if (bTfs(i) > maxTf) maxTf = bTfs(i)
      if (bDls(i) < minDl) minDl = bDls(i)
      cf += bTfs(i)
      i += 1
    }
    val posDeltas = new Array[Int](pn)
    if (pn > 0) {
      var o = 0
      i = 0
      while (i < n) {
        var j = 0
        var prev = 0
        while (j < bTfs(i)) {
          val p = pos(o)
          posDeltas(o) = p - prev
          prev = p; o += 1; j += 1
        }
        i += 1
      }
    }
    PostingBlockRow(term, segment, blockId, n, bIds(n - 1), maxTf, minDl,
      VByte.encode(VByte.deltas(bIds)), VByte.encodeInts(bTfs), VByte.encodeInts(bDls),
      VByte.encodeInts(posDeltas), cf)
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
