package graft.index

import graft.model.PostingBlockRow

/** The codec specs' postings: one term's postings cut into
  * [[PostingCodec.BlockSize]] blocks by the build's block encoder,
  * [[PostingCodec.encodeBlock]]. */
object TermBlocks {

  /** Encode one term's postings (docId ascending). `positions(i)` =
    * posting i's ascending token positions; null synthesizes 0 until tf
    * per posting, which keeps the Σ tf = position count invariant the
    * decoders rely on. */
  def encodeTerm(term: String, segment: Int,
                 docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
                 positions: Array[Array[Int]] = null): Seq[PostingBlockRow] = {
    require(docIds.length == tfs.length && tfs.length == dls.length)
    val pos = if (positions != null) positions else tfs.map(tf => Array.range(0, tf))
    pos.indices.foreach(i => require(pos(i).length == tfs(i), s"posting $i: ${pos(i).length} positions != tf ${tfs(i)}"))
    docIds.indices.grouped(PostingCodec.BlockSize).zipWithIndex.map { case (r, blockId) =>
      val (from, until) = (r.head, r.last + 1)
      val flat = pos.slice(from, until).flatten
      PostingCodec.encodeBlock(term, segment, blockId, until - from, docIds.slice(from, until),
        tfs.slice(from, until), dls.slice(from, until), flat, flat.length)
    }.toVector
  }
}
