package graft.analysis

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.unsafe.types.UTF8String

/**
 * Versioned text-analysis chain.
 *
 * The reference (JesterJ) delegates tokenization to the Lucene analysis
 * chain it loads from a Solr schema — see
 * `/root/reference/code/ingest/src/main/java/org/jesterj/ingest/processors/PreAnalyzeFields.java:64-114`
 * and the chains pinned in its test configsets
 * (`src/test/resources/solr/configsets/preanalyze/conf/schema.xml:39-60`:
 * StandardTokenizer → Stop → LowerCase → EnglishPossessive → PorterStem).
 *
 * Our engine defines the chain once, versioned, golden-tested:
 *
 *  - V1 (default): maximal runs of ASCII `[A-Za-z0-9]`, ASCII case
 *    folded. [[Runs]] is its one scanner: the index build, the query
 *    side and every native text kernel loop over it. It reads UTF-8
 *    bytes, and every byte of a multi-byte character is ≥ 0x80, so byte
 *    runs are char runs.
 *
 *    On the index side V1 is NOT exactly
 *    `regexp_extract_all(lower(text), '[a-z0-9]+')`, the form the
 *    DuckDB oracles compute. Spark's `lower` maps two non-ASCII code
 *    points to ASCII: U+212A (Kelvin sign) to `k` and U+0130 to `i` +
 *    U+0307. The index analyzer folds ASCII only, so it treats them as
 *    separators (TokenizerSpec pins this). The native text kernels
 *    read [[foldCase]]d bytes instead, which give exactly the runs of
 *    `lower(text)` (FoldCaseSpec checks every code point against
 *    Spark), without calling `lower`.
 *  - Optional stages (off by default, unit-tested): English stopword
 *    removal and Porter stemming, mirroring the reference's `text_en`
 *    chain.
 *
 * All stages are pure functions of the input string — no locale, no
 * clock — so tokenization is deterministic at any parallelism.
 */
object Tokenizer extends Serializable {

  /** Bump when the default chain changes; persisted in corpus_stats. */
  val Version: Int = 1

  /** Default English stopword set (subset of Lucene's EnglishAnalyzer
    * ENGLISH_STOP_WORDS_SET, which is public knowledge). */
  val EnglishStopwords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  /** V1 chain: maximal `[A-Za-z0-9]` runs, ASCII case folded. */
  def tokenize(text: String): IndexedSeq[String] = {
    val out = Vector.newBuilder[String]
    val r = Runs(text)
    while (r.next()) out += r.term
    out.result()
  }

  /** Full configurable chain: V1 → optional stopword filter → optional
    * Porter stem. Mirrors the reference's `text_en` field type. */
  def analyze(text: String,
              stopwords: Set[String] = Set.empty,
              stem: Boolean = false): IndexedSeq[String] = {
    var toks = tokenize(text)
    if (stopwords.nonEmpty) toks = toks.filterNot(stopwords.contains)
    if (stem) toks = toks.map(PorterStemmer.stem)
    toks
  }

  /** Per-document term frequencies in one pass; insertion order is not
    * meaningful — callers needing determinism sort by term. */
  def termFreqs(text: String): collection.Map[String, Int] = {
    val m = collection.mutable.HashMap.empty[String, Int]
    val r = Runs(text)
    while (r.next()) { val t = r.term; m.update(t, m.getOrElse(t, 0) + 1) }
    m
  }

  /** Document length = token count under the V1 chain, with no token
    * built. */
  def docLength(text: String): Int = count(Runs(text))

  /** [[docLength]] over a raw UTF8String view (no String decode). */
  def docLengthU8(s: UTF8String): Int =
    if (s == null) 0 else count(new Runs(s.getBytes))

  /**
   * UTF-8 bytes case folded as the text kernels read them: on every
   * `[a-z0-9]` run this equals Spark's `lower`. A–Z become a–z, U+212A
   * (Kelvin sign, E2 84 AA) becomes `k`, and U+0130 (C4 B0) becomes
   * `i` followed by its second byte, a separator, as `lower`'s `i` +
   * U+0307 is. No other code point lowers to ASCII. Returns `bytes`
   * itself when no byte needs folding, else a folded copy. Folding
   * here spares every executor JVM the ICU set-up of Spark's `lower`.
   */
  def foldCase(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    def kelvin(i: Int) = bytes(i) == 0xE2.toByte && i + 2 < n &&
      bytes(i + 1) == 0x84.toByte && bytes(i + 2) == 0xAA.toByte
    def dottedI(i: Int) = bytes(i) == 0xC4.toByte && i + 1 < n &&
      bytes(i + 1) == 0xB0.toByte
    var i = 0
    while (i < n && !Runs.upper(bytes(i)) && !kelvin(i) && !dottedI(i)) i += 1
    if (i == n) return bytes
    val out = java.util.Arrays.copyOf(bytes, n)
    var o = i
    while (i < n) {
      val k = kelvin(i)
      out(o) = if (k) 'k' else if (dottedI(i)) 'i' else Runs.fold(bytes(i)).toByte
      i += (if (k) 3 else 1)
      o += 1
    }
    if (o == n) out else java.util.Arrays.copyOf(out, o)
  }

  private def count(r: Runs): Int = {
    var n = 0
    while (r.next()) n += 1
    n
  }

  /** Growable position list (per-term, per-doc — typically 1-2 long). */
  final class IntBuf {
    var a = new Array[Int](2)
    var n = 0
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
      a(n) = v; n += 1
    }
    def toArray: Array[Int] = java.util.Arrays.copyOf(a, n)
  }

  /** One analyzed token with character offsets and position increment
    * — the attributes the reference extracts from the Lucene token
    * stream for Solr PreAnalyzed JSON (`{t, s, e, i}`;
    * `processors/PreAnalyzeFields.java:74-103`). */
  case class OffsetToken(t: String, s: Int, e: Int, i: Int)

  /** V1 chain with offsets: `s`/`e` are the char span of the source
    * run in the ORIGINAL text; `i` is the position increment (always
    * 1 in V1 — no stopword holes). */
  def tokenizeWithOffsets(text: String): IndexedSeq[OffsetToken] = {
    val out = Vector.newBuilder[OffsetToken]
    val r = Runs(text)
    // UTF-16 index of byte `b`: a byte that is not a continuation byte
    // (10xxxxxx) starts a char, and a 4-byte lead (11110xxx) starts a
    // surrogate pair
    var b = 0
    var c = 0
    while (r.next()) {
      while (b < r.start) {
        val x = r.bytes(b)
        if ((x & 0xC0) != 0x80) c += (if ((x & 0xF8) == 0xF0) 2 else 1)
        b += 1
      }
      out += OffsetToken(r.term, c, c + r.length, 1)
      b = r.end; c += r.length
    }
    out.result()
  }

  /**
   * The V1 scanner: a zero-copy cursor over UTF-8 bytes. Each [[next]]
   * moves `[start, end)` to the next maximal run of ASCII `[A-Za-z0-9]`
   * bytes. Case folding is the caller's: [[term]] and [[hash]] fold
   * ASCII, while the native kernels scan [[Runs.folded]] bytes and read
   * them as they are. Every call site loops `while (r.next())` over
   * this one class, so the JIT inlines it everywhere (a shared callback
   * would go megamorphic).
   */
  final class Runs(val bytes: Array[Byte]) {
    var start = 0
    var end = 0

    def next(): Boolean = {
      var i = end
      while (i < bytes.length && !Runs.alnum(bytes(i))) i += 1
      if (i == bytes.length) { start = i; end = i; return false }
      start = i
      while (i < bytes.length && Runs.alnum(bytes(i))) i += 1
      end = i
      true
    }

    def length: Int = end - start

    /** The current run as a String, ASCII case folded. */
    def term: String = {
      var i = start
      while (i < end && !Runs.upper(bytes(i))) i += 1
      if (i == end) return new String(bytes, start, end - start, ISO_8859_1)
      val a = java.util.Arrays.copyOfRange(bytes, start, end)
      while (i < end) { a(i - start) = Runs.fold(bytes(i)).toByte; i += 1 }
      new String(a, ISO_8859_1)
    }

    /** `term.hashCode`, without building the String. */
    def hash: Int = {
      var h = 0
      var i = start
      while (i < end) { h = 31 * h + Runs.fold(bytes(i)); i += 1 }
      h
    }

    /** `term == t`, without building the String. */
    def termEquals(t: String): Boolean = {
      val n = end - start
      if (t.length != n) return false
      var i = 0
      while (i < n && t.charAt(i) == Runs.fold(bytes(start + i))) i += 1
      i == n
    }
  }

  object Runs {
    /** Runs of a String's UTF-8 bytes. An unpaired surrogate encodes as
      * `?`, a separator, just as the char itself is. */
    def apply(text: String): Runs =
      new Runs(if (text == null) Array.emptyByteArray else text.getBytes(UTF_8))

    /** Runs of a kernel's input row, case folded by [[foldCase]]. */
    def folded(s: UTF8String): Runs = new Runs(foldCase(s.getBytes))

    @inline private[Tokenizer] def upper(b: Byte): Boolean = b >= 'A' && b <= 'Z'
    @inline private def alnum(b: Byte): Boolean =
      (b >= 'a' && b <= 'z') || upper(b) || (b >= '0' && b <= '9')
    @inline private[Tokenizer] def fold(b: Byte): Int = if (upper(b)) b + 32 else b
  }
}
