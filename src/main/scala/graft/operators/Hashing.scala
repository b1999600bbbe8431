package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Cross-engine deterministic hashing, used by the oracle-checked
 * variants of the dedup/fingerprint operators.
 *
 * Production paths use `xxhash64` (codegen'd, fastest), but xxhash64
 * exists only inside Spark; these polynomial hashes are defined by
 * pure integer arithmetic (Rabin-Karp base-257 rolling hash mod
 * 1e9+7) so an external engine (the DuckDB oracle) can reproduce them
 * bit-for-bit:
 *
 *   DuckDB mirror of [[polyHash]]:
 *     list_reduce(list_concat([0::BIGINT],
 *       list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)),
 *       (a, b) -> (a * 257 + b) % 1000000007)
 *
 * P = 1e9+7 keeps every intermediate (h*257 + c < ~2.6e11 and
 * h*a + b with a,b < 1e6 → < ~1e15) inside signed-64 range, so
 * DuckDB's overflow-checked BIGINT arithmetic and Spark's wrapping
 * longs agree exactly.
 */
object Hashing {

  /** Modulus: largest common prime keeping all intermediates < 2^63. */
  val P: Long = 1000000007L

  /** Rolling polynomial hash over the string's characters:
    * fold h ← (h*257 + ascii(c)) mod P, h₀ = 0. Evaluates via the
    * native codegen'd expression ([[graft.functions.PolyHashExpr]]);
    * `DeclOracles.polyHashDecl` is the declarative reference form it must match
    * (PolyHashSpec pins the equivalence). */
  def polyHash(s: Column): Column = graft.functions.PolyHashExpr(s)

  /** Affine rehash (h*a + b) mod P — the "i-th permutation" for
    * MinHash signatures. Requires a, b < 1e6 (overflow bound). */
  def affine(h: Column, a: Long, b: Long): Column = {
    require(a < 1000000L && b < 1000000L, "affine coefficients must be < 1e6")
    pmod(h * lit(a) + lit(b), lit(P))
  }

  /** MinHash coefficient schedule (deterministic, public constants). */
  def minHashA(i: Int): Long = 7919L * i + 13L
  def minHashB(i: Int): Long = 4729L * i + 31L

  /** All `n` MinHash signature positions in ONE traversal of the hash
    * array: a fold carrying an n-wide running-min vector, instead of n
    * separate array_min passes over `hs`. Coefficients inline the
    * [[minHashA]]/[[minHashB]] schedule (i is a Column here); values
    * are bit-identical to array_min(transform(hs, affine(_, a_i, b_i))). */
  def minHashSig(hs: Column, n: Int): Column =
    aggregate(hs,
      transform(sequence(lit(1), lit(n)), _ => lit(P)),
      (acc, h) => zip_with(acc, sequence(lit(1), lit(n)),
        (m, i) => least(m, pmod(h * (lit(7919L) * i + lit(13L)) + lit(4729L) * i + lit(31L), lit(P)))))
}
