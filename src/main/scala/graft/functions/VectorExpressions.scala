package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.graftnative.VectorNative

/** Public Column-API entry points for the native vector kernels (the
  * codegen expressions themselves live in
  * org.apache.spark.sql.graftnative — see that file for why).
  */
object VectorFunctions {
  /** Dot product of two array<double> columns (whole-stage codegen). */
  def dot(a: Column, b: Column): Column = VectorNative.dot(a, b)

  /** L2 norm of an array<double> column (codegen'd self-dot). */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** ALL `tables` hyperplane-LSH signatures of a QUANTIZED integer
    * vector (array<long>, see Sketches.quantized) at once as
    * array<long> — md5-derived integer planes, sign-of-integer-dot
    * bits, so the whole family replays bit-exactly in DuckDB (see
    * graftnative.IntPlaneSigs). `shift` is the basis' non-negativity
    * offset (Clustering.ShiftQ). */
  def intPlaneSigs(a: Column, bits: Int, tables: Int, seedBase: Int,
      shift: Long): Column =
    VectorNative.intPlaneSigs(a, bits, tables, seedBase, shift)

  /** Integer squared L2 between two array<long> columns (the quantized
    * ANN/k-means basis) as whole-stage codegen — bit-identical to the
    * zip_with HOF spelling, minus its per-element interpreted lambda
    * (see graftnative.LongL2Sq). */
  def longL2Sq(a: Column, b: Column): Column = VectorNative.longL2Sq(a, b)

  /** struct(d, cid) of the centroid in `cents` nearest to an array<long>
    * column by [[longL2Sq]], ties to the lower cid — one codegen kernel
    * whose generated code does not depend on K or the centroid values
    * (see graftnative.LongNearest). */
  def longNearest(a: Column, cents: Array[Array[Long]]): Column =
    VectorNative.longNearest(a, cents)

  /** Integer dot of two array<long> columns with both sides de-shifted
    * by `shift` — the quantized-basis cosine numerator (see
    * graftnative.LongShiftedDot). */
  def longShiftedDot(a: Column, b: Column, shift: Long): Column =
    VectorNative.longShiftedDot(a, b, shift)

  /** Hashed word-3-grams of an array<string> column, one pass, no
    * string materialization (see graftnative.WordGramHashes). */
  def wordGramHashes(ws: Column): Column = VectorNative.wordGramHashes(ws)

  /** Hashed word-k-grams — [[wordGramHashes]] generalized; the k=8
    * window-hash kernel of the substring/span/boilerplate family (see
    * graftnative.WordKGramHashes). */
  def wordKGramHashes(ws: Column, k: Int): Column =
    VectorNative.wordKGramHashes(ws, k)

  /** All (lo, hi) pairs from an array<long> of ids (see
    * graftnative.SortedIdPairs) — the pair-expansion kernel. */
  def sortedIdPairs(ids: Column): Column = VectorNative.sortedIdPairs(ids)

  /** Aggregate: distinct long ids as a sorted array, NULL once a group
    * exceeds `cap` distinct values — buffer bounded at cap+1 entries
    * (see graftnative.CappedIdSet; the postings-build kernel). */
  def cappedIdSet(ids: Column, cap: Int): Column =
    org.apache.spark.sql.graftnative.CappedIdSet.cappedIdSet(ids, cap)

  /** Canonical distinct-char-set string of a text column (one pass,
    * code-point order — see graftnative.CharSetString; the char-set
    * Jaccard dedup key). */
  def charSet(text: Column): Column = VectorNative.charSet(text)

  /** NFC-normalize a string column (codegen; ASCII short-circuits
    * without leaving the unsafe representation — see
    * graftnative.NfcNormalize). The first stage of the shared corpus
    * tokenizer; DuckDB mirror is `nfc_normalize`. */
  def nfc(text: Column): Column = VectorNative.nfc(text)

  /** Locale-pinned (ROOT) lowercase of a string column — the lowercase
    * stage of the tokenizer's semantic definition. Spark's `lower()`
    * folds non-ASCII under the JVM default locale; this is invariant
    * (see graftnative.RootLower). */
  def lowerRoot(text: Column): Column = VectorNative.lowerRoot(text)

  /** Fused corpus tokenizer: NFC + lower + split into maximal
    * letter/digit runs, one codegen pass with an ASCII byte-level
    * fast path (see graftnative.NormalizedTokens). Equivalent to
    * `filter(split(lower(nfc(c)), "[^\\p{L}\\p{N}]+"), len > 0)`. */
  def normTokens(text: Column): Column = VectorNative.normTokens(text)

  /** Aggregate: per-group top-k (score, id) pairs as a rank-ordered
    * array<struct<score, id>> (score DESC, ties id ASC) with O(k)
    * buffer state at every stage — the bounded, map-side-combinable
    * alternative to the row_number window top-k (see
    * graftnative.TopKByScore). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.graftnative.TopKByScore.topKByScore(score, id, k)

  /** Jaro-Winkler similarity of two string columns, byte-oriented and
    * bit-identical to DuckDB's `jaro_winkler_similarity` (see
    * graftnative.StringDistanceKernels). */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.StringDistanceNative.jaroWinkler(a, b)

  /** Full Damerau-Levenshtein distance (unrestricted transpositions)
    * of two string columns; DuckDB mirror `damerau_levenshtein`. */
  def damerauLevenshtein(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.StringDistanceNative.damerauLevenshtein(a, b)

  /** Byte Hamming distance of two string columns; NULL when lengths
    * differ (DuckDB's `hamming` errors there — see the kernel note). */
  def hammingDist(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.StringDistanceNative.hamming(a, b)

  /** One-pass char-entropy stats of a string column:
    * `struct<n_distinct_chars: bigint, entropy: double>` via the
    * `log2(tot) - Σ n·log2 n / tot` identity (see
    * graftnative.CharEntropyStats) — the shuffle-free q_text_entropy
    * kernel. */
  def charEntropy(text: Column): Column = VectorNative.charEntropy(text)

  /** Minimum MD5 (lowercase hex) over sliding `gramLen`-code-point
    * windows of a string column — the winnowing fingerprint, computed
    * as a rolling min over 16-byte digests with no per-window string
    * or array materialization (see graftnative.MinGramMd5). */
  def minGramMd5(text: Column, gramLen: Int): Column =
    VectorNative.minGramMd5(text, gramLen)

  /** Aggregate: element-wise sum of array<long> rows — the fused Lloyd
    * M-step aggregate (see graftnative.LongVecSum). One hash aggregate
    * over unexploded vectors replaces posexplode + double groupBy. */
  def longVecSum(a: Column): Column =
    org.apache.spark.sql.graftnative.LongVecSum.longVecSum(a)
}
