package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshims.{DotProduct, L2Norm}
import org.apache.spark.sql.graftshims.SqlShims.{column, expression}

/** Public facade over the native Catalyst vector expressions
  * ([[org.apache.spark.sql.graftshims.DotProduct]] /
  * [[org.apache.spark.sql.graftshims.L2Norm]]) — codegen'd primitive
  * loops replacing the CodegenFallback `aggregate(zip_with(...))` HOF
  * form on the embedding hot path, with identical index-ordered double
  * arithmetic (so DuckDB-oracle parity is preserved). */
object VectorExpressions {

  /** `Σ a[i]*b[i]` over `array<double>` columns (length = min of the
    * two; null array → null). */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** L2 norm — `sqrt(Σ v[i]²)` fused in one pass. */
  def l2Norm(v: Column): Column = column(L2Norm(expression(v)))

  /** 28-bit md5-prefix hash of every string element in one codegen'd
    * pass (replaces the interpreted `transform(arr, s -> hash28(s))`). */
  def hash28Array(arr: Column): Column =
    column(org.apache.spark.sql.graftshims.Hash28Array(expression(arr)))

  /** All k MinHash signature entries in one pass over the hashed
    * shingles: entry j = `min_h ((a(j)*h + b(j)) % p)`. */
  def minhashSignatures(
      hashedShingles: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    column(org.apache.spark.sql.graftshims.MinHashSignatures(
      expression(hashedShingles), a, b, p))

  /** All banded sign-LSH keys in one pass: element b =
    * `Σ_p (round(v·plane[b·P+p], 6) >= 0 ? 1<<p : 0)`. The plane matrix
    * ships once as a codegen reference object instead of B×P literal
    * arrays. */
  def lshBandKeys(
      v: Column, planes: Seq[Seq[Double]],
      bands: Int, planesPerBand: Int): Column =
    column(org.apache.spark.sql.graftshims.BandedLshKeys(
      expression(v), planes, bands, planesPerBand))

  /** Hilbert curve index of 2-6 scaled long coordinates — one compiled
    * kernel call per row, replacing the interpreted aggregate-HOF walk
    * of [[Hilbert.index2]]/[[Hilbert.indexD]] (kept as the spec
    * cross-checks) on the clustering hot path. */
  def hilbertIndex(coords: Seq[Column], bits: Int): Column =
    column(org.apache.spark.sql.graftshims.HilbertIndexExpr(
      coords.map(expression), bits))

  /** The whole MinHash shingle front-end (tokenize → word n-grams →
    * distinct → 28-bit md5-prefix hash) fused into one codegen'd
    * kernel — bit-identical to
    * `hash28Array(array_distinct(TextFunctions.wordNgrams(text, n)))`,
    * which is kept as the spec cross-check (its HOF ngram walk forces
    * the whole projection interpreted). */
  def hashedShingles(text: Column, n: Int): Column =
    column(org.apache.spark.sql.graftshims.HashedShingles(expression(text), n))

  /** The k smallest long-array elements, ascending — codegen'd
    * equivalent of `slice(array_sort(hs), 1, k)` (kept as the
    * BottomKExprSpec cross-check; its `array_sort` HOF forces the
    * whole projection interpreted). */
  def bottomK(arr: Column, k: Int): Column =
    column(org.apache.spark.sql.graftshims.BottomK(expression(arr), k))

  /** All MinHash band-bucket keys ("," joins, nulls skipped) in one
    * codegen'd pass over the signature array — equivalent of the
    * `aggregate(sequence(...))` concat_ws fold (kept as the
    * BandKeysExprSpec cross-check). */
  def minhashBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    column(org.apache.spark.sql.graftshims.MinHashBandKeys(
      expression(sig), bands, rowsPerBand))

  /** `Σ (a[i]-b[i])²` — codegen'd squared L2 replacing the interpreted
    * `aggregate(zip_with(...))` fold (kept as `Pq.l2sqComposed`, the
    * PqKernelSpec cross-check). */
  def l2Sq(a: Column, b: Column): Column =
    column(org.apache.spark.sql.graftshims.L2SqDist(
      expression(a), expression(b)))

  /** Round-4 squared-L2 distances from `vec[offset ..)` to every
    * centroid of a codebook in one codegen'd pass (the PQ encode /
    * IVF probe primitive; composed `transform(bookLit, c ->
    * round(l2sq(slice(...)), 4))` kept as the PqKernelSpec
    * cross-check). */
  def centroidDists(vec: Column, centroids: Seq[Seq[Double]],
      offset: Int): Column =
    column(org.apache.spark.sql.graftshims.CentroidDists(
      expression(vec), centroids, offset))

  /** Exact integer `Σ (a[i]-b[i])²` over SQ code arrays — codegen'd
    * (composed fold kept as `Sq.codeDistComposed`). */
  def codeDist(a: Column, b: Column): Column =
    column(org.apache.spark.sql.graftshims.CodeDistLong(
      expression(a), expression(b)))

  /** Scalar-quantization encode against fixed per-dimension bounds —
    * codegen'd (composed zip_with form kept as `Sq.sqCodesComposed`). */
  def sqEncode(vec: Column, mns: Seq[Double], mxs: Seq[Double],
      levels: Int): Column =
    column(org.apache.spark.sql.graftshims.SqEncode(
      expression(vec), mns, mxs, levels))

  /** Element-wise scale by a fixed weight profile (index < |weights| →
    * weights(i), else defaultWeight) — codegen'd replacement for the
    * indexed-lambda `transform(vec, (x, i) -> x * ...)`. */
  def vecScale(vec: Column, weights: Seq[Double],
      defaultWeight: Double): Column =
    column(org.apache.spark.sql.graftshims.VecScale(
      expression(vec), weights, defaultWeight))

  /** Word n-grams (single-space tokens, trailing empties kept, empty
    * array under n tokens) — codegen'd front half of [[hashedShingles]]
    * for feeds needing the gram STRINGS; the HOF spelling is kept as
    * `TextFunctions.wordNgramsComposed` (WordNgramsSpec pins
    * equivalence). */
  def wordNgrams(text: Column, n: Int): Column =
    column(org.apache.spark.sql.graftshims.WordNgrams(expression(text), n))

  /** [[wordNgrams]] with the curation feeds' `greatest(len-n+1, 1)`
    * truncation: one gram of ALL tokens when the doc is shorter than
    * n. */
  def wordNgramsMinOne(text: Column, n: Int): Column =
    column(org.apache.spark.sql.graftshims.WordNgrams(
      expression(text), n, minOne = true))

  /** md5-prefix hashes of a text's word n-grams in one codegen'd pass
    * (hexDigits 7 = hash28, 15 = hash60; minOne = the truncated-gram
    * variant) — the composed `transform(sequence(...), i ->
    * hash(array_join(slice(...))))` spellings are the
    * Round14KernelSpec cross-checks. */
  def ngramHashes(text: Column, n: Int, hexDigits: Int,
      minOne: Boolean): Column =
    column(org.apache.spark.sql.graftshims.NgramHashes(
      expression(text), n, hexDigits, minOne))

  /** 16-bit SimHash of an `array<long>` of token hashes — codegen'd
    * (composed aggregate/filter spelling pinned by
    * Round14KernelSpec). */
  def simhash16(hashes: Column): Column =
    column(org.apache.spark.sql.graftshims.Simhash16(expression(hashes)))
}
