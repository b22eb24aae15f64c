package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Public Column API for graft's native expressions.
 *
 * Expressions are registered into the session's FunctionRegistry once
 * (idempotent) and invoked via the stable `call_function` API, so the
 * wrappers work identically from the DataFrame DSL and from `spark.sql`.
 */
package object functions {

  /** Register all graft native functions and the search planner
    * strategy ([[graft.plans.VectorTopKStrategy]]) in this session
    * (idempotent — keyed on the registry's and the planner's own state,
    * not an identity hash that could be reused after GC or collide
    * across sessions). */
  def registerAll(spark: SparkSession): Unit = {
    graft.plans.VectorTopKStrategy.install(spark)
    val reg0 = spark.sessionState.functionRegistry
    if (!reg0.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"))) synchronized {
      if (!reg0.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"))) {
        val reg = reg0
        FunctionCatalog.all.foreach { case (name, _, builder) =>
          reg.createOrReplaceTempFunction(name, builder, "built-in")
        }
      }
    }
  }

  /** Dot product of two array<float> columns (double result). */
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Cosine similarity of two array<float> columns (double result). */
  def vec_cosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)

  /** Squared L2 distance of two array<float> columns (double result). */
  def vec_l2sq(a: Column, b: Column): Column = call_function("vec_l2sq", a, b)

  /** Element-wise difference of two array<float> columns (array<float>). */
  def vec_sub(a: Column, b: Column): Column = call_function("vec_sub", a, b)

  /** L2 norm of an array<float> column (double result). */
  def vec_norm(a: Column): Column = call_function("vec_norm", a)

  /** L2-normalize an array<float> column (array<float> result). */
  def vec_normalize(a: Column): Column = call_function("vec_normalize", a)

  /** Feature-hash embedding of a string column (array<float> of dim). */
  def hash_embed(text: Column, dim: Int): Column =
    call_function("hash_embed", text, lit(dim))

  /** 64-slot MinHash signature of an array<string> set (array<long>). */
  def minhash_sig(set: Column): Column = call_function("minhash_sig", set)

  /** Byte-packed 64-slot MinHash signature (binary of 64 bytes). */
  def minhash_sigb(set: Column): Column = call_function("minhash_sigb", set)

  /** LSH band values of a byte signature (array<int> of `bands`). */
  def sig_bands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    call_function("sig_bands", sig, lit(bands), lit(rowsPerBand))

  /** Count of positionally-equal bytes of two binary signatures (int). */
  def sig_bytes_match(a: Column, b: Column): Column =
    call_function("sig_bytes_match", a, b)

  /** 64-bit SimHash of an array<string> token column (long). */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** Winnowing fingerprint [count, digest] of a string (array<long>). */
  def poly_winnow(text: Column, k: Int, w: Int): Column =
    call_function("poly_winnow", text, lit(k), lit(w))

  /** Distinct character k-shingles of a string column (array<string>). */
  def char_shingles(text: Column, k: Int): Column =
    call_function("char_shingles", text, lit(k))

  /** Distinct word n-grams of a string column (array<string>). */
  def word_ngrams(text: Column, n: Int): Column =
    call_function("word_ngrams", text, lit(n))

  /** Exact Jaccard similarity of two arrays read as sets (double). */
  def set_jaccard(a: Column, b: Column): Column = call_function("set_jaccard", a, b)

  /** Canonical text normalization (trim/collapse-ws/lower/NFC/strip
    * accents) of a string column (string). */
  def text_norm(text: Column): Column = call_function("text_norm", text)

  /** Non-overlapping w-token chunks of a string column (array<string>). */
  def tok_chunks(text: Column, w: Int): Column =
    call_function("tok_chunks", text, lit(w))

  /** Most frequent word n-gram and its count (struct<gram, cnt>). */
  def top_gram(text: Column, n: Int): Column =
    call_function("top_gram", text, lit(n))

  /** One-pass token stats: struct<n_tokens, n_unique, hits: array<int>>
    * with one language-marker hit count per [[SketchUtil.LangMarkers]]
    * entry (en, es, de, fr order). */
  def tok_stats(text: Column): Column = call_function("tok_stats", text)

  /** One-pass Gopher rule inputs: struct<n_words, sum_word_len,
    * n_symbol_words, n_alpha_words, n_stop_distinct, n_lines,
    * n_bullet_lines, n_ellipsis_lines>. */
  def gopher_stats(text: Column): Column = call_function("gopher_stats", text)

  /** C4 cleaning battery of a document (struct — see [[C4Stats]]). */
  def c4_stats(text: Column): Column = call_function("c4_stats", text)

  /** Int8-quantize an array<float> column (struct<scale, q>). */
  def vec_quantize(v: Column): Column = call_function("vec_quantize", v)

  /** Binary-quantize an array<float> column to its sign-bit long. */
  def vec_signbits(v: Column): Column = call_function("vec_signbits", v)

  /** Reconstruct an array<float> from a quantized struct. */
  def vec_dequantize(q: Column): Column = call_function("vec_dequantize", q)

  /** Approximate dot product of two quantized vectors (double). */
  def vec_dot_q8(a: Column, b: Column): Column = call_function("vec_dot_q8", a, b)

  /** Per-group exact top-k (score desc, id asc) as a partial-capable
    * aggregate — array<struct<score,id>>, best-first. */
  def vec_topk(score: Column, id: Column, k: Int): Column =
    call_function("vec_topk", score, id, lit(k))

  /** An array<float> vector as exact integer micro-units (array<long>). */
  def vec_micros(v: Column): Column = call_function("vec_micros", v)

  /** Element-wise sum aggregate over array<bigint> vectors of `dim`. */
  def vec_lsum(v: Column, dim: Int): Column =
    call_function("vec_lsum", v, lit(dim))

  /** Misra–Gries heavy-hitter candidate aggregate: sorted array<string>
    * superset of every key with true count > N/(capacity+1). */
  def freq_candidates(key: Column, capacity: Int): Column =
    call_function("freq_candidates", key, lit(capacity))

  /** Bounded KMV bottom-k distinct sketch (ascending value array). */
  def kmv_bottomk(u: Column, k: Int): Column =
    call_function("kmv_bottomk", u, org.apache.spark.sql.functions.lit(k))

  /** Exact integer test `cos(a, b) ≥ num/den` on micro-unit vectors. */
  def sim_micro_ge(a: Column, b: Column, num: Int, den: Int): Column =
    call_function("sim_micro_ge", a, b, lit(num), lit(den))
}
