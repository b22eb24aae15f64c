package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * THE list of graft's native SQL functions — one definition consumed
 * by both registration surfaces, so they can never drift:
 *  - [[graft.functions.registerAll]] (ad-hoc sessions, temp functions);
 *  - [[graft.GraftExtensions]] (`spark.sql.extensions` — permanent,
 *    survives session cloning, visible from pure SQL/thriftserver).
 * Before r7 the extension class carried its own hand-copied subset and
 * had silently fallen behind registerAll by a dozen functions; a
 * catalog-parity spec now pins both surfaces to this map.
 */
object FunctionCatalog {

  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]

  /** name → (usage doc, builder). */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "dot product of two array<float>",
      (es: Seq[Expression]) => VectorDot(es(0), es(1))),
    ("vec_cosine", "cosine similarity of two array<float>",
      (es: Seq[Expression]) => VectorCosine(es(0), es(1))),
    ("vec_l2sq", "squared L2 distance of two array<float>",
      (es: Seq[Expression]) => VectorL2Sq(es(0), es(1))),
    ("vec_sub", "element-wise difference of two array<float>",
      (es: Seq[Expression]) => VectorSub(es(0), es(1))),
    ("vec_norm", "L2 norm of an array<float>",
      (es: Seq[Expression]) => VectorNorm(es.head)),
    ("vec_normalize", "L2-normalize an array<float>",
      (es: Seq[Expression]) => VectorNormalize(es.head)),
    ("hash_embed", "feature-hash embedding of a string",
      (es: Seq[Expression]) => HashEmbed(es(0), int(es(1)))),
    ("minhash_sig", "64-slot MinHash signature of array<string>",
      (es: Seq[Expression]) => MinHashSig(es.head, SketchUtil.permA,
        SketchUtil.permB, SketchUtil.MinhashPrime)),
    ("minhash_sigb", "byte-packed 64-slot MinHash signature of array<string>",
      (es: Seq[Expression]) => MinHashSigBytes(es.head, SketchUtil.permA,
        SketchUtil.permB, SketchUtil.MinhashPrime)),
    ("sig_bands", "LSH band values of a byte signature",
      (es: Seq[Expression]) => SigBands(es(0), int(es(1)), int(es(2)))),
    ("sig_bytes_match", "count of equal bytes of two binary signatures",
      (es: Seq[Expression]) => SigBytesMatch(es(0), es(1))),
    ("simhash64", "64-bit SimHash of array<string>",
      (es: Seq[Expression]) => SimHash64(es.head)),
    ("poly_winnow", "winnowing fingerprint [count, digest] of a string",
      (es: Seq[Expression]) => PolyWinnow(es(0), int(es(1)), int(es(2)))),
    ("char_shingles", "distinct char k-shingles of a string",
      (es: Seq[Expression]) => CharShingles(es(0), int(es(1)))),
    ("word_ngrams", "distinct word n-grams of a string",
      (es: Seq[Expression]) => WordNgrams(es(0), int(es(1)))),
    ("set_jaccard", "exact Jaccard similarity of two arrays read as sets",
      (es: Seq[Expression]) => SetJaccard(es(0), es(1),
        org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)),
    ("text_norm", "canonical normalization of a string",
      (es: Seq[Expression]) => NormalizeText(es.head)),
    ("tok_chunks", "non-overlapping w-token chunks of a string",
      (es: Seq[Expression]) => TokChunks(es(0), int(es(1)))),
    ("top_gram", "most frequent word n-gram and its count",
      (es: Seq[Expression]) => TopGram(es(0), int(es(1)))),
    ("tok_stats", "one-pass token statistics of a string",
      (es: Seq[Expression]) => TokStats(es(0), SketchUtil.LangMarkers.map(_._2))),
    ("gopher_stats", "one-pass Gopher rule inputs of a string",
      (es: Seq[Expression]) => GopherStats(es.head)),
    ("c4_stats", "C4 cleaning battery of a document",
      (es: Seq[Expression]) => C4Stats(es.head)),
    ("vec_quantize", "int8-quantize an array<float>",
      (es: Seq[Expression]) => VectorQuantize(es.head)),
    ("vec_dequantize", "reconstruct array<float> from a quantized struct",
      (es: Seq[Expression]) => VectorDequantize(es.head)),
    ("vec_dot_q8", "approximate dot of two quantized vectors",
      (es: Seq[Expression]) => QuantizedDot(es(0), es(1))),
    ("vec_signbits", "binary-quantize an array<float> to its sign-bit long",
      (es: Seq[Expression]) => VectorSignBits(es.head)),
    ("vec_topk", "per-group exact top-k (score desc, id asc) aggregate",
      (es: Seq[Expression]) => TopKByScore(es(0), es(1), int(es(2)))),
    ("vec_micros", "array<float> as exact integer micro-units",
      (es: Seq[Expression]) => VecMicros(es.head)),
    ("sim_micro_ge", "exact integer test cos(a,b) >= num/den on micro vectors",
      (es: Seq[Expression]) => SimMicroAtLeast(es(0), es(1),
        int(es(2)).toLong, int(es(3)).toLong)),
    ("vec_lsum", "element-wise sum aggregate over array<bigint> vectors",
      (es: Seq[Expression]) => LongVecSum(es(0), int(es(1)))),
    ("freq_candidates", "Misra-Gries heavy-hitter candidate aggregate",
      (es: Seq[Expression]) => FreqCandidates(es(0), int(es(1)))),
    ("kmv_bottomk", "bounded KMV bottom-k distinct sketch aggregate",
      (es: Seq[Expression]) => KmvBottomK(es(0), int(es(1)))))
}
