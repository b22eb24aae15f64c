package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** SplitMix64: a small, fully specified generator, so one seed gives
  * byte-identical inputs on every JVM. Gaussians use Box-Muller over
  * `StrictMath`, whose results are pinned bit for bit. */
final class Rng(private var s: Long) {
  private var spare = Double.NaN

  def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }

  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))

  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt

  def nextGaussian(): Double =
    if (!spare.isNaN) { val g = spare; spare = Double.NaN; g }
    else {
      var u = nextDouble()
      while (u <= 0.0) u = nextDouble()
      val r = StrictMath.sqrt(-2.0 * StrictMath.log(u))
      val th = 2.0 * StrictMath.PI * nextDouble()
      spare = r * StrictMath.sin(th)
      r * StrictMath.cos(th)
    }
}

object Rng {
  def mix(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A stream keyed by a path of longs (seed, purpose, index, ...). */
  def apply(key: Long*): Rng = new Rng(key.foldLeft(0x6A09E667F3BCC909L)((h, k) => mix(h ^ k)))
}

/** SHA-256 over generated inputs, fed in a fixed order. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private val buf = java.nio.ByteBuffer.allocate(8)

  def floats(a: Array[Float]): Digest = {
    var i = 0
    while (i < a.length) {
      buf.clear(); buf.putInt(java.lang.Float.floatToRawIntBits(a(i))); md.update(buf.array(), 0, 4)
      i += 1
    }
    this
  }

  def long(v: Long): Digest = { buf.clear(); buf.putLong(v); md.update(buf.array(), 0, 8); this }

  def string(s: String): Digest = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    long(b.length.toLong); md.update(b); this
  }

  def hex: String = md.digest().take(12).map(b => "%02x".formatLocal(java.util.Locale.ROOT, b & 0xff)).mkString
}

/** Seeded input generators. Every input is a pure function of
  * (seed, purpose, index), so the Spark side and the oracle side can
  * generate the same rows independently. */
object Gen {
  val Dim = 64

  // purpose tags, one stream family each
  private val CorpusVec = 1L
  private val QueryVec = 2L
  private val VocabTag = 3L
  private val DocTag = 4L
  private val BatchTag = 5L

  def pad(i: Long, width: Int): String = {
    val s = java.lang.Long.toString(i)
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  def vecItem(i: Int): String = "v" + pad(i, 7)

  private def unit(d: Array[Double]): Array[Float] = {
    var s = 0.0
    d.foreach(x => s += x * x)
    val n = StrictMath.sqrt(s)
    d.map(x => (x / n).toFloat)
  }

  /** Corpus vector `i`: a unit-norm Gaussian direction. */
  def vector(seed: Long, i: Long): Array[Float] = {
    val r = Rng(seed, CorpusVec, i)
    unit(Array.fill(Dim)(r.nextGaussian()))
  }

  /** All `n` corpus vectors packed row-major into one `float[]`. */
  def packed(seed: Long, n: Int): Array[Float] = {
    val out = new Array[Float](n * Dim)
    var i = 0
    while (i < n) { System.arraycopy(vector(seed, i), 0, out, i * Dim, Dim); i += 1 }
    out
  }

  /** Query `op`: corpus vector `target` plus small noise, renormalized,
    * so its true top-1 is `target`. */
  def query(seed: Long, op: Long, n: Int): (Int, Array[Float]) = {
    val r = Rng(seed, QueryVec, op)
    val target = r.nextInt(n)
    val v = vector(seed, target)
    (target, unit(Array.tabulate(Dim)(d => v(d) + 0.05 * r.nextGaussian())))
  }

  /** A vocabulary of distinct lowercase letter words with Zipf(1.0)
    * frequencies: rank r is drawn with weight 1/r. Word length grows
    * with rank as in natural text (frequent words are short): rank r
    * has 2 + floor(log2(r + 1)) / 2 letters, so every seed has the same
    * length profile and only the letters vary. */
  final class Vocab(seed: Long, val size: Int) extends Serializable {
    val words: Array[String] = {
      val r = Rng(seed, VocabTag)
      val seen = new java.util.HashSet[String]()
      val out = new Array[String](size)
      var i = 0
      while (i < size) {
        val len = 2 + (31 - Integer.numberOfLeadingZeros(i + 1)) / 2
        val w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
        if (seen.add(w)) { out(i) = w; i += 1 }
      }
      out
    }
    private val cdf: Array[Double] = {
      val c = new Array[Double](size)
      var acc = 0.0
      var i = 0
      while (i < size) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }

    def draw(r: Rng): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(math.min(i, size - 1))
    }

    def text(r: Rng, nWords: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < nWords) { if (i > 0) sb.append(' '); sb.append(draw(r)); i += 1 }
      sb.toString
    }
  }

  /** Ingest document `i`: a unique id token then 6–15 Zipf words. */
  def ingestDoc(seed: Long, vocab: Vocab, i: Long): String = {
    val r = Rng(seed, DocTag, i)
    "doc" + pad(i, 9) + " " + vocab.text(r, 6 + r.nextInt(10))
  }

  /** Ingest batch `op`: `size` items, `dupShare` of them drawn from the
    * base documents `[0, base)` (already present), the rest new. */
  def ingestBatch(seed: Long, vocab: Vocab, op: Long, base: Int, size: Int,
      dupShare: Double): Array[String] = {
    val r = Rng(seed, BatchTag, op)
    val nDup = math.round(size * dupShare).toInt
    val old = Array.fill(nDup)(ingestDoc(seed, vocab, r.nextInt(base).toLong))
    val fresh = Array.tabulate(size - nDup)(j =>
      ingestDoc(seed, vocab, 100000000L + op * 100000L + j))
    old ++ fresh
  }

  /** Dedup document: 40–80 Zipf words. */
  def dedupText(r: Rng, vocab: Vocab): String = vocab.text(r, 40 + r.nextInt(41))

  /** A near-duplicate of `text`: each word is replaced with probability
    * 2%, and at least one word changes. */
  def perturb(r: Rng, vocab: Vocab, text: String): String = {
    val ws = text.split(' ')
    var changed = false
    var i = 0
    while (i < ws.length) {
      if (r.nextDouble() < 0.02) { ws(i) = vocab.draw(r); changed = true }
      i += 1
    }
    if (!changed) ws(r.nextInt(ws.length)) = "zz" + vocab.draw(r)
    ws.mkString(" ")
  }

  /** The dedup corpus: `n` documents, every tenth one a planted
    * near-duplicate of an earlier original (never of another copy).
    * Returns (doc_id, text) and each document's original: itself, or
    * the document its planted copy was made from. */
  def dedupCorpus(seed: Long, vocab: Vocab, n: Int): (Array[(Long, String)], Array[Int]) = {
    val r = Rng(seed, DocTag)
    val docs = new Array[(Long, String)](n)
    val original = Array.tabulate(n)(identity)
    var i = 0
    while (i < n) {
      docs(i) =
        if (i % 10 == 9) {
          var src = r.nextInt(i)
          if (src % 10 == 9) src -= 1
          original(i) = src
          (i.toLong, perturb(r, vocab, docs(src)._2))
        } else (i.toLong, dedupText(r, vocab))
      i += 1
    }
    (docs, original)
  }

  /** Dedup probe batch `op` against the documents `pool`: a third exact
    * copies, a third planted near-duplicates, a third novel. Incoming
    * ids start at 10^9 and never collide across ops. */
  def dedupBatch(seed: Long, vocab: Vocab, op: Long, pool: IndexedSeq[String],
      size: Int): Array[(Long, String)] = {
    val r = Rng(seed, BatchTag, op)
    Array.tabulate(size) { j =>
      val id = 1000000000L + op * 10000L + j
      j % 3 match {
        case 0 => (id, pool(r.nextInt(pool.length)))
        case 1 => (id, perturb(r, vocab, pool(r.nextInt(pool.length))))
        case _ => (id, dedupText(r, vocab))
      }
    }
  }
}
