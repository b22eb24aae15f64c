package perfbench

import java.util.concurrent.{Callable, ExecutorService}

/** Plain-JVM reference answers. The top-k oracle accumulates the dot in
  * double in element order, exactly like `vec_dot`, and breaks score
  * ties on the item (ascending), exactly like `SemanticIndex.search`;
  * so a correct engine returns the same ids in the same order. */
object Oracle {

  /** A bounded best-k list: score descending, then item ascending. */
  final class TopK(k: Int, item: Int => String) {
    val scores = new Array[Double](k)
    val ids = new Array[Int](k)
    var size = 0

    private def better(s: Double, i: Int, j: Int): Boolean =
      s > scores(j) || (s == scores(j) && item(i).compareTo(item(ids(j))) < 0)

    def offer(s: Double, i: Int): Unit =
      if (size < k || better(s, i, size - 1)) {
        var p = math.min(size, k - 1)
        while (p > 0 && better(s, i, p - 1)) {
          scores(p) = scores(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        scores(p) = s; ids(p) = i
        if (size < k) size += 1
      }

    def merge(o: TopK): Unit = { var j = 0; while (j < o.size) { offer(o.scores(j), o.ids(j)); j += 1 } }

    def items: Seq[String] = (0 until size).map(j => item(ids(j)))
  }

  def dot(corpus: Array[Float], row: Int, q: Array[Float]): Double = {
    val off = row * q.length
    var s = 0.0
    var d = 0
    while (d < q.length) { s += corpus(off + d).toDouble * q(d).toDouble; d += 1 }
    s
  }

  /** Exact top-k of `q` over rows `[from, until)` of a packed corpus. */
  def topK(corpus: Array[Float], from: Int, until: Int, q: Array[Float], k: Int,
      item: Int => String): TopK = {
    val t = new TopK(k, item)
    var r = from
    while (r < until) { t.offer(dot(corpus, r, q), r); r += 1 }
    t
  }

  /** The same loop split over `threads` row ranges, merged: the floor
    * a single query could reach on this machine without Spark. */
  def topKParallel(pool: ExecutorService, threads: Int, corpus: Array[Float], n: Int,
      q: Array[Float], k: Int, item: Int => String): TopK = {
    val parts = (0 until threads).map { t =>
      pool.submit(new Callable[TopK] {
        def call(): TopK = topK(corpus, (n.toLong * t / threads).toInt,
          (n.toLong * (t + 1) / threads).toInt, q, k, item)
      })
    }
    val out = new TopK(k, item)
    parts.foreach(f => out.merge(f.get()))
    out
  }

  /** Blocked q×n scoring: each thread walks its row range in blocks of
    * rows and scores every query against a block while it is in cache. */
  def topKBatch(pool: ExecutorService, threads: Int, corpus: Array[Float], n: Int,
      qs: Array[Array[Float]], k: Int, item: Int => String): Array[TopK] = {
    val block = 256
    val parts = (0 until threads).map { t =>
      pool.submit(new Callable[Array[TopK]] {
        def call(): Array[TopK] = {
          val heaps = Array.fill(qs.length)(new TopK(k, item))
          val from = (n.toLong * t / threads).toInt
          val until = (n.toLong * (t + 1) / threads).toInt
          var b = from
          while (b < until) {
            val e = math.min(b + block, until)
            var qi = 0
            while (qi < qs.length) {
              var r = b
              while (r < e) { heaps(qi).offer(dot(corpus, r, qs(qi)), r); r += 1 }
              qi += 1
            }
            b = e
          }
          heaps
        }
      })
    }
    val out = Array.fill(qs.length)(new TopK(k, item))
    parts.foreach { f => val h = f.get(); h.indices.foreach(i => out(i).merge(h(i))) }
    out
  }

  /** Distinct character k-shingles, as `char_shingles` defines them. */
  def shingles(text: String, k: Int = 5): Array[String] = {
    val n = text.codePointCount(0, text.length)
    val off = new Array[Int](n + 1)
    var o = 0
    var i = 0
    while (i < n) { off(i) = o; o = text.offsetByCodePoints(o, 1); i += 1 }
    off(n) = text.length
    val seen = new java.util.LinkedHashSet[String]()
    i = 0
    while (i <= math.max(n - k, 0)) { seen.add(text.substring(off(i), off(math.min(i + k, n)))); i += 1 }
    seen.toArray(new Array[String](0))
  }

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = new java.util.HashSet[String](java.util.Arrays.asList(a: _*))
    var inter = 0
    b.foreach(x => if (sa.contains(x)) inter += 1)
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Exact 5-char-shingle Jaccard against a growing document set, via
    * shingle postings: every document sharing at least one shingle is
    * scored exactly, so no pair is missed. */
  final class JaccardIndex {
    private val postings = new java.util.HashMap[String, Array[Int]]()
    private val postLen = new java.util.HashMap[String, Int]()
    private val ids = scala.collection.mutable.ArrayBuffer[Long]()
    private val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    private val byId = new java.util.HashMap[Long, Array[String]]()

    def size: Int = ids.length

    def add(id: Long, text: String): Unit = {
      val sh = shingles(text)
      val slot = ids.length
      ids += id; sizes += sh.length; byId.put(id, sh)
      sh.foreach { s =>
        val len = postLen.getOrDefault(s, 0)
        var arr = postings.get(s)
        if (arr == null || arr.length == len) {
          val grown = new Array[Int](math.max(4, len * 2))
          if (arr != null) System.arraycopy(arr, 0, grown, 0, len)
          arr = grown; postings.put(s, arr)
        }
        arr(len) = slot; postLen.put(s, len + 1)
      }
    }

    /** Exact Jaccard of `text` with the indexed document `id`. */
    def jaccardWith(id: Long, text: String): Double = {
      val sh = byId.get(id)
      if (sh == null) Double.NaN else jaccard(shingles(text), sh)
    }

    /** Best match of `text`: (max Jaccard, smallest id attaining it);
      * (0, -1) when no document shares a shingle. */
    def best(text: String): (Double, Long) = {
      val sh = shingles(text)
      val inter = new java.util.HashMap[Int, Int]()
      sh.foreach { s =>
        val arr = postings.get(s)
        if (arr != null) {
          var j = 0
          val len = postLen.get(s)
          while (j < len) { inter.merge(arr(j), 1, (a: Int, b: Int) => a + b); j += 1 }
        }
      }
      var bestJ = 0.0
      var bestId = -1L
      inter.forEach { (slot: Int, c: Int) =>
        val j = c.toDouble / (sh.length + sizes(slot) - c)
        val id = ids(slot)
        if (j > bestJ || (j == bestJ && bestId >= 0 && id < bestId)) { bestJ = j; bestId = id }
      }
      (bestJ, bestId)
    }
  }
}
