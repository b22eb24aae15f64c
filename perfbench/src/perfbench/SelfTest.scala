package perfbench

import scala.collection.mutable.ArrayBuffer

/** Checks of the benchmark's own machinery: seeded generators, oracles,
  * failure accounting and number output. No Spark session is needed.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private val failures = ArrayBuffer[String]()
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def expect(ok: Boolean, what: => String): Unit = if (!ok) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("same seed gives byte-identical inputs, another seed different ones") {
      def vecs(seed: Long) = new Digest().floats(Gen.packed(seed, 500)).hex
      expect(vecs(7) == vecs(7), "vector digest differs for one seed")
      expect(vecs(7) != vecs(8), "vector digest equal for two seeds")
      def docs(seed: Long) = {
        val v = new Gen.Vocab(seed, 2000)
        Gen.dedupCorpus(seed, v, 50)._1.foldLeft(new Digest)((d, p) => d.long(p._1).string(p._2)).hex
      }
      expect(docs(7) == docs(7), "document digest differs for one seed")
      expect(docs(7) != docs(8), "document digest equal for two seeds")
    }

    test("a query's planted top-1 is the oracle's top-1") {
      val n = 2000
      val packed = Gen.packed(3, n)
      (0 until 20).foreach { op =>
        val (target, q) = Gen.query(3, op, n)
        expect(Oracle.topK(packed, 0, n, q, 10, Gen.vecItem).ids(0) == target, s"query $op")
      }
    }

    test("top-k oracle: score descending, ties broken on the item") {
      val corpus = Array[Float](1, 0, 0, 1, 1, 0, 0.5f, 0.5f)
      val names = Array("d", "c", "b", "a")
      val t = Oracle.topK(corpus, 0, 4, Array[Float](1, 0), 3, i => names(i))
      expect(t.items == Seq("b", "d", "a"), s"got ${t.items}")
    }

    test("parallel and blocked floors agree with the sequential oracle") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val n = 3001
        val packed = Gen.packed(5, n)
        val qs = Array.tabulate(5)(j => Gen.query(5, j, n)._2)
        val batch = Oracle.topKBatch(pool, 3, packed, n, qs, 10, Gen.vecItem)
        qs.indices.foreach { j =>
          val seq = Oracle.topK(packed, 0, n, qs(j), 10, Gen.vecItem).items
          expect(Oracle.topKParallel(pool, 3, packed, n, qs(j), 10, Gen.vecItem).items == seq, s"parallel $j")
          expect(batch(j).items == seq, s"blocked $j")
        }
      } finally pool.shutdown()
    }

    test("Jaccard oracle: exact 5-char shingles, best match with the smallest id") {
      expect(Oracle.shingles("abcdefg").toSeq == Seq("abcde", "bcdef", "cdefg"), "shingles")
      expect(Oracle.shingles("abc").toSeq == Seq("abc"), "short text is one shingle")
      val o = new Oracle.JaccardIndex
      o.add(5, "the quick brown fox")
      o.add(3, "the quick brown fox")
      o.add(9, "lorem ipsum dolor")
      expect(o.best("the quick brown fox") == ((1.0, 3L)), s"best ${o.best("the quick brown fox")}")
      val j = o.jaccardWith(9, "lorem ipsum dolor sit")
      val want = Oracle.jaccard(Oracle.shingles("lorem ipsum dolor sit"), Oracle.shingles("lorem ipsum dolor"))
      expect(j == want && j > 0.5 && j < 1.0, s"jaccardWith $j")
      expect(o.best("zzzzzzzz") == ((0.0, -1L)), "no shared shingle")
    }

    test("a throwing op and a wrong result each count as failures, not as times") {
      val r = new Recorder("t")
      r.run(1)(throw new IllegalStateException("boom"))(_ => None)
      r.run(1)(41)(v => if (v == 42) None else Some("wrong answer"))
      r.run(3)(42)(v => if (v == 42) None else Some("wrong answer"))
      expect(r.attempted == 3 && r.failed == 2, s"attempted ${r.attempted} failed ${r.failed}")
      expect(r.latMs.length == 1 && r.items == 3, s"samples ${r.latMs.length} items ${r.items}")
      expect(r.errors.exists(_.contains("boom")) && r.errors.contains("wrong answer"), s"errors ${r.errors}")
    }

    test("a capped op counts as failed") {
      val r = new Recorder("cap")
      r.run(1)(throw new CapExceeded("op passed its 1 ms time cap"))(_ => None)
      expect(r.failed == 1 && r.latMs.isEmpty, "cap overrun recorded as a time")
    }

    test("numbers are locale-free; non-finite values are null with an error") {
      val old = java.util.Locale.getDefault
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        expect(Json.metric(0.125, "ms") == """{"value": 0.125, "unit": "ms"}""", Json.metric(0.125, "ms"))
        expect(Table.fmt(0.5) == "0.5000", Table.fmt(0.5))
      } finally java.util.Locale.setDefault(old)
      expect(Json.metric(Double.NaN, "ms").startsWith("""{"value": null, "unit": "ms", "error": """), "NaN")
      expect(Json.metric(Double.PositiveInfinity, "s").contains("\"value\": null"), "Infinity")
      expect(Json.num(3.0) == "3" && Json.num(1234.5678) == "1234.5678", "digits")
      val line = Json.result(true, 2, 0, Seq(("a", 1.5, "ms")))
      expect(line == """{"correct": true, "attempted": 2, "failed": 0, "metrics": {"a": {"value": 1.5, "unit": "ms"}}}""", line)
    }

    test("percentiles interpolate; an empty sample is NaN") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median")
      expect(Stats.percentile(Seq(0.0, 10.0), 0.9) == 9.0, "p90")
      expect(Stats.median(Nil).isNaN, "empty")
    }

    println(s"$passed passed, ${failures.length} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
