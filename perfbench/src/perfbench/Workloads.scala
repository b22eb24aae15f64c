package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.index.{DedupIndex, HashEmbedder, SemanticIndex}

/** The four workloads. Each generates its inputs from the seed, drives
  * the public API from one closed-loop client, checks every result
  * against the plain-JVM oracle, and fills the run's metrics. */
object Workloads {
  val K = 10

  /** Returned-vs-expected tally behind `recall`. */
  final class Tally { var hit = 0L; var total = 0L; def value: Double = if (total == 0) Double.NaN else hit.toDouble / total }

  private def checkTopK(rows: Array[Row], want: Seq[String], tally: Tally): Option[String] = {
    val got = rows.map(_.getAs[String]("item")).toSeq
    val gotSet = got.toSet
    tally.hit += want.count(gotSet); tally.total += want.length
    if (got == want) None
    else Some(s"top-$K differs from the oracle: got ${got.take(3).mkString(",")} want ${want.take(3).mkString(",")}")
  }

  /** The end-to-end metrics every workload reports, plus the extra
    * lines that apply only where the sample supports them. */
  private def report(ctx: Ctx, setupS: Double, op: Recorder, recall: Tally, indexBytes: Long): Unit = {
    ctx.e2e ++= Seq(("setup_s", setupS, "s"), ("op_p50_ms", op.p(0.5), "ms"),
      ("items_per_s", op.rate, "1/s"), ("recall", recall.value, "ratio"),
      ("index_mb", indexBytes / 1e6, "MB"), ("heap_peak_mb", ctx.heapPeakMb, "MB"))
    val n = op.latMs.length
    println(Table.line("op_samples", n, "count"))
    println("  op latencies ms: " + op.latMs.map(Table.fmt).mkString(" "))
    println(if (n >= 100) Table.line("op_p90_ms", op.p(0.9), "ms")
      else s"  op_p90_ms: not reported, $n samples (needs 100)")
    println(Table.line("error_rate", if (op.attempted == 0) Double.NaN else op.failed.toDouble / op.attempted, "ratio"))
    println(Table.line("recall_checked", recall.total, "count", "oracle results compared"))
    println(Table.line("scratch_peak_mb", ctx.guard.peakScratchBytes / 1e6, "MB"))
  }

  private def fillCounters(ctx: Ctx, label: String, ops: Int): Unit =
    ctx.counters.foreach { c =>
      Counters.perOp(c.get(label), ops).foreach { case (k, v) => ctx.layer(s"$label.$k") = v }
    }

  // --- vector corpus, shared by search and search_batch -------------------

  final class Vectors(val packed: Array[Float], val index: SemanticIndex, val dir: Path)

  /** Generate `n` vectors (driver copy for the oracle, Spark copy for
    * the index), save the index and load it back. */
  private def buildVectors(ctx: Ctx, n: Int, dir: Path): Vectors = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val packed = Gen.packed(seed, n)
    val df = spark.range(0L, n.toLong, 1L, ctx.threads)
      .mapPartitions(it => it.map(i => (Gen.vecItem(i.toInt), Gen.vector(seed, i))))
      .toDF(SemanticIndex.ITEM, SemanticIndex.EMBEDDING)
    SemanticIndex.fromRecords(spark, df).save(dir.toString)
    new Vectors(packed, SemanticIndex.load(spark, dir.toString), dir)
  }

  private def vectorSetup(ctx: Ctx, name: String, n: Int, warmup: Vectors => Unit): (Double, Vectors) = {
    val (setupS, v) = ctx.setup(buildVectors(ctx, n, ctx.scratch.resolve(name)))(warmup)
    def digest(seed: Long) = new Digest().floats(Gen.packed(seed, n)).hex
    ctx.requireSeeded(s"$n unit vectors x ${Gen.Dim} dims", new Digest().floats(v.packed).hex,
      digest(ctx.seed), digest(ctx.seed + 1))
    (setupS, v)
  }

  /** Search-path cut points: scan to noop, scan plus `vec_dot` to
    * noop, the full top-k collect, and the plain-JVM floor. */
  private def searchLayers(ctx: Ctx, index: SemanticIndex, packed: Array[Float], n: Int,
      q: Array[Float], item: Int => String): Unit = {
    val recs = index.records
    val Seq(decode, score, full, floor) = ctx.cuts(7)(
      // a constant score column keeps the plan shape of the scored cut
      () => ctx.noop(recs.withColumn("score", lit(0.0))),
      () => ctx.noop(recs.withColumn("score",
        graft.functions.vec_dot(col(SemanticIndex.EMBEDDING), typedLit(q)))),
      () => index.search(q, K).collect(),
      () => Oracle.topKParallel(ctx.pool, ctx.threads, packed, n, q, K, item))
    ctx.layer("search.decode_ms") = decode
    ctx.layer("search.score_ms") = score - decode
    ctx.layer("search.topk_ms") = full - score
    ctx.layer("search.floor_ms") = floor
    ctx.layer("search.floor_x") = full / floor
  }

  // --- search ---------------------------------------------------------------

  def search(ctx: Ctx): Unit = {
    val n = 200000
    def runOne(v: Vectors, op: Long, rec: Recorder, tally: Tally): Unit = {
      val (target, q) = Gen.query(ctx.seed, op, n)
      rec.run(1) {
        ctx.guarded("search") {
          val df = ctx.tracer.span("SemanticIndex.search")(v.index.search(q, K))
          ctx.tracer.span("collect")(df.collect())
        }
      } { rows =>
        val want = Oracle.topKParallel(ctx.pool, ctx.threads, v.packed, n, q, K, Gen.vecItem).items
        ctx.require(want.head == Gen.vecItem(target), s"query $op: planted top-1 ${Gen.vecItem(target)} is not the oracle's")
        checkTopK(rows, want, tally)
      }
    }
    val warm = ctx.recorder("warmup")
    val (setupS, v) = vectorSetup(ctx, "search", n, v => (1 to 15).foreach(w => runOne(v, -w, warm, new Tally)))
    val rec = ctx.recorder("search")
    val tally = new Tally
    val traced = ctx.measure(rec, (i, r) => runOne(v, i, r, tally))
    report(ctx, setupS, rec, tally, Guard.dataBytes(v.dir))
    traced.foreach { t =>
      searchLayers(ctx, v.index, v.packed, n, Gen.query(ctx.seed, Int.MaxValue, n)._2, Gen.vecItem)
      fillCounters(ctx, "search", t.attempted)
    }
  }

  // --- search_batch ------------------------------------------------------------

  def searchBatch(ctx: Ctx): Unit = {
    val n = 100000
    val batch = 16
    val spark = ctx.spark
    def queries(op: Long): Array[Array[Float]] = Array.tabulate(batch)(j => Gen.query(ctx.seed, op * 1000 + j, n)._2)
    def frame(qs: Array[Array[Float]]): DataFrame =
      spark.createDataFrame(qs.toSeq.zipWithIndex.map { case (q, j) => (j, q) }).toDF("query_id", "qvec")
    def runOne(v: Vectors, op: Long, rec: Recorder, tally: Tally): Unit = {
      val qs = queries(op)
      rec.run(batch) {
        ctx.guarded("batch") {
          val df = ctx.tracer.span("SemanticIndex.searchMany")(v.index.searchMany(frame(qs), K))
          ctx.tracer.span("collect")(df.collect())
        }
      } { rows =>
        val want = Oracle.topKBatch(ctx.pool, ctx.threads, v.packed, n, qs, K, Gen.vecItem)
        val byQ = rows.groupBy(_.getAs[Int]("query_id"))
        val errs = qs.indices.flatMap { j =>
          val got = byQ.getOrElse(j, Array.empty[Row]).sortBy(_.getAs[Int]("rank"))
          checkTopK(got, want(j).items, tally).map(e => s"query $j: $e")
        }
        errs.headOption.map(e => s"$e (${errs.length} of $batch queries wrong)")
      }
    }
    val warm = ctx.recorder("warmup")
    val (setupS, v) = vectorSetup(ctx, "search_batch", n, v => (1 to 3).foreach(w => runOne(v, -w, warm, new Tally)))
    val rec = ctx.recorder("search_batch")
    val tally = new Tally
    val traced = ctx.measure(rec, (i, r) => runOne(v, i, r, tally))
    report(ctx, setupS, rec, tally, Guard.dataBytes(v.dir))
    traced.foreach { t =>
      val qs = queries(Int.MaxValue)
      searchLayers(ctx, v.index, v.packed, n, qs(0), Gen.vecItem)
      val qdf = frame(qs)
      val Seq(score, full, floor) = ctx.cuts(3)(
        () => ctx.noop(v.index.records.crossJoin(broadcast(qdf))
          .select(col("query_id"), col(SemanticIndex.ITEM),
            graft.functions.vec_dot(col(SemanticIndex.EMBEDDING), col("qvec")).as("score"))),
        () => v.index.searchMany(qdf, K).collect(),
        () => Oracle.topKBatch(ctx.pool, ctx.threads, v.packed, n, qs, K, Gen.vecItem))
      ctx.layer("batch.score_ms") = score
      ctx.layer("batch.rank_ms") = full - score
      ctx.layer("batch.floor_ms") = floor
      ctx.layer("batch.floor_x") = full / floor
      fillCounters(ctx, "batch", t.attempted)
    }
  }

  // --- ingest ------------------------------------------------------------------

  def ingest(ctx: Ctx): Unit = {
    val base = 50000
    val batchSize = 2000
    val dupShare = 0.1
    val spark = ctx.spark
    val emb = HashEmbedder()
    graft.functions.registerAll(spark)

    final class Base(val vocab: Gen.Vocab, val docs: Array[String], val packed: Array[Float],
        val index: SemanticIndex, val dir: Path)

    def items(strs: Seq[String]): DataFrame = spark.createDataFrame(strs.map(Tuple1(_))).toDF(SemanticIndex.ITEM)

    def embedAll(strs: Array[String]): Array[Float] = {
      val out = new Array[Float](strs.length * Gen.Dim)
      strs.indices.foreach(i => System.arraycopy(emb.embedOne(strs(i)), 0, out, i * Gen.Dim, Gen.Dim))
      out
    }

    val reads = ctx.recorder("ingest_reads")
    val readTally = new Tally
    var lastGenBytes = 0L

    /** One op: add a batch to the base generation and save it as a new
      * generation; then contains probes and a searchText against it. */
    def runOne(b: Base, op: Long, rec: Recorder, tally: Tally): Unit = {
      val batch = Gen.ingestBatch(ctx.seed, b.vocab, op, base, batchSize, dupShare)
      val fresh = batch.drop(math.round(batchSize * dupShare).toInt)
      val genDir = ctx.scratch.resolve(s"ingest-gen-$op")
      val bdf = items(batch.toSeq)
      rec.run(batch.length) {
        ctx.guarded("ingest") {
          val added = ctx.tracer.span("SemanticIndex.add")(b.index.add(bdf))
          ctx.tracer.span("SemanticIndex.save")(added.save(genDir.toString))
        }
      } { _ =>
        lastGenBytes = Guard.dataBytes(genDir)
        val row = SemanticIndex.load(spark, genDir.toString).records
          .agg(count(lit(1)), countDistinct(col(SemanticIndex.ITEM))).head()
        val want = base + fresh.length
        if (row.getLong(0) == want && row.getLong(1) == want) None
        else Some(s"generation holds ${row.getLong(0)} rows / ${row.getLong(1)} items, want $want")
      }
      val gen = SemanticIndex.load(spark, genDir.toString)
      val r = Rng(ctx.seed, 7L, op)
      val probes = Seq(fresh(r.nextInt(fresh.length)) -> true, b.docs(r.nextInt(base)) -> true,
        s"absent $op" -> false, "doc" + Gen.pad(999999999L - op, 9) -> false)
      probes.foreach { case (item, want) =>
        reads.run(1) {
          ctx.guarded("contains")(ctx.tracer.span("SemanticIndex.contains")(gen.contains(item)))
        } { got => if (got == want) None else Some(s"contains($item) = $got, want $want") }
      }
      val qt = b.vocab.text(r, 6)
      reads.run(1) {
        ctx.guarded("search") {
          val df = ctx.tracer.span("SemanticIndex.searchText")(gen.searchText(qt, K))
          ctx.tracer.span("collect")(df.collect())
        }
      } { rows =>
        val qv = emb.embedOne(qt)
        val freshPacked = embedAll(fresh)
        val t = Oracle.topK(b.packed, 0, base, qv, K, j => if (j < base) b.docs(j) else fresh(j - base))
        fresh.indices.foreach(j => t.offer(Oracle.dot(freshPacked, j, qv), base + j))
        checkTopK(rows, t.items, tally)
      }
      Guard.deleteTree(genDir)
    }

    val warm = ctx.recorder("warmup")
    def baseDocs(seed: Long, vocab: Gen.Vocab) = Array.tabulate(base)(i => Gen.ingestDoc(seed, vocab, i.toLong))
    def digest(docs: Array[String]) = docs.foldLeft(new Digest)((d, s) => d.string(s)).hex
    val (setupS, b) = ctx.setup {
      val vocab = new Gen.Vocab(ctx.seed, 50000)
      val docs = baseDocs(ctx.seed, vocab)
      val dir = ctx.scratch.resolve("ingest-base")
      SemanticIndex.fromItems(spark, items(docs.toSeq)).save(dir.toString)
      new Base(vocab, docs, embedAll(docs), SemanticIndex.load(spark, dir.toString), dir)
    }(x => (1 to 4).foreach(w => runOne(x, -w, warm, new Tally)))
    ctx.requireSeeded(s"$base base documents, batches of $batchSize (${(dupShare * 100).round}% present), " +
      s"Zipf vocabulary of ${b.vocab.size} words", digest(b.docs),
      digest(baseDocs(ctx.seed, new Gen.Vocab(ctx.seed, 50000))),
      digest(baseDocs(ctx.seed + 1, new Gen.Vocab(ctx.seed + 1, 50000))))

    val rec = ctx.recorder("ingest")
    val traced = ctx.measure(rec, (i, r) => runOne(b, i, r, readTally))
    report(ctx, setupS, rec, readTally, lastGenBytes)
    val nReads = reads.latMs.length
    println(Table.line("read_p50_ms", reads.p(0.5), "ms", s"$nReads reads"))
    println(if (nReads >= 100) Table.line("read_p90_ms", reads.p(0.9), "ms")
      else s"  read_p90_ms: not reported, $nReads samples (needs 100)")
    traced.foreach { t =>
      val bdf = items(Gen.ingestBatch(ctx.seed, b.vocab, Int.MaxValue, base, batchSize, dupShare).toSeq)
      val qt = b.vocab.text(Rng(ctx.seed, 8L), 6)
      val dirs = ArrayBuffer[Path]()
      val Seq(embed, addNoop, addSave, searchText) = ctx.cuts(5)(
        () => ctx.noop(bdf.select(emb.embedColumn(col(SemanticIndex.ITEM)))),
        () => ctx.noop(b.index.add(bdf).records),
        () => {
          val d = ctx.scratch.resolve(s"ingest-cut-${dirs.length}")
          dirs += d
          b.index.add(bdf).save(d.toString)
        },
        () => b.index.searchText(qt, K).collect())
      dirs.foreach(Guard.deleteTree)
      ctx.layer("ingest.embed_ms") = embed
      ctx.layer("ingest.dupjoin_ms") = addNoop - embed
      ctx.layer("ingest.save_ms") = addSave - addNoop
      ctx.layer("ingest.contains_ms") = Stats.median(ctx.tracer.durationsMs("SemanticIndex.contains"))
      ctx.layer("ingest.search_text_ms") = searchText
      searchLayers(ctx, b.index, b.packed, base, emb.embedOne(qt), j => b.docs(j))
      fillCounters(ctx, "ingest", t.attempted)
      fillCounters(ctx, "search", t.attempted)
    }
  }

  // --- dedup -------------------------------------------------------------------

  def dedup(ctx: Ctx): Unit = {
    val corpusSize = 1000
    val batchSize = 30
    val vocabSize = 50000
    val tau = 0.5
    val spark = ctx.spark

    final class State(val vocab: Gen.Vocab, val docs: Array[(Long, String)], val original: Array[Int],
        val src: Path, val index: DedupIndex, val dir: Path, val oracle: Oracle.JaccardIndex) {
      /** Bytes of the index as built, before any append. */
      val builtBytes: Long = Guard.dataBytes(dir)
    }

    def frame(docs: Seq[(Long, String)]): DataFrame = spark.createDataFrame(docs).toDF("doc_id", "text")

    /** Every probed doc against the oracle: an above-τ best match must
      * be found with its exact Jaccard; a below-τ doc must not match. */
    def check(rows: Array[Row], batch: Array[(Long, String)], o: Oracle.JaccardIndex, tally: Tally): Option[String] = {
      val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
      if (byId.size != batch.length || rows.length != batch.length)
        return Some(s"probe returned ${rows.length} rows for ${batch.length} docs")
      val errs = batch.toSeq.flatMap { case (id, text) =>
        val (bestJ, _) = o.best(text)
        val r = byId(id)
        val isDup = r.getAs[Boolean]("is_dup")
        if (bestJ >= tau) { tally.total += 1; if (isDup) tally.hit += 1 }
        if (isDup) {
          val mid = r.getAs[Long]("match_id")
          val j = r.getAs[Double]("jaccard")
          val exact = o.jaccardWith(mid, text)
          if (exact.isNaN || math.abs(exact - j) > 1e-4 || exact < tau - 1e-4)
            Some(s"doc $id matched $mid at $j, exact Jaccard $exact")
          else if (math.abs(exact - bestJ) > 1e-4) Some(s"doc $id matched $mid at $exact, best is $bestJ")
          else None
        } else if (bestJ >= tau + 1e-4) Some(s"doc $id: missed a match at Jaccard $bestJ")
        else None
      }
      errs.headOption.map(e => s"$e (${errs.length} of ${batch.length} docs wrong)")
    }

    var probed = 0L
    var matched = 0L

    /** One op: probe a batch, then append the unmatched documents. */
    def runOne(s: State, op: Long, rec: Recorder, tally: Tally): Unit = {
      val batch = Gen.dedupBatch(ctx.seed, s.vocab, op, s.docs.map(_._2), batchSize)
      val incoming = frame(batch.toSeq)
      val out = rec.run(batch.length) {
        ctx.guarded("dedup") {
          val corpus = spark.read.parquet(s.src.toString)
          val rows = ctx.tracer.span("DedupIndex.probe") {
            val df = s.index.probe(corpus, incoming, tau)
            ctx.tracer.span("collect")(df.collect())
          }
          val dups = rows.filter(_.getAs[Boolean]("is_dup")).map(_.getAs[Long]("doc_id")).toSet
          val fresh = batch.filterNot(d => dups(d._1))
          if (fresh.nonEmpty)
            ctx.tracer.span("DedupIndex.append")(s.index.append(frame(fresh.toSeq)))
          (rows, fresh)
        }
      } { case (rows, _) => check(rows, batch, s.oracle, tally) }
      out.foreach { case (rows, fresh) =>
        probed += rows.length
        matched += rows.count(_.getAs[Boolean]("is_dup"))
        if (fresh.nonEmpty) {
          // the source table the probe verifies against grows with the index
          frame(fresh.toSeq).write.mode("append").parquet(s.src.toString)
          fresh.foreach { case (id, text) => s.oracle.add(id, text) }
        }
      }
    }

    val warm = ctx.recorder("warmup")
    val (setupS, s) = ctx.setup {
      val vocab = new Gen.Vocab(ctx.seed, vocabSize)
      val (docs, original) = Gen.dedupCorpus(ctx.seed, vocab, corpusSize)
      val src = ctx.scratch.resolve("dedup-src")
      val dir = ctx.scratch.resolve("dedup-index")
      frame(docs.toSeq).write.parquet(src.toString)
      val index = DedupIndex.build(spark.read.parquet(src.toString), dir.toString, tau)
      val oracle = new Oracle.JaccardIndex
      docs.foreach { case (id, t) => oracle.add(id, t) }
      new State(vocab, docs, original, src, index, dir, oracle)
    }(x => (1 to 2).foreach(w => runOne(x, -w, warm, new Tally)))
    def digest(docs: Array[(Long, String)]) = docs.foldLeft(new Digest)((d, p) => d.long(p._1).string(p._2)).hex
    def corpus(seed: Long) = Gen.dedupCorpus(seed, new Gen.Vocab(seed, vocabSize), corpusSize)._1
    ctx.requireSeeded(s"$corpusSize docs, batches of $batchSize, Zipf vocabulary of $vocabSize words",
      digest(s.docs), digest(corpus(ctx.seed)), digest(corpus(ctx.seed + 1)))

    // generator shape: planted pairs at or above τ, random pairs far below
    val sh = s.docs.map(d => Oracle.shingles(d._2))
    val plantedJ = s.original.indices.filter(i => s.original(i) != i)
      .map(i => Oracle.jaccard(sh(i), sh(s.original(i))))
    val rng = Rng(ctx.seed, 9L)
    val randomJ = Iterator.continually((rng.nextInt(corpusSize), rng.nextInt(corpusSize)))
      .filter { case (a, b) => s.original(a) != s.original(b) }
      .take(300).map { case (a, b) => Oracle.jaccard(sh(a), sh(b)) }.toSeq
    ctx.require(plantedJ.min >= tau, s"a planted pair sits below tau: ${plantedJ.min}")
    ctx.require(randomJ.max < tau / 2, s"a random pair sits near tau: ${randomJ.max}")
    ctx.note(s"shape: ${plantedJ.length} planted near-dups, planted Jaccard min ${Table.fmt(plantedJ.min)}, random-pair Jaccard max " +
      s"${Table.fmt(randomJ.max)} of 300, DedupIndex mode=${s.index.mode}")

    probed = 0; matched = 0
    val rec = ctx.recorder("dedup")
    val tally = new Tally
    // an op takes seconds: at least two timed ops, whatever the machine's speed
    val traced = ctx.measure(rec, (i, r) => runOne(s, i, r, tally), minOps = 2)
    report(ctx, setupS, rec, tally, s.builtBytes)
    println(Table.line("match_ratio", matched.toDouble / math.max(probed, 1), "ratio", s"$matched of $probed"))
    traced.foreach { t =>
      ctx.layer("dedup.sketch_ms") = ctx.cuts(3)(() => s.index.sketch()).head
      ctx.layer("dedup.probe_ms") = Stats.median(ctx.tracer.durationsMs("DedupIndex.probe"))
      ctx.layer("dedup.append_ms") = Stats.median(ctx.tracer.durationsMs("DedupIndex.append"))
      ctx.layer("dedup.match_ratio") = matched.toDouble / math.max(probed, 1)
      fillCounters(ctx, "dedup", t.attempted)
    }
  }
}
