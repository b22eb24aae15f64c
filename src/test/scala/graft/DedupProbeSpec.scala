package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.index.DedupIndex
import graft.operators.DedupRegime
import graft.queries.DedupQueries

/** [[DedupIndex.probe]] against a brute-force driver oracle, the rep
  * invariant its pick rests on, the slicing of an over-bound batch, and
  * the probe's Spark job budget. */
class DedupProbeSpec extends SparkSpec {

  import spark.implicits._

  private val tau = 0.5

  // three unrelated base texts and edits of them, all long enough that
  // a one-word edit stays above τ
  private val a = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val b = "completely different corpus content about spark shuffles and joins here"
  private val c = "a document about distributed matrix multiplication kernels on gpus"
  private val d = "streaming ingestion pipelines need exactly once sinks and replayable sources"
  private val novel = "zebra yak xylophone walrus vulture umbrella tortoise squid raven quail"

  private def frame(rows: Seq[(java.lang.Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def withRegime[T](regime: String)(f: => T): T = {
    spark.conf.set(DedupRegime.ForceConf, regime)
    try f finally spark.conf.unset(DedupRegime.ForceConf)
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  private type Out = (Option[Long], Option[Long], Option[Double], Boolean)

  private def rows(df: DataFrame): Seq[Out] = df.collect().toSeq.map(r =>
    (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]),
      Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))

  /** Every incoming row against every corpus doc, on the driver: shingle
    * sets from the same kernel, exact Jaccard rounded as Spark rounds,
    * best = max jaccard then min id, taken per doc_id over all of its
    * rows; a null doc_id never matches. Rows in doc_id order, nulls
    * first. */
  private def oracle(corpus: DataFrame, incoming: DataFrame): Seq[Out] = {
    def sets(df: DataFrame): Seq[(Option[Long], Option[Set[String]])] = df
      .select(col("doc_id"), graft.functions.char_shingles(col("text"), 5))
      .collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.getSeq[String](1)).map(_.toSet)))
    val ex = sets(corpus).collect { case (Some(id), Some(s)) => (id, s) }
    val in = sets(incoming)
    def best(s: Set[String]): Option[(Double, Long)] = ex.flatMap { case (id, e) =>
      val u = (s | e).size
      if (u == 0) None
      else {
        val j = BigDecimal((s & e).size.toDouble / u)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (j >= tau) Some((j, id)) else None
      }
    }.sortBy { case (j, id) => (-j, id) }.headOption
    val byId = in.collect { case (Some(id), s) => id -> s }.groupMap(_._1)(_._2)
      .map { case (id, ss) =>
        id -> ss.flatten.flatMap(best).sortBy { case (j, m) => (-j, m) }.headOption }
    in.map { case (id, _) =>
      id.flatMap(byId) match {
        case Some((j, m)) => (id, Some(m), Some(j), true)
        case None => (id, None, None, false)
      }
    }.sortBy { case (id, _, _, _) => id.fold((0, 0L))(x => (1, x)) }
  }

  /** members/groups as persisted: every member row has `rep <= doc_id`,
    * every rep is the minimum of its members and a member of its own
    * group, and every group rep has members. */
  private def assertRepInvariant(idx: DedupIndex, when: String): Unit = {
    val m = idx.members.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(m.nonEmpty, when)
    assert(m.forall { case (rep, doc) => rep <= doc }, s"$when: a rep above its member")
    val byRep = m.groupMap(_._1)(_._2)
    byRep.foreach { case (rep, docs) =>
      assert(docs.min == rep, s"$when: rep $rep is not its group's min ${docs.min}")
    }
    val reps = idx.groups.select("rep").collect().map(_.getLong(0)).toSet
    assert(reps == byRep.keySet, s"$when: group reps ${reps.diff(byRep.keySet)} " +
      s"without members, members of ${byRep.keySet.diff(reps)} without a group")
  }

  for (regime <- Seq("sparse", "dense")) {
    test(s"rep = min member holds after build, append and compact ($regime)") {
      val dir = tmpDir(s"repinv_$regime")
      val idx = withRegime(regime)(DedupIndex.build(
        frame(Seq((20L, a), (7L, a), (9L, b), (30L, c))), s"$dir/idx", tau))
      assert(idx.mode == regime)
      assertRepInvariant(idx, "after build")
      // new sets, and the same sets again under new (smaller and larger) ids
      idx.append(frame(Seq((40L, d), (41L, d), (3L, c))))
      assertRepInvariant(idx, "after append")
      idx.append(frame(Seq((2L, a), (50L, a), (8L, b))))
      assertRepInvariant(idx, "after re-appending identical sets")
      idx.compact()
      assertRepInvariant(idx, "after compact")
      val g = idx.groups.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      assert(g.length == 4, "one group per distinct set after compact")
      assert(g.map(_._2).toSet == Set(2L, 8L, 3L, 40L))
    }

    test(s"probe equals a brute-force oracle row for row ($regime)") {
      val dir = tmpDir(s"parity_$regime")
      val gen0 = Seq[(java.lang.Long, String)]((10L, a), (12L, b), (14L, c), (16L, ""))
      // a later generation holds `a` again under a SMALLER id, and `c`
      // again under a larger one: the pick must take the min across both
      val gen1 = Seq[(java.lang.Long, String)]((4L, a), (18L, c), (20L, d))
      val idx = withRegime(regime)(DedupIndex.build(frame(gen0), s"$dir/idx", tau))
      idx.append(frame(gen1))
      assert(idx.mode == regime)
      val corpus = frame(gen0 ++ gen1)
      val batch = frame(Seq(
        (101L, a),                                  // exact, in both generations
        (103L, a),                                  // an exact copy inside the batch
        (105L, c.replace("gpus", "tpus")),          // near-dup of 14 and 18
        (107L, b.replace("here", "there")),         // near-dup of 12
        (109L, novel),
        (109L, d.replace("sources", "streams")),    // repeated id: best of both rows
        (111L, d),                                  // repeated id, same text twice
        (111L, d),
        (113L, ""),                                 // empty text: the {''} set of doc 16
        (115L, null),                               // null text: no set, no match
        (null, a)))                                 // null id: never matches
      val got = rows(idx.probe(corpus, batch, tau))
      val want = oracle(corpus, batch)
      assert(got == want)
      assert(got.count(_._4) == 9, got.toString)
      assert(got.find(_._1.contains(101L)).get == ((Some(101L), Some(4L), Some(1.0), true)))
      // a slice with more candidate pairs than one verify takes is halved
      // down to single doc_ids: the rows stay the same
      assert(rows(DedupQueries.probeNearCapped(idx.sketch(), corpus, batch, tau, 1)) == want)

      // no candidates at all, and an empty batch
      // (upper case and digits: not one 5-shingle in common with the corpus)
      val fresh = frame(Seq((201L, "QWERTY 0123 ASDFG 4567"), (203L, "ZXCVB 8901 POIUY"),
        (205L, null)))
      assert(rows(idx.probe(corpus, fresh, tau)) == oracle(corpus, fresh))
      assert(rows(idx.probe(corpus, fresh, tau)).forall(!_._4))
      val none = idx.probe(corpus, frame(Nil), tau)
      assert(none.collect().isEmpty)
      assert(none.schema.map(f => (f.name, f.nullable)) == Seq(
        "doc_id" -> true, "match_id" -> true, "jaccard" -> true, "is_dup" -> false))
    }
  }

  test("probe result keeps the schema of the lazy plan it replaced") {
    val idx = DedupIndex.build(frame(Seq((0L, a), (2L, b))), s"${tmpDir("schema")}/idx", tau)
    // a non-nullable doc_id stays non-nullable; the match columns are nullable
    val in = Seq((1L, a), (3L, novel)).toDF("doc_id", "text")
    val out = idx.probe(frame(Seq((0L, a), (2L, b))), in, tau)
    assert(out.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) == Seq(
      ("doc_id", "bigint", false), ("match_id", "bigint", true),
      ("jaccard", "double", true), ("is_dup", "boolean", false)))
    assert(rows(out) == Seq((Some(1L), Some(0L), Some(1.0), true),
      (Some(3L), None, None, false)))
  }

  test("an over-bound batch is cut into doc_id slices that never split an id") {
    import DedupQueries.probeSlices
    assert(probeSlices(Array.empty[Long], 3).isEmpty)
    assert(probeSlices((1L to 10L).toArray, 3) ==
      Seq((1L, 3L), (4L, 6L), (7L, 9L), (10L, 10L)))
    // a run that crosses the cut moves whole into the next slice
    assert(probeSlices(Array(1L, 2L, 2L, 2L, 3L), 2) == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    // a run longer than the bound gets a slice of its own
    assert(probeSlices(Array(5L, 5L, 5L, 5L, 6L), 2) == Seq((5L, 5L), (6L, 6L)))
    assert(probeSlices(Array(1L, 5L, 5L, 5L, 5L, 6L), 2) ==
      Seq((1L, 1L), (5L, 5L), (6L, 6L)))
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val ids = Array.fill(rnd.nextInt(60))(rnd.nextInt(25).toLong).sorted
      val bound = 1 + rnd.nextInt(8)
      val cuts = probeSlices(ids, bound)
      // ascending, disjoint, and every id in exactly one slice
      cuts.zip(cuts.drop(1)).foreach { case ((_, hi), (lo, _)) => assert(hi < lo) }
      ids.foreach(id => assert(cuts.count { case (lo, hi) => lo <= id && id <= hi } == 1))
      cuts.foreach { case (lo, hi) =>
        val n = ids.count(id => lo <= id && id <= hi)
        assert(n > 0 && (n <= bound || lo == hi), s"slice ($lo, $hi) of $n ids, bound $bound")
      }
    }
  }

  /** Runs `f`, counting the Spark jobs it starts and the table paths
    * its queries scan. */
  private def traced[T](f: => T): (T, Int, Set[String]) = {
    def drain(): Unit = org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scanned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.analyzed.foreachWithSubqueries {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.foreach(p => scanned.add(p.toString))
              case _ =>
            }
          case _ =>
        }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    drain()
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      val out = f
      drain()
      (out, jobs.get, scanned.asScala.toSet)
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
  }

  test("a 10-doc probe of a 2-generation sparse index runs few jobs and never reads members") {
    val dir = tmpDir("budget")
    val corpus0 = (0 until 40).map(i => (i.toLong * 2: java.lang.Long, s"$a number $i"))
    val corpus1 = (40 until 60).map(i => (i.toLong * 2: java.lang.Long, s"$b number $i"))
    val idx = withRegime("sparse")(DedupIndex.build(frame(corpus0), s"$dir/idx", tau))
    idx.append(frame(corpus1))
    assert(idx.mode == "sparse")
    val corpus = frame(corpus0 ++ corpus1)
    val batch = frame((0 until 10).map(i => (1001L + 2 * i: java.lang.Long,
      if (i % 2 == 0) s"$a number ${i * 3}" else s"$novel $i")))
    idx.probe(corpus, batch, tau).collect() // warm: codegen, class loading
    val (got, jobs, scanned) = traced(rows(idx.probe(corpus, batch, tau)))
    assert(got == oracle(corpus, batch))
    // one candidate job, and a verify of two (its exchange and the
    // collect); the batch rows of a local frame and the hot set this
    // instance already read cost none
    assert(jobs <= 3, s"probe ran $jobs Spark jobs")
    assert(scanned.exists(_.contains("/postings")), scanned.toString)
    assert(!scanned.exists(_.contains("/members")), s"the probe read members: $scanned")
    assert(!scanned.exists(_.contains("/hot")), s"the probe read the hot set again: $scanned")
  }

  for ((regime, appendBudget) <- Seq("sparse" -> 5, "dense" -> 7)) {
    test(s"probe + append of a 30-doc batch runs at most 11 jobs ($regime)") {
      val dir = tmpDir(s"append_budget_$regime")
      val base = (0 until 60).map(i => (i.toLong: java.lang.Long,
        Seq(a, b, c, d)(i % 4) + s" item $i"))
      val idx = withRegime(regime)(DedupIndex.build(frame(base), s"$dir/idx", tau))
      assert(idx.mode == regime)
      var corpus = base
      var next = 1000L
      def op(): (Int, Int) = {
        val batch = (0 until 30).map { i =>
          next += 1
          (next: java.lang.Long, if (i % 3 == 0) base(i)._2
            else if (i % 3 == 1) base(i)._2 + " edited" else s"$novel $next")
        }
        val (out, probeJobs, _) = traced(rows(idx.probe(frame(corpus), frame(batch), tau)))
        assert(out == oracle(frame(corpus), frame(batch)))
        val fresh = batch.filterNot(d => out.exists(o => o._1.contains(d._1.longValue) && o._4))
        val (_, appendJobs, _) = traced(idx.append(frame(fresh)))
        corpus = corpus ++ fresh
        (probeJobs, appendJobs)
      }
      op() // warm: codegen, class loading, the frozen hot set or dictionary
      val (probeJobs, appendJobs) = op()
      assert(probeJobs <= 3, s"probe ran $probeJobs Spark jobs")
      // one exchange, one cache, one write per table (dense: the new
      // elements' collect and the dictionary write on top)
      assert(appendJobs <= appendBudget, s"append ran $appendJobs Spark jobs")
      assert(probeJobs + appendJobs <= 11)
      assertRepInvariant(idx, "after the appends")
    }
  }

  test("repeated dense probes leave no broadcast of their own on the driver") {
    val dir = tmpDir("dense_broadcast")
    val base = (0 until 40).map(i => (i.toLong: java.lang.Long, Seq(a, b, c, d)(i % 4) + s" item $i"))
    val idx = withRegime("dense")(DedupIndex.build(frame(base), s"$dir/idx", tau))
    assert(idx.mode == "dense")
    val batch = frame((0 until 10).map(i => (1000L + i: java.lang.Long,
      if (i % 2 == 0) base(i)._2 + " edited" else s"$novel $i")))
    idx.probe(frame(base), batch, tau).collect() // warm: the frozen dictionary
    val before = org.apache.spark.BroadcastBridge.values()
    (0 until 3).foreach(_ => idx.probe(frame(base), batch, tau).collect())
    // Spark's own per-job task binaries and per-scan Hadoop confs come
    // and go with the jobs; anything else is a broadcast the probe made
    val added = org.apache.spark.BroadcastBridge.values() -- before.keySet
    val own = added.filterNot { case (_, cls) =>
      cls == "[B" || cls.endsWith("SerializableConfiguration") }
    assert(own.isEmpty, s"broadcasts left by the probes: $own")
  }

  test("an appended generation holds no hot table; the hot set is read " +
      "again only after compact writes a new first generation") {
    val dir = tmpDir("hot")
    val corpus0 = (0 until 20).map(i => (i.toLong: java.lang.Long, s"$a number $i"))
    val corpus1 = (20 until 30).map(i => (i.toLong: java.lang.Long, s"$c number $i"))
    val idx = withRegime("sparse")(DedupIndex.build(frame(corpus0), s"$dir/idx", tau))
    idx.append(frame(corpus1))
    val gens = new java.io.File(s"$dir/idx").listFiles().filter(_.getName.startsWith("gen-"))
      .sortBy(_.getName)
    assert(gens.length == 2)
    assert(gens.map(g => new java.io.File(g, "hot").exists).toSeq == Seq(true, false))
    val corpus = frame(corpus0 ++ corpus1)
    val batch = frame(Seq((100L, s"$a number 3"), (101L, s"$c number 25 and more")))
    val want = oracle(corpus, batch)
    assert(rows(idx.probe(corpus, batch, tau)) == want)
    val (_, _, before) = traced(rows(idx.probe(corpus, batch, tau)))
    assert(!before.exists(_.contains("/hot")), before.toString)
    idx.compact()
    // compact copies the hot set into the one generation it writes
    val (got, _, after) = traced(rows(idx.probe(corpus, batch, tau)))
    assert(got == want)
    val hotReads = after.filter(_.contains("/hot"))
    assert(hotReads.size == 1 && !hotReads.head.contains(gens.head.getName), after.toString)
    val (_, _, again) = traced(rows(idx.probe(corpus, batch, tau)))
    assert(!again.exists(_.contains("/hot")), again.toString)
  }

  test("an index written with a hot table in every generation probes and " +
      "appends to the same rows") {
    val dir = tmpDir("hot_compat")
    val corpus0 = (0 until 20).map(i => (i.toLong: java.lang.Long, s"$a number $i"))
    val corpus1 = (20 until 30).map(i => (i.toLong: java.lang.Long, s"$c number $i"))
    val corpus2 = Seq[(java.lang.Long, String)]((40L, d), (41L, s"$b number 41"))
    def built(path: String): DedupIndex = {
      val idx = withRegime("sparse")(DedupIndex.build(frame(corpus0), path, tau))
      idx.append(frame(corpus1))
      idx
    }
    val fresh = built(s"$dir/new")
    // the older layout: every appended generation carries a copy of the
    // first generation's hot table
    val older = built(s"$dir/old")
    val gens = new java.io.File(s"$dir/old").listFiles().filter(_.getName.startsWith("gen-"))
      .sortBy(_.getName)
    val hot = spark.read.parquet(new java.io.File(gens.head, "hot").getPath).collect()
    gens.tail.foreach(g => spark.createDataFrame(java.util.Arrays.asList(hot: _*),
      spark.read.parquet(new java.io.File(gens.head, "hot").getPath).schema)
      .write.parquet(new java.io.File(g, "hot").getPath))
    val reopened = DedupIndex.load(spark, s"$dir/old")
    val corpus = frame(corpus0 ++ corpus1)
    val batch = frame(Seq((100L, s"$a number 3"), (101L, s"$c number 25 and more"),
      (102L, d), (103L, novel)))
    assert(rows(reopened.probe(corpus, batch, tau)) == rows(fresh.probe(corpus, batch, tau)))
    Seq(reopened, fresh).foreach(_.append(frame(corpus2)))
    val grown = frame(corpus0 ++ corpus1 ++ corpus2)
    val got = rows(reopened.probe(grown, batch, tau))
    assert(got == rows(fresh.probe(grown, batch, tau)))
    assert(got == oracle(grown, batch))
    def sorted(df: DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.toString).sorted.toSeq
    assert(sorted(reopened.groups) == sorted(fresh.groups))
    assert(sorted(reopened.members) == sorted(fresh.members))
    reopened.compact()
    assert(rows(reopened.probe(grown, batch, tau)) == got)
  }
}
