package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench.fmt
import graft.Verify.jstr

/**
 * Recall-at-DEPTH artifact (r12 — the r11 verdict's #3): the §5.5
 * frontier and the AnnRecallSpec floors are measured on the sf0.1
 * corpus only; this main re-measures recall@10 on each rung of the
 * [[ScaleGen]] ladder and writes one JSON file (RECALL_r12.json), so
 * "the ANN family holds its frontier at 30×" is a committed number,
 * not an extrapolation.
 *
 * Two training disciplines per rung, because they fail differently:
 *
 *  - **retrained**: pivots/codebooks trained ON the rung's corpus —
 *    what a production rebuild does. `nLists` scales with the corpus
 *    ([[graft.index.IvfIndex.nListsFor]]) so probes read a bounded
 *    fraction at every rung.
 *  - **frozen**: the index is BUILT on the sf0.1 base corpus and the
 *    rung's remaining rows arrive via [[graft.index.IvfIndex.append]] /
 *    [[graft.index.IvfPqIndex.append]] (assign/encode against the
 *    frozen build-time state) — the daily-ingest shape, measuring how
 *    a frozen quantizer degrades as drifting data (ScaleGen's rotated
 *    copies are DELIBERATELY decorrelated from the base) accumulates.
 *
 * Recall@10 is the mean exact-top-10 overlap over `nQueries` probe
 * vectors: half drawn from the base copy (in-distribution), half from
 * the LAST copy (the drift extreme — rotated dimensions the frozen
 * pivots never saw). Exact truth is a brute-force scan per query.
 *
 * Usage:
 * {{{
 *   runMain graft.RecallLadder OUT.json sf0.1=<dir> sf1=<dir> [sf3=<dir>]
 *   // SPARK_GRAFT_RECALL_QUERIES=16  probe vectors per rung
 * }}}
 */
object RecallLadder {

  private final case class Row(rung: String, mode: String, index: String,
      point: String, fracRead: Double, recall: Double)

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("RECALL_last.json")
    val ladder = args.drop(1).toSeq.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"rung must be label=dir, got '$a'")
      (a.take(i), a.drop(i + 1))
    }
    require(ladder.nonEmpty, "need at least one rung label=dir")
    val spark = SparkEntry.session("graft-recall-ladder")
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_RECALL_QUERIES", "16").toInt
    val baseDir = ladder.head._2

    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]

    ladder.foreach { case (label, dir) =>
      val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).persist()
      val n = corpus.count()
      // probe vectors: half from the base copy (lowest ids), half from
      // the highest-id copy (the rotation extreme)
      val maxId = corpus.agg(max(col("vec_id"))).head().getLong(0)
      val lowQ = corpus.filter(col("vec_id") < nQueries / 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val highQ = corpus.filter(col("vec_id") > maxId - nQueries / 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val queries = (lowQ ++ highQ).toSeq
      // exact truth per query: one brute-force top-10 scan
      val truth: Map[Long, Set[Long]] = queries.map { case (qid, v) =>
        qid -> corpus.select(col("vec_id"),
            graft.functions.vec_dot(col("embedding"), typedLit(v.toSeq)).as("s"))
          .orderBy(col("s").desc, col("vec_id")).limit(10)
          .collect().map(_.getLong(0)).toSet
      }.toMap
      def meanRecall(searcher: Array[Float] => DataFrame): Double = {
        val rs = queries.map { case (qid, v) =>
          searcher(v).collect().map(_.getLong(0)).count(truth(qid).contains) / 10.0
        }
        rs.sum / rs.length
      }

      // ---- retrained at the rung (corpus-scaled list count; 500-row
      // target lists so even the 2 k-vector base rung has real
      // partition pruning — 25 k targets floored every rung at
      // nLists = 4, where nProbe ≥ 4 trivially reads 100 %) ----
      val nLists = graft.index.IvfIndex.nListsFor(n, targetListRows = 500)
      val ivf = graft.index.IvfIndex.build(corpus,
        s"/tmp/graft-recall/ivf-$label", nLists = nLists)
      for (nProbe <- Seq(2, 4, 8)) {
        val frac = ivf.probeScan(queries.head._2, nProbe).count().toDouble / n
        rows += Row(label, "retrained", "ivf", s"nLists=$nLists nProbe=$nProbe",
          frac, meanRecall(v => ivf.search(v, 10, nProbe)))
      }
      // refine both FIXED (the r12 plan's 100 — exposes ADC-ordering
      // decay as the corpus outgrows a constant rerank budget) and
      // CORPUS-SCALED (n/50 — the production sizing rule)
      val scaledRefine = math.max(100, (n / 50).toInt)
      val pq = graft.index.IvfPqIndex.build(corpus,
        s"/tmp/graft-recall/ivfpq-$label", nLists = math.max(16, nLists))
      for (nProbe <- Seq(4, 8); refine <- Seq(100, scaledRefine).distinct) {
        val frac = pq.probeScan(queries.head._2, nProbe).count().toDouble / n
        rows += Row(label, "retrained", "ivfpq", s"nProbe=$nProbe refine=$refine",
          frac, meanRecall(v => pq.searchRerank(v, corpus, 10, nProbe, refine)))
      }

      // ---- frozen sf0.1-trained state + append (skip the base rung) ----
      if (dir != baseDir) {
        val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val baseMax = base.agg(max(col("vec_id"))).head().getLong(0)
        val rest = corpus.filter(col("vec_id") > baseMax)
        val fivf = graft.index.IvfIndex.build(base,
          s"/tmp/graft-recall/fivf-$label",
          nLists = graft.index.IvfIndex.nListsFor(base.count(), 500))
        fivf.append(rest)
        for (nProbe <- Seq(2, 4, 8)) {
          val frac = fivf.probeScan(queries.head._2, nProbe).count().toDouble / n
          rows += Row(label, "frozen", "ivf", s"nProbe=$nProbe",
            frac, meanRecall(v => fivf.search(v, 10, nProbe)))
        }
        val scaledRefine = math.max(100, (n / 50).toInt)
        val fpq = graft.index.IvfPqIndex.build(base,
          s"/tmp/graft-recall/fivfpq-$label")
        fpq.append(rest)
        for (nProbe <- Seq(4, 8); refine <- Seq(100, scaledRefine).distinct) {
          val frac = fpq.probeScan(queries.head._2, nProbe).count().toDouble / n
          rows += Row(label, "frozen", "ivfpq", s"nProbe=$nProbe refine=$refine",
            frac, meanRecall(v => fpq.searchRerank(v, corpus, 10, nProbe, refine)))
        }
        // frozen pivots, GROWTH-SIZED lists (the production sizing
        // rule: a daily-ingest index partitions for the corpus it will
        // hold, not the base it was trained on — base-sized lists make
        // the frozen rows trivially read ~everything)
        val sivf = graft.index.IvfIndex.build(base,
          s"/tmp/graft-recall/sivf-$label",
          nLists = graft.index.IvfIndex.nListsFor(n, 500))
        sivf.append(rest)
        for (nProbe <- Seq(2, 4, 8)) {
          val frac = sivf.probeScan(queries.head._2, nProbe).count().toDouble / n
          rows += Row(label, "frozen_sized", "ivf", s"nProbe=$nProbe",
            frac, meanRecall(v => sivf.search(v, 10, nProbe)))
        }
      }
      corpus.unpersist()
      System.err.println(s"[recall] $label done (${rows.size} rows so far)")
    }

    val body = rows.map { r =>
      s"""{"rung":${jstr(r.rung)},"mode":${jstr(r.mode)},"index":${jstr(r.index)},""" +
        s""""point":${jstr(r.point)},"frac_read":${fmt(r.fracRead, 4)},"recall_at_10":${fmt(r.recall)}}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"recall_ladder","queries_per_rung":${nQueries},"rows":$body}"""
    println(line)
    try Files.writeString(Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[recall] write $out: $e") }
    spark.stop()
  }
}
