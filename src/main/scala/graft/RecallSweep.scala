package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{AnnQueries, Queries}

/**
 * Diagnostic main: measure the recall-vs-I/O frontier of the
 * approximate ANN family on a given corpus (r5 verdict #8). For each
 * operating point it reports overlap@10 against the exact brute-force
 * top-10 AND the fraction of the corpus a probe actually reads — the
 * two axes a 100 TB deployment trades. Output is a markdown table for
 * SURVEY §5.5.
 *
 * `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.RecallSweep [clustered]"`
 *
 * With the `clustered` argument the sweep runs on a PLANTED-CLUSTER
 * corpus of the same size/dim as the given dir's embeddings table
 * (the AnnRecallSpec generator, scaled): near-uniform synthetic
 * embeddings are the hardest case for partition pruning (tiny score
 * margins — a probe reading 4/16 of structureless data can't beat
 * ~0.5 recall), while clustered corpora are what production
 * embeddings actually look like, so the frontier needs BOTH shapes
 * (r8 — VERDICT #7).
 */
object RecallSweep {

  /** Deterministic clustered corpus: `n/50` well-separated unit-vector
    * clusters × 50 members with tiny within-cluster jitter (the
    * AnnRecallSpec generator). vec_id 0 is the gate query. */
  def plantClustered(spark: SparkSession, n: Int, dim: Int = 64): String = {
    val per = 50
    val nClusters = math.max(1, n / per)
    def unit(v: Array[Double]): Array[Double] = {
      val nn = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nn)
    }
    val rows = (0 until nClusters * per).map { id =>
      val c = id % nClusters
      val v = unit(Array.tabulate(dim)(d =>
        math.sin(c * 31.0 + d * 7.0) + 0.03 * math.sin(id * 13.0 + d * 3.0)))
      (id.toLong, v.map(_.toFloat).toSeq, c)
    }
    val out = java.nio.file.Files.createTempDirectory("graft_sweep_planted").toString
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))
      .write.parquet(s"$out/embeddings.parquet")
    out
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session("graft-recall-sweep")

    val clustered = args.contains("clustered")
    val dir =
      if (clustered) {
        val n = spark.read.parquet(s"$baseDir/embeddings.parquet").count().toInt
        plantClustered(spark, n)
      } else baseDir

    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val nCorpus = corpus.count().toDouble
    val exact = Queries.annDotTopk(spark, dir, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val qvec = corpus.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).toArray

    def overlap(df: DataFrame): Double =
      df.collect().map(_.getAs[Long]("vec_id")).count(exact.contains) / 10.0

    val shape = if (clustered) "planted-cluster" else "near-uniform"
    println(s"# Recall-vs-I/O frontier — $shape corpus " +
      s"(${nCorpus.toLong} vectors, from $baseDir)")
    println("| index | operating point | corpus fraction read | recall@10 |")
    println("|---|---|---|---|")

    // IVF: nLists sets partition granularity, nProbe the read fraction
    for (nLists <- Seq(16, 64); nProbe <- Seq(1, 2, 4, 8, 16).filter(_ <= nLists)) {
      val idx = AnnQueries.ivfFor(spark, dir, nLists)
      val frac = idx.probeScan(qvec, nProbe).count() / nCorpus
      val r = overlap(idx.search(qvec, 10, nProbe))
      println(f"| IVF | nLists=$nLists nProbe=$nProbe | $frac%.3f | $r%.2f |")
    }

    // learned (k-center) IVF pivots at the same operating points
    for (nLists <- Seq(16, 64); nProbe <- Seq(1, 2, 4, 8, 16).filter(_ <= nLists)) {
      val idx = AnnQueries.ivfLearnedFor(spark, dir, nLists)
      val frac = idx.probeScan(qvec, nProbe).count() / nCorpus
      val r = overlap(idx.search(qvec, 10, nProbe))
      println(f"| IVF-kcenter | nLists=$nLists nProbe=$nProbe | $frac%.3f | $r%.2f |")
    }

    // cascade: c1 (1-bit hamming survivors) is the recall knob; after
    // the 8 B/row code scan, the int8/float stages read c1/c2 rows
    for (c1 <- Seq(50, 100, 200, 400); c2 <- Seq(50, 100).filter(_ <= c1)) {
      val r = overlap(AnnQueries.annCascade(spark, dir, 10, c1, c2))
      println(f"| cascade | c1=$c1 c2=$c2 | ${c1 / nCorpus}%.3f (floats; codes scan all) | $r%.2f |")
    }

    // LSH: bits sets bucket granularity, radius the probe neighborhood
    for (bits <- Seq(6, 8, 10, 12); radius <- Seq(0, 1, 2)) {
      val planes = graft.queries.DedupQueries.hyperplanes(bits, 64, seed = 7)
      val bucketed = corpus.withColumn("bucket",
        graft.queries.DedupQueries.lshBucket(col("embedding"), planes))
      val qBucket = bucketed.filter(col("vec_id") === 0)
        .select(col("bucket")).head().getInt(0)
      val probe = AnnQueries.lshProbeSet(qBucket, bits, radius)
      val frac = bucketed.filter(col("bucket").isin(probe: _*)).count() / nCorpus
      val r = overlap(AnnQueries.annLshTuned(spark, dir, 10, bits, radius))
      println(f"| LSH | bits=$bits radius=$radius | $frac%.3f | $r%.2f |")
    }

    // IVF-PQ: candidate recall is bounded by the IVF probe; refine
    // rescores exactly, so the knob pair is (nProbe, refine)
    val pqIdx = graft.index.IvfPqIndex.build(corpus,
      s"/tmp/graft-sweep-ivfpq/${AnnQueries.digestOf(dir)}")
    for (nProbe <- Seq(2, 4, 8); refine <- Seq(50, 100, 200)) {
      val frac = pqIdx.probeScan(qvec, nProbe).count() / nCorpus
      val r = overlap(pqIdx.searchRerank(qvec, corpus, 10, nProbe, refine))
      println(f"| IVF-PQ | nProbe=$nProbe refine=$refine | $frac%.3f (codes) | $r%.2f |")
    }

    spark.stop()
  }
}
