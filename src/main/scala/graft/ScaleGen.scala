package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * sf1.0 probe-corpus generator (r10 — the r9 verdict's #6): unions N
 * id-shifted copies of the driver's sf0.1 tables into a 10× directory
 * so the slowest bench keys get one empirical ≲linear-growth datapoint
 * beyond the shuffle-byte meters. Naïve replication would be a BROKEN
 * probe for the dedup family — every document would gain N exact
 * copies and pair-grain outputs would explode quadratically for purely
 * synthetic reasons — so each copy applies a copy-specific,
 * similarity-preserving transform instead:
 *
 *  - documents: every 3rd whitespace token gets a `~c` suffix. Two
 *    similar texts transform IDENTICALLY in their shared regions, so
 *    within-copy Jaccard structure survives; across copies ~a third of
 *    tokens differ, dragging 5-char-shingle Jaccard far below the τ
 *    operators probe at — copies are not near-dups of each other.
 *  - embeddings: dimensions circularly shifted by `c` (an orthogonal
 *    permutation — within-copy cosine is preserved EXACTLY, cross-copy
 *    vectors decorrelate).
 *  - relational/events: plain id shifts (user/order/part keys move by
 *    c·10⁹; dates, amounts, timestamps untouched) — 10× baskets, 10×
 *    concurrent users, the natural scale-up.
 *
 * Mod-rule plants (doc_id % k) keep their DENSITY under +c·10⁹ shifts
 * (residue classes stay uniform), so per-key work scales with rows.
 *
 * HEAPS MODE (r12 — the r11 verdict's #1c): the default `~c` suffix
 * adds only a bounded set of new shingles per copy, so the ladder
 * PINS the dedup family's element universe inside the 32 Ki dense cap
 * while density rises — the dense regime's hostile extreme, not how a
 * real crawl grows (Heaps' law: vocabulary ∝ n^β). `mode=heaps` makes
 * the suffix itself content-and-copy-varied
 * (`~` + base36(xxhash(token) mod 40·(c+1))), still deterministic per
 * (token, copy) — two similar texts in one copy transform identically,
 * within-copy Jaccard structure survives — but the distinct-shingle
 * universe now grows with the corpus, crossing the dense cap around
 * 10× and exercising the router's real sparse path at depth.
 *
 * Usage: `runMain graft.ScaleGen <srcDir> <dstDir> [copies] [mode]`.
 */
object ScaleGen {
  private val Shift = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("pinned")
    val spark = SparkEntry.session("graft-scalegen")
    generate(spark, src, dst, copies, mode)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String,
      copies: Int, mode: String = "pinned"): Unit = {
    def rep(table: String)(one: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map(c => one(base, c))
        .reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$table.parquet")
      println(s"scalegen: $table x$copies -> $dst")
    }
    // tiny dims copy over unchanged (joins fan out through the fact side)
    Seq("region", "nation", "supplier", "part", "customer").foreach { tbl =>
      spark.read.parquet(s"$src/$tbl.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$tbl.parquet")
    }
    rep("orders") { (df, c) =>
      // o_custkey stays — dims are shared, the fact side fans out
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * Shift))
    }
    rep("lineitem") { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * Shift))
    }
    rep("events") { (df, c) =>
      df.withColumn("user_id", col("user_id") + lit(c * Shift))
        .withColumn("event_id", col("event_id") + lit(c * Shift))
    }
    rep("documents") { (df, c) =>
      // per-copy token suffix — similarity-preserving (content- and
      // copy-deterministic, never row-dependent). Pinned: `~c`, a
      // bounded new-shingle set per copy. Heaps: the suffix varies
      // with the token's hash over an alphabet that WIDENS with the
      // copy index, so the distinct-shingle universe grows with the
      // corpus (vocabulary ∝ corpus, the crawl shape).
      def suffixed(w: Column, i: Column): Column = mode match {
        case "heaps" =>
          // suffix varies with (token, position-class, copy) over an
          // alphabet that widens with the copy index. The synthetic
          // vocabulary is tiny (the base corpus holds ~2 k distinct
          // 5-shingles), so a token-hash alone adds ≤ vocab new
          // variants per copy and the universe plateaus far under the
          // cap; the 11 position classes multiply the variants while
          // keeping the transform deterministic for same-position
          // near-dups (the planted structure). Measured: the distinct
          // shingle universe crosses the 32 Ki dense cap between the
          // base and the 10× rung — the dense→sparse crossover the
          // pinned ladder never reaches.
          concat(w, lit("~"), conv(
            pmod(pmod(xxhash64(w), lit(1000000007L)) * lit(31L) +
              (i.cast("long") % 11L),
              lit(150L * (c + 1))).cast("string"),
            10, 36))
        case _ => concat(w, lit(s"~$c"))
      }
      val salted =
        if (c == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          (w, i) => when(i % 3 === 0, suffixed(w, i)).otherwise(w)),
          " ")
      df.withColumn("doc_id", col("doc_id") + lit(c * Shift))
        .withColumn("text", salted)
    }
    rep("embeddings") { (df, c) =>
      val dim = 64
      val rotated =
        if (c == 0) col("embedding")
        else transform(sequence(lit(0), lit(dim - 1)),
          i => element_at(col("embedding"), (i + lit(c)) % dim + 1))
      df.withColumn("vec_id", col("vec_id") + lit(c * Shift))
        .withColumn("embedding", rotated.cast("array<float>"))
    }
  }
}
