package graft

import graft.queries.Queries

/**
 * Pure-SQL surface (r11 — the r10 verdict's #8): `Queries.createViews`
 * registers operator outputs as `graft_<key>` temp views so a SQL-only
 * user needs no DataFrame code. Three families run end-to-end through
 * `spark.sql` alone, results bit-identical to the direct operator
 * calls; views COMPOSE (filter / aggregate / join back to raw tables)
 * because they hold the logical plan, not a materialization.
 */
class SqlViewsSpec extends SparkSpec {

  test("three families end-to-end through spark.sql only: view rows " +
      "equal the direct operator bit-for-bit") {
    val keys = Seq("q_kanon", "dedup_exact", "ann_dot_topk", "text_quality")
    val names = Queries.createViews(spark, sfDir, keys)
    assert(names == keys.map("graft_" + _), names.toString)
    keys.foreach { k =>
      val viaSql = spark.sql(s"SELECT * FROM graft_$k")
        .collect().map(_.toString).toSeq
      val direct = Queries.all(k)(spark, sfDir)
        .collect().map(_.toString).toSeq
      assert(viaSql == direct, s"$k: SQL view diverged from the operator")
    }
  }

  test("views compose: a SQL-only filter + aggregate over an operator " +
      "view, and a join back to a raw table — no DataFrame code") {
    Queries.createViews(spark, sfDir, Seq("ann_dot_topk", "dedup_exact"))
    spark.read.parquet(s"$sfDir/documents.parquet")
      .createOrReplaceTempView("documents_raw")
    // aggregate over an operator view
    val nDups = spark.sql(
      "SELECT count(*) AS n FROM graft_dedup_exact WHERE n_copies > 1")
      .head().getLong(0)
    val direct = Queries.all("dedup_exact")(spark, sfDir)
      .filter("n_copies > 1").count()
    assert(nDups == direct, s"$nDups vs $direct")
    // join an operator view against a raw table
    val joined = spark.sql(
      """SELECT t.vec_id, d.lang FROM graft_ann_dot_topk t
        |JOIN documents_raw d ON d.doc_id = t.vec_id
        |ORDER BY t.score DESC, t.vec_id LIMIT 3""".stripMargin).collect()
    assert(joined.length == 3 && joined.forall(_.getString(1) != null))
  }

  test("registry and oracle map name the same keys, apart from the " +
      "three oracles generated at run time") {
    // check_oracle.py walks the oracle map: an oracle with no builder
    // fails there, but a builder with no oracle would never be checked
    val stale = Queries.oracles.keySet -- Queries.all.keySet
    assert(stale.isEmpty, s"oracles with no registered key: $stale")
    val unchecked = Queries.all.keySet -- Queries.oracles.keySet
    assert(unchecked.subsetOf(Set("ann_pq_topk", "ann_ivfpq", "text_bpe")),
      s"registered keys with no oracle: $unchecked")
  }

  test("unknown keys refuse loudly") {
    val e = intercept[IllegalArgumentException] {
      Queries.createViews(spark, sfDir, Seq("no_such_key"))
    }
    assert(e.getMessage.contains("no_such_key"), e.getMessage)
  }
}
