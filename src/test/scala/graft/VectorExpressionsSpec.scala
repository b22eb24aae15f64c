package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions._

/** Native vector expressions vs. plain-Scala reference math. */
class VectorExpressionsSpec extends SparkSpec {

  private def refDot(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum

  private def eval2(fn: String, a: Seq[Float], b: Seq[Float]): Double = {
    registerAll(spark)
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(call_function(fn, col("a"), col("b"))).head().getDouble(0)
  }

  /** Seeded random 16-d vector pairs (property-style, reproducible). */
  private val rnd = new scala.util.Random(1234)
  private def randVecs(n: Int): Seq[(Seq[Float], Seq[Float])] =
    Seq.fill(n)((Seq.fill(16)(rnd.nextFloat() * 20 - 10),
      Seq.fill(16)(rnd.nextFloat() * 20 - 10)))

  private def forAll(cases: Seq[(Seq[Float], Seq[Float])])(
      check: (Seq[Float], Seq[Float]) => Unit): Unit =
    cases.foreach { case (a, b) => check(a, b) }

  test("vec_dot matches reference math on random vectors") {
    forAll(randVecs(10)) { (a, b) =>
      assert(math.abs(eval2("vec_dot", a, b) - refDot(a, b)) < 1e-9)
    }
  }

  test("vec_cosine is 1.0 for a vector with itself, 0.0 for zero vector") {
    val v = Seq(1.0f, 2.0f, 3.0f)
    assert(math.abs(eval2("vec_cosine", v, v) - 1.0) < 1e-12)
    val z = Seq(0.0f, 0.0f, 0.0f)
    assert(eval2("vec_cosine", z, v) == 0.0)
  }

  test("vec_cosine matches reference math") {
    forAll(randVecs(10)) { (a, b) =>
      val na = math.sqrt(refDot(a, a)); val nb = math.sqrt(refDot(b, b))
      val expect = if (na * nb == 0.0) 0.0 else refDot(a, b) / (na * nb)
      assert(math.abs(eval2("vec_cosine", a, b) - expect) < 1e-9)
    }
  }

  test("vec_l2sq matches reference math") {
    forAll(randVecs(10)) { (a, b) =>
      val expect = a.zip(b).map { case (x, y) =>
        val d = x.toDouble - y.toDouble; d * d
      }.sum
      assert(math.abs(eval2("vec_l2sq", a, b) - expect) < 1e-9)
    }
  }

  test("vec_norm and vec_normalize: ‖normalize(v)‖ = 1 for nonzero v") {
    registerAll(spark)
    import spark.implicits._
    val df = Seq(Tuple1(Seq(3.0f, 4.0f))).toDF("v")
    assert(df.select(vec_norm(col("v"))).head().getDouble(0) == 5.0)
    val n = df.select(vec_norm(vec_normalize(col("v")))).head().getDouble(0)
    assert(math.abs(n - 1.0) < 1e-6)
  }

  test("null inputs propagate as null, empty arrays give 0") {
    registerAll(spark)
    val r: Row = spark.sql(
      "SELECT vec_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))").head()
    assert(r.isNullAt(0))
    val e = spark.sql(
      "SELECT vec_dot(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>))")
      .head().getDouble(0)
    assert(e == 0.0)
  }

  test("mismatched vector lengths raise instead of silently truncating") {
    registerAll(spark)
    val e = intercept[Exception] {
      spark.sql(
        """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |               array(CAST(1.0 AS FLOAT)))""".stripMargin).head()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: rootMessages(x.getCause))
    assert(rootMessages(e).exists(m => m != null && m.contains("length mismatch")))
  }

  test("expressions participate in whole-stage codegen (no fallback)") {
    registerAll(spark)
    // a real (non-foldable) source, so the projection can't constant-fold
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(vec_dot(col("embedding"), col("embedding")).as("d"))
    val hasCodegen = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegen,
      s"expected WholeStageCodegenExec in:\n${df.queryExecution.executedPlan}")
  }

  test("a null vector element reads as 0 on a parquet scan as in memory, " +
      "for every kernel, interpreted and codegen'd") {
    registerAll(spark)
    // enough repeats that parquet dictionary-encodes the elements: a
    // null slot of the scan's column vector then reads as a dictionary
    // entry (3.0 for the dot below without the null check), not 0
    val mem = spark.range(10000).select(col("id"),
      when(col("id") % 2 === 0, array(lit(2f), lit(3f)))
        .otherwise(array(lit(1f), lit(null).cast("float"))).as("v"))
    val dir = java.nio.file.Files.createTempDirectory("graft_vecnull").toString
    mem.write.mode("overwrite").parquet(dir)
    val disk = spark.read.parquet(dir)
    val q = typedLit(Seq(1f, 1f))
    val kernels = Seq("vec_dot", "vec_cosine", "vec_l2sq", "vec_sub").map(f =>
      f -> call_function(f, col("v"), q)) ++
      Seq("vec_norm", "vec_normalize").map(f => f -> call_function(f, col("v")))
    // each kernel alone over the [1, null] rows: the distinct values
    def scores(df: org.apache.spark.sql.DataFrame, kernel: org.apache.spark.sql.Column): Seq[Any] =
      df.filter(col("id") % 2 === 1).select(kernel).distinct().collect().toSeq.map(_.get(0))
    val want = Map("vec_dot" -> 1.0, "vec_cosine" -> 1.0 / math.sqrt(2.0), "vec_l2sq" -> 1.0,
      "vec_sub" -> Seq(0f, -1f), "vec_norm" -> 1.0, "vec_normalize" -> Seq(1f, 0f))
    val confs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    for (codegen <- Seq(true, false)) {
      if (!codegen) {
        spark.conf.set(confs(0), "false")
        spark.conf.set(confs(1), "NO_CODEGEN")
      }
      try kernels.foreach { case (name, kernel) =>
        assert(scores(disk, kernel) == Seq(want(name)), s"$name on parquet, codegen=$codegen")
        assert(scores(mem, kernel) == Seq(want(name)), s"$name in memory, codegen=$codegen")
      } finally confs.foreach(spark.conf.unset)
    }
  }
}
