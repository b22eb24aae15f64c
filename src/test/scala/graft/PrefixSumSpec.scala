package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.PrefixSum

/**
 * The distributed prefix scan ([[graft.operators.PrefixSum]]) behind
 * `q_rfm`, `q_concurrency` and `q_power_users`: exact running sums AND
 * the scale property a window cannot have — a single giant key is
 * SPLIT across range partitions instead of materializing inside one
 * task.
 */
class PrefixSumSpec extends SparkSpec {

  import spark.implicits._

  test("a single giant key splits across partitions; prefix still exact") {
    // ONE key, 50k rows: the window formulation would put all 50k rows
    // in one task. The prefix scan must spread them (range partitioning
    // on (key, order)) and still produce the exact running sum.
    val df = spark.range(50000L).select(
      lit(1L).as("k"), col("id").as("o"), (col("id") % 97L).as("v"))
    val got = PrefixSum.runningSum(df, Seq("k"), Seq("o"), "v", "run",
      numPartitions = 8)
    // distribution: no partition of the scan holds more than ~1/4 of
    // the rows (8 range partitions over a uniform order column)
    val sizes = df.repartitionByRange(8, col("k"), col("o"))
      .groupBy(spark_partition_id().as("pid")).count()
      .collect().map(_.getLong(1))
    assert(sizes.length >= 4 && sizes.max < 50000L / 2,
      s"giant key not split: partition sizes ${sizes.mkString(",")}")
    // exactness: running sum at position o is sum of v over ids <= o
    val rows = got.orderBy("o").collect()
    assert(rows.length == 50000)
    var acc = 0L
    rows.foreach { r =>
      acc += r.getAs[Long]("v")
      assert(r.getAs[Long]("run") == acc, s"drift at o=${r.getAs[Long]("o")}")
    }
  }

  test("multi-key boundaries: keys starting mid-partition carry no stale offset") {
    // interleave many small keys so several partition boundaries fall
    // INSIDE a key's run and several keys start mid-partition
    val df = spark.range(10000L).select(
      (col("id") % 7L).as("k"), col("id").as("o"), lit(1L).as("v"))
    val got = PrefixSum.runningSum(df, Seq("k"), Seq("o"), "v", "run",
      numPartitions = 6)
      .select(col("k"), col("o"), col("run"))
    val expect = df.withColumn("run",
      sum("v").over(Window.partitionBy("k").orderBy("o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("k"), col("o"), col("run"))
    assert(got.orderBy("k", "o").collect().map(_.toString).toSeq ==
      expect.orderBy("k", "o").collect().map(_.toString).toSeq)
  }

  test("double value columns are rejected (reassociation is not exact)") {
    val df = Seq((1L, 1L, 1.5)).toDF("k", "o", "v")
    intercept[IllegalArgumentException] {
      PrefixSum.runningSum(df, Seq("k"), Seq("o"), "v", "run")
    }
  }
}
