package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Distributed running (prefix) sum — the 100 TB form of
 * `sum(v) OVER (PARTITION BY k ORDER BY o ROWS UNBOUNDED PRECEDING)`.
 *
 * A window running sum materializes each key's ENTIRE history inside
 * one task; a key with 10⁹ rows is a straggler no AQE setting can
 * split (skew-join splitting does not apply to windows). The classic
 * fix is a two-pass scan:
 *
 *  1. range-partition by (key, order) — a key's rows stay contiguous
 *     but may SPAN partitions, so no partition holds more than ~1/N of
 *     the data regardless of key skew;
 *  2. per-(partition, key) totals via partial aggregation (the
 *     exchange carries ≤ one row per (partition, boundary key));
 *  3. exclusive per-key prefix offsets over those totals — because the
 *     sort is (key, order), only keys CONTINUING across a partition
 *     boundary have a nonzero offset, so the offset map is ≤ one entry
 *     per partition (driver-side tiny, rides the task closure);
 *  4. one partition-local imperative scan adds offset + local running
 *     value (`mapPartitions` — genuine per-partition sequential logic,
 *     the documented last-resort case).
 *
 * Exactness: integral sums are associative-exact, so the
 * split-and-offset decomposition is BIT-IDENTICAL to the window result.
 * Double sums would reassociate — rejected.
 *
 * The sorted frame is persisted (MEMORY_AND_DISK): passes 2 and 4 must
 * observe the SAME range bounds, and recomputing a 100 TB sort twice
 * costs more than spilling it once. A [[CacheSlot]] bounds a long-lived
 * session to one live cache per call-site (the r5 leaked-persist
 * lesson).
 */
object PrefixSum {

  private val sortCache = new CacheSlot

  def runningSum(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valueCol: String, outCol: String,
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    df.schema(valueCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
      case other => throw new IllegalArgumentException(
        s"runningSum requires an integral value column (associative-exact " +
          s"sums); got ${other.catalogString} — a double running sum reassociates")
    }

    val sortCols = (keyCols ++ orderCols).map(col)
    // NOT cached before the range repartition (r13 measured): the range
    // partitioner's sample job does recompute the input subtree, but a
    // columnar cache write of the input costs MORE than the codegen'd
    // recompute for every caller (12-key A/B read +0.3–0.9 s per key
    // with an input CacheSlot here)
    val sorted = sortCache.cache(
      df.repartitionByRange(n, sortCols: _*).sortWithinPartitions(sortCols: _*))

    // pass 1: per-(partition, key) totals. Partial aggregation keeps the
    // exchange tiny: each task emits one row per distinct key it holds.
    val totals = sorted
      .groupBy(spark_partition_id().as("__pid") +: keyCols.map(col): _*)
      .agg(sum(col(valueCol)).as("__total"))

    // pass 2: exclusive prefix per key across partitions; only keys
    // whose history STARTED in an earlier partition carry an offset.
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__offset", sum(col("__total")).over(wOff))
      .filter(col("__offset").isNotNull)
      .select(col("__pid") +: keyCols.map(col) :+ col("__offset"): _*)
      .collect() // ≤ one row per partition — driver-side by construction
    val offsetMap: Map[(Int, Seq[Any]), Any] = offsets.map { r =>
      (r.getInt(0), keyCols.indices.map(i => r.get(i + 1))) -> r.get(keyCols.length + 1)
    }.toMap

    // pass 3: partition-local scan, seeded by the broadcast offsets.
    val inSchema = sorted.schema
    val outSchema = inSchema.add(outCol, LongType)
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val keyIdx = keyCols.map(inSchema.fieldIndex).toArray
    val valIdx = inSchema.fieldIndex(valueCol)
    sorted.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      var curKey: Seq[Any] = null
      var acc = 0L
      rows.map { row =>
        val k: Seq[Any] = keyIdx.map(row.get).toSeq
        if (k != curKey) {
          curKey = k
          acc = offsetMap.get((pid, k)).map(_.asInstanceOf[Long]).getOrElse(0L)
        }
        acc += (row.get(valIdx) match {
          case l: Long => l
          case i: Int => i.toLong
          case s: Short => s.toLong
          case b: Byte => b.toLong
        })
        Row.fromSeq(row.toSeq :+ acc)
      }
    }(enc).toDF()
  }
}
