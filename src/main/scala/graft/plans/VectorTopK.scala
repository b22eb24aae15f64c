package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.functions.{ItemTopKHeap, QueryBatch}

/**
 * Exact top-k of `child`'s rows by dot product (or cosine) of `embedding`
 * with every query of `queries`: the one operator behind
 * `SemanticIndex.search`, `searchCosine` and `searchMany`.
 *
 * Ranking is `search`'s: score desc with NaN above every number and a
 * null score (null record or query vector) last, then `item` asc. Scores
 * accumulate in double in element order, exactly as `vec_dot` and
 * `vec_cosine` do, so they are bit-identical to those kernels; a null
 * vector element reads as 0 on every input.
 *
 * `produced` holds the attributes the operator makes: `Seq(score)` for a
 * single search, whose output is every child column plus `score`; or
 * `Seq(query_id, score, rank)` for a batch, whose output is `query_id`,
 * `item`, `score`, `rank`. `item` and `embedding` are attributes of the
 * child, so column pruning keeps them under the node.
 */
case class VectorTopK(item: Attribute, embedding: Attribute, queries: QueryBatch, k: Int,
    cosine: Boolean, produced: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode with MultiInstanceRelation {
  override def output: Seq[Attribute] = VectorTopK.output(item, produced, child.output)
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  // a frame read twice in one plan (a self-join) gets fresh produced
  // attributes on one side; Spark's DeduplicateRelations renews the
  // child's relations before it asks this node for a new instance
  override def newInstance(): VectorTopK = copy(produced = produced.map(_.newInstance()))
  // at most k rows per query, sized as a Limit is, so that a join can
  // broadcast a search result rather than shuffle its other side
  override def maxRows: Option[Long] = Some(k.toLong * queries.ids.length)
  override def stats: Statistics = {
    val rows = child.stats.rowCount.fold(BigInt(maxRows.get))(_.min(maxRows.get))
    Statistics(EstimationUtils.getOutputSize(output, rows), Some(rows))
  }
  override protected def stringArgs: Iterator[Any] = VectorTopK.args(cosine, k, queries, item, embedding)
  override protected def withNewChildInternal(c: LogicalPlan): VectorTopK = copy(child = c)
}

object VectorTopK {
  def output(item: Attribute, produced: Seq[Attribute], input: Seq[Attribute]): Seq[Attribute] =
    produced match {
      case Seq(score) => input :+ score
      case Seq(queryId, score, rank) => Seq(queryId, item, score, rank)
    }

  /** The explain form: metric, k, query count and dims, never the floats. */
  private[plans] def args(cosine: Boolean, k: Int, queries: QueryBatch, item: Attribute,
      embedding: Attribute): Iterator[Any] =
    Iterator(if (cosine) "cosine" else "dot", s"k=$k", queries, item, embedding)

  /** `records` ranked against `queries`: the frame `search` (`batch`
    * false, one query) or `searchMany` (`batch` true) returns. A
    * negative `k` is rejected before the queries are collected. */
  def frame(records: DataFrame, itemCol: String, embeddingCol: String, queries: => QueryBatch,
      k: Int, cosine: Boolean, batch: Boolean): DataFrame = {
    if (k < 0) throw new IllegalArgumentException(s"search: k must not be negative, got $k")
    val spark = records.sparkSession
    graft.functions.registerAll(spark) // the strategy, and graft's SQL functions stay callable
    val plan = (if (batch) records.select(itemCol, embeddingCol) else records).queryExecution.analyzed
    def attr(name: String) = plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(s"search: no column $name in ${plan.schema.simpleString}"))
    val (item, embedding) = (attr(itemCol), attr(embeddingCol))
    val floats = embedding.dataType match { case ArrayType(FloatType, _) => true; case _ => false }
    if (!floats || !RowOrdering.isOrderable(item.dataType)) throw new IllegalArgumentException(
      s"search: needs orderable items and array<float> embeddings, got " +
        s"${item.dataType.catalogString}, ${embedding.dataType.catalogString}")
    val qs = queries
    val score = AttributeReference("score", DoubleType)()
    val produced =
      if (batch) Seq(AttributeReference("query_id", qs.idType)(), score,
        AttributeReference("rank", IntegerType, nullable = false)())
      else Seq(score)
    GraftSqlBridge.ofRows(spark, VectorTopK(item, embedding, qs, k, cosine, produced, plan))
  }
}

/** Plans [[VectorTopK]] as [[VectorTopKExec]]. A projection over the
  * node folds into the operator's output, as Spark's
  * `TakeOrderedAndProject` folds one, so that a collect of
  * `search(q, k).select(...)` stays one stage. */
object VectorTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, t: VectorTopK) if list.forall(_.deterministic) => exec(t, Some(list)) :: Nil
    case t: VectorTopK => exec(t, None) :: Nil
    case _ => Nil
  }

  private def exec(t: VectorTopK, project: Option[Seq[NamedExpression]]): SparkPlan =
    VectorTopKExec(t.item, t.embedding, t.queries, t.k, t.cosine, t.produced, project, planLater(t.child))

  /** Add the strategy to `spark` unless its planner already has it
    * (from `GraftExtensions` or an earlier call). */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.planner.strategies.contains(this)) {
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
    }
  }
}

/**
 * Physical [[VectorTopK]]. Each task scores its rows against all q
 * queries into one [[ItemTopKHeap]] per query and emits at most q×k
 * rows; the heaps of all tasks then merge into the ranked result. A
 * collect merges on the driver, so it runs one stage; `execute()` merges
 * in one task behind a one-partition shuffle.
 *
 * A columnar child (a vectorized parquet scan) is read batch by batch:
 * each embedding is read through a `ColumnarArray` view, by offset into
 * the float child vector, with no copy. Any other child is read row by
 * row through `InternalRow.getArray`. The scoring loop and the heaps
 * are shared; only a row that enters a heap is copied.
 */
case class VectorTopKExec(item: Attribute, embedding: Attribute, queries: QueryBatch, k: Int,
    cosine: Boolean, produced: Seq[Attribute], project: Option[Seq[NamedExpression]],
    child: SparkPlan) extends UnaryExecNode {

  /** The ranked rows before the folded projection. */
  private def ranked: Seq[Attribute] = VectorTopK.output(item, produced, child.output)
  override def output: Seq[Attribute] = project.fold(ranked)(_.map(_.toAttribute))
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def stringArgs: Iterator[Any] =
    VectorTopK.args(cosine, k, queries, item, embedding) ++ project.iterator

  // this operator reads batches itself, so the ColumnarToRow that Spark
  // puts over a columnar child is dropped
  override protected def withNewChildInternal(c: SparkPlan): VectorTopKExec = copy(child = c match {
    case ColumnarToRowExec(columnar) => columnar
    case _ => c
  })

  private def batch: Boolean = produced.length > 1

  /** What a kept row carries after (slot, score): every child column
    * for a single search, the item for a batch. */
  private def payload: Seq[Attribute] = if (batch) Seq(item) else child.output

  /** Where a kept row holds the item. */
  private def keptItemAt: Int = 2 + payload.indexWhere(_.exprId == item.exprId)

  /** Each task's kept rows: (slot int, score double, payload...). */
  private def local(): RDD[InternalRow] = {
    if (k == 0 || queries.vecs.isEmpty) return sparkContext.emptyRDD[InternalRow]
    val (qs, topK, cos) = (queries, k, cosine)
    val in = child.output
    def ord(a: Attribute) = in.indexWhere(_.exprId == a.exprId)
    val (itemOrd, embOrd, itemType, itemAt) = (ord(item), ord(embedding), item.dataType, keptItemAt)
    val keep = Seq(BoundReference(0, IntegerType, nullable = false), BoundReference(1, DoubleType, nullable = true)) ++
      payload.map(a => BoundReference(2 + ord(a), a.dataType, a.nullable))
    val scan = () => new TopKScan(qs, topK, cos, itemOrd, itemAt, itemType, embOrd, keep)
    if (child.supportsColumnar) {
      child.executeColumnar().mapPartitions { it => val s = scan(); it.foreach(s.addBatch); s.kept }
    } else {
      child.execute().mapPartitions { it => val s = scan(); it.foreach(s.addRow); s.kept }
    }
  }

  /** Merges kept rows into one heap per query slot and emits the ranked
    * output, projected from a kept row joined with (rank, query id). */
  private def merge(): Iterator[InternalRow] => Iterator[InternalRow] = {
    val (ids, topK, itemType, itemAt) = (queries.ids, k, item.dataType, keptItemAt)
    val (p, projection, full) = (payload, project, ranked)
    val width = 2 + p.length
    val out =
      if (batch) Seq(BoundReference(width + 1, queries.idType, nullable = true),
        BoundReference(itemAt, itemType, item.nullable), BoundReference(1, DoubleType, nullable = true),
        BoundReference(width, IntegerType, nullable = false))
      else p.indices.map(i => BoundReference(2 + i, p(i).dataType, p(i).nullable)) :+
        BoundReference(1, DoubleType, nullable = true)
    kept => {
      val heaps = Array.fill(ids.length)(new ItemTopKHeap(topK, itemType))
      kept.foreach { r =>
        val isNull = r.isNullAt(1)
        val s = if (isNull) 0.0 else r.getDouble(1)
        val h = heaps(r.getInt(0))
        if (h.admits(isNull, s, r, itemAt)) h.offer(isNull, s, r.copy(), itemAt)
      }
      val rank = UnsafeProjection.create(out)
      val outer = projection.map(UnsafeProjection.create(_, full))
      val tail = new GenericInternalRow(2)
      val joined = new JoinedRow()
      heaps.iterator.zipWithIndex.flatMap { case (h, slot) =>
        h.sortedSlots.iterator.zipWithIndex.map { case (at, r) =>
          tail.update(0, r + 1)
          tail.update(1, ids(slot))
          val row = rank(joined(h.rows(at), tail))
          outer.fold(row)(_(row)).copy()
        }
      }
    }
  }

  override def executeCollect(): Array[InternalRow] = merge()(local().collect().iterator).toArray

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    local().coalesce(1, shuffle = true).mapPartitions(merge())
}

/** One task's scan: scores every record against every query into the
  * query's heap, copying (through `keep`, bound to (slot, score) joined
  * with the input row) only the rows that enter. */
private final class TopKScan(queries: QueryBatch, k: Int, cosine: Boolean, itemOrd: Int,
    itemAt: Int, itemType: DataType, embOrd: Int, keep: Seq[Expression]) {
  private val vecs = queries.vecs
  private val slots = queries.slots
  // cosine divides by ‖record‖·‖query‖; the query's norm, summed in
  // element order like vec_cosine's, is computed once
  private val qNorms = vecs.map(q =>
    if (q == null) 0.0 else math.sqrt(q.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
  private val heaps = Array.fill(queries.ids.length)(new ItemTopKHeap(k, itemType))
  private var buf = new Array[Float](64)
  private val head = new GenericInternalRow(2)
  private val joined = new JoinedRow(head, null)
  private val project = UnsafeProjection.create(keep)

  def addRow(row: InternalRow): Unit =
    score(row, if (row.isNullAt(embOrd)) -1 else load(row.getArray(embOrd)))

  def addBatch(batch: ColumnarBatch): Unit = {
    val col = batch.column(embOrd)
    var r = 0
    while (r < batch.numRows) {
      score(batch.getRow(r), if (col.isNullAt(r)) -1 else load(col.getArray(r)))
      r += 1
    }
  }

  def kept: Iterator[InternalRow] = heaps.iterator.flatMap(h => h.rows.iterator.take(h.size))

  /** Loads a vector into `buf` (a null element reads as 0, as in
    * `UnsafeArrayData`) and returns its length. */
  private def load(a: ArrayData): Int = {
    val n = a.numElements()
    if (buf.length < n) buf = new Array[Float](n)
    var i = 0
    while (i < n) { buf(i) = if (a.isNullAt(i)) 0f else a.getFloat(i); i += 1 }
    n
  }

  /** Score the row whose vector is in `buf` (`n` < 0: a null vector). */
  private def score(row: InternalRow, n: Int): Unit = {
    var norm = 0.0
    if (cosine && n >= 0) {
      var d = 0
      while (d < n) { norm += buf(d).toDouble * buf(d).toDouble; d += 1 }
      norm = math.sqrt(norm)
    }
    var j = 0
    while (j < vecs.length) {
      val q = vecs(j)
      val isNull = n < 0 || q == null
      var s = 0.0
      if (!isNull) {
        if (n != q.length) throw new IllegalArgumentException(s"vector length mismatch: $n vs ${q.length}")
        var d = 0
        while (d < n) { s += buf(d).toDouble * q(d).toDouble; d += 1 }
        if (cosine) {
          val denom = norm * qNorms(j)
          s = if (denom == 0.0) 0.0 else s / denom
        }
      }
      val h = heaps(slots(j))
      if (h.admits(isNull, s, row, itemOrd)) {
        head.setInt(0, slots(j))
        if (isNull) head.setNullAt(1) else head.setDouble(1, s)
        h.offer(isNull, s, project(joined.withRight(row)).copy(), itemAt)
      }
      j += 1
    }
  }
}
