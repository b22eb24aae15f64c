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
import org.apache.spark.unsafe.Platform

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
 * vector element reads as 0 on every input. A batch scores its queries
 * 8 at a time per pass over a record's floats ([[TopKScan]]); the
 * remainder, and a single search, take one query per pass.
 *
 * `produced` holds the attributes the operator makes: `Seq(score)` for a
 * single search, whose output is every child column plus `score`; or
 * `Seq(query_id, score, rank)` for a batch, whose output is `query_id`,
 * `item`, `score`, `rank`. `item` and `embedding` are attributes of the
 * child, so column pruning keeps them under the node.
 *
 * The records are read through `resident`, the [[Resident]] form of
 * the index instance they belong to; the node references every child
 * column, so that the child stays the whole record plan the resident
 * blocks are built from.
 */
case class VectorTopK(item: Attribute, embedding: Attribute, queries: QueryBatch, k: Int,
    cosine: Boolean, produced: Seq[Attribute], resident: Resident, child: LogicalPlan)
    extends UnaryNode with MultiInstanceRelation {
  override def output: Seq[Attribute] = VectorTopK.output(item, produced, child.output)
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def references: AttributeSet = child.outputSet
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
  override protected def stringArgs: Iterator[Any] =
    VectorTopK.args(cosine, k, queries, item, embedding)
  override protected def withNewChildInternal(c: LogicalPlan): VectorTopK = copy(child = c)
}

object VectorTopK {
  def output(item: Attribute, produced: Seq[Attribute], input: Seq[Attribute]): Seq[Attribute] =
    produced match {
      case Seq(score) => input :+ score
      case Seq(queryId, score, rank) => Seq(queryId, item, score, rank)
    }

  /** The explain form: metric, k, query count and dims, never the
    * floats; and that the records are read from resident blocks. */
  private[plans] def args(cosine: Boolean, k: Int, queries: QueryBatch, item: Attribute,
      embedding: Attribute): Iterator[Any] =
    Iterator(if (cosine) "cosine" else "dot", s"k=$k", queries, item, embedding, "resident")

  /** `records` ranked against `queries`: the frame `search` (`batch`
    * false, one query) or `searchMany` (`batch` true) returns. The
    * records are read from `resident`'s blocks, built by the first
    * search that runs. A negative `k` is rejected before the queries
    * are collected. */
  def frame(records: DataFrame, itemCol: String, embeddingCol: String, queries: => QueryBatch,
      k: Int, cosine: Boolean, batch: Boolean, resident: Resident): DataFrame = {
    if (k < 0) throw new IllegalArgumentException(s"search: k must not be negative, got $k")
    val spark = records.sparkSession
    graft.functions.registerAll(spark) // the strategy, and graft's SQL functions stay callable
    val plan = records.queryExecution.analyzed
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
    GraftSqlBridge.ofRows(spark, VectorTopK(item, embedding, qs, k, cosine, produced, resident, plan))
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
    VectorTopKExec(t.item, t.embedding, t.queries, t.k, t.cosine, t.produced, t.resident, project,
      planLater(t.child))

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
 * The records are read from the [[Resident]] blocks, which the first
 * search builds from the child in the same stage: each row's vector is
 * copied from the block's off-heap float region into the scoring
 * buffer, and its other columns are read as an `UnsafeRow`. A partition
 * whose block cannot be held is scored from the child's own output: a
 * columnar child (a vectorized parquet scan) batch by batch, each
 * embedding read through a `ColumnarArray` view with no copy; any other
 * child row by row through `InternalRow.getArray`. The scoring loop and
 * the heaps are shared; only a row that enters a heap is copied. The
 * child stays in the plan, for explain and as the blocks' lineage.
 */
case class VectorTopKExec(item: Attribute, embedding: Attribute, queries: QueryBatch, k: Int,
    cosine: Boolean, produced: Seq[Attribute], resident: Resident,
    project: Option[Seq[NamedExpression]], child: SparkPlan) extends UnaryExecNode {

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
    // `keep` reads a row joined with its vector, put after the row's
    // last field: a resident row holds no vector of its own
    val fields = in.length
    val keep = Seq(BoundReference(0, IntegerType, nullable = false), BoundReference(1, DoubleType, nullable = true)) ++
      payload.map(a => BoundReference(2 + (if (a.exprId == embedding.exprId) fields else ord(a)),
        a.dataType, a.nullable))
    resident.scored(if (child.supportsColumnar) child.executeColumnar() else child.execute(),
        in.map(_.dataType), embOrd) { records =>
      val s = new TopKScan(qs, topK, cos, itemOrd, itemAt, itemType, embOrd, keep)
      records match {
        case scala.util.Left(block) => s.addBlock(block, fields)
        case scala.util.Right(scanned) => scanned.foreach(s.add)
      }
      s.kept
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

/** One task's scan: scores every record (a resident block's rows, or a
  * scan's batches or rows) against every query into the query's heap,
  * copying (through `keep`, bound to (slot, score) joined with the row
  * and then its vector) only the rows that enter.
  *
  * The queries of one length are scored in register blocks of
  * [[TopKScan.Block]]: a record's floats are widened to double once, and
  * one pass over them feeds 8 independent accumulators, one per query,
  * where one chain per (record, query) waits on each add before it. Each
  * accumulator sums `x(d) * q(d)` from 0.0 in element order, as `vec_dot`
  * does, and a product of two floats is exact in double, so every score
  * keeps `vec_dot`'s bits. A query outside a full block (the remainder, a
  * null vector, another length than the record's) takes the scalar loop,
  * which raises `vec_dot`'s length-mismatch error; so does every query of
  * a single search. */
private final class TopKScan(queries: QueryBatch, k: Int, cosine: Boolean, itemOrd: Int,
    itemAt: Int, itemType: DataType, embOrd: Int, keep: Seq[Expression]) {
  import TopKScan.Block
  private val vecs = queries.vecs
  private val slots = queries.slots
  // cosine divides by ‖record‖·‖query‖; the query's norm, summed in
  // element order like vec_cosine's, is computed once
  private val qNorms = vecs.map(q =>
    if (q == null) 0.0 else math.sqrt(q.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
  // per query length with a full block, in ascending order: the queries
  // in full blocks; their vectors, transposed per block (element d of
  // the block's query c at 8 * d + c); and the queries left to the
  // scalar loop for a record of that length
  private val (blockLength, blocks) = vecs.indices.filter(vecs(_) != null).groupBy(vecs(_).length).toArray
    .collect { case (n, js) if n > 0 && js.length >= Block => n -> js.take(js.length / Block * Block).toArray }
    .sortBy(_._1).unzip
  private val transposed = blockLength.zip(blocks).map { case (n, js) =>
    val t = new Array[Double](n * js.length)
    for (i <- js.indices; d <- 0 until n) t(i / Block * Block * n + Block * d + i % Block) = vecs(js(i))(d).toDouble
    t
  }
  private val scalar = blocks.map(js => vecs.indices.filterNot(js.toSet).toArray)
  private val allScalar = vecs.indices.toArray
  private var x = new Array[Double](64)
  private val heaps = Array.fill(queries.ids.length)(new ItemTopKHeap(k, itemType))
  private var buf = new Array[Float](64)
  private val head = new GenericInternalRow(2)
  private val joined = new JoinedRow(head, null)
  private val project = UnsafeProjection.create(keep)
  // a kept row is joined with its vector (`withVector`); a resident
  // row's payload is read into `bytes` from row `at` of `block`
  private var block: ResidentBlock = _
  private var at = -1
  private var bytes = new Array[Byte](64)
  private val vector = new GenericInternalRow(1)
  private val withVector = new JoinedRow()

  /** Scores one of a scan's records: a `ColumnarBatch` or a row. */
  def add(record: Any): Unit = record match {
    case batch: ColumnarBatch => addBatch(batch)
    case row: InternalRow => score(row, if (row.isNullAt(embOrd)) -1 else load(row.getArray(embOrd)))
  }

  /** Scores a block's rows in order: each vector is copied from the
    * float region into `buf`, and `row` is pointed at its payload. */
  def addBlock(b: ResidentBlock, fields: Int): Unit = {
    val floats = b.vectors.asFloatBuffer()
    val row = new UnsafeRow(fields)
    block = b
    var (vAt, pAt) = (0, 0)
    at = 0
    while (at < b.rows) {
      val n = b.meta.getInt(8 * at)
      val p = b.meta.getInt(8 * at + 4)
      if (n > 0) {
        if (buf.length < n) buf = new Array[Float](n)
        floats.get(vAt, buf, 0, n)
        vAt += n
      }
      if (bytes.length < p) bytes = new Array[Byte](math.max(p, 2 * bytes.length))
      b.payload.get(pAt, bytes, 0, p)
      pAt += p
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET, p)
      score(row, n)
      at += 1
    }
    block = null
  }

  private def addBatch(batch: ColumnarBatch): Unit = {
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

  /** What `keep` reads for a kept row: the row joined with its vector
    * (a resident row's from the block, with its null elements). */
  private def keepInput(row: InternalRow, n: Int): InternalRow = {
    if (n < 0) vector.setNullAt(0)
    else vector.update(0, if (block == null) row.getArray(embOrd) else block.vector(at, buf, n))
    withVector(row, vector)
  }

  /** Score the row whose vector is in `buf` (`n` < 0: a null vector). */
  private def score(row: InternalRow, n: Int): Unit = {
    var norm = 0.0
    if (cosine && n >= 0) {
      var d = 0
      while (d < n) { norm += buf(d).toDouble * buf(d).toDouble; d += 1 }
      norm = math.sqrt(norm)
    }
    val l = java.util.Arrays.binarySearch(blockLength, n)
    if (l >= 0) scoreBlocks(row, n, norm, blocks(l), transposed(l))
    val rest = if (l >= 0) scalar(l) else allScalar
    var i = 0
    while (i < rest.length) {
      val j = rest(i)
      val q = vecs(j)
      val isNull = n < 0 || q == null
      var s = 0.0
      if (!isNull) {
        if (n != q.length) throw new IllegalArgumentException(s"vector length mismatch: $n vs ${q.length}")
        var d = 0
        while (d < n) { s += buf(d).toDouble * q(d).toDouble; d += 1 }
      }
      offer(row, n, norm, j, isNull, s)
      i += 1
    }
  }

  /** Scores the row against the full blocks of queries `js` of its
    * length `n`, transposed in `t`. */
  private def scoreBlocks(row: InternalRow, n: Int, norm: Double, js: Array[Int], t: Array[Double]): Unit = {
    if (x.length < n) x = new Array[Double](n)
    var d = 0
    while (d < n) { x(d) = buf(d).toDouble; d += 1 }
    var b = 0
    while (b < js.length) {
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var s4 = 0.0; var s5 = 0.0; var s6 = 0.0; var s7 = 0.0
      var o = b * n
      d = 0
      while (d < n) {
        val xd = x(d)
        s0 += xd * t(o); s1 += xd * t(o + 1); s2 += xd * t(o + 2); s3 += xd * t(o + 3)
        s4 += xd * t(o + 4); s5 += xd * t(o + 5); s6 += xd * t(o + 6); s7 += xd * t(o + 7)
        o += Block
        d += 1
      }
      offer(row, n, norm, js(b), isNull = false, s0); offer(row, n, norm, js(b + 1), isNull = false, s1)
      offer(row, n, norm, js(b + 2), isNull = false, s2); offer(row, n, norm, js(b + 3), isNull = false, s3)
      offer(row, n, norm, js(b + 4), isNull = false, s4); offer(row, n, norm, js(b + 5), isNull = false, s5)
      offer(row, n, norm, js(b + 6), isNull = false, s6); offer(row, n, norm, js(b + 7), isNull = false, s7)
      b += Block
    }
  }

  /** Offers query `j`'s dot product `dot` with the row (a cosine divided
    * by both norms) to the query's heap. */
  private def offer(row: InternalRow, n: Int, norm: Double, j: Int, isNull: Boolean, dot: Double): Unit = {
    var s = dot
    if (cosine && !isNull) {
      val denom = norm * qNorms(j)
      s = if (denom == 0.0) 0.0 else s / denom
    }
    val h = heaps(slots(j))
    if (h.admits(isNull, s, row, itemOrd)) {
      head.setInt(0, slots(j))
      if (isNull) head.setNullAt(1) else head.setDouble(1, s)
      h.offer(isNull, s, project(joined.withRight(keepInput(row, n))).copy(), itemAt)
    }
  }
}

private object TopKScan {
  /** Queries scored per pass over a record's floats. */
  val Block = 8
}
