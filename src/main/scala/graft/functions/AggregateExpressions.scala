package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * Bounded top-k state for [[TopKByScore]]: a binary heap whose ROOT is
 * the WORST kept (score, id) pair under the ordering (score desc, id
 * asc), so an incoming row either beats the root (replace + sift down,
 * O(log k)) or is dropped in O(1). Memory is exactly k pairs per group
 * regardless of how many rows stream through — the property that makes
 * per-query top-k a safe AGGREGATION instead of a window over the full
 * scored frame.
 */
final class TopKHeap(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** (s1,i1) strictly worse than (s2,i2) under score desc, id asc. */
  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)

  @inline private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  def add(s: Double, id: Long): Unit = {
    // A NaN score compares false under every `worse` call, so once
    // admitted under capacity it could never be evicted and would
    // permanently displace a real neighbor — drop it at the door.
    if (java.lang.Double.isNaN(s)) return
    if (size < k) {
      var i = size
      scores(i) = s; ids(i) = id; size += 1
      var siftUp = true
      while (siftUp && i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
        else siftUp = false
      }
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      var i = 0
      var siftDown = true
      while (siftDown) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w != i) { swap(i, w); i = w } else siftDown = false
      }
    }
  }

  /** Kept pairs, best-first ((score desc, id asc)). */
  def sorted: Array[(Double, Long)] =
    (0 until size).map(i => (scores(i), ids(i))).toArray
      .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
}

/**
 * `vec_topk(score, id, k)` — per-group exact top-k as a PARTIAL-CAPABLE
 * aggregate: each map task keeps a k-bounded heap per group, so only
 * #partitions × #groups × k serialized pairs cross the shuffle instead
 * of every scored row. This replaces the `row_number() OVER (PARTITION
 * BY group)` shape whose Exchange moves the entire scored frame — the
 * difference between O(|corpus| × #queries) and O(k × #queries) shuffle
 * bytes in a batch kNN join (SURVEY §2.3 #22).
 *
 * Returns `array<struct<score double, id bigint>>`, best-first, ties
 * broken by id asc — the deterministic tiebreak graft uses everywhere
 * in place of the reference's SortedList +1e-6 key nudge
 * (SemanticDatabase.cs:253).
 */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] {

  require(k > 0, s"vec_topk: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_topk requires (double, bigint), got " +
          s"${score.dataType.catalogString}, ${id.dataType.catalogString}")
    }

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) { buf.add(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKHeap): Any =
    new GenericArrayData(buf.sorted.map { case (s, i) =>
      InternalRow(s, i): Any
    })

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKHeap(k)
    var i = 0
    while (i < n) { buf.add(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByScore =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
  override def prettyName: String = "vec_topk"
}

/**
 * Bounded top-k state for one query of a [[graft.plans.VectorTopK]]
 * scan. As in [[TopKHeap]] the root is the WORST kept entry, but an
 * entry is a (score, item) pair ranked exactly as `SemanticIndex.search`
 * ranks: score desc with NaN above every number and a null score below
 * them all, then item asc (a null item first) in Spark's order for
 * `itemType`. NaN and null scores are kept, not dropped. An entry is a
 * row holding the item; callers copy a row only once [[admits]] lets it
 * in.
 *
 * A second class rather than a generalized [[TopKHeap]]: that one keys
 * on a primitive `long` id and drops NaN at the door, which its
 * `vec_topk` callers rely on; carrying an ordered `Any` item there
 * would box every id on its hot path.
 */
final class ItemTopKHeap(val k: Int, itemType: DataType) {
  private val itemOrder: Ordering[Any] =
    if (itemType == StringType) new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    }
    else org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(itemType)
  // slots grow on demand up to k: a large k (say, "every record") must
  // not allocate k slots per query before a single record arrives
  var scores = new Array[Double](math.min(k, 16))
  var nullScore = new Array[Boolean](scores.length)
  var items = new Array[Any](scores.length)
  var rows = new Array[InternalRow](scores.length)
  var size = 0

  /** (n1, s1) against (n2, s2): > 0 when it ranks ahead. */
  private def compareScores(n1: Boolean, s1: Double, n2: Boolean, s2: Double): Int =
    if (n1 || n2) java.lang.Boolean.compare(n2, n1)
    else org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(s1, s2)

  private def itemFirst(i1: Any, i2: Any): Boolean =
    i2 != null && (i1 == null || itemOrder.compare(i1, i2) < 0)

  // a columnar row's typed getters do not check for null themselves
  private def itemOf(row: InternalRow, ord: Int): Any =
    if (row.isNullAt(ord)) null else row.get(ord, itemType)

  private def worse(a: Int, b: Int): Boolean = {
    val c = compareScores(nullScore(b), scores(b), nullScore(a), scores(a))
    c > 0 || (c == 0 && itemFirst(items(b), items(a)))
  }

  private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val tn = nullScore(a); nullScore(a) = nullScore(b); nullScore(b) = tn
    val ti = items(a); items(a) = items(b); items(b) = ti
    val tr = rows(a); rows(a) = rows(b); rows(b) = tr
  }

  /** Whether an entry scored (`isNull`: a null score, `s` ignored)
    * whose item is `row`'s field `itemOrd` would enter. The item is read
    * only on a tie with the worst kept score. A number below the full
    * heap's worst number is turned away by one primitive compare, which
    * is false on NaN, and on ±0.0 and ties, so those take the full order. */
  def admits(isNull: Boolean, s: Double, row: InternalRow, itemOrd: Int): Boolean =
    size < k || (k > 0 && (isNull || nullScore(0) || !(s < scores(0))) && {
      val c = compareScores(isNull, s, nullScore(0), scores(0))
      c > 0 || (c == 0 && itemFirst(itemOf(row, itemOrd), items(0)))
    })

  /** Insert an entry that [[admits]] let in; `row` must not alias a
    * reused input buffer. */
  def offer(isNull: Boolean, s: Double, row: InternalRow, itemOrd: Int): Unit = {
    val at = if (size < k) {
      if (size == scores.length) {
        val cap = math.min(k.toLong, 2L * size).toInt
        scores = Array.copyOf(scores, cap)
        nullScore = Array.copyOf(nullScore, cap)
        items = Array.copyOf(items, cap)
        rows = Array.copyOf(rows, cap)
      }
      size += 1
      size - 1
    } else 0
    scores(at) = s; nullScore(at) = isNull; items(at) = itemOf(row, itemOrd); rows(at) = row
    var i = at
    if (at > 0) {
      var siftUp = true
      while (siftUp && i > 0) {
        val p = (i - 1) >> 1
        if (worse(i, p)) { swap(i, p); i = p } else siftUp = false
      }
    } else {
      var siftDown = true
      while (siftDown) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < size && worse(l, w)) w = l
        if (r < size && worse(r, w)) w = r
        if (w != i) { swap(i, w); i = w } else siftDown = false
      }
    }
  }

  /** Slots of the kept entries, best-first. */
  def sortedSlots: Array[Int] =
    Array.range(0, size).sortWith((a, b) => worse(b, a))
}

/**
 * The query side of a [[graft.plans.VectorTopK]] scan, collected on the
 * driver: one vector per query row (null for a null vector), and per
 * row the slot of its `query_id` among the distinct internal ids `ids`
 * of type `idType`. Rows that repeat an id share its slot, so their
 * candidates meet in one top-k, as they did under a rank window
 * partitioned by id.
 */
final class QueryBatch(val idType: DataType, val ids: Array[Any], val slots: Array[Int],
    val vecs: Array[Array[Float]]) extends Serializable {
  /** The explain form: sizes, never the query floats. */
  override def toString: String =
    s"q=${vecs.length}, dims=${vecs.find(_ != null).map(_.length).getOrElse(0)}"
}

object QueryBatch {
  /** One query vector, as `search` runs it. */
  def single(vec: Array[Float]): QueryBatch =
    new QueryBatch(IntegerType, Array(0), Array(0), Array(vec))

  /** Collect `(query_id, embedding)` — the first two columns of
    * `queries`, embedding `array<float>` — into a batch, read as the
    * plan's internal rows. */
  def collect(queries: org.apache.spark.sql.DataFrame): QueryBatch = {
    val Array(idField, vecField) = queries.schema.fields.take(2)
    vecField.dataType match {
      case ArrayType(FloatType, _) =>
      case dt => throw new IllegalArgumentException(
        s"searchMany: query vectors must be array<float>, got ${dt.catalogString}")
    }
    // ids are keyed by their binary form, so equal ids of any type
    // (binary and struct ids included) share one slot
    val keyOf = UnsafeProjection.create(Seq(BoundReference(0, idField.dataType, nullable = true)))
    val slotOf = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    val rows = queries.select(queries.columns.take(2).map(queries.col).toIndexedSeq: _*)
      .queryExecution.executedPlan.executeCollect()
    val slots = rows.map { r =>
      slotOf.getOrElseUpdate(keyOf(r).copy(),
        { ids += InternalRow.copyValue(r.get(0, idField.dataType)); ids.length - 1 })
    }
    // a null element reads as 0 in vec_dot (UnsafeArrayData stores it
    // zeroed), so it reads as 0 here too
    val vecs = rows.map { r =>
      if (r.isNullAt(1)) null else {
        val a = r.getArray(1)
        Array.tabulate(a.numElements())(i => if (a.isNullAt(i)) 0f else a.getFloat(i))
      }
    }
    new QueryBatch(idField.dataType, ids.toArray, slots, vecs)
  }
}

/**
 * Element-wise sum of array<bigint> vectors → array<bigint> of `dim` —
 * the centroid-update aggregate of the micro-unit k-means
 * ([[graft.queries.PipelineQueries.embKmeans]]). A
 * TypedImperativeAggregate so the sums PARTIAL-aggregate map-side: the
 * shuffle carries one dim-long vector per (partition, cluster), never
 * the corpus. Long sums are exact and order-independent — the property
 * the micro-unit rounding buys (a double vector sum would depend on
 * aggregation order and could never bit-match an oracle).
 */
case class LongVecSum(
    child: Expression,
    dim: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(dim > 0, s"vec_lsum: dim must be positive, got $dim")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_lsum requires array<bigint>, got ${dt.catalogString}")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dim)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      if (a.numElements() != dim) {
        throw new IllegalArgumentException(
          s"vec_lsum: vector length ${a.numElements()} != dim $dim")
      }
      var i = 0
      while (i < dim) { buf(i) += a.getLong(i); i += 1 }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dim) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(dim * 8)
    var i = 0
    while (i < dim) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](dim)
    var i = 0
    while (i < dim) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): LongVecSum =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): LongVecSum =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LongVecSum =
    copy(child = newChildren(0))
  override def prettyName: String = "vec_lsum"
}

/**
 * Misra–Gries frequent-items summary for [[FreqCandidates]]: at most
 * `capacity` (key → estimated count) counters regardless of stream
 * length or key cardinality. The classic guarantee (Misra & Gries
 * 1982; merged form Agarwal et al., "Mergeable Summaries", PODS 2012):
 * after any sequence of updates and merges over a stream of N items,
 * every key whose true count exceeds N/(capacity+1) is PRESENT in the
 * summary. That makes it a sound CANDIDATE GENERATOR for exact heavy
 * hitters at support φ ≥ 1/capacity — the second (recount) pass never
 * has to consider a key this summary dropped.
 */
final class MgSummary(val capacity: Int) {
  val counts = new scala.collection.mutable.HashMap[String, Long]()

  /** Stream update: classic MG — hit keys increment, new keys either
    * take a free counter or trigger a decrement-all (each such event
    * destroys capacity+1 units of mass, hence ≤ N/(capacity+1) events;
    * amortized O(1) because decrements never exceed increments). */
  def add(key: String): Unit = {
    val cur = counts.getOrElse(key, 0L)
    if (cur > 0L) counts(key) = cur + 1L
    else if (counts.size < capacity) counts(key) = 1L
    else {
      // the incoming item is absorbed by the global decrement
      val dead = List.newBuilder[String]
      counts.foreachEntry { (k, v) =>
        if (v <= 1L) dead += k else counts(k) = v - 1L
      }
      dead.result().foreach(counts.remove)
    }
  }

  /** Merge: add the other summary's counters, then if over capacity
    * subtract the (capacity+1)-th largest count from every counter and
    * drop the non-positive ones (the PODS'12 merge — total destroyed
    * mass across all updates+merges stays ≤ N/(capacity+1)). */
  def mergeIn(other: MgSummary): Unit = {
    other.counts.foreachEntry { (k, v) =>
      counts(k) = counts.getOrElse(k, 0L) + v
    }
    if (counts.size > capacity) {
      val vals = counts.values.toArray
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - capacity - 1) // (capacity+1)-th largest
      val dead = List.newBuilder[String]
      counts.foreachEntry { (k, v) =>
        if (v <= cut) dead += k else counts(k) = v - cut
      }
      dead.result().foreach(counts.remove)
    }
  }
}

/**
 * `freq_candidates(key, capacity)` — Misra–Gries heavy-hitter CANDIDATE
 * set as a partial-capable aggregate: each map task folds its rows into
 * a ≤`capacity`-counter [[MgSummary]], and only those summaries (not
 * per-key partial counts) cross the shuffle — O(#partitions × capacity)
 * bytes however many distinct keys the corpus has. Returns the surviving
 * keys as a sorted `array<string>`.
 *
 * This is the first pass of the two-pass EXACT heavy-hitters plan
 * ([[graft.queries.TextQueries.textHotNgrams]]): by the MG guarantee
 * the array is a SUPERSET of every key with true count > N/(capacity+1),
 * so an exact recount restricted to these candidates — a map-side
 * `isin` that drops the cold tail before any shuffle — reproduces the
 * exact `GROUP BY … HAVING count ≥ ⌈φN⌉` answer for any φ ≥ 1/capacity.
 * Contrast `text_vocab`, whose shuffle carries a partial count for
 * EVERY distinct key per partition: at 100 TB (billions of distinct
 * n-grams) that is the difference between a bounded candidate exchange
 * and a vocabulary-sized one.
 */
case class FreqCandidates(
    key: Expression,
    capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgSummary] {

  require(capacity > 0, s"freq_candidates: capacity must be positive, got $capacity")

  override def children: Seq[Expression] = Seq(key)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (key.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"freq_candidates requires string key, got ${key.dataType.catalogString}")
    }

  override def createAggregationBuffer(): MgSummary = new MgSummary(capacity)

  override def update(buf: MgSummary, input: InternalRow): MgSummary = {
    val k = key.eval(input)
    // .toString copies out of Spark's reused row buffer — the map key
    // must not alias mutable memory
    if (k != null) buf.add(k.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    buf
  }

  override def merge(buf: MgSummary, other: MgSummary): MgSummary = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: MgSummary): Any = {
    val keys = buf.counts.keysIterator.toArray
    java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
    new GenericArrayData(keys.map(k =>
      org.apache.spark.unsafe.types.UTF8String.fromString(k): Any))
  }

  override def serialize(buf: MgSummary): Array[Byte] = {
    val entries = new scala.collection.mutable.ArrayBuffer[(Array[Byte], Long)](buf.counts.size)
    buf.counts.foreachEntry { (k, v) =>
      entries += ((k.getBytes(java.nio.charset.StandardCharsets.UTF_8), v))
    }
    val bb = ByteBuffer.allocate(4 + entries.map(12 + _._1.length).sum)
    bb.putInt(entries.size)
    entries.foreach { case (kb, v) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(v)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MgSummary = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new MgSummary(capacity)
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val kb = new Array[Byte](len)
      bb.get(kb)
      buf.counts(new String(kb, java.nio.charset.StandardCharsets.UTF_8)) = bb.getLong()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): FreqCandidates =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FreqCandidates =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqCandidates =
    copy(key = newChildren(0))
  override def prettyName: String = "freq_candidates"
}

/** Bounded distinct-bottom-k buffer for [[KmvBottomK]]: a sorted SET of
  * the k smallest doubles seen (duplicates collapse — KMV needs
  * DISTINCT order statistics). State is ≤ k doubles at every moment,
  * on the mapper, in the shuffle, and on the reducer. */
final class KmvBuf(val k: Int) {
  val set = new java.util.TreeSet[java.lang.Double]()
  def add(u: Double): Unit = {
    if (set.size < k) { set.add(u); () }
    else if (u < set.last()) {
      if (set.add(u)) { set.remove(set.last()); () }
    }
  }
}

/**
 * `kmv_bottomk(u, k)` — the KMV (k-minimum-values / bottom-k)
 * cardinality sketch over a uniform-hash column (Bar-Yossef et al.
 * 2002; Beyer et al. SIGMOD'07): the k smallest DISTINCT hash values,
 * from which distinct cardinality is `(k−1)/u_(k)` — and, unlike HLL
 * register banks, a sketch a SQL oracle can rebuild exactly (sort,
 * take k), so the estimate is hash-matchable, not rows-only. Bounded
 * state (k doubles) partial-aggregates map-side; merge is a set-merge
 * truncated to k; the result is the ascending value array.
 */
case class KmvBottomK(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuf] {

  require(k > 0, s"kmv_bottomk: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kmv_bottomk requires double, got ${child.dataType.catalogString}")
    }

  override def createAggregationBuffer(): KmvBuf = new KmvBuf(k)

  override def update(buf: KmvBuf, input: InternalRow): KmvBuf = {
    val u = child.eval(input)
    if (u != null) buf.add(u.asInstanceOf[Double])
    buf
  }

  override def merge(buf: KmvBuf, other: KmvBuf): KmvBuf = {
    val it = other.set.iterator()
    while (it.hasNext) buf.add(it.next())
    buf
  }

  override def eval(buf: KmvBuf): Any = {
    val out = new Array[Any](buf.set.size)
    val it = buf.set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().doubleValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: KmvBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.set.size * 8)
    bb.putInt(buf.set.size)
    val it = buf.set.iterator()
    while (it.hasNext) bb.putDouble(it.next().doubleValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new KmvBuf(k)
    var i = 0
    while (i < n) { buf.add(bb.getDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvBottomK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvBottomK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvBottomK =
    copy(child = newChildren(0))
  override def prettyName: String = "kmv_bottomk"
}
