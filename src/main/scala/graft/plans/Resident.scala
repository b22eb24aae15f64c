package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import org.apache.spark.{OneToOneDependency, Partition, SparkContext, StorageBridge, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

/**
 * The records of one scan partition, held resident for [[VectorTopK]]:
 * the vectors as one contiguous off-heap little-endian float region,
 * and every other column as a run of off-heap `UnsafeRow`s laid out as
 * the scan's rows with the vector field left null. Per row, `meta`
 * holds the vector's length (-1: a null vector) and the payload row's
 * size; rows are read in order. A null vector element is stored as 0,
 * as every kernel reads it, and listed in `nullElems` (row << 32 |
 * element) so that a returned row keeps it. `rows` < 0 marks a
 * partition too large for one block: it holds nothing, and its searches
 * score the scan.
 *
 * The buffers are GC-managed direct `ByteBuffer`s: a block that Spark
 * evicts is freed by the collector once no task still reads it. The
 * block reports its bytes to Spark's storage accounting.
 */
final class ResidentBlock private (val rows: Int, private[plans] val meta: ByteBuffer,
    private[plans] val vectors: ByteBuffer, private[plans] val payload: ByteBuffer,
    nullElems: Array[Long]) extends StorageBridge.Sized with Serializable {

  override def estimatedSize: Long = meta.capacity.toLong + vectors.capacity + payload.capacity +
    8L * nullElems.length + ResidentBlock.Header

  /** Row `r`'s vector, `n` floats of which `buf` holds a copy, as the
    * array the scan's row held: with its null elements. */
  private[plans] def vector(r: Int, buf: Array[Float], n: Int): ArrayData = {
    val first = java.util.Arrays.binarySearch(nullElems, r.toLong << 32) match {
      case at if at >= 0 => at
      case at => -at - 1
    }
    if (first == nullElems.length || (nullElems(first) >>> 32) != r) {
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf, n))
    } else {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) { out(i) = buf(i); i += 1 }
      var at = first
      while (at < nullElems.length && (nullElems(at) >>> 32) == r) { out(nullElems(at).toInt) = null; at += 1 }
      new GenericArrayData(out)
    }
  }

  // direct buffers do not serialize: a block fetched from another
  // executor travels as byte arrays
  private def writeReplace(): AnyRef = {
    def bytes(b: ByteBuffer) = { val a = new Array[Byte](b.capacity); b.get(0, a); a }
    ResidentBlock.Wire(rows, bytes(meta), bytes(vectors), bytes(payload), nullElems)
  }
}

object ResidentBlock {
  /** The object and its three buffers. */
  private[plans] val Header = 160L

  /** The most bytes one direct buffer holds. */
  private[plans] val MaxBuffer: Long = Int.MaxValue - 8

  private def direct(n: Int): ByteBuffer = ByteBuffer.allocateDirect(n).order(ByteOrder.LITTLE_ENDIAN)

  private final case class Wire(rows: Int, meta: Array[Byte], vectors: Array[Byte], payload: Array[Byte],
      nullElems: Array[Long]) {
    private def readResolve(): AnyRef = {
      def buf(a: Array[Byte]) = direct(a.length).put(0, a)
      new ResidentBlock(rows, buf(meta), buf(vectors), buf(payload), nullElems)
    }
  }

  /** Collects one partition's rows, laid out as `types` with the vector
    * (`array<float>`) at `embOrd`, on heap, and moves them into a
    * block's direct buffers; a partition whose floats, payload or
    * per-row lengths pass `limit` bytes gives the too-large block. */
  final class Builder(types: Seq[DataType], embOrd: Int, limit: Long = MaxBuffer) {
    private val project = UnsafeProjection.create(types.zipWithIndex.map { case (t, i) =>
      if (i == embOrd) Literal(null, t) else BoundReference(i, t, nullable = true)
    })
    private var meta = new Array[Int](1024)
    private var floats = new Array[Float](4096)
    private var bytes = new Array[Byte](4096)
    private var rows = 0
    private var nf = 0 // floats held
    private var nb = 0 // payload bytes held
    private var over = false
    private val nulls = Array.newBuilder[Long]

    /** The block of `records`, the scan's `ColumnarBatch`es or rows. */
    def fill(records: Iterator[Any]): ResidentBlock = {
      while (!over && records.hasNext) records.next() match {
        case batch: ColumnarBatch => addBatch(batch)
        case row: InternalRow => addRow(row)
      }
      if (over) new ResidentBlock(-1, direct(0), direct(0), direct(0), Array.emptyLongArray) else result()
    }

    private def addRow(row: InternalRow): Unit =
      add(row, if (row.isNullAt(embOrd)) null else row.getArray(embOrd), elementNulls = true)

    /** A batch whose element vector is known to hold no null copies
      * each row's floats in bulk. */
    private def addBatch(batch: ColumnarBatch): Unit = {
      val col = batch.column(embOrd)
      val elementNulls = col match {
        case w: WritableColumnVector => w.arrayData.numNulls > 0
        case _ => true
      }
      var r = 0
      while (!over && r < batch.numRows) {
        add(batch.getRow(r), if (col.isNullAt(r)) null else col.getArray(r), elementNulls)
        r += 1
      }
    }

    private def add(row: InternalRow, vec: ArrayData, elementNulls: Boolean): Unit = {
      val u = project(row)
      val p = u.getSizeInBytes
      val n = if (vec == null) -1 else vec.numElements()
      if (4L * (nf.toLong + math.max(n, 0)) > limit || nb.toLong + p > limit || 8L * (rows + 1) > limit) {
        over = true
        return
      }
      if (meta.length < 2 * rows + 2) meta = java.util.Arrays.copyOf(meta, 2 * meta.length)
      if (bytes.length < nb + p) bytes = java.util.Arrays.copyOf(bytes, grown(bytes.length, nb + p))
      u.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + nb)
      nb += p
      if (n > 0) {
        if (floats.length < nf + n) floats = java.util.Arrays.copyOf(floats, grown(floats.length, nf + n))
        if (elementNulls) {
          var i = 0
          while (i < n) {
            if (vec.isNullAt(i)) { floats(nf + i) = 0f; nulls += (rows.toLong << 32 | i) }
            else floats(nf + i) = vec.getFloat(i)
            i += 1
          }
        } else System.arraycopy(vec.toFloatArray(), 0, floats, nf, n)
        nf += n
      }
      meta(2 * rows) = n
      meta(2 * rows + 1) = p
      rows += 1
    }

    /** Doubled, or `need` if more; both are under 2^31 (`limit`). */
    private def grown(length: Int, need: Int): Int = math.max(math.min(2L * length, MaxBuffer).toInt, need)

    private def result(): ResidentBlock = {
      val m = direct(8 * rows)
      m.asIntBuffer().put(meta, 0, 2 * rows)
      val v = direct(4 * nf)
      v.asFloatBuffer().put(floats, 0, nf)
      val pl = direct(nb).put(0, bytes, 0, nb)
      new ResidentBlock(rows, m, v, pl, nulls.result())
    }
  }
}

/**
 * The resident form of one immutable `SemanticIndex` instance's
 * records: an `RDD[ResidentBlock]`, one block per scan partition,
 * persisted `MEMORY_ONLY`. The instance's first search builds it in the
 * same single-stage scan that answers that search; later searches read
 * the blocks and skip the scan. A block that is lost or evicted is
 * rebuilt from the scan's lineage by the next search, like any cached
 * partition; blocks unpersisted outright are built again from that
 * search's scan.
 *
 * A partition whose block was built but could not be cached (storage
 * memory too small for it) is not built again: its later searches score
 * the scan's rows directly, as a search without blocks would. So is a
 * partition too large for one block.
 *
 * The blocks are a snapshot: they hold what the first search read.
 */
final class Resident {
  private var built: Option[Resident.Built] = None

  /** One task per scan partition of the instance's records, each
    * running `score` on the partition's block (cached, or built now
    * from `scan`, laid out as `types` with the vector at `embOrd`) or,
    * where a block cannot be held, on the scan's records. `scan` is
    * used only when there are no blocks to read or rebuild. */
  private[plans] def scored(scan: => RDD[_], types: Seq[DataType], embOrd: Int)(
      score: Either[ResidentBlock, Iterator[Any]] => Iterator[InternalRow]): RDD[InternalRow] = synchronized {
    val b = built.filter(_.blocks.getStorageLevel != StorageLevel.NONE)
      .getOrElse(Resident.Built(scan, types, embOrd))
    built = Some(b)
    new Resident.Scored(b.blocks, b.scan, b.uncached, b.uncached.value.asScala.toSet, score)
  }

  /** The blocks' RDD, once a search has built it. */
  private[graft] def rdd: Option[RDD[ResidentBlock]] = synchronized(built.map(_.blocks))

  /** Blocks built from the scan so far, into the current RDD. */
  private[graft] def builds: Long = synchronized(built.fold(0L)(_.builds.value.longValue))

  /** Bytes the cached blocks hold now (0 before the first search). */
  def bytes(sc: SparkContext): Long =
    rdd.fold(0L)(r => StorageBridge.memoryBytes(sc, Set(r.id)).getOrElse(r.id, 0L))
}

object Resident {
  /** The name every resident blocks RDD carries. */
  val Name = "graft resident blocks"

  /** Bytes the cached blocks of every resident RDD hold now, by RDD id. */
  def bytesByRdd(sc: SparkContext): Map[Int, Long] = {
    val ids = sc.getPersistentRDDs.collect { case (id, r) if r.name == Name => id }.toSet
    if (ids.isEmpty) Map.empty else StorageBridge.memoryBytes(sc, ids)
  }

  /** The scan, the blocks built from it, how many were built, and the
    * partitions whose block was built but not cached. */
  private final case class Built(scan: RDD[_], blocks: RDD[ResidentBlock], builds: LongAccumulator,
      uncached: CollectionAccumulator[Int])

  private object Built {
    def apply(scan: RDD[_], types: Seq[DataType], embOrd: Int): Built = {
      val sc = scan.sparkContext
      val builds = sc.longAccumulator
      val blocks = scan.mapPartitions { (records: Iterator[Any]) =>
        builds.add(1)
        Iterator.single(new ResidentBlock.Builder(types, embOrd).fill(records))
      }.setName(Name).persist(StorageLevel.MEMORY_ONLY)
      Built(scan, blocks, builds, sc.collectionAccumulator[Int])
    }
  }

  /** A search's tasks: partition `i` reads its cached block; or builds
    * it (recording in `uncached` a block it could not cache); or, in
    * `streamed` or too large for a block, scores the scan's records. */
  private final class Scored(blocks: RDD[ResidentBlock], scan: RDD[_], uncached: CollectionAccumulator[Int],
      streamed: Set[Int], score: Either[ResidentBlock, Iterator[Any]] => Iterator[InternalRow])
      extends RDD[InternalRow](blocks.sparkContext,
        Seq(new OneToOneDependency(blocks), new OneToOneDependency(scan))) {
    override protected def getPartitions: Array[Partition] = blocks.partitions

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      def scanned = score(Right(scan.iterator(split, context)))
      if (streamed(split.index)) scanned
      else {
        val cached = StorageBridge.cachedHere(blocks, split.index)
        val block = blocks.iterator(split, context).next()
        if (!cached && !StorageBridge.cachedAnywhere(blocks, split.index)) uncached.add(split.index)
        if (block.rows < 0) scanned else score(Left(block))
      }
    }
  }
}
