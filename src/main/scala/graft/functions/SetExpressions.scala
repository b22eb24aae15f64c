package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.sql.types._

/**
 * Exact-membership set over 128-bit (two-long) fingerprints — the
 * dictionary side of [[graft.queries.DedupQueries.linesDedup]]'s
 * boilerplate probe. Open-addressing with linear probing over two
 * parallel long arrays (16 B/entry + 1 B occupancy), so a 4 M-entry
 * hot-line dictionary is ~68 MB in the task closure — broadcast-table
 * ballpark — and each probe is O(1) array reads, where the previous
 * `array_contains` formulation was a full O(|dict|) linear scan per
 * line. Immutable once built (the builder adds, executors only probe),
 * hence safely shared across codegen'd tasks.
 */
final class LongPairSet private (capacity: Int) extends Serializable {
  private val mask = capacity - 1
  private val k1 = new Array[Long](capacity)
  private val k2 = new Array[Long](capacity)
  private val used = new Array[Boolean](capacity)
  private var n = 0

  private def slot(a: Long, b: Long): Int = {
    var h = a * 0x9E3779B97F4A7C15L + java.lang.Long.rotateLeft(b, 31)
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 29
    (h & mask).toInt
  }

  def add(a: Long, b: Long): Unit = {
    require(n < capacity, "LongPairSet over capacity")
    var i = slot(a, b)
    while (used(i)) {
      if (k1(i) == a && k2(i) == b) return
      i = (i + 1) & mask
    }
    used(i) = true; k1(i) = a; k2(i) = b; n += 1
  }

  def contains(a: Long, b: Long): Boolean = {
    var i = slot(a, b)
    while (used(i)) {
      if (k1(i) == a && k2(i) == b) return true
      i = (i + 1) & mask
    }
    false
  }

  def size: Int = n

  /** The first key of every entry — the persistence surface for
    * single-long sets stored as `(e, e)` (e.g. the frozen hot-element
    * order of [[graft.index.DedupIndex]]). O(capacity) scan; callers
    * persist once at build time, never on the probe path. */
  def elements1: Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var i = 0
    while (i < used.length) { if (used(i)) out += k1(i); i += 1 }
    out.result()
  }
}

object LongPairSet {
  /** Capacity 2× the expected count (load factor ≤ 0.5) rounded to a
    * power of two, so linear-probe chains stay O(1) expected. */
  def apply(expected: Int): LongPairSet = {
    var cap = 8
    while (cap < expected * 2) cap <<= 1
    new LongPairSet(cap)
  }
}

/**
 * `pair_set_contains(fp1, fp2)` — O(1) probe of a plan-time
 * [[LongPairSet]]. Like [[BloomMightContain]] the set is a runtime
 * object (built from the corpus' actual hot lines), so it bypasses the
 * function registry and rides the task closure as a codegen reference
 * object; unlike a Bloom filter the answer is EXACT — membership of
 * the 128-bit fingerprint, no false positives — which is what lets
 * linesDedup's rebuild delete lines without a verification join.
 */
/**
 * Long → int open-addressing map (linear probing, parallel arrays) —
 * the frozen element dictionary of the dense-universe exact-Jaccard
 * regime ([[graft.operators.DenseJaccard]]): element fingerprint →
 * bit index. Immutable once built; shared across codegen'd tasks as a
 * closure reference object.
 */
final class LongIntMap private (capacity: Int) extends Serializable {
  private val mask = capacity - 1
  private val keys = new Array[Long](capacity)
  private val vals = new Array[Int](capacity)
  private val used = new Array[Boolean](capacity)
  private var n = 0

  private def slot(k: Long): Int = {
    var h = k * 0x9E3779B97F4A7C15L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 29
    (h & mask).toInt
  }

  def put(k: Long, v: Int): Unit = {
    require(n < capacity, "LongIntMap over capacity")
    var i = slot(k)
    while (used(i)) {
      if (keys(i) == k) { vals(i) = v; return }
      i = (i + 1) & mask
    }
    used(i) = true; keys(i) = k; vals(i) = v; n += 1
  }

  /** The mapped value, or -1 (no negative values are ever stored). */
  def get(k: Long): Int = {
    var i = slot(k)
    while (used(i)) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    -1
  }

  def size: Int = n
}

object LongIntMap {
  def apply(expected: Int): LongIntMap = {
    var cap = 8
    while (cap < expected * 2) cap <<= 1
    new LongIntMap(cap)
  }
}

/**
 * `dict_bitmap(els)` — pack an `array<bigint>` of element fingerprints
 * into a fixed-width byte bitmap through a plan-time [[LongIntMap]]
 * dictionary. Elements absent from the dictionary set no bit (the
 * probe-side contract: they cannot intersect any dictionary-covered
 * set, and the true set SIZE rides in a separate column, so exact
 * Jaccard survives out-of-dictionary elements). Null input → null.
 */
case class DictBitmap(child: Expression, dict: LongIntMap, widthBytes: Int)
    extends UnaryExpression {
  override def prettyName: String = "dict_bitmap"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dict_bitmap requires array<bigint>, got ${t.catalogString}")
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val out = new Array[Byte](widthBytes)
    var i = 0
    while (i < arr.numElements()) {
      val idx = dict.get(arr.getLong(i))
      if (idx >= 0) out(idx >> 3) = (out(idx >> 3) | (1 << (idx & 7))).toByte
      i += 1
    }
    out
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dict", dict, classOf[LongIntMap].getName)
    // fresh names: the enclosing generated method may already declare
    // an `i` (Janino rejects the redefinition)
    val (out, i, idx) = (ctx.freshName("out"), ctx.freshName("i"), ctx.freshName("idx"))
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |byte[] $out = new byte[$widthBytes];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  int $idx = $ref.get($a.getLong($i));
         |  if ($idx >= 0) $out[$idx >> 3] = (byte)($out[$idx >> 3] | (1 << ($idx & 7)));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): DictBitmap =
    copy(child = c)
}

/**
 * `bitmap_and_count(a, b)` — popcount of the bitwise AND of two byte
 * bitmaps (8-byte strides, tail byte-wise; widths may differ — the
 * excess of the longer bitmap ANDs with implicit zeros). The inner
 * kernel of the dense-regime pair scan: one call decides a candidate
 * pair, replacing thousands of posting-join rows.
 */
case class BitmapAndCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "bitmap_and_count"
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bitmap_and_count requires (binary, binary), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapAndCount.count(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BitmapAndCount.count($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndCount =
    copy(left = newLeft, right = newRight)
}

object BitmapAndCount {
  private val BYTE_OFS = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  /** Shared by interpreted eval and codegen (one definition of truth). */
  def count(a: Array[Byte], b: Array[Byte]): Int = {
    val m = math.min(a.length, b.length)
    var c = 0
    var i = 0
    while (i + 8 <= m) {
      c += java.lang.Long.bitCount(
        org.apache.spark.unsafe.Platform.getLong(a, BYTE_OFS + i) &
          org.apache.spark.unsafe.Platform.getLong(b, BYTE_OFS + i))
      i += 8
    }
    while (i < m) {
      c += java.lang.Integer.bitCount((a(i) & b(i)) & 0xFF)
      i += 1
    }
    c
  }
}

case class PairSetContains(left: Expression, right: Expression,
    set: LongPairSet) extends BinaryExpression {
  override def prettyName: String = "pair_set_contains"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pair_set_contains requires (bigint, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    set.contains(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pairSet", set, classOf[LongPairSet].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.contains($a, $b);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PairSetContains =
    copy(left = newLeft, right = newRight)
}

/**
 * `set_jaccard(a, b)` — exact Jaccard similarity |A∩B| / |A∪B| of two
 * arrays read as sets (a repeated element counts once, null counts as
 * one element): the verify kernel of every set-dedup path. One pass per
 * side: A's distinct elements go into an open-addressing table, each B
 * element probes it once (B-only elements join the table, so B's
 * repeats dedupe too), and |A∪B| = |A| + |B| − |A∩B| over the distinct
 * counts. The `size(array_intersect) / size(array_union)` formulation
 * it replaces built two hash sets and two result arrays per pair. Two
 * empty arrays have no union: the result is null, or the ANSI
 * divide-by-zero error when `failOnEmpty` (taken from
 * `spark.sql.ansi.enabled` when the expression is built) — the outcome
 * of the division it replaces. A null array gives null. Elements are
 * strings (binary collation) or integers, the same type on both sides.
 */
case class SetJaccard(left: Expression, right: Expression, failOnEmpty: Boolean)
    extends BinaryExpression {
  override def prettyName: String = "set_jaccard"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private lazy val kind: Int = left.dataType match {
    case ArrayType(et, _) => SetJaccard.kindOf(et)
    case _ => -1
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if l == r && SetJaccard.kindOf(l) >= 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "set_jaccard requires two arrays of the same string or integer element " +
          s"type, got (${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val j = SetJaccard.ratio(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], kind)
    if (!j.isNaN) j
    else if (failOnEmpty) throw org.apache.spark.sql.GraftSqlBridge.divideByZero()
    else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val j = ctx.freshName("j")
      val empty =
        if (failOnEmpty) "throw org.apache.spark.sql.GraftSqlBridge.divideByZero();"
        else s"${ev.isNull} = true;"
      s"""
         |double $j = graft.functions.SetJaccard.ratio($a, $b, $kind);
         |if (Double.isNaN($j)) { $empty } else { ${ev.value} = $j; }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SetJaccard =
    copy(left = newLeft, right = newRight)
}

object SetJaccard {
  /** Element kind: 0 string, 1 byte, 2 short, 3 int, 4 long; -1 unsupported. */
  def kindOf(dt: DataType): Int = dt match {
    case StringType => 0 // the binary collation only
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 3
    case LongType => 4
    case _ => -1
  }

  private def long(x: ArrayData, i: Int, kind: Int): Long = kind match {
    case 1 => x.getByte(i).toLong
    case 2 => x.getShort(i).toLong
    case 3 => x.getInt(i).toLong
    case _ => x.getLong(i)
  }

  // strings of an UnsafeArrayData are read in place: the element's
  // offset-and-size word locates its bytes, so no UTF8String is built
  private def hash(x: ArrayData, i: Int, kind: Int): Int =
    if (kind != 0) {
      var h = long(x, i, kind) * 0x9E3779B97F4A7C15L
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 29
      h.toInt
    } else x match {
      case u: UnsafeArrayData =>
        val os = u.getLong(i)
        Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset + (os >> 32),
          os.toInt, 42)
      case _ => x.getUTF8String(i).hashCode()
    }

  private def same(x: ArrayData, i: Int, y: ArrayData, j: Int, kind: Int): Boolean =
    if (kind != 0) long(x, i, kind) == long(y, j, kind)
    else (x, y) match {
      case (u: UnsafeArrayData, v: UnsafeArrayData) =>
        val os = u.getLong(i)
        val ot = v.getLong(j)
        os.toInt == ot.toInt && ByteArrayMethods.arrayEquals(
          u.getBaseObject, u.getBaseOffset + (os >> 32),
          v.getBaseObject, v.getBaseOffset + (ot >> 32), os.toInt)
      case _ => x.getUTF8String(i) == y.getUTF8String(j)
    }

  /** |A∩B| / |A∪B| of two non-null arrays, NaN when both are empty.
    * Shared by interpreted eval and codegen. */
  def ratio(a: ArrayData, b: ArrayData, kind: Int): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var cap = 16
    while (cap < 2 * (na + nb)) cap <<= 1
    val mask = cap - 1
    // slot entry: i + 1 for A's element i, -(j + 1) for B's element j
    // (absent from A), 0 for empty; hashes short-cut the equality test
    val entry = new Array[Int](cap)
    val hashes = new Array[Int](cap)
    val hit = new Array[Boolean](cap)
    var distinctA = 0
    var onlyB = 0
    var inter = 0
    var nullA = false
    var nullB = false
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) nullA = true
      else {
        val h = hash(a, i, kind)
        var s = h & mask
        while (entry(s) != 0 && !(hashes(s) == h && same(a, entry(s) - 1, a, i, kind)))
          s = (s + 1) & mask
        if (entry(s) == 0) { entry(s) = i + 1; hashes(s) = h; distinctA += 1 }
      }
      i += 1
    }
    var j = 0
    while (j < nb) {
      if (b.isNullAt(j)) nullB = true
      else {
        val h = hash(b, j, kind)
        var s = h & mask
        var e = entry(s)
        while (e != 0 && !(hashes(s) == h &&
            (if (e > 0) same(a, e - 1, b, j, kind) else same(b, -e - 1, b, j, kind)))) {
          s = (s + 1) & mask
          e = entry(s)
        }
        if (e == 0) { entry(s) = -(j + 1); hashes(s) = h; onlyB += 1 }
        else if (e > 0 && !hit(s)) { hit(s) = true; inter += 1 }
      }
      j += 1
    }
    if (nullA && nullB) inter += 1
    val union = distinctA + onlyB + (if (nullA || nullB) 1 else 0)
    if (union == 0) Double.NaN else inter.toDouble / union
  }
}
