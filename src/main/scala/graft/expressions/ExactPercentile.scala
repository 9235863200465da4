package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Primitive-buffer value→count histogram for [[ExactPercentile]]: open
  * addressing, linear probing, power-of-two capacity, no boxing.
  *
  * Keys are 64-bit encodings of the input values (raw longs for integral
  * children; `Double.doubleToLongBits` for double children — the SAME
  * canonicalization `java.lang.Double.equals` applies, so NaNs of any
  * payload collapse to one entry and −0.0/0.0 stay distinct, exactly as
  * the boxed-key `OpenHashMap` in Spark's own `Percentile` behaves).
  * A slot with count 0 is empty — every present entry has count ≥ 1. */
final class PctlCountMap(initialCapacity: Int = 64) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  var keys = new Array[Long](cap)
  var counts = new Array[Long](cap)
  var size = 0

  // Stafford variant 13 of the SplitMix64 finalizer — good avalanche on
  // both sequential longs and double bit patterns
  private def hash(k: Long): Int = {
    var z = k
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)).toInt
  }

  def add(k: Long, c: Long): Unit = {
    if ((size + 1) * 10 >= cap * 7) grow()
    var i = hash(k) & (cap - 1)
    while (counts(i) != 0 && keys(i) != k) i = (i + 1) & (cap - 1)
    if (counts(i) == 0) { keys(i) = k; size += 1 }
    counts(i) += c
  }

  private def grow(): Unit = {
    val oldKeys = keys; val oldCounts = counts; val oldCap = cap
    cap <<= 1
    keys = new Array[Long](cap)
    counts = new Array[Long](cap)
    var j = 0
    while (j < oldCap) {
      if (oldCounts(j) != 0) {
        var i = hash(oldKeys(j)) & (cap - 1)
        while (counts(i) != 0) i = (i + 1) & (cap - 1)
        keys(i) = oldKeys(j); counts(i) = oldCounts(j)
      }
      j += 1
    }
  }

  /** (keys, counts) of the present entries, densely packed, unsorted. */
  def entries(): (Array[Long], Array[Long]) = {
    val ks = new Array[Long](size); val cs = new Array[Long](size)
    var i = 0; var o = 0
    while (i < cap) {
      if (counts(i) != 0) { ks(o) = keys(i); cs(o) = counts(i); o += 1 }
      i += 1
    }
    (ks, cs)
  }
}

/** `graft_percentile(col, p)` — bit-exact drop-in for Spark's built-in
  * `percentile(col, p)` (and `median`) over LONG/INT/DOUBLE children,
  * without the built-in's boxed per-row path.
  *
  * Why a kernel (optimization guide §4: eliminate non-codegen hot paths):
  * Spark's `Percentile` is an `ImperativeAggregate` whose per-row update
  * boxes the value into an `OpenHashMap[AnyRef, Long]` through generic
  * hashing and closure-allocating `changeValue` calls — measured ~0.5M
  * values/s on the q_scale_robust fit (2×600k doubles ≈ 2 s of the row's
  * 2.4 s cert steady). This kernel keeps the identical algorithm —
  * per-partition value→count histogram, merge, sort once, rank-select
  * with linear interpolation — on primitive arrays.
  *
  * Bit-parity contract with the built-in, field by field (verified
  * against the Spark 4.1.2 `PercentileBase` bytecode and pinned by
  * `ExactPercentileSpec` on adversarial fixtures):
  *  - entries sorted by `PhysicalDataType.ordering(child.dataType)`
  *    (for doubles: `java.lang.Double.compare` — NaN greatest,
  *    −0.0 < 0.0), reproduced here by sorting integral keys as longs
  *    and double keys via `Arrays.sort(double[])` (same total order,
  *    with all NaNs already canonicalized to ONE key by the bit
  *    encoding, exactly like boxed `Double.equals` collapses them);
  *  - `position = p · (Σcounts − 1)` in double; `lower = ⌊position⌋`,
  *    `higher = ⌈position⌉`;
  *  - rank lookup by binary search over the cumulative-count array
  *    (strictly increasing — counts ≥ 1 — so any-match semantics equal
  *    Spark's `binarySearchCount`);
  *  - `higher == lower` → the lower VALUE as double;
  *  - `lowerKey == higherKey` under BOXED equality (for doubles:
  *    `doubleToLongBits` equality ≡ our key equality; NaN == NaN true,
  *    −0.0 == 0.0 false) → the lower value;
  *  - else `(higher − position) · lower + (position − lower) · higher`,
  *    evaluated in exactly that operation order;
  *  - empty input (no non-null rows) → NULL (scalar and array forms both);
  *  - percentage may be a foldable double or array<double> literal in
  *    [0,1]; array form returns array<double> of the per-p results.
  *
  * Scale shape: identical to the built-in — per-partition partial
  * histograms (bytes ∝ distinct values, NOT rows), one merge, selection
  * on the final buffer. Same honest bound too: a continuous column's
  * histogram is O(distinct); at extreme scale the documented escalation
  * is `approx_percentile` with a tolerance, never silently. */
/** Call-site dispatch for [[ExactPercentile]] — same session contract as
  * `Ann.int8Report` (kernel when `graft_percentile` is registered on the
  * ACTIVE session at column-construction time, built-in `percentile`
  * otherwise; the two are bit-identical, so a fallback is never a wrong
  * answer, only the slower plan). The caller passes the VALUE column's
  * data type: the kernel handles long/int/double children only, and a
  * Column alone cannot be type-checked here — unsupported types (decimal,
  * float, date) stay on the built-in. */
object ExactPercentiles {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{call_function, percentile}

  def isSupported(dt: DataType): Boolean = dt match {
    case DoubleType | LongType | IntegerType => true
    case _ => false
  }

  def pctl(value: Column, percentage: Column, dt: DataType): Column =
    SparkSession.getActiveSession
      .filter(s => isSupported(dt) && scala.util.Try(
        s.catalog.functionExists("graft_percentile")).getOrElse(false))
      .map(_ => call_function("graft_percentile", value, percentage))
      .getOrElse(percentile(value, percentage))

  /** Dispatch checked against the DataFrame's OWN session — the session
    * the column will be analyzed in. Prefer this overload whenever the
    * frame is in hand (r18 ADVICE item 3): in a multi-session app the
    * active session can have the kernel registered while
    * `df.sparkSession` does not, which would fail analysis instead of
    * falling back. */
  def pctl(df: DataFrame, value: Column, percentage: Column,
           dt: DataType): Column =
    if (isSupported(dt) && scala.util.Try(df.sparkSession.catalog
      .functionExists("graft_percentile")).getOrElse(false))
      call_function("graft_percentile", value, percentage)
    else percentile(value, percentage)
}

case class ExactPercentile(
    child: Expression,
    percentageExpression: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PctlCountMap] with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = percentageExpression
  override def prettyName: String = "graft_percentile"
  override def nullable: Boolean = true

  private lazy val isDoubleChild = child.dataType == DoubleType

  private lazy val returnArray =
    percentageExpression.dataType.isInstanceOf[ArrayType]

  @transient private lazy val percentages: Array[Double] =
    percentageExpression.eval() match {
      case null => Array.empty
      case d: Double => Array(d)
      case arr: ArrayData => arr.toDoubleArray()
      case other => throw new IllegalStateException(
        s"unexpected percentage literal: $other")
    }

  override def checkInputDataTypes(): TypeCheckResult = {
    val childOk = child.dataType match {
      case LongType | IntegerType | DoubleType => true
      case _ => false
    }
    if (!childOk)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a long/int/double value column, got " +
          child.dataType.simpleString)
    else if (!percentageExpression.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName percentage must be a literal")
    else percentageExpression.dataType match {
      case DoubleType | ArrayType(DoubleType, _) =>
        // a NULL percentage literal (scalar OR array) folds to an empty
        // `percentages` and would otherwise crash (results.head) or
        // return an empty array at eval — reject at analysis like the
        // built-in Percentile does (r18 ADVICE item 1)
        // ... and so is a null ELEMENT of an array literal, which
        // toDoubleArray would unbox to a silent 0.0 (the built-in does
        // exactly that and returns the minimum; the kernel fails loudly)
        val pct = percentageExpression.eval()
        val nullElement = pct match {
          case arr: ArrayData => (0 until arr.numElements()).exists(arr.isNullAt)
          case _ => false
        }
        if (pct == null || nullElement)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName percentage must not be null")
        else if (percentages.forall(p => p >= 0.0 && p <= 1.0))
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName percentages must be in [0, 1]")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName percentage must be double or array<double>, got " +
          other.simpleString)
    }
  }

  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false)
    else DoubleType

  override def createAggregationBuffer(): PctlCountMap = new PctlCountMap()

  override def update(buf: PctlCountMap, input: InternalRow): PctlCountMap = {
    val v = child.eval(input)
    if (v != null) {
      val key = v match {
        case d: java.lang.Double =>
          java.lang.Double.doubleToLongBits(d.doubleValue)
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
        case other => throw new IllegalStateException(
          s"unexpected child value: $other")
      }
      buf.add(key, 1L)
    }
    buf
  }

  override def merge(b1: PctlCountMap, b2: PctlCountMap): PctlCountMap = {
    val (ks, cs) = b2.entries()
    var i = 0
    while (i < ks.length) { b1.add(ks(i), cs(i)); i += 1 }
    b1
  }

  override def eval(buf: PctlCountMap): Any = {
    if (buf.size == 0) return null
    val (ks, cs) = buf.entries()
    val n = ks.length
    // Sort entries by VALUE order (not key-bit order): indirect sort on a
    // decorated (sortKey, index) pair. For doubles the sort key is the
    // standard order-preserving bits transform — keep non-negative bit
    // patterns, flip all non-sign bits of negative ones — compared as
    // signed longs: the same total order as java.lang.Double.compare,
    // including −0.0 < +0.0 and NaN (canonical bits, positive) greatest.
    // For integral children the key already IS the value. The transform
    // is injective, and map keys are unique, so ties cannot occur.
    val decorated = new Array[Long](n)
    var i = 0
    while (i < n) {
      val k = ks(i)
      decorated(i) =
        if (isDoubleChild) { if (k >= 0L) k else k ^ 0x7fffffffffffffffL }
        else k
      i += 1
    }
    val idx = Array.range(0, n)
    sortPairs(decorated, idx)
    val totalCount = {
      var s = 0L; var j = 0
      while (j < n) { s += cs(j); j += 1 }
      s
    }
    val cum = new Array[Long](n)
    var acc = 0L
    i = 0
    while (i < n) { acc += cs(idx(i)); cum(i) = acc; i += 1 }
    def valueAt(sortedPos: Int): Double = {
      val k = ks(idx(sortedPos))
      if (isDoubleChild) java.lang.Double.longBitsToDouble(k) else k.toDouble
    }
    def one(p: Double): Double = {
      val position = p * (totalCount - 1)
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      val lowerIndex = searchCum(cum, lower + 1)
      if (higher == lower) return valueAt(lowerIndex)
      val higherIndex = searchCum(cum, higher + 1)
      // The built-in's key equality is BoxesRunTime.equals = SCALA ==,
      // i.e. PRIMITIVE semantics on the ORIGINAL values: for doubles
      // −0.0 == 0.0 is TRUE (adjacent distinct map entries → return the
      // LOWER, −0.0, not an interpolation; NaN never faces itself — all
      // NaNs collapse to one map entry). For integral children compare
      // the raw longs, NOT their double images: beyond 2^53 two distinct
      // longs share a double and the built-in still interpolates them.
      // Spec-pinned in ExactPercentileSpec (signed zeros; ±2^63 longs).
      val lowerVal = valueAt(lowerIndex)
      val higherVal = valueAt(higherIndex)
      val equalKeys =
        if (isDoubleChild) lowerVal == higherVal
        else ks(idx(lowerIndex)) == ks(idx(higherIndex))
      if (equalKeys) return lowerVal
      (higher - position) * lowerVal + (position - lower) * higherVal
    }
    val results = percentages.map(one)
    if (returnArray) new GenericArrayData(results) else results.head
  }

  /** First index whose cumulative count ≥ target (cum strictly
    * increasing), via the same Arrays.binarySearch + insertion-point
    * recovery as Spark's binarySearchCount. */
  private def searchCum(cum: Array[Long], target: Long): Int = {
    val r = java.util.Arrays.binarySearch(cum, 0, cum.length, target)
    if (r < 0) -(r + 1) else r
  }

  /** In-place merge sort of `keys` with `idx` permuted in lockstep. */
  private def sortPairs(sortKeys: Array[Long], idx: Array[Int]): Unit = {
    val n = sortKeys.length
    val tmpK = new Array[Long](n); val tmpI = new Array[Int](n)
    def msort(lo: Int, hi: Int): Unit = {
      if (hi - lo <= 1) return
      val mid = (lo + hi) >>> 1
      msort(lo, mid); msort(mid, hi)
      var i = lo; var j = mid; var o = lo
      while (i < mid && j < hi) {
        if (sortKeys(i) <= sortKeys(j)) {
          tmpK(o) = sortKeys(i); tmpI(o) = idx(i); i += 1
        } else { tmpK(o) = sortKeys(j); tmpI(o) = idx(j); j += 1 }
        o += 1
      }
      while (i < mid) { tmpK(o) = sortKeys(i); tmpI(o) = idx(i); i += 1; o += 1 }
      while (j < hi) { tmpK(o) = sortKeys(j); tmpI(o) = idx(j); j += 1; o += 1 }
      System.arraycopy(tmpK, lo, sortKeys, lo, hi - lo)
      System.arraycopy(tmpI, lo, idx, lo, hi - lo)
    }
    msort(0, n)
  }

  override def serialize(buf: PctlCountMap): Array[Byte] = {
    val (ks, cs) = buf.entries()
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * ks.length)
    bb.putInt(ks.length)
    var i = 0
    while (i < ks.length) { bb.putLong(ks(i)); bb.putLong(cs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PctlCountMap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = new PctlCountMap(math.max(n * 2, 16))
    var i = 0
    while (i < n) { m.add(bb.getLong, bb.getLong); i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(off: Int): ExactPercentile =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): ExactPercentile =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactPercentile =
    copy(child = newLeft, percentageExpression = newRight)
}
