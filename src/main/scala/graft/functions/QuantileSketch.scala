package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Mergeable KLL-style quantile-sketch buffer: a ladder of value
  * arrays where level `i` holds items of weight `2^i`. Updates land in
  * level 0; a level that reaches its capacity `k` is sorted and HALVED
  * — every other element (alternating start parity per compaction, the
  * deterministic KLL variant) survives into the level above at double
  * weight. Memory is O(k·log(n/k)) doubles per group regardless of n;
  * merge concatenates level-wise and re-compacts, so the aggregate is
  * associative the way a shuffle needs.
  *
  * Rank error: each compaction of level i perturbs any rank by at most
  * 2^i; with alternating parities the signed errors telescope, giving
  * the usual KLL-in-practice accuracy (≲ 1/k relative rank error —
  * QuantileSketchSpec measures it against the exact-rank operator on
  * the sf-series data and pins ε). Because merge ORDER across shuffle
  * partitions is not fixed, results are ε-reproducible, not
  * byte-stable — this is the documented trade of the sketch path; the
  * exact operators stay the oracle surface.
  */
private[graft] final class KllBuffer(val k: Int) {
  var count: Long = 0L
  /** level i: items of weight 2^i; UNSORTED between compactions. */
  val levels: ArrayBuffer[DoubleVec] =
    ArrayBuffer(new DoubleVec(16))
  /** per-level alternation bit for the deterministic compaction. */
  val parities: ArrayBuffer[Boolean] = ArrayBuffer(false)

  def add(v: Double): Unit = {
    levels(0) += v
    count += 1L
    if (levels(0).length >= k) compact(0)
  }

  /** Weighted insert: a weight-`w` item is the binary decomposition of
    * `w` across the ladder — one copy of `v` at every level `i` whose
    * bit is set in `w` (level `i` items carry weight `2^i`), so the
    * insert itself is EXACT (total inserted weight is exactly `w` and
    * no rank moves); only compactions perturb ranks, the same ±2^i per
    * compaction as the unweighted path, giving the same ≈1/k rank
    * error measured in WEIGHT. Cost: popcount(w) ≤ 64 appends, no
    * expansion of the multiset. */
  def addWeighted(v: Double, w: Long): Unit = {
    require(w > 0L, s"KllBuffer.addWeighted: weight must be positive, got $w")
    count += w
    var rem = w
    var i = 0
    while (rem != 0L) {
      if ((rem & 1L) == 1L) {
        while (i >= levels.length) {
          levels += new DoubleVec(16)
          parities += false
        }
        levels(i) += v
        if (levels(i).length >= k) compact(i)
      }
      rem >>>= 1
      i += 1
    }
  }

  /** Sort level `i`, push every other element (starting at the level's
    * parity) one level up at doubled weight, clear level `i`. An odd
    * element count leaves the LAST (largest) element behind — a
    * deterministic choice that never moves weight across the value
    * line. Cascades if the level above fills. */
  private def compact(i: Int): Unit = {
    if (i + 1 >= levels.length) {
      levels += new DoubleVec(16)
      parities += false
    }
    val buf = levels(i)
    val sorted = buf.toArray
    java.util.Arrays.sort(sorted)
    val even = sorted.length - (sorted.length % 2)
    val start = if (parities(i)) 1 else 0
    parities(i) = !parities(i)
    val up = levels(i + 1)
    var j = start
    while (j < even) { up += sorted(j); j += 2 }
    buf.clear()
    if (even < sorted.length) buf += sorted(sorted.length - 1)
    if (up.length >= k) compact(i + 1)
  }

  def merge(other: KllBuffer): KllBuffer = {
    count += other.count
    var i = 0
    while (i < other.levels.length) {
      if (i >= levels.length) {
        levels += new DoubleVec(16)
        parities += false
      }
      levels(i).appendAll(other.levels(i))
      i += 1
    }
    // re-establish capacities bottom-up (a concat can overfill several)
    i = 0
    while (i < levels.length) {
      if (levels(i).length >= k) compact(i)
      i += 1
    }
    this
  }

  /** INTERPOLATED quantiles in sketch-weight space — the sketch
    * analogue of `percentile`/`quantile_cont`'s lerp semantics (the
    * exact-rank [[quantiles]] is the `min(v) where cum >= k` probe):
    * pos = (W−1)·p, bracket order statistics at ranks ⌊pos⌋+1 / ⌈pos⌉+1
    * of the weighted multiset, then v_lo + (pos−⌊pos⌋)·(v_hi−v_lo) in
    * the aggregate's operand order (the x_percentiles parity form). In
    * the no-compaction regime this IS `quantile_cont` over the expanded
    * multiset bit-for-bit; beyond it the bracketing ranks carry the
    * sketch's ≈1/k rank error. */
  def interpolated(ps: Seq[Double]): Array[Double] = {
    var m = 0
    levels.foreach(m += _.length)
    if (m == 0)
      throw new IllegalArgumentException(
        "KLL sketch is empty (no values) — quantiles are undefined; " +
          "readers should treat an empty sketch as NULL")
    val vs = new Array[Double](m)
    val ws = new Array[Long](m)
    var o = 0
    var i = 0
    while (i < levels.length) {
      val w = 1L << i
      val lvl = levels(i)
      var j0 = 0
      while (j0 < lvl.length) { vs(o) = lvl(j0); ws(o) = w; o += 1; j0 += 1 }
      i += 1
    }
    val idx = Array.range(0, m).sortBy(vs(_))
    // the sorted cumulative-weight array is built ONCE (cum(j) = weight
    // of the first j+1 sorted items); each order statistic is then a
    // binary search for the first j with cum(j) >= r — O(m log m + |ps|
    // log m) total, not a fresh O(m) rescan per bracketing rank
    val cum = new Array[Long](m)
    var acc = 0L
    var j = 0
    while (j < m) { acc += ws(idx(j)); cum(j) = acc; j += 1 }
    val totalW = acc
    // first index whose cumulative weight reaches r (cum is strictly
    // increasing — weights are positive — so lower bound is exact)
    def orderStat(r: Long): Double = {
      var lo = 0
      var hi = m - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) >= r) hi = mid else lo = mid + 1
      }
      vs(idx(lo))
    }
    ps.toArray.map { p =>
      val pos = (totalW - 1).toDouble * p
      val lo = orderStat(math.floor(pos).toLong + 1L)
      val hi = orderStat(math.ceil(pos).toLong + 1L)
      lo + (pos - math.floor(pos)) * (hi - lo)
    }
  }

  /** Value whose sketched cumulative weight first reaches rank
    * `ceil(p·count)` — the sketch analogue of the exact-rank operators'
    * `min(v) where cum >= k` probe. */
  def quantiles(ps: Seq[Double]): Array[Double] = {
    var m = 0
    levels.foreach(m += _.length)
    if (m == 0)
      throw new IllegalArgumentException(
        "KLL sketch is empty (no values) — quantiles are undefined; " +
          "readers should treat an empty sketch as NULL")
    val vs = new Array[Double](m)
    val ws = new Array[Long](m)
    var o = 0
    var i = 0
    while (i < levels.length) {
      val w = 1L << i
      val lvl = levels(i)
      var j0 = 0
      while (j0 < lvl.length) { vs(o) = lvl(j0); ws(o) = w; o += 1; j0 += 1 }
      i += 1
    }
    val idx = Array.range(0, m).sortBy(vs(_))
    val totalW = ws.sum
    ps.toArray.map { p =>
      // ranks in SKETCH weight (totalW can drift ±(levels) from count
      // via odd-count leftovers; using totalW keeps p=1.0 exact-max)
      val target = math.max(1L, math.ceil(p * totalW).toLong)
      var acc = 0L
      var j = 0
      var out = vs(idx(m - 1))
      var found = false
      while (j < m && !found) {
        acc += ws(idx(j))
        if (acc >= target) { out = vs(idx(j)); found = true }
        j += 1
      }
      out
    }
  }
}

private[graft] object KllBuffer {

  /** Wire format (k, count, levels with parity bits) — shared by the
    * aggregate's shuffle serialization and the streaming rolling-
    * quantile state ([[graft.streaming.TwsQuantiles]]); self-contained
    * (k travels in the bytes), so a reader needs no side channel. */
  def toBytes(buf: KllBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeLong(buf.count)
    out.writeInt(buf.levels.length)
    var i = 0
    while (i < buf.levels.length) {
      out.writeBoolean(buf.parities(i))
      val lvl = buf.levels(i)
      out.writeInt(lvl.length)
      var j = 0
      while (j < lvl.length) { out.writeDouble(lvl(j)); j += 1 }
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): KllBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new KllBuffer(in.readInt())
    buf.count = in.readLong()
    val nLevels = in.readInt()
    buf.levels.clear(); buf.parities.clear()
    var i = 0
    while (i < nLevels) {
      buf.parities += in.readBoolean()
      val sz = in.readInt()
      val lvl = new DoubleVec(math.max(16, sz))
      var j = 0
      while (j < sz) { lvl += in.readDouble(); j += 1 }
      buf.levels += lvl
      i += 1
    }
    buf
  }
}

/** Minimal growable PRIMITIVE double array — the KLL level buffer.
  * `ArrayBuffer[Double]` boxes every element (one heap object per
  * appended value), which dominated the sketch aggregates' per-row
  * update cost: in the exact-no-compaction oracle regime (k = 65536)
  * level 0 holds EVERY value of the group, so each row allocated a
  * `java.lang.Double` on the hot path, each compaction unboxed k of
  * them, and serialize/deserialize re-boxed each element (guide §1.2
  * step 2: per-task work). Append order, clear semantics and growth
  * behaviour match the ArrayBuffer it replaces, so compaction parity,
  * merge concatenation order and the wire format are byte-identical. */
private[graft] final class DoubleVec(initialCapacity: Int) {
  private var arr: Array[Double] = new Array[Double](math.max(1, initialCapacity))
  private var len: Int = 0

  def +=(v: Double): Unit = {
    if (len == arr.length)
      arr = java.util.Arrays.copyOf(arr, arr.length << 1)
    arr(len) = v
    len += 1
  }

  def appendAll(o: DoubleVec): Unit = {
    val need = len + o.len
    if (need > arr.length)
      arr = java.util.Arrays.copyOf(arr, math.max(need, arr.length << 1))
    System.arraycopy(o.arr, 0, arr, len, o.len)
    len = need
  }

  def apply(i: Int): Double = arr(i)
  def length: Int = len
  def clear(): Unit = len = 0
  def toArray: Array[Double] = java.util.Arrays.copyOf(arr, len)
}

/** Per-group mergeable quantile sketch aggregate — the beyond-
  * `maxFoldRows` scale path of the grouped-quantile family: where
  * [[graft.operators.Stats.groupedExactQuantiles]]'s driver fold is
  * planning-sized only while |groups|·|occupied cells| stays under its
  * guard, this aggregate is ONE hash-agg shuffle whose per-group state
  * is an O(k·log n) [[KllBuffer]] — no driver fold, no cell histogram,
  * any number of groups. Returns the `ps` quantile values as
  * `array<double>` (null for an all-NULL group). Approximate with
  * ε ≈ 1/k rank error (spec-measured); use the exact operators when
  * the fold fits. */
case class KllQuantiles(child: Expression, ps: Seq[Double], k: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllBuffer]
  with UnaryLike[Expression] {

  require(k >= 8 && k <= (1 << 20),
    s"graft_kll_quantiles: k must be in [8, 1048576], got $k")
  require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
    s"graft_kll_quantiles: quantiles must be in (0, 1], got $ps")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_kll_quantiles"

  // analysis-time type error for the SQL surface (the Scala column API
  // casts to double; a raw SQL int column would otherwise CCE in
  // executors) — the CellBucket/QuantStats convention in this package
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_kll_quantiles needs a double value column, got " +
            s"${other.catalogString} — cast(value as double)")
    }

  override def createAggregationBuffer(): KllBuffer = new KllBuffer(k)

  override def update(buf: KllBuffer, input: InternalRow): KllBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(b1: KllBuffer, b2: KllBuffer): KllBuffer = b1.merge(b2)

  override def eval(buf: KllBuffer): Any =
    if (buf.count == 0L) null
    else new GenericArrayData(buf.quantiles(ps))

  override def serialize(buf: KllBuffer): Array[Byte] =
    KllBuffer.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): KllBuffer =
    KllBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllQuantiles =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllQuantiles =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllQuantiles =
    copy(child = newChild)
}

/** WEIGHTED per-group quantile sketch — the beyond-`maxFoldRows` scale
  * path of the PRE-COUNTED quantile family
  * ([[graft.operators.Stats.groupedInterpolatedQuantilesWeighted]] and
  * its dependents winsorizedStats / madOutliers / grouped Gini): rows
  * are `(value, weight)` where weight is the positive integer
  * multiplicity of that value in the underlying distribution. Each row
  * costs popcount(weight) ≤ 64 buffer appends ([[KllBuffer.addWeighted]]
  * — the insert is exact, only compactions add the usual ≈1/k rank
  * error in WEIGHT), so a billion-weight row never expands. Quantile
  * semantics are the exact-rank form over the EXPANDED multiset (value
  * at the smallest cumulative weight ≥ ⌈p·W⌉). NULL value or NULL
  * weight excludes the row (observed-values policy); a NEGATIVE weight
  * fails loud (silently dropping or absorbing it would bias every
  * percentile); weight 0 is a no-op row. */
case class KllQuantilesWeighted(value: Expression, weight: Expression,
                                ps: Seq[Double], k: Int,
                                mutableAggBufferOffset: Int = 0,
                                inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllBuffer]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  require(k >= 8 && k <= (1 << 20),
    s"graft_kll_quantiles_w: k must be in [8, 1048576], got $k")
  require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
    s"graft_kll_quantiles_w: quantiles must be in (0, 1], got $ps")

  override def left: Expression = value
  override def right: Expression = weight

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_kll_quantiles_w"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (value.dataType, weight.dataType) match {
      case (DoubleType, org.apache.spark.sql.types.LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (v, w) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_kll_quantiles_w needs (double value, bigint weight), got " +
            s"(${v.catalogString}, ${w.catalogString}) — cast explicitly")
    }

  override def createAggregationBuffer(): KllBuffer = new KllBuffer(k)

  override def update(buf: KllBuffer, input: InternalRow): KllBuffer = {
    val v = value.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val wl = w.asInstanceOf[Long]
      require(wl >= 0L,
        s"graft_kll_quantiles_w: negative weight $wl — a negative " +
          "multiplicity has no quantile meaning and silently skipping it " +
          "would bias every percentile")
      if (wl > 0L) buf.addWeighted(v.asInstanceOf[Double], wl)
    }
    buf
  }

  override def merge(b1: KllBuffer, b2: KllBuffer): KllBuffer = b1.merge(b2)

  override def eval(buf: KllBuffer): Any =
    if (buf.count == 0L) null
    else new GenericArrayData(buf.quantiles(ps))

  override def serialize(buf: KllBuffer): Array[Byte] = KllBuffer.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): KllBuffer = KllBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllQuantilesWeighted =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllQuantilesWeighted =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantilesWeighted =
    copy(value = newLeft, weight = newRight)
}

/** Sketch-STATE aggregate: same buffer as [[KllQuantiles]], but eval
  * returns the serialized sketch (`binary`) instead of quantile values
  * — the persistable shard/day artifact of the roll-up pattern
  * ([[graft.operators.Hll]]'s register tables for distinct counts):
  * write one sketch row per (group, shard/day), then fold any horizon
  * with [[KllMerge]] without rescanning history. */
case class KllSketchAgg(child: Expression, k: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllBuffer]
  with UnaryLike[Expression] {

  require(k >= 8 && k <= (1 << 20),
    s"graft_kll_sketch: k must be in [8, 1048576], got $k")

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_sketch"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_kll_sketch needs a double value column, got " +
            s"${other.catalogString} — cast(value as double)")
    }

  override def createAggregationBuffer(): KllBuffer = new KllBuffer(k)
  override def update(buf: KllBuffer, input: InternalRow): KllBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }
  override def merge(b1: KllBuffer, b2: KllBuffer): KllBuffer = b1.merge(b2)
  override def eval(buf: KllBuffer): Any = KllBuffer.toBytes(buf)
  override def serialize(buf: KllBuffer): Array[Byte] = KllBuffer.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): KllBuffer = KllBuffer.fromBytes(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

/** WEIGHTED sketch-STATE aggregate — [[KllSketchAgg]] for pre-counted
  * `(value, weight)` frames ([[KllQuantilesWeighted]]'s insert, the
  * persistable-artifact eval): lets a weighted distribution (daily
  * per-value counts, histogram shards) persist its sketch state and
  * join the same [[KllMerge]]/[[KllValues]] roll-up as raw rows —
  * weighted and unweighted sketches at the same k merge freely, the
  * wire format is identical. */
case class KllSketchAggWeighted(value: Expression, weight: Expression, k: Int,
                                mutableAggBufferOffset: Int = 0,
                                inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllBuffer]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  require(k >= 8 && k <= (1 << 20),
    s"graft_kll_sketch_w: k must be in [8, 1048576], got $k")

  override def left: Expression = value
  override def right: Expression = weight

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_sketch_w"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (value.dataType, weight.dataType) match {
      case (DoubleType, org.apache.spark.sql.types.LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (v, w) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_kll_sketch_w needs (double value, bigint weight), got " +
            s"(${v.catalogString}, ${w.catalogString}) — cast explicitly")
    }

  override def createAggregationBuffer(): KllBuffer = new KllBuffer(k)

  override def update(buf: KllBuffer, input: InternalRow): KllBuffer = {
    val v = value.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val wl = w.asInstanceOf[Long]
      require(wl >= 0L,
        s"graft_kll_sketch_w: negative weight $wl — a negative " +
          "multiplicity has no quantile meaning and silently skipping it " +
          "would bias every percentile")
      if (wl > 0L) buf.addWeighted(v.asInstanceOf[Double], wl)
    }
    buf
  }

  override def merge(b1: KllBuffer, b2: KllBuffer): KllBuffer = b1.merge(b2)
  override def eval(buf: KllBuffer): Any = KllBuffer.toBytes(buf)
  override def serialize(buf: KllBuffer): Array[Byte] = KllBuffer.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): KllBuffer = KllBuffer.fromBytes(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAggWeighted =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAggWeighted =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllSketchAggWeighted =
    copy(value = newLeft, weight = newRight)
}

/** Fold a column of serialized sketches into one — the roll-up
  * aggregate (daily sketch rows → any horizon, history never
  * rescanned). Wire k rides in each sketch's bytes; mixing k values
  * fails loud (a silent merge would quietly degrade every percentile
  * to the coarser sketch's error). */
case class KllMerge(child: Expression,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllBuffer]
  with UnaryLike[Expression] {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_merge"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_kll_merge needs a binary sketch column, got ${other.catalogString}")
    }

  /** empty sentinel: k resolves from the first sketch absorbed. */
  override def createAggregationBuffer(): KllBuffer = new KllBuffer(0)

  private def absorb(acc: KllBuffer, other: KllBuffer): KllBuffer = {
    if (other.k == 0) return acc // other side never saw a sketch
    if (acc.k == 0) return other
    require(acc.k == other.k,
      s"graft_kll_merge: mixed sketch widths k=${acc.k} vs k=${other.k} — " +
        "merging different-precision sketches silently degrades accuracy; " +
        "rebuild at one k")
    acc.merge(other)
  }

  override def update(buf: KllBuffer, input: InternalRow): KllBuffer = {
    val v = child.eval(input)
    if (v == null) buf
    else absorb(buf, KllBuffer.fromBytes(v.asInstanceOf[Array[Byte]]))
  }
  override def merge(b1: KllBuffer, b2: KllBuffer): KllBuffer = absorb(b1, b2)
  override def eval(buf: KllBuffer): Any = {
    require(buf.k > 0, "graft_kll_merge: no sketches to merge (empty input)")
    KllBuffer.toBytes(buf)
  }
  override def serialize(buf: KllBuffer): Array[Byte] =
    if (buf.k == 0) Array.emptyByteArray else KllBuffer.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): KllBuffer =
    if (bytes.isEmpty) new KllBuffer(0) else KllBuffer.fromBytes(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): KllMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllMerge =
    copy(child = newChild)
}

/** Scalar extraction: quantiles of a serialized sketch — native
  * codegen (one static call), so reading a sketch table costs no UDF
  * penalty. Returns `array<double>` (one per `ps`); NULL for an EMPTY
  * sketch (a group whose values were all NULL still serializes a
  * count=0 buffer — quantiles of nothing are undefined, and NULL is
  * the SQL-honest answer, not an index error). Two read semantics:
  * exact-rank (`interp = false`, the groupedExactQuantiles probe) and
  * INTERPOLATED (`interp = true` / `graft_kll_values_interp` — the
  * `percentile`/`quantile_cont` lerp, which in the no-compaction
  * regime matches them bit-for-bit; [[KllBuffer.interpolated]]). */
case class KllValues(child: Expression, ps: Seq[Double],
                     interp: Boolean = false)
  extends UnaryExpression {

  private def fn = if (interp) "graft_kll_values_interp" else "graft_kll_values"
  require(ps.nonEmpty && ps.forall(p =>
      (p > 0.0 || interp) && p >= 0.0 && p <= 1.0),
    s"$fn: quantiles must be in ${if (interp) "[0, 1]" else "(0, 1]"}, got $ps")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = fn

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_kll_values needs a binary sketch column, got ${other.catalogString}")
    }

  @transient private lazy val psArr: Array[Double] = ps.toArray

  override def nullable: Boolean = true

  protected override def nullSafeEval(input: Any): Any =
    KllValues.compute(input.asInstanceOf[Array[Byte]], psArr, interp)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kllPs", psArr, "double[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.KllValues.compute($c, $ref, $interp);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): KllValues =
    copy(child = newChild)
}

object KllValues {
  /** null for an empty sketch (all-NULL group) — see class doc. */
  def compute(bytes: Array[Byte], ps: Array[Double],
              interp: Boolean): GenericArrayData = {
    val buf = KllBuffer.fromBytes(bytes)
    if (buf.count == 0L) null
    else new GenericArrayData(
      if (interp) buf.interpolated(ps.toIndexedSeq)
      else buf.quantiles(ps.toIndexedSeq))
  }
}

object KllQuantiles {

  /** Installs the SQL surface (`graft_kll_quantiles`, `graft_kll_*`, …)
    * on a plain session — see [[SqlFunctions.register]]. */
  def register(spark: SparkSession): Unit = SqlFunctions.register(spark)

  def registerWeighted(spark: SparkSession): Unit = SqlFunctions.register(spark)

  /** Column form: `array<double>` of the `ps` quantiles of `value`. */
  def kllQuantiles(spark: SparkSession, value: Column,
                   ps: Seq[Double], k: Int): Column =
    column(KllQuantiles(expression(value.cast("double")), ps, k))

  /** Column form: `array<double>` of the `ps` quantiles of the
    * expanded multiset (`value` with integer multiplicity `weight`). */
  def kllQuantilesWeighted(spark: SparkSession, value: Column,
                           weight: Column, ps: Seq[Double], k: Int): Column =
    column(KllQuantilesWeighted(expression(value.cast("double")),
      expression(weight.cast("long")), ps, k))

  // ---- the roll-up trio: build sketch STATE, merge it, read it ------

  /** Aggregate to a persistable serialized sketch (`binary`). */
  def kllSketch(spark: SparkSession, value: Column, k: Int): Column =
    column(KllSketchAgg(expression(value.cast("double")), k))

  /** Fold a column of serialized sketches into one (`binary`). */
  def kllMerge(spark: SparkSession, sketch: Column): Column =
    column(KllMerge(expression(sketch)))

  /** Quantiles of a serialized sketch (`array<double>`). */
  def kllValues(spark: SparkSession, sketch: Column, ps: Seq[Double]): Column =
    column(KllValues(expression(sketch), ps))

  /** Weighted (pre-counted) aggregate to a persistable sketch. */
  def kllSketchWeighted(spark: SparkSession, value: Column, weight: Column,
                        k: Int): Column =
    column(KllSketchAggWeighted(expression(value.cast("double")),
      expression(weight.cast("long")), k))

  /** INTERPOLATED quantiles of a serialized sketch (`array<double>`) —
    * `percentile`/`quantile_cont` lerp semantics; exact parity with
    * them in the no-compaction regime. */
  def kllValuesInterp(spark: SparkSession, sketch: Column,
                      ps: Seq[Double]): Column =
    column(KllValues(expression(sketch), ps, interp = true))
}
