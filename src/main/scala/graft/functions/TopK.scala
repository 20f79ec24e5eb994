package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Bounded-buffer per-group top-k aggregate: keeps the `k` LARGEST
  * values of `child` (any orderable type — for "top-k by score" pass
  * struct(score, tieBreak, …), compared lexicographically) and returns
  * them sorted descending.
  *
  * This is the aggregate Spark lacks for per-group top-k at scale:
  * `slice(array_sort(collect_list(…)))` keeps EVERY group element in
  * the partial buffer, so the shuffle carries the whole group; here the
  * partial buffer is a size-k min-heap, so map-side combine caps the
  * exchange at k rows per (group, partition) no matter how many
  * candidates a group has. The kNN join ([[graft.operators.Similarity]]
  * knnJoin) rides on this: corpus×queries candidates never cross a
  * shuffle, only k-element heaps do.
  *
  * Deterministic: the heap keeps the k largest under the type's total
  * order (ties between equal values are interchangeable), and eval
  * sorts the survivors descending — output depends only on the
  * multiset of inputs.
  */
case class TopK(child: Expression, k: Int,
                mutableAggBufferOffset: Int = 0,
                inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[Any]]
  with UnaryLike[Expression] {

  require(k >= 1 && k <= (1 << 20), s"unreasonable k $k")

  @transient private lazy val ord: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)
  @transient private lazy val proj = UnsafeProjection.create(Array(child.dataType))

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_k"

  // fail at analysis time on non-orderable children (e.g. MapType) like
  // the built-in ordering aggregates, not at executor runtime inside
  // getInterpretedOrdering
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  override def createAggregationBuffer(): java.util.PriorityQueue[Any] =
    // min-heap: the root is the smallest survivor, evicted on overflow.
    // Small initial capacity — k may be 2^20 and a hash aggregate holds
    // one buffer PER GROUP; eagerly sizing to k+1 would allocate an
    // ~8 MB array per tiny group. The queue grows on demand.
    new java.util.PriorityQueue[Any](math.min(k + 1, 16), ord)

  override def update(buf: java.util.PriorityQueue[Any],
                      input: InternalRow): java.util.PriorityQueue[Any] = {
    val v = child.eval(input)
    if (v != null && (buf.size < k || ord.compare(v, buf.peek()) > 0)) {
      buf.add(InternalRow.copyValue(v)) // eval may return a reused row
      if (buf.size > k) buf.poll()
    }
    buf
  }

  override def merge(b1: java.util.PriorityQueue[Any],
                     b2: java.util.PriorityQueue[Any]): java.util.PriorityQueue[Any] = {
    val it = b2.iterator()
    while (it.hasNext) {
      val v = it.next()
      if (b1.size < k || ord.compare(v, b1.peek()) > 0) {
        b1.add(v)
        if (b1.size > k) b1.poll()
      }
    }
    b1
  }

  override def eval(buf: java.util.PriorityQueue[Any]): Any = {
    val arr = buf.toArray
    java.util.Arrays.sort(arr, ord.reverse)
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.PriorityQueue[Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val row = proj(InternalRow(it.next()))
      out.writeInt(row.getSizeInBytes)
      out.write(row.getBytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Any] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(1)
      row.pointTo(rowBytes, len)
      buf.add(InternalRow.copyValue(row.get(0, child.dataType)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopK =
    copy(child = newChild)
}

object TopK {

  /** Column form: array of the k largest `value`s, sorted descending. */
  def topK(value: Column, k: Int): Column =
    column(TopK(expression(value), k))
}
