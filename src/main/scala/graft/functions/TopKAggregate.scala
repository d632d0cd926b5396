package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, Expression, GenericInternalRow, JoinedRow, Nondeterministic}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Bounded max-heap of the k smallest (dist, id) pairs, with deterministic
  * (dist, id) lexicographic tie-break. ~k doubles + k longs per group —
  * the 100TB-safe alternative to rank-over-window KNN: partial aggregation
  * runs map-side, so only num_partitions × k pairs per query ever shuffle
  * (SURVEY.md §7 hard part 6).
  */
final class TopKHeap(val k: Int) {
  val dists = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  @inline private def worseThan(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  def insert(d: Double, id: Long): Unit = {
    if (size < k) {
      dists(size) = d; ids(size) = id; size += 1
      siftUp(size - 1)
    } else if (k > 0 && worseThan(dists(0), ids(0), d, id)) {
      dists(0) = d; ids(0) = id
      siftDown(0)
    }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worseThan(dists(i), ids(i), dists(p), ids(p))) {
        swap(i, p); i = p
      } else return
    }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < size && worseThan(dists(l), ids(l), dists(m), ids(m))) m = l
      if (r < size && worseThan(dists(r), ids(r), dists(m), ids(m))) m = r
      if (m == i) return
      swap(i, m); i = m
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val d = dists(i); dists(i) = dists(j); dists(j) = d
    val x = ids(i); ids(i) = ids(j); ids(j) = x
  }

  def merge(other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) { insert(other.dists(i), other.ids(i)); i += 1 }
    this
  }

  /** Appends `k`, the size and the pairs; [[TopKHeap.read]] reverses it. */
  def write(bb: ByteBuffer): Unit = {
    bb.putInt(k).putInt(size)
    var i = 0
    while (i < size) { bb.putDouble(dists(i)).putLong(ids(i)); i += 1 }
  }

  /** (dist, id) pairs sorted ascending. */
  def sortedPairs: Array[(Double, Long)] = {
    val out = Array.tabulate(size)(i => (dists(i), ids(i)))
    scala.util.Sorting.stableSort(out, (a: (Double, Long), b: (Double, Long)) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))
    out
  }
}

object TopKHeap {
  /** Bytes [[TopKHeap.write]] appends for a heap of `size` pairs. */
  def bytes(size: Int): Int = 8 + 16 * size

  def read(bb: ByteBuffer): TopKHeap = {
    val heap = new TopKHeap(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { heap.insert(bb.getDouble(), bb.getLong()); i += 1 }
    heap
  }
}

/** topk_pairs(dist, id, k) -> array<struct<dist:double, id:bigint>> sorted by
  * (dist, id) ascending. Used by the KNN join (SURVEY.md W1/J3).
  */
case class TopKPairs(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKHeap] with BinaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "topk_pairs"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("dist", DoubleType), StructField("id", LongType))))

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val d = left.eval(input)
    val id = right.eval(input)
    if (d != null && id != null) {
      buf.insert(d.asInstanceOf[Double], id.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = buf.merge(other)

  override def eval(buf: TopKHeap): Any =
    new GenericArrayData(buf.sortedPairs.map { case (d, id) =>
      new GenericInternalRow(Array[Any](d, id))
    })

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(TopKHeap.bytes(buf.size))
    buf.write(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = TopKHeap.read(ByteBuffer.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairs =
    copy(left = newLeft, right = newRight)
}

object TopKPairs {
  /** Aggregate Column: bounded top-k of (dist, id) per group. */
  def topKPairs(dist: Column, id: Column, k: Int): Column =
    Bridge.column(
      TopKPairs(
        Bridge.expression(dist.cast("double")),
        Bridge.expression(id.cast("long")),
        k).toAggregateExpression())
}

/** The query side of a [[KnnTopK]] block, prepared once on the driver.
  * Row j (query_id, q_vec, extras...) is the pair predicate's left side;
  * `vecs(j)` is its vector (null when it scores nothing), `norms(j)` that
  * vector's norm and `ids(j)` its query id. It scores into heap
  * `heapOf(j)`, whose query id is `heapIds(heapOf(j))`: rows sharing an id
  * share one heap, as a `groupBy(query_id)` would merge them.
  */
final class QueryBlock(
    val rows: Array[InternalRow],
    val vecs: Array[Array[Float]],
    val norms: Array[Double],
    val ids: Array[Long],
    val heapOf: Array[Int],
    val heapIds: Array[Any]) extends Serializable

/** [[KnnTopK]]'s buffer: one heap per query id of block `block`. */
final class BlockHeaps(var block: Int, var heaps: Array[TopKHeap])

/** The pair predicate's base-side values for one base row: expression i
  * over that row, evaluated on its first read.
  */
private final class BaseValues(exprs: Array[Expression]) extends BaseGenericInternalRow {
  private val values = new Array[Any](exprs.length)
  // value i belongs to the current row when evaluatedAt(i) == row
  private val evaluatedAt = Array.fill(exprs.length)(-1L)
  private var row = -1L
  private var base: InternalRow = _

  def of(baseRow: InternalRow): BaseValues = {
    base = baseRow
    row += 1
    this
  }

  override protected def genericGet(i: Int): Any = {
    if (evaluatedAt(i) != row) { values(i) = exprs(i).eval(base); evaluatedAt(i) = row }
    values(i)
  }
  override def numFields: Int = exprs.length
  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
  override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException
}

/** knn_topk(block, base) -> array<struct<query_id, neighbor_id, rank, dist>>:
  * exact KNN's scoring aggregate. Each base row `(neighbor_id, b_vec,
  * extras...)` is scored against every query of its block, the query side
  * read from a broadcast, and pushed into one [[TopKHeap]] per query id;
  * partial aggregation runs map-side, so only the k-heaps shuffle. A pair
  * is scored when, with `excludeSelf`, the ids differ and when the
  * optional pair predicate holds. The predicate reads the query row's
  * ordinals followed by `baseValues`, its base-side subexpressions, which
  * each base row evaluates at most once whatever the block's size. The
  * distances are [[DistanceKernels.scoreBlock]]'s, and the heaps keep the
  * (dist, id) tie rule and skip null ids and vectors, as [[TopKPairs]]
  * does.
  */
case class KnnTopK(
    block: Expression,
    base: Expression,
    queries: Broadcast[Array[QueryBlock]],
    k: Int,
    metric: Int,
    pairPredicate: Option[Expression],
    baseValues: Seq[Expression],
    excludeSelf: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BlockHeaps] with BinaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def left: Expression = block
  override def right: Expression = base
  override def prettyName: String = "knn_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = KnnTopK.Hits
  override protected def stringArgs: Iterator[Any] = Iterator(block, base, k)

  // per-task state: the predicate and the scratch every update reuses. The
  // predicate is evaluated directly: an InterpretedPredicate would reset
  // its subexpression cache on every pair.
  @transient private lazy val predicate: Expression = pairPredicate.map { p =>
    val partition = Option(TaskContext.get()).fold(0)(_.partitionId())
    p.foreach {
      case n: Nondeterministic => n.initialize(partition)
      case _ =>
    }
    p
  }.orNull
  @transient private lazy val values = new BaseValues(baseValues.toArray)
  @transient private lazy val pair = new JoinedRow
  @transient private lazy val live = new Array[Int](queries.value.map(_.vecs.length).max)
  @transient private lazy val dists = new Array[Double](live.length + 1)

  override def createAggregationBuffer(): BlockHeaps = new BlockHeaps(-1, null)

  override def update(buf: BlockHeaps, input: InternalRow): BlockHeaps = {
    val b = base.eval(input).asInstanceOf[InternalRow]
    if (b.isNullAt(0) || b.isNullAt(1)) return buf
    if (buf.heaps == null) {
      buf.block = block.eval(input).asInstanceOf[Int]
      buf.heaps = Array.fill(queries.value(buf.block).heapIds.length)(new TopKHeap(k))
    }
    val qb = queries.value(buf.block)
    val id = b.getLong(0)
    if (predicate != null) values.of(b)
    var n = 0
    var j = 0
    while (j < qb.vecs.length) {
      if (qb.vecs(j) != null && !(excludeSelf && qb.ids(j) == id) &&
          (predicate == null || predicate.eval(pair(qb.rows(j), values)) == true)) {
        live(n) = j
        n += 1
      }
      j += 1
    }
    if (n > 0) {
      DistanceKernels.scoreBlock(qb.vecs, qb.norms, live, n, b.getArray(1).toFloatArray(),
        metric, dists)
      var m = 0
      while (m < n) {
        buf.heaps(qb.heapOf(live(m))).insert(dists(m), id)
        m += 1
      }
    }
    buf
  }

  override def merge(buf: BlockHeaps, other: BlockHeaps): BlockHeaps =
    if (buf.heaps == null) other
    else {
      if (other.heaps != null) buf.heaps.indices.foreach(h => buf.heaps(h).merge(other.heaps(h)))
      buf
    }

  override def eval(buf: BlockHeaps): Any = {
    val hits = mutable.ArrayBuffer.empty[InternalRow]
    if (buf.heaps != null) {
      val heapIds = queries.value(buf.block).heapIds
      buf.heaps.indices.foreach { h =>
        buf.heaps(h).sortedPairs.zipWithIndex.foreach { case ((d, id), r) =>
          hits += new GenericInternalRow(Array[Any](heapIds(h), id, r + 1, d))
        }
      }
    }
    new GenericArrayData(hits.toArray[Any])
  }

  override def serialize(buf: BlockHeaps): Array[Byte] = {
    val heaps = Option(buf.heaps).getOrElse(Array.empty[TopKHeap])
    val bb = ByteBuffer.allocate(8 + heaps.map(h => TopKHeap.bytes(h.size)).sum)
    bb.putInt(buf.block).putInt(heaps.length)
    heaps.foreach(_.write(bb))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BlockHeaps = {
    val bb = ByteBuffer.wrap(bytes)
    val block = bb.getInt()
    val heaps = Array.fill(bb.getInt())(TopKHeap.read(bb))
    new BlockHeaps(block, if (block < 0) null else heaps)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KnnTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KnnTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KnnTopK =
    copy(block = newLeft, base = newRight)
}

object KnnTopK {
  /** Distinct query ids per block. A base row is scored against one
    * block's vectors per pass, and each block is one group of the
    * aggregate, so the blocks also spread the final merge.
    */
  final val BlockSize = 256

  /** What the aggregate returns per block: each heap's pairs, rank 1..k. */
  val Hits: ArrayType = ArrayType(StructType(Seq(
    StructField("query_id", LongType),
    StructField("neighbor_id", LongType),
    StructField("rank", IntegerType, nullable = false),
    StructField("dist", DoubleType))), containsNull = false)

  /** Splits the query side's rows `(query_id, q_vec, extras...)` into
    * blocks of at most [[BlockSize]] distinct query ids, in order of first
    * appearance, with every row of one id in one block. With
    * `excludeSelf`, a row whose id is null scores nothing, as
    * `neighbor_id != query_id` never holds for it.
    */
  def blocks(rows: Seq[InternalRow], excludeSelf: Boolean): Array[QueryBlock] = {
    val byId = mutable.LinkedHashMap.empty[Option[Long], mutable.ArrayBuffer[InternalRow]]
    rows.foreach { r =>
      byId.getOrElseUpdate(Option.when(!r.isNullAt(0))(r.getLong(0)), mutable.ArrayBuffer.empty) += r
    }
    byId.toArray.grouped(BlockSize).map { ids =>
      val members = ids.zipWithIndex.flatMap { case ((_, rs), h) => rs.map(_ -> h) }
      val vecs = members.map { case (r, _) =>
        if (r.isNullAt(1) || (excludeSelf && r.isNullAt(0))) null else r.getArray(1).toFloatArray()
      }
      new QueryBlock(members.map(_._1), vecs,
        vecs.map(v => if (v == null) 0.0 else DistanceKernels.norm(v)),
        members.map { case (r, _) => if (r.isNullAt(0)) 0L else r.getLong(0) },
        members.map(_._2),
        ids.map(_._1.fold(null: Any)(Long.box)))
    }.toArray
  }

  /** Aggregate Column: the top-k of each query id of block `block` over
    * the base rows `base` (a struct of neighbor_id, b_vec, extras...).
    */
  def knnTopK(block: Column, base: Column, queries: Broadcast[Array[QueryBlock]], k: Int,
      metric: Int, pairPredicate: Option[(Expression, Seq[Expression])],
      excludeSelf: Boolean): Column =
    Bridge.column(
      KnnTopK(Bridge.expression(block), Bridge.expression(base), queries, k, metric,
        pairPredicate.map(_._1), pairPredicate.fold(Seq.empty[Expression])(_._2),
        excludeSelf).toAggregateExpression())
}
