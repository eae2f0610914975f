package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, TypedImperativeAggregate}
import org.apache.spark.sql.types._

/**
 * Bounded top-k rows per group as a mergeable aggregate — the physical
 * engine of [[TopKPerGroup.topKPerGroup]].
 *
 * For each input row the aggregate evaluates `sortExpr` (a struct of the
 * window's ORDER BY keys) and `rowExpr` (a struct of every carried column)
 * and maintains a size-`k` max-heap under the window's sort order: a row
 * enters only while fewer than k are held or when it sorts strictly before
 * the current k-th. `eval` returns the held rows sorted ascending — exactly
 * the rows `row_number() <= k` would keep, in rank order.
 *
 * Why this beats the window it replaces at 100 TB:
 *  - WindowExec sorts EVERY row of every group (O(n log n) per group,
 *    spilling at scale) to emit ranks the filter immediately discards past
 *    k; the heap holds k rows per group, O(n log k), no sort, no spill.
 *  - As a proper aggregate it PARTIAL-aggregates map-side: each input
 *    partition ships at most k rows per group into the shuffle instead of
 *    all of them — the shuffle shrinks from the corpus to
 *    `k · groups · partitions`, the same argument as map-side combine.
 *
 * Determinism contract: identical to `row_number()`'s — ranks are stable
 * only under a total sort order. The engine's own queries always tie-break
 * (CI-locked convention); the heap preserves whatever tie behavior the
 * order defines, because comparison uses the window's exact SortOrder
 * directions and null ordering ([[InterpretedOrdering]]).
 *
 * Buffered rows are copied through an [[UnsafeProjection]] (self-contained
 * bytes — the input row's backing buffer is reused by the scanner, the
 * collect_list copy discipline). Serialization is length-prefixed UnsafeRow
 * bytes, heap order (merge re-heapifies; order need not survive the wire).
 */
case class TopKRows(
    rowExpr: Expression,
    sortExpr: Expression,
    k: Int,
    directions: Seq[(Boolean, Boolean)], // (ascending, nullsFirst) per key
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(InternalRow, InternalRow)]] {

  private def rowType = rowExpr.dataType.asInstanceOf[StructType]
  private def sortType = sortExpr.dataType.asInstanceOf[StructType]

  @transient private lazy val rowProj = UnsafeProjection.create(rowType)
  @transient private lazy val sortProj = UnsafeProjection.create(sortType)

  /** Ascending comparison under the window's sort spec. */
  @transient private lazy val asc: Ordering[InternalRow] = {
    val orders = sortType.fields.zipWithIndex.zip(directions).map {
      case ((f, i), (isAsc, nullsFirst)) =>
        val dir = if (isAsc) Ascending else Descending
        val no =
          if (nullsFirst) NullsFirst
          else NullsLast
        SortOrder(BoundReference(i, f.dataType, f.nullable), dir, no, Seq.empty)
    }
    new InterpretedOrdering(orders.toIndexedSeq)
  }

  // max-heap: head is the WORST (last-ranked) held row
  private def heapOrdering: Ordering[(InternalRow, InternalRow)] =
    Ordering.by[(InternalRow, InternalRow), InternalRow](_._1)(asc)

  override def createAggregationBuffer(): mutable.PriorityQueue[(InternalRow, InternalRow)] =
    mutable.PriorityQueue.empty(heapOrdering)

  override def update(
      buf: mutable.PriorityQueue[(InternalRow, InternalRow)],
      input: InternalRow): mutable.PriorityQueue[(InternalRow, InternalRow)] = {
    val sk = sortProj(sortExpr.eval(input).asInstanceOf[InternalRow])
    if (buf.size < k) {
      buf.enqueue((sk.copy(), rowProj(rowExpr.eval(input).asInstanceOf[InternalRow]).copy()))
    } else if (asc.compare(sk, buf.head._1) < 0) {
      buf.dequeue()
      buf.enqueue((sk.copy(), rowProj(rowExpr.eval(input).asInstanceOf[InternalRow]).copy()))
    }
    buf
  }

  override def merge(
      a: mutable.PriorityQueue[(InternalRow, InternalRow)],
      b: mutable.PriorityQueue[(InternalRow, InternalRow)]): mutable.PriorityQueue[(InternalRow, InternalRow)] = {
    b.foreach { e =>
      if (a.size < k) a.enqueue(e)
      else if (asc.compare(e._1, a.head._1) < 0) { a.dequeue(); a.enqueue(e) }
    }
    a
  }

  override def eval(buf: mutable.PriorityQueue[(InternalRow, InternalRow)]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buf.toIndexedSeq.sortBy(_._1)(asc).map(_._2).toArray[Any])

  override def serialize(buf: mutable.PriorityQueue[(InternalRow, InternalRow)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (sk, row) =>
      val sb = sk.asInstanceOf[UnsafeRow].getBytes
      val rb = row.asInstanceOf[UnsafeRow].getBytes
      out.writeInt(sb.length); out.write(sb)
      out.writeInt(rb.length); out.write(rb)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(InternalRow, InternalRow)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val sb = new Array[Byte](in.readInt()); in.readFully(sb)
      val sk = new UnsafeRow(sortType.length); sk.pointTo(sb, sb.length)
      val rb = new Array[Byte](in.readInt()); in.readFully(rb)
      val row = new UnsafeRow(rowType.length); row.pointTo(rb, rb.length)
      buf.enqueue((sk, row))
    }
    buf
  }

  override def dataType: DataType = ArrayType(rowType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(rowExpr, sortExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(rowExpr = newChildren(0), sortExpr = newChildren(1))
  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "graft_top_k_rows"
}

/**
 * The explicit operator form of the heap top-k — for callers who KNOW their
 * group shape is wide. Measured at local[4] against the `row_number()`
 * window: ~8× faster on 4 groups × 20 M rows (k=3: 0.98 s vs 7.83 s — the
 * per-partition sort Spark 4's WindowGroupLimit still pays dominates there)
 * but ~2× slower on 400 k groups × 5 rows (k=1: heap/object overhead with
 * no sort to save), so it is a caller's choice, never a blanket rewrite.
 * `topKPerGroup(df, Seq("lang"), Seq(("n_toks", false), ("doc_id", true)), 3)`
 * keeps each group's first k rows under the given (column, ascending) total
 * order and appends their 1-based rank. Built from public API only: the
 * registered `graft_top_k_rows` aggregate + `posexplode` — so the plan is
 * final-agg ← exchange ← partial-agg ← scan, never a sort.
 *
 * Null ordering follows Spark's sort defaults (asc → nulls first,
 * desc → nulls last), matching what the equivalent `row_number()` window
 * over `asc`/`desc` columns would do.
 */
object TopKPerGroup {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions.{call_function, col, lit, posexplode, struct}

  def topKPerGroup(
      df: DataFrame,
      partition: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rn"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(partition.nonEmpty && order.nonEmpty, "need partition and order columns")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val dirs = order.map { case (_, asc) => if (asc) 'A' else 'D' }.mkString
    val rowStruct = struct(df.columns.map(col).toIndexedSeq: _*)
    val sortStruct = struct(order.map { case (n, _) => col(n) }: _*)
    val arr: Column = call_function("graft_top_k_rows",
      rowStruct, sortStruct, lit(k), lit(dirs))
    df.groupBy(partition.map(col): _*)
      .agg(arr.as("__graft_topk"))
      .select(posexplode(col("__graft_topk")).as(Seq("__graft_pos", "__graft_row")))
      .select((df.columns.map(n => col(s"__graft_row.$n")) :+
        (col("__graft_pos") + lit(1)).as(rankName)).toIndexedSeq: _*)
  }
}
