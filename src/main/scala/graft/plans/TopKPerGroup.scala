package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import scala.collection.mutable

/** Whole-operator top-k per group (W1) as a custom logical node +
  * planner strategy + physical operator, registered through
  * SparkSessionExtensions (GraftExtensions injects [[GraftStrategies]]).
  *
  * Why a custom operator: the window formulation
  * (`row_number over (partition by g order by o) <= k`) SORTS every
  * group completely — O(n log n) per group plus a rank column — while
  * top-k only needs a k-bounded heap: O(n log k), no rank column, and
  * the heap state is k rows per group instead of the whole group
  * buffered for the sort. At 100 TB with millions of rows per group and
  * k in the tens, that is the difference between spilling sorts and a
  * streaming pass. The required child distribution is clustering on the
  * group keys, so Catalyst inserts exactly the same single shuffle the
  * window would need — the win is purely in what happens after it.
  *
  * Semantics match `Relational.topNPerGroup` (ties broken by the order
  * expressions supplied; supply a tie-break column for determinism) and
  * are oracle-verified against the same DuckDB SQL as the window form.
  */
case class TopKPerGroupNode(groupCols: Seq[Attribute], order: Seq[SortOrder],
                            k: Int, child: LogicalPlan,
                            maxBufferedRows: Int = TopKPerGroup.DefaultMaxBufferedRows)
  extends UnaryNode {
  require(k > 0)
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

case class TopKPerGroupExec(groupCols: Seq[Attribute], order: Seq[SortOrder],
                            k: Int, child: SparkPlan,
                            maxBufferedRows: Int = TopKPerGroup.DefaultMaxBufferedRows,
                            partial: Boolean = false)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroup"

  /** The FINAL phase needs one hash-partition shuffle on the group keys
    * — shared with (not added to) whatever the window formulation would
    * shuffle. The PARTIAL phase runs on the child's existing layout and
    * caps every mapper's contribution at k rows per group BEFORE that
    * exchange (top-k is a semilattice: topk(A ∪ B) = topk(topk(A) ∪
    * topk(B)), so pre-pruning is exact) — the same map-side cut
    * vanilla Spark's two-phase WindowGroupLimit makes, and at 100 TB
    * the difference between shuffling k·groups·mappers rows and
    * shuffling the whole table. */
  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution
     else ClusteredDistribution(groupCols)) :: Nil

  /** Group-explosion guard: the in-memory state is k rows per DISTINCT
    * group per partition — unbounded in the group count. When buffered
    * rows exceed `maxBufferedRows`, the current heaps are spilled to a
    * local sorted run (sorted by group-key bytes) and the map is cleared;
    * at partition end the runs plus the in-memory remainder are k-way
    * merged per key. Top-k heaps of the same group MERGE EXACTLY (top-k
    * is a semilattice: topk(A ∪ B) = topk(topk(A) ∪ topk(B))), so the
    * spill path returns the identical result — it only trades memory for
    * sequential disk I/O, the same trade hash-aggregation spill makes. */
  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val grpExprs = groupCols
    val sortOrder = order
    val kk = k
    val budget = maxBufferedRows
    val nFields = schema.size
    child.execute().mapPartitions ({ iter =>
      val grpProj = UnsafeProjection.create(grpExprs, schema)
      val ordering = RowOrdering.create(sortOrder, schema)
      // the spill format serializes UnsafeRow bytes, but execute() only
      // guarantees InternalRow — normalize non-unsafe rows up front (a
      // child that already satisfies the distribution may emit
      // GenericInternalRow; the identity projection is skipped per-row
      // when the input is already unsafe)
      val toUnsafe = UnsafeProjection.create(schema.map(_.dataType).toArray)
      // PriorityQueue dequeues the LARGEST under `ordering` = the current
      // worst of the kept k — exactly the eviction candidate.
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var buffered = 0
      val spills = mutable.ArrayBuffer.empty[java.io.File]
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        spills.foreach(f => if (f.exists()) f.delete())
      }

      def newHeap() = mutable.PriorityQueue.empty[InternalRow](
        ordering.asInstanceOf[Ordering[InternalRow]])

      def offer(heap: mutable.PriorityQueue[InternalRow], row: InternalRow,
                copied: Boolean): Boolean =
        if (heap.size < kk) {
          heap.enqueue(if (copied) row else row.copy()); true
        } else if (ordering.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(if (copied) row else row.copy())
          false
        } else false

      val offerFn = (h: mutable.PriorityQueue[InternalRow], r: InternalRow) =>
        { offer(h, r, copied = true); () }

      def writeRun(entries: Iterator[(Array[Byte], Seq[UnsafeRow])])
          : java.io.File = {
        val f = java.io.File.createTempFile("graft_topk_spill", ".run")
        val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(f)))
        try entries.foreach { case (kb, rows) =>
          out.writeInt(kb.length); out.write(kb)
          out.writeInt(rows.length)
          rows.foreach { r =>
            val rb = r.getBytes
            out.writeInt(rb.length); out.write(rb)
          }
        } finally out.close()
        f
      }

      def spill(): Unit = {
        spills += writeRun(heaps.toSeq
          .sortBy(_._1.getBytes)(TopKPerGroup.BytesOrdering)
          .iterator
          .map { case (key, heap) =>
            (key.getBytes, heap.toSeq.map(_.asInstanceOf[UnsafeRow]))
          })
        heaps.clear()
        buffered = 0
        // run-count cap: fold all runs into one before the file-descriptor
        // budget is at risk (k-way merge opens every run at once)
        if (spills.length >= TopKPerGroup.MaxOpenRuns) {
          val merged = writeRun(
            TopKPerGroup.mergeRunEntries(spills.toSeq, nFields, newHeap _,
                offerFn)
              .map { case (kb, heap) =>
                (kb, heap.toSeq.map(_.asInstanceOf[UnsafeRow]))
              })
          spills.foreach(f => if (f.exists()) f.delete())
          spills.clear()
          spills += merged
        }
      }

      iter.foreach { raw =>
        val row: InternalRow =
          if (raw.isInstanceOf[UnsafeRow]) raw else toUnsafe(raw)
        val key = grpProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = newHeap()
            heaps.put(key.copy(), h)
            h
        }
        if (offer(heap, row, copied = false)) {
          buffered += 1
          if (buffered > budget) spill()
        }
      }

      if (spills.isEmpty)
        heaps.valuesIterator.flatMap(h => h.dequeueAll.reverseIterator)
      else {
        if (heaps.nonEmpty) spill() // final in-memory state → last run
        TopKPerGroup.mergeRunEntries(spills.toSeq, nFields, newHeap _, offerFn)
          .flatMap(_._2.dequeueAll.reverseIterator)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object GraftStrategies extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeAggPrefixNode(nEquiKeys, nKeys, accOut, child) =>
      RangeAggPrefixExec(nEquiKeys, nKeys, accOut, planLater(child)) :: Nil
    case RangeValueExtremaNode(nEquiKeys, nKeys, maxOut, minOut, child) =>
      RangeValueExtremaExec(nEquiKeys, nKeys, maxOut, minOut,
        planLater(child)) :: Nil
    case TopKPerGroupNode(g, o, k, child, budget) =>
      // two-phase: the partial exec caps each mapper at k rows per
      // group, EnsureRequirements puts the group-key exchange between it
      // and the final exec
      val partial = TopKPerGroupExec(g, o, k, planLater(child), budget,
        partial = true)
      TopKPerGroupExec(g, o, k, partial, budget) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {

  /** Per-partition buffered-row cap before heaps spill to a sorted run.
    * 4M rows ≈ tens-to-hundreds of MB of UnsafeRows — the same order as a
    * hash aggregate's pre-spill budget. */
  val DefaultMaxBufferedRows: Int = 4 * 1024 * 1024

  /** Lexicographic unsigned byte-array order (UnsafeRow key bytes —
    * equality matches UnsafeRow.equals, which is all the merge needs). */
  object BytesOrdering extends Ordering[Array[Byte]] {
    override def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** Sequential reader over one spilled run ([keyLen key nRows [rowLen
    * rowBytes]*]* — entries sorted by key bytes). `key == null` ⇒ EOF. */
  private final class RunReader(f: java.io.File, nFields: Int) {
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
    var key: Array[Byte] = _
    var rows: Array[UnsafeRow] = _
    advance()
    def advance(): Unit =
      try {
        val kl = in.readInt()
        key = new Array[Byte](kl); in.readFully(key)
        val n = in.readInt()
        rows = Array.fill(n) {
          val rl = in.readInt()
          val rb = new Array[Byte](rl); in.readFully(rb)
          val r = new UnsafeRow(nFields)
          r.pointTo(rb, rl)
          r
        }
      } catch {
        case _: java.io.EOFException => key = null; rows = null; in.close()
      }
  }

  /** Maximum simultaneously-open spill runs; past this the runs are
    * compacted into one (bounds file descriptors per task). */
  val MaxOpenRuns: Int = 32

  /** K-way merge of sorted runs: equal keys across runs pool their rows
    * through `offer` into one fresh heap (exact — top-k is a semilattice).
    * Streams (keyBytes, merged heap) per distinct key in key order. */
  private[plans] def mergeRunEntries(files: Seq[java.io.File], nFields: Int,
      newHeap: () => mutable.PriorityQueue[InternalRow],
      offer: (mutable.PriorityQueue[InternalRow], InternalRow) => Unit)
      : Iterator[(Array[Byte], mutable.PriorityQueue[InternalRow])] = {
    val readers = mutable.ArrayBuffer.from(
      files.map(new RunReader(_, nFields)).filter(_.key != null))
    new scala.collection.AbstractIterator[
        (Array[Byte], mutable.PriorityQueue[InternalRow])] {
      override def hasNext: Boolean = readers.nonEmpty
      override def next(): (Array[Byte], mutable.PriorityQueue[InternalRow]) = {
        val minKey = readers.map(_.key).min(BytesOrdering)
        val heap = newHeap()
        readers.foreach { r =>
          if (BytesOrdering.compare(r.key, minKey) == 0) {
            r.rows.foreach(offer(heap, _))
            r.advance()
          }
        }
        readers.filterInPlace(_.key != null)
        (minKey, heap)
      }
    }
  }

  /** Public entry: top-k rows per group of `df`, ordered by the named
    * columns (`(name, ascending)`); resolution is by name against the
    * analyzed child plan, so the node is born resolved. */
  def apply(df: DataFrame, groupCols: Seq[String],
            orderBy: Seq[(String, Boolean)], k: Int,
            maxBufferedRows: Int = DefaultMaxBufferedRows): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"TopKPerGroup: no column '$name' in ${analyzed.output.map(_.name)}"))
    val order = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    org.apache.spark.sql.classic.GraftBridge.ofRows(spark,
      TopKPerGroupNode(groupCols.map(attr), order, k, analyzed, maxBufferedRows))
  }
}
