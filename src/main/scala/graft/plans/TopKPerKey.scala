package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression, GenericInternalRow, JoinedRow,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy,
  UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** Whole-operator top-k-per-key — the heap-based physical shape behind
  * every "rank window then `rn <= k`" pattern in this engine (ANN
  * candidate ranking, dedup resolution, per-group leaderboards).
  *
  * Spark 3.5+ already bounds the SHUFFLE for this pattern
  * (`InferWindowGroupLimit`: sort → WindowGroupLimit(Partial) →
  * exchange → sort → WindowGroupLimit(Final) → Window), but pays for
  * it with two FULL partition sorts — the map side sorts the entire
  * candidate partition (O(n log n) comparisons, sort buffers, spill
  * surface) before limiting, and the reduce side re-sorts the
  * survivors to drive the Window. This operator keeps the same
  * shuffled-volume bound with NO sort anywhere (TopKSpec pins the
  * plan sort-free):
  *
  *   PartialTopKExec  — per input partition, one bounded heap per key
  *                      (≤ k rows each, O(n log k), nothing
  *                      materialized); only per-partition survivors
  *                      reach the exchange — ≤ keys·k·partitions rows.
  *   (exchange on K)  — inserted by EnsureRequirements from the final
  *                      operator's required distribution.
  *   FinalTopKExec    — exact per-key top-k over the survivors, emitted
  *                      rank-stamped (`rn` = 1..k in sort order — only
  *                      the ≤ k kept rows are ever sorted), a drop-in
  *                      for the window+filter.
  *
  * Correctness under the partial phase's key-cap: when a partition
  * sees more than [[PartialTopKExec.MaxPartialKeys]] distinct keys,
  * overflow rows BYPASS (pass through unfiltered) rather than evict —
  * the partial phase is only ever a superset filter, the final phase
  * is the exact one. Determinism: callers supply a TOTAL order (the
  * engine convention: rounded score, id tiebreak), so ranks are
  * engine-exact and oracle-comparable.
  *
  * Registered via [[graft.GraftExtensions]] (`injectPlannerStrategy`);
  * constructed through [[graft.ops.TopK.perKey]].
  */
final case class TopKPerKey(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    rnAttr: Attribute =
      AttributeReference("rn", LongType, nullable = false)())
  extends UnaryNode {

  require(groupExprs.nonEmpty, "top-k-per-key needs grouping keys " +
    "(global top-k is Spark's TakeOrderedAndProject already)")
  require(k > 0, s"k must be positive, got $k")

  override def output: Seq[Attribute] = child.output :+ rnAttr

  // rn is born here, not consumed from the child — without this the
  // analyzer reports it as a missing input attribute
  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rnAttr :: Nil)

  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerKey = copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerKey =>
      FinalTopKExec(t.groupExprs, t.order, t.k, t.rnAttr,
        PartialTopKExec(t.groupExprs, t.order, t.k,
          planLater(t.child))) :: Nil
    case _ => Nil
  }
}

/** Shared per-partition bounded-heap logic. The heap is worst-first
  * (reversed sort order), so `peek` is the row a better candidate
  * evicts. */
private[plans] object TopKHeaps {
  type Heap = java.util.PriorityQueue[InternalRow]

  def newHeap(k: Int, ord: LazilyGeneratedOrdering): Heap =
    // initial CAPACITY only (the queue grows) — clamped so a huge k
    // (a user's `rn <= 2_000_000_000` still rewrites here) neither
    // overflows k+1 negative nor pre-allocates k slots per key
    new java.util.PriorityQueue[InternalRow](
      math.min(k, 1 << 10) + 1, ord.reverse)

  /** Offer a row; copies only when the row is kept. */
  def offer(pq: Heap, row: InternalRow, k: Int,
      ord: LazilyGeneratedOrdering): Unit =
    if (pq.size < k) pq.add(row.copy())
    else if (ord.compare(row, pq.peek()) < 0) {
      pq.poll(); pq.add(row.copy())
    }
}

/** Map-side phase: per-key bounded heaps, overflow keys bypass. */
final case class PartialTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val childOutput = child.output
    val gExprs = groupExprs
    val ords = order
    val kk = k
    val rowCap = PartialTopKExec.maxPartialRows
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(gExprs, childOutput)
      val ord = new LazilyGeneratedOrdering(ords, childOutput)
      val heaps =
        new java.util.HashMap[UnsafeRow, TopKHeaps.Heap]()
      var retained = 0L
      new Iterator[InternalRow] {
        private var drain: java.util.Iterator[InternalRow] = _
        private var ready: InternalRow = _
        private def computeNext(): InternalRow = {
          while (iter.hasNext) {
            val row = iter.next()
            val key = groupProj(row)
            var pq = heaps.get(key)
            if (pq == null) {
              if (heaps.size() >= PartialTopKExec.MaxPartialKeys ||
                retained >= rowCap)
                return row // bypass: superset is always safe
              pq = TopKHeaps.newHeap(kk, ord)
              heaps.put(key.copy(), pq)
            }
            // a row that would GROW a full heap table bypasses; a
            // replacement (evict+add at size k) is allowed — it keeps
            // `retained` flat, so state stays bounded in BOTH the key
            // and the k dimension (a huge-k rank filter must not
            // buffer the partition on the JVM heap)
            if (pq.size < kk && retained >= rowCap) return row
            if (pq.size < kk) retained += 1
            TopKHeaps.offer(pq, row, kk, ord)
          }
          if (drain == null) {
            val all = new java.util.ArrayList[InternalRow]()
            heaps.values().forEach(pq => all.addAll(pq))
            drain = all.iterator()
          }
          if (drain.hasNext) drain.next() else null
        }
        override def hasNext: Boolean = {
          if (ready == null) ready = computeNext()
          ready != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = ready; ready = null; numOut += 1; r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): PartialTopKExec = copy(child = newChild)
}

object PartialTopKExec {
  /** Heap-table cap per partition: past this many distinct keys the
    * partial phase stops filtering new keys (bypass) instead of
    * growing state — ~64k keys × k rows is the bound, never the key
    * cardinality. */
  val MaxPartialKeys: Int = 1 << 16

  /** Total retained-ROW cap per partition (the k dimension of the
    * memory bound): a rank filter with a huge k would otherwise
    * buffer keys×k row copies regardless of the key cap. Past it,
    * rows that would grow a heap bypass instead (superset-safe).
    * Spec-overridable. */
  @volatile private[graft] var maxPartialRows: Long = 1L << 22
}

/** Reduce-side phase: exact per-key top-k with rank stamping.
  *
  * Memory contract: the hash-of-heaps is bounded in BOTH dimensions —
  * at most [[FinalTopKExec.maxFinalKeys]] distinct keys AND at most
  * [[FinalTopKExec.maxFinalRows]] retained row copies (keys × k; the
  * row cap is what stops a huge-k rank filter from buffering the
  * partition). A partition that outgrows either degrades to an
  * EXTERNAL (spilling) sort on (key, order) and streams per-key
  * runs — the same bounded-memory guarantee as the sort-based
  * WindowGroupLimit plan this operator replaces, paid only by the
  * partitions that actually go pathological. Exactness is preserved:
  * rows already evicted from a key's heap were beaten by k better
  * rows of that SAME key, so feeding heap survivors + the remaining
  * input to the sort loses nothing a top-k could keep. */
final case class FinalTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rnAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numSortFallbacks" ->
      SQLMetrics.createMetric(sparkContext,
        "partitions degraded to external sort"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val numFallbacks = longMetric("numSortFallbacks")
    val childOutput = child.output
    val outAttrs = output
    val gExprs = groupExprs
    val ords = order
    val kk = k
    val keyCap = FinalTopKExec.maxFinalKeys
    // an unorderable group type (no engine key is one today) cannot
    // sort-degrade; it keeps the hash path whatever the cardinality
    val canDegrade = gExprs.forall(e =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(e.dataType))
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(gExprs, childOutput)
      val ord = new LazilyGeneratedOrdering(ords, childOutput)
      val heaps = new java.util.HashMap[UnsafeRow, TopKHeaps.Heap]()
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val rnRow = new GenericInternalRow(1)
      var overflowRow: InternalRow = null
      var retained = 0L
      val rowCap = FinalTopKExec.maxFinalRows
      while (iter.hasNext && overflowRow == null) {
        val row = iter.next()
        val key = groupProj(row)
        var pq = heaps.get(key)
        if (pq == null) {
          if (canDegrade && heaps.size() >= keyCap)
            overflowRow = row // key #cap+1: switch to the sort path
          else {
            pq = TopKHeaps.newHeap(kk, ord)
            heaps.put(key.copy(), pq)
            retained += 1
            TopKHeaps.offer(pq, row, kk, ord)
          }
        } else if (pq.size < kk && canDegrade && retained >= rowCap)
          // the k dimension of the bound: a huge-k rank filter must
          // degrade to the spilling sort, not buffer keys×k copies
          overflowRow = row
        else {
          if (pq.size < kk) retained += 1
          TopKHeaps.offer(pq, row, kk, ord)
        }
      }
      if (overflowRow == null) {
        val groups = heaps.values().iterator()
        new Iterator[InternalRow] {
          private var rows: Array[InternalRow] = Array.empty
          private var i = 0
          override def hasNext: Boolean = {
            while (i >= rows.length && groups.hasNext) {
              rows = groups.next().toArray(Array.empty[InternalRow])
              java.util.Arrays.sort(rows, ord)
              i = 0
            }
            i < rows.length
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            rnRow.update(0, (i + 1).toLong)
            val out = proj(joined(rows(i), rnRow))
            i += 1; numOut += 1
            out
          }
        }
      } else {
        numFallbacks += 1
        // external sort on (key asc, order): Spark's sorter spills
        // past its memory grant, so this path is safe at ANY key
        // cardinality. Prefix is degenerate (always 0) — correctness
        // rides the full record comparator; no radix.
        val keyOrders = gExprs.map(e => SortOrder(e,
          org.apache.spark.sql.catalyst.expressions.Ascending))
        val fullOrd =
          new LazilyGeneratedOrdering(keyOrders ++ ords, childOutput)
        val prefixComputer =
          new org.apache.spark.sql.execution.UnsafeExternalRowSorter
            .PrefixComputer {
            private val zero = new org.apache.spark.sql.execution
              .UnsafeExternalRowSorter.PrefixComputer.Prefix
            override def computePrefix(row: InternalRow) = zero
          }
        val sorter = org.apache.spark.sql.execution
          .UnsafeExternalRowSorter.create(
            org.apache.spark.sql.catalyst.types.DataTypeUtils
              .fromAttributes(childOutput),
            fullOrd,
            new org.apache.spark.util.collection.unsafe.sort
              .PrefixComparator {
              override def compare(a: Long, b: Long): Int = 0
            },
            prefixComputer,
            org.apache.spark.sql.graftbridge.ColumnBridge.pageSizeBytes,
            false)
        val toUnsafe =
          UnsafeProjection.create(childOutput, childOutput)
        heaps.values().forEach { pq =>
          val it = pq.iterator()
          while (it.hasNext) sorter.insertRow(toUnsafe(it.next()))
        }
        heaps.clear()
        sorter.insertRow(toUnsafe(overflowRow))
        while (iter.hasNext) sorter.insertRow(toUnsafe(iter.next()))
        val sorted = sorter.sort()
        new Iterator[InternalRow] {
          private var curKey: UnsafeRow = _
          private var count = 0
          private var ready: InternalRow = _
          private def advance(): InternalRow = {
            while (sorted.hasNext) {
              val r = sorted.next()
              val key = groupProj(r)
              if (curKey == null || key != curKey) {
                curKey = key.copy(); count = 0
              }
              if (count < kk) {
                count += 1
                rnRow.update(0, count.toLong)
                return proj(joined(r, rnRow))
              }
            }
            null
          }
          override def hasNext: Boolean = {
            if (ready == null) ready = advance()
            ready != null
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val r = ready; ready = null; numOut += 1; r
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): FinalTopKExec = copy(child = newChild)
}

object FinalTopKExec {
  /** Reduce-side heap-table key cap: past this many distinct keys in
    * one partition the operator degrades to the external-sort path
    * above instead of growing driver-invisible heap state without
    * bound (spec-overridable so the fallback is testable without 64k
    * distinct keys). */
  @volatile private[graft] var maxFinalKeys: Int = 1 << 16

  /** Retained-ROW cap (the k dimension): a rank filter with a huge k
    * over few keys degrades to the sort path once keys×k copies
    * would pass this, instead of buffering the partition on-heap. */
  @volatile private[graft] var maxFinalRows: Long = 1L << 22
}
