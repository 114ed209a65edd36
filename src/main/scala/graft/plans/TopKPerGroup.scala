package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension: per-group top-k via bounded heaps.
  *
  * The window-rank formulation (`row_number().over(partitionBy(g).orderBy(o))
  * <= k`) fully SORTS every group — at 100 TB that is a sort of the whole
  * table just to keep k rows per key. This operator keeps a k-bounded heap
  * per group instead, and runs TWICE (the aggregation partial/final
  * pattern): a map-side pass bounds every partition's output at k rows per
  * locally-seen group BEFORE the exchange, then the reduce-side pass
  * finishes after clustering — so the shuffle moves at most
  * partitions×groups×k rows, not the table, and nothing is ever globally
  * sorted. The correctness identity: the true per-group top-k is contained
  * in the union of per-partition top-k's.
  *
  * Planned by [[TopKPerGroupStrategy]], which
  * [[graft.functions.expressions.GraftExtensions]] injects
  * (`SparkSessionExtensions.injectPlannerStrategy`), so the session must be
  * built with those extensions, as `graft.GraftSession.local` does.
  * `EnsureRequirements` injects the hash exchange
  * from the final node's `requiredChildDistribution`, so AQE still plans
  * and coalesces the shuffle like any built-in aggregate.
  *
  * Reference shapes this serves: "latest N per candidate/session" lookups
  * (W2, `session_db.py:95-96` max-visit; `files.py` latest-file queries)
  * and every rank-then-filter query at scale.
  */
object TopKPerGroup {

  /** Per-group top-k of `df`: the k FIRST rows of each group under
    * `order` (pass `col.asc`/`col.desc` columns; make the order total —
    * include a tiebreaker — for deterministic output). */
  def apply(df: DataFrame, group: Seq[Column], order: Seq[Column], k: Int): DataFrame =
    build(df, group, order, k, distinct = false)

  /** Per-group top-k DISTINCT: like [[apply]], but rows that compare
    * EQUAL under `order` are kept once — the KMV shape (k smallest
    * distinct hashes per group) without a separate distinct exchange:
    * the partial pass dedups AND bounds each partition at k rows per
    * group before the one clustering shuffle. Distinctness is BY THE
    * SORT KEY: include every distinguishing column in `order`. */
  def distinct(df: DataFrame, group: Seq[Column], order: Seq[Column], k: Int): DataFrame =
    build(df, group, order, k, distinct = true)

  private def build(df: DataFrame, group: Seq[Column], order: Seq[Column],
      k: Int, distinct: Boolean): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    val groupExprs = group.map(GraftColumnBridge.eagerExpression)
    val orderExprs = order.map(GraftColumnBridge.eagerExpression).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    GraftColumnBridge.ofRows(spark,
      TopKPerGroupNode(groupExprs, orderExprs, k, distinct,
        GraftColumnBridge.logicalPlan(df)))
  }

  /** SQLMetric name of the partial pass's cap-triggered drain counter —
    * [[graft.QueryProfile]] matches task accumulators by this name. */
  val DrainMetricName = "cap-triggered partial drains"

  /** Session conf key bounding the partial pass's per-partition group-state
    * map (default 131072); tests shrink it to force drains. */
  val MaxPartialGroupsKey = "spark.graft.topk.maxPartialGroups"
}

/** Logical node: declarative "keep first k rows per group under order". */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    distinct: Boolean,
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerGroupNode =
    copy(child = c)
}

/** Planner rule: logical node → partial exec (pre-shuffle bound) feeding
  * final exec (post-shuffle finish). */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, k, d, child) =>
      TopKPerGroupExec(g, o, k, d, partial = false,
        TopKPerGroupExec(g, o, k, d, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Physical per-partition bounded-heap top-k. `partial = true` runs before
  * the exchange (no distribution requirement — bounds shuffle volume);
  * `partial = false` requires clustering on the group keys and emits each
  * group's k rows in sort order. */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    distinct: Boolean,
    partial: Boolean,
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override lazy val metrics = Map(
    "numDrains" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, TopKPerGroup.DrainMetricName))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupE = groupExprs
    val orderE = orderExprs
    val childOutput = child.output
    val kk = k
    val dedup = distinct
    // Memory bound for the PARTIAL pass: the per-group state map holds at
    // most this many groups; when a new group would exceed it, the map is
    // DRAINED to the output and restarted. Emitting per-chunk top-k is
    // sound — a row in the partition-wide local top-k of group G is also
    // in the top-k of whichever chunk held it, so the union of chunk
    // top-ks is a superset the final clustered pass reduces exactly.
    // Without this, a high-cardinality group key (the shape
    // RankFilterToTopK auto-rewrites) held every group's heap on-heap at
    // once and could OOM where the Window plan would have spilled. The
    // final pass never flushes: its groups are clustered but interleaved,
    // and a mid-partition drain would emit >k rows per group.
    // Conf-overridable so DrainSpec can force the drain path on small data.
    val maxGroups = if (partial)
      conf.getConfString(TopKPerGroup.MaxPartialGroupsKey, "131072").toInt
    else Int.MaxValue
    val drainMetric = longMetric("numDrains")
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(groupE, childOutput)
      val ordering: Ordering[InternalRow] =
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .create(orderE, childOutput).asInstanceOf[Ordering[InternalRow]]
      // tryInsert does ONE projection + ONE map lookup per row and returns
      // false IFF the row would mint a NEW group while the state map is at
      // the cap (the caller drains and re-tries, which trivially succeeds
      // on the emptied map). The former separate atCap(row) gate repeated
      // both the projection and the lookup — 2x key hashing on every
      // partial-pass row.
      if (dedup) {
        // distinct mode: a k-bounded sorted set per group — comparator
        // equality IS the dedup (distinct by the sort key); last() =
        // worst kept key, evicted when a smaller new key arrives
        val sets = new java.util.HashMap[UnsafeRow,
          java.util.TreeSet[InternalRow]]()
        val cmp: java.util.Comparator[InternalRow] =
          (a: InternalRow, b: InternalRow) => ordering.compare(a, b)
        def tryInsert(row: InternalRow): Boolean = {
          val key = groupProj(row)
          var set = sets.get(key)
          if (set == null) {
            if (sets.size >= maxGroups) return false
            set = new java.util.TreeSet[InternalRow](cmp)
            sets.put(key.copy(), set)
          }
          if (set.size < kk) set.add(row.copy())
          else if (ordering.compare(row, set.last()) < 0 &&
            set.add(row.copy())) set.pollLast()
          true
        }
        def drain(): Iterator[InternalRow] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          sets.values().forEach { set => set.forEach(r => out += r) }
          sets.clear()
          out.iterator
        }
        flushingIterator(iter, tryInsert, drain, drainMetric)
      } else {
        // max-heap under the sort order: head = worst kept row, evicted
        // when a better row arrives. UnsafeRow keys/values are COPIED
        // (iterator rows are reused buffers).
        val heaps = new java.util.HashMap[UnsafeRow,
          scala.collection.mutable.PriorityQueue[InternalRow]]()
        def tryInsert(row: InternalRow): Boolean = {
          val key = groupProj(row)
          var pq = heaps.get(key)
          if (pq == null) {
            if (heaps.size >= maxGroups) return false
            pq = scala.collection.mutable.PriorityQueue.empty[InternalRow](ordering)
            heaps.put(key.copy(), pq)
          }
          if (pq.size < kk) pq.enqueue(row.copy())
          else if (ordering.compare(row, pq.head) < 0) {
            pq.dequeue(); pq.enqueue(row.copy())
          }
          true
        }
        def drain(): Iterator[InternalRow] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          heaps.values().forEach { pq => out ++= pq.toSeq.sorted(ordering) }
          heaps.clear()
          out.iterator
        }
        flushingIterator(iter, tryInsert, drain, drainMetric)
      }
    }, preservesPartitioning = true)
  }

  /** Consume `input` through `tryInsert`, draining the per-group state to
    * the output whenever it reports the next row would mint a group beyond
    * the memory bound (counted in `drains` — each cap drain re-emits ≤ k
    * rows per seen group into the exchange, so the count makes that
    * shuffle inflation observable); one final uncounted drain at
    * exhaustion. */
  private def flushingIterator(
      input: Iterator[InternalRow],
      tryInsert: InternalRow => Boolean,
      drain: () => Iterator[InternalRow],
      drains: org.apache.spark.sql.execution.metric.SQLMetric)
      : Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var pending: Iterator[InternalRow] = Iterator.empty
      private var done = false
      private def fill(): Unit = {
        while (!pending.hasNext && !done) {
          var flushed = false
          while (input.hasNext && !flushed) {
            val row = input.next()
            if (!tryInsert(row)) {
              val stash = row.copy()
              pending = drain()
              drains += 1
              tryInsert(stash)
              flushed = true
            }
          }
          if (!flushed) { pending = drain(); done = true }
        }
      }
      override def hasNext: Boolean = { fill(); pending.hasNext }
      override def next(): InternalRow = { fill(); pending.next() }
    }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerGroupExec =
    copy(child = c)
}
