package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.functions.Dgim

/** Whole-operator DGIM windowed aggregation as a first-class Catalyst
  * citizen: LogicalPlan → Strategy → SparkPlan, registered via
  * `SparkSessionExtensions.injectPlannerStrategy` (or
  * `spark.experimental.extraStrategies`).
  *
  * Why a custom physical operator instead of groupByKey.mapGroups: the
  * deterministic DGIM semantics (reference PyFlink job,
  * /root/reference/src/usrcode/job.py:75-93 — sort each window's
  * timestamps, fold, estimate at max ts) needs per-group ORDERED input.
  * mapGroups must materialize each group and sort it in user memory —
  * O(group) heap per task, no spill. This operator instead DECLARES its
  * requirements to the planner:
  *
  *  - `requiredChildDistribution` = clustered by (window_start, window_end)
  *  - `requiredChildOrdering`     = (window_start, window_end, ts) asc
  *
  * and EnsureRequirements plans the shuffle + a SPILLABLE external sort.
  * The fold itself then streams over sorted rows with `bits` × O(log² W)
  * DGIM bucket state — group size no longer bounds memory. At 100 TB this
  * is the difference between "one hot window OOMs a task" and "never".
  *
  * One fold serves both sketches. The sum sketch (Datar et al. 2002 §5
  * binary decomposition) feeds each amount's set bits into `bits`
  * independent DGIM builders and emits the 2^j-weighted instance total
  * next to the exact amount sum; the counting sketch is its one-bit case
  * with every amount equal to 1.
  *
  * Child contract: non-null LONG columns (ws_sec, we_sec, ts_sec) for the
  * count form, (ws_sec, we_sec, ts_sec, amount) for the sum form.
  * Output: (window_start TS, window_end TS, <estimate> L, <exact> L).
  */
case class DgimWindowAggPlan(windowSeconds: Long, bits: Int,
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the operator consumes ALL child columns positionally; without this,
  // ColumnPruning sees zero references and replaces the child with an
  // empty Project
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object DgimWindowAggPlan {
  /** Count form over a 3-column (ws, we, ts_sec) child: every row is
    * one 1-bit. Output (window_start, window_end, count_estimate,
    * exact_count).
    */
  def apply(windowSeconds: Long, child: LogicalPlan): DgimWindowAggPlan =
    withOutputs(windowSeconds, 1, "count_estimate", "exact_count", child)

  /** Sum form over a 4-column (ws, we, ts_sec, cents) child. Output
    * (window_start, window_end, sum_estimate, exact_cents).
    */
  def sum(windowSeconds: Long, bits: Int, child: LogicalPlan): DgimWindowAggPlan =
    withOutputs(windowSeconds, bits, "sum_estimate", "exact_cents", child)

  /** Mints FRESH output attributes — output must be a constructor field
    * (not a `val`): plan copies during optimization would otherwise mint
    * new ExprIds and break resolution upstream.
    */
  private def withOutputs(windowSeconds: Long, bits: Int, estimate: String,
      exact: String, child: LogicalPlan): DgimWindowAggPlan =
    DgimWindowAggPlan(windowSeconds, bits, Seq(
      AttributeReference("window_start", TimestampType, nullable = false)(),
      AttributeReference("window_end", TimestampType, nullable = false)(),
      AttributeReference(estimate, LongType, nullable = false)(),
      AttributeReference(exact, LongType, nullable = false)()), child)
}

object DgimStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: DgimWindowAggPlan =>
      // capture the child's attributes HERE: the physical child is a
      // PlanLater placeholder with empty output until planning finishes,
      // so required* must not read child.output lazily
      DgimWindowAggExec(p.windowSeconds, p.bits, p.output, p.child.output,
        planLater(p.child)) :: Nil
    case _ => Nil
  }

  /** Idempotently register this strategy on a session (the extension-free
    * path; GraftExtensions also injects it).
    */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(DgimStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ DgimStrategy
    }
}

/** Physical operator for [[DgimWindowAggPlan]]: a streaming per-group
  * fold over `bits` DGIM builders. A 3-column child has no amount column
  * and every row counts as amount 1 — adding a constant column instead
  * would widen every shuffled and sorted row. Amounts ≤ 0 skip the
  * sketch (lenient, like the streaming aggregator); oversized amounts
  * saturate at 2^bits − 1; the exact column sums every row's amount.
  * Every instance is evaluated at the group's latest timestamp.
  */
case class DgimWindowAggExec(windowSeconds: Long, bits: Int,
    output: Seq[Attribute], childAttrs: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  private val arity = childAttrs.length
  private val maxAmount = (1L << bits) - 1

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(childAttrs(0), childAttrs(1))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(
    SortOrder(childAttrs(0), Ascending),
    SortOrder(childAttrs(1), Ascending),
    SortOrder(childAttrs(2), Ascending)))

  // one output row per group; group-key partitioning is not expressible in
  // terms of `output` (the keys are transformed), so declare unknown
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      new Iterator[InternalRow] {
        private val writer = new UnsafeRowWriter(output.length)
        private var hasGroup = false
        private var curWs = 0L
        private var curWe = 0L
        private var builders: Array[Dgim.Builder] = _
        private var exact = 0L
        private var latest = 0L
        private var pending: InternalRow = _

        private def emit(): InternalRow = {
          var total = 0L
          var j = 0
          while (j < bits) {
            total += (1L << j) * builders(j).state.estimateAt(latest, roundUp = true)
            j += 1
          }
          writer.reset()
          writer.write(0, curWs * 1000000L) // epoch seconds -> micros
          writer.write(1, curWe * 1000000L)
          writer.write(2, total)
          writer.write(3, exact)
          writer.getRow
        }

        private def startGroup(ws: Long, we: Long): Unit = {
          curWs = ws; curWe = we
          builders = Array.fill(bits)(new Dgim.Builder(windowSeconds))
          exact = 0L
          latest = 0L
          hasGroup = true
        }

        private def accumulate(ts: Long, amount: Long): Unit = {
          exact += amount
          if (amount > 0L) {
            val v = math.min(amount, maxAmount)
            latest = math.max(latest, ts)
            var j = 0
            while (j < bits) {
              if (((v >> j) & 1L) == 1L) builders(j).add(ts)
              j += 1
            }
          }
        }

        private def advance(): Unit = {
          while (pending == null && iter.hasNext) {
            val r = iter.next()
            // enforce the documented child contract (non-null LONGs):
            // getLong on a null slot silently reads 0 and would group the
            // row into the 1970 epoch window instead of failing
            var c = 0
            while (c < arity) {
              require(!r.isNullAt(c),
                s"$nodeName child emitted a null column at position $c")
              c += 1
            }
            val ws = r.getLong(0); val we = r.getLong(1)
            if (!hasGroup) startGroup(ws, we)
            else if (ws != curWs || we != curWe) {
              pending = emit()
              startGroup(ws, we)
            }
            accumulate(r.getLong(2), if (arity > 3) r.getLong(3) else 1L)
          }
          if (pending == null && hasGroup && !iter.hasNext) {
            pending = emit()
            hasGroup = false
          }
        }

        override def hasNext: Boolean = { advance(); pending != null }
        override def next(): InternalRow = {
          advance()
          val r = pending; pending = null; r
        }
      }
    }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
