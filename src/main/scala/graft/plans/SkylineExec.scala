package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Ascending, Attribute, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import graft.skyline.Gsky

/** Physical operator for [[SkylinePlan]]. [[SkylineStrategy]] plans two:
  * a partial node (local skyline per input partition, zero shuffle — the
  * reference's combiner trick, Skyline.java:408) under a final node
  * that merges the survivors. Neither builds its own sort or exchange;
  * they declare what they need and EnsureRequirements inserts it:
  *
  *  - both require their input sorted by (group keys, ascending sum of
  *    the MIN-normalized dims) — the SFS presort (sort-filter-skyline,
  *    Chomicki et al. '03; measured 3.2× on 9-dim data, see
  *    OPTIMIZATION_r16.md). A dominator's sum is never larger than its
  *    victim's, so it usually sorts first and the GSKY buffer rarely
  *    evicts; eviction stays because equal double sums (1e17 + 2.0 vs
  *    1e17 + 1.0) can still list a victim first. Group-major order also
  *    means each group's skyline is finished before the next begins —
  *    one buffer per task, not one per group;
  *  - the final node requires `AllTuples` (global skyline) or
  *    `ClusteredDistribution(groupKeys)`, so only local survivors cross
  *    the exchange.
  *
  * Rows with a NULL/NaN dim are dropped (`SkylineOp.prepare` semantics).
  */
case class SkylineExec(dims: Seq[Expression], groupExprs: Seq[Expression], partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((groupExprs :+ dims.reduce(Add(_, _))).map(SortOrder(_, Ascending)))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val (dims, groupExprs, input) = (this.dims, this.groupExprs, child.output)
    val d = dims.length
    child.execute().mapPartitions { rows =>
      val vecOf = UnsafeProjection.create(dims, input)
      val groupOrd = new LazilyGeneratedOrdering(groupExprs.map(SortOrder(_, Ascending)), input)
      val in = rows.buffered
      // One skyline per run of equal group keys (input is group-major).
      new Iterator[Iterator[InternalRow]] {
        def hasNext: Boolean = in.hasNext
        def next(): Iterator[InternalRow] = {
          val head = in.head.copy()
          val buf = Gsky.emptyBuf[InternalRow]
          while (in.hasNext && groupOrd.compare(head, in.head) == 0) {
            val row = in.next()
            val v = vecOf(row)
            val vec = new Array[Double](d)
            var ok = true
            var i = 0
            while (ok && i < d) {
              ok = !v.isNullAt(i) && !v.getDouble(i).isNaN
              if (ok) vec(i) = v.getDouble(i)
              i += 1
            }
            if (ok) Gsky.insert(buf, vec, row.copy())
          }
          buf.iterator.map(_._2)
        }
      }.flatten
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SkylineExec =
    copy(child = newChild)
}
