package graft.skyline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.DoubleType
import graft.plans.{SkylineDim, SkylinePlan}

/** Public skyline operator over DataFrames.
  *
  * Strategy choice:
  *  - [[twoPhase]] (default): per-partition local skyline (map-side,
  *    zero shuffle) → shuffle only the tiny local skylines to one task →
  *    final merge. This is the right plan when the skyline is small
  *    relative to the input (the overwhelmingly common case — weeks of
  *    data, d ≲ 10). At 100 TB the phase-1 scan is embarrassingly
  *    parallel and the shuffle moves only |partitions| × |local sky|
  *    rows.
  *  - [[graft.skyline.SkyMr]]: the reference's quadtree-partitioned
  *    SKY-MR plan, for hostile (anti-correlated / high-d) data where
  *    local skylines are large and the final merge needs real
  *    parallelism.
  *
  * [[twoPhase]], [[grouped]], SkyMr's per-cell phase 1 and the
  * `SKYLINE OF` clause all plan through one logical node,
  * [[graft.plans.SkylinePlan]], executed as a partial and a final
  * [[graft.plans.SkylineExec]] over SFS-presorted input.
  *
  * Semantics (all paths): strict Pareto dominance, ties kept, rows with
  * any NULL/NaN/sentinel dim excluded — see [[SkylineSpec]].
  */
object SkylineOp {

  /** Internal normalized-vector column (dropped before returning). */
  val SKY = "__graft_sky"

  /** Normalized (MIN-convention, sentinel→null) dim expressions.
    * Temporal types are mapped to their epoch numeric (order-preserving)
    * so dominance compares them like any other dim; the original column
    * values pass through untouched in the output. Dims of any other
    * type fail analysis ([[graft.plans.SkylineDim]]).
    */
  def normalizedDims(df: DataFrame, spec: SkylineSpec): Seq[Column] =
    spec.dims.map { dim =>
      val base = ColumnBridge.column(SkylineDim(ColumnBridge.resolvedExpression(col(dim.col))))
      val nulled = dim.missing match {
        case Some(s) => when(base === lit(s), lit(null).cast(DoubleType)).otherwise(base)
        case None => base
      }
      nulled * lit(dim.dir.sign)
    }

  /** Rows whose every normalized dim is present. NaN dims are excluded
    * along with NULLs: NaN compares as "incomparable to everything" in
    * [[Dominance.compare]], which would let NaN rows survive every
    * skyline — treat them as missing instead. A plain Catalyst
    * predicate, so it is pushed below exchanges (and into parquet for
    * source columns).
    */
  private def complete(dims: Seq[Column]): Column =
    dims.map(d => d.isNotNull && !isnan(d)).reduce(_ && _)

  /** Append the normalized vector column and drop incomplete rows. */
  def prepare(df: DataFrame, spec: SkylineSpec): DataFrame = {
    val dims = normalizedDims(df, spec)
    df.filter(complete(dims)).withColumn(SKY, array(dims: _*))
  }

  def skyline(df: DataFrame, spec: SkylineSpec): DataFrame = twoPhase(df, spec)

  /** SFS presort (sort-filter-skyline, Chomicki et al. '03): order each
    * partition by ascending sum of the MIN-normalized dims before a
    * GSKY pass over [[prepare]]d rows, for the operators that run their
    * own pass (Skyband, Skycube). A dominator's sum is
    * never larger than its victim's, so it almost always sorts first:
    * the insert buffer rarely evicts, and the strongest dominators sit
    * at the front of the buffer, so the dominated-check early-exit fires
    * sooner. Measured 3.2× on the 9-dim GSOD shape (OPTIMIZATION_r16.md).
    * [[SkylinePlan]] gets the same order from SkylineExec's required
    * child ordering.
    */
  private[skyline] def sfsSorted(prep: DataFrame): DataFrame =
    prep.sortWithinPartitions(aggregate(col(SKY), lit(0.0), (a, x) => a + x))

  /** Skyline of `df` over MIN-convention DOUBLE `dims`, one per group of
    * `groups`: a [[SkylinePlan]] on top of `df`'s plan. */
  private[skyline] def planned(df: DataFrame, dims: Seq[Column], groups: Seq[Column]): DataFrame = {
    graft.sql.SkylineSql.register(df.sparkSession)
    DatasetBridge.ofRows(df.sparkSession, SkylinePlan(dims.map(ColumnBridge.resolvedExpression),
      groups.map(ColumnBridge.resolvedExpression), df.queryExecution.analyzed))
  }

  /** Local-skyline-then-merge plan. Phase 1 runs GSKY per input
    * partition with no shuffle; phase 2 shuffles only the survivors
    * (orders of magnitude smaller) into one task for the final GSKY.
    */
  def twoPhase(df: DataFrame, spec: SkylineSpec): DataFrame = {
    val dims = normalizedDims(df, spec)
    // Spread an under-partitioned input before the CPU-bound local
    // pass (no-op at real scale; see Partitioning.parallelize).
    planned(graft.util.Partitioning.parallelize(df.filter(complete(dims))), dims, Nil)
  }

  /** Per-group skyline: one independent skyline per distinct value of
    * `groupCols` (e.g. "best events per (event_type, day)").
    *
    * Plan: map-side partial skyline per (partition × group) — the
    * combiner trick from [[SkyMr]] — then one shuffle on the group key
    * and a final per-group GSKY. Input sorted by (group, SFS sum) lets
    * one task finish many groups one after another (no
    * one-task-per-group explosion); parallelism scales with the
    * group-key cardinality, which is the natural partitioning at 100 TB.
    */
  def grouped(df: DataFrame, spec: SkylineSpec, groupCols: Seq[String]): DataFrame = {
    // No Partitioning.parallelize here: interleaved A/B on the sf0.1
    // events workload (min-of-3, OPTIMIZATION_r16.md) measured the
    // spread at 0.86-0.90s vs 0.44s without — the extra plan + input
    // shuffle buys nothing because the phase-1 combiner is cheap at
    // low d and the phase-2 exchange on groupCols restores full
    // parallelism regardless.
    val dims = normalizedDims(df, spec)
    planned(df.filter(complete(dims)), dims, groupCols.map(col))
  }

  /** Declarative (anti-join) skyline, for small/medium inputs and as a
    * cross-check of the imperative paths: `p ∈ sky(T)` iff no `q ∈ T`
    * dominates `p`. Catalyst plans it as a broadcast nested-loop
    * anti-join; O(n²) — only sensible when `df` is small.
    */
  def antiJoin(df: DataFrame, spec: SkylineSpec): DataFrame = {
    val p = prepare(df, spec).alias("p")
    val q = prepare(df, spec).alias("q")
    // DominatesExpr: one fused codegen loop over the vectors instead of
    // 2d composed comparisons materializing intermediate booleans.
    p.join(q, DominatesExpr(col(s"q.$SKY"), col(s"p.$SKY")), "left_anti").drop(SKY)
  }
}
