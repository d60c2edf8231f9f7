package graft.skyline

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** SKY-MR: the reference's quadtree-partitioned two-phase skyline
  * (Skyline.java + GlobalSkyline.java, per Park/Min/Shim PVLDB'13),
  * re-expressed as a single Spark job graph.
  *
  * Plan:
  *  1. bounds + count:  one `agg` over the normalized dims (replaces the
  *     manual Job-1 → hardcoded-root handoff, Skyline.java:365-366);
  *  2. driver quadtree over a seeded sample (the paper samples; the
  *     reference driver-reads the WHOLE input, Skyline.java:355-363 — we
  *     follow the paper), broadcast to executors;
  *  3. cellId routing column; points routed into pruned cells dropped
  *     (LSkyMapper.java:45-50);
  *  4. phase 1 — per-cell local skyline with a map-side partial pass
  *     (the reference registers its reducer as combiner,
  *     Skyline.java:408), then one shuffle keyed by cell;
  *  5. per-cell VPn (component-wise max of local skyline,
  *     LSkyReducer.java:19-31) and per-dim argmin sky-filter points
  *     (LSkyReducer.java:20-49) via one tiny aggregate, collected and
  *     broadcast (replacing MultipleOutputs + manual file concat);
  *  6. phase 2 — sky-filter broadcast pre-filter (GSkyMapper.java:80-84),
  *     then dominance replication: each survivor goes to its own cell as
  *     a candidate and, as a probe, to every other cell that may contain
  *     points it dominates (region [[CellAlgebra.mayDominate]] — the
  *     CORRECTED condition, see CellAlgebra doc — refined per point by a
  *     strict-dominance test against the target's VPn,
  *     GSkyMapper.java:89-95, with the target-key bug fixed);
  *  7. parallel final elimination per cell (GSkyReducer.java:4-37):
  *     candidates dominated by any probe are dropped; probes are not
  *     re-emitted (the reference echoes `*` rows — an output quirk we do
  *     not keep).
  *
  * Scale story vs [[SkylineOp.twoPhase]]: the final merge is parallel
  * across cells instead of a single task, and the VPn/sky-filter pruning
  * bounds both the pre-filter survivors and the replication fanout —
  * this is the plan for anti-correlated / high-d data where local
  * skylines grow with partition size. Driver-side state is O(sample +
  * cells·d), broadcast state likewise; no collect ever touches data
  * rows, only cell metadata.
  */
object SkyMr {

  val CELL = "__graft_cell"
  val PROBE = "__graft_probe"

  def skyline(
      df: DataFrame,
      spec: SkylineSpec,
      maxp: Int = 256,
      maxDepth: Int = 8,
      sampleSize: Int = 20000,
      seed: Long = 42L,
      sampleFilterK: Int = 0,
      cellPrune: Boolean = false): DataFrame =
    skylineWithSummaries(df, spec, maxp, maxDepth, sampleSize, seed,
      sampleFilterK, cellPrune)._1

  /** [[skyline]] plus the phase-1 summary side outputs the reference
    * writes as MultipleOutputs "vpn" and "filter" streams
    * (Skyline.java:419-420, LSkyReducer.java:41-48): per-cell VPn
    * corner vectors and the deduped sky-filter points, as DataFrames
    * (cell int + array<double> / array<double>). They are cell
    * metadata — dozens to thousands of rows — materialized from the
    * same single aggregate pass the pipeline already runs.
    */
  /** @param sampleFilterK 0 disables (default); K > 0 broadcasts the K
    *   ascending-sum-strongest points of the SAMPLE's skyline as an
    *   extra row pre-filter ahead of phase 1 (sound: a row strictly
    *   dominated by any point cannot be in the global skyline; ties
    *   survive because dominance is strict). Capped at K so the per-row
    *   cost stays bounded when the d-dimensional sample skyline is
    *   large — the cap is what makes it pay: at d=9/sf0.1 K=64 wins
    *   ~18% (4.4s vs 5.4s, interleaved A/B in both slot orders,
    *   tools/Gsod9Probe) while K≥512 gives the win back to per-row
    *   filter cost. Default off; opt in per workload.
    * @param cellPrune drop a WHOLE CELL before the phase-1 shuffle when
    *   some sample-skyline point dominates the cell's lower corner —
    *   sound because every routed point is ≥ the corner per dim, so a
    *   dominator of the corner dominates them all (and cannot itself
    *   sit in the cell: it would have to dominate itself). Unlike the
    *   capped row filter this uses the FULL sample skyline — the cost
    *   is cells × sample-sky dominance checks on the DRIVER, never per
    *   row. Rows it drops are a superset check at cell granularity of
    *   what the row filter would drop; the win is cutting routing/
    *   phase-1 work without per-row filter cost. Default off; opt in
    *   per workload after an A/B (tools/Gsod9Probe).
    */
  def skylineWithSummaries(
      df: DataFrame,
      spec: SkylineSpec,
      maxp: Int = 256,
      maxDepth: Int = 8,
      sampleSize: Int = 20000,
      seed: Long = 42L,
      sampleFilterK: Int = 0,
      cellPrune: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val d = spec.d
    // prep feeds three passes (bounds agg, tree sample, routing) —
    // persist so the scan+filter+normalize runs once.
    // Deliberately NOT spread across more partitions when the input
    // arrives under-partitioned (contrast SkylineOp.twoPhase): the
    // phase-1 combiner's reduction improves with partition size —
    // fewer, bigger partitions emit fewer per-(partition, cell)
    // survivors into the keyed shuffle and phase 2. Interleaved A/B at
    // d=9 / sf0.1 (tools/Gsod9Probe): 3-partition input consistently
    // beats 8 which beats 32 (best rep: 8.7 s / 12.0 s / 19.0 s) — the
    // extra survivors flood replication. Phase 2 is cluster-wide
    // either way (repartition by cell).
    val prep = SkylineOp.prepare(df, spec).persist(StorageLevel.MEMORY_AND_DISK)
    val skyIdx = prep.schema.fieldIndex(SkylineOp.SKY)

    // -- 1+2. ONE pass: exact per-dim bounds + per-partition reservoir
    // sample → driver tree → broadcast. (Formerly two jobs — a bounds
    // agg then a sample scan; folding them halves the full-input scans
    // before phase 1.) The bounds must stay EXACT even though the
    // sample is approximate: a point outside the root bounds would sit
    // outside its routed cell's nominal region, and the region-algebra
    // replication filter (CellAlgebra.mayDominate over cell ids) would
    // under-replicate it — a correctness bug, not a quality loss. The
    // reservoir is per-partition (Vitter's Algorithm R, seeded by
    // partition id) and the driver takes a seeded shuffle of the
    // union; partition-size skew can under-represent big partitions in
    // the merged sample, which only shapes tree quality, never results.
    import spark.implicits._
    val prepParts = math.max(1, prep.rdd.getNumPartitions)
    val kPerPart = math.max(32, math.ceil(sampleSize.toDouble / prepParts).toInt)
    val perPart = prep.select(col(SkylineOp.SKY)).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val rnd = new java.util.Random(seed ^ (pid.toLong * 0x9e3779b97f4a7c15L))
        val res = new Array[Array[Double]](kPerPart)
        var cnt = 0L
        val plo = Array.fill(d)(Double.PositiveInfinity)
        val phi = Array.fill(d)(Double.NegativeInfinity)
        it.foreach { r =>
          val v = Gsky.vecOf(r, 0)
          var i = 0
          while (i < d) {
            if (v(i) < plo(i)) plo(i) = v(i)
            if (v(i) > phi(i)) phi(i) = v(i)
            i += 1
          }
          if (cnt < kPerPart) res(cnt.toInt) = v
          else {
            val j = (rnd.nextDouble() * (cnt + 1)).toLong
            if (j < kPerPart) res(j.toInt) = v
          }
          cnt += 1
        }
        if (cnt == 0) Iterator.empty
        else Iterator.single((cnt, plo, phi, res.take(math.min(cnt, kPerPart.toLong).toInt)))
      }
      .collect()
    val n = perPart.iterator.map(_._1).sum
    if (n == 0) {
      val emptyVec = Seq.empty[(Int, Seq[Double])].toDF("cell", "vec")
      return (prep.drop(SkylineOp.SKY), emptyVec,
        Seq.empty[Seq[Double]].toDF("vec"))
    }
    val lo = Array.tabulate(d)(i => perPart.iterator.map(_._2(i)).min)
    // Nudge hi so max-valued points still route into the top half-open cell.
    val hi = Array.tabulate(d) { i =>
      val h = perPart.iterator.map(_._3(i)).max
      if (h == lo(i)) h + 1.0 else h
    }
    val sample = new scala.util.Random(seed)
      .shuffle(perPart.iterator.flatMap(_._4).toIndexedSeq)
      .take(sampleSize).toArray
    val tree = QuadTree.build(sample, lo, hi, maxp, maxDepth)
    val bcTree = spark.sparkContext.broadcast(tree)

    // Full sample skyline, driver-side (SFS-sorted GSKY over
    // ≤ sampleSize vectors), ascending-sum order — shared by the row
    // pre-filter (truncated to K) and the cell-level prune (full).
    val sampleSkyFull: Array[Array[Double]] =
      if (sampleFilterK <= 0 && !cellPrune) Array.empty
      else {
        val buf = Gsky.emptyBuf[Unit]
        sample.sortBy(_.sum).foreach(v => Gsky.insert(buf, v, ()))
        buf.iterator.map(_._1).toArray.sortBy(_.sum)
      }

    // Optional sample-skyline row pre-filter (see scaladoc), truncated
    // to the K ascending-sum strongest dominators.
    val preFiltered = if (sampleFilterK <= 0) prep else {
      val sampleSky = sampleSkyFull.take(sampleFilterK)
      val bcSampleSky = spark.sparkContext.broadcast(sampleSky)
      prep.filter { (r: Row) =>
        val v = Gsky.vecOf(r, skyIdx)
        !bcSampleSky.value.exists(s => Dominance.dominates(s, v))
      }
    }

    // -- 3. routing column; pruned-cell rows dropped ---------------------
    // Cell-level prune (see scaladoc): cells whose lower corner is
    // dominated by any full-sample-skyline point route to -1 like the
    // region-algebra-pruned ones. cells × sample-sky checks, driver-side.
    val routeUdf = if (cellPrune) {
      val dominated = Array.tabulate(tree.leafCount)(ord =>
        sampleSkyFull.exists(s => Dominance.dominates(s, tree.leafLos(ord))))
      val bcDominated = spark.sparkContext.broadcast(dominated)
      udf { (v: Seq[Double]) =>
        val c = bcTree.value.route(v.toArray)
        if (c >= 0 && bcDominated.value(c)) -1 else c
      }
    } else udf((v: Seq[Double]) => bcTree.value.route(v.toArray))
    val routed = preFiltered.withColumn(CELL, routeUdf(col(SkylineOp.SKY)))
      .filter(col(CELL) >= 0)
    val schema = routed.schema
    val enc = Encoders.row(schema)
    val cellIdx = schema.fieldIndex(CELL)

    // -- 4. phase 1: local skyline per cell, with map-side combine ------
    // One SkylinePlan grouped by cell over the already-normalized
    // vector: a partial skyline per (partition, cell), then an exchange
    // on the cell carrying only local-sky survivors, both SFS-presorted.
    val localSky = SkylineOp.planned(routed,
      (0 until d).map(i => col(SkylineOp.SKY)(i)), Seq(col(CELL)))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // -- 5. VPn + per-dim argmin sky-filter points (cell metadata only) --
    val dimCol = (i: Int) => element_at(col(SkylineOp.SKY), i + 1)
    val metaAggs = (0 until d).flatMap { i =>
      Seq(max(dimCol(i)).as(s"__vpn_$i"),
        min_by(col(SkylineOp.SKY), dimCol(i)).as(s"__flt_$i"))
    }
    val meta = localSky.groupBy(col(CELL)).agg(metaAggs.head, metaAggs.tail: _*).collect()
    val vpns: Map[Int, Array[Double]] = meta.map { r =>
      r.getInt(0) -> Array.tabulate(d)(i => r.getDouble(1 + 2 * i))
    }.toMap
    val filters: Array[Array[Double]] = meta
      .flatMap(r => (0 until d).map(i => Gsky.vecOf(r, 2 + 2 * i).toSeq))
      .distinct // content dedup (reference sort+adjacent-unique, LSkyReducer.java:38-49)
      .map(_.toArray)
    // Replication targets per cell, precomputed on the driver over the
    // (cells × cells) metadata — dozens–hundreds of ids, never data rows.
    val ids = tree.leafIds
    val targets: Map[Int, Array[Int]] = vpns.keys.map { a =>
      a -> vpns.keys.filter(t => t != a && CellAlgebra.mayDominate(ids(a), ids(t), d)).toArray
    }.toMap
    val bcVpns = spark.sparkContext.broadcast(vpns)
    val bcFilters = spark.sparkContext.broadcast(filters)
    val bcTargets = spark.sparkContext.broadcast(targets)

    // -- 6. phase 2: sky-filter pre-filter, then dominance replication --
    val schema2 = schema.add(PROBE, org.apache.spark.sql.types.BooleanType)
    val enc2 = Encoders.row(schema2)
    val replicated = localSky
      .filter { r =>
        val v = Gsky.vecOf(r, skyIdx)
        !bcFilters.value.exists(f => Dominance.dominates(f, v))
      }
      .flatMap { r =>
        val cell = r.getInt(cellIdx)
        val v = Gsky.vecOf(r, skyIdx)
        val base = r.toSeq
        val own = Row.fromSeq(base :+ false)
        val probes = bcTargets.value.getOrElse(cell, Array.empty[Int]).iterator
          .filter(t => Dominance.dominates(v, bcVpns.value(t)))
          .map { t =>
            val s = base.toArray
            s(cellIdx) = t
            Row.fromSeq(s.toIndexedSeq :+ true)
          }
        Iterator.single(own) ++ probes
      }(enc2)

    // -- 7. parallel final elimination per cell --------------------------
    val probeIdx = schema2.fieldIndex(PROBE)
    val globalSky = replicated
      .repartition(col(CELL))
      .mapPartitions { it =>
        val cand = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Array[Double], Row)]]
        val probes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Array[Double]]]
        it.foreach { r =>
          val cell = r.getInt(cellIdx)
          val v = Gsky.vecOf(r, skyIdx)
          if (r.getBoolean(probeIdx)) probes.getOrElseUpdate(cell, mutable.ArrayBuffer.empty) += v
          else cand.getOrElseUpdate(cell, mutable.ArrayBuffer.empty) += ((v, r))
        }
        cand.iterator.flatMap { case (cell, cs) =>
          // Strongest dominators first (ascending normalized sum) so the
          // exists-scan short-circuits early — the SFS trick applied to
          // the probe list (sorting |probes| once beats scanning them in
          // arrival order |candidates| times).
          val ps = probes.getOrElse(cell, mutable.ArrayBuffer.empty).sortBy(_.sum)
          cs.iterator
            .filter { case (v, _) => !ps.exists(p => Dominance.dominates(p, v)) }
            .map { case (_, r) => Row.fromSeq(r.toSeq.init) } // drop probe flag
        }
      }(enc)

    val vpnDf = vpns.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "vec")
    val filterDf = filters.toSeq.map(_.toSeq).toDF("vec")
    (globalSky.drop(CELL, SkylineOp.SKY), vpnDf, filterDf)
  }
}
