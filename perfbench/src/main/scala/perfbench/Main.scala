package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>`.
  *
  * One client in a closed loop: the next op starts once the previous op's
  * result is materialized (collected) and checked, with the Spark cache
  * cleared in between. The untraced run reports the end-to-end metrics.
  * The traced run spends half its time untraced and half with a
  * SparkListener, a QueryExecutionListener and spans on, and reports the
  * per-layer metrics. The last stdout line is the result JSON.
  */
object Main {

  val perLayer: Seq[(String, String)] = Seq(
    "spark.sql_execs_per_op" -> "count", "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.executor_run_s_per_op" -> "s", "spark.executor_cpu_s_per_op" -> "s",
    "spark.gc_s_per_op" -> "s", "spark.shuffle_write_mb_per_op" -> "MB",
    "spark.spill_mb_per_op" -> "MB", "spark.input_mb_per_op" -> "MB",
    "spark.driver_gap_s_per_op" -> "s", "spark.cpu_util" -> "ratio",
    "catalyst.analysis_ms_per_op" -> "ms", "catalyst.optimization_ms_per_op" -> "ms",
    "catalyst.planning_ms_per_op" -> "ms",
    "skyline.build_s" -> "s", "skyline.materialize_s" -> "s",
    "skyline.input_rows" -> "count", "skyline.result_rows" -> "count",
    "skyline.cells" -> "count", "skyline.filter_points" -> "count",
    "skyline.kernel_sorted_ns_per_point" -> "ns",
    "skyline.kernel_unsorted_ns_per_point" -> "ns",
    "plans.parse_ms" -> "ms", "plans.materialize_s" -> "s",
    "plans.merge_task_s" -> "s", "plans.local_survivors" -> "count",
    "plans.merge_keep_frac" -> "ratio",
    "sql.insert_s" -> "s", "sql.merge_s" -> "s", "sql.delete_s" -> "s",
    "sql.update_s" -> "s", "sql.select_s" -> "s", "sql.jobs_per_write" -> "count",
    "sources.commits_per_write" -> "ratio", "sources.files_written_per_write" -> "count",
    "sources.mb_written_per_write" -> "MB", "sources.live_files_end" -> "count",
    "sources.space_amp" -> "ratio",
    "bench.self_s_per_op" -> "s", "skyline.self_s_per_op" -> "s",
    "plans.self_s_per_op" -> "s", "sql.self_s_per_op" -> "s",
    "spark.job_self_s_per_op" -> "s",
    "runtime.trace_overhead_frac" -> "ratio", "runtime.tmp_dirs_left" -> "count")

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else x.toString

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val out = Paths.get(arg(args, "out")).toAbsolutePath
    require(Workload.names.contains(workload), s"unknown workload '$workload'")
    val cores = Runtime.getRuntime.availableProcessors
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext

    val tracer = new Tracer
    val wl = Workload(workload, new Ctx(spark, seed, cores, work, tracer))
    def secs[T](body: => T): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    val refS = secs(wl.reference())
    val prepS = (0 until 3).map(rep => secs(wl.prepare(rep)))
    val warmS = secs(wl.warmup())
    spark.catalog.clearCache()
    val setupS = sessionS + Workload.median(prepS) + warmS

    var nextId = 0
    def loop(budgetS: Double): Seq[(Int, Outcome)] = {
      val done = mutable.ArrayBuffer.empty[(Int, Outcome)]
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while ((elapsed < budgetS || done.length % wl.roundLength != 0 || done.length < 3) &&
          elapsed < 4 * budgetS + 60) {
        val id = nextId
        nextId += 1
        tracer.op = id
        sc.setLocalProperty("perfbench.op", id.toString)
        val o = try wl.op(id) catch {
          case NonFatal(e) => Outcome(0.0, ok = false, 0L, note = e.toString)
        }
        sc.setLocalProperty("perfbench.op", null)
        tracer.op = -1
        spark.catalog.clearCache()
        if (!o.ok) Console.err.println(s"[perfbench] op $id failed: ${o.note}")
        done += id -> o
      }
      done.toSeq
    }

    val untraced = loop(if (trace) seconds / 2 else seconds)
    val rec = new Recorder
    val traced = if (!trace) Seq.empty else {
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      tracer.enabled = true
      try loop(seconds / 2)
      finally {
        org.apache.spark.perfbench.Bus.drain(sc)
        spark.listenerManager.unregister(rec)
        sc.removeSparkListener(rec)
      }
    }
    val all = (untraced ++ traced).map(_._2)
    val finalOk = try wl.finalCheck() catch {
      case NonFatal(e) => Console.err.println(s"[perfbench] final check: $e"); false
    }

    // ---- end-to-end ------------------------------------------------------
    def p50(xs: Seq[(Int, Outcome)]) = Workload.median(xs.map(_._2.wallS))
    val walls = untraced.map(_._2.wallS).sorted
    val n = walls.length
    // the highest percentile with at least 10 samples beyond it
    val (tail, tailRank) = if (n > 10) (walls(n - 11), n - 10) else (walls.last, n)
    val timedS = untraced.map(_._2.wallS).sum
    val rowsPerS = untraced.map(_._2.rows).sum / timedS
    val failed = all.count(!_.ok) + (if (finalOk) 0 else 1)
    val attempted = all.length + 1

    // ---- per layer -------------------------------------------------------
    val layer = mutable.LinkedHashMap(perLayer.map(_._1 -> 0.0): _*)
    if (trace) {
      layer ++= wl.layerMetrics(traced, all, rec)
      val spans = tracer.spans
      val opSpans = spans.filter(s => s.name == "bench.op" && s.op >= 0)
      val ops = opSpans.length.max(1).toDouble
      val ids = opSpans.map(_.op).toSet
      val stages = rec.stages.values.filter(s => ids(s.op) && s.done).toSeq
      val jobs = rec.jobs.values.filter(j => ids(j.op) && j.endMs >= 0).toSeq
      val wallS = opSpans.map(_.durMs).sum / 1e3
      def perOp(x: Double) = x / ops
      layer("spark.sql_execs_per_op") = perOp(opSpans.map { s =>
        rec.sqlExecStartsMs.count(t => t >= math.floor(s.startMs) && t <= math.ceil(s.endMs))
      }.sum.toDouble)
      layer("spark.jobs_per_op") = perOp(jobs.length.toDouble)
      layer("spark.stages_per_op") = perOp(stages.length.toDouble)
      layer("spark.tasks_per_op") = perOp(stages.map(_.tasks).sum.toDouble)
      layer("spark.executor_run_s_per_op") = perOp(stages.map(_.runMs).sum / 1e3)
      val cpuS = stages.map(_.cpuNs).sum / 1e9
      layer("spark.executor_cpu_s_per_op") = perOp(cpuS)
      layer("spark.gc_s_per_op") = perOp(stages.map(_.gcMs).sum / 1e3)
      layer("spark.shuffle_write_mb_per_op") = perOp(stages.map(_.shuffleWriteB).sum / 1e6)
      layer("spark.spill_mb_per_op") = perOp(stages.map(_.spillB).sum / 1e6)
      layer("spark.input_mb_per_op") = perOp(stages.map(_.inputB).sum / 1e6)
      val jobIv = jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
      layer("spark.driver_gap_s_per_op") = perOp(opSpans.map { s =>
        s.durMs - Intervals.covered(jobIv, s.startMs, s.endMs)
      }.sum / 1e3)
      layer("spark.cpu_util") = if (wallS > 0) cpuS / (wallS * cores) else 0.0
      val cat = rec.catalyst.filter(p => opSpans.exists(s =>
        p.startMs >= math.floor(s.startMs) && p.startMs <= math.ceil(s.endMs)))
      layer("catalyst.analysis_ms_per_op") = perOp(cat.map(_.analysisMs).sum.toDouble)
      layer("catalyst.optimization_ms_per_op") = perOp(cat.map(_.optimizationMs).sum.toDouble)
      layer("catalyst.planning_ms_per_op") = perOp(cat.map(_.planningMs).sum.toDouble)
      def medianSpan(name: String) =
        Workload.median(spans.filter(s => s.name == name && ids(s.op)).map(_.durMs / 1e3))
      if (workload == "skymr_anti") {
        layer("skyline.build_s") = medianSpan("skyline.SkyMr.skyline")
        layer("skyline.materialize_s") = medianSpan("skyline.materialize")
      }
      if (workload == "sql_skyline_indep") {
        layer("plans.parse_ms") = medianSpan("plans.SkylineSql.sql") * 1e3
        layer("plans.materialize_s") = medianSpan("plans.materialize")
      }
      // Self time: a span's duration minus what its child spans cover;
      // Spark jobs are children of the innermost span open at job start.
      val inOps = spans.filter(s => ids(s.op))
      val jobParent = jobs.map { j =>
        j -> inOps.filter(s => s.op == j.op && s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(-_.startMs).headOption.map(_.id).getOrElse(-1)
      }
      inOps.groupBy(_.layer).foreach { case (l, ss) =>
        val self = ss.map { s =>
          val kids = inOps.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
            jobParent.filter(_._2 == s.id).map(j => (j._1.startMs.toDouble, j._1.endMs.toDouble))
          s.durMs - Intervals.covered(kids, s.startMs, s.endMs)
        }.sum / 1e3
        if (layer.contains(s"$l.self_s_per_op")) layer(s"$l.self_s_per_op") = perOp(self)
      }
      layer("spark.job_self_s_per_op") = perOp(jobs.map(j => j.endMs - j.startMs).sum / 1e3)
      layer("runtime.trace_overhead_frac") = p50(traced) / p50(untraced) - 1
      writeSpans(out, workload, seed, spans, jobParent.map(x => (x._1, x._2)))
    }

    val sizes = wl.sizes
    wl.cleanup()
    spark.catalog.clearCache()
    layer("runtime.tmp_dirs_left") = if (!Files.isDirectory(tmpDir)) 0.0 else {
      val s = Files.list(tmpDir)
      try s.filter(_.getFileName.toString.startsWith("graft_")).count().toDouble
      finally s.close()
    }

    // ---- report ----------------------------------------------------------
    val failedFrac = failed.toDouble / attempted
    val pct = 100.0 * tailRank / n
    println(s"perfbench workload=$workload seed=$seed cores=$cores trace=${if (trace) 1 else 0}")
    println("sizes " + sizes.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    println("op_walls_s " + untraced.map(o => f"${o._2.wallS}%.3f").mkString("[", ", ", "]"))
    println(f"op_p50_s = ${p50(untraced)}%.4f s  (n=$n untraced ops)")
    println(f"op_tail_s = $tail%.4f s  (p$pct%.1f of n=$n, ${n - tailRank} samples beyond)")
    println(f"rows_per_s = $rowsPerS%.1f rows/s  (${wl.rowsDenominator}; $timedS%.2f s timed)")
    println(f"failed_frac = $failedFrac%.4f ratio  ($failed of $attempted: ops plus the final check)")
    println(f"setup_s = $setupS%.3f s  (session $sessionS%.2f + median prepare " +
      prepS.map(x => f"$x%.2f").mkString("[", ", ", "]") + f" + warm-up $warmS%.2f; " +
      f"reference $refS%.2f s excluded)")
    if (trace) perLayer.foreach { case (k, u) => println(s"$k = ${num(layer(k))} $u") }

    val metrics: Seq[(String, Double, String)] =
      if (trace) perLayer.map { case (k, u) => (k, layer(k), u) }
      else Seq(("op_p50_s", p50(untraced), "s"), ("rows_per_s", rowsPerS, "rows/s"),
        ("setup_s", setupS, "s"))
    spark.stop()
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}}""")
  }

  private def writeSpans(out: Path, workload: String, seed: Long, spans: Seq[Span],
      jobs: Seq[(Recorder#JobRec, Int)]): Unit = {
    Files.createDirectories(out)
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "op": ${s.op}, "parent": ${s.parent}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""") ++
      jobs.map { case (j, parent) =>
        s"""{"id": "job-${j.id}", "name": "spark.job", "op": ${j.op}, "parent": $parent, """ +
          s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}}"""
      }
    Files.writeString(out.resolve(s"spans-$workload-seed$seed.json"),
      lines.mkString("[\n", ",\n", "\n]\n"))
  }
}
