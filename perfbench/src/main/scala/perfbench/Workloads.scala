package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.skyline.{Gsky, SkyMr, SkylineSpec}
import graft.sources.CommitLog
import graft.sql.{GraftSql, GraftTables, SkylineSql}

/** What one workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val work: Path, val tracer: Tracer)

/** One timed op: its wall time, whether its output checked out, and the
  * input rows it processed. */
final case class Outcome(wallS: Double, ok: Boolean, rows: Long,
    verb: String = "op", write: Boolean = false, note: String = "")

abstract class Workload(val ctx: Ctx) {
  def name: String
  /** The loop stops only at a multiple of this many ops, so every run
    * sees the same mix of statement kinds. */
  def roundLength: Int = 1
  def rowsDenominator: String
  /** Generate the inputs from the seed and write them; run several times
    * in a run, the last one's data stays. */
  def prepare(rep: Int): Unit
  /** The benchmark's own expected results; not part of set-up time. */
  def reference(): Unit = ()
  def warmup(): Unit
  def op(id: Int): Outcome
  /** Checks after the timed loop (whole-table state). */
  def finalCheck(): Boolean = true
  /** Generated sizes, as JSON members. */
  def sizes: Seq[(String, String)]
  /** Workload-specific per-layer metrics. `traced` are the ops run with
    * the listener on; `all` are every timed op of the run. */
  def layerMetrics(traced: Seq[(Int, Outcome)], all: Seq[Outcome],
      rec: Recorder): Map[String, Double]
  def cleanup(): Unit

  protected def spark: SparkSession = ctx.spark
  protected def tr: Tracer = ctx.tracer

  /** The timed part of an op: one `bench.op` span and its wall time. */
  protected def timed[T](body: => T): (T, Double) = tr.span("bench.op") {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
}

object Workload {
  val names = Seq("skymr_anti", "sql_skyline_indep", "commit_dml")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "skymr_anti" => new SkyMrAnti(ctx)
    case "sql_skyline_indep" => new SqlSkylineIndep(ctx)
    case "commit_dml" => new CommitDml(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** Shared shape of the two skyline workloads: a seeded point table
  * (`id`, `x0`..`x{d-1}`) written as parquet, each op a full skyline
  * over it, every result checked against [[RefSkyline]]. */
abstract class SkylineWorkload(ctx: Ctx) extends Workload(ctx) {
  def n: Int
  def d: Int
  def generate(seed: Long): Array[Array[Double]]
  /** Skyline cardinality the drawn point set must have (within 5%), and
    * the total of its per-file local skylines (within 3%); 0 takes the
    * first draw. */
  def targetRows: Int = 0
  def targetSurvivors: Int = 0

  protected val dir: Path = ctx.work.resolve("points")
  protected var dataSeed: Long = ctx.seed
  protected var draws = 0
  protected var survivors = 0
  protected var pts: Array[Array[Double]] = Array.empty
  protected var expected: Array[Long] = Array.empty
  protected var input: DataFrame = _

  def rowsDenominator = s"$n input points per op"
  protected def dims: Seq[String] = (0 until d).map(i => s"x$i")

  private def near(x: Int, target: Int, tol: Double) =
    target == 0 || math.abs(x - target) <= tol * target

  /** Draw point sets from the seed until one has the target sizes, so
    * that every seed asks for about the same work; keep that draw's
    * reference skyline as the expected result. The input is written as
    * one file per core, in the contiguous slices `parallelize` cuts, so
    * the per-file local skylines are computed on the same slices. */
  override def reference(): Unit = {
    var done = false
    while (!done) {
      dataSeed = ctx.seed * 1000003L + draws
      draws += 1
      pts = generate(dataSeed)
      val local = (0 until ctx.cores).flatMap { i =>
        val lo = (i.toLong * n / ctx.cores).toInt
        RefSkyline.indices(pts.slice(lo, ((i + 1L) * n / ctx.cores).toInt)).map(_ + lo)
      }.toArray
      survivors = local.length
      expected = RefSkyline.indices(local.map(pts)).map(i => local(i).toLong).sorted
      done = near(expected.length, targetRows, 0.05) && near(survivors, targetSurvivors, 0.03)
      if (!done && draws >= 200) throw new IllegalStateException(
        s"no draw of 200 has $targetRows skyline rows and $targetSurvivors local survivors")
    }
  }

  def prepare(rep: Int): Unit = {
    pts = generate(dataSeed)
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      dims.map(StructField(_, DoubleType, nullable = false)))
    val rows = pts.indices.map(i => Row.fromSeq(i.toLong +: pts(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), schema)
      .write.mode("overwrite").parquet(dir.toString)
    input = spark.read.parquet(dir.toString)
  }

  /** One skyline call, returning the collected result rows. */
  protected def run(): Array[Row]

  /** Untimed ops before the timed loop; the first ones run 2-5x slower,
    * and SkyMr ops keep speeding up for about eight. */
  def warmupOps: Int
  def warmup(): Unit = (0 until warmupOps).foreach { _ => run(); spark.catalog.clearCache() }

  def op(id: Int): Outcome = {
    val (rows, wall) = timed(run())
    val ids = rows.map(_.getLong(0)).sorted
    val ok = java.util.Arrays.equals(ids, expected)
    Outcome(wall, ok, n, note = if (ok) "" else
      s"${ids.length} result rows, expected ${expected.length}")
  }

  def sizes: Seq[(String, String)] = Seq(
    "rows" -> n.toString, "d" -> d.toString,
    "result_rows" -> expected.length.toString,
    "local_survivors" -> survivors.toString, "draws" -> draws.toString)

  /** Driver-side, single-threaded `Gsky.skyline` over a seeded sample of
    * the workload's points, with and without the sum presort. */
  protected def kernelNsPerPoint(): (Double, Double) = {
    val r = new Random(ctx.seed ^ 0x6b65726eL)
    val sample = Array.fill(math.min(n, 20000))(pts(r.nextInt(pts.length)))
    val sorted = sample.sortBy(_.sum)
    def time(xs: Array[Array[Double]]): Double = Workload.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Gsky.skyline(xs.iterator.map(v => (v, ())))
      (System.nanoTime() - t0).toDouble / xs.length
    })
    (time(sorted), time(sample))
  }

  def cleanup(): Unit = deleteTree(dir)
}

/** SKY-MR (the paper's algorithm) on its target data: anti-correlated
  * points, where local skylines are large and the merge needs
  * parallelism. */
final class SkyMrAnti(ctx: Ctx) extends SkylineWorkload(ctx) {
  val name = "skymr_anti"
  val n = 20000
  val d = 5
  val warmupOps = 8
  def generate(seed: Long) = Gen.antiCorrelated(n, d, seed)
  /** The quadtree is built over a quarter of the input, as the paper
    * samples (the default sample would be the whole input here). */
  val sampleSize = 5000
  private def spec = SkylineSpec.min(dims: _*)

  protected def run(): Array[Row] = {
    val df = tr.span("skyline.SkyMr.skyline")(SkyMr.skyline(input, spec, sampleSize = sampleSize))
    tr.span("skyline.materialize")(df.collect())
  }

  def layerMetrics(traced: Seq[(Int, Outcome)], all: Seq[Outcome],
      rec: Recorder): Map[String, Double] = {
    val (vpn, filters) = tr.span("skyline.SkyMr.skylineWithSummaries") {
      val (_, v, f) = SkyMr.skylineWithSummaries(input, spec, sampleSize = sampleSize)
      (v.collect().length, f.collect().length)
    }
    spark.catalog.clearCache()
    val (sortedNs, unsortedNs) = kernelNsPerPoint()
    Map("skyline.input_rows" -> n.toDouble,
      "skyline.result_rows" -> expected.length.toDouble,
      "skyline.cells" -> vpn.toDouble,
      "skyline.filter_points" -> filters.toDouble,
      "skyline.kernel_sorted_ns_per_point" -> sortedNs,
      "skyline.kernel_unsorted_ns_per_point" -> unsortedNs)
  }
}

/** `SKYLINE OF` through graft's SQL operator (`SkylinePlan` →
  * `SkylineExec`) over independent points. */
final class SqlSkylineIndep(ctx: Ctx) extends SkylineWorkload(ctx) {
  val name = "sql_skyline_indep"
  val n = 100000
  val d = 6
  val warmupOps = 6
  private val view = "perfbench_pts"
  def generate(seed: Long) = Gen.independent(n, d, seed)
  /** Means for 100k independent points in d=6, in four files: single
    * draws spread by about 8% (skyline) and 4% (local survivors) around
    * them, and the op time with them. */
  override def targetRows = 2400
  override def targetSurvivors = 5400

  override def prepare(rep: Int): Unit = {
    super.prepare(rep)
    input.createOrReplaceTempView(view)
  }

  private def query =
    s"SELECT * FROM $view SKYLINE OF ${dims.map(_ + " MIN").mkString(", ")}"

  protected def run(): Array[Row] = {
    val df = tr.span("plans.SkylineSql.sql")(SkylineSql.sql(spark, query))
    tr.span("plans.materialize")(df.collect())
  }

  def layerMetrics(traced: Seq[(Int, Outcome)], all: Seq[Outcome],
      rec: Recorder): Map[String, Double] = {
    // The merge is the op's one single-task stage that reads a shuffle;
    // the shuffle's records are the local survivors sent into it.
    val perOp = traced.map { case (id, _) =>
      val st = rec.stages.values.filter(s => s.op == id && s.done).toSeq
      val merge = st.filter(s => s.numTasks == 1 && s.shuffleReadRecs > 0)
      (merge.map(s => (s.completeMs - s.submitMs) / 1e3).sum,
        st.map(_.shuffleWriteRecs).sum.toDouble)
    }
    val survivors = Workload.median(perOp.map(_._2))
    val (sortedNs, unsortedNs) = kernelNsPerPoint()
    Map("skyline.input_rows" -> n.toDouble,
      "skyline.result_rows" -> expected.length.toDouble,
      "skyline.kernel_sorted_ns_per_point" -> sortedNs,
      "skyline.kernel_unsorted_ns_per_point" -> unsortedNs,
      "plans.merge_task_s" -> Workload.median(perOp.map(_._1)),
      "plans.local_survivors" -> survivors,
      "plans.merge_keep_frac" ->
        (if (survivors > 0) expected.length / survivors else 0.0))
  }

  override def cleanup(): Unit = {
    spark.catalog.dropTempView(view)
    super.cleanup()
  }
}

/** A seeded stream of single DML and read statements through
  * `GraftSql.sql` against a range-clustered commit-log table, checked
  * against an in-memory model of the table. */
final class CommitDml(ctx: Ctx) extends Workload(ctx) {
  val name = "commit_dml"
  val n = 100000
  val sourceRows = 500
  private val buckets = 64
  private val months = (0 until 24).map(i => f"${2019 + i / 12}-${i % 12 + 1}%02d")
  private val view = "perfbench_dml"
  private val srcView = "perfbench_dml_src"
  private val table = ctx.work.resolve("dml_table")
  private val schema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("ym", StringType, nullable = false),
    StructField("cents", LongType, nullable = false)))

  /** k -> (month index, cents): what the table must hold. */
  private val model = mutable.LongMap.empty[(Int, Long)]
  private var maxKey = 0L
  private val rnd = new Random(ctx.seed ^ 0x646d6cL)
  private val mix = Seq("SELECT", "INSERT", "UPDATE", "DELETE", "MERGE")
  private val queue = mutable.Queue.empty[String]
  private val verbCounts = mutable.LinkedHashMap(mix.map(_ -> 0): _*)
  private val written = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (op, files, bytes)
  private val commitsPerWrite = mutable.ArrayBuffer.empty[Long]

  override def roundLength: Int = mix.length
  def rowsDenominator = "table rows at statement start"

  def prepare(rep: Int): Unit = {
    if (rep > 0) {
      GraftTables.unregister(spark, table.toString, view)
      deleteTree(table)
    }
    val r = new Random(ctx.seed)
    model.clear()
    val rows = (0 until n).map { k =>
      val m = r.nextInt(months.length)
      val cents = r.nextInt(1000000).toLong
      model(k.toLong) = (m, cents)
      Row(k.toLong, months(m), cents)
    }
    maxKey = n - 1L
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), schema)
    tr.span("sources.CommitLog.replaceClustered") {
      CommitLog.replaceClustered(spark, df.withColumn("bk", col("ym")),
        table.toString, "bk", Seq("k", "ym"))
    }
    GraftTables.register(spark, table.toString, view)
  }

  private def version(): Long = tr.span("sources.CommitLog.currentVersion") {
    CommitLog.currentVersion(spark, table.toString).getOrElse(-1L)
  }

  private def inSlice(m: Int, b: Int)(k: Long, v: (Int, Long)): Boolean =
    v._1 == m && k % buckets == b

  /** One statement: its SQL, the model update to apply once it ran, and
    * the check of its result rows. */
  private def statement(verb: String): (String, () => Unit, Array[Row] => Boolean) = {
    val m = rnd.nextInt(months.length)
    val b = rnd.nextInt(buckets)
    val c = 1L + rnd.nextInt(999)
    val ym = months(m)
    val slice = s"ym = '$ym' AND k % $buckets = $b"
    verb match {
      case "SELECT" =>
        val sel = model.iterator.filter(_._2._1 == m).map(_._2._2).toSeq
        (s"SELECT count(*) AS n, sum(cents) AS s FROM $view WHERE ym = '$ym'",
          () => (),
          rows => rows.length == 1 && rows(0).getLong(0) == sel.length &&
            (if (sel.isEmpty) rows(0).isNullAt(1) else rows(0).getLong(1) == sel.sum))
      case "INSERT" =>
        val off = maxKey + 1
        (s"INSERT INTO $view SELECT k + $off, ym, cents + $c FROM $view WHERE $slice",
          () => model.filter { case (k, v) => inSlice(m, b)(k, v) }.toSeq.foreach {
            case (k, (mm, cc)) =>
              model(k + off) = (mm, cc + c)
              maxKey = math.max(maxKey, k + off)
          },
          _ => true)
      case "UPDATE" =>
        (s"UPDATE $view SET cents = cents + $c WHERE $slice",
          () => model.filter { case (k, v) => inSlice(m, b)(k, v) }.toSeq.foreach {
            case (k, (mm, cc)) => model(k) = (mm, cc + c)
          },
          _ => true)
      case "DELETE" =>
        (s"DELETE FROM $view WHERE $slice",
          () => model.filter { case (k, v) => inSlice(m, b)(k, v) }.keys.foreach(model.remove),
          _ => true)
      case "MERGE" =>
        val matched = mutable.LinkedHashSet.empty[Long]
        while (matched.size < sourceRows / 2) {
          val k = rnd.nextInt(n).toLong
          if (model.contains(k)) matched += k
        }
        val src = matched.toSeq.map(k => (k, model(k)._1, rnd.nextInt(1000000).toLong)) ++
          (1 to sourceRows - matched.size).map(i =>
            (maxKey + i, rnd.nextInt(months.length), rnd.nextInt(1000000).toLong))
        spark.createDataFrame(src.map { case (k, mm, cc) => Row(k, months(mm), cc) }.asJava,
          schema).createOrReplaceTempView(srcView)
        (s"""MERGE INTO $view AS t USING $srcView AS src ON t.k = src.k
            |WHEN MATCHED THEN UPDATE SET cents = src.cents
            |WHEN NOT MATCHED THEN INSERT (k, ym, cents)
            |  VALUES (src.k, src.ym, src.cents)""".stripMargin,
          () => src.foreach { case (k, mm, cc) =>
            model(k) = (model.get(k).map(_._1).getOrElse(mm), cc)
            maxKey = math.max(maxKey, k)
          },
          _ => true)
    }
  }

  private def files(): Map[String, Long] =
    if (!java.nio.file.Files.exists(table)) Map.empty
    else java.nio.file.Files.walk(table).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap

  private def runVerb(verb: String, id: Int): Outcome = {
    val rowsAtStart = model.size.toLong
    val (sql, apply, check) = statement(verb)
    val write = verb != "SELECT"
    val before = if (write) version() else 0L
    val filesBefore = if (write && tr.enabled) files() else Map.empty[String, Long]
    val (rows, wall) = timed {
      val df = tr.span("sql.GraftSql.sql")(GraftSql.sql(spark, sql))
      tr.span("sql.materialize")(df.collect())
    }
    apply()
    verbCounts(verb) += 1
    val ok = check(rows) && (!write || {
      val commits = version() - before
      commitsPerWrite += commits
      commits == 1
    })
    if (write && tr.enabled) {
      val added = files().filter { case (p, _) => !filesBefore.contains(p) }
      written += ((id, added.size.toLong, added.values.sum))
    }
    Outcome(wall, ok, rowsAtStart, verb, write,
      if (ok) "" else s"$verb check failed: $sql")
  }

  private def nextVerb(): String = {
    if (queue.isEmpty) queue ++= rnd.shuffle(mix)
    queue.dequeue()
  }

  /** Two rounds: every statement kind's code path runs twice before
    * timing. */
  def warmup(): Unit = (mix ++ mix).foreach(v => runVerb(v, -1))

  def op(id: Int): Outcome = runVerb(nextVerb(), id)

  override def finalCheck(): Boolean = {
    val r = GraftSql.sql(spark,
      s"SELECT count(*) AS n, sum(cents) AS s, sum(k) AS ks FROM $view").collect()
    r.length == 1 && r(0).getLong(0) == model.size &&
      r(0).getLong(1) == model.valuesIterator.map(_._2).sum &&
      r(0).getLong(2) == model.keysIterator.sum
  }

  def sizes: Seq[(String, String)] = Seq(
    "rows" -> n.toString, "months" -> months.length.toString,
    "merge_source_rows" -> sourceRows.toString,
    "rows_end" -> model.size.toString,
    "statements_run" -> verbCounts.map { case (v, c) => s""""$v":$c""" }
      .mkString("{", ",", "}"))

  def layerMetrics(traced: Seq[(Int, Outcome)], all: Seq[Outcome],
      rec: Recorder): Map[String, Double] = {
    val verbS = mix.map { v =>
      s"sql.${v.toLowerCase}_s" -> Workload.median(all.filter(_.verb == v).map(_.wallS))
    }
    val writes = traced.filter(_._2.write)
    val writeIds = writes.map(_._1).toSet
    val jobs = rec.jobs.values.count(j => writeIds(j.op))
    val w = written.filter(x => writeIds(x._1))
    val live = tr.span("sources.CommitLog.liveFiles") {
      CommitLog.liveFiles(spark, table.toString, version())
    }
    val all_ = files()
    val liveBytes = live.map(f => all_.getOrElse(table.resolve(f).toString, 0L)).sum
    def per(x: Double) = if (writes.isEmpty) 0.0 else x / writes.length
    (verbS ++ Seq(
      "sql.jobs_per_write" -> per(jobs.toDouble),
      "sources.commits_per_write" ->
        (if (commitsPerWrite.isEmpty) 0.0 else commitsPerWrite.sum.toDouble / commitsPerWrite.length),
      "sources.files_written_per_write" -> per(w.map(_._2).sum.toDouble),
      "sources.mb_written_per_write" -> per(w.map(_._3).sum / 1e6),
      "sources.live_files_end" -> live.size.toDouble,
      "sources.space_amp" -> (if (liveBytes > 0) all_.values.sum.toDouble / liveBytes else 0.0)
    )).toMap
  }

  def cleanup(): Unit = {
    GraftTables.unregister(spark, table.toString, view)
    spark.catalog.dropTempView(srcView)
    deleteTree(table)
  }
}
