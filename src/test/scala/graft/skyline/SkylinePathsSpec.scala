package graft.skyline

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.sql.SkylineSql

/** Differential property spec: every batch skyline entry point —
  * `twoPhase`, `grouped` (per group), `SKYLINE OF`, `SkyMr.skyline`
  * (small `maxp`, so many cells) and `antiJoin` — against
  * [[Gsky.bruteForce]] on seeded scalacheck inputs built to break
  * skyline code: ties and duplicates from small integer domains,
  * NULL/NaN/sentinel dims, anti-correlated points, d = 1..9, MIN/MAX
  * mixes, numeric and DATE/TIMESTAMP/TIMESTAMP_NTZ dims, 1–7 input
  * partitions.
  */
class SkylinePathsSpec extends SparkSpec {

  /** One dim: its column type, direction and optional sentinel. */
  private case class Dim(dt: DataType, dir: Direction, sentinel: Option[Double])

  /** Raw cells are small numbers (None = NULL), mapped onto each
    * column type order-preservingly, so the brute force can rank the
    * raw numbers directly. `g` is the grouping key (None = NULL). */
  private case class Case(dims: Seq[Dim], rows: Seq[(Option[Int], Seq[Option[Double]])], parts: Int) {
    def spec: SkylineSpec = SkylineSpec(dims.zipWithIndex.map { case (dm, i) =>
      SkyDim(s"d$i", dm.dir, dm.sentinel)
    })
  }

  private val Sentinel = 99.0

  private def value(dt: DataType, v: Double): Any = dt match {
    case DoubleType => v
    case IntegerType => v.toInt
    case _: DecimalType => java.math.BigDecimal.valueOf(v)
    case DateType => LocalDate.ofEpochDay(19000L + v.toLong)
    case TimestampType => Instant.ofEpochSecond(1700000000L + v.toLong * 3600)
    case TimestampNTZType =>
      LocalDateTime.ofEpochSecond(1700000000L + v.toLong * 3600, 0, ZoneOffset.UTC)
  }

  private def frame(c: Case): DataFrame = {
    val schema = StructType(StructField("id", LongType) +: StructField("g", IntegerType) +:
      c.dims.zipWithIndex.map { case (dm, i) => StructField(s"d$i", dm.dt) })
    val rows: Seq[Row] = c.rows.zipWithIndex.map { case ((g, cells), id) =>
      val dims = c.dims.zip(cells).map { case (dm, cell) => cell.map(value(dm.dt, _)).orNull }
      Row.fromSeq(Seq[Any](id.toLong, g.map(Int.box).orNull) ++ dims)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, c.parts), schema)
  }

  /** MIN-convention vector, or None for a row with a NULL/NaN/sentinel dim. */
  private def vec(c: Case, cells: Seq[Option[Double]]): Option[Array[Double]] = {
    val vs = c.dims.zip(cells).map {
      case (dm, Some(v)) if !v.isNaN && !dm.sentinel.contains(v) => Some(v * dm.dir.sign)
      case _ => None
    }
    if (vs.forall(_.isDefined)) Some(vs.flatten.toArray) else None
  }

  private def brute(c: Case, rows: Seq[((Option[Int], Seq[Option[Double]]), Int)]): Seq[Long] =
    Gsky.bruteForce(rows.flatMap { case ((_, cells), id) => vec(c, cells).map(_ -> id.toLong) })
      .map(_._2).sorted

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** Run every entry point on `c` and compare with the brute force. */
  private def check(c: Case, skyMr: Boolean = true): Unit = {
    val df = frame(c)
    val spec = c.spec
    val indexed = c.rows.zipWithIndex
    val expected = brute(c, indexed)
    val ctx = s"dims=${c.dims} parts=${c.parts} rows=${c.rows}"
    assert(ids(SkylineOp.twoPhase(df, spec)) == expected, s"twoPhase: $ctx")
    assert(ids(SkylineOp.antiJoin(df, spec)) == expected, s"antiJoin: $ctx")
    if (skyMr)
      assert(ids(SkyMr.skyline(df, spec, maxp = 4, maxDepth = 3, sampleSize = 64)) == expected,
        s"SkyMr: $ctx")
    // SKYLINE OF has no sentinel syntax: the view carries sentinels as NULL.
    spec.dims.foldLeft(df) { (f, dm) =>
      dm.missing.fold(f)(s => f.withColumn(dm.col, when(col(dm.col) =!= lit(s), col(dm.col))))
    }.createOrReplaceTempView("sky_paths")
    val clause = spec.dims.map(dm => s"${dm.col} ${if (dm.dir == Min) "MIN" else "MAX"}")
    assert(ids(SkylineSql.sql(spark, s"SELECT * FROM sky_paths SKYLINE OF ${clause.mkString(", ")}")) ==
      expected, s"SKYLINE OF: $ctx")
    val groupedGot = SkylineOp.grouped(df, spec, Seq("g")).select("g", "id").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), r.getLong(1))).toSeq.sorted
    val groupedExpected = indexed.groupBy(_._1._1).toSeq
      .flatMap { case (g, rs) => brute(c, rs).map(g -> _) }.sorted
    assert(groupedGot == groupedExpected, s"grouped: $ctx")
  }

  // ---- generators ----------------------------------------------------

  private val dimGen: Gen[Dim] = for {
    dt <- Gen.frequency(4 -> DoubleType, 1 -> IntegerType, 1 -> DecimalType(10, 2),
      1 -> DateType, 1 -> TimestampType, 1 -> TimestampNTZType)
    dir <- Gen.oneOf(Min, Max)
    sentinel <- dt match {
      case DoubleType | IntegerType => Gen.frequency(3 -> None, 1 -> Some(Sentinel))
      case _ => Gen.const(None)
    }
  } yield Dim(dt, dir, sentinel)

  /** Small integer domain: ties everywhere, plus exact duplicate rows. */
  private def tiedGen(d: Int): Gen[Seq[Seq[Double]]] = for {
    k <- Gen.choose(2, 5)
    n <- Gen.choose(0, 60)
    pts <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(0, k - 1).map(_.toDouble)))
    dups <- Gen.choose(0, 10)
  } yield pts ++ pts.take(dups)

  /** Anti-correlated: dims share a fixed budget, so most points are
    * mutually incomparable and the skyline is a large share of the input. */
  private def antiGen(d: Int): Gen[Seq[Seq[Double]]] = for {
    n <- Gen.choose(1, 80)
    pts <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(1, 20)).map { u =>
      u.map(x => math.round(x * 60.0 / u.sum).toDouble)
    })
  } yield pts

  private def cellGen(dm: Dim, v: Double): Gen[Option[Double]] =
    Gen.frequency(Seq(
      Some(90 -> Gen.const(Some(v))),
      Some(4 -> Gen.const(None)),
      if (dm.dt == DoubleType) Some(3 -> Gen.const(Some(Double.NaN))) else None,
      dm.sentinel.map(s => 3 -> Gen.const(Some(s)))).flatten: _*)

  private val caseGen: Gen[Case] = for {
    d <- Gen.frequency(3 -> Gen.choose(1, 3), 2 -> Gen.choose(4, 6), 1 -> Gen.choose(7, 9))
    dims <- Gen.listOfN(d, dimGen)
    pts <- Gen.oneOf(tiedGen(d), antiGen(d))
    rows <- Gen.sequence[Seq[(Option[Int], Seq[Option[Double]])], (Option[Int], Seq[Option[Double]])](
      pts.map { p =>
        for {
          g <- Gen.frequency(8 -> Gen.choose(0, 3).map(Some(_)), 1 -> Gen.const(None))
          cells <- Gen.sequence[Seq[Option[Double]], Option[Double]](
            dims.zip(p).map { case (dm, v) => cellGen(dm, v) })
        } yield (g, cells)
      })
    parts <- Gen.choose(1, 7)
  } yield Case(dims, rows, parts)

  test("every entry point == Gsky.bruteForce on generated adversarial data") {
    (1 to 20).foreach { i =>
      val c = caseGen.pureApply(Gen.Parameters.default, Seed(1000L + i))
      check(c)
    }
  }

  // ---- fixed cases ---------------------------------------------------

  private def dbl(dims: Direction*) = dims.map(Dim(DoubleType, _, None))
  private def pts(vs: (Double, Double)*) = vs.map { case (x, y) => (Option(0), Seq(Some(x), Some(y))) }

  test("sum tie: a victim before its dominator in one partition is evicted") {
    // 1e17 + 2.0 == 1e17 + 1.0 in double, so the SFS presort cannot
    // order the dominator first: eviction must stay on presorted input.
    check(Case(dbl(Min, Min), pts((1e17, 2.0), (1e17, 1.0)), parts = 1))
  }

  test("anti-diagonal: every point survives across partitions") {
    check(Case(dbl(Min, Min), pts((0 until 40).map(i => (i.toDouble, 39.0 - i)): _*), parts = 5))
  }

  test("ties kept; NULL, NaN and sentinel dims excluded") {
    val dims = Seq(Dim(DoubleType, Min, None), Dim(DoubleType, Max, Some(Sentinel)))
    check(Case(dims, Seq(
      (Some(0), Seq(Some(1.0), Some(5.0))), (Some(0), Seq(Some(1.0), Some(5.0))),
      (Some(0), Seq(Some(0.5), Some(6.0))), (Some(0), Seq(Some(Double.NaN), Some(1.0))),
      (Some(0), Seq(None, Some(9.0))), (Some(1), Seq(Some(0.0), Some(Sentinel))),
      (Some(1), Seq(Some(2.0), Some(2.0)))), parts = 2))
  }

  test("grouped == per-group brute force on tied multi-partition data") {
    val rnd = new scala.util.Random(99)
    check(Case(dbl(Min, Max), Seq.fill(400)((Some(rnd.nextInt(4)),
      Seq(Some(rnd.nextInt(15).toDouble), Some(rnd.nextInt(15).toDouble)))), parts = 5),
      skyMr = false)
  }

  test("TIMESTAMP_NTZ dims keep wall-clock order across a DST gap") {
    // 2024-03-10 02:30 does not exist in America/New_York: casting NTZ
    // to TIMESTAMP there maps 02:30 to 07:30 UTC but 03:00 to 07:00 UTC.
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val df = spark.sql("SELECT 1L AS id, TIMESTAMP_NTZ'2024-03-10 02:30:00' AS ts, 1.0D AS x " +
        "UNION ALL SELECT 2L, TIMESTAMP_NTZ'2024-03-10 03:00:00', 1.0D")
      val spec = SkylineSpec.min("ts", "x")
      assert(ids(SkylineOp.twoPhase(df, spec)) == Seq(1L))
      assert(ids(SkylineOp.antiJoin(df, spec)) == Seq(1L))
      df.createOrReplaceTempView("sky_ntz")
      assert(ids(SkylineSql.sql(spark, "SELECT * FROM sky_ntz SKYLINE OF ts MIN, x MIN")) == Seq(1L))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }
}
