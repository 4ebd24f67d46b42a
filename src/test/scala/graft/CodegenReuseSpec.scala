package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.plans.{HoistLiterals, HoistedLiteral}
import graft.sources.ManifestTable

/** A plan compiles once per shape: appends and catalog SQL reads that
  * differ only in their numeric literals reuse the generated classes of
  * the first run (Spark's compile cache is keyed on the generated
  * source), while scans keep the `Literal`s their pushdown and pruning
  * match on, and every hoisted value evaluates as Spark's interpreted
  * path does. */
class CodegenReuseSpec extends SparkSpecBase {

  /** Classes compiled while `body` runs: one compile-time sample per
    * compile-cache miss. */
  private def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def freshWh(): String =
    Files.createTempDirectory("graft-codegen-").toString

  private def catalogSession(wh: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case o => o.children ++ o.subqueries
  }).flatMap(nodes)

  private def hoisted(p: SparkPlan): Boolean =
    nodes(p).exists(_.expressions.exists(_.exists(_.isInstanceOf[HoistedLiteral])))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("appends that differ only in their key literal compile nothing after the first") {
    val path = s"${freshWh()}/t"
    def batch(lo: Long) = spark.range(40).select((lit(lo) + col("id") * 3).as("k"),
      (col("id") * lit(lo.toDouble / 7) + lit(0.25)).as("v"))
    ManifestTable.overwrite(batch(0), path)
    val perAppend = (1 to 20).map(i => compiles(ManifestTable.append(batch(i * 1000L), path)))
    assert(perAppend.tail.forall(_ == 0), s"classes compiled per append: $perAppend")
    val got = ManifestTable.read(spark, path)
    assert(got.count() == 21 * 40L)
    assert(got.where(col("k") === 20000L + 39 * 3).count() == 1L)
  }

  test("catalog SQL rollups that differ only in their bounds compile nothing after the first") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    ManifestTable.overwrite(spark.range(0, 20000)
      .select(col("id").as("k"), (col("id") % 7).as("g"), (col("id") * 0.5).as("v"))
      .repartitionByRange(4, col("k")), s"$wh/t")
    def rollup(lo: Long) = s2.sql(
      s"SELECT g, count(*) AS n, sum(v) AS s FROM graft.t WHERE k >= $lo AND k < ${lo + 700} GROUP BY g")
    rollup(0).collect()
    val perRollup = (1 to 20).map { i =>
      val lo = i * 900L
      var got: Seq[String] = Nil
      val n = compiles { got = rows(rollup(lo)) }
      val want = rows(spark.range(lo, lo + 700).groupBy((col("id") % 7).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("id") * 0.5).as("s")))
      assert(got == want, s"rollup at $lo")
      n
    }
    assert(perRollup.forall(_ == 0), s"classes compiled per rollup: $perRollup")
  }

  test("scans keep their literals: pushed filters and files read are unchanged") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    ManifestTable.overwrite(spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(4, col("k")), s"$wh/t")
    for (x <- Seq(7L, 1500L, 2999L, 3998L)) {
      val q = s2.sql(s"SELECT k, v FROM graft.t WHERE k = $x")
      assert(rows(q) == Seq(s"[$x,${2 * x}]"))
      val plan = q.queryExecution.executedPlan
      val scan = nodes(plan).collectFirst { case f: FileSourceScanExec => f }.get
      assert(scan.dataFilters.exists(_.exists {
        case Literal(v, _) => v == x
        case _ => false
      }), scan.dataFilters)
      assert(scan.metadata("PushedFilters").contains(s"EqualTo(k,$x)"), scan.metadata)
      assert(!(scan.dataFilters ++ scan.partitionFilters)
        .exists(_.exists(_.isInstanceOf[HoistedLiteral])))
      // the manifest's min/max stats still prune to the one file holding x
      assert(scan.metrics("numFiles").value == 1L, s"files read for k = $x")
      // the filter above the scan is the node that lost its literal
      assert(nodes(plan).exists {
        case f: FilterExec => f.condition.exists(_.isInstanceOf[HoistedLiteral])
        case _ => false
      }, plan)
    }
  }

  test("hoisting leaves the plan's printed form unchanged") {
    val q = spark.range(10).select((col("id") + 5).as("a"),
        lit(java.sql.Date.valueOf("2024-02-29")).as("d"), lit(2.5f).as("f"))
      .where(col("id") > 3L && col("id") =!= 8)
    val before = q.queryExecution.sparkPlan
    val after = HoistLiterals(before)
    assert(after != before && hoisted(after))
    assert(after.treeString == before.treeString)
  }

  test("hoisted literals evaluate as the interpreted path does, for every hoisted type") {
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    def query(s: SparkSession): DataFrame = {
      val base = s.range(-3, 9).select(col("id"),
        col("id").cast("int").as("i"), col("id").cast("short").as("sh"),
        col("id").cast("byte").as("b"), (col("id") / 3.0).cast("float").as("f"),
        (col("id") / 7.0).as("d"), concat(lit("ab"), col("id").cast("string")).as("s"))
      base.select(col("id"),
        (col("i") + lit(7)).as("int"),
        (col("id") * lit(3000000000L)).as("long"),
        (col("sh") + lit(2.toShort)).as("short"),
        (col("b") - lit(1.toByte)).as("byte"),
        (col("f") * lit(1.5f)).as("float"),
        (col("d") + lit(0.125)).as("double"),
        date_add(lit(java.sql.Date.valueOf("2024-02-27")), col("i")).as("date"),
        (timestamp_seconds(col("id")) <
          lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:03"))).as("ts"),
        (timestamp_seconds(col("id")).cast("timestamp_ntz") >=
          lit(java.time.LocalDateTime.parse("1970-01-01T00:00:04"))).as("ntz"),
        (col("d") + lit(Double.NaN)).as("nan"),
        lit(-0.0).as("negzero"),
        (col("d") * lit(-0.0)).as("negzero_mul"),
        greatest(col("id"), lit(Long.MinValue)).as("minlong"),
        (col("id") === lit(Long.MinValue)).as("is_min"),
        lit(null).cast("int").as("null_int"),
        coalesce(lit(null).cast("long"), col("id") * 2).as("coalesced"),
        round(col("d"), 2).as("rounded"),
        substring(col("s"), 2, 3).as("substr"),
        col("id").isin(1, 3, 5).as("in_list"),
        when(col("id") < 2, 10).when(col("id") < 5, 20).otherwise(30).as("case_when"),
        (rand(42) * 10).as("rand"))
        .where((col("id") > lit(-3L) || col("d") === lit(Double.NaN)) &&
          col("i") =!= lit(6) && col("f") >= lit(-5.0f))
    }
    val compiled = query(spark)
    assert(hoisted(compiled.queryExecution.executedPlan))
    assert(nodes(compiled.queryExecution.executedPlan)
      .exists(_.isInstanceOf[WholeStageCodegenExec]))
    // the null literal stays a Literal: its code is the null constant
    assert(nodes(compiled.queryExecution.executedPlan).exists {
      case p: ProjectExec => p.projectList.exists(_.exists {
        case Literal(null, _) => true
        case _ => false
      })
      case _ => false
    })
    val reference = query(interpreted)
    assert(!nodes(reference.queryExecution.executedPlan)
      .exists(_.isInstanceOf[WholeStageCodegenExec]))
    val got = rows(compiled)
    assert(got.size == 10)
    assert(got == rows(reference))
    // NaN, -0.0 and Long.MinValue survive the round trip through the field
    val r = compiled.where(col("id") === 0L).collect().head
    assert(r.getAs[Double]("nan").isNaN)
    assert(r.getAs[Double]("negzero").equals(-0.0))
    assert(r.getAs[Long]("minlong") == 0L && !r.getAs[Boolean]("is_min"))
    assert(r.isNullAt(r.fieldIndex("null_int")))
  }
}
