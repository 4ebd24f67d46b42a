package graft

import java.nio.file.Files

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.conditions.{Condition, Op}
import graft.plans.GraftReadStrategy
import graft.sources.{BloomIndex, ManifestTable, TrigramIndex}

/** Catalog SQL reads plan as ManifestTable's own read plan, and that
  * plan is built from the manifest: a parquet file scan in the query's
  * physical plan, no row-converting V1 scan, and no listing or
  * schema-inference job at any file count. */
class ReadPlanSpec extends SparkSpecBase {

  private def catalogSession(wh: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2
  }

  private def freshWh(): String =
    Files.createTempDirectory("graft-readplan-").toString

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case o => o.children ++ o.subqueries
  }).flatMap(nodes)

  /** Jobs a `spark.read…parquet` call starts (their stage is named after
    * it): the file listing past 32 paths and schema inference. */
  private def metadataJobs(jobs: Seq[SparkListenerJobStart]): Seq[String] =
    jobs.flatMap(_.stageInfos.map(_.name)).filter(_.startsWith("parquet at"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("a SQL point lookup plans a parquet file scan, not a row-converting V1 scan") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    ManifestTable.overwrite(spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 2).as("v")).repartition(4), s"$wh/t")
    val q = s2.sql("SELECT k, v FROM graft.t WHERE k = 7")
    assert(rows(q) == Seq("[7,14]"))
    val plan = nodes(q.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[FileSourceScanExec]),
      s"expected a parquet file scan:\n${q.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[RowDataSourceScanExec]),
      s"no V1 scan may remain:\n${q.queryExecution.executedPlan}")
    // the residual predicate reaches the parquet reader
    val scan = plan.collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.dataFilters.nonEmpty, scan.toString)
  }

  test("building a read frame over 200 files starts no job; its roots are the files") {
    val path = s"${freshWh()}/t"
    ManifestTable.overwrite(spark.range(0, 2000)
      .select(col("id").as("k"), lit("x").as("s")).repartition(200), path)
    val files = ManifestTable.dataFiles(path)
    assert(files.size == 200)
    var df: DataFrame = null
    val jobs = JobProbe.jobsOf(spark) {
      df = ManifestTable.readWhere(spark, path, Seq(Condition("k", Op.Lt, 10L)))
      ManifestTable.read(spark, path)
    }
    assert(jobs.isEmpty, s"frame build started ${jobs.size} jobs: " +
      jobs.flatMap(_.stageInfos.map(_.name)))
    assert(df.count() == 10L)
    val roots = ManifestTable.read(spark, path).queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.sorted == files.map(f => s"file:$path/data/$f").sorted)
  }

  test("a MoR merge and the read after it start no listing or schema job") {
    val path = s"${freshWh()}/t"
    ManifestTable.overwrite(spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 7).as("v")).repartition(40), path)
    val src = spark.range(0, 40).select((col("id") * 100).as("k"), lit(-1L).as("v"))
    val mergeJobs = JobProbe.jobsOf(spark)(
      ManifestTable.mergeMoR(spark, path, src, Seq("k")))
    assert(metadataJobs(mergeJobs).isEmpty, metadataJobs(mergeJobs))
    assert(ManifestTable.deleteFiles(path).nonEmpty)
    var df: DataFrame = null
    val buildJobs = JobProbe.jobsOf(spark) {
      df = ManifestTable.readWhere(spark, path, Seq(Condition("k", Op.Gte, 0L)))
    }
    assert(buildJobs.isEmpty, buildJobs.flatMap(_.stageInfos.map(_.name)))
    var got: Array[org.apache.spark.sql.Row] = null
    val readJobs = JobProbe.jobsOf(spark) { got = df.collect() }
    assert(metadataJobs(readJobs).isEmpty, metadataJobs(readJobs))
    assert(got.length == 4000 && got.count(_.getLong(1) == -1L) == 40)
  }

  test("a 40-file Bloom and trigram index build starts no listing or schema job") {
    val path = s"${freshWh()}/t"
    ManifestTable.overwrite(spark.range(0, 4000)
      .select(col("id").as("k"), concat(lit("u"), col("id")).as("s")).repartition(40), path)
    val jobs = JobProbe.jobsOf(spark) {
      assert(BloomIndex.build(spark, path, Seq("k")) == 40)
      assert(TrigramIndex.build(spark, path, "s") == 40)
    }
    val listings = jobs.flatMap(j => Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))))
      .filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty && metadataJobs(jobs).isEmpty,
      (listings ++ metadataJobs(jobs)).mkString("; "))
    // one scan job per build
    assert(jobs.size == 2, jobs.flatMap(_.stageInfos.map(_.name)))
    val conds = Seq(Condition("k", Op.Eq, 1234L))
    assert(ManifestTable.readWhereBloom(spark, path, conds).count() == 1L)
  }

  test("a session with only the catalog conf plans its SQL reads itself") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    assert(!s2.experimental.extraStrategies.contains(GraftReadStrategy))
    ManifestTable.overwrite(spark.range(0, 100)
      .select(col("id").as("k"), (col("id") % 3).as("g")), s"$wh/t")
    val q = s2.sql("SELECT k, g FROM graft.t WHERE k < 5")
    assert(rows(q) == rows(ManifestTable.readWhere(spark, s"$wh/t",
      Seq(Condition("k", Op.Lt, 5L))).select("k", "g")))
    // building the scan installed the strategy, ahead of every strategy
    // an extension injects: it is the one that planned this read
    assert(s2.experimental.extraStrategies == Seq(GraftReadStrategy))
    assert(nodes(q.queryExecution.executedPlan)
      .exists(_.isInstanceOf[FileSourceScanExec]))
  }

  test("SQL equals readWhere: MoR, a renamed column, ADD COLUMN, VERSION AS OF, " +
      "an empty table, a metadata aggregate") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    val base = spark.range(0, 300)
      .select(col("id").as("k"), (col("id") * 1.5).as("v"), (col("id") % 5).as("g"))
    val window = Seq(Condition("k", Op.Gte, 50L), Condition("k", Op.Lt, 250L))
    val windowSql = "k >= 50 AND k < 250"

    // MoR: upserts and tombstones hidden through the delete ledger
    ManifestTable.overwrite(base.repartition(3), s"$wh/mor")
    ManifestTable.mergeMoR(spark, s"$wh/mor",
      spark.range(100, 130).select(col("id").as("k"), lit(-1.0).as("v"),
        (col("id") % 5).as("g"), (col("id") % 2 === 0).as("del")),
      Seq("k"), deleteWhen = Some(col("del")))
    assert(rows(s2.sql(s"SELECT k, v, g FROM graft.mor WHERE $windowSql")) ==
      rows(ManifestTable.readWhere(spark, s"$wh/mor", window).select("k", "v", "g")))

    // a renamed column reads under its logical name
    ManifestTable.overwrite(base, s"$wh/ren")
    ManifestTable.renameColumn(spark, s"$wh/ren", "v", "value")
    assert(rows(s2.sql(s"SELECT k, value FROM graft.ren WHERE $windowSql")) ==
      rows(ManifestTable.readWhere(spark, s"$wh/ren", window).select("k", "value")))

    // a DDL-added column no file carries yet null-fills
    ManifestTable.overwrite(base, s"$wh/add")
    s2.sql("ALTER TABLE graft.add ADD COLUMN note STRING")
    assert(rows(s2.sql(s"SELECT k, note FROM graft.add WHERE $windowSql")) ==
      rows(ManifestTable.readWhere(spark, s"$wh/add", window)
        .select(col("k"), lit(null).cast("string").as("note"))))

    // time travel reads the pinned version's files
    ManifestTable.overwrite(base.where(col("k") < 100), s"$wh/tt")
    ManifestTable.append(base.where(col("k") >= 100), s"$wh/tt")
    assert(rows(s2.sql(s"SELECT k, v FROM graft.tt VERSION AS OF 1 WHERE $windowSql")) ==
      rows(ManifestTable.readWhere(spark, s"$wh/tt", window, Some(1L)).select("k", "v")))
    assert(s2.sql(s"SELECT k FROM graft.tt WHERE $windowSql").count() == 200L)

    // a table with no version yet plans as an empty local relation
    s2.sql("CREATE TABLE graft.empty (k BIGINT, v DOUBLE)")
    val empty = s2.sql("SELECT k, v FROM graft.empty WHERE k > 1")
    assert(empty.collect().isEmpty)
    assert(nodes(empty.queryExecution.executedPlan)
      .exists(_.isInstanceOf[LocalTableScanExec]))

    // a manifest-only aggregate is local rows: collecting starts no job
    ManifestTable.overwrite(base.repartition(3), s"$wh/agg")
    val agg = s2.sql("SELECT count(*) AS n, min(k) AS lo, max(v) AS hi FROM graft.agg")
    var got: Seq[String] = Seq.empty
    val jobs = JobProbe.jobsOf(s2) { got = rows(agg) }
    assert(jobs.isEmpty, s"metadata aggregate started ${jobs.size} jobs")
    val api = ManifestTable.readWhere(spark, s"$wh/agg", Seq.empty)
      .agg(count(lit(1)).as("n"), min("k").as("lo"), max("v").as("hi"))
    assert(got == rows(api))
  }
}
