package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.sources.ColumnStats

/** ANALYZE TABLE column statistics → cost-based optimization.
  *
  * The chain under test: `ANALYZE TABLE … COMPUTE STATISTICS FOR
  * COLUMNS` (one sketch-aggregation pass, [[ColumnStats.analyze]]) →
  * `_colstats.json` sidecar → DSv2 `Statistics.columnStats()`
  * ([[graft.sources.GraftScan]]) → the scan relation's statistics →
  * Spark's filter-cardinality estimation and CostBasedJoinReorder. */
class CboStatsSpec extends SparkSpecBase {

  private def cboSession(wh: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s2
  }

  private def joinShape(plan: LogicalPlan): String = plan match {
    case j: Join => s"(${joinShape(j.left)}*${joinShape(j.right)})"
    case r: DataSourceV2ScanRelation => r.relation.table.name().split('/').last
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table.name().split('/').last
    case n if n.children.size == 1 => joinShape(n.children.head)
    case other => other.getClass.getSimpleName
  }

  test("ANALYZE computes NDV/null/min-max in one pass and persists the sidecar") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    import s2.implicits._
    (0L until 10000L).map(i => (i, i % 250, if (i % 4 == 0) null else s"v${i % 13}"))
      .toDF("k", "g", "s").createOrReplaceTempView("src")
    s2.sql("CREATE TABLE graft.t AS SELECT * FROM src")
    val out = s2.sql(
      "ANALYZE TABLE graft.t COMPUTE STATISTICS FOR ALL COLUMNS").head()
    assert(out.getLong(1) == 10000L && out.getLong(2) == 3L, out.toString)
    val st = ColumnStats.load(s"$wh/t").get
    assert(st.rows == 10000L)
    val g = st.cols("g")
    assert(math.abs(g.distinct - 250) <= 25, s"NDV(g)=${g.distinct}")
    assert(g.min.contains("0") && g.max.contains("249"), g.toString)
    val s = st.cols("s")
    assert(s.nulls == 2500L && s.avgLen.exists(_ >= 2), s.toString)
    // FOR COLUMNS subset MERGES (Spark's semantics): g refreshes, the
    // others keep their stats; the row-count-only form keeps them all
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS g")
    assert(ColumnStats.load(s"$wh/t").get.cols.keySet == Set("k", "g", "s"))
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS")
    assert(ColumnStats.load(s"$wh/t").get.cols.keySet == Set("k", "g", "s"))
    // refusals: unknown column, loudly
    intercept[Exception] {
      s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS nope") }
  }

  test("column stats reach the optimizer: equality-filter cardinality shrinks by NDV") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    import s2.implicits._
    (0L until 100000L).map(i => (i, i % 1000)).toDF("k", "g")
      .createOrReplaceTempView("src")
    s2.sql("CREATE TABLE graft.t AS SELECT * FROM src")
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR ALL COLUMNS")
    // .stats picks its visitor from the CALLING thread's active-session
    // conf — pin it to the CBO session for the assertions
    SparkSession.setActiveSession(s2)
    try {
      val opt = s2.sql("SELECT * FROM graft.t WHERE g = 7")
        .queryExecution.optimizedPlan
      assert(opt.stats.attributeStats.nonEmpty,
        "ANALYZE column stats must surface as attributeStats")
      val est = opt.stats.rowCount
      assert(est.isDefined && est.get >= BigInt(40) && est.get <= BigInt(250),
        s"estimate should be ~rows/NDV(g)=100, got $est")
      // an out-of-range literal estimates to (near) zero via min/max
      val dead = s2.sql("SELECT * FROM graft.t WHERE g = 123456")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(dead.isDefined && dead.get <= BigInt(1), s"out-of-range: $dead")
    } finally SparkSession.setActiveSession(spark)
  }

  test("CostBasedJoinReorder restructures a graft three-way join") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    // no broadcasts: the join order alone decides the shuffle sizes
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    (0L until 200000L).map(i => (i, i % 1000)).toDF("k", "g")
      .createOrReplaceTempView("big_src")
    (0L until 1000L).map(i => (i, i % 37)).toDF("g", "m")
      .createOrReplaceTempView("mid_src")
    (0L until 37L).map(i => (i, s"cat$i")).toDF("m", "nm")
      .createOrReplaceTempView("small_src")
    s2.sql("CREATE TABLE graft.big AS SELECT * FROM big_src")
    s2.sql("CREATE TABLE graft.mid AS SELECT * FROM mid_src")
    s2.sql("CREATE TABLE graft.small AS SELECT * FROM small_src")
    def shape(): String = joinShape(s2.sql(
      """SELECT b.k, s.nm FROM graft.big b
         JOIN graft.mid m ON b.g = m.g
         JOIN graft.small s ON m.m = s.m""").queryExecution.optimizedPlan)
    // CBO off: the syntactic order stands
    s2.conf.set("spark.sql.cbo.enabled", "false")
    assert(shape() == "((big*mid)*small)", shape())
    // CBO on: manifest row counts flow through the stats bridge and the
    // join is rebuilt smallest-first — mid*small (1000×37) before big
    s2.conf.set("spark.sql.cbo.enabled", "true")
    val reordered = shape()
    assert(reordered.contains("(mid*small)") || reordered.contains("(small*mid)"),
      s"expected mid*small joined first, got $reordered")
  }

  test("equi-height histograms make skew visible to filter estimation") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    import s2.implicits._
    // 90% of rows carry h=5; the rest spread over 10k values — the
    // NDV-only model estimates rows/NDV for ANY literal, 100× off for
    // the hot value
    (0L until 100000L)
      .map(i => (i, if (i % 10 < 9) 5L else 100 + (i % 10007)))
      .toDF("k", "h").createOrReplaceTempView("src")
    s2.sql("CREATE TABLE graft.t AS SELECT * FROM src")
    s2.conf.set("spark.sql.statistics.histogram.enabled", "true")
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS h")
    val st = ColumnStats.load(s"$wh/t").get.cols("h")
    assert(st.histBins.exists(_.size >= 2), "histogram must persist")
    SparkSession.setActiveSession(s2)
    try {
      def est(lit: Long): BigInt = s2.sql(s"SELECT * FROM graft.t WHERE h = $lit")
        .queryExecution.optimizedPlan.stats.rowCount.get
      assert(est(5L) > BigInt(40000),
        s"hot-value estimate must see the skew, got ${est(5L)}")
      assert(est(101L) < BigInt(5000),
        s"cold-value estimate must stay small, got ${est(101L)}")
    } finally SparkSession.setActiveSession(spark)
  }

  test("row-count ANALYZE after appends is metadata-only: answers with the data dir moved aside") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    s2.sql("CREATE TABLE graft.t AS SELECT id AS k FROM range(0, 1000)")
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR ALL COLUMNS")
    val before = ColumnStats.load(s"$wh/t").get
    assert(before.rows == 1000L && before.cols("k").max.contains("999"))
    s2.sql("INSERT INTO graft.t SELECT id FROM range(5000, 5100)")
    // the refresh folds manifest metadata alone — no data file is read
    val dataDir = java.nio.file.Paths.get(s"$wh/t/data")
    val hidden = java.nio.file.Paths.get(s"$wh/t/.hid")
    java.nio.file.Files.move(dataDir, hidden)
    try s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS")
    finally java.nio.file.Files.move(hidden, dataDir)
    val after = ColumnStats.load(s"$wh/t").get
    assert(after.rows == 1100L, after.toString)
    assert(after.cols("k").max.contains("5099"), after.cols("k").toString)
    assert(after.cols("k").min.contains("0"), after.cols("k").toString)
    // NDV ages until the next sketch pass — still the pre-append value
    assert(after.cols("k").distinct == before.cols("k").distinct)
  }

  test("FOR COLUMNS re-analysis is incremental: rescans only appended files, merges sketches") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    s2.sql("CREATE TABLE graft.t AS SELECT id AS k FROM range(0, 10000)")
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS k")
    val st0 = ColumnStats.load(s"$wh/t").get
    assert(st0.covered.nonEmpty && st0.cols("k").sketch.isDefined)
    // append overlapping + new keys, then re-analyze with the ORIGINAL
    // files moved aside — only the new files may be read
    s2.sql("INSERT INTO graft.t SELECT id FROM range(5000, 20000)")
    val dataDir = java.nio.file.Paths.get(s"$wh/t/data")
    val hidden = java.nio.file.Files.createTempDirectory("graft-hid-")
    st0.covered.foreach(f => java.nio.file.Files.move(
      dataDir.resolve(f), hidden.resolve(f)))
    try s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS k")
    finally st0.covered.foreach(f => java.nio.file.Files.move(
      hidden.resolve(f), dataDir.resolve(f)))
    val st1 = ColumnStats.load(s"$wh/t").get
    assert(st1.rows == 25000L, st1.rows.toString)
    // merged NDV ~ 20000 distinct keys (HLL union, a few % error)
    assert(math.abs(st1.cols("k").distinct - 20000L) < 1500,
      s"merged NDV ${st1.cols("k").distinct}")
    assert(st1.cols("k").max.contains("19999"), st1.cols("k").toString)
    assert(st1.cols("k").min.contains("0"), st1.cols("k").toString)
    assert(st1.covered.size > st0.covered.size)
    // a DELETE breaks append-only-ness: the next run is a full pass
    // (exact again), not a stale merge
    s2.sql("DELETE FROM graft.t WHERE k >= 10000")
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS k")
    val st2 = ColumnStats.load(s"$wh/t").get
    // 25000 − the 10000 rows with k ≥ 10000 (keys 5000–9999 exist twice)
    assert(st2.rows == 15000L, st2.rows.toString)
    assert(st2.cols("k").max.contains("9999"), st2.cols("k").toString)
  }

  test("a subset FOR COLUMNS pass widens table coverage without staling kept columns") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    s2.sql("""CREATE TABLE graft.t AS
              SELECT id AS a, id % 100 AS b FROM range(0, 10000)""")
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS a, b")
    val st0 = ColumnStats.load(s"$wh/t").get
    // append DOUBLES b's value domain, then re-analyze ONLY a: the
    // table-level coverage widens to all files, but b's sketch still
    // covers just the original set — and must say so
    s2.sql("INSERT INTO graft.t SELECT id, id % 200 FROM range(10000, 20000)")
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS a")
    val st1 = ColumnStats.load(s"$wh/t").get
    assert(st1.covered.size > st0.covered.size)
    assert(st1.cols("b").covered.exists(_.sorted == st0.covered.sorted),
      s"kept column must pin its own (narrower) coverage: ${st1.cols("b").covered}")
    // the later FOR COLUMNS b therefore RESCANS the appended files
    // instead of serving the stale 100-value sketch
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS b")
    val st2 = ColumnStats.load(s"$wh/t").get
    assert(math.abs(st2.cols("b").distinct - 200L) <= 10,
      s"b's NDV must see the appended domain: ${st2.cols("b").distinct}")
    assert(st2.cols("b").covered.isEmpty, "b now covers the table default")
  }

  test("histograms fix skewed JOIN cardinality: ~800x under-estimate becomes ~exact") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // both sides 90% h=5: true inner-join cardinality ~ 90k x 9k — the
    // NDV-only model divides by NDV and lands ~800x under
    (0L until 100000L).map(i => (i, if (i % 10 < 9) 5L else 100 + (i % 997)))
      .toDF("k", "h").createOrReplaceTempView("ja_src")
    (0L until 10000L).map(i => (i, if (i % 10 < 9) 5L else 100 + (i % 997)))
      .toDF("j", "h").createOrReplaceTempView("jb_src")
    s2.sql("CREATE TABLE graft.ja AS SELECT * FROM ja_src")
    s2.sql("CREATE TABLE graft.jb AS SELECT * FROM jb_src")
    def est(): BigInt = {
      SparkSession.setActiveSession(s2)
      try s2.sql("SELECT a.k, b.j FROM graft.ja a JOIN graft.jb b ON a.h = b.h")
        .queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
      finally SparkSession.setActiveSession(spark)
    }
    val truth = BigInt(90000L) * 9000L // the hot value dominates
    s2.sql("ANALYZE TABLE graft.ja COMPUTE STATISTICS FOR COLUMNS h")
    s2.sql("ANALYZE TABLE graft.jb COMPUTE STATISTICS FOR COLUMNS h")
    val ndvOnly = est()
    assert(ndvOnly > 0 && ndvOnly < truth / 50,
      s"NDV-only should under-estimate the skewed join badly, got $ndvOnly")
    s2.conf.set("spark.sql.statistics.histogram.enabled", "true")
    s2.sql("ANALYZE TABLE graft.ja COMPUTE STATISTICS FOR COLUMNS h")
    s2.sql("ANALYZE TABLE graft.jb COMPUTE STATISTICS FOR COLUMNS h")
    val hist = est()
    assert(hist > truth / 2 && hist < truth * 2,
      s"histogram estimate should be within 2x of $truth, got $hist")
  }

  test("strict superset: v1 session-catalog ANALYZE delegates; RTAS invalidates stats") {
    val wh = Files.createTempDirectory("graft-cbo-").toString
    val s2 = cboSession(wh)
    // Spark's own ANALYZE on a session-catalog parquet table still works
    s2.sql("CREATE TABLE spark_catalog.default.cbo_plain (k BIGINT) USING parquet")
    s2.sql("INSERT INTO spark_catalog.default.cbo_plain VALUES (1), (2)")
    s2.sql("ANALYZE TABLE spark_catalog.default.cbo_plain COMPUTE STATISTICS")
    s2.sql("DROP TABLE spark_catalog.default.cbo_plain")
    // RTAS replaces the data wholesale → stale estimates are dropped
    s2.sql("CREATE TABLE graft.t AS SELECT id AS k FROM range(0, 100)")
    s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR ALL COLUMNS")
    assert(ColumnStats.load(s"$wh/t").isDefined)
    s2.sql("REPLACE TABLE graft.t AS SELECT id AS k2 FROM range(0, 5)")
    assert(ColumnStats.load(s"$wh/t").isEmpty,
      "REPLACE TABLE must invalidate ANALYZE estimates")
  }
}
