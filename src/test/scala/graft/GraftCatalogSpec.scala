package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** SQL catalog over manifest tables ([[graft.sources.GraftCatalog]]):
  * identifier → path mapping, one shared read path (MoR + skipping +
  * evolution through SQL), DDL/DML lifecycle, time travel syntax, and
  * the planner-visible live statistics. */
class GraftCatalogSpec extends SparkSpecBase {

  private def catalogSession(wh: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2
  }

  private def freshWh(): String =
    Files.createTempDirectory("graft-cat-").toString

  test("SQL reads resolve identifiers to the shared read path: MoR deletes and schema evolution included") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/crm/orders"
    ManifestTable.overwrite(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("k", "tag", "v"), path)
    // second commit evolves the schema (new column) …
    ManifestTable.append(
      Seq((4L, "d", 40.0, "x")).toDF("k", "tag", "v", "extra"), path)
    // … and a MoR merge hides k=2 without rewriting files
    ManifestTable.mergeMoR(s2,
      path, Seq((2L, "b2", 21.0, "y")).toDF("k", "tag", "v", "extra"), Seq("k"))

    val viaSql = s2.sql("SELECT k, tag, v, extra FROM graft.crm.orders ORDER BY k")
    val viaApi = ManifestTable.read(s2, path)
      .select("k", "tag", "v", "extra").orderBy("k")
    assert(viaSql.collect().toSeq == viaApi.collect().toSeq)
    assert(viaSql.where($"k" === 2L).collect().map(r => r.getString(1)).toSeq
      == Seq("b2"))
  }

  test("filter pushdown prunes files in the reported statistics; results stay exact") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    // three single-file commits with DISJOINT k ranges → manifest
    // min/max proves two of the three files dead under k = 5
    ManifestTable.overwrite(
      spark.range(0, 10).toDF("k").withColumn("pay", lit("a")).coalesce(1), path)
    ManifestTable.append(
      spark.range(100, 110).toDF("k").withColumn("pay", lit("b")).coalesce(1), path)
    ManifestTable.append(
      spark.range(200, 210).toDF("k").withColumn("pay", lit("c")).coalesce(1), path)

    val filtered = s2.sql("SELECT k, pay FROM graft.t WHERE k = 5")
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(5L))

    // the scan's reported statistics, with and without a pushed filter
    // (what DataSourceV2ScanRelation.computeStats hands join planning)
    import graft.sources.{GraftScanBuilder, GraftScan}
    val schema = s2.table("graft.t").schema
    def scanRows(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val b = new GraftScanBuilder(path, None, schema)
      val residual = b.pushFilters(filters)
      assert(residual.toSeq == filters.toSeq,
        "every filter must stay a Spark-side residual")
      b.build().asInstanceOf[GraftScan].estimateStatistics().numRows().getAsLong
    }
    assert(scanRows(Array.empty) == 30L)
    assert(scanRows(Array(org.apache.spark.sql.sources.EqualTo("k", 5L))) == 10L,
      "k=5 should prune to the one matching file (10 recorded rows)")
  }

  test("VERSION AS OF and TIMESTAMP AS OF resolve snapshots; snapshot writes are rejected") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    ManifestTable.overwrite(Seq((1L, "v1")).toDF("k", "s"), path)
    Thread.sleep(5) // distinct commit_ts for the timestamp resolution below
    ManifestTable.overwrite(Seq((2L, "v2")).toDF("k", "s"), path)

    assert(s2.sql("SELECT s FROM graft.t VERSION AS OF 1").collect()
      .map(_.getString(0)).toSeq == Seq("v1"))
    assert(s2.sql("SELECT s FROM graft.t").collect()
      .map(_.getString(0)).toSeq == Seq("v2"))

    val t1 = ManifestTable.commitTimeMillis(path, 1L)
    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(t1))
    assert(s2.sql(s"SELECT s FROM graft.t TIMESTAMP AS OF '$ts'").collect()
      .map(_.getString(0)).toSeq == Seq("v1"))

    val e = intercept[Exception] {
      s2.sql("INSERT INTO graft.t VERSION AS OF 1 VALUES (9, 'x')").collect()
    }
    assert(e.getMessage != null)
  }

  test("DDL/DML lifecycle: CREATE, INSERT, INSERT OVERWRITE, CTAS, SHOW TABLES, RENAME, DROP") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    s2.sql("CREATE NAMESPACE graft.lake")
    s2.sql("CREATE TABLE graft.lake.t (k BIGINT, s STRING)")
    // a freshly created table is empty but queryable
    assert(s2.sql("SELECT * FROM graft.lake.t").count() == 0)
    s2.sql("INSERT INTO graft.lake.t VALUES (1, 'a'), (2, 'b')")
    s2.sql("INSERT INTO graft.lake.t VALUES (3, 'c')")
    assert(s2.sql("SELECT sum(k) FROM graft.lake.t").head().getLong(0) == 6L)
    // versioned: two inserts = two commits on the table's manifest log
    assert(ManifestTable.versions(s"$wh/lake/t") == Seq(1L, 2L))
    s2.sql("INSERT OVERWRITE graft.lake.t VALUES (10, 'z')")
    assert(s2.sql("SELECT k, s FROM graft.lake.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((10L, "z")))

    s2.sql("CREATE TABLE graft.lake.t2 AS SELECT k * 2 AS k2, s FROM graft.lake.t")
    assert(s2.sql("SELECT k2 FROM graft.lake.t2").head().getLong(0) == 20L)

    assert(s2.sql("SHOW TABLES IN graft.lake").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("t", "t2"))

    // RENAME TO takes a catalog-relative name (Spark resolves it inside
    // the source table's catalog)
    s2.sql("ALTER TABLE graft.lake.t2 RENAME TO lake.t3")
    assert(s2.sql("SELECT k2 FROM graft.lake.t3").head().getLong(0) == 20L)
    s2.sql("DROP TABLE graft.lake.t3")
    assert(s2.sql("SHOW TABLES IN graft.lake").collect()
      .map(_.getString(1)).toSeq == Seq("t"))
  }

  test("SQL INSERT inherits table CHECK constraints from the shared commit protocol") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    ManifestTable.overwrite(Seq((1L, 5.0)).toDF("k", "v"), path)
    ManifestTable.setConstraints(s2, path, Seq("v >= 0"))
    s2.sql("INSERT INTO graft.t VALUES (2, 1.5)")
    val e = intercept[Exception] {
      s2.sql("INSERT INTO graft.t VALUES (3, -4.0)")
    }
    // the violation surfaces either from Spark's write-path enforcement
    // (driven by the constraints the table now reports) or, for writes
    // that bypass it, from the commit protocol's in-scan gate
    assert(Iterator(e.getMessage, Option(e.getCause).map(_.getMessage).orNull)
      .filter(_ != null)
      .exists(m => m.contains("CHECK constraint violated") ||
        m.contains("CHECK_CONSTRAINT_VIOLATION")),
      s"expected a CHECK violation, got: ${e.getMessage}")
    assert(s2.sql("SELECT count(*) FROM graft.t").head().getLong(0) == 2L)
  }

  test("DELETE FROM and TRUNCATE TABLE run the copy-on-write rewrite through SQL") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    ManifestTable.overwrite(
      (1L to 20L).map(k => (k, if (k % 2 == 0) "even" else "odd")).toDF("k", "tag"), path)
    s2.sql("DELETE FROM graft.t WHERE tag = 'even' AND k > 10")
    assert(s2.sql("SELECT k FROM graft.t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == ((1L to 10L) ++ Seq(11L, 13L, 15L, 17L, 19L)),
      "only even keys above 10 must be gone")
    // the delete landed as a normal commit: time travel still sees v1
    assert(s2.sql("SELECT count(*) FROM graft.t VERSION AS OF 1").head().getLong(0) == 20L)
    // an untranslatable condition is refused, not narrowed
    val e = intercept[Exception](s2.sql("DELETE FROM graft.t WHERE k % 3 = 0"))
    assert(e.getMessage != null)
    assert(s2.sql("SELECT count(*) FROM graft.t").head().getLong(0) == 15L,
      "the refused delete must not remove anything")
    s2.sql("TRUNCATE TABLE graft.t")
    assert(s2.sql("SELECT count(*) FROM graft.t").head().getLong(0) == 0L)
    assert(ManifestTable.versions(path).size == 3,
      "truncate is a versioned commit, not an rm -rf")
  }

  test("readStream.table tails a catalog table with version offsets and startingVersion") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    ManifestTable.append(Seq(1, 2, 3).toDF("x"), path)
    ManifestTable.append(Seq(4, 5).toDF("x"), path)
    def drain(opts: Map[String, String]): Seq[Int] = {
      val ck = java.nio.file.Files.createTempDirectory("graft-cat-ck-").toString
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      var r = s2.readStream
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.table("graft.t").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(row => got.add(row.getInt(0))); ()
        }.start()
      q.awaitTermination()
      got.asScala.toSeq.sorted
    }
    assert(drain(Map.empty) == Seq(1, 2, 3, 4, 5))
    assert(drain(Map("startingVersion" -> "1")) == Seq(4, 5),
      "startingVersion must skip the already-held snapshot")
    val cdf = intercept[Exception](drain(Map("readChangeFeed" -> "true")))
    assert(cdf.getMessage.contains("graft-table") ||
      (cdf.getCause != null && cdf.getCause.getMessage.contains("graft-table")))
  }

  test("atomic RTAS: REPLACE TABLE AS SELECT swaps in one commit; a failing RTAS leaves the old table intact") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t AS SELECT * FROM VALUES (1, 'a'), (2, 'b') AS v(k, tag)")
    assert(s2.sql("SELECT count(*) FROM graft.t").head().getLong(0) == 2L)
    s2.sql("REPLACE TABLE graft.t AS SELECT * FROM VALUES (10, 'x') AS v(k, tag)")
    assert(s2.sql("SELECT k FROM graft.t").collect().map(_.getInt(0)).toSeq == Seq(10),
      "the replace must swap the data")
    assert(s2.sql("SELECT count(*) FROM graft.t VERSION AS OF 1").head().getLong(0) == 2L,
      "the pre-replace snapshot must stay time-travelable")
    // a failing RTAS (ANSI cast error mid-write) must leave the table
    // byte-identical: no new version, no schema change, no stray files
    val filesBefore = ManifestTable.dataFiles(path).toSet
    val vBefore = ManifestTable.versions(path)
    intercept[Exception](s2.sql(
      "REPLACE TABLE graft.t AS SELECT CAST(x AS INT) AS k, 'y' AS tag " +
        "FROM VALUES ('nope') AS v(x)"))
    assert(ManifestTable.versions(path) == vBefore,
      "a failed RTAS must not commit")
    assert(s2.sql("SELECT k FROM graft.t").collect().map(_.getInt(0)).toSeq == Seq(10))
    // a failing CTAS leaves NO table behind
    intercept[Exception](s2.sql(
      "CREATE TABLE graft.t2 AS SELECT CAST(x AS INT) AS k FROM VALUES ('nope') AS v(x)"))
    assert(!s2.catalog.tableExists("graft.t2"))
    assert(filesBefore.subsetOf(ManifestTable.dataFiles(path).toSet))
  }

  test("CREATE OR REPLACE TABLE with merge.keys: the replaced table is immediately row-level-operable") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    s2.sql("""CREATE OR REPLACE TABLE graft.t
              TBLPROPERTIES ('merge.keys'='k')
              AS SELECT k, CAST(v AS DOUBLE) AS v
              FROM VALUES (1L, 1.0), (2L, 2.0) AS t(k, v)""")
    s2.sql("UPDATE graft.t SET v = CAST(9.0 AS DOUBLE) WHERE k = 1")
    assert(s2.sql("SELECT v FROM graft.t WHERE k = 1").head().getDouble(0) == 9.0)
  }

  test("live statistics see through a delete ledger: post-delete SQL join plans a broadcast") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
    val path = s"$wh/big"
    // physically above-threshold table (padded strings)…
    val big = spark.range(0, 50000).toDF("k")
      .withColumn("pad", concat_ws("", array((0 until 20).map(_ => md5(col("k").cast("string"))): _*)))
    ManifestTable.overwrite(big, path)
    val physical = ManifestTable.dataFileSizes(path,
      ManifestTable.statsSurvivors(path, Seq.empty))
    // …then a MoR merge hides all but 50 rows: live size collapses
    ManifestTable.mergeMoR(s2, path,
      spark.range(50, 50000).toDF("k").withColumn("pad", lit("gone")), Seq("k"),
      deleteWhen = Some(lit(true)))

    val thr = org.apache.spark.sql.graft.ColumnBridge.autoBroadcastThreshold(s2)
    assert(physical > thr,
      s"test premise: physical $physical must exceed broadcast threshold $thr")
    // probe side is made too big to broadcast (24 MB size estimate), so
    // a BroadcastHashJoin can only come from the graft scan's LIVE stats
    s2.range(0, 3000000).toDF("k").createOrReplaceTempView("probe")
    val joined = s2.sql(
      "SELECT p.k FROM probe p JOIN graft.big b ON p.k = b.k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"live-size stats should broadcast the 50-live-row side:\n$plan")
    assert(joined.count() == 50L)

    // the decision is SIZE-driven, not unconditional: with a threshold
    // below even the live estimate, the same join refuses to broadcast
    // (every spec session now carries the rule via spark.sql.extensions,
    // so the rule-free premise is asserted through its size input)
    val s3 = catalogSession(wh)
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    s3.range(0, 3000000).toDF("k").createOrReplaceTempView("probe")
    val bare = s3.sql(
      "SELECT p.k FROM probe p JOIN graft.big b ON p.k = b.k")
    assert(!bare.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "a threshold below the live estimate must refuse the broadcast")
  }

  test("PARTITIONED BY: declared identity layout clusters every write and prunes partition predicates") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    // small advisory + min sizes: AQE would otherwise coalesce the toy
    // table's range shuffle into one file and no layout would be
    // observable (minPartitionSize's 1 MiB default dominates advisory)
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2k")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
    s2.sql("CREATE TABLE graft.pt (k BIGINT, grp STRING, v DOUBLE) PARTITIONED BY (grp)")
    s2.range(0, 900).selectExpr("id AS k",
      "concat('g', CAST(id % 3 AS STRING)) AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("src")
    s2.sql("INSERT INTO graft.pt SELECT * FROM src")

    // the layout survives the catalog round trip (DESCRIBE's source)
    val t = s2.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "pt"))
    assert(t.partitioning().length == 1 &&
      t.partitioning().head.references().head.fieldNames()
        .sameElements(Array("grp")))

    val path = s"$wh/pt"
    import graft.conditions.{Condition, Op}
    val all = ManifestTable.statsSurvivors(path, Seq.empty)
    val surv = Seq("g0", "g1", "g2").map(g =>
      ManifestTable.statsSurvivors(path, Seq(Condition("grp", Op.Eq, g))))
    assert(all.size >= 3, s"expected >=3 clustered files, got ${all.size}")
    surv.foreach(sv => assert(sv.nonEmpty && sv.size < all.size,
      s"partition predicate must prune files: ${sv.size}/${all.size}"))
    // near-disjoint: only a value-joint file may answer for two groups
    assert(surv.map(_.size).sum <= all.size + 2)
    assert(s2.sql("SELECT count(*) FROM graft.pt WHERE grp = 'g1'")
      .head().getLong(0) == 300L)

    // a second INSERT keeps the contract (append commits re-cluster too)
    s2.sql("INSERT INTO graft.pt SELECT k + 1000, grp, v FROM src")
    val all2 = ManifestTable.statsSurvivors(path, Seq.empty)
    val sv2 = ManifestTable.statsSurvivors(path,
      Seq(Condition("grp", Op.Eq, "g2")))
    assert(all2.size > all.size && sv2.size < all2.size)

    // OPTIMIZE preserves the declared layout: the compaction rewrite
    // range-reclusters on the partition columns instead of smearing
    // every value across every file
    ManifestTable.compactCommit(s2, path, targetBytes = 4 * 1024)
    val allC = ManifestTable.statsSurvivors(path, Seq.empty)
    val svC = ManifestTable.statsSurvivors(path,
      Seq(Condition("grp", Op.Eq, "g1")))
    assert(allC.size >= 3, s"compaction should keep >=3 files, got ${allC.size}")
    assert(svC.nonEmpty && svC.size < allC.size,
      s"compaction lost the partition clustering: ${svC.size}/${allC.size}")
    assert(s2.sql("SELECT count(*) FROM graft.pt WHERE grp = 'g1'")
      .head().getLong(0) == 600L)

    // refused layouts: unsupported transforms, unknown columns
    // (bucket(n, col) is SUPPORTED as of round 14 — BucketedTableSpec)
    intercept[UnsupportedOperationException] {
      s2.sql("CREATE TABLE graft.bad1 (k BIGINT, g STRING) PARTITIONED BY (hours(k))")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      s2.sql("CREATE TABLE graft.bad2 (k BIGINT, g STRING) PARTITIONED BY (nope)")
    }

    // partitioned CTAS stages through the ordered DSv2 write; RTAS to an
    // unpartitioned layout drops the declaration
    s2.sql("""CREATE TABLE graft.pt2 PARTITIONED BY (grp) AS
              SELECT * FROM src""")
    val t2 = s2.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "pt2"))
    assert(t2.partitioning().length == 1)
    val svCtas = ManifestTable.statsSurvivors(s"$wh/pt2",
      Seq(Condition("grp", Op.Eq, "g0")))
    val allCtas = ManifestTable.statsSurvivors(s"$wh/pt2", Seq.empty)
    assert(svCtas.nonEmpty && svCtas.size < allCtas.size,
      s"CTAS files must be partition-clustered: ${svCtas.size}/${allCtas.size}")
    s2.sql("REPLACE TABLE graft.pt2 AS SELECT * FROM src")
    val t3 = s2.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "pt2"))
    assert(t3.partitioning().isEmpty,
      "RTAS without PARTITIONED BY must drop the declared layout")
  }

  test("streamed epochs into a PARTITIONED BY table cluster through the declared distribution") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2k")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
    s2.sql("CREATE TABLE graft.spt (k BIGINT, grp STRING, v DOUBLE) PARTITIONED BY (grp)")
    val feed = Files.createTempDirectory("graft-spt-").toString + "/feed"
    val ck = Files.createTempDirectory("graft-spt-ck-").toString
    spark.range(0, 900).selectExpr("id AS k",
      "concat('g', CAST(id % 3 AS STRING)) AS grp", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.parquet(feed)
    val schema = s2.read.parquet(feed).schema
    s2.readStream.schema(schema).parquet(feed)
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.spt").awaitTermination()
    val path = s"$wh/spt"
    import graft.conditions.{Condition, Op}
    val all = ManifestTable.statsSurvivors(path, Seq.empty)
    val surv = Seq("g0", "g1", "g2").map(g =>
      ManifestTable.statsSurvivors(path, Seq(Condition("grp", Op.Eq, g))))
    assert(all.size >= 3, s"expected >=3 clustered files, got ${all.size}")
    surv.foreach(sv => assert(sv.nonEmpty && sv.size < all.size,
      s"streamed files must prune partition predicates: ${sv.size}/${all.size}"))
    assert(surv.map(_.size).sum <= all.size + 2)
    assert(s2.sql("SELECT count(*) FROM graft.spt WHERE grp = 'g2'")
      .head().getLong(0) == 300L)
  }

  test("SHOW PARTITIONS lists derived partitions; partition DDL refuses") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    (0 until 40).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("k", "g", "v")
      .createOrReplaceTempView("sp_src")
    s2.sql("CREATE TABLE graft.sp (k BIGINT, g STRING, v DOUBLE) PARTITIONED BY (g)")
    s2.sql("INSERT INTO graft.sp SELECT * FROM sp_src")
    val all = s2.sql("SHOW PARTITIONS graft.sp").collect().map(_.getString(0)).sorted
    assert(all.toSeq == Seq("g=g0", "g=g1", "g=g2", "g=g3"), all.mkString(","))
    val one = s2.sql("SHOW PARTITIONS graft.sp PARTITION (g='g2')")
      .collect().map(_.getString(0))
    assert(one.toSeq == Seq("g=g2"))
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.sp DROP PARTITION (g='g2')")
    }
    // stale/empty table: no partitions, no error
    s2.sql("CREATE TABLE graft.sp2 (k BIGINT, g STRING) PARTITIONED BY (g)")
    assert(s2.sql("SHOW PARTITIONS graft.sp2").collect().isEmpty)
    // a MoR delete that fully empties a partition must drop it from the
    // listing (the file is still live under a delete ledger — the exact
    // scan, not the stats shortcut, answers)
    s2.sql("DELETE FROM graft.sp WHERE g = 'g3'")
    val afterDel = s2.sql("SHOW PARTITIONS graft.sp")
      .collect().map(_.getString(0)).sorted
    assert(afterDel.toSeq == Seq("g=g0", "g=g1", "g=g2"),
      afterDel.mkString(","))
  }

  test("SHOW CREATE TABLE renders the full contract and round-trips") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    s2.sql("""CREATE TABLE graft.t (
                k BIGINT, v DOUBLE,
                twice DOUBLE GENERATED ALWAYS AS (v * 2),
                CONSTRAINT pos CHECK (v > 0),
                CONSTRAINT pk PRIMARY KEY (k))
              TBLPROPERTIES ('zorder.cols'='v')""")
    val ddl = s2.sql("SHOW CREATE TABLE graft.t").head().getString(0)
    assert(ddl.contains("GENERATED ALWAYS AS (v * 2)"), ddl)
    assert(ddl.contains("CONSTRAINT check_0 CHECK (v > 0)"), ddl)
    assert(ddl.contains("CONSTRAINT pk PRIMARY KEY (k)"), ddl)
    assert(ddl.contains("'zorder.cols' = 'v'"), ddl)
    // re-running the rendered DDL recreates an identical contract —
    // nothing doubled (constraints appear once), nothing dropped
    s2.sql(ddl.replace("graft.t", "graft.t2"))
    val ddl2 = s2.sql("SHOW CREATE TABLE graft.t2").head().getString(0)
    assert(ddl2.replace("graft.t2", "graft.t") == ddl, s"$ddl\nvs\n$ddl2")
    s2.sql("INSERT INTO graft.t2 (k, v) VALUES (1, 2.0)")
    assert(s2.sql("SELECT twice FROM graft.t2").head().getDouble(0) == 4.0,
      "the round-tripped table must still compute its generated column")
    // layouts render as PARTITIONED BY and survive the round trip
    s2.sql("CREATE TABLE graft.b (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
    val bddl = s2.sql("SHOW CREATE TABLE graft.b").head().getString(0)
    assert(bddl.contains("PARTITIONED BY (bucket(8, k))"), bddl)
    s2.sql(bddl.replace("graft.b", "graft.b2"))
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val part = s2.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array.empty, "b2")).partitioning()
    assert(part.length == 1 && part.head.name() == "bucket", part.mkString(","))
    // a non-graft (session catalog) table still uses Spark's renderer
    s2.sql("CREATE TABLE spark_catalog.default.plain (k BIGINT) USING parquet")
    val pddl = s2.sql("SHOW CREATE TABLE spark_catalog.default.plain")
      .head().getString(0)
    assert(pddl.contains("USING parquet"), pddl)
    s2.sql("DROP TABLE spark_catalog.default.plain")
  }
}
