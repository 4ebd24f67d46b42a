package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** SQL UPDATE / MERGE INTO / row-level DELETE on keyed catalog tables
  * ([[graft.sources.GraftRowLevelOperation]]): delta writes landing
  * merge-on-read commits — O(changed rows) staged bytes, zero rewritten
  * data files — plus ALTER TABLE metadata changes. */
class GraftRowLevelSpec extends SparkSpecBase {

  private def catalogSession(wh: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2
  }

  private def freshWh(): String =
    Files.createTempDirectory("graft-rl-").toString

  test("SQL UPDATE lands a MoR delta commit: no data file rewritten, time travel intact") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, tag STRING, v DOUBLE) " +
      "TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("INSERT INTO graft.t VALUES (1, 'a', 10.0), (2, 'b', 20.0), (3, 'a', 30.0)")
    val filesBefore = ManifestTable.dataFiles(path)
    s2.sql("UPDATE graft.t SET v = v * 2, tag = 'bumped' WHERE tag = 'a'")
    // merge-on-read: every pre-update data file still referenced, the
    // update added files instead of rewriting them
    val filesAfter = ManifestTable.dataFiles(path)
    assert(filesBefore.forall(filesAfter.contains),
      "UPDATE must not rewrite or drop existing data files")
    assert(ManifestTable.deleteFiles(path).nonEmpty,
      "UPDATE must stage delete entries for the touched keys")
    assert(s2.sql("SELECT k, tag, v FROM graft.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      == Seq((1L, "bumped", 20.0), (2L, "b", 20.0), (3L, "bumped", 60.0)))
    assert(s2.sql("SELECT sum(v) FROM graft.t VERSION AS OF 1").head().getDouble(0)
      == 60.0, "time travel must still see pre-update values")
  }

  test("SQL UPDATE moving a row onto an existing key replaces that row (mergeMoR contract)") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, v STRING) TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("INSERT INTO graft.t VALUES (1, 'one'), (2, 'two')")
    s2.sql("UPDATE graft.t SET k = 2 WHERE k = 1")
    assert(s2.sql("SELECT k, v FROM graft.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "one")),
      "the moved row must replace the old key's row, not duplicate it")
    assert(ManifestTable.tableMergeKeys(path) == Seq("k"))
  }

  test("delta writes cluster by key: an UPDATE over a many-file table stages few right-sized files") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, v DOUBLE) TBLPROPERTIES ('merge.keys'='k')")
    // 8 separate commits → 8 data files feeding the update scan
    (0 until 8).foreach { i =>
      ManifestTable.append(
        (i * 100L until (i + 1) * 100L).map(k => (k, k * 1.0)).toDF("k", "v"), path)
    }
    assert(ManifestTable.dataFiles(path).size >= 8)
    val before = (ManifestTable.dataFiles(path).size,
      ManifestTable.deleteFiles(path).size)
    s2.sql("UPDATE graft.t SET v = v * 2")
    val addedData = ManifestTable.dataFiles(path).size - before._1
    val addedDel = ManifestTable.deleteFiles(path).size - before._2
    // the required ClusteredDistribution shuffles the delta rows and AQE
    // coalesces to the advisory size — KBs of changes land as ~one
    // upsert + one delete file, not one pair per scan task
    assert(addedData <= 2, s"expected coalesced upsert files, got $addedData")
    assert(addedDel <= 2, s"expected coalesced delete files, got $addedDel")
    assert(s2.sql("SELECT sum(v) FROM graft.t").head().getDouble(0)
      == (0L until 800L).map(_ * 2.0).sum)
  }

  test("MERGE INTO: matched update, matched delete, not-matched insert in one statement") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    s2.sql("CREATE TABLE graft.t (k BIGINT, v DOUBLE) TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("INSERT INTO graft.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    Seq((1L, 10.0, "u"), (3L, 0.0, "d"), (4L, 4.0, "i"))
      .toDF("k", "v", "op").createOrReplaceTempView("src")
    s2.sql(
      """MERGE INTO graft.t AS t USING src AS s ON t.k = s.k
         WHEN MATCHED AND s.op = 'd' THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(s2.sql("SELECT k, v FROM graft.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((1L, 10.0), (2L, 2.0), (4L, 4.0)))
    // the whole MERGE landed as ONE commit
    assert(ManifestTable.versions(s"$wh/t").size == 2)
  }

  test("row-level DELETE handles conditions the metadata path cannot translate") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, v STRING) TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("INSERT INTO graft.t SELECT id, CAST(id AS STRING) FROM range(1, 21)")
    val filesBefore = ManifestTable.dataFiles(path)
    s2.sql("DELETE FROM graft.t WHERE k % 3 = 0") // untranslatable → delta path
    assert(s2.sql("SELECT count(*) FROM graft.t").head().getLong(0) == 14L)
    assert(filesBefore.forall(ManifestTable.dataFiles(path).contains),
      "a delta DELETE must not rewrite data files")
    // translatable → metadata path (copy-on-write rewrite), still correct
    s2.sql("DELETE FROM graft.t WHERE k > 15")
    assert(s2.sql("SELECT count(*) FROM graft.t").head().getLong(0) == 10L)
  }

  test("delta writes enforce CHECK constraints and the duplicate-key contract") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, v DOUBLE) TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("INSERT INTO graft.t VALUES (1, 1.0), (2, 2.0)")
    ManifestTable.setConstraints(s2, path, Seq("v >= 0"))
    val before = s2.sql("SELECT sum(v) FROM graft.t").head().getDouble(0)
    val e = intercept[Exception](
      s2.sql("UPDATE graft.t SET v = -5.0 WHERE k = 1"))
    assert(Option(e.getMessage).exists(_.contains("constraint")) ||
      Option(e.getCause).exists(c => Option(c.getMessage).exists(_.contains("constraint"))))
    assert(s2.sql("SELECT sum(v) FROM graft.t").head().getDouble(0) == before,
      "a failed UPDATE must leave the table untouched")
    // two source rows updating distinct keys onto the SAME key: the
    // commit-time dup probe refuses the write
    Seq((1L, 9L), (2L, 9L)).toDF("k", "nk").createOrReplaceTempView("remap")
    val dup = intercept[Exception](s2.sql(
      """MERGE INTO graft.t AS t USING remap AS s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET k = s.nk"""))
    assert(Option(dup.getMessage).exists(_.contains("duplicate")) ||
      Option(dup.getCause).exists(c => Option(c.getMessage).exists(_.contains("duplicate"))))
  }

  test("ALTER TABLE: ADD COLUMN null-fills, merge.keys keys an unkeyed table, check.* lands a constraint commit") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, v DOUBLE)")
    s2.sql("INSERT INTO graft.t VALUES (1, 1.0), (2, 2.0)")
    // unkeyed: UPDATE has no row identity → analysis fails
    val noKeys = intercept[Exception](
      s2.sql("UPDATE graft.t SET v = 0 WHERE k = 1"))
    assert(noKeys.getMessage != null)
    s2.sql("ALTER TABLE graft.t SET TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("UPDATE graft.t SET v = 7.0 WHERE k = 1")
    assert(s2.sql("SELECT v FROM graft.t WHERE k = 1").head().getDouble(0) == 7.0)
    // ADD COLUMN: visible immediately, null-filled, writable after
    s2.sql("ALTER TABLE graft.t ADD COLUMN note STRING")
    assert(s2.sql("SELECT note FROM graft.t").collect().forall(_.isNullAt(0)))
    s2.sql("INSERT INTO graft.t VALUES (3, 3.0, 'hello')")
    assert(s2.sql("SELECT note FROM graft.t WHERE k = 3").head().getString(0) == "hello")
    // check.* property = ALTER TABLE ADD CONSTRAINT; existing rows validated
    s2.sql("ALTER TABLE graft.t SET TBLPROPERTIES ('check.pos'='v >= 0')")
    assert(ManifestTable.constraints(path) == Seq("v >= 0"))
    val bad = intercept[Exception](
      s2.sql("INSERT INTO graft.t VALUES (4, -1.0, 'x')"))
    assert(bad.getMessage != null)
    // rename/drop are metadata-only commits via column mapping — but a
    // column the table's CONTRACT references stays immutable
    s2.sql("ALTER TABLE graft.t RENAME COLUMN note TO memo")
    assert(s2.sql("SELECT memo FROM graft.t WHERE k = 3").head().getString(0)
      == "hello")
    s2.sql("ALTER TABLE graft.t DROP COLUMN memo")
    assert(!s2.table("graft.t").schema.fieldNames.contains("memo"))
    intercept[Exception]( // v is CHECK-referenced and a non-key column
      s2.sql("ALTER TABLE graft.t RENAME COLUMN v TO value"))
  }

  test("writeStream.toTable commits one idempotent version per epoch; restart replays nothing") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val src = s"$wh/src"
    val out = s"$wh/out"
    val ck = Files.createTempDirectory("graft-rl-ck-").toString
    ManifestTable.append(Seq(1, 2, 3).toDF("x"), src)
    ManifestTable.append(Seq(4, 5).toDF("x"), src)
    s2.sql("CREATE TABLE graft.out (x INT)")
    def drain(): Unit = {
      val q = s2.readStream.format("graft-table").load(src)
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.out")
      q.awaitTermination()
    }
    drain()
    assert(s2.sql("SELECT x FROM graft.out ORDER BY x").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    val v1 = ManifestTable.versions(out)
    assert(v1.nonEmpty)
    drain() // nothing new: no version, no duplicate rows
    assert(ManifestTable.versions(out) == v1,
      "an empty restart must commit nothing")
    ManifestTable.append(Seq(6).toDF("x"), src)
    drain()
    assert(s2.sql("SELECT count(*) FROM graft.out").head().getLong(0) == 6L)
    assert(ManifestTable.versions(out).size == v1.size + 1,
      "the resumed drain must land exactly the new commit")
    // replay protection is the manifest txn ledger (one latest-manifest
    // read per epoch): the app's highest applied epoch is recorded and
    // survives later commits by other writers
    assert(ManifestTable.latestCommitId(out).exists(_.startsWith("st-")))
    val app = ManifestTable.latestCommitId(out).get.reverse.dropWhile(_ != '-')
      .drop(1).reverse
    val e1 = ManifestTable.lastTxn(out, app)
    assert(e1.nonEmpty, "epoch commits must record an app transaction")
    ManifestTable.append(Seq(99).toDF("x"), out)
    assert(ManifestTable.lastTxn(out, app) == e1,
      "the txn ledger must survive commits from other writers")
  }

  test("streaming sink enforces CHECK constraints per epoch commit") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val src = s"$wh/src"
    val out = s"$wh/out"
    val ck = Files.createTempDirectory("graft-rl-ck2-").toString
    ManifestTable.append(Seq(1, -2).toDF("x"), src)
    s2.sql("CREATE TABLE graft.out (x INT)")
    ManifestTable.overwrite(Seq(0).toDF("x"), out)
    ManifestTable.setConstraints(s2, out, Seq("x >= 0"))
    val vBefore = ManifestTable.versions(out).size
    val q = s2.readStream.format("graft-table").load(src)
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.out")
    val e = intercept[Exception](q.awaitTermination())
    assert(e.getMessage != null)
    assert(ManifestTable.versions(out).size == vBefore,
      "a constraint-violating epoch must not commit")
  }

  test("SQL UPDATE commits against the version its scan read: a racing " +
      "same-key merge fails it loudly, a key-disjoint racer lets both land") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, v DOUBLE) TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("INSERT INTO graft.t VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    def arm(winner: => Unit): Unit =
      ManifestTable.beforePublishHook = () => {
        ManifestTable.beforePublishHook = () => ()
        winner
      }
    def rows(): Map[Long, Double] = s2.sql("SELECT k, v FROM graft.t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // same key: another writer re-commits k=1 between the UPDATE's scan
    // and its commit — the UPDATE's delete file would hide that row
    arm { ManifestTable.mergeMoR(spark, path, Seq((1L, 111.0)).toDF("k", "v"),
      Seq("k")) }
    val e = try intercept[Exception] {
      s2.sql("UPDATE graft.t SET v = -1.0 WHERE k = 1")
    } finally ManifestTable.beforePublishHook = () => ()
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("conflict"), s"want a commit conflict, got: $msgs")
    assert(rows() == Map(1L -> 111.0, 2L -> 20.0, 3L -> 30.0),
      "the winner's row must survive the refused UPDATE")
    // key-disjoint: an append of a new key rebases under the UPDATE
    arm { ManifestTable.append(Seq((4L, 40.0)).toDF("k", "v"), path) }
    try s2.sql("UPDATE graft.t SET v = -2.0 WHERE k = 2")
    finally ManifestTable.beforePublishHook = () => ()
    assert(rows() == Map(1L -> 111.0, 2L -> -2.0, 3L -> 30.0, 4L -> 40.0),
      "both the racing append and the UPDATE must land")
  }

  /** Every message of `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" <- ")

  test("NULL is a CHECK violation for SQL UPDATE, as for the path API") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, v DOUBLE) TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("INSERT INTO graft.t VALUES (1, 1.0), (2, 2.0)")
    ManifestTable.setConstraints(s2, path, Seq("v >= 0"))
    val vs = ManifestTable.versions(path)
    val e = intercept[Exception](
      s2.sql("UPDATE graft.t SET v = NULL WHERE k = 1"))
    assert(messages(e).contains("violate the table contract [v >= 0]"),
      messages(e))
    assert(ManifestTable.versions(path) == vs, "the refused UPDATE landed")
    intercept[Exception](ManifestTable.updateWhere(s2, path,
      col("k") === 1L, Map("v" -> lit(null).cast("double"))))
    assert(s2.sql("SELECT count(*) FROM graft.t WHERE v IS NULL")
      .head().getLong(0) == 0L)
  }

  test("a streaming-sink epoch carrying a NULL under CHECK (x >= 0) does not commit") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    val src = s"$wh/src"
    val out = s"$wh/out"
    val ck = Files.createTempDirectory("graft-rl-ck3-").toString
    ManifestTable.append(Seq(Some(1), None).toDF("x"), src)
    s2.sql("CREATE TABLE graft.out (x INT)")
    ManifestTable.overwrite(Seq(0).toDF("x"), out)
    ManifestTable.setConstraints(s2, out, Seq("x >= 0"))
    val vs = ManifestTable.versions(out)
    val q = s2.readStream.format("graft-table").load(src)
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.out")
    val e = intercept[Exception](q.awaitTermination())
    assert(messages(e).contains("violate the table contract [x >= 0]"),
      messages(e))
    assert(ManifestTable.versions(out) == vs, "the NULL epoch committed")
  }

  test("a CTAS whose rows carry a NULL under its declared CHECK is refused") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    import s2.implicits._
    Seq((1L, Some(1.0)), (2L, None)).toDF("k", "v").createOrReplaceTempView("nsrc")
    val e = intercept[Exception](s2.sql("CREATE TABLE graft.c " +
      "TBLPROPERTIES ('check.pos'='v >= 0') AS SELECT * FROM nsrc"))
    assert(messages(e).contains("violate the table contract [v >= 0]"),
      messages(e))
    assert(ManifestTable.versions(s"$wh/c").isEmpty)
  }

  test("SQL UPDATE lands under a CHECK added after RENAME COLUMN, which " +
      "names the column by its new name") {
    val wh = freshWh()
    val s2 = catalogSession(wh)
    val path = s"$wh/t"
    s2.sql("CREATE TABLE graft.t (k BIGINT, v DOUBLE) TBLPROPERTIES ('merge.keys'='k')")
    s2.sql("INSERT INTO graft.t VALUES (1, 1.0), (2, 2.0)")
    s2.sql("ALTER TABLE graft.t RENAME COLUMN v TO value")
    s2.sql("ALTER TABLE graft.t SET TBLPROPERTIES ('check.pos'='value >= 0')")
    assert(ManifestTable.constraints(path) == Seq("value >= 0"))
    s2.sql("UPDATE graft.t SET value = 5.0 WHERE k = 1")
    assert(s2.sql("SELECT value FROM graft.t WHERE k = 1").head()
      .getDouble(0) == 5.0)
    val e = intercept[Exception](
      s2.sql("UPDATE graft.t SET value = -1.0 WHERE k = 2"))
    assert(messages(e).contains("constraint") ||
      messages(e).contains("CHECK"), messages(e))
    assert(s2.sql("SELECT sum(value) FROM graft.t").head().getDouble(0) == 7.0)
  }
}
