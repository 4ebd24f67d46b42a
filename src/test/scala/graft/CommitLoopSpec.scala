package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.ManifestTable
import graft.conditions.{Condition, Op}

/** The single-table commit loop: every commit builds its next manifest
  * in one place (so a data commit built on a maintenance head is a data
  * change of its own), claims through one seam (so one armed
  * `beforePublishHook` races every entry point), and rebases or re-runs
  * under one rule. */
class CommitLoopSpec extends SparkSpecBase {

  private def mk(): String = {
    val path = Files.createTempDirectory("graft-cl-").toString + "/t"
    ManifestTable.append(batch(0, 200).repartition(4), path)
    path
  }

  private def batch(from: Long, until: Long) =
    spark.range(from, until).select(col("id").as("k"),
      (col("id") % 4).as("g"), (col("id") * 1.0).as("v"))

  private def tombstones(from: Long, until: Long) =
    batch(from, until).withColumn("op", lit("D"))

  private def dataDirListing(path: String): Set[String] =
    scala.util.Using.resource(Files.list(Paths.get(path, "data"))) { st =>
      st.iterator().asScala.map(_.getFileName.toString).toSet
    }

  override def afterAll(): Unit = {
    ManifestTable.beforePublishHook = () => ()
    super.afterAll()
  }

  private var racerKey = 100000L

  /** Run `entry` with a one-shot hook that lands a 10-row append at the
    * claim. Returns (the append's version, the entry's result). */
  private def raced[A](path: String)(entry: => A): (Long, A) = {
    var racer = -1L
    val from = racerKey
    racerKey += 10
    ManifestTable.beforePublishHook = () => {
      ManifestTable.beforePublishHook = () => ()
      racer = ManifestTable.append(batch(from, from + 10), path)
    }
    val out = try entry finally ManifestTable.beforePublishHook = () => ()
    assert(racer > 0, "the claim must fire the hook")
    assert(ManifestTable.read(spark, path, Some(racer))
      .where(col("k") >= from && col("k") < from + 10).count() == 10,
      "the racing append must land")
    (racer, out)
  }

  // a data commit built on a compaction head (dataChange=false) is a
  // data change of its own: the change feed and streams must see it

  test("a txn bundle landing on a compaction head is a data change") {
    val pa = mk()
    ManifestTable.compactCommit(spark, pa)
    val txn = ManifestTable.newTransaction(spark, pa)
    txn.append(batch(1000, 1010))
    val va = txn.commit()
    assert(ManifestTable.isDataChange(pa, va))
    assert(ManifestTable.changeFeed(spark, pa, va - 1, va).count() == 10)
  }

  test("a DML fast-forward onto a compaction head is a data change") {
    val pb = mk()
    ManifestTable.compactCommit(spark, pb)
    ManifestTable.createBranch(pb, "fix")
    ManifestTable.mergeMoRBranch(spark, pb, "fix",
      batch(0, 5).withColumn("v", lit(-1.0)), Seq("k"))
    val vb = ManifestTable.fastForward(pb, "fix")
    assert(ManifestTable.isDataChange(pb, vb))
    ManifestTable.materializeCdf(spark, pb, vb, Seq("k"))
    assert(ManifestTable.changeFeed(spark, pb, vb - 1, vb)
      .where(col("_change_type") === "update_postimage").count() == 5)
  }

  test("a restore to a rebased compaction is a data change and no rebase") {
    val pc = mk()
    raced(pc) { ManifestTable.compactCommit(spark, pc) }
    val vComp = ManifestTable.latestVersion(pc)
    assert(!ManifestTable.isDataChange(pc, vComp))
    val hist = ManifestTable.history(spark, pc)
    assert(!hist.where(col("version") === vComp).select("rebased_from")
      .head().isNullAt(0), "the compaction must have rebased")
    ManifestTable.append(batch(3000, 3010), pc)
    val vc = ManifestTable.restore(pc, vComp)
    assert(ManifestTable.isDataChange(pc, vc))
    assert(ManifestTable.history(spark, pc).where(col("version") === vc)
      .select("rebased_from").head().isNullAt(0),
      "a restore is not a rebase of the version it restores")
    ManifestTable.materializeCdf(spark, pc, vc, Seq("k"))
    assert(ManifestTable.changeFeed(spark, pc, vc - 1, vc)
      .where(col("_change_type") === "delete").count() == 10)
  }

  test("compactDeletes racing an append rebases: both land and no " +
      "staged file is orphaned") {
    val path = mk()
    ManifestTable.mergeMoR(spark, path, tombstones(0, 10), Seq("k"),
      deleteWhen = Some(col("op") === "D"))
    val v0 = ManifestTable.latestVersion(path)
    val (racer, v) = raced(path) { ManifestTable.compactDeletes(spark, path) }
    assert(racer == v0 + 1 && v == v0 + 2)
    assert(ManifestTable.deleteFiles(path).isEmpty, "the ledger is folded")
    assert(ManifestTable.read(spark, path).count() == 200 - 10 + 10)
    val referenced = (1L to v).flatMap { x =>
      ManifestTable.dataFiles(path, Some(x)) ++
        ManifestTable.deleteFiles(path, Some(x))
    }.toSet
    assert((dataDirListing(path) -- referenced).isEmpty,
      "the fold must adopt its staged files, not re-stage them")
  }

  test("an incremental fold of a PARTITIONED BY table range-clusters " +
      "like the other compactions") {
    val wh = Files.createTempDirectory("graft-cl-pt-").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2.sql("CREATE TABLE graft.pt (k BIGINT, grp STRING, v DOUBLE) " +
      "PARTITIONED BY (grp)")
    val path = s"$wh/pt"
    (0 until 8).foreach { i =>
      ManifestTable.append(spark.range(i * 100L, (i + 1) * 100L).select(
        col("id").as("k"), concat(lit("g"), col("id") % 4).as("grp"),
        (col("id") * 1.5).as("v")), path)
    }
    val before = ManifestTable.dataFiles(path)
    assert(before.size >= 32, s"one file per value per append: ${before.size}")
    val bytes = ManifestTable.dataFileSizes(path, before)
    val target = bytes / 5 + 1
    val nFiles = math.ceil(bytes.toDouble / target).toInt
    ManifestTable.compactIncremental(spark, path, targetBytes = target,
      minFill = 1.0)
    val after = ManifestTable.dataFiles(path)
    assert(after.size <= nFiles + 4 - 1,
      s"$nFiles range-clustered tasks over 4 values write at most " +
        s"${nFiles + 3} files, got ${after.size}")
    assert(ManifestTable.read(spark, path).count() == 800)
  }

  // ── one hook seam: every entry point claims through it ──────────────

  private def landsAfter(path: String)(entry: => Long): Unit = {
    val (racer, v) = raced(path)(entry)
    assert(v > racer, s"the entry must land after the racing append (v$v)")
  }

  test("the hook seam: append and overwrite") {
    val p1 = mk()
    landsAfter(p1) { ManifestTable.append(batch(500, 510), p1) }
    assert(ManifestTable.read(spark, p1).count() == 220)
    val p2 = mk()
    landsAfter(p2) { ManifestTable.overwrite(batch(500, 510), p2) }
    assert(ManifestTable.read(spark, p2).count() == 10)
  }

  test("the hook seam: constraint and generated-column commits") {
    val p1 = mk()
    landsAfter(p1) { ManifestTable.setConstraints(spark, p1, Seq("v >= 0")) }
    assert(ManifestTable.constraints(p1) == Seq("v >= 0"))
    val p2 = mk()
    landsAfter(p2) {
      ManifestTable.setGeneratedColumns(spark, p2, Seq("g" -> "k % 4"))
    }
    assert(ManifestTable.generatedColumns(p2) == Seq("g" -> "k % 4"))
  }

  test("the hook seam: renameColumn and dropColumn") {
    val p1 = mk()
    landsAfter(p1) { ManifestTable.renameColumn(spark, p1, "v", "w") }
    assert(ManifestTable.read(spark, p1).columns.toSeq == Seq("k", "g", "w"))
    assert(ManifestTable.read(spark, p1).count() == 210)
    val p2 = mk()
    landsAfter(p2) { ManifestTable.dropColumn(spark, p2, "v") }
    assert(ManifestTable.read(spark, p2).columns.toSeq == Seq("k", "g"))
  }

  test("the hook seam: restore") {
    val path = mk()
    ManifestTable.append(batch(500, 510), path)
    landsAfter(path) { ManifestTable.restore(path, 1L) }
    assert(ManifestTable.read(spark, path).count() == 200)
  }

  test("the hook seam: the three compactions and compactDeletes") {
    val p1 = mk()
    landsAfter(p1) { ManifestTable.compactCommit(spark, p1) }
    val p2 = mk()
    landsAfter(p2) {
      ManifestTable.compactWhere(spark, p2, Seq(Condition("k", Op.Lt, 100L)))
    }
    val p3 = mk()
    landsAfter(p3) { ManifestTable.compactIncremental(spark, p3) }
    val p4 = mk()
    ManifestTable.mergeMoR(spark, p4, tombstones(0, 5), Seq("k"),
      deleteWhen = Some(col("op") === "D"))
    landsAfter(p4) { ManifestTable.compactDeletes(spark, p4) }
    Seq(p1 -> 210L, p2 -> 210L, p3 -> 210L, p4 -> 205L).foreach { case (p, n) =>
      assert(ManifestTable.read(spark, p).count() == n, p)
    }
  }

  test("the hook seam: CoW merge and MoR merge") {
    val p1 = mk()
    landsAfter(p1) {
      ManifestTable.merge(spark, p1, batch(0, 5).withColumn("v", lit(-1.0)),
        Seq("k"))
    }
    val p2 = mk()
    landsAfter(p2) {
      ManifestTable.mergeMoR(spark, p2,
        batch(0, 5).withColumn("v", lit(-1.0)), Seq("k"))
    }
    Seq(p1, p2).foreach { p =>
      val t = ManifestTable.read(spark, p)
      assert(t.count() == 210 && t.where(col("v") === -1.0).count() == 5, p)
    }
  }

  test("the hook seam: a transaction bundle and the one-action rewrites") {
    val p1 = mk()
    landsAfter(p1) {
      val txn = ManifestTable.newTransaction(spark, p1)
      txn.append(batch(500, 510))
      txn.commit()
    }
    assert(ManifestTable.read(spark, p1).count() == 220)
    val p2 = mk()
    landsAfter(p2) { ManifestTable.deleteWhere(spark, p2, col("k") < 50) }
    assert(ManifestTable.read(spark, p2).count() == 160)
    val p3 = mk()
    landsAfter(p3) {
      ManifestTable.updateWhere(spark, p3, col("k") < 50, Map("v" -> lit(0.0)))
    }
    assert(ManifestTable.read(spark, p3).where(col("v") === 0.0).count() == 50)
    val p4 = mk()
    landsAfter(p4) {
      ManifestTable.replaceWhere(spark, p4, col("g") === 1,
        batch(0, 8).where(col("g") === 1))
    }
    assert(ManifestTable.read(spark, p4).where(col("g") === 1).count() == 2)
  }

  test("the hook seam: a DML fast-forward refuses a moved main and " +
      "unseals its ref") {
    val path = mk()
    ManifestTable.createBranch(path, "fix")
    ManifestTable.mergeMoRBranch(spark, path, "fix",
      batch(0, 5).withColumn("v", lit(-1.0)), Seq("k"))
    val (racer, refused) = raced(path) {
      scala.util.Try(ManifestTable.fastForward(path, "fix"))
    }
    assert(refused.isFailure &&
      refused.failed.get.isInstanceOf[IllegalStateException],
      s"strict publish must refuse, got $refused")
    assert(ManifestTable.latestVersion(path) == racer)
    assert(!ManifestTable.branches(path)("fix").isSealed,
      "the refused ref must be unsealed for re-audit")
  }
}
