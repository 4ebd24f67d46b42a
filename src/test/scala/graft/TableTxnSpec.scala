package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** Single-table multi-action transactions (the Iceberg Transaction
  * shape): N staged actions fold into ONE version commit — no reader
  * ever sees a partial bundle, replay is bundle-level, and a moved head
  * triggers one whole-bundle rebase decision (adopt when provably
  * disjoint, refuse loudly otherwise). */
class TableTxnSpec extends SparkSpecBase {

  private def mk(): String = {
    val path = Files.createTempDirectory("graft-ttx-").toString + "/t"
    val df = spark.range(0, 400).select(
      col("id").as("k"), (col("id") % 4).as("g"), (col("id") * 2.0).as("v"))
    ManifestTable.overwrite(df.repartitionByRange(4, col("k")), path)
    path
  }

  private def batch(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id").as("k"), (col("id") % 4).as("g"), (col("id") * 2.0).as("v"))

  override def afterAll(): Unit = {
    ManifestTable.beforePublishHook = () => ()
    super.afterAll()
  }

  test("N actions land as ONE version; no intermediate state is ever " +
      "readable; the pending snapshot sees each earlier action") {
    val path = mk()
    val v0 = ManifestTable.latestVersion(path)
    val txn = ManifestTable.newTransaction(spark, path)
    txn.deleteWhere(col("k") < 100)
    // the outside world still reads the base, mid-bundle
    assert(ManifestTable.read(spark, path).count() == 400)
    assert(ManifestTable.latestVersion(path) == v0)
    // the PENDING snapshot sees the delete
    assert(txn.read().count() == 300)
    txn.append(batch(1000, 1050))
    assert(txn.read().count() == 350)
    txn.updateWhere(col("k") >= 1000, Map("v" -> lit(-1.0)))
    txn.setConstraints(Seq("v >= -1"))
    val v = txn.commit()
    assert(v == v0 + 1, "the whole bundle must land as ONE version")
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 350)
    assert(t.where(col("k") < 100).count() == 0, "delete leg applied")
    assert(t.where(col("k") >= 1000 && col("v") === -1.0).count() == 50,
      "append + update legs applied")
    assert(ManifestTable.constraints(path) == Seq("v >= -1"))
    // the landed contract enforces immediately
    intercept[Exception] {
      ManifestTable.append(spark.range(0, 1).select(col("id").as("k"),
        lit(0L).as("g"), lit(-5.0).as("v")), path)
    }
    // time travel still sees the base whole
    assert(ManifestTable.read(spark, path, Some(v0)).count() == 400)
  }

  test("bundle-level idempotent replay through commitId: the re-run " +
      "lands nothing and answers the original version") {
    val path = mk()
    val v0 = ManifestTable.latestVersion(path)
    def run(): Long = {
      val txn = ManifestTable.newTransaction(spark, path, Some("bundle-1"))
      txn.deleteWhere(col("g") === 3)
      txn.append(batch(2000, 2010))
      txn.commit()
    }
    val v1 = run()
    assert(v1 == v0 + 1)
    val v2 = run() // re-run: detected at open, every action no-ops
    assert(v2 == v1, "replay must answer the landed version")
    assert(ManifestTable.latestVersion(path) == v1, "no second version")
    assert(ManifestTable.read(spark, path).count() == 310)
  }

  test("whole-bundle conflict rebase: a DISJOINT winner between open " +
      "and commit is adopted metadata-only; rebased_from is recorded") {
    val path = mk()
    val v0 = ManifestTable.latestVersion(path)
    val txn = ManifestTable.newTransaction(spark, path)
    txn.deleteWhere(col("k") < 100)  // scope: k < 100
    txn.append(batch(3000, 3020))
    // winner: an append entirely OUTSIDE the rewrite scope
    @volatile var fired = false
    ManifestTable.beforePublishHook = () => {
      if (!fired) { fired = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.append(batch(5000, 5005), path)
      }
    }
    val v = try txn.commit() finally ManifestTable.beforePublishHook = () => ()
    assert(v == v0 + 2, "winner at v+1, rebased bundle at v+2")
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 400 - 100 + 20 + 5,
      "winner's rows AND the whole bundle must both land")
    val h = ManifestTable.history(spark, path)
      .where(col("version") === v).select("rebased_from").head()
    assert(!h.isNullAt(0) && h.getLong(0) == v0,
      "DESCRIBE HISTORY must record the staged-against version")
  }

  test("whole-bundle conflict REFUSAL: a winner adding rows inside any " +
      "rewrite scope, or rewriting consumed inputs, fails loudly") {
    // (a) winner adds rows INSIDE the delete scope
    val pa = mk()
    val ta = ManifestTable.newTransaction(spark, pa)
    ta.deleteWhere(col("k") < 100)
    @volatile var fa = false
    ManifestTable.beforePublishHook = () => {
      if (!fa) { fa = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.append(batch(50, 55), pa) // k in [50,55) ⊂ scope
      }
    }
    val ea = try intercept[IllegalArgumentException] { ta.commit() }
      finally ManifestTable.beforePublishHook = () => ()
    assert(ea.getMessage.contains("rewrite scope"), ea.getMessage)
    // (b) winner REWRITES files the bundle consumed
    val pb = mk()
    val tb = ManifestTable.newTransaction(spark, pb)
    tb.updateWhere(col("k") < 100, Map("v" -> lit(0.0)))
    @volatile var fb = false
    ManifestTable.beforePublishHook = () => {
      if (!fb) { fb = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.deleteWhere(spark, pb, col("k") < 10)
      }
    }
    val eb = try intercept[IllegalArgumentException] { tb.commit() }
      finally ManifestTable.beforePublishHook = () => ()
    assert(eb.getMessage.contains("consumed") ||
      eb.getMessage.contains("ledger"), eb.getMessage)
  }

  test("contract drift during the bundle: staged rows re-prove against " +
      "the winner's constraint - satisfying rows land, violating refuse") {
    // satisfying: appended rows all have v >= 0
    val pa = mk()
    val ta = ManifestTable.newTransaction(spark, pa)
    ta.append(batch(4000, 4010)) // v = k*2 >= 0
    @volatile var fa = false
    ManifestTable.beforePublishHook = () => {
      if (!fa) { fa = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.setConstraints(spark, pa, Seq("v >= 0"))
      }
    }
    val va = try ta.commit() finally ManifestTable.beforePublishHook = () => ()
    assert(ManifestTable.read(spark, pa).count() == 410)
    assert(ManifestTable.constraints(pa) == Seq("v >= 0"),
      s"winner's contract survives the rebase (landed v$va)")
    // violating: appended rows have v < 0 under the winner's v >= 0
    val pb = mk()
    val tb = ManifestTable.newTransaction(spark, pb)
    tb.append(spark.range(0, 5).select(col("id").as("k"),
      lit(0L).as("g"), lit(-9.0).as("v")))
    @volatile var fb = false
    ManifestTable.beforePublishHook = () => {
      if (!fb) { fb = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.setConstraints(spark, pb, Seq("v >= 0"))
      }
    }
    val eb = try intercept[IllegalArgumentException] { tb.commit() }
      finally ManifestTable.beforePublishHook = () => ()
    assert(eb.getMessage.contains("contract") ||
      eb.getMessage.contains("satisfy"), eb.getMessage)
    assert(ManifestTable.read(spark, pb).where(col("v") < 0).count() == 0,
      "the refused bundle must land NOTHING")
  }

  test("a txn delete folds the MoR ledger of touched files; untouched " +
      "files keep their ledger semantics") {
    val path = mk()
    // MoR-delete k in [0,20) first: a real ledger exists
    ManifestTable.mergeMoR(spark, path,
      spark.range(0, 20).select(col("id").as("k"), lit(0L).as("g"),
        lit(0.0).as("v"), lit("D").as("op")),
      Seq("k"), deleteWhen = Some(col("op") === "D"))
    assert(ManifestTable.read(spark, path).count() == 380)
    val txn = ManifestTable.newTransaction(spark, path)
    txn.deleteWhere(col("k") >= 100 && col("k") < 150)
    txn.append(batch(6000, 6010))
    val v = txn.commit()
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 380 - 50 + 10, s"landed v$v")
    assert(t.where(col("k") < 20).count() == 0,
      "the pre-txn MoR deletes must still hide their rows")
  }

  test("setConstraints inside the bundle validates the PENDING rows and " +
      "gates LATER actions; actions after commit throw; a no-op bundle " +
      "lands no version") {
    val path = mk()
    val txn = ManifestTable.newTransaction(spark, path)
    txn.deleteWhere(col("v") < 100.0) // k < 50 leave
    txn.setConstraints(Seq("v >= 100"))  // pending rows all satisfy
    // a LATER append violating the pending contract refuses in-scan
    intercept[Exception] {
      txn.append(spark.range(0, 1).select(col("id").as("k"),
        lit(0L).as("g"), lit(5.0).as("v")))
    }
    val v = txn.commit()
    assert(ManifestTable.read(spark, path).count() == 350)
    intercept[IllegalArgumentException] { txn.append(batch(0, 1)) }
    intercept[IllegalArgumentException] { txn.deleteWhere(lit(true)) }
    assert(txn.commit() == v, "commit is idempotent on the same handle")
    // a bundle whose actions all no-op publishes nothing
    val v1 = ManifestTable.latestVersion(path)
    val noop = ManifestTable.newTransaction(spark, path)
    noop.deleteWhere(col("k") < -999)
    assert(noop.commit() == v1)
    assert(ManifestTable.latestVersion(path) == v1)
  }

  test("reverse contract drift: a winner's rows violating the BUNDLE's " +
      "new constraint refuse the rebase; satisfying winner rows adopt") {
    // violating: winner appends v = -9 while the bundle sets v >= 0
    val pa = mk()
    val ta = ManifestTable.newTransaction(spark, pa)
    ta.setConstraints(Seq("v >= 0"))
    ta.append(batch(8000, 8005))
    @volatile var fa = false
    ManifestTable.beforePublishHook = () => {
      if (!fa) { fa = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.append(spark.range(0, 3).select(col("id").as("k"),
          lit(0L).as("g"), lit(-9.0).as("v")), pa)
      }
    }
    val ea = try intercept[IllegalArgumentException] { ta.commit() }
      finally ManifestTable.beforePublishHook = () => ()
    assert(ea.getMessage.contains("contract"), ea.getMessage)
    assert(ManifestTable.constraints(pa).isEmpty,
      "the refused bundle's contract must not land")
    // satisfying: winner rows all have v >= 0 - the bundle adopts
    val pb = mk()
    val tb = ManifestTable.newTransaction(spark, pb)
    tb.setConstraints(Seq("v >= 0"))
    tb.append(batch(8000, 8005))
    @volatile var fb = false
    ManifestTable.beforePublishHook = () => {
      if (!fb) { fb = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.append(batch(9000, 9003), pb)
      }
    }
    try tb.commit() finally ManifestTable.beforePublishHook = () => ()
    assert(ManifestTable.constraints(pb) == Seq("v >= 0"))
    assert(ManifestTable.read(spark, pb).count() == 408)
  }

  test("a keyed MERGE inside the bundle: upserts and tombstones land " +
      "with the other actions as ONE version, equal to the sequential " +
      "mergeMoR outcome; later actions see the merge") {
    val path = mk()
    // a pre-existing MoR ledger (k in [0,10) gone) must stay honored
    ManifestTable.mergeMoR(spark, path,
      spark.range(0, 10).select(col("id").as("k"), lit(0L).as("g"),
        lit(0.0).as("v"), lit("D").as("op")),
      Seq("k"), deleteWhen = Some(col("op") === "D"))
    val v0 = ManifestTable.latestVersion(path)
    val src = spark.range(100, 160).select(col("id").as("k"),
        (col("id") % 4).as("g"), lit(-5.0).as("v"))
      .withColumn("op", when(col("k") < 120, "D").otherwise("U"))
    val txn = ManifestTable.newTransaction(spark, path)
    txn.merge(src, Seq("k"), Some(col("op") === "D"))
    // the pending snapshot reflects the merge for later actions
    assert(txn.read().where(col("v") === -5.0).count() == 40)
    assert(txn.read().count() == 390 - 20 + 0) // 390 base - 20 deleted
    txn.append(spark.range(5000, 5005).select(col("id").as("k"),
      lit(0L).as("g"), lit(1.0).as("v")))
    val v = txn.commit()
    assert(v == v0 + 1, "merge + append land as ONE version")
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 375)
    assert(t.where(col("k") < 10).count() == 0, "old ledger still hides")
    assert(t.where(col("v") === -5.0).count() == 40, "upserts landed")
    assert(t.where(col("k") >= 100 && col("k") < 120).count() == 0,
      "tombstoned keys gone")
    assert(ManifestTable.tableMergeKeys(path) == Seq("k"),
      "the bundle's merge establishes the table keys")
    // a second merge on DIFFERENT keys refuses mid-bundle
    val t2 = ManifestTable.newTransaction(spark, path)
    val e = intercept[IllegalArgumentException] {
      t2.merge(spark.range(0, 1).select(col("id").as("k"),
        lit(0L).as("g"), lit(0.0).as("v")), Seq("g"))
    }
    assert(e.getMessage.contains("keyed on"), e.getMessage)
  }

  /** Arm a one-shot racing append of keys [from, until) at the claim. */
  private def raceAppend(path: String, from: Long, until: Long): Unit =
    ManifestTable.beforePublishHook = () => {
      ManifestTable.beforePublishHook = () => ()
      ManifestTable.append(batch(from, until), path)
    }

  private def dataDirFiles(path: String): Set[String] = {
    val st = Files.list(java.nio.file.Paths.get(path, "data"))
    try st.iterator().asScala.map(_.getFileName.toString).toSet
    finally st.close()
  }

  test("a merge-carrying bundle REFUSES rebase across a winner that " +
      "added one of its keys") {
    val path = mk()
    val txn = ManifestTable.newTransaction(spark, path)
    txn.merge(spark.range(0, 5).select(col("id").as("k"),
      (col("id") % 4).as("g"), lit(-9.0).as("v")), Seq("k"))
    raceAppend(path, 3, 4) // key 3 again: a possible new match
    val e = try intercept[IllegalArgumentException] { txn.commit() }
      finally ManifestTable.beforePublishHook = () => ()
    assert(e.getMessage.contains("added rows with keys this write touches"),
      e.getMessage)
    assert(ManifestTable.read(spark, path).where(col("v") === -9.0)
      .count() == 0, "the refused bundle landed nothing")
  }

  test("a merge-carrying bundle racing a key-disjoint append rebases " +
      "metadata-only and reuses its staged files") {
    val path = mk()
    val v0 = ManifestTable.latestVersion(path)
    val before = dataDirFiles(path)
    val txn = ManifestTable.newTransaction(spark, path)
    txn.merge(spark.range(0, 5).select(col("id").as("k"),
      (col("id") % 4).as("g"), lit(-9.0).as("v")), Seq("k"))
    val staged = dataDirFiles(path) -- before
    raceAppend(path, 9000, 9003)
    val v = try txn.commit() finally ManifestTable.beforePublishHook = () => ()
    assert(v == v0 + 2, "the winner lands first, the bundle on top")
    val winnerM = ManifestTable.snapshotAt(path, Some(v0 + 1)).get
    val finalM = ManifestTable.snapshotAt(path, Some(v)).get
    val loserAdded = finalM.files.toSet -- winnerM.files.toSet
    assert(loserAdded.nonEmpty && loserAdded.subsetOf(staged),
      "the bundle must adopt the files its merge staged, not re-stage")
    assert(finalM.rebasedFrom == Some(v0))
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 403)
    assert(t.where(col("v") === -9.0).count() == 5, "the merge landed")
    assert(t.where(col("k") >= 9000).count() == 3, "the winner carried")
  }

  /** Keys 0..4 update rows of the table's first file, 500..502 insert. */
  private def upsertSrc = batch(0, 5).withColumn("v", lit(-9.0))
    .unionByName(batch(500, 503).withColumn("v", lit(-9.0)))

  private def stageNames(jobs: Seq[org.apache.spark.scheduler.SparkListenerJobStart]) =
    jobs.map(_.stageInfos.map(st => s"${st.name}[${st.numTasks}]").mkString(" | "))

  test("a bundle merge stages its kept rows and its upserts in ONE " +
      "staging job") {
    val path = mk()
    val txn = ManifestTable.newTransaction(spark, path)
    val jobs = JobProbe.jobsOf(spark)(txn.merge(upsertSrc, Seq("k")))
    assert(jobs.count(JobProbe.isStaging) == 1, stageNames(jobs))
    txn.commit()
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 403 && t.where(col("v") === -9.0).count() == 8)
  }

  test("a standalone CoW merge starts at most 10 jobs, exactly one of " +
      "them a staging job") {
    val path = mk()
    val jobs = JobProbe.jobsOf(spark)(
      ManifestTable.merge(spark, path, upsertSrc, Seq("k")))
    assert(jobs.count(JobProbe.isStaging) == 1, stageNames(jobs))
    assert(jobs.size <= 10, stageNames(jobs))
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 403 && t.where(col("v") === -9.0).count() == 8)
  }

  test("a constraint SET both by the bundle and by a concurrent commit " +
      "refuses (no silent last-writer-wins on the contract)") {
    val path = mk()
    val txn = ManifestTable.newTransaction(spark, path)
    txn.setConstraints(Seq("v >= 0"))
    txn.append(batch(7000, 7005))
    @volatile var fired = false
    ManifestTable.beforePublishHook = () => {
      if (!fired) { fired = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.setConstraints(spark, path, Seq("g >= 0"))
      }
    }
    val e = try intercept[IllegalArgumentException] { txn.commit() }
      finally ManifestTable.beforePublishHook = () => ()
    assert(e.getMessage.contains("contract"), e.getMessage)
    assert(ManifestTable.constraints(path) == Seq("g >= 0"),
      "the winner's contract stands; the bundle landed nothing")
  }
}
