package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** Branch refs: a writable fork whose commits main's readers never see,
  * readable as a first-class snapshot (API and `VERSION AS OF '<name>'`),
  * published atomically by fast-forward, pinned against retention and
  * vacuum while live, reclaimable after drop. */
class BranchSpec extends SparkSpecBase {

  private def freshTable(): String = {
    val path = Files.createTempDirectory("graft-br-").toString + "/t"
    val base = spark.range(0, 100).select(
      col("id").as("k"), (col("id") % 10).as("g"))
    ManifestTable.overwrite(base, path)
    path
  }

  private def batch(from: Long, until: Long) =
    spark.range(from, until).select(col("id").as("k"), (col("id") % 10).as("g"))

  test("branch commits are invisible on main; the branch reads parent + chain") {
    val path = freshTable()
    val v0 = ManifestTable.latestVersion(path)
    ManifestTable.createBranch(path, "backfill")
    ManifestTable.appendBranch(batch(100, 120), path, "backfill")
    ManifestTable.appendBranch(batch(120, 150), path, "backfill")
    ManifestTable.appendBranch(batch(150, 160), path, "backfill")
    assert(ManifestTable.latestVersion(path) == v0,
      "main's version chain must not move on branch writes")
    assert(ManifestTable.read(spark, path).count() == 100)
    assert(ManifestTable.readBranch(spark, path, "backfill").count() == 160)
    assert(ManifestTable.branches(path)("backfill").commits.size == 3)
    // stats pruning serves branch snapshots through the same read path
    assert(ManifestTable.readBranch(spark, path, "backfill")
      .where(col("k") >= 150).count() == 10)
  }

  test("fast-forward publishes the whole chain in ONE atomic commit; " +
      "strict when main moved; rebase re-opens the door") {
    val path = freshTable()
    val v0 = ManifestTable.latestVersion(path)
    ManifestTable.createBranch(path, "bf")
    ManifestTable.appendBranch(batch(100, 120), path, "bf")
    ManifestTable.appendBranch(batch(120, 150), path, "bf")
    val v = ManifestTable.fastForward(path, "bf")
    assert(v == v0 + 1, "all branch commits must land as ONE version")
    assert(ManifestTable.read(spark, path).count() == 150)
    assert(ManifestTable.branches(path).isEmpty, "the ref is consumed")
    // strictness: a branch whose base main outran refuses to fast-forward
    ManifestTable.createBranch(path, "bf2")
    ManifestTable.appendBranch(batch(150, 155), path, "bf2")
    ManifestTable.append(batch(900, 905), path) // main moves
    val e = intercept[IllegalArgumentException] {
      ManifestTable.fastForward(path, "bf2")
    }
    assert(e.getMessage.contains("main moved"))
    // rebase re-points the fork base; fast-forward then publishes
    ManifestTable.rebaseBranch(path, "bf2")
    assert(ManifestTable.readBranch(spark, path, "bf2").count() == 160,
      "a rebased branch reads the NEW base plus its commits")
    val v2 = ManifestTable.fastForward(path, "bf2")
    assert(ManifestTable.read(spark, path, Some(v2)).count() == 160)
  }

  test("idempotent replay: a crash between the fast-forward commit and " +
      "the ref removal replays to the same version") {
    val path = freshTable()
    ManifestTable.createBranch(path, "bf")
    ManifestTable.appendBranch(batch(100, 110), path, "bf")
    val b = ManifestTable.branches(path)("bf")
    val v = ManifestTable.fastForward(path, "bf")
    // simulate the crash: restore the ref's doc chain after the commit
    // landed (the window between the publish and the ref removal)
    val refDir = java.nio.file.Paths.get(path, "_branch", "bf")
    Files.createDirectories(refDir)
    val json = s"""{"bid":${b.bid},"parent":${b.parent},"commits":[""" +
      s"""{"files":[${b.commits.head.files.map(f => "\"" + f + "\"")
        .mkString(",")}],"ts":${b.commits.head.ts},"commitId":null}]}"""
    Files.writeString(refDir.resolve("b00000001.json"), json)
    assert(ManifestTable.fastForward(path, "bf") == v,
      "the replayed publish must resolve to the SAME version")
    assert(ManifestTable.latestVersion(path) == v)
    assert(ManifestTable.read(spark, path).count() == 110)
    assert(ManifestTable.branches(path).isEmpty)
  }

  test("vacuum retains live branch files; drop releases them; retention " +
      "pins the fork parent") {
    val path = freshTable()
    ManifestTable.append(batch(100, 110), path) // v2
    val forkAt = ManifestTable.latestVersion(path)
    ManifestTable.createBranch(path, "keepme", Some(forkAt))
    ManifestTable.appendBranch(batch(200, 230), path, "keepme")
    val branchFiles = ManifestTable.branches(path)("keepme").files.toSet
    assert(branchFiles.nonEmpty)
    // main churns past the fork point
    ManifestTable.append(batch(300, 310), path)
    ManifestTable.append(batch(310, 320), path)
    val swept = ManifestTable.vacuum(path, minAgeMs = 0L)
    assert(branchFiles.intersect(swept.toSet).isEmpty,
      "vacuum must never reap live branch files")
    // retention keeps the fork parent however the horizon moves
    val (expired, _) = ManifestTable.expire(path, keepLast = 1,
      vacuumMinAgeMs = 0L)
    assert(!expired.contains(forkAt),
      "the branch's fork version must survive retention")
    assert(ManifestTable.readBranch(spark, path, "keepme").count() == 140)
    // drop releases the files to the age-gated sweep
    val released = ManifestTable.dropBranch(path, "keepme")
    assert(released.toSet == branchFiles)
    val swept2 = ManifestTable.vacuum(path, minAgeMs = 0L)
    assert(branchFiles.subsetOf(swept2.toSet),
      "dropped branch files become vacuum-able orphans")
  }

  test("SQL doors: CREATE/FAST FORWARD BRANCH, VERSION AS OF the ref, " +
      "session-conf write-to-branch, direct commits refuse") {
    val wh = Files.createTempDirectory("graft-br-sql-").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2.sql("CREATE TABLE graft.t (k BIGINT, g BIGINT)")
    s2.sql("INSERT INTO graft.t SELECT id, id % 10 FROM range(0, 100)")
    val path = s"$wh/t"
    s2.sql("ALTER TABLE graft.t CREATE BRANCH 'audit'")
    // write-to-branch: the session conf routes INSERT INTO to the ref
    s2.conf.set("spark.graft.branch", "audit")
    s2.sql("INSERT INTO graft.t SELECT id, id % 10 FROM range(100, 140)")
    s2.sql("INSERT INTO graft.t SELECT id, id % 10 FROM range(140, 150)")
    // a direct commit under the branch session refuses loudly (the
    // refusal keys on the WRITING frame's session, where the conf lives)
    val err = intercept[Exception] {
      ManifestTable.overwrite(
        s2.range(0, 5).select(col("id").as("k"), (col("id") % 10).as("g")),
        path)
    }
    assert(err.getMessage.contains("branch"))
    s2.conf.unset("spark.graft.branch")
    assert(s2.sql("SELECT count(*) FROM graft.t").collect().head.getLong(0)
      == 100, "main unchanged while the branch accumulates")
    assert(s2.sql("SELECT count(*) FROM graft.t VERSION AS OF 'audit'")
      .collect().head.getLong(0) == 150,
      "VERSION AS OF resolves the branch ref")
    s2.sql("ALTER TABLE graft.t FAST FORWARD BRANCH 'audit'")
    assert(s2.sql("SELECT count(*) FROM graft.t").collect().head.getLong(0)
      == 150)
    // the published ref is gone from the namespace
    intercept[Exception] {
      s2.sql("SELECT count(*) FROM graft.t VERSION AS OF 'audit'").collect()
    }
  }

  test("racing appenders on ONE branch: all commits land (the ref is an " +
      "optimistic chain, not a last-writer-wins doc)") {
    val path = freshTable()
    ManifestTable.createBranch(path, "hot")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val futs = (0 until 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          gate.await()
          ManifestTable.appendBranch(
            batch(1000 + i * 100, 1000 + i * 100 + 10), path, "hot")
        }
      })
    }
    gate.countDown()
    val ordinals = futs.map(_.get()).sorted
    pool.shutdown()
    assert(ordinals == Seq(1, 2, 3, 4),
      s"every racing append must land with its own ordinal: $ordinals")
    assert(ManifestTable.branches(path)("hot").commits.size == 4)
    assert(ManifestTable.readBranch(spark, path, "hot").count() == 140)
    // commitId replay still answers from the chain
    ManifestTable.appendBranch(batch(2000, 2005), path, "hot", Some("x1"))
    assert(ManifestTable.appendBranch(
      batch(2000, 2005), path, "hot", Some("x1")) == 5,
      "a replayed commit id must return its original ordinal, landing nothing")
    assert(ManifestTable.branches(path)("hot").commits.size == 5)
  }

  test("an appendBranch racing fast-forward fails LOUDLY on the seal - " +
      "never silently erased by the ref removal") {
    val path = freshTable()
    ManifestTable.createBranch(path, "pub")
    ManifestTable.appendBranch(batch(100, 110), path, "pub")
    // the hook fires inside fastForward's main commit — i.e. AFTER the
    // seal doc landed and BEFORE removeBranchRef: exactly the window
    // where an un-sealed design would accept the append and then erase it
    @volatile var raced: Option[Throwable] = None
    @volatile var fired = false
    ManifestTable.beforePublishHook = () => {
      if (!fired) {
        fired = true
        raced = Some(intercept[IllegalStateException] {
          ManifestTable.appendBranch(batch(110, 120), path, "pub")
        })
      }
    }
    try {
      ManifestTable.fastForward(path, "pub")
    } finally ManifestTable.beforePublishHook = () => ()
    assert(raced.exists(_.getMessage.contains("sealed")),
      s"racing append must refuse on the seal, got: $raced")
    assert(ManifestTable.read(spark, path).count() == 110,
      "exactly the sealed chain publishes - no more, no less")
    assert(ManifestTable.branches(path).isEmpty, "the ref is consumed")
  }

  test("branch DML: a CORRECTION (update + delete) stages on the ref, " +
      "audits via the branch read, publishes data AND ledger in ONE " +
      "commit - main untouched until then") {
    val path = freshTable() // k in [0,100), g = k % 10
    val v0 = ManifestTable.latestVersion(path)
    ManifestTable.createBranch(path, "fix")
    // the audit flow: late rows land, a bad scope is repriced, poison
    // rows leave - all on the ref
    ManifestTable.appendBranch(batch(100, 120), path, "fix")
    ManifestTable.updateBranchWhere(spark, path, "fix",
      col("g") === 3, Map("g" -> lit(300L)), Seq("k"))
    ManifestTable.deleteBranchWhere(spark, path, "fix",
      col("k") < 10, Seq("k"))
    // main is byte-identical
    assert(ManifestTable.latestVersion(path) == v0)
    assert(ManifestTable.read(spark, path).count() == 100)
    assert(ManifestTable.read(spark, path)
      .where(col("g") === 300L).count() == 0)
    // the branch read reconciles the whole correction
    val br = ManifestTable.readBranch(spark, path, "fix")
    assert(br.count() == 110, "100 base + 20 late - 10 deleted")
    assert(br.where(col("g") === 300L).count() == 11,
      "g=3 rows (10 base + 2 late) re-land updated, minus k=3 which " +
        "the later k<10 delete removed")
    assert(br.where(col("k") < 10).count() == 0)
    // an UPDATE of an UPDATED row folds in-branch (last write wins)
    ManifestTable.updateBranchWhere(spark, path, "fix",
      col("g") === 300L, Map("g" -> lit(400L)), Seq("k"))
    assert(ManifestTable.readBranch(spark, path, "fix")
      .where(col("g") === 400L).count() == 11)
    // fast-forward: ONE main commit carries files + ledger
    val v = ManifestTable.fastForward(path, "fix")
    assert(v == v0 + 1)
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 110)
    assert(t.where(col("g") === 400L).count() == 11)
    assert(t.where(col("k") < 10).count() == 0)
    assert(ManifestTable.branches(path).isEmpty, "the ref is consumed")
    // replayed fast-forward is impossible (ref gone); time travel intact
    assert(ManifestTable.read(spark, path, Some(v0)).count() == 100)
  }

  test("branch DML vs main ingest: fast-forward is STRICT (no rebase " +
      "with a ledger in flight) - refusal unseals, rebase refuses " +
      "loudly, DROP recovers") {
    val path = freshTable()
    ManifestTable.createBranch(path, "corr")
    ManifestTable.deleteBranchWhere(spark, path, "corr",
      col("k") < 10, Seq("k"))
    // main ingest wins the slot inside the publish window
    @volatile var fired = false
    ManifestTable.beforePublishHook = () => {
      if (!fired) { fired = true
        ManifestTable.beforePublishHook = () => ()
        ManifestTable.append(batch(500, 505), path)
      }
    }
    val e = try intercept[IllegalStateException] {
      ManifestTable.fastForward(path, "corr")
    } finally ManifestTable.beforePublishHook = () => ()
    assert(e.getMessage.contains("unsealed"), e.getMessage)
    assert(!ManifestTable.branches(path)("corr").isSealed)
    // rebase would re-aim the ledger: refused with the DML message
    val r = intercept[IllegalStateException] {
      ManifestTable.rebaseBranch(path, "corr")
    }
    assert(r.getMessage.contains("keyed DML"), r.getMessage)
    // main kept the winner's rows; the ledger never leaked onto main
    assert(ManifestTable.read(spark, path).count() == 105)
    // the delete files are vacuum-pinned while the ref lives, released
    // with the DROP
    val released = ManifestTable.dropBranch(path, "corr")
    assert(released.nonEmpty, "DROP returns the ledger files to reclaim")
  }

  test("SQL DML under the branch session conf ROUTES onto the ref: " +
      "UPDATE and DELETE stage ledger commits, main never moves, the " +
      "published table carries the correction") {
    val wh = Files.createTempDirectory("graft-br-dml-sql-").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2.sql("""CREATE TABLE graft.t (k BIGINT, g BIGINT, v DOUBLE)
              TBLPROPERTIES ('merge.keys'='k')""")
    s2.sql("INSERT INTO graft.t SELECT id, id % 10, id * 1.0 FROM range(0, 100)")
    val path = s"$wh/t"
    val v0 = ManifestTable.latestVersion(path)
    s2.sql("ALTER TABLE graft.t CREATE BRANCH 'corr'")
    s2.conf.set("spark.graft.branch", "corr")
    try {
      // the discovery scans resolve the BRANCH snapshot under the conf,
      // and the commits land on the ref - main's chain never moves
      s2.sql("UPDATE graft.t SET v = -1.0 WHERE g = 3")
      s2.sql("DELETE FROM graft.t WHERE k < 10")
      s2.sql("""MERGE INTO graft.t USING
                  (SELECT id AS k, 0L AS g, 9.0 AS v FROM range(200, 205)) s
                ON graft.t.k = s.k
                WHEN NOT MATCHED THEN INSERT *""")
      assert(ManifestTable.latestVersion(path) == v0,
        "branch-session DML must never move main")
      assert(ManifestTable.branches(path)("corr").commits.size == 3)
      // the session's own reads see the correction (branch-resolved)
      assert(s2.sql("SELECT count(*) FROM graft.t").head().getLong(0) == 95)
      assert(s2.sql("SELECT count(*) FROM graft.t WHERE v = -1.0")
        .head().getLong(0) == 9, "g=3 minus k=3 (deleted) = 9 updated rows")
    } finally s2.conf.unset("spark.graft.branch")
    // a conf-free reader still sees the base
    assert(ManifestTable.read(spark, path).count() == 100)
    ManifestTable.fastForward(path, "corr")
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 95 && t.where(col("v") === 9.0).count() == 5)
    // WAP + branch both set refuses; an unkeyed table refuses branch DML
    s2.sql("CREATE TABLE graft.u (k BIGINT, v DOUBLE)")
    s2.sql("INSERT INTO graft.u VALUES (1, 1.0)")
    s2.conf.set("spark.graft.branch", "nope")
    try {
      val e = intercept[Exception] {
        ManifestTable.deleteWhere(s2, s"$wh/u", col("k") === 1L)
      }
      assert(e.getMessage.contains("CREATE BRANCH") ||
        e.getMessage.contains("keyed"), e.getMessage)
    } finally s2.conf.unset("spark.graft.branch")
  }

  test("branch DML keying: a second merge on different keys refuses; " +
      "commitId replays answer the original ordinal") {
    val path = freshTable()
    ManifestTable.createBranch(path, "kd")
    val ord = ManifestTable.mergeMoRBranch(spark, path, "kd",
      batch(0, 5).withColumn("g", lit(77L)), Seq("k"), None, Some("c1"))
    assert(ord == 1)
    assert(ManifestTable.mergeMoRBranch(spark, path, "kd",
      batch(0, 5).withColumn("g", lit(77L)), Seq("k"), None, Some("c1")) == 1,
      "a replayed branch merge answers its original ordinal")
    assert(ManifestTable.branches(path)("kd").commits.size == 1)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.mergeMoRBranch(spark, path, "kd",
        batch(5, 6), Seq("g"))
    }
    assert(e.getMessage.contains("keyed on"), e.getMessage)
    assert(ManifestTable.readBranch(spark, path, "kd")
      .where(col("g") === 77L).count() == 5)
  }

  test("branch-as-of registry evicts oldest-first under pressure - a " +
      "freshly resolved snapshot never expires mid-query") {
    val path = freshTable()
    ManifestTable.createBranch(path, "asf")
    ManifestTable.appendBranch(batch(100, 110), path, "asf")
    val ts = System.currentTimeMillis() + 60000
    val ids =
      (0 until 8).map(_ => ManifestTable.resolveBranchAsOf(path, "asf", ts))
    ManifestTable.trimAsOfRegistry(4)
    // ids DESCEND: the last-resolved have the smallest keys = newest.
    // keep-3/evict-rest at max=4 must retain exactly the newest.
    assert(ids.takeRight(3).forall(ManifestTable.asOfRegistered),
      "the newest snapshots must survive the trim")
    assert(!ManifestTable.asOfRegistered(ids.head),
      "the oldest snapshot must be evicted")
    // a retained snapshot still reads through the shared path
    assert(ManifestTable.read(spark, path, Some(ids.last)).count() == 110)
  }

  test("a fast-forward that finds main moved post-seal UNSEALS the ref " +
      "before refusing - the branch stays recoverable by rebase, not " +
      "only by DROP") {
    val path = freshTable()
    ManifestTable.createBranch(path, "stuck")
    ManifestTable.appendBranch(batch(100, 120), path, "stuck")
    // crash INSIDE the sealed-not-yet-committed window: the hook fires in
    // fastForward's main commit, after the seal doc landed
    @volatile var fired = false
    ManifestTable.beforePublishHook = () => {
      if (!fired) { fired = true; sys.error("injected crash post-seal") }
    }
    try intercept[RuntimeException] { ManifestTable.fastForward(path, "stuck") }
    finally ManifestTable.beforePublishHook = () => ()
    assert(ManifestTable.branches(path)("stuck").isSealed,
      "the crash must leave the ref sealed (the window under test)")
    ManifestTable.append(batch(900, 905), path) // main moves past the fork
    // retry: the post-seal strictness check fails, but must UNSEAL first
    val refused = intercept[IllegalStateException] {
      ManifestTable.fastForward(path, "stuck")
    }
    assert(refused.getMessage.contains("unsealed"),
      s"the refusal must say the ref was unsealed: ${refused.getMessage}")
    assert(!ManifestTable.branches(path)("stuck").isSealed,
      "the ref must be unsealed after the refusal")
    // the recommended recovery in the error message now actually works
    ManifestTable.rebaseBranch(path, "stuck")
    ManifestTable.fastForward(path, "stuck")
    assert(ManifestTable.read(spark, path).count() == 125,
      "base 100 + main append 5 + branch 20 all land")
    assert(ManifestTable.branches(path).isEmpty, "the ref is consumed")
  }

  test("branch names cannot shadow tags; numeric names refuse; a branch " +
      "with no commits drops but does not fast-forward") {
    val path = freshTable()
    ManifestTable.createTag(path, "release")
    intercept[IllegalArgumentException] {
      ManifestTable.createBranch(path, "release")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.createBranch(path, "123")
    }
    ManifestTable.createBranch(path, "empty")
    intercept[IllegalArgumentException] {
      ManifestTable.fastForward(path, "empty")
    }
    assert(ManifestTable.dropBranch(path, "empty").isEmpty)
  }

  test("a multi-commit DML fast-forward lands every file at its one " +
      "version: a later main merge updates a branch-updated row") {
    import spark.implicits._
    val path = freshTable() // k in [0,100), g = k % 10
    val v0 = ManifestTable.latestVersion(path)
    ManifestTable.createBranch(path, "fix")
    ManifestTable.deleteBranchWhere(spark, path, "fix", col("k") < 10, Seq("k"))
    ManifestTable.updateBranchWhere(spark, path, "fix",
      col("g") === 3L, Map("g" -> lit(300L)), Seq("k"))
    ManifestTable.updateBranchWhere(spark, path, "fix",
      col("g") === 300L, Map("g" -> lit(400L)), Seq("k"))
    val audited = ManifestTable.readBranch(spark, path, "fix").collect().toSet
    val last = ManifestTable.branches(path)("fix").commits.last.files
    val v = ManifestTable.fastForward(path, "fix")
    assert(v == v0 + 1)
    assert(ManifestTable.read(spark, path).collect().toSet == audited,
      "main reads exactly what the audit read")
    val added = ManifestTable.dataFiles(path).toSet --
      ManifestTable.dataFiles(path, Some(v0))
    val atV = ManifestTable.appendSlice(path, v0, v, ignoreChanges = true)
      .map(f => java.nio.file.Paths.get(f).getFileName.toString).toSet
    ManifestTable.mergeMoR(spark, path, Seq((23L, 777L)).toDF("k", "g"),
      Seq("k"))
    assert(ManifestTable.read(spark, path).where(col("k") === 23L)
      .select("g").as[Long].collect().toSeq == Seq(777L),
      "the main merge must replace the branch-updated row")
    // seq = version: every file the fast-forward added sits at v
    assert(atV == added, "a file of the fast-forward sits above its version")
    assert(last.forall(added), "the last commit's files land byte-identical")
  }

  test("after a DML fast-forward, a main append of a key the last branch " +
      "ledger deleted stays visible, and a branch forked there reads right") {
    import spark.implicits._
    val path = freshTable()
    ManifestTable.createBranch(path, "fix")
    ManifestTable.updateBranchWhere(spark, path, "fix",
      col("g") === 3L, Map("g" -> lit(300L)), Seq("k"))
    ManifestTable.updateBranchWhere(spark, path, "fix",
      col("g") === 300L, Map("g" -> lit(400L)), Seq("k"))
    ManifestTable.deleteBranchWhere(spark, path, "fix", col("k") < 10, Seq("k"))
    ManifestTable.fastForward(path, "fix")
    ManifestTable.createBranch(path, "next")
    ManifestTable.appendBranch(Seq((7L, 70L)).toDF("k", "g"), path, "next")
    ManifestTable.append(Seq((5L, 55L)).toDF("k", "g"), path)
    val main = ManifestTable.read(spark, path)
    assert(main.where(col("k") < 10).as[(Long, Long)].collect().toSeq ==
      Seq((5L, 55L)), "the appended key must not hide under the old ledger")
    assert(main.count() == 91)
    val next = ManifestTable.readBranch(spark, path, "next")
    assert(next.where(col("k") < 10).as[(Long, Long)].collect().toSeq ==
      Seq((7L, 70L)), "the forked branch's commit must read above the ledger")
    assert(next.where(col("g") === 400L).count() == 9)
  }

  test("racing mergeMoRBranch and appendBranch on one ref: both land with " +
      "their own ordinals; replayed commit ids answer them") {
    val path = freshTable()
    ManifestTable.createBranch(path, "mix")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def racer(body: => Int) = pool.submit(
      new java.util.concurrent.Callable[Int] {
        def call(): Int = { gate.await(); body }
      })
    val merged = racer(ManifestTable.mergeMoRBranch(spark, path, "mix",
      batch(0, 5).withColumn("g", lit(77L)), Seq("k"), None, Some("m1")))
    val appended = racer(ManifestTable.appendBranch(batch(500, 510), path,
      "mix", Some("a1")))
    gate.countDown()
    val (m, a) = (merged.get(), appended.get())
    pool.shutdown()
    assert(Set(m, a) == Set(1, 2), s"ordinals $m, $a")
    assert(ManifestTable.mergeMoRBranch(spark, path, "mix",
      batch(0, 5).withColumn("g", lit(77L)), Seq("k"), None, Some("m1")) == m)
    assert(ManifestTable.appendBranch(batch(500, 510), path, "mix",
      Some("a1")) == a)
    val b = ManifestTable.branches(path)("mix")
    assert(b.commits.size == 2 && b.keys == Seq("k"))
    val br = ManifestTable.readBranch(spark, path, "mix")
    assert(br.count() == 110 && br.where(col("g") === 77L).count() == 5)
  }

  test("rebaseBranch racing an append on one ref: both land") {
    val path = freshTable()
    ManifestTable.createBranch(path, "rb")
    ManifestTable.appendBranch(batch(100, 110), path, "rb")
    ManifestTable.append(batch(900, 905), path) // main moves
    val head = ManifestTable.latestVersion(path)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val futs = Seq[() => Long](
      () => ManifestTable.rebaseBranch(path, "rb"),
      () => ManifestTable.appendBranch(batch(110, 120), path, "rb").toLong)
      .map(f => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await(); f() }
      }))
    gate.countDown()
    val Seq(rebasedTo, ordinal) = futs.map(_.get())
    pool.shutdown()
    assert(rebasedTo == head && ordinal == 2L)
    val b = ManifestTable.branches(path)("rb")
    assert(b.parent == head && b.commits.size == 2)
    assert(ManifestTable.readBranch(spark, path, "rb").count() == 125)
  }

  test("readBranchAsOf(now) reads what readBranch does; an earlier " +
      "instant reads the commits up to it") {
    val path = freshTable()
    ManifestTable.createBranch(path, "tt")
    ManifestTable.appendBranch(batch(100, 120), path, "tt")
    val first = ManifestTable.readBranch(spark, path, "tt").collect().toSet
    Thread.sleep(5)
    ManifestTable.updateBranchWhere(spark, path, "tt",
      col("g") === 3L, Map("g" -> lit(300L)), Seq("k"))
    ManifestTable.deleteBranchWhere(spark, path, "tt", col("k") < 10, Seq("k"))
    val now = System.currentTimeMillis()
    assert(ManifestTable.readBranchAsOf(spark, path, "tt", now)
      .collect().toSet ==
      ManifestTable.readBranch(spark, path, "tt").collect().toSet)
    val ts = ManifestTable.branches(path)("tt").commits.map(_.ts)
    assert(ts(1) > ts(0))
    assert(ManifestTable.readBranchAsOf(spark, path, "tt", ts(0))
      .collect().toSet == first)
  }

  test("no stage of TableTxn.merge runs as one task over a " +
      "multi-partition key set") {
    val path = freshTable()
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    // every byte is over the target: staging keeps every partition
    s2.conf.set("spark.graft.stage.targetFileBytes", "1")
    val src = s2.range(0, 20, 1, 2)
      .select(col("id").as("k"), lit(5L).as("g"))
    val jobs = JobProbe.jobsOf(s2) {
      ManifestTable.newTransaction(s2, path).merge(src, Seq("k")).commit()
    }
    // the key set derives from the pinned two-partition source: within
    // each stage, no RDD on that lineage may collapse to one partition
    // (a limit probe's partial scan runs fewer tasks, never fewer
    // partitions)
    val stages = jobs.flatMap(_.stageInfos)
    val collapsed = stages.flatMap { st =>
      val byId = st.rddInfos.map(r => r.id -> r).toMap
      def fromSource(r: org.apache.spark.storage.RDDInfo): Boolean =
        r.name == "LocalCheckpointRDD" ||
          r.parentIds.flatMap(byId.get).exists(fromSource)
      st.rddInfos.filter(r => r.numPartitions == 1 && fromSource(r))
        .map(r => s"${st.name}: ${r.name}")
    }
    assert(stages.exists(_.rddInfos.exists(_.name == "LocalCheckpointRDD")),
      "the merge reads its pinned source")
    assert(collapsed.isEmpty, collapsed)
    val t = ManifestTable.read(spark, path)
    assert(t.count() == 100 &&
      t.where(col("k") < 20 && col("g") === 5L).count() == 20)
  }
}
