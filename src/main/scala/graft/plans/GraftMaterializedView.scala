package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType}

import graft.operators.IncrementalAgg
import graft.sources.{GraftCatalog, ManifestTable}

/** SQL MATERIALIZED VIEW doors over the incremental-aggregate stack:
  *
  * {{{
  *   CREATE MATERIALIZED VIEW graft.mv AS
  *     SELECT status, count(*) AS n, sum(price) AS sum_price
  *     FROM graft.src GROUP BY status
  *   REFRESH MATERIALIZED VIEW graft.mv
  * }}}
  *
  * CREATE materializes the rollup in [[IncrementalAgg.materialize]]'s
  * maintainable shape as a graft table, records the (source, dims,
  * measures, refreshed-version) contract in an `_mv.json` sidecar, and
  * registers the transparent [[MvRewrite]] for the session — a
  * `GROUP BY` over the SOURCE then scans the few-KB rollup instead of
  * the fact table. REFRESH catches the rollup up to the source's
  * current version: INCREMENTALLY over the change feed when every
  * missing commit is append-only or CDC-materialized (cost rides the
  * delta — the 100 TB nightly-refresh shape), by full recompute
  * otherwise (correct for any history, cost rides the table).
  *
  * The accepted SELECT shape is exactly the maintainable algebra —
  * plain dim grouping, `count(*) AS n`, `sum(m) AS sum_<m>` —
  * anything richer (distinct, holistic aggs, expressions, filters)
  * refuses loudly at CREATE rather than silently materializing a
  * rollup the maintenance machinery cannot keep fresh.
  */
object GraftMaterializedView {

  private[plans] val SidecarFile = "_mv.json"

  case class MvSpec(source: String, dims: Seq[String],
      measures: Seq[String], version: Long,
      // min/max measure columns (min_<m>/max_<m> in the rollup) —
      // absent in pre-minmax sidecars, json4s fills the default
      minMax: Seq[String] = Seq.empty,
      // JOIN views (kind = "join"): `source` is the LEFT/fact side,
      // `source2` the RIGHT/dim side, `joinKey` the USING column,
      // `version2` the right version the view reflects, `cols` the
      // view's projection, `leftPk` the fact key that keys the
      // maintained view (the left table's PRIMARY KEY / merge keys).
      // All defaulted so pre-join sidecars parse unchanged.
      kind: String = "rollup", source2: String = "",
      joinKey: String = "", version2: Long = -1L,
      cols: Seq[String] = Seq.empty, leftPk: Seq[String] = Seq.empty,
      // composite USING lists; single-key sidecars may carry only
      // joinKey (round-18-era compat) - read through joinKeysOf
      joinKeys: Seq[String] = Seq.empty)

  private[plans] def joinKeysOf(spec: MvSpec): Seq[String] =
    if (spec.joinKeys.nonEmpty) spec.joinKeys
    else Seq(spec.joinKey).filter(_.nonEmpty)

  private[plans] def writeSpec(mvPath: String, spec: MvSpec): Unit = {
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val fmt: Formats = DefaultFormats
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(mvPath, SidecarFile),
      Serialization.write(spec))
    ()
  }

  def readSpec(mvPath: String): Option[MvSpec] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val f = java.nio.file.Paths.get(mvPath, SidecarFile)
    if (!java.nio.file.Files.isRegularFile(f)) None
    else scala.util.Try(
      JsonMethods.parse(java.nio.file.Files.readString(f))
        .extract[MvSpec]).toOption
  }

  /** Destructure the CREATE's SELECT into (source table parts, dims,
    * measures), refusing any shape the incremental maintenance cannot
    * keep fresh. */
  private[plans] def parseSelect(spark: SparkSession, selectSql: String)
      : (Seq[String], Seq[String], Seq[String], Seq[String]) = {
    def refuse(why: String): Nothing = throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW accepts exactly " +
        "`SELECT <dims...>, count(*) AS n, sum(<m>) AS sum_<m>..., " +
        "min(<m>) AS min_<m>, max(<m>) AS max_<m> " +
        s"FROM <table> GROUP BY <dims...>` — $why")
    val plan = spark.sessionState.sqlParser.parsePlan(selectSql)
    val agg = plan match {
      case a: Aggregate => a
      case _ => refuse(s"got a ${plan.nodeName}, not a grouped aggregate")
    }
    val srcParts = agg.child match {
      case r: UnresolvedRelation => r.multipartIdentifier
      case other => refuse(s"FROM must be a catalog table, got ${other.nodeName}")
    }
    val dims = agg.groupingExpressions.map {
      case a: UnresolvedAttribute => a.nameParts.last
      case other => refuse(s"GROUP BY must name plain columns, got ${other.sql}")
    }
    val minMaxBuf = scala.collection.mutable.LinkedHashSet[String]()
    val measures = agg.aggregateExpressions.flatMap {
      case a: UnresolvedAttribute =>
        if (!dims.contains(a.nameParts.last))
          refuse(s"selected column '${a.nameParts.last}' is not a GROUP BY dim")
        None
      case Alias(f: UnresolvedFunction, alias) =>
        (f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)),
            f.arguments) match {
          case (Seq("count"), Seq(_: Literal) | Seq(_: UnresolvedStar))
              if !f.isDistinct =>
            if (alias != "n") refuse("count(*) must be aliased AS n")
            None
          case (Seq("sum"), Seq(m: UnresolvedAttribute)) if !f.isDistinct =>
            val name = m.nameParts.last
            if (alias != s"sum_$name")
              refuse(s"sum($name) must be aliased AS sum_$name")
            Some(name)
          case (Seq(fn @ ("min" | "max")), Seq(m: UnresolvedAttribute))
              if !f.isDistinct =>
            val name = m.nameParts.last
            if (alias != s"${fn}_$name")
              refuse(s"$fn($name) must be aliased AS ${fn}_$name")
            minMaxBuf += name
            None
          case _ => refuse(s"unsupported aggregate ${f.nameParts.mkString(".")}" +
            (if (f.isDistinct) " DISTINCT" else ""))
        }
      case other => refuse(s"unsupported select item ${other.sql}")
    }
    val hasCount = agg.aggregateExpressions.exists {
      case Alias(f: UnresolvedFunction, "n") =>
        f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("count")
      case _ => false
    }
    if (!hasCount) refuse("the view must carry count(*) AS n " +
      "(the maintenance state that lets deletes retire groups)")
    if (dims.isEmpty) refuse("need at least one GROUP BY dim")
    // a min without its max (or vice versa) would leave the stored
    // shape asymmetric for no gain; require the pair
    minMaxBuf.foreach { m =>
      def has(fn: String) = agg.aggregateExpressions.exists {
        case Alias(f: UnresolvedFunction, a) =>
          a == s"${fn}_$m" &&
            f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq(fn)
        case _ => false
      }
      if (!has("min") || !has("max"))
        refuse(s"min/max of '$m' must be selected as a pair " +
          s"(min($m) AS min_$m, max($m) AS max_$m)")
    }
    (srcParts, dims, measures, minMaxBuf.toSeq)
  }

  /** Destructure a CREATE's SELECT-JOIN into (left parts, right parts,
    * key, requested cols or None for `*`), refusing any shape the
    * two-sided delta maintenance cannot keep fresh: inner USING joins
    * of two catalog tables, plain column projections only. */
  private[plans] def parseJoinSelect(spark: SparkSession, selectSql: String)
      : (Seq[String], Seq[String], Seq[String], Option[Seq[String]]) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
    import org.apache.spark.sql.catalyst.plans.{Inner, UsingJoin}
    def refuse(why: String): Nothing = throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW ... AS SELECT <cols|*> FROM <left> JOIN " +
        s"<right> USING (<key>) — $why (ON-joins, outer joins and " +
        "expressions are not maintainable; use USING with plain columns)")
    val plan = spark.sessionState.sqlParser.parsePlan(selectSql)
    val (items, join) = plan match {
      case Project(is, j: Join) => (is, j)
      case j: Join => (Seq.empty, j)
      case other => refuse(s"got a ${other.nodeName}")
    }
    val keys = join.joinType match {
      case UsingJoin(Inner, ks) if ks.nonEmpty => ks
      case other => refuse(s"join type is ${other.sql}")
    }
    val lParts = join.left match {
      case r: UnresolvedRelation => r.multipartIdentifier
      case other => refuse(s"left side must be a catalog table, got ${other.nodeName}")
    }
    val rParts = join.right match {
      case r: UnresolvedRelation => r.multipartIdentifier
      case other => refuse(s"right side must be a catalog table, got ${other.nodeName}")
    }
    val cols: Option[Seq[String]] =
      if (items.isEmpty || items.forall(_.isInstanceOf[UnresolvedStar])) None
      else Some(items.map {
        case a: UnresolvedAttribute => a.nameParts.last
        case other => refuse(s"unsupported select item ${other.sql}")
      })
    (lParts, rParts, keys, cols)
  }

  /** The JOIN-view CREATE behind the SQL door: materialize L ⋈ R
    * (inner, USING key) at `mvPath`, persist the two-sided maintenance
    * contract, register the transparent join rewrite. The LEFT side
    * must be keyed (PRIMARY KEY / merge.keys) — that key keys the
    * maintained view. Returns (left version, right version, rows). */
  def createJoinAt(spark: SparkSession, mvPath: String, lPath: String,
      rPath: String, keys: Seq[String],
      colsReq: Option[Seq[String]]): (Long, Long, Long) = {
    val lV = ManifestTable.latestVersion(lPath)
    val rV = ManifestTable.latestVersion(rPath)
    // manifest metadata wins (a keyed merge has run); the CREATE-time
    // PRIMARY KEY / merge.keys declaration covers the not-yet-merged
    // table — the same resolution order the SQL row-level doors use
    val lPk = ManifestTable.tableMergeKeys(lPath) match {
      case ks if ks.nonEmpty => ks
      case _ => GraftCatalog.readDeclaredKeys(java.nio.file.Paths.get(lPath))
    }
    require(lPk.nonEmpty, "a join view needs the LEFT (fact) side " +
      "keyed: declare PRIMARY KEY / TBLPROPERTIES('merge.keys') on it")
    val l = ManifestTable.read(spark, lPath, Some(lV))
    val r = ManifestTable.read(spark, rPath, Some(rV))
    require(keys.forall(k => l.columns.contains(k) && r.columns.contains(k)),
      s"join keys ${keys.mkString(",")} must exist on both sides")
    val shared = l.columns.toSet.intersect(r.columns.toSet)
    require(shared == keys.toSet,
      s"sides share non-key columns ${(shared -- keys).mkString(", ")} — " +
        "rename them; the rewrite needs unambiguous names")
    val joined = l.join(r, keys)
    val cols = colsReq.getOrElse(joined.columns.toSeq)
    require(cols.forall(joined.columns.contains),
      s"unknown columns ${cols.filterNot(joined.columns.contains).mkString(", ")}")
    require((lPk ++ keys).forall(cols.contains),
      s"the view must carry the left key(s) ${lPk.mkString(",")} and the " +
        s"join keys ${keys.mkString(",")} — they key the incremental " +
        "maintenance")
    val mv = joined.select(cols.map(org.apache.spark.sql.functions.col): _*)
    commitRollup(spark, mvPath, mv)
    val spec = MvSpec(lPath, Seq.empty, Seq.empty, lV,
      kind = "join", source2 = rPath,
      joinKey = if (keys.size == 1) keys.head else "", version2 = rV,
      cols = cols, leftPk = lPk, joinKeys = keys)
    writeSpec(mvPath, spec)
    registerJoinRewrite(spark, mvPath, spec)
    (lV, rV, ManifestTable.read(spark, mvPath).count())
  }

  private[plans] def registerJoinRewrite(spark: SparkSession,
      mvPath: String, spec: MvSpec): Unit = {
    val m = ManifestTable.snapshotAt(mvPath, None).getOrElse(
      throw new IllegalStateException(s"$mvPath has no committed view"))
    require(m.deletes.isEmpty, "join-view registration requires a " +
      "folded ledger (refresh compacts before registering)")
    MvRewrite.registerJoin(spark, spec.source, spec.source2,
      joinKeysOf(spec), liveFiles(spark, mvPath, m), spec.version,
      spec.version2)
  }

  /** JOIN-view REFRESH — q190's two-sided delta fold as a maintained
    * surface. Left delta: the fact feed's upserts re-join the right
    * side AS the view reflects it (dim-sized broadcast); deletes leave
    * by fact key. Right delta: the changed join keys are collected
    * (dim-delta-sized) and the fact side is read through the
    * stats-pruned readWhere — only files whose key range touches the
    * set are opened; a deleted right row deletes every view row of its
    * key. Falls back to a full recompute when a commit cannot feed
    * (the rollup REFRESH's contract). Returns (versions, mode). */
  def refreshJoinAt(spark: SparkSession, mvPath: String,
      spec: MvSpec): (Long, String) = {
    import org.apache.spark.sql.functions._
    val curL = ManifestTable.latestVersion(spec.source)
    val curR = ManifestTable.latestVersion(spec.source2)
    def realChanges(p: String, from: Long, to: Long): Boolean =
      ManifestTable.versions(p).exists(v =>
        v > from && v <= to && ManifestTable.isDataChange(p, v))
    val lMoved = realChanges(spec.source, spec.version, curL)
    val rMoved = realChanges(spec.source2, spec.version2, curR)
    if (!lMoved && !rMoved) {
      val advanced = spec.copy(version = curL, version2 = curR)
      if (curL != spec.version || curR != spec.version2)
        writeSpec(mvPath, advanced)
      registerJoinRewrite(spark, mvPath, advanced)
      return (curL, "noop")
    }
    val jKeys = joinKeysOf(spec)
    val lSchema = ManifestTable.read(spark, spec.source, Some(curL)).columns
    val viewLeftCols = spec.cols.filter(lSchema.contains) // keys ride left
    val viewRightCols = spec.cols.filterNot(viewLeftCols.contains)
    // delta pins live for the refresh only: released in the finally below
    // (merge()'s discipline — without it every REFRESH leaks one
    // delta-sized block set per core into the shared block manager)
    val pins = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.DataFrame]
    val mode =
      try {
        if (lMoved) {
          // LEFT delta against the right side the view still reflects
          // pinned once: the upsert and delete branches reference it in
          // ONE merge-source plan (the diff join would otherwise run twice)
          // pinned at the plan's own partitioning: a coalesce(1) here
          // serialized the change-diff's reduce side (q190 +1.2 s) —
          // the leak fix is the RELEASE below, not the block count
          val fa = ManifestTable.changesWithValues(spark, spec.source,
            spec.version, curL, spec.leftPk).localCheckpoint()
          pins += fa
          val rOld = ManifestTable.read(spark, spec.source2,
            Some(spec.version2))
            .select((jKeys ++ viewRightCols).map(col): _*)
          val mvSchema = ManifestTable.read(spark, mvPath).schema
          val ups = fa.where(col("change_type") =!= "removed")
            .select(spec.leftPk.map(col) ++
              viewLeftCols.filterNot(spec.leftPk.contains)
                .map(c => col(s"after.$c").as(c)): _*)
            .join(broadcast(rOld), jKeys)
            .select(spec.cols.map(col): _*)
            .withColumn("__op", lit("U"))
          val dels = fa.where(col("change_type") === "removed")
            .select(spec.cols.map(c =>
              if (spec.leftPk.contains(c)) col(c)
              else lit(null).cast(mvSchema(c).dataType).as(c)): _*)
            .withColumn("__op", lit("D"))
          ManifestTable.mergeMoR(spark, mvPath, ups.unionByName(dels),
            spec.leftPk, deleteWhen = Some(col("__op") === "D"))
        }
        if (rMoved) {
          // RIGHT delta: collect changed keys, stats-prune the fact read
          val fb = ManifestTable.changesWithValues(spark, spec.source2,
            spec.version2, curR, jKeys)
            .select(jKeys.map(col) ++ (col("change_type") +:
              viewRightCols.map(c => col(s"after.$c").as(c))): _*)
            .localCheckpoint() // read twice: key-collect + broadcast join
          pins += fb
          // per-column In conditions: for a composite key this prunes
          // on the cartesian SUPERSET of the changed tuples — sound
          // (conservative) for file skipping; the join below restores
          // tuple-exactness
          val changedRows = fb.select(jKeys.map(col): _*).distinct()
            .collect().toIndexedSeq
          val keyCond = jKeys.zipWithIndex.map { case (k, i) =>
            graft.conditions.Condition(k, graft.conditions.Op.In,
              changedRows.map(_.get(i)).distinct)
          }
          val src = ManifestTable.readWhere(spark, spec.source, keyCond,
            Some(curL))
            .select(viewLeftCols.map(col): _*)
            .join(broadcast(fb), jKeys)
            .withColumn("__op",
              when(col("change_type") === "removed", "D").otherwise("U"))
            .select(spec.cols.map(col) :+ col("__op"): _*)
          ManifestTable.mergeMoR(spark, mvPath, src, spec.leftPk,
            deleteWhen = Some(col("__op") === "D"))
        }
        // fold the merge ledger so the registration's plain file scan
        // serves exactly the live rows (bounded by the delta's touch
        // set), then retire superseded versions like the rollup path
        ManifestTable.compactDeletes(spark, mvPath)
        MvRewrite.purgeForPath(mvPath)
        ManifestTable.expire(mvPath, keepLast = 1)
        "incremental"
      } catch {
        case _: IllegalStateException =>
          val l = ManifestTable.read(spark, spec.source, Some(curL))
          val r = ManifestTable.read(spark, spec.source2, Some(curR))
          commitRollup(spark, mvPath,
            l.join(r, jKeys)
              .select(spec.cols.map(col): _*))
          "full"
      } finally pins.foreach(graft.operators.IndexScope.release)
    val updated = spec.copy(version = curL, version2 = curR)
    writeSpec(mvPath, updated)
    registerJoinRewrite(spark, mvPath, updated)
    (curL, mode)
  }

  /** The view's live files as one parquet relation — the plan a
    * registration pins (built from the manifest: no listing, no schema
    * inference). */
  private def liveFiles(spark: SparkSession, mvPath: String,
      m: ManifestTable.Manifest): DataFrame =
    ManifestTable.frameOf(spark, mvPath, Some(m), m.files,
      ManifestTable.physicalSchemaAt(spark, mvPath, m))

  /** Re-register the session's transparent rewrite onto the CURRENT
    * live rollup files (the registration pins a concrete file listing,
    * so every CREATE/REFRESH re-registers). */
  private[plans] def registerRewrite(spark: SparkSession,
      mvPath: String, spec: MvSpec): Unit = {
    // the rollup read pins the manifest's LIVE file listing, never a
    // directory glob: superseded rollup files stay on disk through the
    // vacuum grace window (see commitRollup) and a glob would
    // double-count them
    val m = ManifestTable.snapshotAt(mvPath, None).getOrElse(
      throw new IllegalStateException(s"$mvPath has no committed rollup"))
    MvRewrite.register(spark, spec.source,
      liveFiles(spark, mvPath, m), spec.dims, spec.measures,
      // version-ARMED: the rewrite re-checks the source head at
      // substitution time, so a post-registration base write de-arms
      // this registration instead of serving a pre-write rollup
      baseVersion = Some(spec.version),
      minMax = spec.minMax)
  }

  /** Commit the rollup frame as the MV table's next version and retire
    * the superseded rollup — the MV is DERIVED data with a fresh-files
    * registration contract, not an archival table. Before the sweep,
    * every session's registration pinned to the OLD rollup listing is
    * purged (those dashboards fall back to base scans until they
    * re-register — correct, the listing they pinned is being replaced),
    * and the vacuum keeps the standard age grace so a query already
    * mid-flight on the old files drains before they disappear. */
  private[plans] def commitRollup(spark: SparkSession, mvPath: String,
      mv: org.apache.spark.sql.DataFrame): Unit = {
    ManifestTable.overwrite(mv, mvPath)
    MvRewrite.purgeForPath(mvPath)
    ManifestTable.expire(mvPath, keepLast = 1)
    ()
  }

  /** The CREATE machinery behind both doors (SQL statement, HTTP
    * route): commit the materialized rollup at `mvPath`, persist the
    * maintenance contract, register the session's rewrite. */
  def createAt(spark: SparkSession, mvPath: String, srcPath: String,
      dims: Seq[String], measures: Seq[String], srcVersion: Long,
      mv: org.apache.spark.sql.DataFrame,
      minMax: Seq[String] = Seq.empty): Unit = {
    commitRollup(spark, mvPath, mv)
    val spec = MvSpec(srcPath, dims, measures, srcVersion, minMax)
    writeSpec(mvPath, spec)
    registerRewrite(spark, mvPath, spec)
  }

  /** Register every CURRENT materialized view of a warehouse for this
    * session — the opt-in a fresh session (notebook, service worker)
    * makes to benefit from rollups other sessions maintain. Only views
    * whose sidecar version EQUALS the source's latest register: the
    * rewrite's freshness contract is never guessed, a stale view simply
    * stays unregistered until someone REFRESHes it. Returns the
    * registered (mvPath, sourcePath) pairs. */
  def registerAll(spark: SparkSession,
      warehouseDir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(warehouseDir)
    if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
    val found = scala.util.Using.resource(
        java.nio.file.Files.walk(root, 3)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(_.getFileName.toString == SidecarFile)
        .map(_.getParent.toString).toList
    }
    found.flatMap { mvPath =>
      readSpec(mvPath).flatMap { spec =>
        val fresh = scala.util.Try(
          ManifestTable.latestVersion(spec.source) == spec.version &&
            (spec.kind != "join" ||
              ManifestTable.latestVersion(spec.source2) == spec.version2))
          .getOrElse(false)
        if (!fresh) None
        else {
          if (spec.kind == "join") registerJoinRewrite(spark, mvPath, spec)
          else registerRewrite(spark, mvPath, spec)
          Some(mvPath -> spec.source)
        }
      }
    }
  }

  /** The REFRESH machinery behind both doors: catch the rollup up to
    * the source's current version — incrementally over the change feed
    * when every missing data commit supports one, by full recompute
    * otherwise, noop across maintenance-only gaps. Returns
    * (source version, mode). */
  def refreshAt(spark: SparkSession, mvPath: String): (Long, String) = {
    val spec = readSpec(mvPath).getOrElse(throw new IllegalArgumentException(
      s"$mvPath is not a materialized view (no ${SidecarFile})"))
    if (spec.kind == "join") return refreshJoinAt(spark, mvPath, spec)
    val cur = ManifestTable.latestVersion(spec.source)
    // maintenance commits (OPTIMIZE/compaction, dataChange=false) change
    // no rows — a gap of only those is as fresh as no gap at all; the
    // sidecar advances so the next refresh doesn't re-walk it
    if (ManifestTable.versions(spec.source)
        .filter(v => v > spec.version && v <= cur)
        .forall(v => !ManifestTable.isDataChange(spec.source, v))) {
      val advanced = spec.copy(version = cur)
      if (cur != spec.version) writeSpec(mvPath, advanced)
      registerRewrite(spark, mvPath, advanced) // freshness contract holds
      return (cur, "noop")
    }
    // incremental over the change feed when every missing commit can
    // produce one (appends always; delta commits need materialized CDC);
    // otherwise a full recompute — correct for ANY history
    val (next, mode) =
      try {
        val feed = ManifestTable.changeFeed(spark, spec.source,
          spec.version, cur)
        (graft.operators.IncrementalAgg.applyCdf(
          ManifestTable.read(spark, mvPath), feed,
          spec.dims, spec.measures, spec.minMax), "incremental")
      } catch {
        case _: IllegalStateException =>
          // no materialized CDC for a commit, or a delete touched a
          // min/max view — either way the full recompute is correct
          (graft.operators.IncrementalAgg.materialize(
            ManifestTable.read(spark, spec.source, Some(cur)),
            spec.dims, spec.measures, spec.minMax), "full")
      }
    commitRollup(spark, mvPath, next)
    val updated = spec.copy(version = cur)
    writeSpec(mvPath, updated)
    registerRewrite(spark, mvPath, updated)
    (cur, mode)
  }
}

/** `CREATE MATERIALIZED VIEW <mv> AS <select>` */
case class GraftCreateMvCommand(target: Either[String, Seq[String]],
    selectSql: String) extends LeafRunnableCommand {
  import GraftMaterializedView._

  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("source_version", LongType),
    GraftSqlParser.attr("groups", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    // a SELECT-JOIN declares a keyed join view; a grouped aggregate
    // declares the classic rollup — the parser splits on plan shape
    val isJoin = spark.sessionState.sqlParser.parsePlan(selectSql) match {
      case _: Aggregate => false
      case _ => true
    }
    if (isJoin) {
      val (lParts, rParts, key, cols) = parseJoinSelect(spark, selectSql)
      val lPath = GraftSqlParser.resolvePath(spark, Right(lParts))
      val rPath = GraftSqlParser.resolvePath(spark, Right(rParts))
      val mvPath = GraftSqlParser.resolveNewPath(spark, target)
      val (lV, _, rows) = createJoinAt(spark, mvPath, lPath, rPath, key, cols)
      return Seq(Row(lV, rows))
    }
    val (srcParts, dims, measures, minMax) = parseSelect(spark, selectSql)
    val srcPath = GraftSqlParser.resolvePath(spark, Right(srcParts))
    val mvPath = GraftSqlParser.resolveNewPath(spark, target)
    val srcV = ManifestTable.latestVersion(srcPath)
    createAt(spark, mvPath, srcPath, dims, measures, srcV,
      IncrementalAgg.materialize(
        ManifestTable.read(spark, srcPath, Some(srcV)), dims, measures,
        minMax),
      minMax)
    Seq(Row(srcV, ManifestTable.read(spark, mvPath).count()))
  }
}

/** `REFRESH MATERIALIZED VIEW <mv>` */
case class GraftRefreshMvCommand(target: Either[String, Seq[String]])
  extends LeafRunnableCommand {
  import GraftMaterializedView._

  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("source_version", LongType),
    GraftSqlParser.attr("mode", StringType))

  override def run(spark: SparkSession): Seq[Row] = {
    val (v, mode) = refreshAt(spark,
      GraftSqlParser.resolvePath(spark, target))
    Seq(Row(v, mode))
  }
}
