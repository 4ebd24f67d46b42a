package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Transparent materialized-view query rewrite — a Catalyst optimizer
  * rule that redirects `base.groupBy(dims).agg(count/sum)` plans onto a
  * registered rollup of the base table, without the query author
  * changing a line. This is the read-side half of incremental-MV
  * maintenance ([[graft.operators.IncrementalAgg]] keeps the rollup
  * fresh from a change feed; this rule makes queries USE it): at
  * 100 TB the rewritten dashboard aggregate scans the few-MB rollup
  * instead of the fact table, while un-rewritable shapes (holistic
  * aggs, filters, non-dim groupings) fall through to the base scan
  * untouched.
  *
  * The rewrite is the standard distributive roll-up rule (same algebra
  * Delta/BigQuery MV rewrites use):
  *   - `count(1)` over the base  → `sum(n)` over the MV
  *   - `sum(cast(m as dec(18,4)))` → `sum(sum_m)` cast back to the
  *     original result type (exact — the MV carries exact decimal sums
  *     in [[graft.operators.IncrementalAgg]]'s maintained shape)
  *   - grouping by any SUBSET of the MV dims rolls the MV up further;
  *   - a scan-side Filter over REGISTERED DIMS ONLY is answered by
  *     filtering the rollup (dims partition base rows exactly as they
  *     partition rollup rows) — the sliced-dashboard shape.
  * Anything else — distinct aggs, FILTER clauses, measures or dims the
  * MV lacks, any predicate touching a non-dim column — bails to the
  * original plan, so the rule can never change a result, only its
  * access path (spec-pinned: rewritten == raw on every shape).
  *
  * Scoping: the rule is installed per-session (via
  * `spark.experimental.extraOptimizations`, the public hook for
  * post-optimization batches; [[GraftExtensions]] also injects it
  * through `SparkSessionExtensions.injectOptimizerRule` for
  * config-built cluster sessions) and only fires on scans whose root
  * path is explicitly registered, so an un-opted-in session plans
  * exactly as before. Reference analogy: the reference recomputes every
  * pull from the origin warehouse (core/pipeline.py:18); a maintained
  * rollup + rewrite is how the same report stays interactive when the
  * origin is 100 TB.
  *
  * STALENESS CONTRACT: registration asserts "this rollup IS the
  * aggregate of that path". MANIFEST-table bases arm the registration
  * with the base VERSION the rollup aggregates, and the rule re-checks
  * it at substitution time ([[MvRewrite.isCurrent]] — one manifest head
  * read per candidate aggregate over a registered path): a base write
  * after registration silently de-arms the rewrite and the query plans
  * the base scan, so a plain-SQL user can never read a pre-write
  * rollup. Version-LESS registrations (plain parquet directories — no
  * version chain to compare) keep the registrant-owns-freshness
  * contract: refresh through
  * [[graft.operators.IncrementalAgg.applyDelta]] on the change feed
  * (q71), or continuously via
  * [[graft.streaming.StreamSync.startMergeWithMv]] (q96), and
  * re-register after any out-of-band rewrite of the base — the same
  * contract as every production MV rewrite (Delta, BigQuery): the
  * rewrite layer redirects, the maintenance layer guarantees.
  */
object MvRewrite {

  /** A registered view: where the base lives, the analyzed MV scan, the
    * dims/measures the MV was materialized with, and — when the base is
    * a MANIFEST table — the base version the rollup aggregates.
    * `baseVersion = Some(v)` arms the substitution-time freshness check
    * (see [[isCurrent]]); None keeps the registrant-owns-freshness
    * contract for plain-directory bases, which have no version chain to
    * compare against. */
  final case class MvDef(basePath: String, mvPlan: LogicalRelation,
      dims: Set[String], measures: Set[String],
      baseVersion: Option[Long] = None,
      minMax: Set[String] = Set.empty)

  // keyed by (session UUID, fully-qualified base root URI); the object
  // is JVM-global, so SESSION scoping in the key is what keeps one
  // user's registration from redirecting another session's scans in a
  // shared-JVM deployment (Thrift server, Connect) where the rule is
  // extension-injected into every session.
  private val registry = new ConcurrentHashMap[String, MvDef]()

  /** Fully-qualified URI form (scheme + authority + path): dropping the
    * scheme would collide file:/warehouse/t with s3a://bucket/warehouse/t
    * and rewrite one table's aggregate onto the other's rollup. Paths
    * with no scheme are local-filesystem by construction here. */
  private[plans] def norm(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    val scheme = Option(u.getScheme).getOrElse("file")
    val auth = Option(u.getAuthority).getOrElse("")
    s"$scheme://$auth${u.getPath}"
  }

  private def uuidOf(spark: SparkSession): String =
    org.apache.spark.sql.graft.ColumnBridge.sessionUUID(spark)

  /** Register `mv` (the [[graft.operators.IncrementalAgg.materialize]]
    * shape: dims, `n`, `sum_<m>`) as the rollup of `basePath` FOR THIS
    * SESSION, and install the rewrite rule into its optimizer. */
  def register(spark: SparkSession, basePath: String, mv: DataFrame,
      dims: Seq[String], measures: Seq[String],
      baseVersion: Option[Long] = None,
      minMax: Seq[String] = Seq.empty): Unit = {
    val plan = mv.queryExecution.analyzed match {
      case lr: LogicalRelation => lr
      case other => throw new IllegalArgumentException(
        s"MV must be a plain file scan (got ${other.nodeName}); " +
          "write the rollup out and register the read of it")
    }
    val missing = ("n" +: measures.map(m => s"sum_$m")) ++ dims ++
      minMax.flatMap(m => Seq(s"min_$m", s"max_$m"))
    val have = plan.output.map(_.name).toSet
    require(missing.forall(have), s"MV lacks columns ${missing.filterNot(have).mkString(", ")}")
    // bound the JVM-global registry: each entry pins an analyzed plan,
    // and sessions that end without deregistering (short-lived clones,
    // notebook restarts) would otherwise accumulate forever. Dropping an
    // entry only loses the optimization — the base scan plans as before
    // — so a hard cap is safe; 1024 live registrations is far beyond any
    // real shared-JVM deployment's MV count.
    if (registry.size >= 1024) registry.clear()
    registry.put(s"${uuidOf(spark)}|${norm(basePath)}",
      MvDef(norm(basePath), plan, dims.toSet, measures.toSet, baseVersion,
        minMax.toSet))
    install(spark)
  }

  // ── declared JOIN views ─────────────────────────────────────────────
  // A keyed inner-join view M = L ⋈ R (the denormalized serving table):
  // registration lets the rule substitute the MAINTAINED M for the join
  // subtree itself — the query pays one scan instead of two scans and a
  // shuffle/broadcast join. Freshness is double-armed: BOTH base heads
  // must still equal the versions the view reflects, or the original
  // join plans (fresh by construction, same contract as rollups).

  /** A registered join view: both base paths, the equi-join keys
    * (composite USING lists supported), the analyzed view scan, the
    * column names the view carries, and the two base versions it
    * reflects. */
  final case class JoinMvDef(leftPath: String, rightPath: String,
      keys: Seq[String], mvPlan: LogicalRelation, cols: Set[String],
      leftVersion: Long, rightVersion: Long)

  private val joinRegistry = new ConcurrentHashMap[String, JoinMvDef]()

  /** Register `mv` as the maintained L ⋈ R (inner, USING `key`) FOR
    * THIS SESSION and install the rule. */
  def registerJoin(spark: SparkSession, leftPath: String, rightPath: String,
      keys: Seq[String], mv: DataFrame, leftVersion: Long,
      rightVersion: Long): Unit = {
    require(keys.nonEmpty, "join MV needs at least one USING key")
    val plan = mv.queryExecution.analyzed match {
      case lr: LogicalRelation => lr
      case other => throw new IllegalArgumentException(
        s"join MV must be a plain file scan (got ${other.nodeName})")
    }
    if (joinRegistry.size >= 1024) joinRegistry.clear()
    joinRegistry.put(
      s"${uuidOf(spark)}|${norm(leftPath)}|${norm(rightPath)}",
      JoinMvDef(norm(leftPath), norm(rightPath), keys, plan,
        plan.output.map(_.name).toSet, leftVersion, rightVersion))
    install(spark)
  }

  def deregisterJoin(spark: SparkSession, leftPath: String,
      rightPath: String): Unit =
    joinRegistry.remove(
      s"${uuidOf(spark)}|${norm(leftPath)}|${norm(rightPath)}")

  private[plans] def lookupJoin(leftPath: String,
      rightPath: String): Option[JoinMvDef] =
    SparkSession.getActiveSession.flatMap(s =>
      Option(joinRegistry.get(s"${uuidOf(s)}|$leftPath|$rightPath")))

  /** BOTH bases must still be at the versions the view reflects. */
  private[plans] def isCurrentJoin(jm: JoinMvDef): Boolean = {
    def cur(p: String, v: Long): Boolean = {
      val local = new org.apache.hadoop.fs.Path(p).toUri.getPath
      scala.util.Try(
        graft.sources.ManifestTable.latestVersion(local)).toOption
        .contains(v)
    }
    cur(jm.leftPath, jm.leftVersion) && cur(jm.rightPath, jm.rightVersion)
  }

  /** Substitution-time freshness: a version-armed registration only
    * answers while the base's CURRENT head version still equals the
    * version the rollup aggregates — a write to the base between
    * registration and query (INSERT through the SQL door, a direct
    * commit, another session's merge) silently de-arms the rewrite and
    * the query falls back to the base scan, fresh by construction. The
    * check is one manifest-directory head read per candidate aggregate
    * over a REGISTERED path (unregistered scans never reach it); a
    * REFRESH re-registers with the new version and re-arms. Version-less
    * registrations (plain-directory bases) keep the documented
    * registrant-owns-freshness contract. */
  private[plans] def isCurrent(mv: MvDef): Boolean =
    mv.baseVersion.forall { v =>
      val local = new org.apache.hadoop.fs.Path(mv.basePath).toUri.getPath
      scala.util.Try(
        graft.sources.ManifestTable.latestVersion(local)).toOption
        .contains(v) // base unreadable/dropped → stale → base scan plans
    }

  def deregister(spark: SparkSession, basePath: String): Unit =
    registry.remove(s"${uuidOf(spark)}|${norm(basePath)}")

  /** Remove EVERY session's registration that references `path` — as
    * the registered base (its rollup is being dropped or renamed out
    * from under it) or as the rollup's own storage. DROP TABLE /
    * RENAME TABLE call this: a dangling registration would redirect
    * dashboards onto deleted files. */
  def purgeForPath(path: String): Unit = {
    val n = norm(path)
    // segment-aware prefix: …/wh/t must not purge an MV stored under
    // …/wh/t2 (equality, or a true child path under a separator)
    def under(p: String): Boolean = {
      val np = norm(p)
      np == n || np.startsWith(n + "/")
    }
    registry.entrySet().removeIf { e =>
      e.getValue.basePath == n ||
        (e.getValue.mvPlan.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(p => under(p.toString))
          case _ => false
        })
    }
    joinRegistry.entrySet().removeIf { e =>
      e.getValue.leftPath == n || e.getValue.rightPath == n ||
        (e.getValue.mvPlan.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(p => under(p.toString))
          case _ => false
        })
    }
    ()
  }

  /** Idempotently add the rule to this session's optimizer. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[MvRewriteRule]))
      spark.experimental.extraOptimizations = cur :+ new MvRewriteRule
  }

  /** Resolved against the ACTIVE session: a rule instance may be shared
    * (extension injection), but a registration never crosses sessions. */
  private[plans] def lookup(path: String): Option[MvDef] =
    SparkSession.getActiveSession.flatMap(s =>
      Option(registry.get(s"${uuidOf(s)}|$path")))
}

/** The rule proper. Runs in the post-optimization user batch, i.e.
  * after predicate pushdown / column pruning have shaped the base scan,
  * which is why the matcher accepts `Aggregate → [Project] → Relation`.
  * The rewritten subtree carries its own minimal Project so the MV scan
  * is column-pruned even though the main pruning batch already ran. */
class MvRewriteRule extends Rule[LogicalPlan] {

  private val dec18 = DecimalType(18, 4)
  private val dec28 = DecimalType(28, 4)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate =>
      destructure(agg.child)
        .flatMap { case (path, cond) =>
          MvRewrite.lookup(path).filter(MvRewrite.isCurrent)
            .flatMap(tryRewrite(agg, _, cond))
        }
        .getOrElse(agg)
    // a registered JOIN view substitutes for the join subtree itself:
    // transformUp rewrites the join FIRST, then a parent Aggregate over
    // a registered rollup (if any) can still rewrite independently
    case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
      tryRewriteJoin(j).getOrElse(j)
  }

  /** Substitute a registered, CURRENT join view for an inner equi-join
    * of its two base scans. Sound because an inner equi-join row is a
    * 1:1 image of (left row, right row) pairs: a deterministic filter
    * pushed to either side equals the same filter over the view's rows,
    * so side filters map straight onto the view scan. Bails on anything
    * else — outer/semi joins, compound or non-key conditions, columns
    * the view lacks, ambiguous (same-named, non-key) columns. */
  private def tryRewriteJoin(
      j: org.apache.spark.sql.catalyst.plans.logical.Join): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.Inner
    if (j.joinType != Inner) return None
    // decompose the condition into its equality conjuncts — a
    // composite USING join analyzes to And-chained EqualTo pairs
    def eqs(e: Expression): Option[Seq[(AttributeReference, AttributeReference)]] =
      e match {
        case And(l, r) => for (a <- eqs(l); b <- eqs(r)) yield a ++ b
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          Some(Seq((a, b)))
        case _ => None
      }
    val pairs = j.condition.flatMap(eqs).getOrElse(return None)
    val (lp, lCond) = destructure(j.left).getOrElse(return None)
    val (rp, rCond) = destructure(j.right).getOrElse(return None)
    // either orientation: `a JOIN b` and `b JOIN a` are the same view
    val jm = MvRewrite.lookupJoin(lp, rp)
      .orElse(MvRewrite.lookupJoin(rp, lp)).getOrElse(return None)
    if (!MvRewrite.isCurrentJoin(jm)) return None
    // the conjuncts must cover EXACTLY the registered key set: each a
    // same-name equality with one side from each input (either
    // orientation), no extra condition, no key missing
    val lIds = AttributeSet(j.left.output)
    val rIds = AttributeSet(j.right.output)
    val matchedKeys = pairs.map { case (a, b) =>
      val crossSides = (lIds.contains(a) && rIds.contains(b)) ||
        (lIds.contains(b) && rIds.contains(a))
      if (a.name == b.name && crossSides && jm.keys.contains(a.name)) a.name
      else return None
    }
    if (matchedKeys.toSet != jm.keys.toSet ||
      matchedKeys.size != jm.keys.size) return None
    // every output column (and filter column) must exist in the view
    // under its own name, unambiguously: the two sides may share ONLY
    // the key names (an inner USING join's shape)
    val shared = j.left.output.map(_.name).toSet
      .intersect(j.right.output.map(_.name).toSet)
    if (shared.exists(!jm.keys.contains(_))) return None
    val fresh = jm.mvPlan.newInstance()
    val mvAttr: Map[String, Attribute] = fresh.output.map(a => a.name -> a).toMap
    def mapped(a: Attribute): Option[Attribute] =
      mvAttr.get(a.name).filter(_.dataType == a.dataType)
    // side filters (collected by destructure under the join) map by name
    def mapCond(e: Expression): Option[Expression] = e match {
      case _: PlanExpression[_] => None
      case a: AttributeReference => mapped(a)
      case other if other.children.isEmpty => Some(other)
      case other =>
        val kids = other.children.map(mapCond)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }
    val conds = (lCond.toSeq ++ rCond.toSeq).map(c =>
      mapCond(c).getOrElse(return None))
    // rebuild the join's exact output: each output attribute keeps its
    // name AND exprId so parent references resolve unchanged
    val outs: Seq[NamedExpression] = j.output.map { a =>
      mapped(a) match {
        case Some(m) => Alias(m, a.name)(exprId = a.exprId)
        case None => return None
      }
    }
    val filtered: LogicalPlan = conds.reduceOption(And)
      .map(org.apache.spark.sql.catalyst.plans.logical.Filter(_, fresh))
      .getOrElse(fresh)
    Some(Project(outs, filtered))
  }

  /** The aggregate child must be the registered base scan — optionally
    * behind pure-attribute Projects (column pruning) and Filters. A
    * Filter is answerable ONLY if its predicate references registered
    * DIM columns alone (checked in [[tryRewrite]]): dims partition the
    * base rows exactly as they partition the rollup rows, so filtering
    * the rollup then re-aggregating equals filtering the base. Any
    * measure/non-dim predicate means the MV can't answer it: bail.
    * Returns (root path, conjunction of the filters on the way down). */
  private def destructure(plan: LogicalPlan): Option[(String, Option[Expression])] =
    plan match {
      case lr: LogicalRelation => relPath(lr).map(_ -> None)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        graftScanPath(r.scan).map(_ -> None)
      case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        destructure(p.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.deterministic =>
        destructure(f.child).map { case (path, cond) =>
          path -> Some(cond.map(And(_, f.condition)).getOrElse(f.condition))
        }
      case _ => None
    }

  /** A graft CATALOG scan is rewritable too (the SQL MV door's base):
    * only the LATEST snapshot (a time-travel read must never answer
    * from the current rollup), and only batch reads. Filter pushdown is
    * safe here because [[graft.sources.GraftScanBuilder.pushFilters]]
    * keeps EVERY filter as a Spark-side residual (pushdown prunes
    * files, never rows) — any predicate is still in the plan above,
    * where [[destructure]] collects it. */
  private def graftScanPath(
      scan: org.apache.spark.sql.connector.read.Scan): Option[String] =
    scan match {
      case g: graft.sources.GraftScan
          if g.version.isEmpty && g.streamOpts.isEmpty =>
        Some(MvRewrite.norm(g.path))
      case _ => None
    }

  // options that narrow which FILES a scan of the registered root reads
  // — an MV of the whole root cannot answer a narrowed scan
  private val fileNarrowingOptions =
    Set("pathglobfilter", "recursivefilelookup", "modifiedbefore", "modifiedafter")

  private def relPath(lr: LogicalRelation): Option[String] = lr.relation match {
    // exactly ONE root: a multi-path scan (read.parquet(a, b)) whose
    // first root is registered must NOT be rewritten to a's MV — the
    // other paths' rows would silently vanish from the result
    case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 &&
        !fs.options.keySet.map(_.toLowerCase(java.util.Locale.ROOT))
          .exists(fileNarrowingOptions) =>
      fs.location.rootPaths.headOption.map { p =>
        val u = p.toUri
        val scheme = Option(u.getScheme).getOrElse("file")
        val auth = Option(u.getAuthority).getOrElse("")
        s"$scheme://$auth${u.getPath}"
      }
    case _ => None
  }

  private def tryRewrite(agg: Aggregate, mv: MvRewrite.MvDef,
      baseCond: Option[Expression]): Option[LogicalPlan] = {
    // fresh exprIds per use so two rewrites in one query tree (e.g. a
    // self-join of two rollups) can't collide
    val fresh = mv.mvPlan.newInstance()
    val mvAttr: Map[String, Attribute] = fresh.output.map(a => a.name -> a).toMap
    val nAttr = mvAttr.getOrElse("n", return None)

    // grouping must be plain base attributes over registered dims
    // (subset grouping is fine — sum(n)/sum(sum_m) roll up exactly)
    val groupPairs: Seq[(AttributeReference, Attribute)] =
      agg.groupingExpressions.map {
        case a: AttributeReference if mv.dims(a.name) && mvAttr.contains(a.name) &&
            mvAttr(a.name).dataType == a.dataType =>
          a -> mvAttr(a.name)
        case _ => return None
      }
    val dimIds = groupPairs.map(_._1.exprId).toSet

    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        // count(1)/count(*): every MV row stands for n base rows.
        // Coalesce keeps the output non-nullable, like Count was. The
        // literal must be NON-NULL: count(NULL) is 0 per group, not the
        // group's row count — rewriting it would change a value.
        case Count(Seq(Literal(v, _))) if v != null =>
          Some(Coalesce(Seq(
            AggregateExpression(Sum(nAttr), Complete, isDistinct = false),
            Literal(0L, LongType))))
        // sum(cast(m as dec(18,4))) — the exact shape materialize()
        // stores — re-sums the carried dec(28,4) partials; cast back to
        // the original dec(28,4) result type (sum-of-sums widens to 38,4)
        case Sum(c: Cast, _) => c.child match {
          case m: AttributeReference
              if mv.measures(m.name) && c.dataType == dec18 &&
                mvAttr.contains(s"sum_${m.name}") =>
            Some(Cast(
              AggregateExpression(Sum(mvAttr(s"sum_${m.name}")), Complete,
                isDistinct = false),
              dec28))
          case _ => None
        }
        // min/max carry the column's OWN type in the rollup — exactly
        // representable, so re-extremizing the per-group extremes is
        // value-identical to the base scan (and rolls up under subset
        // grouping: min of mins IS the min)
        case Min(m: AttributeReference)
            if mv.minMax(m.name) && mvAttr.contains(s"min_${m.name}") &&
              mvAttr(s"min_${m.name}").dataType == m.dataType =>
          Some(AggregateExpression(Min(mvAttr(s"min_${m.name}")), Complete,
            isDistinct = false))
        case Max(m: AttributeReference)
            if mv.minMax(m.name) && mvAttr.contains(s"max_${m.name}") &&
              mvAttr(s"max_${m.name}").dataType == m.dataType =>
          Some(AggregateExpression(Max(mvAttr(s"max_${m.name}")), Complete,
            isDistinct = false))
        case _ => None
      }
    }

    // explicit recursion (not transformUp/Down) so already-rewritten
    // subtrees are never revisited by the matcher
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAgg(ae)
      case a: AttributeReference =>
        if (dimIds(a.exprId)) Some(mvAttr(a.name)) else None
      case other if other.children.isEmpty => Some(other)
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }

    // result expressions keep their original names AND exprIds so the
    // parent plan's references resolve against the rewritten aggregate
    val newResults: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        rewriteExpr(a) match {
          case Some(r) => Alias(r, a.name)(exprId = a.exprId)
          case None => return None
        }
      case al: Alias =>
        rewriteExpr(al.child) match {
          case Some(c) => Alias(c, al.name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }

    // a scan-side filter must reference registered dims ONLY (any other
    // column — a measure, an unregistered attribute, a subquery — means
    // the rollup cannot answer the narrowed aggregate)
    def mapCond(e: Expression): Option[Expression] = e match {
      case _: PlanExpression[_] => None
      case a: AttributeReference =>
        if (mv.dims(a.name) && mvAttr.contains(a.name) &&
          mvAttr(a.name).dataType == a.dataType) Some(mvAttr(a.name))
        else None
      case other if other.children.isEmpty => Some(other)
      case other =>
        val kids = other.children.map(mapCond)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }
    val mvCond: Option[Expression] = baseCond match {
      case None => None
      case Some(c) => mapCond(c) match {
        case Some(mc) => Some(mc)
        case None => return None
      }
    }

    val needed = {
      val refs = AttributeSet(newResults.flatMap(_.references) ++
        groupPairs.map(_._2) ++ mvCond.toSeq.flatMap(_.references))
      fresh.output.filter(refs.contains)
    }
    val scan: LogicalPlan = Project(needed, fresh)
    val filtered = mvCond
      .map(org.apache.spark.sql.catalyst.plans.logical.Filter(_, scan))
      .getOrElse(scan)
    Some(Aggregate(groupPairs.map(_._2), newResults, filtered))
  }
}
