package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for graft's native expressions.
  *
  * Cluster deployment: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) registers the functions at
  * session build; `GraftExtensions.register(spark)` injects them into an
  * already-built session (used by tests/notebooks). After either,
  * `SELECT graft_dot(a, b)` works from plain SQL.
  *
  * Two injections only take effect on a session BUILT with the
  * extension, and `register()` cannot retrofit them: the SQL parser
  * and the columnar rule [[HoistLiterals]], which keeps generated code
  * the same across literal values so Spark's compile cache serves every
  * repeat of a plan shape.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // cluster path for the MV rewrite (same rule MvRewrite.install puts
    // into experimental.extraOptimizations on an already-built session):
    // fires only on scans whose root path is registered, so sessions
    // with no registered MV plan exactly as before
    ext.injectOptimizerRule(_ => new MvRewriteRule)
    // catalog reads plan as the manifest read plan (and manifest-only
    // aggregates as local rows) in place of the DSv2 scan
    ext.injectPlannerStrategy(_ => GraftReadStrategy)
    // SQL maintenance statements (OPTIMIZE / VACUUM) — parser injection
    // only takes effect on sessions BUILT with the extension
    // (spark.sql.extensions conf or .withExtensions); register() on an
    // already-built session cannot retrofit a parser
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // compile once per plan shape: numeric literals of projections and
    // filters leave the generated source. A pre-transition columnar rule
    // runs in both QueryExecution.preparations and AQE's post-stage
    // rules, right before CollapseCodegenStages
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = HoistLiterals
    })
    // SHOW CREATE TABLE that round-trips (Spark's V2 renderer drops
    // GENERATED ALWAYS AS and doubles constraints via TBLPROPERTIES)
    ext.injectPlannerStrategy(_ => new GraftShowCreateStrategy)
    // the manifest format's SQL read surface: FROM graft_table('<path>')
    ext.injectTableFunction((FunctionIdentifier("graft_table"),
      new ExpressionInfo(GraftTableFunction.getClass.getName, "graft_table"),
      GraftTableFunction.build _))
    ext.injectTableFunction((FunctionIdentifier("graft_history"),
      new ExpressionInfo(GraftTableFunction.getClass.getName, "graft_history"),
      GraftTableFunction.buildHistory _))
    ext.injectTableFunction((FunctionIdentifier("graft_detail"),
      new ExpressionInfo(GraftTableFunction.getClass.getName, "graft_detail"),
      GraftTableFunction.buildDetail _))
    ext.injectTableFunction((FunctionIdentifier("graft_changes"),
      new ExpressionInfo(GraftTableFunction.getClass.getName, "graft_changes"),
      GraftTableFunction.buildChanges _))
  }
}

object GraftExtensions {
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_dot(arr, arr) takes two arguments")
        DotProduct(exprs.head, exprs(1))
      }),
    ("graft_cosine",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_cosine(arr, arr) takes two arguments")
        CosineSimilarity(exprs.head, exprs(1))
      }),
    ("graft_intersect_size",
      new ExpressionInfo(classOf[IntersectSize].getName, "graft_intersect_size"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_intersect_size(arr, arr) takes two arguments")
        IntersectSize(exprs.head, exprs(1))
      }),
    ("graft_common_prefix",
      new ExpressionInfo(classOf[CommonPrefixLength].getName, "graft_common_prefix"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          "graft_common_prefix(str, pos, str, pos) takes four arguments")
        CommonPrefixLength(exprs.head, exprs(1), exprs(2), exprs(3))
      }),
    ("graft_kll_agg",
      new ExpressionInfo(classOf[KllSketchAgg].getName, "graft_kll_agg"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_kll_agg(double) takes one argument")
        KllSketchAgg(exprs.head)
      }),
    ("graft_kll_union",
      new ExpressionInfo(classOf[KllUnionAgg].getName, "graft_kll_union"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          "graft_kll_union(sketch) takes one argument")
        KllUnionAgg(exprs.head)
      }),
    ("graft_kll_quantile",
      new ExpressionInfo(classOf[KllQuantile].getName, "graft_kll_quantile"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          "graft_kll_quantile(sketch, rank) takes two arguments")
        KllQuantile(exprs.head, exprs(1))
      }),
    ("graft_theta_agg",
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "graft_theta_agg"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          "graft_theta_agg(long) takes one argument")
        ThetaSketchAgg(exprs.head)
      }),
    ("graft_theta_union",
      new ExpressionInfo(classOf[ThetaUnionAgg].getName, "graft_theta_union"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          "graft_theta_union(sketch) takes one argument")
        ThetaUnionAgg(exprs.head)
      }),
    ("graft_theta_intersect_bounds",
      new ExpressionInfo(classOf[ThetaIntersectBounds].getName,
        "graft_theta_intersect_bounds"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          "graft_theta_intersect_bounds(a, b) takes two arguments")
        ThetaIntersectBounds(exprs.head, exprs(1))
      }),
    ("graft_freq_agg",
      new ExpressionInfo(classOf[FreqItemsAgg].getName, "graft_freq_agg"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          "graft_freq_agg(str) takes one argument")
        FreqItemsAgg(exprs.head)
      }))

  /** Register into an existing session (tests, shells). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graft.ColumnBridge.registerFunction(spark, name, builder)
    }
    org.apache.spark.sql.graft.ColumnBridge.registerTableFunction(
      spark, "graft_table", GraftTableFunction.build _)
    org.apache.spark.sql.graft.ColumnBridge.registerTableFunction(
      spark, "graft_history", GraftTableFunction.buildHistory _)
    org.apache.spark.sql.graft.ColumnBridge.registerTableFunction(
      spark, "graft_detail", GraftTableFunction.buildDetail _)
    org.apache.spark.sql.graft.ColumnBridge.registerTableFunction(
      spark, "graft_changes", GraftTableFunction.buildChanges _)
    GraftReadStrategy.install(spark)
  }
}
