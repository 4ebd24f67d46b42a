package graft

import graft.conditions._
import graft.cursor.{Cursor, CursorMode}
import graft.format.{FieldMap, FormatterRegistry, Formatters}
import graft.pipeline.Pipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Oracle-robustness conventions (SURVEY.md §6):
  *  - double sums go through DECIMAL(18,4) element casts → exact,
  *    order-independent, engine-independent sums;
  *  - averages = exact decimal sum cast to double / count, rounded;
  *  - timestamps in outputs are cast to DATE, epoch millis, or a plain
  *    string cast — never raw sub-second timestamps;
  *  - every query's output is a deterministic row set (unique tiebreaks).
  */
object SparkEntry {

  private val dec = DecimalType(18, 4)
  private def decSum(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** Streaming gate queries run on a cloned session with few shuffle
    * partitions: every stateful streaming operator opens one state store
    * PER partition PER micro-batch (a stream-stream join opens four), so
    * at gate scale the fixed store setup dominates — 32 partitions buy
    * pure overhead for a single AvailableNow batch. Batch queries keep
    * the session default; on a real cluster this knob is sized to the
    * stream's actual key cardinality, not the batch parallelism.
    * `newSession` shares the SparkContext (and its builder-set confs —
    * nanosAsLong, timezone); only the SQLConf override below differs. */
  private def streamSession(s: SparkSession, partitions: Int = 4): SparkSession = {
    val s2 = s.newSession()
    // parameterised (optimization-round rule): on a cluster this knob is
    // sized to the stream's key cardinality; `spark.graft.stream.partitions`
    // on the parent session overrides the gate-scale default. 8 → 4
    // measured 0.76× on the 19-query stream subset by interleaved
    // min-of-pair (q82 0.31×, q81 0.39×, q80 0.49×): each stateful
    // operator opens one state store per partition per micro-batch (a
    // stream-stream join opens four), so at gate scale the store
    // setup/commit floor scales with the partition count while the
    // per-partition data stays trivial.
    val p = s.conf.getOption("spark.graft.stream.partitions")
      .getOrElse(partitions.toString)
    s2.conf.set("spark.sql.shuffle.partitions", p)
    s2
  }

  /** ONE-ACTION, ONE-SHUFFLE multiset equality: tag each side ±1,
    * group by every column, and a nonzero count-sum is a difference —
    * each input is scanned ONCE and shuffled once, where the
    * exceptAll-both-ways formulation scans each side twice and plans
    * two set-op shuffles (the gate pattern runs in dozens of queries).
    * Grouping matches exceptAll's equality (null == null, NaN == NaN).
    * Columns align by `a`'s names: using-column joins reorder output. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    val tag = Iterator.from(0).map(i => s"__side$i")
      .dropWhile(cols.contains).next()
    a.select(cols.map(col): _*).withColumn(tag, lit(1L))
      .unionAll(b.select(cols.map(col): _*).withColumn(tag, lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum(tag).as(tag))
      .where(col(tag) =!= 0L).isEmpty
  }

  /** Every physical node of an EXECUTED frame, walking through AQE's
    * leaf-node query-stage wrappers — plan-shape gates (q154/q155) read
    * the final adaptive plan, not the initial one. */
  private def executedNodes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val through = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      p +: through.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Stage `df` as ONE parquet part at `srcDir/<name>.parquet`, with an
    * optional explicit mtime (the file stream orders micro-batches by
    * mtime). Shared by every multi-micro-batch streaming gate — the
    * listing/move/mtime logic must not drift between them. */
  private def stagePart(df: DataFrame, tmp: String, srcDir: String,
      name: String, mtimeMillis: Option[Long] = None): Unit = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import java.nio.file.attribute.FileTime
    JFiles.createDirectories(JPaths.get(srcDir))
    val st = s"$tmp/stage-$name"
    df.coalesce(1).write.parquet(st)
    val parts = JFiles.list(JPaths.get(st)).iterator()
    var moved = false
    while (parts.hasNext && !moved) {
      val p = parts.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        val dst = JPaths.get(srcDir, s"$name.parquet")
        JFiles.move(p, dst)
        mtimeMillis.foreach(ms =>
          JFiles.setLastModifiedTime(dst, FileTime.fromMillis(ms)))
        moved = true
      }
    }
    require(moved, s"no parquet part staged for $name")
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ llmQueries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- core ETL semantics (reference surface) ---
    "q1_agg" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1)), 6).as("avg_qty"),
          round(sum(col("l_discount").cast(dec)).cast("double") / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    "q2_filter_eq" -> ((s, dir) => {
      val where = Seq(Condition("o_orderstatus", Op.Eq, "F"))
      Tables(s, dir, "orders")
        .where(Conditions.all(where))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate"))
    }),

    "q3_filter_range" -> ((s, dir) => {
      // cursor-window semantics: created_at ∈ [start, end]
      val cur = Cursor(CursorMode.CreatedAt,
        start = Some("1996-01-01 00:00:00"), end = Some("1997-06-30 23:59:59"))
      Tables(s, dir, "orders")
        .where(cur.slice(col("o_orderdate")))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate").cast("date").as("o_orderdate"))
    }),

    "q4_filter_in" -> ((s, dir) => {
      val where = Seq(Condition("c_mktsegment", Op.In, Seq("BUILDING", "AUTOMOBILE")))
      Tables(s, dir, "customer")
        .where(Conditions.all(where))
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    }),

    "q5_filter_contains" -> ((s, dir) => {
      // search_binding semantics: (name ⊃ widget OR name ⊃ bolt) AND type ⊃ ECONOMY
      val schema = FilterSchema(Seq(
        FieldSpec("p_name", Set(Op.Contains),
          searchBinding = Some(SearchBinding("keywords", BoolJoin.Or, BoolJoin.Or))),
        FieldSpec("p_type", Set(Op.Contains),
          searchBinding = Some(SearchBinding("keywords", BoolJoin.And, BoolJoin.Or)))))
      val conds = Seq(
        Condition("p_name", Op.Contains, Seq("widget", "bolt")),
        Condition("p_type", Op.Contains, "ECONOMY"))
      Tables(s, dir, "part")
        .where(schema.compileSearch(conds))
        .select("p_partkey", "p_name", "p_type", "p_size")
    }),

    "q6_having" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(decSum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
        .where(Conditions.all(Seq(Condition("total_spent", Op.Gt, 300000))))
    }),

    "q7_cursor_advance" -> ((s, dir) => {
      val cur = Cursor(CursorMode.UpdatedAt, start = Some("1997-01-01 00:00:00"))
      Tables(s, dir, "orders")
        .where(cur.slice(col("o_orderdate")))
        .agg(max(col("o_orderdate")).cast("string").as("cursor_end"),
          count(lit(1)).as("n_in_slice"))
    }),

    "q21_cursor_uid" -> ((s, dir) => {
      // uid-mode cursor: numeric id slice + advance in one agg pass
      val cur = Cursor(CursorMode.Uid, start = Some("1000"))
      val slice = Tables(s, dir, "orders")
        .where(col("o_orderkey") >= cur.start.get.toLong)
      slice.agg(max(col("o_orderkey")).cast("string").as("cursor_end"),
        count(lit(1)).as("n_in_slice"))
    }),

    "q22_cursor_desc" -> ((s, dir) => {
      // descending sync: start is the UPPER bound, advance = min
      val cur = Cursor(CursorMode.CreatedAt, start = Some("1997-01-01 00:00:00"),
        ascending = false)
      Tables(s, dir, "orders")
        .where(cur.slice(col("o_orderdate")))
        .agg(min(col("o_orderdate")).cast("string").as("cursor_end"),
          count(lit(1)).as("n_in_slice"))
    }),

    "q34_datetime" -> ((s, dir) => {
      // calendar rollups: year/quarter/month extraction (dayofweek is
      // deliberately avoided — Spark counts 1=Sunday, DuckDB 0=Sunday)
      Tables(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total"))
    }),

    "q31_window_suite" -> ((s, dir) => {
      // the window-function family in one pass over a totally-ordered frame
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .where(col("o_custkey") < 50)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
    }),

    "q32_set_ops" -> ((s, dir) => {
      // INTERSECT/EXCEPT between incremental slices
      val orders = Tables(s, dir, "orders")
      val y96 = orders.where(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01")).select("o_custkey")
      val y97 = orders.where(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1998-01-01")).select("o_custkey")
      val both = y96.intersect(y97).select(col("o_custkey"), lit("both").as("bucket"))
      val only96 = y96.except(y97).select(col("o_custkey"), lit("only_1996").as("bucket"))
      both.unionByName(only96)
    }),

    "q33_semi_anti" -> ((s, dir) => {
      // existence joins: customers with/without any order
      val customer = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
      val withOrders = customer.join(orders,
        customer("c_custkey") === orders("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("active").as("status"))
      val withoutOrders = customer.join(orders,
        customer("c_custkey") === orders("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("inactive").as("status"))
      withOrders.unionByName(withoutOrders)
    }),

    "q29_funnel" -> ((s, dir) => {
      // conversion funnel: first signup -> first click -> first purchase
      // per user, one conditional-agg pass (ts is long nanos: exact order)
      val firsts = Tables.eventsNanos(s, dir)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      firsts.agg(
        count(when(col("t_signup").isNotNull, 1)).as("n_signup"),
        count(when(col("t_signup") < col("t_click"), 1)).as("n_signup_click"),
        count(when(col("t_signup") < col("t_click") && col("t_click") < col("t_purchase"), 1))
          .as("n_converted"))
    }),

    "q30_retention" -> ((s, dir) => {
      // cohort retention: users active at day offsets from their first day
      val withDay = Tables.eventsNanos(s, dir)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val firstDay = withDay.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      withDay.join(firstDay, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    "q27_distinct_counts" -> ((s, dir) => {
      // exact distinct cardinalities (the oracle-able twin of the
      // approx_count_distinct sketch — see ApproxSpec)
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),

    "q28_fuzzy_match" -> ((s, dir) => {
      // edit-distance record linkage, full probe set, no sampling:
      // (1) collapse to the NAME DICTIONARY first — identical-name links
      //     are exact dedup's job, and on repeated-key data the raw
      //     self-join's answer explodes quadratically (measured 5.5M pairs
      //     from 20k rows at sf0.1) while the dictionary is the linkage-
      //     relevant content; this is the standard shape of distributed
      //     fuzzy matching (dedupe keys, link the dictionary, expand);
      // (2) PassJoin-style pigeonhole segment blocking over the dictionary
      //     (exact recall, shuffle hash join on hashed substring keys —
      //     no nested loop), banded-levenshtein verification.
      val dict = Tables(s, dir, "part")
        .groupBy("p_name")
        .agg(min(col("p_partkey")).as("key"), count(lit(1)).as("n_parts"))
      val pairs = operators.FuzzyJoin.selfJoin(dict, "key", "p_name", maxDist = 2)
      pairs
        .join(dict.select(col("key").as("id_a"), col("n_parts").as("n_a")), "id_a")
        .join(dict.select(col("key").as("id_b"), col("n_parts").as("n_b")), "id_b")
        .select(col("id_a").as("key_a"), col("id_b").as("key_b"),
          col("name_a"), col("name_b"), col("dist"), col("n_a"), col("n_b"))
    }),

    "q23_json_extract" -> ((s, dir) => {
      // semi-structured payload processing: events.props is a JSON string
      Tables.eventsNanos(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("total_k"), count(lit(1)).as("n"),
          max(col("k")).as("max_k"))
    }),

    "q24_pivot" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .select(col("segment"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }),

    "q25_rollup" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total"))
    }),

    "q26_quantiles" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"))
    }),

    "q8_mapping_formatter" -> ((s, dir) => {
      FormatterRegistry.register("customer_std", Seq(
        FieldMap("c_custkey", "id"), FieldMap("c_name", "name"),
        FieldMap("c_mktsegment", "segment"), FieldMap("c_acctbal", "balance")))
      FormatterRegistry.get("customer_std").get(Tables(s, dir, "customer"))
    }),

    "q9_unified" -> ((s, dir) => {
      // native → TYPED unified layer (Unified.jobs, incl. the breadth
      // fields: ranges_float, ranges_date, url, tags) and back out
      // through the reverse accessors — flat output for the oracle
      // compare. This is the round trip a connector runs on every pull:
      // to_unified_job → ... → from_unified_job (core/connector.py:53,58)
      val native = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      val jobs = models.Unified.jobs(native, models.JobColumns(
        id = concat(lit("order-"), col("o_orderkey")),
        origin = lit("warehouse_orders"),
        key = concat(lit("order-"), col("o_orderkey")),
        name = concat(lit("Order "), col("o_orderkey")),
        text = col("o_orderpriority"),
        summary = col("o_orderstatus"),
        createdAt = col("o_orderdate").cast("string"),
        url = concat(lit("https://orders.example/"), col("o_orderkey")),
        tags = array(
          struct(lit("owner").as("name"), col("c_name").as("value")),
          struct(lit("segment").as("name"), col("c_mktsegment").as("value"))),
        rangesFloat = array(struct(lit("budget").as("name"),
          (col("o_totalprice").cast("double") * lit(0.5)).as("value_min"),
          col("o_totalprice").cast("double").as("value_max"),
          lit("usd").as("unit"))),
        rangesDate = array(struct(lit("delivery").as("name"),
          col("o_orderdate").cast("string").as("value_min"),
          date_add(col("o_orderdate"), 90).cast("string").as("value_max")))))
      val budget = models.Unified.rangeNamed(col("ranges_float"), "budget")
      val delivery = models.Unified.rangeNamed(col("ranges_date"), "delivery")
      models.Unified.toNative(jobs.toDF(), Seq(
        "key" -> col("key"),
        "origin" -> col("origin"),
        "owner" -> models.Unified.entityValue(col("tags"), "owner"),
        "status" -> col("summary"),
        "created_at" -> col("created_at").cast("date"),
        "amount" -> budget.getField("value_max"),
        "budget_min" -> budget.getField("value_min"),
        "url" -> col("url"),
        "delivery_until" -> delivery.getField("value_max")))
    }),

    "q10_push_events" -> ((s, dir) => {
      Pipeline.pushEvents(
        events = Tables.eventsNanos(s, dir),
        eventResourceIdCol = "user_id",
        resources = broadcast(Tables(s, dir, "customer")),
        resourceIdCol = "c_custkey",
        having = Seq(Condition("c_acctbal", Op.Gt, 0)),
        format = Formatters.columns(
          "event_id" -> col("event_id"), "user_id" -> col("user_id"),
          "resource_name" -> col("c_name"), "acctbal" -> col("c_acctbal"),
          "event_type" -> col("event_type")))
    }),

    "q11_push_result" -> ((s, dir) => {
      Pipeline.pushEventsResult(
        events = Tables.eventsNanos(s, dir),
        eventResourceIdCol = "user_id",
        resources = broadcast(Tables(s, dir, "customer")),
        resourceIdCol = "c_custkey",
        having = Seq(Condition("c_acctbal", Op.Gt, 0)))
    }),

    "q43_push_errors" -> ((s, dir) => {
      // error-isolated RESOURCES push (safe_format_resources,
      // core/utils.py:13): ~1/37 of the JSON payloads are deliberately
      // corrupted; the formatter's required output comes back null for
      // those rows, which count as `errors` and are skipped — never
      // job-fatal. Counters land in one single-row frame.
      val src = Tables.eventsNanos(s, dir).withColumn("props",
        when(col("event_id") % 37 === 0, expr("substring(props, 1, 3)"))
          .otherwise(col("props")))
      Pipeline.pushResourcesResult(src,
        having = Seq(Condition("value", Op.Gte, 50.0)),
        format = Formatters.columns(
          "event_id" -> col("event_id"),
          "k" -> get_json_object(col("props"), "$.k").cast("bigint")),
        requiredCols = Seq("k"))
    }),

    "q12_event_latest" -> ((s, dir) => {
      // upserted → latest-state resolution
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      Tables.eventsNanos(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_id", "event_type", "value")
    }),

    "q35_event_apply" -> ((s, dir) => {
      // tombstone merge: apply the event stream to the customer target —
      // latest 'error' event removes the row, other latest events upsert
      // the balance from the event payload, unseen customers pass through,
      // events for unknown keys insert
      Pipeline.applyEvents(
        target = Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
        targetKey = "c_custkey",
        events = Tables.eventsNanos(s, dir),
        eventKey = "user_id", typeCol = "event_type",
        tsCol = "ts", tieCol = "event_id",
        tombstones = Set("error"),
        updates = Map("c_acctbal" -> "value"))
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_mktsegment").as("segment"), col("c_acctbal").as("balance"))
    }),

    "q37_interval_join" -> ((s, dir) => {
      // attribution: purchases within 1h after a click by the same user
      // (batch twin of streaming.EventStream.intervalJoin); the non-equi
      // time range rides on the user_id equi-join, so the plan is a hash/
      // sort-merge join on the key with the range as a join-level filter
      val e = Tables.eventsNanos(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id").as("u"), col("event_id").as("click_id"),
          col("ts").as("ct"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pt"), col("value"))
      clicks.join(purchases, col("u") === col("pu") &&
          col("pt") >= col("ct") && col("pt") <= col("ct") + lit(3600000000000L))
        .groupBy(col("u").as("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          decSum(col("value")).as("attributed_value"),
          min(col("click_id")).as("first_click"))
    }),

    "q36_cursor_source" -> ((s, dir) => {
      // cursor-aware DataSource V2: the uid-cursor slice is pushed INTO
      // the source (row-group stats pruning + row-level bounds in the
      // reader); the lang filter goes through Spark's pushdown path
      s.read.format("graft-cursor")
        .option("path", s"$dir/documents.parquet")
        .option("cursor_field", "doc_id").option("cursor_mode", "uid")
        .option("cursor_start", "100").option("cursor_end", "399")
        .load()
        .where(col("lang") =!= "zh")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }),

    "q39_scd2" -> ((s, dir) => {
      // SCD Type-2 dimension build from the event stream: one row per
      // state EPISODE (consecutive run of the same event_type per user)
      // with [valid_from, valid_to) micros bounds and an is_current flag —
      // the slowly-changing-dimension shape a warehouse sync writes.
      // Two window passes over the same (user_id, time) partitioning:
      // change detection (lag) and interval close (lead) — Catalyst
      // reuses one sort+exchange for both. Bounds in MICROS (ts div 1000):
      // DuckDB reads the nanos parquet column at micro precision, so both
      // engines order and emit the truncated value.
      val byTime = Window.partitionBy("user_id")
        .orderBy(col("valid_from_us"), col("event_id"))
      Tables.eventsNanos(s, dir)
        .withColumn("valid_from_us", expr("ts div 1000"))
        .withColumn("__prev", lag(col("event_type"), 1).over(byTime))
        .where(col("__prev").isNull || col("__prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from_us"), col("event_id"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(
          Window.partitionBy("user_id").orderBy(col("valid_from_us"), col("event_id"))))
        .withColumn("is_current", col("valid_to_us").isNull)
    }),

    "q40_stratified" -> ((s, dir) => {
      // balanced per-stratum sampling (deterministic Knuth-hash threshold,
      // rate = target/stratum size) — eval-set construction over a skewed
      // corpus; broadcast of O(strata) counts, no data shuffle
      val j = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
          col("o_totalprice"))
      operators.Sampling.stratifiedSample(j, "o_orderkey", "segment", target = 1000)
        .groupBy("segment")
        .agg(count(lit(1)).as("n_sampled"), min(col("o_orderkey")).as("min_key"),
          decSum(col("o_totalprice")).as("sum_price"))
    }),

    "q38_jdbc_pull" -> ((s, dir) => {
      // full connector path: customer lands in an embedded Derby database
      // through the JDBC write path, then a cursor window + prefilter
      // compile through SqlWhere into the origin query (the reference's
      // build_cursor_query_params analogue) and Derby does the filtering —
      // Spark only sees the slice. VARCHAR column types are forced because
      // Derby's CLOB (the dialect default for strings) rejects comparisons.
      val db = java.nio.file.Files.createTempDirectory("graft-q38-").toString + "/db"
      val wh = graft.sources.JdbcWarehouse(
        "derby", s"jdbc:derby:$db;create=true",
        auth = graft.sources.Auth.Options(
          Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")),
        writeOptions = Map("createTableColumnTypes" ->
          "c_name VARCHAR(64), c_mktsegment VARCHAR(16)"))
      wh.write(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment")), "customer_rt")
      wh.readSlice(s, "customer_rt",
        conditions = Seq(graft.conditions.Condition(
          "c_mktsegment", graft.conditions.Op.Eq, "BUILDING")),
        cursorField = Some("c_custkey"),
        cursor = Some(graft.cursor.Cursor(graft.cursor.CursorMode.Uid,
          start = Some("200"), end = Some("900"))))
    }),

    "q42_rest_pull" -> ((s, dir) => {
      // full REST connector path (the reference's native origin family,
      // connectors/hrflow/actions.py:22): customer is served by an
      // in-process paginated JSON API behind an API key; conditions +
      // cursor compile to query params (build_connector_params analogue,
      // core/utils.py:604), the driver probes 1 row for the filtered
      // total, and executors fetch the pages in parallel. The origin does
      // the filtering — Spark only ever sees the slice.
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment"))
      val fx = graft.sources.RestFixture.serve(customer, "customer",
        cursorField = "c_custkey",
        requiredHeader = Some("X-API-Key" -> "graft-fixture-key"))
      try {
        val wh = graft.sources.RestWarehouse("fixture", fx.baseUrl,
          httpAuth = graft.sources.HttpAuth.ApiKey("X-API-Key", "graft-fixture-key"),
          pageSize = 64)
        wh.readSlice(s, "customer",
          conditions = Seq(Condition("c_mktsegment", Op.Eq, "AUTOMOBILE")),
          cursorField = Some("c_custkey"),
          cursor = Some(Cursor(CursorMode.Uid,
            start = Some("150"), end = Some("1200"))),
          schema = Some(customer.schema))
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_mktsegment"))
          .localCheckpoint() // materialize before the fixture stops
      } finally fx.stop()
    }),

    "q45_incremental" -> ((s, dir) => {
      // full connector lifecycle under the gate: two incremental pulls
      // from a REST origin with a cursor advance between them (the
      // reference's read → _finalize_read_batch → next_cursor loop,
      // core/connector.py:231). The origin filters BOTH pulls (IN
      // condition + cursor window compile to query params), advance is
      // one max() agg, and the at-least-once `>=` restart boundary is
      // part of the contract — the oracle reproduces it.
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val fx = graft.sources.RestFixture.serve(customer, "customer", "c_custkey")
      try {
        val wh = graft.sources.RestWarehouse("fixture", fx.baseUrl, pageSize = 128)
        val where = Seq(Condition("c_mktsegment", Op.In, Seq("BUILDING", "MACHINERY")))
        def pull(cur: Cursor) = wh.readSlice(s, "customer",
          conditions = where, cursorField = Some("c_custkey"),
          cursor = Some(cur), schema = Some(customer.schema))
        val day1Cur = Cursor(CursorMode.Uid, start = Some("1"), end = Some("700"))
        // pin the slice before advancing: advance() and the final union
        // must see the SAME day-1 read, and a lazy frame would re-fetch
        // every page over HTTP for each consumer (TOCTOU on a live origin)
        val day1 = pull(day1Cur).localCheckpoint()
        val advanced = day1Cur.advance(day1, col("c_custkey"))
        val day2 = pull(Cursor(CursorMode.Uid,
          start = advanced.end, end = Some("1400")))
        day1.withColumn("pull_seq", lit(1))
          .unionAll(day2.withColumn("pull_seq", lit(2)))
          .localCheckpoint()
      } finally fx.stop()
    }),

    "q67_rest_sync" -> ((s, dir) => {
      // the REST WRITE path under the gate: the origin starts EMPTY, a
      // filtered slice pushes through the batched POST path (executors
      // write), then the SAME origin serves it back with origin-side
      // filtering — the full sync loop through a live HTTP collection
      // endpoint; the oracle recomputes the round-trip from the source
      // table
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment"))
      val fx = graft.sources.RestFixture.serve(
        customer.limit(0), "customer", "c_custkey", writable = true)
      try {
        val wh = graft.sources.RestWarehouse("fixture", fx.baseUrl,
          pageSize = 64, writeBatchSize = 100)
        wh.write(customer.where(col("c_mktsegment") === "FURNITURE" &&
            col("c_custkey").between(50, 1000)), "customer",
          org.apache.spark.sql.SaveMode.Append)
        wh.readSlice(s, "customer",
          conditions = Seq(Condition("c_nationkey", Op.In, Seq(0, 1, 2, 3, 4, 5, 6, 7))),
          schema = Some(customer.schema)).localCheckpoint()
      } finally fx.stop()
    }),

    "q185_push_idempotent" -> ((s, dir) => {
      // PUSH IDEMPOTENCY KEYS — closing the boundary q87's exactly-once
      // stops at: the reference's real sink is an HTTP API, and its
      // at-least-once retries double-write when the origin APPLIED a
      // batch but the ack was lost (429/5xx after apply, a retried
      // Spark task). Leg 1 proves the gap REAL: a keyless push against
      // a lost-ack origin lands duplicate rows. Leg 2 closes it: with
      // `pushId` set, every batch carries a deterministic
      // Idempotency-Key (runId x partition x batch ordinal — stable
      // across retries by construction), the origin dedupes on it, and
      // TWO forced lost-ack windows later the collection holds exactly
      // one copy. The pulled-back collection goes under the oracle.
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment"))
      val slice = customer.where(col("c_mktsegment") === "BUILDING" &&
        col("c_custkey") <= 600)
      val n = slice.count()
      require(n > 0, "empty slice: the gate would be vacuous")
      // leg 1: the gap proven real — no key, one lost ack, duplicates
      val fx1 = graft.sources.RestFixture.serve(
        slice.limit(0), "customer", "c_custkey",
        writable = true, lostAck429 = 1)
      try {
        graft.sources.RestWarehouse("fixture", fx1.baseUrl,
          writeBatchSize = 100000)
          .write(slice.coalesce(1), "customer",
            org.apache.spark.sql.SaveMode.Append)
        require(fx1.postedRows.size > n,
          "keyless at-least-once must double-write under a lost ack " +
            s"(got ${fx1.postedRows.size} rows for $n pushed) - " +
            "otherwise this gate tests nothing")
      } finally fx1.stop()
      // leg 2: idempotency keys close it — two lost acks, exactly once
      val fx2 = graft.sources.RestFixture.serve(
        slice.limit(0), "customer", "c_custkey",
        writable = true, lostAck429 = 2)
      try {
        val wh = graft.sources.RestWarehouse("fixture", fx2.baseUrl,
          writeBatchSize = 50, pushId = Some("sync-2024-01-01-run1"))
        wh.write(slice.coalesce(2), "customer",
          org.apache.spark.sql.SaveMode.Append)
        require(fx2.postedRows.size == n,
          s"keyed push must land exactly once under lost acks " +
            s"(origin holds ${fx2.postedRows.size} of $n)")
        import scala.jdk.CollectionConverters._
        val posts = fx2.requests.asScala.count(_.startsWith("POST"))
        require(posts > fx2.postedBatches.get(),
          "the lost-ack retries must actually have happened " +
            s"($posts POSTs for ${fx2.postedBatches.get()} applied batches)")
        // the origin's collection, pulled back, under the oracle
        wh.readSlice(s, "customer", schema = Some(customer.schema))
          .localCheckpoint()
      } finally fx2.stop()
    }),

    "q48_rest_push_events" -> ((s, dir) => {
      // EVENTS-mode push against a LIVE origin (the reference's full
      // event push: fetch natives BY ID over HTTP, then format + filter
      // + push — connectors/hrflow/actions.py:69, core/pipeline.py:83).
      // The events stream names resource ids; RestWarehouse.fetchByIds
      // hydrates them in distributed id__in batches (vs the reference's
      // one-GET-per-id driver loop). The origin only HAS 2/3 of the
      // customers, so skipped_missing is really exercised: those events
      // drop from the inner join, exactly like resources the reference's
      // by-id fetch gets a non-200 for.
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val served = customer.where(col("c_custkey") % 3 =!= 0)
      val fx = graft.sources.RestFixture.serve(served, "customer", "c_custkey")
      try {
        val wh = graft.sources.RestWarehouse("fixture", fx.baseUrl)
        val events = Tables.eventsNanos(s, dir)
        val resources = wh.fetchByIds(events.select(col("user_id")),
          "customer", "c_custkey", Some(customer.schema), batchSize = 256)
        val out = Pipeline.pushEvents(
          events, "user_id", broadcast(resources), "c_custkey",
          having = Seq(Condition("c_acctbal", Op.Gt, 0)),
          format = Formatters.columns(
            "event_id" -> col("event_id"), "user_id" -> col("user_id"),
            "resource_name" -> col("c_name"), "acctbal" -> col("c_acctbal"),
            "event_type" -> col("event_type"))).localCheckpoint()
        // served-count gate: the origin returned exactly the distinct
        // requested ids it has — each once, nothing paged twice, nothing
        // beyond the requested slice
        val uids = events.select(col("user_id")).distinct()
        val expectServed = uids
          .join(served, uids("user_id") === served("c_custkey")).count()
        require(fx.servedRows.get() == expectServed,
          s"origin served ${fx.servedRows.get()} rows; " +
            s"expected the $expectServed matching distinct ids")
        out
      } finally fx.stop()
    }),

    "q44_stream_agg" -> ((s, dir) => {
      // Structured Streaming under the hard gate: the events table read as
      // a FILE STREAM, watermarked tumbling-day aggregation, memory sink,
      // Trigger.AvailableNow — process everything available, then stop.
      // All files land in one micro-batch (no maxFilesPerTrigger), so the
      // watermark never drops in-flight data and the finished table equals
      // the batch groupBy — which is what lets DuckDB oracle a STREAMING
      // query exactly. Sums go through the decimal-cast convention.
      import org.apache.spark.sql.streaming.Trigger
      val s2 = streamSession(s)
      val schema = s2.read.parquet(s"$dir/events.parquet").schema
      val src = graft.streaming.EventStream.source(s2, dir, schema,
        globFilter = Some("events.parquet"))
      val agg = src.withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          decSum(col("value")).as("sum_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
      val sink = s"q44_stream_${System.nanoTime()}"
      val query = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val out = s2.table(sink).localCheckpoint() // pin: the sink is transient
      s2.catalog.dropTempView(sink) // ... and must not outlive the query
      out
    }),

    "q59_bucketed_join" -> ((s, dir) => {
      // the co-bucketing layout lever under the gate: both sides written
      // bucketed+sorted on the join key into external tables, joined
      // WITHOUT an exchange (LayoutSpec pins the shuffle-free plan; here
      // the driver hash-checks the result equals the plain join)
      val db = "graft_q59"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.orders_b")
      s.sql(s"DROP TABLE IF EXISTS $db.customer_b")
      val base = java.nio.file.Files.createTempDirectory("graft-q59-").toString
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/o").saveAsTable(s"$db.orders_b")
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/c").saveAsTable(s"$db.customer_b")
      s.table(s"$db.orders_b")
        .join(s.table(s"$db.customer_b"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total"))
    }),

    "q60_merge" -> ((s, dir) => {
      // MERGE INTO under the gate: customer committed as a versioned
      // table, then one merge applies updates (key%7==0, balance+1000,
      // upper name), inserts (key%11==3 re-keyed +10M), and tombstones
      // (key%13==0) — disjoint sets so the source stays keyed. The
      // oracle recomputes the merged table in SQL; hash equality proves
      // BOTH the merge semantics and that copy-on-write carried every
      // untouched row through unchanged.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q60-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      ManifestTable.merge(s, base, updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D"))
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q76_merge_mor" -> ((s, dir) => {
      // MERGE-ON-READ under the gate: the exact q60 merge (updates,
      // inserts, tombstones on customer) through mergeMoR — same oracle,
      // different cost model. The in-query gate asserts the MoR contract:
      // ZERO pre-merge data files rewritten or dropped (all carried into
      // v2) and the merge's whole write is one delete file + the upsert
      // rows, i.e. O(k) bytes instead of rewriting every touched file.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q76-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val before = ManifestTable.dataFiles(base, Some(1L)).toSet
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      val v2 = ManifestTable.mergeMoR(s, base,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D"))
      val after = ManifestTable.dataFiles(base, Some(v2)).toSet
      require(before.subsetOf(after),
        s"MoR merge rewrote/dropped data files: ${before.diff(after)}")
      require(ManifestTable.deleteFiles(base, Some(v2)).nonEmpty,
        "MoR merge landed no delete file")
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q83_constraints" -> ((s, dir) => {
      // Table CHECK constraints (the Delta invariants model) under the
      // gate: constraints are table METADATA in the manifest — declared
      // once (validating existing rows first), enforced inside every
      // subsequent write's scan via assert_true (fail-fast, zero extra
      // passes), surviving append/overwrite/merge/compaction. The gate
      // asserts the contract: declaring a constraint existing data
      // violates THROWS; a violating append THROWS the constraint text
      // and commits NOTHING (version unchanged); a valid enforced append
      // lands. Emitted rows are the final table, oracle-recomputed.
      import graft.sources.ManifestTable
      def chain(e: Throwable): Seq[String] =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12)
          .map(x => String.valueOf(x.getMessage)).toSeq
      val base =
        java.nio.file.Files.createTempDirectory("graft-q83-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val badDecl =
        try { ManifestTable.setConstraints(s, base,
          Seq("c_acctbal > 100000")); false }
        catch { case e: Throwable =>
          chain(e).exists(_.contains("CHECK constraint violated")) }
      require(badDecl,
        "declaring a constraint existing rows violate must throw it")
      ManifestTable.setConstraints(s, base,
        Seq("c_custkey >= 0", "c_mktsegment IS NOT NULL"))
      val vDeclared = ManifestTable.versions(base).max
      val bad = customer.limit(5)
        .withColumn("c_custkey", lit(-1L))
      val badWrite =
        try { ManifestTable.append(bad, base); false }
        catch { case e: Throwable =>
          chain(e).exists(_.contains("CHECK constraint violated")) }
      require(badWrite, "a violating append must throw the constraint")
      require(ManifestTable.versions(base).max == vDeclared,
        "an aborted write must commit nothing")
      val extra = customer.where(col("c_custkey") % 10 === 3)
        .withColumn("c_custkey", col("c_custkey") + 20000000L)
      ManifestTable.append(extra, base)
      ManifestTable.read(s, base)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), decSum(col("c_acctbal")).as("bal"))
    }),

    "q88_hard_delete" -> ((s, dir) => {
      // right-to-be-forgotten on the transactional table: MoR-delete the
      // keys (an O(k) commit), FOLD the delete ledger (compactDeletes
      // rewrites only stats-affected files), EXPIRE superseded versions,
      // VACUUM — then prove the deleted keys are PHYSICALLY gone by
      // raw-reading every surviving byte under data/ with no manifest
      // and no reconcile. Logical deletion (a DV hiding rows) is NOT
      // enough for a deletion request; this gate pins the full
      // erasure path end-to-end.
      import graft.sources.ManifestTable
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      import scala.jdk.CollectionConverters._
      val tmp =
        java.nio.file.Files.createTempDirectory("graft-q88-").toString
      val base = s"$tmp/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val del = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      ManifestTable.mergeMoR(s, base, del, Seq("c_custkey"),
        deleteWhen = Some(col("op") === "D"))
      // the DV only HIDES rows: the raw bytes still hold them
      ManifestTable.compactDeletes(s, base)
      val (droppedVs, freed) = ManifestTable.expire(base, keepLast = 1,
        vacuumMinAgeMs = 0L)
      require(droppedVs.nonEmpty && freed.nonEmpty,
        "erasure pipeline freed nothing - gate vacuous")
      val rawFiles = JFiles.list(JPaths.get(base, "data")).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
      require(rawFiles.nonEmpty, "no surviving data files")
      val raw = s.read.parquet(rawFiles: _*)
      require(raw.where(col("c_custkey") % 13 === 0).isEmpty,
        "deleted keys still physically present in surviving files")
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
    }),

    "q89_mv_rewrite" -> ((s, dir) => {
      // transparent materialized-view rewrite (plans/MvRewrite.scala):
      // a rollup of orders is materialized once; the Catalyst rule then
      // redirects a dashboard aggregate WRITTEN AGAINST THE BASE TABLE
      // onto the rollup. The in-query gate proves the redirect actually
      // happened (optimized plan scans the MV path and NOT the fact
      // table) before the result goes under the raw-SQL oracle — i.e.
      // the oracle checks the rewrite changed the access path without
      // changing one value. At 100 TB this is the read-side payoff of
      // q71's incremental maintenance: the report scans MBs, not TBs.
      import graft.operators.IncrementalAgg
      import graft.plans.MvRewrite
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      // rule installed on a clone so no other query's planning changes
      val s2 = s.newSession()
      val basePath = s"$dir/orders.parquet"
      val mvDir =
        java.nio.file.Files.createTempDirectory("graft-q89-").toString + "/mv"
      val dims = Seq("o_orderstatus", "o_orderpriority")
      val measures = Seq("o_totalprice")
      IncrementalAgg.materialize(s2.read.parquet(basePath), dims, measures)
        .write.parquet(mvDir)
      MvRewrite.register(s2, basePath, s2.read.parquet(mvDir), dims, measures)
      // nothing below names the MV — the rule alone reroutes the scan
      val q = s2.read.parquet(basePath)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("revenue"))
      val scanned = q.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten
      require(scanned.exists(_.contains("graft-q89-")),
        s"MV rewrite did not fire - plan scans $scanned")
      require(!scanned.exists(_.contains("orders.parquet")),
        "rewritten plan still scans the base table")
      // the gate already forced optimizedPlan (a lazy val), so the
      // deregistration can't un-rewrite the returned frame — it only
      // stops the JVM-global registry pinning this throwaway session's
      // analyzed MV plan for the process lifetime
      MvRewrite.deregister(s2, basePath)
      q
    }),

    "q90_dpp" -> ((s, dir) => {
      // DYNAMIC partition pruning under the gate: the fact table is
      // written partitioned by priority; the dim side's filter is only
      // known at run time (it arrives through a join, not a literal
      // WHERE on the fact), so static pruning can't help — Spark must
      // inject the dim's build-side values as a runtime partition
      // filter on the fact scan (reusing the broadcast exchange). The
      // in-query gate asserts the dynamicpruning expression is actually
      // ON the fact scan. At 100 TB star-join scale this is the
      // difference between scanning 2/5 of the fact partitions and all
      // of them — the optimization TPC-DS plans live on.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q90-").toString
      val factDir = s"$tmp/fact"
      Tables(s, dir, "orders").write.partitionBy("o_orderpriority")
        .parquet(factDir)
      val dim = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("p")).distinct()
        .where(col("p").isin("1-URGENT", "2-HIGH"))
      val fact = s.read.parquet(factDir)
      val q = fact.join(dim, fact("o_orderpriority") === dim("p"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("revenue"))
      val plan = q.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruning"),
        "fact scan carries no dynamic partition-pruning filter")
      q
    }),

    "q107_delete_update_where" -> ((s, dir) => {
      // predicate DELETE + UPDATE (Delta's DELETE FROM / UPDATE SET),
      // copy-on-write at file granularity: one predicate-pushed scan
      // finds the files holding matches; only those rewrite. The table
      // is range-laid so the low-balance band lives in few files — the
      // gate asserts most files carry BYTE-identical through both
      // operations, and a matching-nothing delete commits no version.
      // Oracle recomputes the delete-then-update state in SQL.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files
        .createTempDirectory("graft-q107-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(
        customer.repartitionByRange(8, col("c_acctbal")), base)
      val before = ManifestTable.dataFiles(base).toSet
      ManifestTable.deleteWhere(s, base, col("c_acctbal") < 0)
      ManifestTable.updateWhere(s, base,
        col("c_acctbal") >= 9000,
        Map("c_mktsegment" -> lit("VIP"),
          "c_acctbal" -> (col("c_acctbal") + 1.0)))
      val after = ManifestTable.dataFiles(base).toSet
      require(before.intersect(after).size >= before.size / 2,
        s"predicate rewrite touched ${before.size - before.intersect(after).size}" +
          s" of ${before.size} range files for two narrow bands")
      val v = ManifestTable.versions(base).max
      require(ManifestTable.deleteWhere(s, base,
          col("c_custkey") === -1) == v,
        "a matching-nothing DELETE must not commit a version")
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    }),

    "q106_merge_evolve" -> ((s, dir) => {
      // SCHEMA-EVOLVING MERGE (Delta's mergeSchema on MERGE): the CDC
      // source starts carrying a column the table never had (c_tier).
      // The evolving merge lands it — updated/inserted rows carry their
      // tier, every untouched row reads NULL (mergeSchema null-fill,
      // zero rewrites of untouched files) — while the deleteWhen
      // marker column stays OUT of the table. Gates: op is not a table
      // column; pre-merge files survive untouched (CoW file pruning
      // unaffected by evolution). Oracle recomputes the evolved state.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files
        .createTempDirectory("graft-q106-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("c_tier", when(col("c_acctbal") >= 5000, "gold")
          .otherwise("std"))
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("c_tier", lit(null).cast("string"))
        .withColumn("op", lit("D"))
      ManifestTable.merge(s, base, updates.unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D"),
        evolveSchema = true)
      val out = ManifestTable.read(s, base)
      require(out.columns.contains("c_tier"), "schema did not evolve")
      require(!out.columns.contains("op"),
        "the deleteWhen marker column leaked into the table")
      out.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_tier"))
    }),

    "q105_restore" -> ((s, dir) => {
      // RESTORE under the gate: a bad merge is rolled back by
      // RE-COMMITTING v1's state as v3 — history moves forward, never
      // rewrites. Gates: the chain is exactly [1,2,3] (restore is one
      // commit), v2 still reads as the merged state (audit trail
      // intact), a replayed restore with the same commit id is a
      // no-op, and the restored read equals the original table — the
      // oracle (plain customer).
      import graft.sources.ManifestTable
      val base = java.nio.file.Files
        .createTempDirectory("graft-q105-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      ManifestTable.merge(s, base,
        customer.where(col("c_custkey") % 2 === 0)
          .withColumn("c_acctbal", col("c_acctbal") * 2),
        Seq("c_custkey"))
      val v3 = ManifestTable.restore(base, 1L, commitId = Some("undo-merge"))
      require(v3 == 3 && ManifestTable.versions(base) == Seq(1L, 2L, 3L),
        s"restore must be ONE forward commit: ${ManifestTable.versions(base)}")
      require(ManifestTable.restore(base, 1L,
          commitId = Some("undo-merge")) == 3,
        "replayed restore re-committed")
      val doubled = ManifestTable.read(s, base, Some(2L))
        .where(col("c_custkey") % 2 === 0)
        .select(decSum(col("c_acctbal"))).head().getDouble(0)
      val orig = customer.where(col("c_custkey") % 2 === 0)
        .select(decSum(col("c_acctbal") * 2)).head().getDouble(0)
      require(math.abs(doubled - orig) < 1e-6,
        "history rewritten: v2 no longer reads as the merged state")
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q104_shallow_clone" -> ((s, dir) => {
      // ZERO-COPY SHALLOW CLONE under the gate (Delta's SHALLOW CLONE
      // on the manifest format): the clone's v1 manifest references the
      // source's files by absolute path — O(metadata) at any size. The
      // q60 merge then runs ON THE CLONE: upserted/inserted rows stage
      // under the clone's own data dir, untouched source files stay
      // referenced, and the SOURCE is byte-for-byte unaffected. Gates:
      // zero data files under the clone at clone time; the source's
      // version chain and row count unchanged after the clone's merge;
      // emitted clone state matches q60's merge oracle exactly.
      import graft.sources.ManifestTable
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q104-").toString
      val srcT = s"$tmp/src"
      val dstT = s"$tmp/clone"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, srcT)
      val srcVersions = ManifestTable.versions(srcT)
      ManifestTable.cloneShallow(srcT, dstT)
      require(java.nio.file.Files.list(
          java.nio.file.Paths.get(dstT, "data")).count() == 0,
        "shallow clone copied data files")
      require(ManifestTable.read(s, dstT).count() == customer.count(),
        "clone does not read the source's rows")
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      ManifestTable.merge(s, dstT,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D"))
      require(ManifestTable.versions(srcT) == srcVersions,
        "merging the clone committed to the SOURCE")
      require(ManifestTable.read(s, srcT).count() == customer.count(),
        "merging the clone changed the source's rows")
      ManifestTable.read(s, dstT)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q103_hll_mv" -> ((s, dir) => {
      // INCREMENTAL COUNT-DISTINCT maintenance — the aggregate a
      // +/-delta MV (q71/q96) cannot maintain: distinct counts don't
      // compose by addition, but DataSketches HLL sketches compose by
      // UNION losslessly. Three ingest batches each commit only their
      // own per-group sketch rows to a sketch table (never re-reading
      // old data); the maintained answer is one union-agg over the
      // sketch rows. Gate: BOTH the batch-unioned estimate and the
      // single-pass whole-data sketch estimate land within the
      // published HLL error bound of the exact count — i.e. maintaining
      // the count incrementally through the sketch table costs no
      // accuracy beyond the sketch's own bound (DataSketches unions are
      // mergeable but not bit-identical to a direct sketch; union-mode
      // transitions shift the estimate ~1%, inside the bound). Emits
      // the exact counts (q73's discipline: sketch gated in-query,
      // oracle exact).
      import graft.sources.ManifestTable
      val orders = Tables(s, dir, "orders")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q103-").toString + "/sk"
      (0 to 2).foreach { b =>
        val part = orders.where(col("o_orderkey") % 3 === b)
          .groupBy("o_orderstatus")
          .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
          .withColumn("batch", lit(b))
        if (b == 0) ManifestTable.overwrite(part, tmp)
        else ManifestTable.append(part, tmp, commitId = Some(s"hll-$b"))
        ()
      }
      val unioned = ManifestTable.read(s, tmp)
        .groupBy("o_orderstatus")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val single = orders.groupBy("o_orderstatus")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").as("est1"))
      val exact = orders.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
      val joined = unioned.join(single, "o_orderstatus")
        .join(exact, "o_orderstatus").collect()
      require(joined.nonEmpty)
      joined.foreach { r =>
        val (est, est1, ex) = (r.getLong(1), r.getLong(2), r.getLong(3))
        // default lgConfigK=12 → rsd ≈ 1.04/√4096 ≈ 1.63%; 5·rsd bound
        def inBound(e: Long, label: String): Unit =
          require(math.abs(e - ex) <= math.max(3.0, 5 * 0.0163 * ex),
            s"$label estimate $e outside bound of exact $ex for ${r.get(0)}")
        inBound(est, "batch-unioned")
        inBound(est1, "single-pass")
      }
      exact
    }),

    "q121_kll_mv" -> ((s, dir) => {
      // INCREMENTAL QUANTILE maintenance — q103's sketch-table story
      // for the OTHER non-additive aggregate: percentiles don't
      // compose, but KLL sketches merge with a preserved rank bound
      // (plans/KllSketch.scala — Spark ships hll_sketch_agg but no
      // quantile sketch, so graft registers a native
      // TypedImperativeAggregate pair over the DataSketches KLL on the
      // classpath). Three ingest batches each commit only their own
      // per-group sketch rows; the maintained answer is one union-agg
      // over O(groups·batches) sketch rows — at 100 TB the p99 never
      // rescans data. Gate: KLL's guarantee is on RANK, so for every
      // group × rank both the batch-unioned and the single-pass
      // estimates must sit within 3× the published normalized rank
      // error (~1.65% at k=200) of the requested rank, measured
      // against the data itself. Emits exact percentiles (q103's
      // discipline: sketch gated in-query, oracle exact).
      import graft.sources.ManifestTable
      plans.GraftExtensions.register(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("price"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q121-").toString + "/sk"
      (0 to 2).foreach { b =>
        val part = orders.where(col("o_orderkey") % 3 === b)
          .groupBy("o_orderstatus")
          .agg(expr("graft_kll_agg(price)").as("sk"))
          .withColumn("batch", lit(b))
        if (b == 0) ManifestTable.overwrite(part, tmp)
        else ManifestTable.append(part, tmp, commitId = Some(s"kll-$b"))
        ()
      }
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val eps = plans.KllSketchFns.rankError
      def estCols(agg: String) = ps.zipWithIndex.map { case (p, i) =>
        expr(s"graft_kll_quantile($agg, $p)").as(s"est_$i") }
      val unioned = ManifestTable.read(s, tmp)
        .groupBy("o_orderstatus").agg(expr("graft_kll_union(sk)").as("u"))
        .select(col("o_orderstatus") +: estCols("u"): _*)
      val single = orders.groupBy("o_orderstatus")
        .agg(expr("graft_kll_agg(price)").as("u"))
        .select(col("o_orderstatus") +: estCols("u"): _*)
      def checkRanks(est: org.apache.spark.sql.DataFrame,
          label: String): Unit = {
        val leCols = ps.indices.map(i =>
          sum(when(col("price") <= col(s"est_$i"), 1L).otherwise(0L))
            .as(s"le_$i"))
        val ranked = orders.join(broadcast(est), "o_orderstatus")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), leCols: _*)
          .collect()
        require(ranked.nonEmpty)
        ranked.foreach { r =>
          val n = r.getAs[Long]("n").toDouble
          ps.zipWithIndex.foreach { case (p, i) =>
            val rank = r.getAs[Long](s"le_$i") / n
            require(math.abs(rank - p) <= 3 * eps,
              s"$label rank of p$p estimate is $rank for " +
                s"${r.get(0)} — outside 3×$eps")
          }
        }
      }
      checkRanks(unioned, "batch-unioned")
      checkRanks(single, "single-pass")
      orders.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"),
        round(expr("percentile(price, 0.25)"), 4).as("p25"),
        round(expr("percentile(price, 0.5)"), 4).as("p50"),
        round(expr("percentile(price, 0.75)"), 4).as("p75"),
        round(expr("percentile(price, 0.95)"), 4).as("p95"))
    }),

    "mm10_audio_energy" -> ((s, dir) => {
      // AUDIO FRAME ENERGIES over REAL bytes (mm7/mm9's honesty
      // discipline on the audio leg): each doc synthesizes a
      // deterministic 16-bit mono PCM waveform, ENCODES it into an
      // actual RIFF/WAVE container, decodes the container back
      // (guarded chunk walk, LE sample decode, sign handling), frames
      // the decoded samples into 64-sample windows — tail frame
      // partial, kept — and emits per-frame energy (Σ s²) and peak,
      // the VAD/loudness-normalization front-end of an audio training
      // pipeline. Pure per-row flatMap, no shuffle. The waveform is
      // integer arithmetic (no trig), so the oracle recomputes every
      // frame of every doc exactly — any container or sample-decode
      // bug breaks the hash.
      import s.implicits._
      import operators.multimodal.AudioHeaders
      Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val n = (256 + id % 191).toInt
          val samples = Array.tabulate(n)(i =>
            (((i.toLong * i + 7L * i + id * 31L) % 4001L) - 2000L).toShort)
          val bytes = AudioHeaders.synthWavPcm16(16000, samples)
          val dec = AudioHeaders.pcm16Samples(bytes).getOrElse(
            throw new IllegalStateException(s"undecodable WAV for $id"))
          require(java.util.Arrays.equals(dec, samples),
            s"PCM round-trip drifted for $id")
          dec.grouped(64).zipWithIndex.map { case (frame, fi) =>
            val energy = frame.foldLeft(0L)((a, v) => a + v.toLong * v)
            val peak = frame.foldLeft(0L)((a, v) => math.max(a, math.abs(v.toLong)))
            (id, fi.toLong, frame.length.toLong, energy, peak)
          }
        }
        .toDF("doc_id", "frame", "n_samples", "energy", "peak")
    }),

    "mm11_wht_spectrum" -> ((s, dir) => {
      // SEQUENCY SPECTRUM over real audio bytes: mm10's decoded PCM
      // frames pushed through a 64-point Walsh–Hadamard transform —
      // the ±1-basis spectral transform (the integer-exact analogue of
      // the DFT, and the H in fast JL projections), here the cheap
      // audio fingerprint/band-energy front-end. A trig DFT could not
      // sit under the hash oracle (libm cos/sin drift between engines);
      // every WHT coefficient is integer arithmetic, so DuckDB
      // recomputes ALL of them — container decode, framing, and
      // transform are all pinned exactly. 16 low-sequency bands per
      // frame; tail frames are zero-padded by construction (absent
      // samples contribute nothing). Per-row flatMap, no shuffle.
      import s.implicits._
      import operators.multimodal.AudioHeaders
      Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val n = (256 + id % 191).toInt
          val samples = Array.tabulate(n)(i =>
            (((i.toLong * i + 7L * i + id * 31L) % 4001L) - 2000L).toShort)
          val dec = AudioHeaders.pcm16Samples(
            AudioHeaders.synthWavPcm16(16000, samples)).getOrElse(
            throw new IllegalStateException(s"undecodable WAV for $id"))
          dec.grouped(64).zipWithIndex.flatMap { case (frame, fi) =>
            (0 until 16).map { k =>
              var c = 0L
              var j = 0
              while (j < frame.length) {
                c += (if (java.lang.Integer.bitCount(k & j) % 2 == 0)
                  frame(j).toLong else -frame(j).toLong)
                j += 1
              }
              (id, fi.toLong, k.toLong, c)
            }
          }
        }
        .toDF("doc_id", "frame", "band", "coef")
    }),

    "ss18_ivf_layout" -> ((s, dir) => {
      // IVF AS A TABLE LAYOUT — the lakehouse counterpart of ss4's
      // in-memory IVF: vectors land cluster-tagged and range-partitioned
      // by list id (Similarity.ivfLayout), so each file covers a
      // contiguous cluster range and the ordinary per-file min/max
      // stats BECOME the vector index — a probe's nProbe nearest lists
      // turn into an In condition and the scan reads only intersecting
      // files. No new index structure, sound under MoR like any stats
      // prune, and the candidate narrowing happens at the SCAN — what
      // survives a 100 TB corpus. Gates: the probe scans ≤ half the
      // files; exact search within the pruned candidates reaches ≥0.9
      // mean recall of the full brute force. Emits the brute-force
      // truth (ANN discipline: approximation gated in-query, oracle
      // exact).
      import graft.sources.ManifestTable
      import graft.conditions.{Condition, Op}
      import operators.similarity.Similarity
      val emb = Tables(s, dir, "embeddings")
      val (tagged, cents) = Similarity.ivfLayout(emb, "vec_id",
        "embedding", nlist = 32, replicas = 3)
      val t = java.nio.file.Files
        .createTempDirectory("graft-ss18-").toString + "/t"
      ManifestTable.overwrite(
        tagged.repartitionByRange(32, col("ivf_cluster")), t)
      val qIds = Seq(3L, 100L, 203L)
      val queries = emb.where(col("vec_id").isin(qIds: _*))
      val lists = Similarity
        .ivfProbes(cents, queries, "vec_id", "embedding", nProbe = 5)
        .select(explode(col("probe_clusters")).as("l")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val conds = Seq(Condition("ivf_cluster", Op.In, lists))
      val total = ManifestTable.dataFiles(t).size
      val scanned = ManifestTable.statsSurvivors(t, conds).size
      require(scanned * 2 <= total,
        s"cluster-range layout pruned nothing: scans $scanned of $total")
      val cand = ManifestTable.readWhere(s, t, conds)
        .dropDuplicates("vec_id") // multi-assignment replicas
      val approx = Similarity.knnBrute(cand, queries, "vec_id", "embedding",
        k = 5)
      val truth = Similarity.knnBrute(emb, queries, "vec_id", "embedding",
        k = 5)
      Similarity.recallGate(approx, truth, 0.9)
      truth
    }),

    "mm9_patchify" -> ((s, dir) => {
      // ViT-STYLE PATCH EXTRACTION over the REAL codec (mm7's honesty
      // discipline): the multimodal training-prep step that turns an
      // image into the fixed-size patch grid a vision transformer
      // consumes. Each doc synthesizes its id-arithmetic 24-bit BMP,
      // ENCODES and DECODES the actual bytes (stride padding,
      // bottom-up rows, BGR order all on the path), then tiles the
      // decoded raster into aligned 4×4 patches and emits per-patch
      // channel sums — one row per patch, the shard-packable unit.
      // Distribution shape: pure per-row flatMap, no shuffle until the
      // consumer groups patches. The oracle recomputes every patch of
      // every image arithmetically in SQL, so any codec or tiling bug
      // (padding, row order, channel swap, off-by-one at the grid
      // edge) breaks the hash.
      import s.implicits._
      import operators.multimodal.BmpCodec
      Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val w = (4 + id % 13).toInt
          val h = (4 + (id * 3) % 11).toInt
          val px = Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            val r = ((x * 7 + y * 13 + id) % 256).toInt
            val g = ((x * 3 + y * 5 + id * 11) % 256).toInt
            val b = ((x + y * 2 + id * 17) % 256).toInt
            (r << 16) | (g << 8) | b
          }
          val dec = BmpCodec.decode(BmpCodec.encode(w, h, px)).getOrElse(
            throw new IllegalStateException(s"undecodable BMP for $id"))
          require(java.util.Arrays.equals(dec.pixels, px),
            s"decode round-trip drifted for $id")
          for (py <- 0 until h / 4; pxi <- 0 until w / 4) yield {
            var sr = 0L; var sg = 0L; var sb = 0L
            var dy = 0
            while (dy < 4) {
              var dx = 0
              while (dx < 4) {
                val p = dec.pixel(pxi * 4 + dx, py * 4 + dy)
                sr += (p >> 16) & 0xFF
                sg += (p >> 8) & 0xFF
                sb += p & 0xFF
                dx += 1
              }
              dy += 1
            }
            (id, pxi.toLong, py.toLong, sr, sg, sb)
          }
        }
        .toDF("doc_id", "patch_x", "patch_y", "sum_r", "sum_g", "sum_b")
    }),

    "q136_search_api" -> ((s, dir) => {
      // SIMILARITY SEARCH AS A SERVICE — the matching endpoint of an
      // HR-tech platform (score a profile against a corpus) on the
      // embedded HTTP layer: POST /search/{wh}/{res} with a raw vector
      // returns exact brute-force top-k over the resource's embedding
      // column (one corpus scan, query broadcast; a high-QPS
      // deployment swaps in a persisted VectorIndexStore index behind
      // the same contract). The gate round-trips REAL HTTP for two
      // query vectors and requires the service's hits to equal the
      // in-process exact search id-for-id; the emitted truth goes
      // under the ss1-style oracle.
      import graft.sources.{Http, ParquetWarehouse, WarehouseMeta, WarehouseRegistry}
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmts: Formats = DefaultFormats
      WarehouseRegistry.clear()
      WarehouseRegistry.register(
        WarehouseMeta("emblake", "embedding lake", "lake", "parquet"),
        () => ParquetWarehouse("emblake", dir))
      val emb = Tables(s, dir, "embeddings")
      val qIds = Seq(7L, 42L)
      val queries = emb.where(col("vec_id").isin(qIds: _*))
      val truth = operators.similarity.Similarity
        .knnBrute(emb, queries, "vec_id", "embedding", k = 5)
      val api = ApiServer.start(s)
      try {
        val local = truth.collect()
          .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
        queries.select(col("vec_id"), col("embedding")).collect()
          .foreach { row =>
            val qid = row.getLong(0)
            val vec = row.getSeq[Float](1).map(_.toDouble)
            val resp = Http.post(
              s"${api.baseUrl}/search/emblake/embeddings", Map.empty,
              s"""{"vector":[${vec.mkString(",")}],"k":5}""",
              "application/json")
            val hits = (JsonMethods.parse(resp) \ "hits") match {
              case JArray(hs) => hs.map(h =>
                ((h \ "rk").extract[Int], (h \ "id").extract[Long]))
              case _ => Nil
            }
            require(hits.size == 5, s"expected 5 hits, got $resp")
            // the service's corpus CONTAINS the query row (cosine 1 at
            // rank 1); the local truth self-excludes — drop the self
            // hit and the rankings must agree id-for-id
            val served = hits.sortBy(_._1).map(_._2)
              .filterNot(_ == qid).take(4)
            val want = (1 to 4).map(rk => local((qid, rk)))
            require(served == want,
              s"service ranking $served != local $want for query $qid")
          }
      } finally api.stop()
      truth
    }),

    "q135_maintenance_plan" -> ((s, dir) => {
      // MAINTENANCE ADVISOR (ManifestTable.maintenancePlan): what the
      // nightly job should run, decided from METADATA alone — manifest
      // + sidecar listings, no data scan. Under-filled files →
      // compact_incremental (the exact set it would fold), MoR ledger
      // → fold_deletes, versions past retention → expire, and files
      // the EXISTING sidecar indexes have not covered → per-column
      // reindex rows (indexes the operator never built are policy, not
      // maintenance — no row). The oracle pins the plan's exact
      // numbers, which means it pins the pipeline's whole file/ledger/
      // version accounting: any drift in staging or commit behavior
      // changes a metric and breaks the hash.
      import graft.sources.{BloomIndex, ManifestTable}
      val tmp = java.nio.file.Files.createTempDirectory("graft-q135-").toString
      val t = s"$tmp/t"
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      ManifestTable.overwrite(c.where(col("c_custkey") % 3 === 0)
        .coalesce(1), t) // v1: one file
      ManifestTable.append(c.where(col("c_custkey") % 3 === 1)
        .coalesce(1), t) // v2: one file
      ManifestTable.mergeMoR(s, t,
        c.where(col("c_custkey") % 13 === 0).withColumn("op", lit("D"))
          .unionByName(c.where(col("c_custkey") === 2)
            .withColumn("c_name", lit("UPSERTED"))
            .withColumn("op", lit("U")))
          .coalesce(1), // one partition → exactly one staged upsert file
        Seq("c_custkey"),
        deleteWhen = Some(col("op") === "D")) // v3: 1 delete + 1 upsert file
      BloomIndex.build(s, t, Seq("c_custkey")) // covers the 3 files so far
      ManifestTable.append(c.where(col("c_custkey") % 3 === 2)
        .coalesce(1), t) // v4: one UNINDEXED file
      ManifestTable.maintenancePlan(s, t)
    }),

    "q134_describe_detail" -> ((s, dir) => {
      // DESCRIBE DETAIL (Delta's), from plain SQL via the graft_detail
      // TVF: the current version's one-row summary — files, delete
      // ledger, physical bytes, recorded vs LIVE rows (the MoR ledger's
      // effect, straight from manifest metadata), and the table's
      // contract (constraints, merge keys) — the operator's first look
      // at an unfamiliar table. Gates: physical size positive, file
      // count matches the layout; the metadata-derived row numbers are
      // REPRODUCIBLE under the oracle (live_rows = recorded minus the
      // delete ledger's keys, no scan anywhere).
      import graft.sources.ManifestTable
      plans.GraftExtensions.register(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q134-").toString
      val t = s"$tmp/t"
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      ManifestTable.overwrite(
        customer.repartition(4, col("c_custkey")), t) // v1: 4 data files
      ManifestTable.mergeMoR(s, t,
        customer.where(col("c_custkey") % 13 === 0)
          .withColumn("op", lit("D")),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D")) // v2
      ManifestTable.setConstraints(s, t, Seq("c_custkey > 0")) // v3
      val d = s.sql(s"SELECT * FROM graft_detail('$t')")
      val r = d.head()
      require(r.getAs[Long]("size_bytes") > 0L, "physical size missing")
      require(r.getAs[Int]("n_files") >= 4, "layout files missing")
      d.select(col("version"),
        col("n_delete_files").cast("long").as("n_delete_files"),
        col("recorded_rows"), col("live_rows"),
        col("n_constraints").cast("long").as("n_constraints"),
        col("merge_keys"))
    }),

    "q133_generated" -> ((s, dir) => {
      // GENERATED COLUMNS (Delta's, on the manifest format): a stored
      // (name, expression) contract — a write absent the column
      // COMPUTES it inside the write scan, a write carrying it must
      // MATCH row-for-row or aborts mid-scan (the CHECK-constraint
      // machinery's sibling; constraints may reference generated
      // columns). Declaration is a metadata-only commit validating
      // existing rows fail-fast. Gates: computed and supplied paths
      // both land; a wrong supplied value fails loudly; declaring over
      // violating rows fails; the definition survives OPTIMIZE; the
      // full derived table is REPRODUCIBLE under the oracle.
      import graft.sources.ManifestTable
      val tmp = java.nio.file.Files.createTempDirectory("graft-q133-").toString
      val t = s"$tmp/t"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val gen = Seq("bucket" -> "o_orderkey % 16")
      ManifestTable.overwrite(orders.where(col("o_orderkey") % 3 === 0)
        .withColumn("bucket", expr("o_orderkey % 16")), t)
      // declaring over violating rows fails loudly
      val bad = scala.util.Try(ManifestTable.setGeneratedColumns(s, t,
        Seq("bucket" -> "o_orderkey % 16 + 1")))
      require(bad.isFailure, "declaration must validate existing rows")
      ManifestTable.setGeneratedColumns(s, t, gen)
      require(ManifestTable.generatedColumns(t) == gen)
      // absent column: computed in the write scan
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 1), t)
      // supplied and correct: validated through
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 2)
        .withColumn("bucket", expr("o_orderkey % 16")), t)
      // supplied and WRONG: aborts, nothing lands
      val vBefore = ManifestTable.versions(t).size
      val wrong = scala.util.Try(ManifestTable.append(
        orders.where(col("o_orderkey") % 3 === 2)
          .withColumn("bucket", expr("o_orderkey % 16 + 1")), t))
      require(wrong.isFailure &&
        ManifestTable.versions(t).size == vBefore,
        "a mismatched generated value must abort with nothing landed")
      // the definition is table metadata: OPTIMIZE carries it
      ManifestTable.compactIncremental(s, t)
      require(ManifestTable.generatedColumns(t) == gen,
        "generated definitions lost by compaction")
      ManifestTable.append(orders.where(col("o_orderkey") % 11 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L), t)
      ManifestTable.read(s, t)
        .select(col("o_orderkey"), col("o_custkey"), col("bucket"))
    }),

    "q132_identity" -> ((s, dir) => {
      // IDENTITY COLUMNS (ManifestTable.appendIdentity) — warehouse
      // surrogate keys: each append assigns the next contiguous ids,
      // the high-water mark read from per-file MAX STATS (metadata, no
      // scan), assignment deterministic via sorted zipWithIndex (a
      // global window would single-task the write). Gates: ids are
      // unique and contiguous 1..N across two commits; the second
      // commit continues exactly where the first stopped; supplying
      // the id column yourself fails loudly. The full keyed table goes
      // under the oracle — the ids are REPRODUCIBLE, not just valid.
      import graft.sources.ManifestTable
      val tmp = java.nio.file.Files.createTempDirectory("graft-q132-").toString
      val t = s"$tmp/t"
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      ManifestTable.appendIdentity(s, c.where(col("c_custkey") % 2 === 0),
        t, "sk", Seq("c_custkey"))
      ManifestTable.appendIdentity(s, c.where(col("c_custkey") % 2 === 1),
        t, "sk", Seq("c_custkey"))
      val err = scala.util.Try(ManifestTable.appendIdentity(s,
        ManifestTable.read(s, t).limit(1), t, "sk", Seq("c_custkey")))
      require(err.isFailure &&
        err.failed.get.getMessage.contains("assigned"),
        "supplying the identity column must fail loudly")
      val table = ManifestTable.read(s, t)
      val n = table.count()
      require(table.select("sk").distinct().count() == n,
        "identity values must be unique")
      val mm = table.agg(min(col("sk")), max(col("sk"))).head()
      require(mm.getLong(0) == 1L && mm.getLong(1) == n,
        "identity values must be contiguous from 1")
      val nEven = c.where(col("c_custkey") % 2 === 0).count()
      require(table.where(col("c_custkey") % 2 === 0)
          .agg(max(col("sk"))).head().getLong(0) == nEven,
        "the second commit must continue at the first's high-water mark")
      table.select(col("sk"), col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    }),

    "q131_stream_starting_ts" -> ((s, dir) => {
      // startingTimestamp (Delta's) on the table stream: a consumer
      // initialized from a WALL-CLOCK instant — "give me every change
      // since last night's sync" — without knowing version numbers.
      // Resolved once at stream start to the greatest version strictly
      // before the instant (the manifest's commit_ts chain, the same
      // clock TIMESTAMP-AS-OF reads use). Gates: the three commits
      // carry strictly increasing wall times (the fixture's sleeps are
      // load-proof: we require it rather than assume it); starting at
      // v2's exact commit instant streams v2 and v3 but never v1; the
      // emitted aggregate goes under the oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q131-").toString
      val src = s"$tmp/src"; val out = s"$tmp/out"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      (0 to 2).foreach { k =>
        ManifestTable.append(orders.where(col("o_orderkey") % 3 === k),
          src, commitId = Some(s"in-$k"))
        Thread.sleep(20) // distinct commit wall times
      }
      val ts = (1L to 3L).map(v => ManifestTable.commitTimeMillis(src, v))
      require(ts(0) < ts(1) && ts(1) < ts(2),
        s"commit clock did not advance: $ts — fixture invalid")
      val s2 = streamSession(s)
      s2.readStream.format("graft-table")
        .option("path", src)
        .option("startingTimestamp", ts(1).toString)
        .load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty)
            ManifestTable.append(b.toDF(), out, commitId = Some(s"o-$id"))
          ()
        }
        .start().awaitTermination()
      val sink = ManifestTable.read(s, out)
      val want = orders.where(col("o_orderkey") % 3 =!= 0)
      require(sameRows(sink, want),
        "startingTimestamp must stream exactly the commits at/after it")
      sink.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    }),

    "q130_stream_optimize" -> ((s, dir) => {
      // STREAMING ACROSS OPTIMIZE — Delta's dataChange contract on this
      // format: maintenance commits (compaction / ledger folds) mark
      // dataChange=false and a tailing stream SKIPS them instead of
      // throwing or re-emitting the rows they rewrote; real rewrites
      // keep failing loudly. A table takes two appends, an incremental
      // OPTIMIZE lands mid-stream, another append follows; the tail
      // drains one commit per micro-batch. Gates: the maintenance
      // version contributes zero rows (its batch is empty); the sink
      // holds exactly the source rows once (the compaction neither
      // duplicated nor lost a row); the maintenance commit IS flagged
      // in the manifest. Emits the sink's aggregate under the oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q130-").toString
      val src = s"$tmp/src"; val out = s"$tmp/out"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 0), src)
      // offset the stream PAST v1 first so the compaction lands
      // mid-tail, not before the initial snapshot
      val s2 = streamSession(s)
      def drainOnce(): Unit = {
        s2.readStream.format("graft-table")
          .option("path", src).option("maxVersionsPerTrigger", "1").load()
          .writeStream.option("checkpointLocation", s"$tmp/ck")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], id: Long) =>
            if (!b.isEmpty)
              ManifestTable.append(b.toDF(), out, commitId = Some(s"o-$id"))
            ()
          }
          .start().awaitTermination()
      }
      drainOnce() // consumes v1
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 1), src)
      val vc = ManifestTable.compactIncremental(s, src)
      require(vc == 3L, s"expected the OPTIMIZE to commit v3, got $vc")
      require(!ManifestTable.history(s, src)
          .where(col("version") === 3L).isEmpty,
        "maintenance commit missing from history")
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 2), src)
      drainOnce() // consumes v2 (append), v3 (skipped), v4 (append)
      val sink = ManifestTable.read(s, out)
      require(sink.count() == orders.count() &&
        sameRows(sink, orders),
        "tailing across OPTIMIZE must deliver exactly-once")
      require(ManifestTable.versions(out).size == 3,
        "the maintenance version must contribute NO sink commit")
      sink.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    }),

    "q129_stream_txn_sink" -> ((s, dir) => {
      // EXACTLY-ONCE MULTI-TABLE STREAMING SINK — q112's table stream
      // composed with q109's atomic transactions: every micro-batch
      // commits its fact rows AND their per-customer summary in ONE
      // commitTxn, idempotent via the batch-derived txn id, so a
      // replayed batch (checkpoint recovery) re-lands as a no-op and a
      // crash between tables is recoverable instead of torn — the
      // foreachBatch answer to "my sink is two tables that must never
      // diverge". Gates: both tables carry one version per streamed
      // batch with IDENTICAL commit-id sequences (lockstep pairing,
      // straight from DESCRIBE HISTORY); the fact table holds exactly
      // the source rows; the folded summary equals a full recompute.
      import graft.sources.ManifestTable
      import graft.sources.ManifestTable.TxnWrite
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q129-").toString
      val src = s"$tmp/src"; val fact = s"$tmp/fact"; val summ = s"$tmp/sum"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      (0 to 2).foreach { k =>
        ManifestTable.append(orders.where(col("o_orderkey") % 3 === k),
          src, commitId = Some(s"in-$k"))
        ()
      }
      val s2 = streamSession(s)
      s2.readStream.format("graft-table")
        .option("path", src)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty) {
            import org.apache.spark.sql.functions.{col => c, lit => l,
              count => cnt, sum => sm}
            val f = b.toDF()
            val part = f.groupBy("o_custkey")
              .agg(cnt(l(1)).as("n_orders"),
                sm(c("o_totalprice").cast(
                  org.apache.spark.sql.types.DecimalType(18, 4)))
                  .as("revenue"))
              .withColumn("batch", l(id))
            ManifestTable.commitTxn(
              Seq(TxnWrite(f, fact), TxnWrite(part, summ)),
              Some(s"sink-$id"))
            ()
          }
          ()
        }
        .start().awaitTermination()
      def commitIds(p: String): Seq[String] =
        ManifestTable.history(s, p).orderBy("version")
          .select("commit_id").collect().map(_.getString(0)).toSeq
      require(commitIds(fact) == Seq("sink-0", "sink-1", "sink-2") &&
        commitIds(fact) == commitIds(summ),
        "fact and summary must land in lockstep, one txn per batch")
      val factDf = ManifestTable.read(s, fact)
      require(sameRows(factDf, orders),
        "the fact table must hold exactly the source rows, once")
      ManifestTable.read(s, summ)
        .groupBy("o_custkey")
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("revenue")).cast("double").as("revenue"))
    }),

    "q128_total_erasure" -> ((s, dir) => {
      // TOTAL ERASURE — the composition q88 (table-side hard delete),
      // q127 (feed redaction), and version expiry exist for, run in
      // the one order that leaves no window: redact the live feed
      // FIRST (subject attributes must not linger unredacted while the
      // retention window drains), then MoR-delete + fold + expire +
      // vacuum. The gate then walks EVERY surviving parquet byte under
      // the table root — data files, change files, whatever else is
      // on disk — and requires zero subject rows in data surfaces and
      // zero subject attributes anywhere (redacted tombstone KEYS are
      // retained by design: consumers need the deletion events).
      // Sidecar hygiene rides the same walk: surviving index files
      // belong only to live data files, which hold no subject rows, so
      // no index derives from subject data. The subject set crosses
      // original, updated, deleted, AND synthesized (+10M/+20M) keys.
      import graft.sources.{BloomIndex, ManifestTable, TrigramIndex}
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q128-").toString
      val t = s"$tmp/t"
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      ManifestTable.overwrite(customer, t) // v1
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      ManifestTable.merge(s, t,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D")) // v2
      ManifestTable.materializeCdf(s, t, 2L)
      ManifestTable.append(customer.where(col("c_custkey") % 11 === 7)
        .withColumn("c_custkey", col("c_custkey") + 20000000L), t) // v3
      BloomIndex.build(s, t, Seq("c_custkey"))
      TrigramIndex.build(s, t, "c_name")
      // the subjects: every live key ≡ 0 (mod 9) — original, updated,
      // and synthesized ranges alike
      val subjectPred = col("c_custkey") % 9 === 0
      val forget = ManifestTable.read(s, t).where(subjectPred)
        .select("c_custkey").collect().map(_.getLong(0)).toSeq
      require(forget.nonEmpty)
      val attrs = Seq("c_name", "c_acctbal")
      // 1. redact the live feed first — no unredacted-lingering window
      require(ManifestTable.redactCdf(s, t, "c_custkey", forget, attrs) > 0)
      // 2. table-side hard delete (v4), its own change file redacted too
      val v4 = ManifestTable.mergeMoR(s, t,
        ManifestTable.read(s, t).where(subjectPred).withColumn("op", lit("D")),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D"))
      ManifestTable.materializeCdf(s, t, v4)
      require(ManifestTable.redactCdf(s, t, "c_custkey", forget, attrs) > 0,
        "the erasure commit's own preimages must be redactable")
      // 3. fold the DV ledger, expire history, vacuum
      ManifestTable.compactDeletes(s, t)
      val (droppedVs, freed) = ManifestTable.expire(t, keepLast = 1,
        vacuumMinAgeMs = 0L)
      require(droppedVs.nonEmpty && freed.nonEmpty,
        "erasure pipeline freed nothing — gate vacuous")
      // 4. re-index the survivors; sidecars must map onto live files only
      BloomIndex.build(s, t, Seq("c_custkey"))
      TrigramIndex.build(s, t, "c_name")
      val live = ManifestTable.dataFiles(t).toSet
      require(BloomIndex.indexedFiles(t, "c_custkey").subsetOf(live) &&
        TrigramIndex.indexedFiles(t, "c_name").subsetOf(live),
        "an index sidecar outlived its data file")
      // 5. the walk: every surviving parquet byte under the root
      val allParquet = scala.util.Using.resource(java.nio.file.Files.walk(
          java.nio.file.Paths.get(t))) { st =>
        st.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq
      }
      require(allParquet.nonEmpty, "no surviving files — gate vacuous")
      // the walk stays per-file EXACT but batches the scan: files group
      // by (surface, column set) — schema inference is a driver-side
      // footer read — and each group is ONE job instead of one per file
      allParquet.groupBy(p =>
          (p.contains("_change_data"), s.read.parquet(p).columns.toSeq))
        .foreach { case ((isCdf, colsOf), paths) =>
          if (colsOf.contains("c_custkey")) {
            val subj = s.read.parquet(paths: _*)
              .where(col("c_custkey").isin(forget: _*))
            if (isCdf)
              require(subj.where(attrs.map(col(_).isNotNull)
                  .reduce(_ || _)).isEmpty,
                s"subject attributes survive in change files " +
                  paths.mkString(", "))
            else require(subj.isEmpty,
              s"subject rows survive in ${paths.mkString(", ")}")
          }
        }
      ManifestTable.read(s, t)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("c_acctbal"))
    }),

    "q127_cdf_redaction" -> ((s, dir) => {
      // CHANGE-FEED REDACTION — the compliance gap the CDC story opens
      // and q88's table-side erasure cannot close: a merge commit's
      // _change_data file persists FULL before/after images (delete
      // preimages included), so a forgotten subject's attributes
      // survive under _change_data after data/ is scrubbed. Dropping
      // rows would break replay (consumers must still see tombstones
      // and version structure), so ManifestTable.redactCdf NULLs the
      // subject's attribute columns in place, atomically, keeping key
      // + _change_type + _commit_version. Gates: the gap is REAL
      // before (subject attrs present, delete preimages included);
      // redaction is idempotent; after, zero subject attributes remain
      // in any change file while row counts and every OTHER row are
      // byte-identical; a from-scratch streamed replay still drains,
      // and its reconstruction — subjects' surviving rows now
      // attribute-less — goes under the oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q127-").toString
      val t = s"$tmp/t"
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      ManifestTable.overwrite(customer, t) // v1
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      ManifestTable.merge(s, t,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D")) // v2
      ManifestTable.materializeCdf(s, t, 2L)
      ManifestTable.append(customer.where(col("c_custkey") % 11 === 7)
        .withColumn("c_custkey", col("c_custkey") + 20000000L), t) // v3
      // the subjects: v2-touched keys divisible by 5
      val forget = customer.where(col("c_custkey") % 5 === 0 &&
          (col("c_custkey") % 13 === 0 || col("c_custkey") % 7 === 0))
        .select("c_custkey").collect().map(_.getLong(0)).toSeq
      require(forget.nonEmpty)
      val cdfPath = ManifestTable.cdfFile(t, 2L).toString
      val beforeDf = s.read.parquet(cdfPath)
      val beforeRows = beforeDf.collect().toSeq
      val hit = col("c_custkey").isin(forget: _*)
      require(beforeDf.where(hit && col("c_name").isNotNull).count() > 0,
        "gate vacuous: no subject attributes in the change file")
      require(beforeDf.where(hit &&
          col("_change_type") === "delete").count() > 0,
        "the subject set must include deleted keys — their preimages " +
          "are exactly what table-side erasure cannot reach")
      val attrs = Seq("c_name", "c_acctbal")
      val n = ManifestTable.redactCdf(s, t, "c_custkey", forget, attrs)
      require(n > 0, "redaction touched nothing")
      require(ManifestTable.redactCdf(s, t, "c_custkey", forget, attrs) == 0,
        "redaction must be idempotent")
      val after = s.read.parquet(cdfPath)
      require(after.where(hit && (col("c_name").isNotNull ||
          col("c_acctbal").isNotNull)).count() == 0,
        "subject attributes survived redaction")
      require(after.count() == beforeRows.size,
        "redaction must preserve replay structure (row counts)")
      val beforeOthers = s.createDataFrame(
        beforeRows.filterNot(r =>
          forget.contains(r.getAs[Long]("c_custkey"))).asJava,
        beforeDf.schema)
      val afterOthers = after.where(!hit)
      require(sameRows(afterOthers, beforeOthers),
        "redaction altered non-subject rows")
      // from-scratch replay over the redacted feed
      val out = s"$tmp/feed"
      val s2 = streamSession(s)
      s2.readStream.format("graft-table")
        .option("path", t).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty)
            ManifestTable.append(b.toDF(), out, commitId = Some(s"c-$id"))
          ()
        }
        .start().awaitTermination()
      val feed = ManifestTable.read(s, out)
      val w = Window.partitionBy("c_custkey").orderBy(
        col("_commit_version").desc,
        when(col("_change_type") === "update_preimage", 1).otherwise(0))
      feed.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1 &&
          col("_change_type").isin("insert", "update_postimage"))
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("c_acctbal"))
    }),

    "q126_range_frame" -> ((s, dir) => {
      // TIME-RANGE window frames — RANGE BETWEEN over the actual time
      // axis (q31's suite is ROWS/rank-style): each event sees its
      // user's trailing 7 DAYS, however many events that is — the
      // rolling-activity shape (rate limits, trailing spend, velocity
      // features) that row-count frames cannot express. One sort per
      // user partition serves both aggregates; ties (RANGE peers) are
      // included by both engines by definition, and the sum runs over
      // DECIMAL so the frame's accumulation order cannot smear the
      // hash.
      val week = 7L * 86400L * 1000000000L
      val w = Window.partitionBy("user_id").orderBy(col("ts"))
        .rangeBetween(-week, Window.currentRow)
      Tables.eventsNanos(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"),
          count(lit(1)).over(w).as("n_7d"),
          sum(col("value").cast(dec)).over(w).cast("double").as("sum_7d"))
    }),

    "q125_trigram_skip" -> ((s, dir) => {
      // SUBSTRING file-skipping (sources/TrigramIndex.scala — pg_trgm /
      // ClickHouse ngrambf_v1 on the manifest format): `LIKE '%term%'`
      // is the filter family neither min/max stats nor the value-level
      // Bloom index can touch. Per-file Bloom sidecars over distinct
      // character trigrams prove "no value here contains term" when ANY
      // probe trigram is absent — no false negatives by construction,
      // false positives cost a scanned file, never a wrong row. The
      // win case is file-clustered text (URLs by crawl shard): docs
      // land partitioned by source, so a source-anchored URL fragment
      // localizes to the files holding that source. Gates: min/max
      // stats prune nothing for the probe; the trigram index scans
      // ≤ half the files; build is incremental; the pruned read equals
      // the plain contains filter exactly (and is non-empty).
      import graft.sources.{ManifestTable, TrigramIndex}
      import graft.conditions.{Condition, Op}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q125-").toString + "/t"
      val docs = Tables(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/doc/"), col("doc_id").cast("string")))
        .select("doc_id", "source", "url")
      ManifestTable.overwrite(docs.repartition(8, col("source")), tmp)
      val built = TrigramIndex.build(s, tmp, "url")
      require(built > 0, "trigram build indexed nothing")
      require(TrigramIndex.build(s, tmp, "url") == 0,
        "trigram build is not incremental (re-indexed existing files)")
      val term = "src7.example"
      val all = ManifestTable.dataFiles(tmp)
      val statsKept = ManifestTable.statsSurvivors(tmp,
        Seq(Condition("url", Op.Contains, term)))
      require(statsKept.size == all.size,
        "min/max stats must be blind to a substring probe")
      val survivors = TrigramIndex.pruneFiles(tmp, "url", term)
      require(survivors.size * 2 <= all.size,
        s"trigram index kept ${survivors.size} of ${all.size} files " +
          s"for a source-anchored probe")
      val pruned = ManifestTable.readWhereContains(s, tmp, "url", term)
      val plain = ManifestTable.read(s, tmp)
        .where(col("url").contains(term))
      require(sameRows(pruned, plain),
        "trigram-pruned read drifted from the plain filter")
      require(pruned.count() > 0, "the probe term must match real rows")
      pruned.select(col("doc_id"), col("source"), col("url"))
    }),

    "q124_seq_match" -> ((s, dir) => {
      // PATTERN SPANS — q29's funnel generalized to a step chain with
      // per-step time constraints, emitting the matched span
      // (operators/SequenceMatch, greedy-earliest semantics: each step
      // binds the earliest qualifying event after the previous
      // binding, within the gap). signup → click ≤7d → purchase ≤7d
      // per user; one filtered pass + co-keyed join + partial-agg min
      // per step, accumulator shrinking monotonically — no window sort
      // over the full stream, no per-key event lists.
      import operators.SequenceMatch.{Step, earliest}
      val week = 7L * 86400L * 1000000000L
      earliest(Tables.eventsNanos(s, dir), "user_id", "ts", Seq(
        Step("signup", col("event_type") === "signup"),
        Step("click", col("event_type") === "click", Some(week)),
        Step("purchase", col("event_type") === "purchase", Some(week))))
    }),

    "q122_theta_overlap" -> ((s, dir) => {
      // DISTINCT-COUNT SET ALGEBRA — the overlap question HLL cannot
      // answer: |A∩B| across audience segments from per-segment theta
      // sketches (plans/ThetaSketch.scala), built in ONE pass and
      // intersected pairwise in O(k) — exact would re-shuffle raw user
      // ids once per segment pair. Two distributed layers exercise
      // both aggs: per-(segment, bucket) sketches union to segment
      // level via graft_theta_union (the sketch-table shape), and
      // graft_theta_intersect_bounds reads |A∩B| with the library's
      // own 3-σ confidence interval. Gates: every segment's |A| (a
      // sketch self-intersection) and every pair's |A∩B| must contain
      // the exact count within the returned [lb, ub]. Emits the exact
      // overlap matrix (sketch gated in-query, oracle exact).
      plans.GraftExtensions.register(s)
      val ev = Tables.eventsNanos(s, dir)
        .select(col("user_id"), col("event_type"))
      val bucketed = ev.withColumn("b", col("user_id") % 4)
        .groupBy("event_type", "b")
        .agg(expr("graft_theta_agg(user_id)").as("sk"))
      val sk = bucketed.groupBy("event_type")
        .agg(expr("graft_theta_union(sk)").as("sk"))
      val d = ev.distinct()
      // per-segment cardinality gate: A∩A = A, so the self-intersection
      // bounds must hold the exact distinct count
      val selfChecked = sk
        .select(col("event_type"),
          expr("graft_theta_intersect_bounds(sk, sk)").as("bnd"))
        .join(d.groupBy("event_type").agg(count(lit(1)).as("n")),
          "event_type")
        .collect()
      require(selfChecked.nonEmpty)
      selfChecked.foreach { r =>
        val bnd = r.getSeq[Double](r.fieldIndex("bnd"))
        val n = r.getAs[Long]("n").toDouble
        require(bnd(0) <= n && n <= bnd(2),
          s"|${r.get(0)}| = $n outside sketch bounds [${bnd(0)}, ${bnd(2)}]")
      }
      val est = sk.as("a").join(sk.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("seg_a"),
          col("b.event_type").as("seg_b"),
          expr("graft_theta_intersect_bounds(a.sk, b.sk)").as("bnd"))
      val exact = d.as("x").join(d.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("seg_a"),
          col("y.event_type").as("seg_b"))
        .agg(count(lit(1)).as("n_both"))
      val joined = est.join(exact, Seq("seg_a", "seg_b"), "left")
        .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
      val rows = joined.collect()
      require(rows.nonEmpty)
      rows.foreach { r =>
        val bnd = r.getSeq[Double](r.fieldIndex("bnd"))
        val n = r.getAs[Long]("n_both").toDouble
        require(bnd(0) <= n && n <= bnd(2),
          s"overlap ${r.get(0)}∩${r.get(1)} = $n outside " +
            s"sketch bounds [${bnd(0)}, ${bnd(2)}]")
      }
      joined.select(col("seg_a"), col("seg_b"), col("n_both"))
    }),

    "q123_freq_tokens" -> ((s, dir) => {
      // HEAVY HITTERS over the token stream — Misra-Gries
      // (plans/FreqSketch.scala): dominant tokens of a corpus in one
      // pass with O(maxMapSize) state per partition and a lossless
      // merge, where exact over 100 TB shuffles every token. The
      // sketch's guarantees are one-sided and checkable, so the gates
      // are contracts, not tolerances: stream length through all
      // partial merges is EXACT; with NO_FALSE_NEGATIVES the returned
      // set is a superset of the true ≥threshold tokens; every
      // returned item's exact count sits in its [lb, ub]. Emits the
      // exact heavy-token table (threshold = 0.5% of the stream).
      plans.GraftExtensions.register(s)
      val toks = Tables(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .where(col("token") =!= "")
      val skBytes = toks.agg(expr("graft_freq_agg(token)"))
        .head.getAs[Array[Byte]](0)
      val total = plans.FreqSketchFns.streamLength(skBytes)
      val exact = toks.groupBy("token").agg(count(lit(1)).as("n"))
      val exactTotal = exact.agg(sum(col("n"))).head.getLong(0)
      require(total == exactTotal,
        s"stream length drifted through merges: $total vs $exactTotal")
      val threshold = math.max(1L, total / 200L)
      val heavy = plans.FreqSketchFns.frequentItems(skBytes, threshold)
      val trueHeavy = exact.where(col("n") >= threshold)
      val returned = heavy.map(_._1).toSet
      val missingHeavy = trueHeavy.select("token").collect()
        .map(_.getString(0)).filterNot(returned.contains)
      require(missingHeavy.isEmpty,
        s"NO_FALSE_NEGATIVES violated: missing ${missingHeavy.toSeq}")
      val exactOfReturned = exact
        .where(col("token").isin(heavy.map(_._1): _*))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      heavy.foreach { case (item, _, lb, ub) =>
        val n = exactOfReturned.getOrElse(item, 0L)
        require(lb <= n && n <= ub,
          s"'$item' exact count $n outside sketch bounds [$lb, $ub]")
      }
      trueHeavy
    }),

    "q102_bloom_skip" -> ((s, dir) => {
      // PER-FILE BLOOM INDEX under the gate (sources/BloomIndex.scala):
      // customers land hash-scattered across 8 files (repartition by
      // name), so every file's c_custkey min/max spans the whole domain
      // and stats pruning keeps ALL files for a point lookup — the
      // blind spot of min/max skipping. The Bloom sidecars prove most
      // files cannot contain the probed keys; the gate asserts stats
      // alone prunes nothing while stats+Bloom scans at most half, and
      // the pruned read still matches the plain SQL filter exactly
      // (no false negatives by construction).
      import graft.sources.{BloomIndex, ManifestTable}
      import graft.conditions.{Condition, Op}
      val t = java.nio.file.Files
        .createTempDirectory("graft-q102-").toString + "/t"
      ManifestTable.overwrite(
        Tables(s, dir, "customer").repartition(8, col("c_name")), t)
      val nIndexed = BloomIndex.build(s, t, Seq("c_custkey"))
      require(nIndexed > 0, "bloom build indexed nothing")
      require(BloomIndex.build(s, t, Seq("c_custkey")) == 0,
        "bloom build is not incremental (re-indexed existing files)")
      val keys = Seq(11L, 222L, 1333L)
      val conds = Seq(Condition("c_custkey", Op.In, keys))
      val statsFiles = ManifestTable.statsSurvivors(t, conds)
      val bloomFiles = BloomIndex.pruneFiles(t, conds)
      require(statsFiles.size == ManifestTable.dataFiles(t).size,
        s"hash-scattered layout should defeat min/max pruning " +
          s"(stats kept ${statsFiles.size})")
      require(bloomFiles.size * 2 <= statsFiles.size,
        s"bloom index pruned only ${statsFiles.size - bloomFiles.size} of " +
          s"${statsFiles.size} files for a 3-key probe")
      ManifestTable.readWhereBloom(s, t, conds)
        .select("c_custkey", "c_name", "c_acctbal")
    }),

    "q100_fk_audit" -> ((s, dir) => {
      // referential-integrity audit (q51's DQ sibling): orphan foreign
      // keys per star-schema edge. Each edge is one left join against
      // the DISTINCT parent-key set (broadcast-sized) + one conditional
      // count — no fan-out however the parent side is keyed, no
      // NOT-IN null traps, and at 100 TB each edge is a broadcast
      // probe over one child scan. The quality gate every warehouse
      // sync loop should run after a load.
      def edge(name: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String): DataFrame = {
        val pk = broadcast(parent.select(col(pkey).as(key)).distinct()
          .withColumn("__hit", lit(1)))
        child.select(col(key)).join(pk, Seq(key), "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("__hit").isNull, 1).otherwise(0)).as("n_orphans"))
          .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"))
      }
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      val p = Tables(s, dir, "part")
      val su = Tables(s, dir, "supplier")
      edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(edge("customer->nation", c, "c_nationkey", n, "n_nationkey"))
        .unionByName(edge("supplier->nation", su, "s_nationkey", n, "n_nationkey"))
    }),

    "q91_grouping_sets" -> ((s, dir) => {
      // arbitrary GROUPING SETS (the general form behind q25's rollup /
      // q55's cube): one aggregation pass expands each input row into
      // its grouping-set combinations — one shuffle, not one scan per
      // set, which is the whole point at fact-table scale. grouping()
      // flags (cast to int for engine-portable types) disambiguate a
      // NULL dim value from a rolled-up dim.
      Tables(s, dir, "lineitem").createOrReplaceTempView("graft_q91_li")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(grouping(l_returnflag) AS INT) AS g_rf,
          CAST(grouping(l_linestatus) AS INT) AS g_ls,
          count(1) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        FROM graft_q91_li
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())""")
    }),

    "q92_jsonl_source" -> ((s, dir) => {
      // semi-structured JSONL ingestion with CORRUPT-RECORD isolation:
      // PERMISSIVE mode routes unparseable lines into a dead-letter
      // column instead of failing the job or silently dropping them —
      // the batch twin of q87's streaming DLQ, and the standard posture
      // for 100 TB web-crawl ingest where some malformed lines are a
      // certainty. The gate pins exactly the 3 planted corrupt lines
      // caught; the clean rows go under the oracle (content identical
      // to the source table ⇒ nothing was lost or mangled in transit).
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q92-").toString
      val jsonDir = s"$tmp/json"
      Tables(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .coalesce(1).write.json(jsonDir)
      val parts = JFiles.list(JPaths.get(jsonDir)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".json")).toSeq.sorted
      val clean = parts.map(p =>
        new String(JFiles.readAllBytes(JPaths.get(p)), "UTF-8")).mkString
      val path = s"$tmp/docs.jsonl"
      JFiles.writeString(JPaths.get(path),
        clean + "{broken\nnot json at all\n{\"doc_id\": 1,\n")
      val df = s.read
        .schema("doc_id BIGINT, lang STRING, source STRING, " +
          "n_chars BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .localCheckpoint() // corrupt-column queries need a materialized frame
      val bad = df.where(col("_corrupt_record").isNotNull).count()
      require(bad == 3, s"corrupt-record isolation caught $bad of 3 planted lines")
      df.where(col("_corrupt_record").isNull)
        .select("doc_id", "lang", "source", "n_chars")
    }),

    "q93_recursive" -> ((s, dir) => {
      // RECURSIVE CTE (hierarchy walk — org charts, BOM explosions,
      // referral chains): each order key under 32 walks its synthetic
      // parent chain k → k div 2 up to the root. Spark 4's native
      // WITH RECURSIVE iterates a distributed UnionLoop — each step is
      // a full Spark job over the frontier, so a 100 TB hierarchy walks
      // level-by-level instead of row-at-a-time on a driver.
      Tables(s, dir, "orders").createOrReplaceTempView("graft_q93_orders")
      s.sql("""
        WITH RECURSIVE anc AS (
          SELECT o_orderkey AS start_key, o_orderkey AS node, 0 AS depth
          FROM graft_q93_orders WHERE o_orderkey < 32
          UNION ALL
          SELECT start_key, node DIV 2 AS node, depth + 1
          FROM anc WHERE node > 1
        )
        SELECT start_key, node, depth FROM anc""")
    }),

    "q98_pagerank" -> ((s, dir) => {
      // GRAPH ANALYTICS under the hard oracle: 3 level-synchronous
      // PageRank rounds (operators/graph/PageRank.scala) over a
      // deterministic 2-out-degree link graph derived from doc ids.
      // The INTEGER-exact formulation (rank units of 1e-12, damping
      // 85/100 via integer div) is what makes a distributed iterative
      // graph job hash-checkable by an SQL engine: DuckDB unrolls the
      // same three rounds and must land on identical longs. Each round
      // is one equi-join + one keyed aggregation — the BSP shuffle
      // pattern that scales to billion-edge graphs.
      val docs = Tables(s, dir, "documents")
      val n0 = docs.agg(count(lit(1))).head().getLong(0)
      val e = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % n0).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n0).as("dst")))
        .where(col("src") =!= col("dst"))
      operators.graph.PageRank.iterate(e, "src", "dst", iters = 3)
    }),

    "q108_triangles" -> ((s, dir) => {
      // TRIANGLE COUNTING via degree-ordered orientation (operators/
      // graph/Triangles.scala) — the second classic BSP graph kernel
      // next to q98's PageRank, and the one where the NAIVE plan dies
      // first at scale (wedge enumeration is Σ deg² — a hub vertex turns
      // it quadratic; the orientation bounds it at O(m^1.5) regardless
      // of skew). Graph: deterministic ring-with-chords over doc ids
      // (i→i+1, i→i+2 guarantee a triangle per consecutive triple,
      // i→7i+3 adds irregular closures), integer-exact per-vertex
      // counts the oracle re-derives with the same relational algebra.
      val docs = Tables(s, dir, "documents")
      val n0 = docs.agg(count(lit(1))).head().getLong(0)
      val ids = docs.select(col("doc_id"))
      def fam(c: Column) = ids.select(col("doc_id").as("src"),
        (c % n0).as("dst"))
      val e = fam(col("doc_id") + 1)
        .unionByName(fam(col("doc_id") + 2))
        .unionByName(fam(col("doc_id") * 7 + 3))
      // 3·n0 generated edges — the count the query already computed
      // sizes the operator's shuffles (LoopScale), no extra pass
      operators.graph.Triangles.perVertex(e, "src", "dst",
        edgesHint = 3 * n0)
    }),

    "q109_multi_table_txn" -> ((s, dir) => {
      // MULTI-TABLE ATOMIC TRANSACTIONS (ManifestTable.commitTxn) — the
      // capability Delta doesn't have and Iceberg gates behind a REST
      // catalog, built on this format's own atomic-create primitive: a
      // marker-decided two-phase commit (stage → claim slots → one
      // atomic decision marker → publish). The scenario every warehouse
      // hits: a fact table and its per-customer summary must move
      // together, or readers join inconsistent states. Gates drive the
      // fault-injection seams: an UNDECIDED crash (claims, no marker)
      // rolls back on recovery; a DECIDED crash (marker, unfinished
      // publish) rolls forward from the NON-coordinator table's pointer;
      // replaying the landed txn id no-ops both tables; and the emitted
      // frame is the invariant atomicity protects — the summary table
      // re-aggregates to exactly the fact table's state.
      import graft.sources.ManifestTable
      import graft.sources.ManifestTable.TxnWrite
      val tmp = java.nio.file.Files.createTempDirectory("graft-q109-").toString
      val fact = s"$tmp/fact"; val summ = s"$tmp/summary"
      def slice(k: Int) = Tables(s, dir, "orders")
        .where(col("o_orderkey") % 3 === k)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def sumOf(k: Int) = slice(k).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).as("revenue"))
      ManifestTable.commitTxn(Seq(
        TxnWrite(slice(0), fact), TxnWrite(sumOf(0), summ)), Some("q109-b0"))
      def crashingTxn(point: Int): Unit = {
        var thrown = false
        try ManifestTable.commitTxn(Seq(TxnWrite(slice(1), fact),
          TxnWrite(sumOf(1), summ)), Some("q109-b1"), crashPoint = point)
        catch { case _: RuntimeException => thrown = true }
        require(thrown, s"crashPoint=$point must throw")
      }
      crashingTxn(2) // claims + staged manifests, NO decision marker
      ManifestTable.recoverTxn(Seq(fact, summ))
      require(ManifestTable.versions(fact).size == 1 &&
        ManifestTable.versions(summ).size == 1,
        "undecided txn must leave no version on either table")
      crashingTxn(3) // marker decided, publish unfinished
      ManifestTable.recoverTxn(Seq(summ)) // non-coordinator side
      val vF = ManifestTable.versions(fact)
      val vS = ManifestTable.versions(summ)
      require(vF.size == 2 && vS.size == 2,
        "decided txn must roll forward onto both tables")
      val again = ManifestTable.commitTxn(Seq(TxnWrite(slice(1), fact),
        TxnWrite(sumOf(1), summ)), Some("q109-b1"))
      require(again == Seq(vF.last, vS.last) &&
        ManifestTable.versions(fact) == vF &&
        ManifestTable.versions(summ) == vS, "txn replay must no-op")
      val fromFact = ManifestTable.read(s, fact).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
      val out = ManifestTable.read(s, summ).groupBy("o_custkey")
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("revenue")).cast("double").as("revenue"))
      require(sameRows(out, fromFact),
        "summary drifted from fact - atomicity broken")
      out
    }),

    "q110_sql_tvf" -> ((s, dir) => {
      // SQL SURFACE for the manifest format: the graft_table('<path>'
      // [, version]) TABLE-VALUED FUNCTION (GraftTableFunction, wired
      // through SparkSessionExtensions / GraftExtensions.register)
      // resolves to the SAME analyzed relation the DataFrame read
      // builds — MoR reconciliation, data skipping and size estimates
      // apply identically — so an analyst's plain spark.sql joins
      // versioned tables and time-travels with `graft_table(t, 1)`.
      // The whole query below runs through spark.sql, not the
      // DataFrame API: two TVF scans (current + VERSION AS OF 1) and
      // a dimension join, under the hard oracle.
      import graft.sources.ManifestTable
      plans.GraftExtensions.register(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q110-").toString
      val fact = s"$tmp/fact"; val dims = s"$tmp/dims"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      ManifestTable.append(orders.where(col("o_orderkey") % 2 === 0), fact)
      ManifestTable.append(orders.where(col("o_orderkey") % 2 === 1), fact)
      ManifestTable.overwrite(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")), dims)
      s.sql(
        s"""WITH now AS (
             SELECT d.c_mktsegment AS segment,
               count(*) AS n_now,
               CAST(sum(CAST(f.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue
             FROM graft_table('$fact') f
             JOIN graft_table('$dims') d ON f.o_custkey = d.c_custkey
             GROUP BY d.c_mktsegment),
           v1 AS (
             SELECT d.c_mktsegment AS segment, count(*) AS n_v1
             FROM graft_table('$fact', 1) f
             JOIN graft_table('$dims') d ON f.o_custkey = d.c_custkey
             GROUP BY d.c_mktsegment)
           SELECT now.segment, v1.n_v1, now.n_now, now.revenue
           FROM now JOIN v1 ON now.segment = v1.segment""")
    }),

    "q137_sql_catalog" -> ((s, dir) => {
      // The CATALOG front door (GraftCatalog, a DataSource V2
      // TableCatalog): named tables under spark.sql.catalog.graft, DDL
      // (CREATE NAMESPACE / CTAS), DML (INSERT INTO as a manifest
      // commit), native `VERSION AS OF` time travel, and a MoR delete
      // ledger — all observed through plain spark.sql identifiers.
      // v1 = CTAS of the even-key slice, v2 = INSERT of the odd slice,
      // then a MoR merge hides every 13th key; the final query reads
      // `now` (post-delete), `VERSION AS OF 1`, and `TIMESTAMP AS OF`
      // at v1's commit instant (backdated an hour so the resolution is
      // deterministic — the commit_ts chain, not file mtimes, is the
      // authority): version- and timestamp-travel must agree, under
      // the oracle.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q137-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src")
      s2.sql("CREATE NAMESPACE graft.crm")
      s2.sql("""CREATE TABLE graft.crm.orders AS
                SELECT * FROM orders_src WHERE o_orderkey % 2 = 0""")
      s2.sql("INSERT INTO graft.crm.orders SELECT * FROM orders_src WHERE o_orderkey % 2 = 1")
      ManifestTable.mergeMoR(s2, s"$wh/crm/orders",
        s2.table("orders_src").where(col("o_orderkey") % 13 === 0),
        Seq("o_orderkey"), deleteWhen = Some(lit(true)))
      // backdate v1 an hour so its commit instant is strictly before
      // v2's, then travel to exactly that instant
      val v1Ts = System.currentTimeMillis() - 3600000L
      locally {
        val p = java.nio.file.Paths.get(s"$wh/crm/orders", "_manifests",
          f"v${1L}%08d.json")
        java.nio.file.Files.writeString(p,
          java.nio.file.Files.readString(p).replaceFirst(
            "\"commit_ts\":\\d+", s""""commit_ts":$v1Ts"""))
      }
      val asOf = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(v1Ts))
      s2.sql(
        s"""WITH now AS (
             SELECT o_orderstatus AS st, count(*) AS n_now,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             FROM graft.crm.orders GROUP BY 1),
           v1 AS (
             SELECT o_orderstatus AS st, count(*) AS n_v1
             FROM graft.crm.orders VERSION AS OF 1 GROUP BY 1),
           vts AS (
             SELECT o_orderstatus AS st, count(*) AS n_ts
             FROM graft.crm.orders TIMESTAMP AS OF '$asOf' GROUP BY 1)
           SELECT now.st AS o_orderstatus, v1.n_v1, vts.n_ts,
             now.n_now, now.revenue
           FROM now JOIN v1 ON now.st = v1.st
             JOIN vts ON now.st = vts.st""")
    }),

    "q138_sql_dml" -> ((s, dir) => {
      // SQL DML lifecycle on a catalog table: CREATE TABLE (typed DDL,
      // empty but queryable), INSERT INTO (append commit), INSERT
      // OVERWRITE (replace commit — the l_linenumber=1 load must be
      // gone), a CHECK constraint declared table-side that REJECTS a
      // bad SQL insert (gate-asserted) while a good one lands. The
      // oracle sees only what survived: the overwrite slice + the one
      // valid literal row.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q138-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
        .createOrReplaceTempView("li_src")
      s2.sql("CREATE TABLE graft.li (k BIGINT, flag STRING, qty DOUBLE)")
      require(s2.sql("SELECT * FROM graft.li").count() == 0L,
        "a created-but-unwritten table must read as empty")
      s2.sql("""INSERT INTO graft.li
                SELECT l_orderkey, l_returnflag, CAST(l_quantity AS DOUBLE)
                FROM li_src WHERE l_linenumber = 1""")
      s2.sql("""INSERT OVERWRITE graft.li
                SELECT l_orderkey, l_returnflag, CAST(l_quantity AS DOUBLE)
                FROM li_src WHERE l_linenumber = 2""")
      ManifestTable.setConstraints(s2, s"$wh/li", Seq("qty >= 0"))
      val rejected = scala.util.Try(
        s2.sql("INSERT INTO graft.li VALUES (0, 'R', -4.0)")).isFailure
      require(rejected, "the CHECK constraint must reject qty < 0 via SQL")
      s2.sql("INSERT INTO graft.li VALUES (0, 'R', 1.5)")
      s2.sql(
        """SELECT flag, count(*) AS n,
             CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
           FROM graft.li GROUP BY flag""")
    }),

    "q139_sql_stats_join" -> ((s, dir) => {
      // LIVE STATISTICS through the catalog scan: after a MoR merge
      // hides ~97% of the orders table, its PHYSICAL bytes still exceed
      // the (lowered) broadcast threshold but its LIVE rows collapse —
      // GraftScan reports manifest-derived live statistics
      // (SupportsReportStatistics), so the SQL join plans a broadcast
      // that raw file-size estimation would shuffle. The probe side
      // (lineitem, > threshold) cannot be the broadcast side, so the
      // gate proves the statistics flowed. Oracle: the surviving join.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q139-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (128 * 1024).toString)
      val orders = Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      ManifestTable.overwrite(orders, s"$wh/big")
      ManifestTable.mergeMoR(s2, s"$wh/big",
        orders.where(col("o_orderkey") % 37 =!= 0),
        Seq("o_orderkey"), deleteWhen = Some(lit(true)))
      val physical = ManifestTable.dataFileSizes(s"$wh/big",
        ManifestTable.statsSurvivors(s"$wh/big", Seq.empty))
      require(physical > 128 * 1024,
        s"gate premise: physical bytes $physical must exceed the threshold")
      Tables(s2, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"))
        .createOrReplaceTempView("li_probe")
      val out = s2.sql(
        """SELECT l.l_returnflag, count(*) AS n,
             CAST(sum(CAST(b.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM li_probe l JOIN graft.big b ON l.l_orderkey = b.o_orderkey
           GROUP BY l.l_returnflag""")
      require(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "live-size statistics must flip the post-delete join to broadcast")
      out
    }),

    "q140_sql_delete" -> ((s, dir) => {
      // SQL ROW-LEVEL DELETE through the catalog (SupportsDelete →
      // ManifestTable.deleteWhere's copy-on-write rewrite): DELETE FROM
      // with an equality predicate, then a range predicate — each a
      // versioned commit (time travel still sees the full v1) — while
      // an UNTRANSLATABLE condition (modulo) is refused outright rather
      // than silently narrowed, and TRUNCATE TABLE is a commit too.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q140-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      ManifestTable.overwrite(Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        s"$wh/t")
      s2.sql("DELETE FROM graft.t WHERE o_orderstatus = 'F'")
      s2.sql("DELETE FROM graft.t WHERE o_totalprice < 50000")
      require(scala.util.Try(
        s2.sql("DELETE FROM graft.t WHERE o_orderkey % 3 = 0")).isFailure,
        "an untranslatable DELETE condition must be refused")
      require(ManifestTable.versions(s"$wh/t").size == 3,
        "each effective DELETE must land as one commit")
      val full = s2.sql("SELECT count(*) AS c FROM graft.t VERSION AS OF 1")
        .head().getLong(0)
      require(full == Tables(s2, dir, "orders").count(),
        "time travel must still see the pre-delete snapshot")
      s2.sql(
        """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.t GROUP BY o_orderstatus""")
    }),

    "q141_catalog_stream" -> ((s, dir) => {
      // STREAMING A NAMED TABLE: spark.readStream.table("graft.t") —
      // the catalog table doubles as the version-offset micro-batch
      // source (same TableMicroBatchStream as format("graft-table")),
      // so the catalog completes the loop: SQL writes feed a stream by
      // NAME. Gate mirrors q112: drain v1+v2, a THIRD slice lands via
      // SQL INSERT INTO, the resumed drain emits exactly that commit
      // (idempotent sink versions pinned), a no-change drain commits
      // nothing.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val wh = java.nio.file.Files.createTempDirectory("graft-q141-").toString
      val s2 = streamSession(s)
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"; val out = s"$wh/out"
      val orders = Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      orders.createOrReplaceTempView("orders_src")
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 0), t)
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 1), t)
      def drain(): Unit = s2.readStream.table("graft.t")
        .writeStream.option("checkpointLocation", s"$wh/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty)
            ManifestTable.append(b.toDF(), out, commitId = Some(s"b-$id"))
          ()
        }
        .start().awaitTermination()
      drain() // one batch covering v1+v2
      s2.sql("INSERT INTO graft.t SELECT * FROM orders_src WHERE o_orderkey % 3 = 2")
      drain() // resumes at v2: emits exactly the SQL-inserted commit
      val vOut = ManifestTable.versions(out)
      require(vOut.size == 2,
        s"expected one sink commit per drain with data, got $vOut")
      drain() // no new commits: no batch, no sink version
      require(ManifestTable.versions(out) == vOut,
        "a no-change restart must commit nothing")
      val sunk = ManifestTable.read(s, out)
      require(sunk.count() == orders.count(), "streamed sink lost or duplicated rows")
      sunk.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("revenue"))
    }),

    "q147_sql_dml_cdf" -> ((s, dir) => {
      // SQL DML COMPOSES WITH THE CDC STACK: an UPDATE and a MERGE
      // issued as plain SQL land as merge-on-read delta commits, and
      // the table's change feed derives their EXACT row diffs
      // (differingSlices reconciles deletion-vector state on both
      // sides) — folded version-by-version into an incremental MV that
      // must equal a from-scratch rebuild (exceptAll both ways,
      // gate-asserted). One write protocol, three doors (SQL, API,
      // stream), one change feed.
      import graft.operators.IncrementalAgg
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q147-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src")
      s2.sql("""CREATE TABLE graft.t (k BIGINT, status STRING, price DOUBLE)
                TBLPROPERTIES ('merge.keys'='k')""")
      s2.sql("INSERT INTO graft.t SELECT * FROM orders_src WHERE o_orderkey % 4 <> 0")
      val v1 = ManifestTable.latestVersion(t)
      var mv = IncrementalAgg.materialize(
        ManifestTable.read(s2, t, Some(v1)), Seq("status"), Seq("price"))
        .localCheckpoint()
      s2.sql("UPDATE graft.t SET price = price * 2 WHERE status = 'F'")
      s2.sql(
        """MERGE INTO graft.t AS t
           USING (SELECT o_orderkey AS k, o_orderstatus AS status,
                         CAST(o_totalprice AS DOUBLE) AS price
                  FROM orders_src WHERE o_orderkey % 2 = 0) AS s
           ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET price = s.price * 2
           WHEN NOT MATCHED THEN INSERT (k, status, price)
             VALUES (s.k, s.status, s.price)""")
      val vN = ManifestTable.latestVersion(t)
      ((v1 + 1) to vN).foreach { v =>
        val feed = ManifestTable.changesWithValues(s2, t, v - 1, v, Seq("k"))
        val next = IncrementalAgg.applyDelta(mv, feed, Seq("status"), Seq("price"))
          .localCheckpoint()
        org.apache.spark.sql.graft.ColumnBridge.unpersistLocalCheckpoint(mv)
        mv = next
      }
      val rebuilt = IncrementalAgg.materialize(
        ManifestTable.read(s2, t), Seq("status"), Seq("price"))
      require(sameRows(mv.where(col("n") =!= 0), rebuilt),
        "the fold of the SQL commits' change feeds must equal a rebuild")
      org.apache.spark.sql.graft.ColumnBridge.unpersistLocalCheckpoint(mv)
      s2.sql(
        """SELECT status, count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.t GROUP BY status""")
    }),

    "q148_sql_partitioned" -> ((s, dir) => {
      // PARTITIONED BY on the SQL catalog: an identity layout declared
      // at CREATE and honored by EVERY batch write — the CTAS asks the
      // planner for an ordered distribution on the partition columns
      // (DSv2 RequiresDistributionAndOrdering), INSERT range-clusters
      // with a row-hash tiebreaker (a hot value stays splittable across
      // tasks, unlike Hive's value-per-directory pinning) — so each
      // staged file carries a single-value or value-joint range and the
      // manifest min/max stats turn partition predicates into FILE
      // PRUNING (Iceberg's stats-pruned model, no directory trees).
      // Gates: the layout survives the catalog round trip
      // (Table.partitioning), ≥5 data files, every priority's survivor
      // set is a strict subset, and survivor sets are near-disjoint
      // (only value-joint files may answer for two priorities).
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q148-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      // keep the range shuffle at toy-scale granularity: the default
      // 64 MiB advisory (and 1 MiB floor) would coalesce the whole
      // table into one file and hide the layout under test
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k")
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src")
      s2.sql("CREATE NAMESPACE graft.sales")
      s2.sql("""CREATE TABLE graft.sales.orders
                PARTITIONED BY (o_orderpriority) AS
                SELECT * FROM orders_src WHERE o_orderkey % 2 = 0""")
      s2.sql("""INSERT INTO graft.sales.orders
                SELECT * FROM orders_src WHERE o_orderkey % 2 = 1""")
      val path = s"$wh/sales/orders"
      val declared = s2.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("sales"), "orders")).partitioning()
      require(declared.length == 1 &&
        declared.head.references().head.fieldNames().sameElements(
          Array("o_orderpriority")),
        s"declared partitioning lost in the catalog round trip: " +
          declared.mkString(","))
      val prios = Tables(s2, dir, "orders").select("o_orderpriority")
        .distinct().collect().map(_.getString(0)).sorted // 5 values, metadata-sized
      val all = ManifestTable.statsSurvivors(path, Seq.empty)
      val surv = prios.map(p => ManifestTable.statsSurvivors(path,
        Seq(Condition("o_orderpriority", Op.Eq, p))))
      require(all.size >= prios.length,
        s"expected >=${prios.length} clustered files, got ${all.size}")
      surv.zip(prios).foreach { case (sv, p) =>
        require(sv.nonEmpty && sv.size < all.size,
          s"partition predicate on '$p' did not prune: ${sv.size}/${all.size}") }
      // each clustered COMMIT is range-ordered, so it carries at most
      // (values-1) value-joint files; two commits (CTAS + INSERT) bound
      // the over-count
      require(surv.map(_.size).sum <= all.size + 2 * (prios.length - 1),
        s"files are not partition-clustered: ${surv.map(_.size).sum} survivor " +
          s"slots over ${all.size} files (> ${2 * (prios.length - 1)} value joints)")
      s2.sql(
        """WITH urgent AS (
             SELECT CAST(count(*) AS BIGINT) AS nu
             FROM graft.sales.orders WHERE o_orderpriority = '1-URGENT')
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             (SELECT nu FROM urgent) AS n_urgent
           FROM graft.sales.orders GROUP BY 1""")
    }),

    "q153_sql_changes" -> ((s, dir) => {
      // THE CHANGE FEED'S SQL DOOR — graft_changes(path, from, to), the
      // table_changes TVF: four commits (two appends, a delta UPDATE, a
      // delta DELETE, both CDC-materialized at commit time) drain as
      // one SQL frame in the Delta CDF shape (_change_type +
      // _commit_version). Gate: folding the feed — latest event per
      // key, drop deletes — reconstructs the final table EXACTLY
      // (exceptAll both ways), so the SQL door carries the same replay
      // guarantees the API and streaming doors already prove.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q153-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src")
      s2.sql("""CREATE TABLE graft.t (
                  k BIGINT, status STRING, price DOUBLE,
                  CONSTRAINT pk PRIMARY KEY (k))""")
      s2.sql("""INSERT INTO graft.t SELECT o_orderkey, o_orderstatus,
                CAST(o_totalprice AS DOUBLE) FROM orders_src
                WHERE o_orderkey % 2 = 0""")
      s2.sql("""INSERT INTO graft.t SELECT o_orderkey, o_orderstatus,
                CAST(o_totalprice AS DOUBLE) FROM orders_src
                WHERE o_orderkey % 2 = 1""")
      s2.sql("UPDATE graft.t SET price = price * 2 WHERE status = 'F'")
      ManifestTable.materializeCdf(s2, t, ManifestTable.latestVersion(t))
      s2.sql("DELETE FROM graft.t WHERE k % 9 = 0")
      val vEnd = ManifestTable.latestVersion(t)
      ManifestTable.materializeCdf(s2, t, vEnd)
      // the fold gate: latest change per key minus deletes == the table
      val feed = s2.sql(s"SELECT * FROM graft_changes('$t', 0, $vEnd)")
      require(feed.select("_commit_version").distinct().count() == 4,
        "all four data commits must appear in the feed")
      val latest = feed
        .where(col("_change_type") =!= "update_preimage")
        .withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("k")
            .orderBy(col("_commit_version").desc)))
        .where(col("__r") === 1 && col("_change_type") =!= "delete")
        .select("k", "status", "price")
      val now = s2.table("graft.t").select("k", "status", "price")
      require(sameRows(latest, now),
        "folding the SQL change feed must reconstruct the table")
      s2.sql(
        s"""SELECT _change_type AS change_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM graft_changes('$t', 0, $vEnd) GROUP BY 1""")
    }),

    "q154_spj_join" -> ((s, dir) => {
      // STORAGE-PARTITIONED JOIN — the fact×fact shuffle eliminator.
      // customer and supplier land as PARTITIONED BY (nationkey)
      // catalog tables; every write door rolls data files at partition-
      // value boundaries, so the manifest alone proves each file
      // single-valued, and the scans report a KeyGroupedPartitioning
      // with HasPartitionKey value groups. Under Spark's v2 bucketing
      // conf the co-partitioned join then plans with ZERO shuffle
      // exchange on either side — at 100 TB this is the difference
      // between re-clustering both fact tables per query and reading
      // them joined in place. Gates: both scans are grouped scans and
      // the join subtree contains no shuffle. Reference anchor: the
      // source×target sync loop (core/pipeline.py:83) is the
      // reference's join-shaped hot path.
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import graft.sources.GraftGroupedScan
      val wh = java.nio.file.Files.createTempDirectory("graft-q154-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables(s2, dir, "customer").createOrReplaceTempView("cust_q154")
      Tables(s2, dir, "supplier").createOrReplaceTempView("supp_q154")
      s2.sql("CREATE NAMESPACE graft.spj")
      s2.sql("""CREATE TABLE graft.spj.customer PARTITIONED BY (c_nationkey)
                AS SELECT c_custkey, c_nationkey, c_acctbal FROM cust_q154""")
      s2.sql("""CREATE TABLE graft.spj.supplier PARTITIONED BY (s_nationkey)
                AS SELECT s_suppkey, s_nationkey, s_acctbal FROM supp_q154""")
      val q = s2.sql(
        """SELECT c.c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS pairs,
             CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))
                    + CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
           FROM graft.spj.customer c JOIN graft.spj.supplier s
             ON c.c_nationkey = s.s_nationkey
           GROUP BY c.c_nationkey""")
      q.collect()
      val nodes = executedNodes(q)
      val scans = nodes.collect { case b: BatchScanExec => b.scan }
      require(scans.size == 2 && scans.forall(_.isInstanceOf[GraftGroupedScan]),
        s"expected two grouped scans, got ${scans.map(_.getClass.getSimpleName)}")
      val join = nodes.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.getOrElse(throw new IllegalStateException("no shuffled-family join planned"))
      def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.children.flatMap(walk)
      require(walk(join).collect { case e: ShuffleExchangeLike => e }.isEmpty,
        "co-partitioned join still shuffles")
      q
    }),

    "q155_runtime_prune" -> ((s, dir) => {
      // RUNTIME GROUP PRUNING — DSv2 dynamic partition pruning. orders
      // lands PARTITIONED BY (o_orderpriority); the join's dimension
      // side (a filtered priority list) feeds the scan's
      // SupportsRuntimeV2Filtering hook at EXECUTION time, dropping
      // whole value groups before any task launches — at scale this is
      // the classic star-schema pattern where the fact scan reads only
      // the partitions the dimension filter names. Gates: the fact scan
      // is a grouped scan AND it observed a runtime filter that pruned
      // groups (planned < total).
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import graft.sources.GraftGroupedScan
      val wh = java.nio.file.Files.createTempDirectory("graft-q155-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      // -1: ONLY the hinted dimension broadcasts — at toy scale the
      // fact's live-size estimate is broadcastable too, and a fact-side
      // build leaves DPP nothing to prune (reuse-broadcast mode prunes
      // the probe side)
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables(s2, dir, "orders").createOrReplaceTempView("orders_q155")
      s2.sql("CREATE NAMESPACE graft.rt")
      s2.sql("""CREATE TABLE graft.rt.orders PARTITIONED BY (o_orderpriority)
                AS SELECT o_orderkey, o_orderpriority, o_totalprice
                FROM orders_q155""")
      // the dimension filter is on a DERIVED attribute (the priority's
      // class digit), NOT the join key — a join-key filter would be
      // statically inferable through the join equality (constraint
      // propagation) and the manifest stats would prune files before
      // execution; filtering on tag forces the pruning to happen at
      // RUNTIME, from the executed dimension's actual key values
      // BROADCAST(d) pins the dimension as the build side (DPP's
      // reuse-broadcast mode prunes the PROBE side's partitions)
      val q = s2.sql(
        """SELECT /*+ BROADCAST(d) */ o.o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.rt.orders o
           JOIN (SELECT DISTINCT o_orderpriority AS p,
                        substring(o_orderpriority, 1, 1) AS tag
                 FROM orders_q155) d
             ON o.o_orderpriority = d.p
           WHERE d.tag IN ('1', '3')
           GROUP BY o.o_orderpriority""")
      q.collect()
      val scan = executedNodes(q).collectFirst {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftGroupedScan] =>
          b.scan.asInstanceOf[GraftGroupedScan]
      }.getOrElse(throw new IllegalStateException(
        "fact side did not take the grouped scan"))
      require(scan.plannedGroupCount < scan.totalGroupCount,
        s"runtime filter did not prune groups: ${scan.plannedGroupCount}" +
          s"/${scan.totalGroupCount}")
      q
    }),

    "q156_bucket_join" -> ((s, dir) => {
      // BUCKETED STORAGE-PARTITIONED JOIN — SPJ at HIGH key
      // cardinality, where identity layouts (q154) cap out: customer
      // and orders land as PARTITIONED BY (bucket(16, custkey)) tables
      // — each write routes rows by floorMod(xxhash64(key), 16), rolls
      // one file per bucket per task, and carries the bucket id in the
      // file name (Hive/Spark bucketed tables' numbered-file model) —
      // and the catalog serves the bucket function (FunctionCatalog)
      // so Spark proves both scans share the transform and plans the
      // fact×fact join with ZERO shuffle on either side. At 100 TB
      // this is the difference between re-hashing both tables per
      // query and reading them joined in place. Gates: both scans
      // grouped, join subtree exchange-free.
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import graft.sources.GraftGroupedScan
      val wh = java.nio.file.Files.createTempDirectory("graft-q156-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables(s2, dir, "customer").createOrReplaceTempView("cust_q156")
      Tables(s2, dir, "orders").createOrReplaceTempView("ord_q156")
      s2.sql("CREATE NAMESPACE graft.bj")
      s2.sql("""CREATE TABLE graft.bj.customer (c_custkey BIGINT,
                c_acctbal DOUBLE) PARTITIONED BY (bucket(16, c_custkey))""")
      s2.sql("""INSERT INTO graft.bj.customer
                SELECT c_custkey, c_acctbal FROM cust_q156""")
      s2.sql("""CREATE TABLE graft.bj.orders (o_custkey BIGINT,
                o_totalprice DOUBLE) PARTITIONED BY (bucket(16, o_custkey))""")
      s2.sql("""INSERT INTO graft.bj.orders
                SELECT o_custkey, CAST(o_totalprice AS DOUBLE) FROM ord_q156""")
      val q = s2.sql(
        """SELECT CAST(c.c_custkey % 10 AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
           FROM graft.bj.customer c JOIN graft.bj.orders o
             ON c.c_custkey = o.o_custkey
           GROUP BY 1""")
      q.collect()
      val nodes = executedNodes(q)
      val scans = nodes.collect { case b: BatchScanExec => b.scan }
      require(scans.size == 2 && scans.forall(_.isInstanceOf[GraftGroupedScan]),
        s"expected two grouped scans, got ${scans.map(_.getClass.getSimpleName)}")
      val join = nodes.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.getOrElse(throw new IllegalStateException("no shuffled-family join planned"))
      def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.children.flatMap(walk)
      require(walk(join).collect { case e: ShuffleExchangeLike => e }.isEmpty,
        "bucketed join still shuffles")
      q
    }),

    "q157_meta_agg" -> ((s, dir) => {
      // METADATA-ONLY AGGREGATES — Delta's "count from the log":
      // COUNT(*) / MIN / MAX over a clean snapshot push down to the
      // MANIFEST (per-file recorded rows + footer-harvested min/max) —
      // zero data files read, proven by answering the aggregate with
      // the table's data directory MOVED ASIDE. At 100 TB a row count
      // or column extremum becomes one metadata parse instead of a
      // full scan. Conservative refusals (MoR ledger, filters, SUM,
      // grouping, incomplete stats) are spec-pinned in MetaAggSpec.
      val wh = java.nio.file.Files.createTempDirectory("graft-q157-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "orders").createOrReplaceTempView("orders_q157")
      s2.sql("""CREATE TABLE graft.t (o_orderkey BIGINT,
                o_orderpriority STRING, o_totalprice DOUBLE)""")
      s2.sql("""INSERT INTO graft.t SELECT o_orderkey, o_orderpriority,
                CAST(o_totalprice AS DOUBLE) FROM orders_q157
                WHERE o_orderkey % 2 = 0""")
      s2.sql("""INSERT INTO graft.t SELECT o_orderkey, o_orderpriority,
                CAST(o_totalprice AS DOUBLE) FROM orders_q157
                WHERE o_orderkey % 2 = 1""")
      val q = s2.sql(
        """SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(min(o_totalprice) AS DOUBLE) AS mn,
             CAST(max(o_totalprice) AS DOUBLE) AS mx,
             min(o_orderpriority) AS first_prio
           FROM graft.t""")
      // the gate: the answer must come from metadata alone
      val dataDir = java.nio.file.Paths.get(s"$wh/t/data")
      val hidden = java.nio.file.Paths.get(s"$wh/t/.data-hidden")
      java.nio.file.Files.move(dataDir, hidden)
      val blind =
        try q.collect().toSeq
        finally java.nio.file.Files.move(hidden, dataDir)
      require(blind == q.collect().toSeq,
        "metadata-only answer must equal the normal-path answer")
      q
    }),

    "q158_partition_rollup" -> ((s, dir) => {
      // PARTITION ROLLUP FROM METADATA — the GROUP BY extension of
      // q157: on an identity layout every file is single-valued on the
      // partition columns (the rolling writer's invariant), so a
      // partition-column GROUP BY's groups are unions of whole files —
      // per-group COUNT(*) sums recorded rows, per-group MIN/MAX fold
      // the group's file stats, zero data reads. The classic "rows per
      // partition" operational query becomes one manifest parse at any
      // scale. Gate: answers with the data directory moved aside.
      val wh = java.nio.file.Files.createTempDirectory("graft-q158-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "orders").createOrReplaceTempView("orders_q158")
      s2.sql("""CREATE TABLE graft.t (o_orderkey BIGINT,
                o_orderpriority STRING, o_totalprice DOUBLE)
                PARTITIONED BY (o_orderpriority)""")
      s2.sql("""INSERT INTO graft.t SELECT o_orderkey, o_orderpriority,
                CAST(o_totalprice AS DOUBLE) FROM orders_q158""")
      val q = s2.sql(
        """SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
             CAST(min(o_totalprice) AS DOUBLE) AS mn,
             CAST(max(o_totalprice) AS DOUBLE) AS mx
           FROM graft.t GROUP BY o_orderpriority""")
      val dataDir = java.nio.file.Paths.get(s"$wh/t/data")
      val hidden = java.nio.file.Paths.get(s"$wh/t/.data-hidden")
      java.nio.file.Files.move(dataDir, hidden)
      val blind =
        try q.collect().toSet
        finally java.nio.file.Files.move(hidden, dataDir)
      require(blind == q.collect().toSet,
        "metadata-only rollup must equal the normal-path rollup")
      q
    }),

    "q159_cbo_reorder" -> ((s, dir) => {
      // COST-BASED OPTIMIZATION OVER ANALYZE STATISTICS — `ANALYZE
      // TABLE … COMPUTE STATISTICS FOR ALL COLUMNS` (one map-side-
      // combined HLL++/min-max pass) persists advisory column stats the
      // scan reports through DSv2 `columnStats()`, and the scan relation
      // hands them to CostBasedJoinReorder and filter estimation.
      // At 100 TB this is the decision layer that joins two dimension
      // tables before touching the fact table — wrong order = a
      // petabyte-scale intermediate. Gates: (a) with CBO off the
      // syntactic join order stands; (b) with CBO on the optimizer
      // restructures to join customer×nation first; (c) an ANALYZE'd
      // equality filter's cardinality estimate shrinks by NDV. Emits
      // the (order-independent) join result under the oracle.
      val wh = java.nio.file.Files.createTempDirectory("graft-q159-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      // no broadcasts: the fact×fact regime at scale, where the join
      // order alone decides how much each shuffle moves
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_src")
      Tables(s2, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .createOrReplaceTempView("cust_src")
      Tables(s2, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .createOrReplaceTempView("nat_src")
      s2.sql("CREATE TABLE graft.ord AS SELECT * FROM ord_src")
      s2.sql("CREATE TABLE graft.cust AS SELECT * FROM cust_src")
      s2.sql("CREATE TABLE graft.nat AS SELECT * FROM nat_src")
      Seq("ord", "cust", "nat").foreach(t => s2.sql(
        s"ANALYZE TABLE graft.$t COMPUTE STATISTICS FOR ALL COLUMNS"))
      val joinSql =
        """SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.ord o
           JOIN graft.cust c ON o.o_custkey = c.c_custkey
           JOIN graft.nat n ON c.c_nationkey = n.n_nationkey
           GROUP BY n_name"""
      def shape(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
          : String = p match {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          s"(${shape(j.left)}*${shape(j.right)})"
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.table.name()
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.name()
        case n if n.children.size == 1 => shape(n.children.head)
        case other => other.getClass.getSimpleName
      }
      // plan-stats visitors key off the CALLING thread's session conf
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      try {
        s2.conf.set("spark.sql.cbo.enabled", "false")
        val syntactic = shape(s2.sql(joinSql).queryExecution.optimizedPlan)
        require(syntactic == "((ord*cust)*nat)",
          s"CBO off must keep the written order, got $syntactic")
        s2.conf.set("spark.sql.cbo.enabled", "true")
        val reordered = shape(s2.sql(joinSql).queryExecution.optimizedPlan)
        require(reordered.contains("(cust*nat)") || reordered.contains("(nat*cust)"),
          s"CBO must join customer×nation before the fact table, got $reordered")
        val fStats = s2.sql("SELECT * FROM graft.ord WHERE o_custkey = 7")
          .queryExecution.optimizedPlan.stats
        val total = s2.table("graft.ord").count()
        require(fStats.attributeStats.nonEmpty &&
            fStats.rowCount.exists(_ < BigInt(total / 5)),
          s"ANALYZE stats must shrink the equality estimate below " +
            s"${total / 5}, got ${fStats.rowCount}")
      } finally org.apache.spark.sql.SparkSession.setActiveSession(s)
      s2.sql(joinSql)
    }),

    "q163_histogram_reorder" -> ((s, dir) => {
      // HISTOGRAMS CHANGE THE JOIN ORDER — the skew case NDV-only
      // estimation gets catastrophically wrong: fact.h is 1/3 one hot
      // value, dim_a.h matches the skew, so the true fact×dim_a size is
      // ~6M while |F|·|A|/max(ndv) says ~2.2k — BELOW the honest ~3.7k
      // estimate of fact×dim_b. With NDV-only stats CBO therefore joins
      // dim_a first (the petabyte-intermediate mistake at 100 TB); with
      // equi-height histograms on h the per-bin overlap model sees the
      // hot-bin blowup and flips to dim_b first. Both orders are
      // plan-gated; the (order-independent) result goes to the oracle.
      val wh = java.nio.file.Files.createTempDirectory("graft-q163-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables(s2, dir, "orders").createOrReplaceTempView("ord_q163")
      Tables(s2, dir, "customer").createOrReplaceTempView("cust_q163")
      s2.sql("""CREATE TABLE graft.fact AS
                SELECT o_orderkey AS k,
                       CASE WHEN o_orderkey % 3 = 0 THEN 5L
                            ELSE o_orderkey END AS h
                FROM ord_q163""")
      s2.sql("""CREATE TABLE graft.dim_a AS
                SELECT CASE WHEN c_custkey % 5 > 0 THEN 5L
                            ELSE 1000000 + c_custkey END AS h,
                       c_acctbal
                FROM cust_q163""")
      s2.sql("""CREATE TABLE graft.dim_b AS
                SELECT o_orderkey AS k, o_orderstatus AS status
                FROM ord_q163 WHERE o_orderkey % 4 = 0""")
      val joinSql =
        """SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
           FROM graft.fact f
           JOIN graft.dim_a a ON f.h = a.h
           JOIN graft.dim_b b ON f.k = b.k
           GROUP BY status"""
      def shape(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
          : String = p match {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          s"(${shape(j.left)}*${shape(j.right)})"
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.table.name()
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.name()
        case n if n.children.size == 1 => shape(n.children.head)
        case other => other.getClass.getSimpleName
      }
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      // the reorder decision rides row counts + JOIN-KEY stats — analyze
      // exactly those (an ALL COLUMNS pass would double the stats cost
      // for columns estimation never consults); 64 equi-height bins
      // resolve a 1/3-hot skew just as 254 would
      s2.conf.set("spark.sql.statistics.histogram.numBins", "64")
      val statCols = Seq("fact" -> "h, k", "dim_a" -> "h", "dim_b" -> "k")
      try {
        // pass 1: NDV-only statistics — the skewed join is estimated
        // ~2.2k rows and CBO joins dim_a first
        s2.conf.set("spark.sql.statistics.histogram.enabled", "false")
        statCols.foreach { case (t, cs) => s2.sql(
          s"ANALYZE TABLE graft.$t COMPUTE STATISTICS FOR COLUMNS $cs") }
        val ndvShape = shape(s2.sql(joinSql).queryExecution.optimizedPlan)
        require(ndvShape.contains("(fact*dim_a)") ||
            ndvShape.contains("(dim_a*fact)"),
          s"NDV-only stats must (mis-)pick the skewed dim_a join first, " +
            s"got $ndvShape")
        // pass 2: equi-height histograms on the join keys — the hot-bin
        // overlap makes the ~6M blowup visible and the order flips
        s2.conf.set("spark.sql.statistics.histogram.enabled", "true")
        statCols.foreach { case (t, cs) => s2.sql(
          s"ANALYZE TABLE graft.$t COMPUTE STATISTICS FOR COLUMNS $cs") }
        val histShape = shape(s2.sql(joinSql).queryExecution.optimizedPlan)
        require(histShape.contains("(fact*dim_b)") ||
            histShape.contains("(dim_b*fact)"),
          s"histograms must flip the plan to the selective dim_b join " +
            s"first, got $histShape")
        require(ndvShape != histShape,
          "the reorder decision must CHANGE when histograms arrive")
      } finally org.apache.spark.sql.SparkSession.setActiveSession(s)
      s2.sql(joinSql)
    }),

    "q171_time_retention" -> ((s, dir) => {
      // TIME-BASED RETENTION — `VACUUM t RETAIN n HOURS`, the
      // compliance/cost shape (keep a week of history, whatever the
      // commit count): three commits land, the first two are AGED two
      // hours (the manifest's recorded commit wall-time is rewritten —
      // the blind-read manipulation, for clocks), DRY RUN predicts the
      // horizon without touching anything (gate), the real sweep
      // expires exactly the aged history and reclaims their bytes
      // (gate: data dir == live files), and the LATEST version survives
      // even once it is itself past the horizon (gate — a quiet table
      // must stay readable forever). Contents go under the oracle.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q171-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q171")
      s2.sql("CREATE TABLE graft.t (k BIGINT, status STRING, price DOUBLE)")
      (0 until 3).foreach(i => s2.sql(
        s"INSERT INTO graft.t SELECT * FROM ord_q171 WHERE o_orderkey % 3 = $i"))
      def backdate(v: Long): Unit = {
        val p = java.nio.file.Paths.get(t, "_manifests", f"v$v%08d.json")
        java.nio.file.Files.writeString(p,
          java.nio.file.Files.readString(p).replaceFirst(
            "\"commit_ts\":\\d+",
            s""""commit_ts":${System.currentTimeMillis() - 7200000L}"""))
        ()
      }
      backdate(1L); backdate(2L)
      val dry = s2.sql("VACUUM graft.t RETAIN 1 HOURS FORCE DRY RUN").collect()
      require(dry.head.getString(3) == "dry_run" && dry.head.getLong(0) == 2L &&
        ManifestTable.versions(t).size == 3,
        s"DRY RUN must predict the 2-version horizon untouched: ${dry.head}")
      s2.sql("VACUUM graft.t RETAIN 1 HOURS FORCE").collect()
      require(ManifestTable.versions(t) == Seq(3L),
        "the aged history must expire, the fresh version stay")
      val live = ManifestTable.dataFiles(t).toSet
      val onDisk = scala.util.Using.resource(java.nio.file.Files.list(
          java.nio.file.Paths.get(t, "data"))) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      }
      require(onDisk == live,
        s"the sweep must reclaim expired bytes: ${onDisk.size} on disk, " +
          s"${live.size} live")
      // the latest version survives its own aging — never an empty table
      backdate(3L)
      val again = s2.sql("VACUUM graft.t RETAIN 1 HOURS FORCE").collect()
      require(again.head.getLong(0) == 0L &&
        ManifestTable.versions(t) == Seq(3L),
        "the latest version must survive whatever its age")
      s2.sql("""SELECT status, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
                FROM graft.t GROUP BY status""")
    }),

    "q172_ts_skipping" -> ((s, dir) => {
      // TIMESTAMP-STATS FILE SKIPPING — the reference's two of three
      // cursor modes are created_at/updated_at (core/types.py:24), so
      // the single most common incremental-pull predicate is a TIME
      // WINDOW. graft stores timestamps as INT64 epoch MICROS (a format
      // invariant — INT96 carries no ordered stats) and harvests their
      // footer bounds into the manifest, so a window over a
      // time-clustered events table opens a few files, decided in
      // metadata BEFORE any scan plans. Three legs, all on one table:
      // (1) pruneCount: the window survives ×4 fewer files than total;
      // (2) scoped `OPTIMIZE … WHERE ts >= TIMESTAMP '…'` through the
      //     SQL door rewrites ONLY the fresh tail, carrying every
      //     out-of-scope file untouched;
      // (3) metadata MIN/MAX/COUNT of ts answers with the data
      //     directory MOVED ASIDE (the freshest-instant probe costs one
      //     manifest parse at 100 TB, zero file reads).
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q172-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("""CREATE TABLE graft.e (event_id BIGINT, ts TIMESTAMP,
                event_type STRING, value DOUBLE)""")
      val path = s"$wh/e"
      // NTZ micros → instant under the UTC-pinned session: exact
      val ev = Tables(s2, dir, "events").select(
        col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value").cast("double").as("value"))
      ManifestTable.overwrite(ev.repartitionByRange(16, col("ts")), path)
      val lo = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
      val conds = Seq(Condition("ts", Op.Gte, lo), Condition("ts", Op.Lt, hi))
      val (scanned, total) = ManifestTable.pruneCount(path, conds)
      require(scanned * 4 < total,
        s"timestamp window must prune files: $scanned of $total survive")
      // leg 2: scoped compaction of the fresh tail only
      val before = ManifestTable.snapshotAt(path, None).get
      val tail = Seq(Condition("ts", Op.Gte,
        java.sql.Timestamp.valueOf("2024-01-28 00:00:00")))
      val scope = ManifestTable.statsSurvivors(path, tail).toSet
      require(scope.nonEmpty && scope.size * 4 < total,
        s"the fresh tail must be a minority scope: ${scope.size} of $total")
      s2.sql("OPTIMIZE graft.e WHERE ts >= TIMESTAMP '2024-01-28 00:00:00'")
      val after = ManifestTable.snapshotAt(path, None).get
      require(after.version == before.version + 1 && !after.dataChange,
        "scoped OPTIMIZE must land one dataChange=false commit")
      val carried = before.files.filterNot(scope)
      require(carried.forall(after.files.contains),
        "out-of-scope files must carry untouched")
      require(scope.forall(f => !after.files.contains(f)),
        "in-scope files must be rewritten")
      // leg 3: freshest/oldest instant + count from metadata alone
      val meta = s2.sql("""SELECT CAST(count(*) AS BIGINT) AS n,
        min(ts) AS first_ts, max(ts) AS last_ts FROM graft.e""")
      val dataDir = java.nio.file.Paths.get(s"$path/data")
      val hiddenD = java.nio.file.Paths.get(s"$path/.data-hidden")
      java.nio.file.Files.move(dataDir, hiddenD)
      val blind =
        try meta.collect().toSeq
        finally java.nio.file.Files.move(hiddenD, dataDir)
      require(blind == meta.collect().toSeq,
        "ts MIN/MAX/COUNT must answer from the manifest alone")
      // the windowed rollup reads through the catalog scan (file
      // pruning + residual exactness) and goes under the oracle
      s2.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM graft.e
        WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
          AND ts < TIMESTAMP '2024-01-05 00:00:00'
        GROUP BY event_type""")
    }),

    "q179_tags" -> ((s, dir) => {
      // VERSION TAGS — named immutable snapshot pins (Iceberg tags):
      // `training-set-v2` names the EXACT snapshot a model was trained
      // on; `VERSION AS OF 'training-set-v2'` resolves it, and
      // RETENTION NEVER EXPIRES a tagged version however the history
      // horizon moves. At 100 TB this is the reproducible-dataset
      // contract: a release is a name, not a number someone wrote down.
      // Gates: tag == literal version under the oracle shape; an
      // aggressive VACUUM RETAIN 1 FORCE expires untagged middles but
      // the pin survives AND READS EXACTLY; DROP TAG releases it; the
      // emitted frame is the tagged snapshot's rollup.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q179-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.t (k BIGINT, status STRING, price DOUBLE)")
      val path = s"$wh/t"
      Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("ord_q179")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q179 WHERE k % 2 = 0")
      s2.sql("ALTER TABLE graft.t CREATE TAG 'training-set-v1'")
      val v1 = ManifestTable.resolveTag(path, "training-set-v1").get
      // history moves on: two more commits the pin must survive
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q179 WHERE k % 2 = 1")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q179 LIMIT 100")
      // tag and literal version agree
      val byTag = s2.sql(
        "SELECT count(*) FROM graft.t VERSION AS OF 'training-set-v1'")
        .collect().head.getLong(0)
      require(byTag == s2.sql(
        s"SELECT count(*) FROM graft.t VERSION AS OF $v1")
        .collect().head.getLong(0), "tag must equal its literal version")
      // aggressive retention: untagged middles expire, the pin survives
      s2.sql("VACUUM graft.t RETAIN 1 VERSIONS FORCE")
      val left = ManifestTable.versions(path)
      require(left.contains(v1) && left.size == 2,
        s"retention must pin the tag and expire the middle: $left")
      require(s2.sql(
        "SELECT count(*) FROM graft.t VERSION AS OF 'training-set-v1'")
        .collect().head.getLong(0) == byTag,
        "the pinned snapshot must read exactly after the sweep")
      // the tagged snapshot's rollup goes under the oracle
      s2.sql("""SELECT status, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM graft.t VERSION AS OF 'training-set-v1' GROUP BY status""")
    }),

    "q178_type_widening" -> ((s, dir) => {
      // METADATA-ONLY TYPE WIDENING — `ALTER TABLE t ALTER COLUMN c
      // TYPE BIGINT` (Delta 3.2 / Iceberg V2): the wide type is ONE
      // sidecar write, zero files rewritten — Spark 4's parquet readers
      // upcast narrow physical values per file at scan time. The
      // int-that-overflowed emergency at 100 TB becomes a metadata
      // commit instead of a petabyte rewrite. Gates: the ALTER moves no
      // files; post-ALTER inserts land values past Int.MaxValue in the
      // same column; a long predicate PRUNES int-era files (the bounds
      // stay comparable across eras); the mixed-era rollup goes under
      // the oracle.
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q178-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.t (k BIGINT, qty INT, price FLOAT)")
      val path = s"$wh/t"
      Tables(s2, dir, "lineitem").select(
        col("l_orderkey").cast("long").as("k"),
        col("l_quantity").cast("int").as("qty"),
        col("l_extendedprice").cast("float").as("price"))
        .createOrReplaceTempView("li_q178")
      s2.sql("INSERT INTO graft.t SELECT * FROM li_q178")
      val before = ManifestTable.dataFiles(path).toSet
      s2.sql("ALTER TABLE graft.t ALTER COLUMN qty TYPE BIGINT")
      s2.sql("ALTER TABLE graft.t ALTER COLUMN price TYPE DOUBLE")
      require(ManifestTable.dataFiles(path).toSet == before,
        "widening must rewrite nothing")
      // the wide era: quantities no INT can hold
      s2.sql("""INSERT INTO graft.t
        SELECT k, CAST(qty AS BIGINT) + 5000000000, CAST(price AS DOUBLE)
        FROM li_q178 WHERE k % 100 = 0""")
      val conds = Seq(Condition("qty", Op.Gte, 5000000000L))
      val (scanned, total) = ManifestTable.pruneCount(path, conds)
      require(scanned < total,
        s"a long predicate must prune int-era files: $scanned of $total")
      // the mixed-era rollup under the oracle (both eras, one column)
      s2.sql("""SELECT CAST(k % 7 AS BIGINT) AS grp,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(qty) AS BIGINT) AS total_qty,
          CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM graft.t GROUP BY 1""")
    }),

    "q177_wap_sql" -> ((s, dir) => {
      // WAP THROUGH SQL — the session door (Iceberg's spark.wap.id):
      // with `spark.graft.wap.id` set, plain `INSERT INTO` STAGES
      // batches (several accumulate under one id) while every reader,
      // and every OTHER session, keeps the pre-batch table; direct-
      // commit doors (UPDATE/MERGE/OVERWRITE) refuse loudly rather
      // than bypass the isolation; `ALTER TABLE … PUBLISH WAP` adopts
      // all staged batches in ONE commit; `… ABORT WAP` drops a bad id
      // without a trace. The published rollup goes under the oracle.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q177-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.t (k BIGINT, status STRING, price DOUBLE)")
      Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("ord_q177")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q177 WHERE k % 3 = 0")
      val path = s"$wh/t"
      val v0 = ManifestTable.latestVersion(path)
      val baseN = s2.sql("SELECT count(*) FROM graft.t").collect().head.getLong(0)
      // stage two INSERT batches under one wap id
      s2.conf.set("spark.graft.wap.id", "day-7")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q177 WHERE k % 3 = 1")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q177 WHERE k % 3 = 2")
      require(ManifestTable.latestVersion(path) == v0 &&
        s2.sql("SELECT count(*) FROM graft.t").collect().head.getLong(0) == baseN,
        "staged INSERTs must be invisible: no version, same rows")
      require(ManifestTable.stagedWaps(path) == Seq("day-7"),
        "both batches must ride one staged wap id")
      // direct-commit doors refuse under the wap session
      require(scala.util.Try(
        s2.sql("INSERT OVERWRITE graft.t SELECT * FROM ord_q177")).isFailure,
        "overwrite must refuse under a wap id")
      // audit on the as-if-published view, then publish through SQL
      val audited = ManifestTable.readWap(s2, path, "day-7").count()
      s2.conf.unset("spark.graft.wap.id")
      val pub = s2.sql("ALTER TABLE graft.t PUBLISH WAP 'day-7'").collect()
      require(pub.head.getString(1) == "published" &&
        pub.head.getLong(2) == v0 + 1,
        "publish must adopt both batches in one commit")
      require(s2.sql("SELECT count(*) FROM graft.t").collect()
        .head.getLong(0) == audited, "published == audited view")
      // a junk id aborts without a trace
      s2.conf.set("spark.graft.wap.id", "junk")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q177 LIMIT 10")
      s2.conf.unset("spark.graft.wap.id")
      require(s2.sql("ALTER TABLE graft.t ABORT WAP 'junk'").collect()
        .head.getString(1) == "aborted")
      require(ManifestTable.stagedWaps(path).isEmpty, "no staged residue")
      s2.sql("""SELECT status, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM graft.t GROUP BY status""")
    }),

    "q175_null_skipping" -> ((s, dir) => {
      // NULL-COUNT FILE SKIPPING — per-file null counts (Iceberg's
      // null_value_counts) ride the manifest beside min/max: `IS NULL`
      // skips files with ZERO nulls, and a column ENTIRELY null in a
      // file (tagged at harvest, no bounds ever compared) is skipped by
      // `IS NOT NULL` and every null-rejecting comparison. The sparse-
      // column shape at 100 TB: an enrichment column populated only for
      // the recent slice — "rows missing enrichment" and "enriched rows
      // only" both become minority scans decided in metadata.
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q175-")
        .toString + "/t"
      // the 16 files cut at the EXACT day quantiles: with every row in
      // the range sample (62500 x 16 partitions is Spark's one-million
      // cap) the layout, and so the file counts the gates below check,
      // no longer hangs on the sample's seed, which Spark derives from
      // the RDD id, i.e. from how many RDDs earlier queries created
      val exact = s.newSession()
      exact.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition",
        "62500")
      val o = Tables(exact, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("double").as("price"),
        when(to_date(col("o_orderdate")) >= lit("2000-06-01"),
          concat(lit("C#"), col("o_custkey") % 100)).as("clerk_recent"))
      ManifestTable.overwrite(o.repartitionByRange(16, col("day")), base)
      val (nnScan, total) = ManifestTable.pruneCount(base,
        Seq(Condition("clerk_recent", Op.NotNull, null)))
      require(nnScan * 4 < total,
        s"IS NOT NULL must skip the all-null majority: $nnScan of $total")
      val (inScan, _) = ManifestTable.pruneCount(base,
        Seq(Condition("clerk_recent", Op.IsNull, null)))
      require(inScan < total,
        s"IS NULL must skip zero-null files: $inScan of $total")
      // null-rejecting comparisons skip all-null files too
      val (eqScan, _) = ManifestTable.pruneCount(base,
        Seq(Condition("clerk_recent", Op.StartsWith, "C#")))
      require(eqScan <= nnScan,
        "a comparison must never open more files than IS NOT NULL")
      // the enriched-slice rollup reads pruned and goes under the oracle
      ManifestTable.readWhere(s, base,
          Seq(Condition("clerk_recent", Op.NotNull, null)))
        .where(col("clerk_recent").isNotNull)
        .groupBy(col("clerk_recent"))
        .agg(count(lit(1)).as("n"), decSum(col("price")).as("revenue"))
    }),

    "q176_prefix_skipping" -> ((s, dir) => {
      // PREFIX-MATCH FILE SKIPPING — `LIKE 'p%'` is range-prunable
      // (every match sits in [prefix, successor(prefix)) in UTF-8
      // order — Iceberg's truncate-transform bound logic), unlike
      // contains. Gates: a prefix predicate over a prefix-clustered
      // key opens a minority of files (pruneCount ×4), the same
      // predicate arrives pruned through the DSv2 LIKE pushdown, and
      // `OPTIMIZE … WHERE tag LIKE 'p%'` scopes compaction to the
      // prefix's files. The rollup goes under the oracle.
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q176-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.c (k BIGINT, tag STRING, bal DOUBLE)")
      val path = s"$wh/c"
      val c = Tables(s2, dir, "customer").select(
        col("c_custkey").cast("long").as("k"),
        concat(col("c_mktsegment"), lit("#"), col("c_custkey")).as("tag"),
        col("c_acctbal").cast("double").as("bal"))
      ManifestTable.overwrite(c.repartitionByRange(16, col("tag")), path)
      val conds = Seq(Condition("tag", Op.StartsWith, "MACHINERY#"))
      val (scanned, total) = ManifestTable.pruneCount(path, conds)
      // one of five segments ~= 20% of a range-clustered layout (+1
      // boundary file): a x3 margin proves pruning without flaking
      require(scanned * 3 < total,
        s"prefix must prune files: $scanned of $total survive")
      // scoped compaction through the SQL door's LIKE shape
      val before = ManifestTable.snapshotAt(path, None).get
      val scope = ManifestTable.statsSurvivors(path, conds).toSet
      s2.sql("OPTIMIZE graft.c WHERE tag LIKE 'MACHINERY#%'")
      val after = ManifestTable.snapshotAt(path, None).get
      require(after.version == before.version + 1 && !after.dataChange,
        "scoped OPTIMIZE must land one dataChange=false commit")
      require(before.files.filterNot(scope).forall(after.files.contains) &&
        scope.forall(f => !after.files.contains(f)),
        "only the prefix's files may be rewritten")
      // the prefix rollup reads through the catalog LIKE pushdown
      s2.sql("""SELECT substring(tag, 1, 9) AS seg,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        FROM graft.c WHERE tag LIKE 'MACHINERY#%' GROUP BY 1""")
    }),

    "q174_wap" -> ((s, dir) => {
      // WRITE-AUDIT-PUBLISH — the 100 TB ingest shape (Iceberg wap.id /
      // Netflix WAP): a batch STAGES against the table (files land,
      // constraints enforce) while every reader keeps the pre-batch
      // snapshot; audits run on the as-if-published view; a good batch
      // PUBLISHES in one conflict-retried idempotent commit; a bad one
      // ABORTS without a single downstream consumer ever seeing it.
      // Gates: staged invisibility (count + version pinned), audit over
      // readWap, junk-batch abort, zero-age vacuum sweeping ONLY the
      // aborted files, and the final published rollup under the oracle.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q174-")
        .toString + "/t"
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
      ManifestTable.overwrite(orders.where(col("k") % 2 === 0), base)
      val mainCount = ManifestTable.read(s, base).count()
      val v0 = ManifestTable.latestVersion(base)
      // stage the day's batch: odd keys
      ManifestTable.stageWap(orders.where(col("k") % 2 === 1), base, "day-1")
      require(ManifestTable.read(s, base).count() == mainCount &&
        ManifestTable.latestVersion(base) == v0,
        "a staged batch must be invisible to readers")
      // audit on the as-if-published view
      val audit = ManifestTable.readWap(s, base, "day-1")
      val total = audit.count()
      require(total > mainCount, "audit view must include the batch")
      require(audit.where(col("price") <= 0).count() == 0,
        "audit: no non-positive prices may enter")
      // a junk batch fails its audit and aborts unpublished
      ManifestTable.stageWap(
        orders.where(col("k") % 2 === 1).limit(50)
          .withColumn("price", -col("price")), base, "day-2-junk")
      require(ManifestTable.readWap(s, base, "day-2-junk")
        .where(col("price") <= 0).count() > 0, "junk must fail its audit")
      val junk = ManifestTable.abortWap(base, "day-2-junk")
      // publish the good batch; sweep reclaims EXACTLY the junk
      require(ManifestTable.publishWap(base, "day-1") == v0 + 1,
        "publish must land one commit")
      val swept = ManifestTable.vacuum(base, minAgeMs = 0L)
      require(junk.toSet.subsetOf(swept.toSet),
        "aborted junk must sweep once unreferenced")
      val live = ManifestTable.read(s, base)
      require(live.count() == total, "published table must be the audit view")
      live.groupBy(col("status"))
        .agg(count(lit(1)).as("n"), decSum(col("price")).as("revenue"))
    }),

    "q173_decimal_skipping" -> ((s, dir) => {
      // DECIMAL-STATS FILE SKIPPING — money columns are the third
      // predicate real pipelines cut on (after time and keys): DECIMAL
      // footer bounds (unscaled-int parquet stats rescaled to EXACT
      // plain-decimal strings — never a double round-trip, so a bound
      // within half a ULP of a literal can't mis-prune) ride the
      // manifest like q170's dates and q172's timestamps. Three legs:
      // (1) pruneCount: a price band over a price-clustered table
      //     survives ×4 fewer files than total;
      // (2) scoped `OPTIMIZE … WHERE price >= 90000.00` through the SQL
      //     door rewrites only the expensive tail, carrying the rest;
      // (3) metadata MIN/MAX/COUNT of the DECIMAL column answers with
      //     the data directory MOVED ASIDE.
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q173-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("""CREATE TABLE graft.li (l_orderkey BIGINT,
                price DECIMAL(12,2), qty DOUBLE)""")
      val path = s"$wh/li"
      val li = Tables(s2, dir, "lineitem").select(
        col("l_orderkey").cast("long").as("l_orderkey"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"),
        col("l_quantity").cast("double").as("qty"))
      ManifestTable.overwrite(li.repartitionByRange(16, col("price")), path)
      val conds = Seq(
        Condition("price", Op.Gte, new java.math.BigDecimal("30000.00")),
        Condition("price", Op.Lt, new java.math.BigDecimal("40000.00")))
      val (scanned, total) = ManifestTable.pruneCount(path, conds)
      require(scanned * 4 < total,
        s"decimal band must prune files: $scanned of $total survive")
      // leg 2: scoped compaction of the expensive tail only
      val before = ManifestTable.snapshotAt(path, None).get
      val tail = Seq(Condition("price", Op.Gte,
        new java.math.BigDecimal("90000.00")))
      val scope = ManifestTable.statsSurvivors(path, tail).toSet
      require(scope.nonEmpty && scope.size * 4 < total,
        s"the expensive tail must be a minority scope: ${scope.size} of $total")
      s2.sql("OPTIMIZE graft.li WHERE price >= 90000.00")
      val after = ManifestTable.snapshotAt(path, None).get
      require(after.version == before.version + 1 && !after.dataChange,
        "scoped OPTIMIZE must land one dataChange=false commit")
      val carried = before.files.filterNot(scope)
      require(carried.forall(after.files.contains),
        "out-of-scope files must carry untouched")
      require(scope.forall(f => !after.files.contains(f)),
        "in-scope files must be rewritten")
      // leg 3: decimal MIN/MAX + count from metadata alone
      val meta = s2.sql("""SELECT CAST(count(*) AS BIGINT) AS n,
        min(price) AS min_price, max(price) AS max_price FROM graft.li""")
      val dataDir = java.nio.file.Paths.get(s"$path/data")
      val hiddenD = java.nio.file.Paths.get(s"$path/.data-hidden")
      java.nio.file.Files.move(dataDir, hiddenD)
      val blind =
        try meta.collect().toSeq
        finally java.nio.file.Files.move(hiddenD, dataDir)
      require(blind == meta.collect().toSeq,
        "decimal MIN/MAX/COUNT must answer from the manifest alone")
      // the banded rollup reads through the catalog scan (file pruning
      // + residual exactness) and goes under the oracle
      s2.sql(s"""SELECT CAST(floor(CAST(price AS DOUBLE) / 1000) AS BIGINT)
            AS band,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(price) AS DOUBLE) AS revenue,
          CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        FROM graft.li
        WHERE price >= 30000.00 AND price < 40000.00
        GROUP BY 1""")
    }),

    "q170_date_skipping" -> ((s, dir) => {
      // DATE-STATS FILE SKIPPING — the canonical 100 TB scope: orders
      // committed range-clustered on a DATE column carry per-file
      // epoch-day bounds in the manifest (harvested from the parquet
      // footers), so a quarter window OPENS a few files, decided in
      // metadata BEFORE any scan plans (gate: scanned*4 < total). q70
      // proves the same machinery on integers; dates are the dimension
      // real retention/backfill jobs actually cut on. The windowed
      // rollup goes under the oracle.
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q170-")
        .toString + "/t"
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("double").as("price"))
      ManifestTable.overwrite(
        orders.repartitionByRange(16, col("day")), base)
      val conds = Seq(
        Condition("day", Op.Gte, java.sql.Date.valueOf("1995-01-01")),
        Condition("day", Op.Lte, java.sql.Date.valueOf("1995-03-31")))
      val (scanned, total) = ManifestTable.pruneCount(base, conds)
      require(scanned * 4 < total,
        s"date window must prune files: $scanned of $total survive")
      ManifestTable.readWhere(s, base, conds)
        .where(col("day").between("1995-01-01", "1995-03-31"))
        .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"), decSum(col("price")).as("revenue"))
    }),

    "q169_mv_fleet" -> ((s, dir) => {
      // MV REUSE ACROSS SESSIONS — the dashboard-fleet shape: one
      // session OWNS the rollup (creates, refreshes); every other
      // worker session opts in with registerAll and its queries ride
      // the rollup WITHOUT re-materializing anything. Freshness is
      // never guessed: after an unrefreshed append the fresh session
      // registers NOTHING (gate — a stale rollup must not answer), and
      // after the owner refreshes, registration resumes. The emitted
      // frame is the WORKER session's rewritten dashboard.
      import graft.plans.GraftMaterializedView
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q169-").toString
      val owner = s.newSession()
      owner.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      owner.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(owner, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q169")
      owner.sql("CREATE TABLE graft.src (k BIGINT, status STRING, price DOUBLE)")
      owner.sql("INSERT INTO graft.src SELECT * FROM ord_q169 WHERE o_orderkey % 2 = 0")
      owner.sql("""CREATE MATERIALIZED VIEW graft.mv AS
                   SELECT status, count(*) AS n, sum(price) AS sum_price
                   FROM graft.src GROUP BY status""").collect()
      // an unrefreshed append makes the rollup STALE: a fresh worker
      // must register nothing
      owner.sql("INSERT INTO graft.src SELECT * FROM ord_q169 WHERE o_orderkey % 2 = 1")
      val workerEarly = s.newSession()
      require(GraftMaterializedView.registerAll(workerEarly, wh).isEmpty,
        "a stale rollup must never register")
      // the owner refreshes; a worker session now opts in and rides it
      require(owner.sql("REFRESH MATERIALIZED VIEW graft.mv")
        .collect().head.getString(1) == "incremental")
      val worker = s.newSession()
      worker.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      worker.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val registered = GraftMaterializedView.registerAll(worker, wh)
      require(registered.map(_._2) == Seq(s"$wh/src"),
        s"the fresh rollup must register exactly once: $registered")
      def dashFrame() = worker.sql(
        """SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.src GROUP BY status""")
      def mvScans(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        df.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten.filter(_.contains("/mv/data"))
      }
      org.apache.spark.sql.SparkSession.setActiveSession(worker)
      try {
        require(mvScans(dashFrame()).nonEmpty,
          "the worker's dashboard must ride the owner's rollup")
        // third leg: the base moves AFTER the worker registered — the
        // version-armed rewrite must de-arm at SUBSTITUTION time (no
        // re-register, no refresh) and the dashboard answer from the
        // base scan, fresh by construction; the oracle covers the
        // post-append truth
        owner.sql(
          "INSERT INTO graft.src SELECT * FROM ord_q169 WHERE o_orderkey % 10 = 3")
        val dash2 = dashFrame()
        require(mvScans(dash2).isEmpty,
          "a post-registration base write must de-arm the rewrite")
        dash2
      } finally org.apache.spark.sql.SparkSession.setActiveSession(s)
    }),

    "q168_maintenance_capstone" -> ((s, dir) => {
      // THE ROUND-15 MAINTENANCE SURFACE COMPOSED END-TO-END, each
      // stage gated: a partitioned keyed table takes three commits; a
      // MATERIALIZED VIEW is created on it; the PARTITION SPEC EVOLVES
      // (zero files moved) before a fourth commit lands under the new
      // layout; REFRESH rides the change feed incrementally; a scoped
      // INCREMENTAL OPTIMIZE folds only the predicate's under-filled
      // files as a maintenance commit the MV correctly IGNORES (noop
      // refresh — dataChange=false); a SHALLOW CLONE branches the table
      // and an UPDATE to the clone leaves the source byte-identical;
      // VACUUM DRY RUN predicts the sweep, the real VACUUM performs it;
      // and the emitted dashboard still REWRITES onto the rollup. Any
      // cross-feature leak (stale MV, lost layout, clone write-through,
      // over-eager sweep) breaks a gate or the oracle hash.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q168-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q168")
      s2.sql("""CREATE TABLE graft.t (
                  k BIGINT, status STRING, prio STRING, price DOUBLE)
                PARTITIONED BY (status) TBLPROPERTIES ('merge.keys'='k')""")
      (0 until 3).foreach(i => s2.sql(
        s"INSERT INTO graft.t SELECT * FROM ord_q168 WHERE o_orderkey % 4 = $i"))
      s2.sql("""CREATE MATERIALIZED VIEW graft.mv AS
                SELECT prio, count(*) AS n, sum(price) AS sum_price
                FROM graft.t GROUP BY prio""").collect()
      // partition evolution is metadata-only, then one post-evolution commit
      val preEvo = ManifestTable.dataFiles(t).toSet
      s2.sql("ALTER TABLE graft.t DROP PARTITION FIELD status")
      s2.sql("ALTER TABLE graft.t ADD PARTITION FIELD prio")
      require(ManifestTable.dataFiles(t).toSet == preEvo,
        "spec evolution must move zero files")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q168 WHERE o_orderkey % 4 = 3")
      // the MV catches up over the feed, and equals a rebuild
      require(s2.sql("REFRESH MATERIALIZED VIEW graft.mv")
        .collect().head.getString(1) == "incremental")
      require(sameRows(ManifestTable.read(s2, s"$wh/mv"),
        operators.IncrementalAgg.materialize(
          ManifestTable.read(s2, t), Seq("prio"), Seq("price"))),
        "incremental MV refresh must equal a from-scratch rebuild")
      // scoped incremental compaction: a maintenance commit the MV ignores
      val vPre = ManifestTable.latestVersion(t)
      s2.sql("OPTIMIZE graft.t INCREMENTAL WHERE prio = '1-URGENT'").collect()
      val vOpt = ManifestTable.latestVersion(t)
      require(vOpt == vPre + 1 && !ManifestTable.isDataChange(t, vOpt),
        "scoped incremental OPTIMIZE must land one maintenance commit")
      require(s2.sql("REFRESH MATERIALIZED VIEW graft.mv")
        .collect().head.getString(1) == "noop",
        "a dataChange=false commit must not disturb MV freshness")
      // zero-copy branch: writes to the clone never touch the source
      s2.sql("CREATE TABLE graft.dev SHALLOW CLONE graft.t")
      val srcFiles = ManifestTable.dataFiles(t).toSet
      s2.sql("UPDATE graft.dev SET price = price * 2 WHERE k % 5 = 0")
      require(ManifestTable.dataFiles(t).toSet == srcFiles &&
        ManifestTable.latestVersion(t) == vOpt,
        "a clone write must leave the source untouched")
      // the dry run predicts; the sweep performs; reads still answer
      val dry = s2.sql("VACUUM graft.t RETAIN 1 VERSIONS FORCE DRY RUN").collect()
      require(dry.head.getString(3) == "dry_run" &&
        ManifestTable.versions(t).size == vOpt,
        "DRY RUN must touch nothing")
      s2.sql("VACUUM graft.t RETAIN 1 VERSIONS FORCE").collect()
      require(ManifestTable.versions(t) == Seq(vOpt),
        "VACUUM RETAIN 1 must leave only the optimized version")
      // retention past the CLONED version: one more commit, then a FULL
      // rewrite turns every cloned byte into a source orphan — the
      // clone's breadcrumb is the ONLY thing keeping them alive, and the
      // branch must survive the sweep intact (the Delta data-loss hazard
      // this format closes)
      val devCount = ManifestTable.read(s2, s"$wh/dev").count()
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q168 WHERE o_orderkey % 20 = 7")
      require(s2.sql("REFRESH MATERIALIZED VIEW graft.mv")
        .collect().head.getString(1) == "incremental")
      s2.sql("OPTIMIZE graft.t").collect() // full rewrite: total file turnover
      require(s2.sql("REFRESH MATERIALIZED VIEW graft.mv")
        .collect().head.getString(1) == "noop")
      s2.sql("VACUUM graft.t RETAIN 1 VERSIONS FORCE").collect()
      require(ManifestTable.versions(t).size == 1,
        "every pre-rewrite version must expire")
      require(ManifestTable.read(s2, s"$wh/dev").count() == devCount,
        "source retention past the cloned version must not break the clone")
      // the dashboard still rewrites onto the rollup — and goes to the oracle
      val dash = s2.sql(
        """SELECT prio, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.t GROUP BY prio""")
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      try {
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        val scanned = dash.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten
        require(scanned.exists(_.contains("/mv/data")),
          s"the dashboard must still ride the rollup, scans $scanned")
      } finally org.apache.spark.sql.SparkSession.setActiveSession(s)
      dash
    }),

    "q186_concurrency_capstone" -> ((s, dir) => {
      // CONCURRENCY CAPSTONE — every rebase-capable writer class races
      // a concurrent ingest on ONE table, in sequence: (A) full
      // OPTIMIZE loses its claim to an append and rebases (the append's
      // file carries uncompacted); (B) a replaceWhere backfill loses to
      // another append and rebases; (C) a MoR merge loses to a third
      // append and rebases with its delete seq pinned below the
      // winner's rows. Closing audit: every file in the data directory
      // is referenced by some version's manifest — across all three
      // races, ZERO staged bytes were orphaned, i.e. nobody re-staged.
      // This is the production shape at 100 TB: maintenance, backfill
      // and CDC all racing the ingest cadence on shared tables, each
      // conflict costing metadata instead of data. Final rollup under
      // the oracle.
      import graft.sources.ManifestTable
      // defensive: a prior failed gate must never leave the race armed
      ManifestTable.beforePublishHook = () => ()
      val wh = java.nio.file.Files.createTempDirectory("graft-q186-").toString
      val path = s"$wh/t"
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        (col("o_orderkey") % 4).cast("long").as("g"),
        col("o_totalprice").cast("double").as("price"))
      // ingest-by-group: each group's slice is its own commit, so the
      // backfill and merge scopes are file-disjoint by construction
      (0L to 3L).foreach { g =>
        ManifestTable.append(orders.where(col("g") === g).coalesce(2), path)
      }
      val v0 = ManifestTable.latestVersion(path)
      def ingest(tag: Long) = orders.where(col("g") === 0)
        .select((col("k") + tag * 10000000L).as("k"), lit(tag).as("g"),
          col("price")).coalesce(1)
      def arm(body: => Unit): Unit = {
        ManifestTable.beforePublishHook = () => {
          ManifestTable.beforePublishHook = () => ()
          body
        }
      }
      // (A) OPTIMIZE races ingest g=4: the compaction rebases
      arm { ManifestTable.append(ingest(4), path) }
      ManifestTable.compactCommit(spark = s, path = path)
      require(ManifestTable.latestVersion(path) == v0 + 2,
        "optimize + racing append must both land")
      // (B) backfill g=1 (price doubled) races ingest g=5
      arm { ManifestTable.append(ingest(5), path) }
      ManifestTable.replaceWhere(s, path, col("g") === 1,
        orders.where(col("g") === 1).withColumn("price", col("price") * 2))
      require(ManifestTable.latestVersion(path) == v0 + 4,
        "backfill + racing append must both land")
      // (C) MoR merge on g=2 keys (negate price for k<=400, tombstone
      // 400<k<=800) races ingest g=6
      val src = orders.where(col("g") === 2 && col("k") <= 400)
        .withColumn("price", -col("price")).withColumn("op", lit("U"))
        .unionByName(orders.where(col("g") === 2 &&
          col("k") > 400 && col("k") <= 800).withColumn("op", lit("D")))
      arm { ManifestTable.append(ingest(6), path) }
      ManifestTable.mergeMoR(s, path, src, Seq("k"),
        deleteWhen = Some(col("op") === "D"))
      require(ManifestTable.latestVersion(path) == v0 + 6,
        "merge + racing append must both land")
      // closing audit: zero orphans across every race = zero re-staging
      val referenced = (1L to (v0 + 6)).flatMap { v =>
        val m = ManifestTable.snapshotAt(path, Some(v)).get
        m.files ++ m.deletes.map(_._1)
      }.toSet
      val onDisk = scala.util.Using.resource(java.nio.file.Files.list(
          java.nio.file.Paths.get(path, "data"))) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString).toSet
      }
      require((onDisk -- referenced).isEmpty,
        s"zero staged bytes may be orphaned across the three races; " +
          s"found ${(onDisk -- referenced).size} unreferenced files")
      // the combined truth of all six writers under the oracle
      ManifestTable.read(s, path)
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q187_metadata_conflict" -> ((s, dir) => {
      // METADATA-COMMIT CONFLICT SCOPES — the nightly constraint/
      // maintenance pass races the ingest cadence on every real table;
      // neither side may serialize the other. Three injected races on
      // one table:
      //  (A) ADD CONSTRAINT lands FIRST, mid-backfill: the backfill's
      //      staged files are proven against the NEW contract with one
      //      O(staged) scan and rebase metadata-only (zero re-staged
      //      bytes — gated by file-set capture); DESCRIBE HISTORY's
      //      rebased_from names the staged-against version.
      //  (B) ADD CONSTRAINT loses its claim to a racing append: the
      //      retry re-validates ONLY the append's delta files, not the
      //      table — both land, no re-run.
      //  (C) the loud leg: an append whose staged rows satisfy the live
      //      contract but violate one landing mid-commit REFUSES at the
      //      claim (the table never asserts an invariant its rows were
      //      not checked against).
      // Final rollup under the oracle.
      import graft.sources.ManifestTable
      // defensive: a prior failed gate must never leave the race armed
      ManifestTable.beforePublishHook = () => ()
      val wh = java.nio.file.Files.createTempDirectory("graft-q187-").toString
      val path = s"$wh/t"
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("double").as("price"))
      ManifestTable.append(orders.where(year(col("day")) =!= 1996)
        .repartitionByRange(8, col("day")), path)
      ManifestTable.append(orders.where(year(col("day")) === 1996)
        .repartitionByRange(4, col("day")), path)
      val v0 = ManifestTable.latestVersion(path)
      def arm(body: => Unit): Unit = {
        ManifestTable.beforePublishHook = () => {
          ManifestTable.beforePublishHook = () => () // one-shot
          body
        }
      }
      def listing() = scala.util.Using.resource(java.nio.file.Files.list(
          java.nio.file.Paths.get(path, "data"))) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString).toSet
      }
      // (A) backfill 1996 (price*2) vs ADD CONSTRAINT — constraint wins
      val scope96 = col("day") >= java.sql.Date.valueOf("1996-01-01") &&
        col("day") <= java.sql.Date.valueOf("1996-12-31")
      var captured = Set.empty[String]
      ManifestTable.beforePublishHook = () => {
        ManifestTable.beforePublishHook = () => ()
        captured = listing() // base + the backfill's staged files
        ManifestTable.setConstraints(s, path, Seq("price >= 0"))
      }
      ManifestTable.replaceWhere(s, path, scope96,
        orders.where(year(col("day")) === 1996)
          .withColumn("price", col("price") * 2))
      require(ManifestTable.latestVersion(path) == v0 + 2,
        "constraint commit + rebased backfill must both land")
      require(ManifestTable.constraints(path) == Seq("price >= 0"),
        "the rebased rewrite must adopt the winner's contract")
      val winnerM = ManifestTable.snapshotAt(path, Some(v0 + 1)).get
      val finalA = ManifestTable.snapshotAt(path, None).get
      val loserAdded = finalA.files.toSet -- winnerM.files.toSet
      require(loserAdded.nonEmpty && loserAdded.forall(captured.contains),
        "rebase across contract drift must reuse staged files: " +
          s"${(loserAdded -- captured).size} fresh files found")
      val hist = ManifestTable.history(s, path)
      require(hist.where(col("version") === v0 + 2)
          .select("rebased_from").head().getLong(0) == v0,
        "DESCRIBE HISTORY must name the version the rebase staged against")
      require(hist.where(col("version") === v0 + 1)
          .select("rebased_from").head().isNullAt(0),
        "non-rebased commits carry no rebased_from")
      // (B) ADD CONSTRAINT k-cap vs a racing append (rows satisfy both)
      val extra97 = orders.where(year(col("day")) === 1997)
        .select((col("k") + 20000000L).as("k"), col("day"), col("price"))
      arm { ManifestTable.append(extra97.coalesce(2), path) }
      ManifestTable.setConstraints(s, path, Seq("price >= 0", "k < 90000000"))
      require(ManifestTable.latestVersion(path) == v0 + 4,
        "racing append + delta-revalidated constraint must both land")
      require(ManifestTable.constraints(path) ==
        Seq("price >= 0", "k < 90000000"), "the stricter contract holds")
      // (C) an append violating the contract that lands mid-commit refuses
      val bad = orders.where(year(col("day")) === 1997).limit(50)
        .select((col("k") + 40000000L).as("k"), col("day"), col("price"))
      arm { ManifestTable.setConstraints(s, path,
        Seq("price >= 0", "k < 30000000")) }
      val refused =
        try { ManifestTable.append(bad, path); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("do not satisfy the new contract") }
      require(refused,
        "an append racing a contract its rows violate must refuse loudly")
      require(ManifestTable.latestVersion(path) == v0 + 5,
        "the refused append must land nothing")
      require(ManifestTable.read(s, path)
          .where(col("k") >= 30000000L).count() == 0,
        "no row above the k-cap may exist after the refusal")
      // the combined truth of every landed writer under the oracle
      ManifestTable.read(s, path)
        .groupBy(year(col("day")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q183_concurrent_backfill" -> ((s, dir) => {
      // LOGICAL COMMIT-CONFLICT RULES — two writers, one table, zero
      // wasted bytes: session A backfills 1996 while session B's
      // backfill of 1997 lands FIRST (injected at the exact point where
      // A has staged but not published). The old protocol made A
      // abandon its staged files and re-run the whole rewrite; the
      // logical rules prove the scopes disjoint (A's input files all
      // still live, no delete landed, no B-added file holds a 1996
      // row — scanned pushed-down, O(B's commit)) and REBASE A's
      // already-staged files onto the new head metadata-only. Gates:
      // both commits land as their own versions; A's files in the final
      // manifest are EXACTLY the ones staged before B committed (a
      // re-run would stage fresh names); both corrections correct under
      // the oracle. At 100 TB this is N concurrent backfill pipelines
      // on one table instead of a serialized retry storm.
      import graft.sources.ManifestTable
      // defensive: a prior failed gate must never leave the race armed
      ManifestTable.beforePublishHook = () => ()
      val wh = java.nio.file.Files.createTempDirectory("graft-q183-").toString
      val path = s"$wh/t"
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("day"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
      // ingest-by-period (how a synced table actually lands): each
      // year's slice is its own commit, so the two backfills' scopes
      // are file-disjoint by construction — the shape the logical
      // conflict rules exist for
      ManifestTable.append(orders.where(!year(col("day")).isin(1996, 1997))
        .repartitionByRange(8, col("day")), path)
      ManifestTable.append(orders.where(year(col("day")) === 1996)
        .repartitionByRange(4, col("day")), path)
      ManifestTable.append(orders.where(year(col("day")) === 1997)
        .repartitionByRange(4, col("day")), path)
      val v0 = ManifestTable.latestVersion(path)
      def scope(y: Int) =
        col("day") >= java.sql.Date.valueOf(s"$y-01-01") &&
          col("day") <= java.sql.Date.valueOf(s"$y-12-31")
      val corr96 = orders.where(year(col("day")) === 1996)
        .withColumn("price", col("price") * 2)
      val corr97 = orders.where(year(col("day")) === 1997)
        .withColumn("price", col("price") * 3)
      // capture the data-dir listing at the moment A has staged; then
      // let B's disjoint backfill win the version claim
      var captured = Set.empty[String]
      ManifestTable.beforePublishHook = () => {
        ManifestTable.beforePublishHook = () => () // one-shot
        captured = scala.util.Using.resource(java.nio.file.Files.list(
            java.nio.file.Paths.get(path, "data"))) { st =>
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.getFileName.toString).toSet
        }
        ManifestTable.replaceWhere(s, path, scope(1997), corr97)
      }
      ManifestTable.replaceWhere(s, path, scope(1996), corr96)
      require(ManifestTable.latestVersion(path) == v0 + 2,
        "both interleaved backfills must land as their own versions")
      val winnerM = ManifestTable.snapshotAt(path, Some(v0 + 1)).get
      val finalM = ManifestTable.snapshotAt(path, None).get
      val loserAdded = finalM.files.toSet -- winnerM.files.toSet
      require(loserAdded.nonEmpty && loserAdded.forall(captured.contains),
        "the losing backfill must REUSE its staged files (metadata-only " +
          "rebase), not re-stage: " +
          s"${(loserAdded -- captured).size} fresh files found")
      // the year-level truth of both corrections under the oracle
      ManifestTable.read(s, path)
        .groupBy(year(col("day")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q194_run_maintenance" -> ((s, dir) => {
      // RUN MAINTENANCE — the q135 advisor becomes the nightly job
      // (r18 verdict stretch item): `RUN MAINTENANCE t RETAIN n
      // VERSIONS` executes every recommended plan row — ledger fold →
      // incremental compaction → index catch-up → retention — each
      // through its own conflict-rebasing machinery, and reports what
      // ran. Gates: the plan recommends all four action families
      // before, the pass CONVERGES (a second plan recommends nothing),
      // and the relational truth is byte-identical across it — the
      // whole point of maintenance is being invisible to readers. At
      // 100 TB this is the one statement a scheduler runs per table
      // per night.
      import graft.sources.{BloomIndex, ManifestTable}
      val wh = java.nio.file.Files.createTempDirectory("graft-q194-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("""CREATE TABLE graft.m (k BIGINT, status STRING, price DOUBLE)
                TBLPROPERTIES ('merge.keys'='k')""")
      val p = s"$wh/m"
      val orders = Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
      // small-file ingest cadence: 6 slice appends
      (0 until 6).foreach(i =>
        ManifestTable.append(orders.where(col("k") % 6 === i), p))
      // index the early files, then keep ingesting: the sidecar falls
      // behind (the reindex recommendation's trigger)
      BloomIndex.build(s2, p, Seq("k"))
      ManifestTable.append(orders.limit(0), p) // schema-only straggler
      // a keyed reprice leaves a MoR ledger (the fold recommendation)
      ManifestTable.mergeMoR(s2, p, orders.where(col("k") % 7 === 0)
        .withColumn("price", col("price") * 2.0), Seq("k"))
      val planned = ManifestTable.maintenancePlan(s2, p, keepLast = 2)
        .where(col("recommended")).select("action").collect()
        .map(_.getString(0)).toSet
      require(Set("compact_incremental", "fold_deletes", "expire",
          "reindex_bloom:k").subsetOf(planned),
        s"the advisor must recommend all four families, got $planned")
      val before = ManifestTable.read(s2, p)
        .groupBy("status").agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).as("rev"))
        .collect().toSet
      // THE door: one statement runs the whole plan
      val report = s2.sql("RUN MAINTENANCE graft.m RETAIN 2 VERSIONS")
        .collect()
      val ran = report.filter(_.getBoolean(2)).map(r =>
        r.getString(0) -> r.getString(3)).toMap
      require(ran.keySet == planned && !ran.values.exists(_ == "skipped"),
        s"every recommended action must execute: $ran")
      // convergence: the nightly job leaves nothing recommended
      val after = ManifestTable.maintenancePlan(s2, p, keepLast = 2)
        .where(col("recommended")).count()
      require(after == 0, s"the pass must converge, $after still recommended")
      require(ManifestTable.versions(p).size <= 2, "retention applied")
      require(ManifestTable.snapshotAt(p, None).get.deletes.isEmpty,
        "the ledger must be folded")
      // maintenance is invisible to the relational truth
      val afterRows = ManifestTable.read(s2, p)
        .groupBy("status").agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).as("rev"))
        .collect().toSet
      require(afterRows == before, "maintenance must not change ONE value")
      ManifestTable.read(s2, p).groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q193_branch_dml" -> ((s, dir) => {
      // BRANCH DML — the audit-a-CORRECTION flow branch refs could not
      // express before (r18 "What's missing" 3): UPDATE and DELETE now
      // route onto a ref as keyed MoR ledger commits (mergeMoRBranch),
      // so a correction — reprice a scope, drop poison rows, land the
      // late batch — stages on the branch, audits through the SAME
      // shared read path (`VERSION AS OF '<name>'` reconciles ledger +
      // files), and fast-forward publishes data AND ledger in ONE
      // STRICT main commit (no rebase with a ledger in flight — seqs
      // are parent-relative; BranchSpec arms the race). Main is
      // byte-untouched until the audit passes. At 100 TB this is the
      // staged-correction review gate a data platform actually runs.
      import graft.sources.ManifestTable
      ManifestTable.beforePublishHook = () => ()
      val wh = java.nio.file.Files.createTempDirectory("graft-q193-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("ord_q193")
      s2.sql("""CREATE TABLE graft.ord (k BIGINT, status STRING, price DOUBLE)
                TBLPROPERTIES ('merge.keys'='k')""")
      s2.sql("INSERT INTO graft.ord SELECT * FROM ord_q193")
      val p = s"$wh/ord"
      val total = s2.table("ord_q193").count()
      val v0 = ManifestTable.latestVersion(p)
      s2.sql("ALTER TABLE graft.ord CREATE BRANCH 'corr'")
      // the correction, staged entirely on the ref
      ManifestTable.updateBranchWhere(s2, p, "corr", col("status") === "F",
        Map("price" -> (col("price") + 10.0)), Seq("k"))
      ManifestTable.deleteBranchWhere(s2, p, "corr",
        col("k") % 13 === 0, Seq("k"))
      ManifestTable.appendBranch(
        s2.table("ord_q193").where(col("k") % 10 === 0)
          .select((col("k") + 100000000L).as("k"), lit("X").as("status"),
            (col("price") * 0.5).as("price")), p, "corr")
      // main is untouched while the correction stages
      require(ManifestTable.latestVersion(p) == v0 &&
        s2.sql("SELECT count(*) FROM graft.ord").head().getLong(0) == total,
        "branch DML must never move main")
      // the audit: VERSION AS OF the ref reconciles ledger + files
      val audited = s2.sql(
        "SELECT k, status, price FROM graft.ord VERSION AS OF 'corr'")
      val deleted = s2.table("ord_q193").where(col("k") % 13 === 0).count()
      val late = s2.table("ord_q193").where(col("k") % 10 === 0).count()
      require(audited.count() == total - deleted + late,
        "the audit read must see update+delete+append reconciled")
      require(audited.where(col("k") % 13 === 0 &&
          col("k") < 100000000L).count() == 0,
        "deleted keys must be gone from the audit read")
      // publish: ONE main commit carries files AND ledger
      val v = ManifestTable.fastForward(p, "corr")
      require(v == v0 + 1, s"fast-forward must land ONE version, got $v")
      val t = ManifestTable.read(s2, p)
      require(t.count() == total - deleted + late)
      t.groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q192_join_mv_sql" -> ((s, dir) => {
      // DECLARED JOIN MATERIALIZED VIEWS — q190's hand-assembled
      // incremental join maintenance promoted to a maintained surface:
      // `CREATE MATERIALIZED VIEW ... AS SELECT ... JOIN ... USING (k)`
      // registers a keyed denormalized view; the TRANSPARENT rewrite
      // substitutes it for matching join subtrees (double-armed on BOTH
      // base versions — a write to either side de-arms, fresh by
      // construction); REFRESH rides the two-sided delta fold — left
      // feed upserts re-join the dim the view reflects, the changed dim
      // keys stats-prune the fact read, deletes leave by key. Gates:
      // the dashboard join plan-gates onto the view scan, REFRESH after
      // two MoR deltas reports incremental and equals the rebuild
      // row-for-row. At 100 TB this is the serving table the push
      // pipeline's events⋈resources join (reference core/pipeline.py:83)
      // wants maintained, declared once instead of re-joined per query.
      import graft.plans.MvRewrite
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q192-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("ck"),
          col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("ord_q192")
      Tables(s2, dir, "customer").select(
          col("c_custkey").cast("long").as("ck"),
          col("c_mktsegment").as("seg"))
        .createOrReplaceTempView("cust_q192")
      s2.sql("""CREATE TABLE graft.fact (k BIGINT, ck BIGINT, price DOUBLE)
                TBLPROPERTIES ('merge.keys'='k')""")
      s2.sql("""CREATE TABLE graft.dim (ck BIGINT, seg STRING)
                TBLPROPERTIES ('merge.keys'='ck')""")
      s2.sql("INSERT INTO graft.fact SELECT * FROM ord_q192")
      s2.sql("INSERT INTO graft.dim SELECT * FROM cust_q192")
      s2.sql("""CREATE MATERIALIZED VIEW graft.jv AS
                SELECT ck, k, price, seg
                FROM graft.fact JOIN graft.dim USING (ck)""").collect()
      val dashSql =
        """SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.fact JOIN graft.dim USING (ck) GROUP BY seg"""
      def scanPaths(df: DataFrame): Seq[String] = {
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        df.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten
      }
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      try {
        val ps = scanPaths(s2.sql(dashSql))
        require(ps.exists(_.contains("/jv/data")) &&
          !ps.exists(_.contains("/fact/")),
          s"the dashboard join must rewrite onto the VIEW scan: $ps")
        // ΔL: reprice k%5 (U), tombstone k%7 (D) on the fact feed
        val ords = s2.table("ord_q192")
        ManifestTable.mergeMoR(s2, s"$wh/fact",
          ords.where(col("k") % 5 === 0 && col("k") % 7 =!= 0)
            .withColumn("price", -col("price")).withColumn("op", lit("U"))
            .unionByName(ords.where(col("k") % 7 === 0)
              .withColumn("op", lit("D"))),
          Seq("k"), deleteWhen = Some(col("op") === "D"))
        // ΔR: a NARROW dim batch — ck<=120 re-segment (U) / %11 (D)
        val cust = s2.table("cust_q192")
        ManifestTable.mergeMoR(s2, s"$wh/dim",
          cust.where(col("ck") <= 120 && col("ck") % 11 =!= 0)
            .withColumn("seg", lit("SEG-X")).withColumn("op", lit("U"))
            .unionByName(cust.where(col("ck") <= 120 && col("ck") % 11 === 0)
              .withColumn("op", lit("D"))),
          Seq("ck"), deleteWhen = Some(col("op") === "D"))
        // stale view must NOT serve (double-armed freshness), then
        // REFRESH folds both deltas incrementally
        require(!scanPaths(s2.sql(dashSql)).exists(_.contains("/jv/data")),
          "a stale view must de-arm, never serve pre-delta rows")
        val r = s2.sql("REFRESH MATERIALIZED VIEW graft.jv").collect()
        require(r.head.getString(1) == "incremental",
          s"two CDC-materialized deltas must fold incrementally: ${r.head}")
        val mv = ManifestTable.read(s2, s"$wh/jv")
          .select("ck", "k", "price", "seg")
        val full = ManifestTable.read(s2, s"$wh/fact")
          .join(ManifestTable.read(s2, s"$wh/dim"), Seq("ck"))
          .select("ck", "k", "price", "seg")
        require(sameRows(mv, full),
          "maintained view must equal the A'⋈B' rebuild exactly")
        val dash = s2.sql(dashSql)
        require(scanPaths(dash).exists(_.contains("/jv/data")),
          "the refreshed view must serve the dashboard again")
        dash
      } finally {
        MvRewrite.deregisterJoin(s2, s"$wh/fact", s"$wh/dim")
        org.apache.spark.sql.SparkSession.setActiveSession(s)
      }
    }),

    "q191_table_txn" -> ((s, dir) => {
      // SINGLE-TABLE MULTI-ACTION TRANSACTION (Iceberg's Transaction):
      // one nightly pipeline bundle — retention DELETE + correction
      // APPEND + targeted UPDATE + contract tightening — lands as ONE
      // version: readers never see the scope deleted without the
      // correction, and the per-version commit machinery (§5b's floor)
      // is paid once, not four times. Gates: exactly one version for
      // the bundle, bundle-level idempotent replay (re-running the
      // whole pipeline with its commitId lands nothing), and the
      // WHOLE-BUNDLE conflict rebase — a disjoint ingest wins the slot
      // mid-commit, the bundle adopts metadata-only (rebased_from in
      // DESCRIBE HISTORY names the staged-against version). At 100 TB
      // this is a day's maintenance bundle racing streaming ingest
      // without serializing against it.
      import graft.sources.ManifestTable
      ManifestTable.beforePublishHook = () => ()
      val wh = java.nio.file.Files.createTempDirectory("graft-q191-").toString
      val p = s"$wh/t"
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("day"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
      ManifestTable.overwrite(orders.repartitionByRange(8, col("day")), p)
      val v0 = ManifestTable.latestVersion(p)
      val corrections = orders.where(col("k") % 10 === 0)
        .select((col("k") + 100000000L).as("k"),
          lit("1999-01-01").cast("date").as("day"), lit("X").as("status"),
          (col("price") * 0.5).as("price"))
      def bundle(): Long = {
        val txn = ManifestTable.newTransaction(s, p, Some("nightly-1"))
        txn.deleteWhere(col("day") < lit("1997-01-01").cast("date"))
        txn.append(corrections)
        txn.updateWhere(col("status") === "F",
          Map("price" -> (col("price") + 10.0)))
        txn.setConstraints(Seq("price >= 0"))
        txn.commit()
      }
      // a DISJOINT ingest wins the version slot mid-commit (outside the
      // delete scope by date, outside the update scope by status)
      val winner = orders.where(col("k") % 1000 === 1)
        .select((col("k") + 200000000L).as("k"),
          lit("1998-06-01").cast("date").as("day"),
          lit("W").as("status"), col("price"))
      @volatile var fired = false
      ManifestTable.beforePublishHook = () => {
        if (!fired) { fired = true
          ManifestTable.beforePublishHook = () => ()
          ManifestTable.append(winner, p)
        }
      }
      val v = try bundle() finally ManifestTable.beforePublishHook = () => ()
      require(v == v0 + 2,
        s"winner at v${v0 + 1}, then the WHOLE bundle as one version: $v")
      val h = ManifestTable.history(s, p)
        .where(col("version") === v).select("rebased_from").head()
      require(!h.isNullAt(0) && h.getLong(0) == v0,
        "the rebased bundle must record its staged-against version")
      require(bundle() == v, "bundle replay must answer the landed version")
      require(ManifestTable.latestVersion(p) == v,
        "a replayed bundle must land NOTHING")
      require(ManifestTable.constraints(p) == Seq("price >= 0"),
        "the bundle's contract must land with it")
      ManifestTable.read(s, p).groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q190_join_mv" -> ((s, dir) => {
      // INCREMENTAL JOIN-VIEW MAINTENANCE — q71's aggregate-MV story
      // extended to the harder shape, M = A ⋈ B with BOTH sides
      // changing. Each side's refresh reads only that side's
      // value-carrying change feed (O(changed files), the CDF contract):
      //  left  Δ: deleted A-keys leave M by key; changed rows re-join
      //           against B-current (a dim-sized broadcast);
      //  right Δ: only the CHANGED join keys touch A — the key set is
      //           collected (dim-delta-sized by construction), and
      //           A-current is read through the stats-pruned readWhere
      //           so only files whose key range touches the set are
      //           OPENED (gated: scanned < total); a deleted B row
      //           deletes every M row of its key (inner-join semantics).
      // Never A ⋈ B recomputed. The in-query gate proves the maintained
      // MV row-for-row equals the full recompute, then the MV rollup
      // goes under the oracle. At 100 TB this is how a denormalized
      // serving table tracks a 0.1% merge on either input — the fact
      // side is key-clustered (as its own ingest below is), so the
      // dim-batch refresh is O(touched files), never a fact-table scan.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q190-").toString
      val (pa, pb, pm) = (s"$wh/a", s"$wh/b", s"$wh/mv")
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("custkey"),
        col("o_totalprice").cast("double").as("price"))
      val customer = Tables(s, dir, "customer").select(
        col("c_custkey").cast("long").as("custkey"),
        col("c_mktsegment").as("segment"))
      ManifestTable.overwrite(
        orders.repartitionByRange(16, col("custkey")), pa)
      ManifestTable.overwrite(customer, pb)
      ManifestTable.overwrite(orders.join(customer, "custkey")
        .select("k", "custkey", "price", "segment"), pm)
      // ΔA: negate price for k%5 (U), tombstone k%7 (D) — disjoint sets
      val srcA = orders.where(col("k") % 5 === 0 && col("k") % 7 =!= 0)
        .withColumn("price", -col("price")).withColumn("op", lit("U"))
        .unionByName(orders.where(col("k") % 7 === 0)
          .withColumn("op", lit("D")))
      ManifestTable.mergeMoR(s, pa, srcA, Seq("k"),
        deleteWhen = Some(col("op") === "D"))
      // left-delta refresh from A's feed (pinned once: the upsert and
      // delete branches below reference it in one merge-source plan,
      // which would otherwise run the change-diff join twice)
      val fa = ManifestTable.changesWithValues(s, pa, 1L, 2L, "k")
        .localCheckpoint()
      val bCur = ManifestTable.read(s, pb)
      val upsA = fa.where(col("change_type") =!= "removed")
        .select(col("k"), col("after.custkey").as("custkey"),
          col("after.price").as("price"))
        .join(broadcast(bCur), "custkey")
        .select(col("k"), col("custkey"), col("price"), col("segment"),
          lit("U").as("op"))
      val delA = fa.where(col("change_type") === "removed")
        .select(col("k"), lit(0L).as("custkey"), lit(0.0).as("price"),
          lit("-").as("segment"), lit("D").as("op"))
      ManifestTable.mergeMoR(s, pm, upsA.unionByName(delA), Seq("k"),
        deleteWhen = Some(col("op") === "D"))
      // ΔB: a NARROW dim batch — custkeys 1..120 re-segment (U) or
      // tombstone where %11 (D) — the realistic incremental shape
      // (a few dim rows change per batch, not a third of the dimension)
      val srcB = customer
        .where(col("custkey") <= 120 && col("custkey") % 11 =!= 0)
        .withColumn("segment", lit("SEG-X")).withColumn("op", lit("U"))
        .unionByName(
          customer.where(col("custkey") <= 120 && col("custkey") % 11 === 0)
            .withColumn("op", lit("D")))
      ManifestTable.mergeMoR(s, pb, srcB, Seq("custkey"),
        deleteWhen = Some(col("op") === "D"))
      // right-delta refresh: collect the changed join keys (dim-delta-
      // sized), then touch A ONLY through the stats-pruned readWhere —
      // files whose custkey range misses the set are never opened
      val fb = ManifestTable.changesWithValues(s, pb, 1L, 2L, "custkey")
        .select(col("custkey"), col("change_type"),
          col("after.segment").as("new_segment"))
        .localCheckpoint() // read twice: the key-collect and the broadcast join
      val changedKeys = fb.select("custkey").distinct()
        .collect().map(_.getLong(0)).toSeq
      val keyCond = Seq(Condition("custkey", Op.In, changedKeys))
      val (scannedA, totalA) = ManifestTable.pruneCount(pa, keyCond)
      require(scannedA < totalA, "right-delta refresh must stats-prune " +
        s"A's scan to the touched files: $scannedA of $totalA")
      val srcM = ManifestTable.readWhere(s, pa, keyCond)
        .join(broadcast(fb), Seq("custkey"))
        .select(col("k"), col("custkey"), col("price"),
          coalesce(col("new_segment"), lit("-")).as("segment"),
          when(col("change_type") === "removed", "D")
            .otherwise("U").as("op"))
      ManifestTable.mergeMoR(s, pm, srcM, Seq("k"),
        deleteWhen = Some(col("op") === "D"))
      // the maintained MV must equal the full recompute, row for row
      val full = ManifestTable.read(s, pa)
        .join(ManifestTable.read(s, pb), "custkey")
        .select("k", "custkey", "price", "segment")
      val mv = ManifestTable.read(s, pm)
        .select("k", "custkey", "price", "segment")
      require(sameRows(mv, full),
        "maintained join MV must equal the A'⋈B' recompute exactly")
      // both delta pins are dead once the merges landed: release their
      // blocks before returning (merge()'s try/finally discipline)
      graft.operators.IndexScope.release(fa)
      graft.operators.IndexScope.release(fb)
      mv.groupBy(col("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q189_partition_delete" -> ((s, dir) => {
      // METADATA-ONLY DELETE (Delta's partition-aligned delete): when
      // the predicate rides the Condition algebra and a file's stats
      // PROVE every row matches, the file drops from the manifest
      // WITHOUT being read — retention by DELETE at 100 TB is a
      // manifest edit, not a table scan. Files provably outside the
      // scope never even join the discovery scan; straddling files
      // rewrite exactly as before; null columns block the proof
      // (DeleteSkipSpec pins that + the corrupt-file never-read proof).
      import graft.sources.ManifestTable
      ManifestTable.beforePublishHook = () => ()
      val wh = java.nio.file.Files.createTempDirectory("graft-q189-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.pd (k BIGINT, day DATE, price DOUBLE)")
      val path = s"$wh/pd"
      val orders = Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("double").as("price"))
      // ingest by year: every staged file's day range sits inside one
      // year (range-clustered), the layout a synced table actually has
      (1995 to 2001).foreach { y =>
        ManifestTable.append(orders.where(year(col("day")) === y)
          .repartitionByRange(3, col("day")), path)
      }
      val total = orders.count()
      val pre97 = orders.where(col("day") < lit("1997-01-01").cast("date")).count()
      // (A) the aligned retention pass through SQL: every 1995/1996 file
      // is provably all-matching → version lands with ZERO files staged
      s2.sql("DELETE FROM graft.pd WHERE day < DATE'1997-01-01'")
      val h = ManifestTable.history(s2, path)
      val hA = h.orderBy(col("version").desc)
        .select(col("files_added").cast("long"),
          col("files_removed").cast("long")).head()
      require(hA.getLong(0) == 0,
        s"aligned DELETE must stage nothing (${hA.getLong(0)} files added)")
      require(hA.getLong(1) >= 6,
        s"every 1995-96 file must drop metadata-only (${hA.getLong(1)})")
      require(s2.sql("SELECT count(*) FROM graft.pd").head().getLong(0)
        == total - pre97, "relational truth after the metadata-only drop")
      // (B) a mid-year cutoff: 1997 files straddle → rewrite; H1-covered
      // files still drop whole where the range allows
      s2.sql("DELETE FROM graft.pd WHERE day < DATE'1997-07-01'")
      val hB = ManifestTable.history(s2, path).orderBy(col("version").desc)
        .select(col("files_added").cast("long"),
          col("files_removed").cast("long")).head()
      require(hB.getLong(0) >= 1 && hB.getLong(0) <= 3,
        s"only 1997's straddling files may rewrite (${hB.getLong(0)})")
      // (C) files fully outside any scope are untouched across both
      // deletes: 1998+ files carry their original names from v<=7
      val mNow = ManifestTable.snapshotAt(path, None).get
      val m7 = ManifestTable.snapshotAt(path, Some(7L)).get
      val carried = mNow.files.toSet.intersect(m7.files.toSet)
      require(carried.nonEmpty && carried.size >= 12,
        s"1998-2001 files must carry byte-identical (${carried.size})")
      // the remaining table under the oracle
      ManifestTable.read(s2, path)
        .groupBy(year(col("day")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q188_branch_doors" -> ((s, dir) => {
      // BRANCH WRITE/READ DOORS beyond the session conf:
      //  - `df.writeTo(t).option("branch", name)` routes ONE write to
      //    the ref (scoped to the write, not ambient session state;
      //    naming a DIFFERENT ref in option and conf refuses);
      //  - `TIMESTAMP AS OF` under `spark.graft.branch` resolves on the
      //    BRANCH's own commit clock — wall-clock time travel for ref
      //    consumers (main-chain resolution untouched with the conf
      //    off); readBranchAsOf is the API twin;
      //  - fast-forward unchanged by either door.
      // Published rollup under the oracle.
      import graft.sources.ManifestTable
      ManifestTable.beforePublishHook = () => ()
      val wh = java.nio.file.Files.createTempDirectory("graft-q188-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.bt (k BIGINT, status STRING, price DOUBLE)")
      val path = s"$wh/bt"
      val orders = Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
      def slice(st: String) = orders.where(col("status") === st)
      val (nF, nO, nP) = (slice("F").count(), slice("O").count(),
        slice("P").count())
      ManifestTable.append(slice("F"), path) // main = the F slice
      ManifestTable.createBranch(path, "audit")
      // three ref commits through the per-write door; wall-clock marks
      // BETWEEN commits drive the branch-clock reads below
      slice("O").writeTo("graft.bt").option("branch", "audit").append()
      Thread.sleep(15)
      val t1 = System.currentTimeMillis()
      Thread.sleep(15)
      slice("P").writeTo("graft.bt").option("branch", "audit").append()
      Thread.sleep(15)
      val t2 = System.currentTimeMillis()
      Thread.sleep(15)
      val corr = slice("F").where(col("price") > 150000.0)
        .select((col("k") + 10000000L).as("k"), col("status"), col("price"))
      val nC = corr.count()
      corr.writeTo("graft.bt").option("branch", "audit").append()
      require(ManifestTable.read(s2, path).count() == nF,
        "main must keep the fork-point table through per-write commits")
      require(ManifestTable.branches(path)("audit").commits.size == 3,
        "all three writeTo commits must land on the ref")
      // conflicting doors refuse: option names one ref, conf another
      s2.conf.set("spark.graft.branch", "other")
      val conflicted =
        try { slice("P").limit(1).writeTo("graft.bt")
                .option("branch", "audit").append(); false }
        catch { case e: Throwable =>
          String.valueOf(e.getMessage).contains("conflicts") ||
            Option(e.getCause).exists(c =>
              String.valueOf(c.getMessage).contains("conflicts")) }
      require(conflicted, "option-vs-conf branch mismatch must refuse")
      // branch-clock TIMESTAMP AS OF under the session conf
      s2.conf.set("spark.graft.branch", "audit")
      def tsLit(t: Long) = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(t))
      def countAsOf(t: Long) = s2.sql(
        s"SELECT count(*) FROM graft.bt TIMESTAMP AS OF '${tsLit(t)}'")
        .head().getLong(0)
      require(countAsOf(t1) == nF + nO,
        "AS OF t1 on the branch clock = fork point + commit 1")
      require(countAsOf(t2) == nF + nO + nP,
        "AS OF t2 on the branch clock = fork point + commits 1-2")
      require(ManifestTable.readBranchAsOf(s2, path, "audit", t2).count()
        == nF + nO + nP, "the API twin resolves the same instant")
      s2.conf.unset("spark.graft.branch")
      require(countAsOf(t2) == nF,
        "conf off: the same instant resolves on MAIN's chain (untouched)")
      // the doors change routing, never the publish: fast-forward intact
      val v = ManifestTable.fastForward(path, "audit")
      require(ManifestTable.latestVersion(path) == v &&
        ManifestTable.branches(path).isEmpty, "ref consumed by publish")
      ManifestTable.read(s2, path)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    "q184_branch_backfill" -> ((s, dir) => {
      // BRANCH REFS — the multi-commit audit door WAP cannot be: a
      // three-day backfill accumulates on a writable branch (session
      // conf routes INSERT INTO to the ref), main's readers see the
      // fork-point table THROUGHOUT, the branch reads as a first-class
      // snapshot (`VERSION AS OF 'audit'` — stats pruning, same read
      // path), vacuum refuses to reap branch files while the ref lives,
      // and FAST FORWARD publishes all three commits in ONE atomic
      // version. Gates at every step; the published table under the
      // oracle.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q184-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.bf (k BIGINT, status STRING, price DOUBLE)")
      val path = s"$wh/bf"
      Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("ord_q184")
      s2.sql("INSERT INTO graft.bf SELECT * FROM ord_q184 WHERE k % 2 = 0")
      val mainCount = s2.sql("SELECT count(*) FROM graft.bf")
        .collect().head.getLong(0)
      val v0 = ManifestTable.latestVersion(path)
      s2.sql("ALTER TABLE graft.bf CREATE BRANCH 'audit'")
      // three branch commits through the session-conf door. Reads under
      // the conf resolve the REF (Iceberg's wap.branch
      // see-your-own-writes — chained corrections compose); main's
      // chain and conf-free readers never move.
      s2.conf.set("spark.graft.branch", "audit")
      var accumulated = mainCount
      Seq(1L, 3L, 5L).foreach { r =>
        s2.sql(s"INSERT INTO graft.bf SELECT * FROM ord_q184 WHERE k % 6 = $r")
        val sessionSees = s2.sql("SELECT count(*) FROM graft.bf")
          .collect().head.getLong(0)
        require(sessionSees > accumulated,
          "the branch session must see its own accumulated writes")
        accumulated = sessionSees
        require(ManifestTable.latestVersion(path) == v0,
          "branch commits must not move main's version chain")
        require(ManifestTable.read(s2, path).count() == mainCount,
          "conf-free readers must stay at the fork point throughout")
      }
      // a direct commit under the branch session refuses loudly
      require(scala.util.Try(ManifestTable.overwrite(
        s2.range(1).select(lit(0L).as("k"), lit("X").as("status"),
          lit(0.0).as("price")), path)).isFailure,
        "direct commits must refuse under an active branch session")
      s2.conf.unset("spark.graft.branch")
      require(ManifestTable.branches(path)("audit").commits.size == 3,
        "three branch commits must have accumulated")
      // the ref reads as a snapshot: fork point + all three commits
      val total = s2.sql("SELECT count(*) FROM ord_q184")
        .collect().head.getLong(0)
      require(s2.sql("SELECT count(*) FROM graft.bf VERSION AS OF 'audit'")
        .collect().head.getLong(0) == total,
        "the branch snapshot must read fork point + every branch commit")
      // vacuum never reaps live branch files
      val branchFiles = ManifestTable.branches(path)("audit").files.toSet
      val swept = ManifestTable.vacuum(path, minAgeMs = 0L)
      require(branchFiles.intersect(swept.toSet).isEmpty,
        "vacuum must retain files a live branch references")
      // fast-forward: all three commits in ONE atomic version
      s2.sql("ALTER TABLE graft.bf FAST FORWARD BRANCH 'audit'")
      require(ManifestTable.latestVersion(path) == v0 + 1,
        "fast-forward must publish the whole chain as ONE version")
      require(s2.sql("SELECT count(*) FROM graft.bf")
        .collect().head.getLong(0) == total)
      require(ManifestTable.branches(path).isEmpty, "the ref is consumed")
      // the published table under the oracle
      s2.sql("""SELECT status, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM graft.bf GROUP BY status""")
    }),

    "q182_release_capstone" -> ((s, dir) => {
      // DATASET-RELEASE CAPSTONE — the round-16 surface composed into
      // the lifecycle a training-data release actually runs:
      //   (1) WAP-stage the day's batch (conf door), audit, PUBLISH;
      //   (2) widen qty INT→BIGINT (metadata-only, zero rewrites);
      //   (3) replaceWhere-backfill 1996 with corrected prices —
      //       post-widen, so the rewrite lands wide files next to
      //       int-era carried ones;
      //   (4) TAG the release;
      //   (5) post-release churn: another insert, OPTIMIZE, and an
      //       aggressive VACUUM RETAIN 1 FORCE.
      // The tag must read the EXACT release through all of it — that is
      // the reproducibility contract every gate here serves. The tagged
      // rollup goes under the oracle.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q182-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("""CREATE TABLE graft.ds (k BIGINT, day DATE, status STRING,
                qty INT, price DOUBLE)""")
      val path = s"$wh/ds"
      Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("day"),
        col("o_orderstatus").as("status"),
        (col("o_orderkey") % 50).cast("int").as("qty"),
        col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("ord_q182")
      s2.sql("INSERT INTO graft.ds SELECT * FROM ord_q182 WHERE k % 2 = 0")
      // (1) WAP the odd half: stage, audit, publish
      s2.conf.set("spark.graft.wap.id", "ingest-day-2")
      s2.sql("INSERT INTO graft.ds SELECT * FROM ord_q182 WHERE k % 2 = 1")
      s2.conf.unset("spark.graft.wap.id")
      require(ManifestTable.readWap(s2, path, "ingest-day-2")
        .where(col("price") <= 0).count() == 0, "audit: prices positive")
      s2.sql("ALTER TABLE graft.ds PUBLISH WAP 'ingest-day-2'")
      // (2) metadata-only widen
      val filesBeforeWiden = ManifestTable.dataFiles(path).toSet
      s2.sql("ALTER TABLE graft.ds ALTER COLUMN qty TYPE BIGINT")
      require(ManifestTable.dataFiles(path).toSet == filesBeforeWiden,
        "widening must move nothing")
      // (3) backfill 1996 post-widen (wide files land beside int-era)
      val scope = col("day") >= java.sql.Date.valueOf("1996-01-01") &&
        col("day") <= java.sql.Date.valueOf("1996-12-31")
      val corrected = Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("day"),
        col("o_orderstatus").as("status"),
        (col("o_orderkey") % 50).cast("bigint").as("qty"),
        (col("o_totalprice").cast("double") * 2).as("price"))
        .where(year(col("day")) === 1996)
      ManifestTable.replaceWhere(s2, path, scope, corrected)
      // (4) tag the release and capture its truth
      s2.sql("ALTER TABLE graft.ds CREATE TAG 'release-v1'")
      val releaseCount = s2.sql(
        "SELECT count(*) FROM graft.ds VERSION AS OF 'release-v1'")
        .collect().head.getLong(0)
      // (5) churn the release must survive: insert, compact, sweep
      s2.sql("INSERT INTO graft.ds SELECT * FROM ord_q182 LIMIT 500")
      s2.sql("OPTIMIZE graft.ds")
      s2.sql("VACUUM graft.ds RETAIN 1 VERSIONS FORCE")
      require(s2.sql(
        "SELECT count(*) FROM graft.ds VERSION AS OF 'release-v1'")
        .collect().head.getLong(0) == releaseCount,
        "the tagged release must read exactly through churn and sweep")
      // the release rollup under the oracle
      s2.sql("""SELECT status, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(qty) AS BIGINT) AS total_qty,
          CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM graft.ds VERSION AS OF 'release-v1' GROUP BY status""")
    }),

    "q181_replace_where" -> ((s, dir) => {
      // REPLACE WHERE — the canonical BACKFILL (Delta's replaceWhere):
      // a day's corrected batch atomically REPLACES exactly that day —
      // delete-matching + insert in ONE commit, copy-on-write at file
      // granularity. Gates: out-of-scope files carry BYTE-IDENTICAL
      // (names preserved in the new manifest); an inserted row OUTSIDE
      // the predicate refuses in-scan (the stray row that would
      // silently survive the next backfill); re-running the same
      // corrected batch is idempotent BY VALUE (the scope's rows leave
      // exactly as the new ones land); the DSv2 door
      // (`df.writeTo(t).overwrite(cond)`) drives the second leg. The
      // backfilled table goes under the oracle.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q181-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.t (k BIGINT, day DATE, price DOUBLE)")
      val path = s"$wh/t"
      val orders = Tables(s2, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("double").as("price"))
      ManifestTable.append(
        orders.repartitionByRange(16, col("day")), path)
      val before = ManifestTable.snapshotAt(path, None).get
      // the corrected slice: 1996 rows, prices doubled
      val corrected = orders
        .where(year(col("day")) === 1996)
        .withColumn("price", col("price") * 2)
      // a filter-TRANSLATABLE scope (the DSv2 door requires the
      // condition to reach the source as pushed filters)
      val scopeCond = col("day") >= java.sql.Date.valueOf("1996-01-01") &&
        col("day") <= java.sql.Date.valueOf("1996-12-31")
      // leg 1: the API door replaces exactly the scope
      ManifestTable.replaceWhere(s2, path, scopeCond, corrected)
      val after = ManifestTable.snapshotAt(path, None).get
      val carried = after.files.toSet.intersect(before.files.toSet)
      require(carried.nonEmpty && carried.size < before.files.size,
        "out-of-scope files must carry; in-scope files must rewrite")
      // leg 2: a stray inserted row OUTSIDE the predicate refuses
      require(scala.util.Try(ManifestTable.replaceWhere(s2, path,
          scopeCond, orders.where(year(col("day")) === 1997).limit(5)))
        .isFailure, "rows outside the replaced predicate must refuse")
      require(ManifestTable.latestVersion(path) == after.version,
        "the refused replace must leave no commit")
      // leg 3: the DSv2 door re-runs the same backfill — idempotent by
      // value (delete-then-insert of the same scope)
      corrected.writeTo("graft.t").overwrite(scopeCond)
      require(ManifestTable.latestVersion(path) == after.version + 1,
        "the DSv2 overwrite must land one commit")
      // the backfilled table under the oracle
      s2.sql("""SELECT CAST(year(day) AS BIGINT) AS yr,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM graft.t GROUP BY 1""")
    }),

    "q180_mv_minmax" -> ((s, dir) => {
      // MIN/MAX MEASURES IN MATERIALIZED VIEWS — extremes are exactly
      // representable (stored in the column's OWN type, never decimal-
      // quantized like sums), so the transparent rewrite serving
      // min/max is value-identical to the base scan. Maintenance knows
      // its algebra: min/max are APPEND-MONOTONE — an insert-only
      // change feed folds them incrementally (gate: mode=incremental,
      // state equals a rebuild), while a DELETE may remove the very row
      // holding a group's extreme, which no fold can undo — the refresh
      // detects it and recomputes (gate: mode=full). The dashboard with
      // min/max/count/sum rides the rollup (plan-gated) and goes under
      // the oracle.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q180-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q180")
      s2.sql("CREATE TABLE graft.src (k BIGINT, status STRING, price DOUBLE)")
      s2.sql("INSERT INTO graft.src SELECT * FROM ord_q180 WHERE o_orderkey % 2 = 0")
      s2.sql("""CREATE MATERIALIZED VIEW graft.mv AS
                SELECT status, count(*) AS n, sum(price) AS sum_price,
                       min(price) AS min_price, max(price) AS max_price
                FROM graft.src GROUP BY status""").collect()
      val dashSql =
        """SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             min(price) AS cheapest, max(price) AS priciest
           FROM graft.src GROUP BY status"""
      def scansMv(df: DataFrame): Boolean = {
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        df.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten.exists(_.contains("/mv/data"))
      }
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      try {
        require(scansMv(s2.sql(dashSql)),
          "min/max/count/sum must ALL rewrite onto the rollup scan")
        // appends fold extremes incrementally
        s2.sql("INSERT INTO graft.src SELECT * FROM ord_q180 WHERE o_orderkey % 2 = 1")
        val r1 = s2.sql("REFRESH MATERIALIZED VIEW graft.mv").collect()
        require(r1.head.getString(1) == "incremental",
          s"append-only catch-up must fold min/max: ${r1.head}")
        require(sameRows(
            ManifestTable.read(s2, s"$wh/mv"),
            operators.IncrementalAgg.materialize(
              ManifestTable.read(s2, s"$wh/src"),
              Seq("status"), Seq("price"), Seq("price"))),
          "incremental min/max refresh must equal a from-scratch rebuild")
        // a delete may have removed a group's extreme: full recompute
        ManifestTable.deleteWhere(s2, s"$wh/src",
          col("price") >= 400000.0)
        val r2 = s2.sql("REFRESH MATERIALIZED VIEW graft.mv").collect()
        require(r2.head.getString(1) == "full",
          s"a delete under min/max measures must recompute: ${r2.head}")
        val dash = s2.sql(dashSql)
        require(scansMv(dash), "the recomputed rollup must serve the dashboard")
        dash
      } finally org.apache.spark.sql.SparkSession.setActiveSession(s)
    }),

    "q167_sql_mv" -> ((s, dir) => {
      // SQL MATERIALIZED VIEWS — the dashboard lifecycle as statements:
      // CREATE MATERIALIZED VIEW materializes the rollup in the
      // maintainable shape and registers the TRANSPARENT rewrite
      // (gate: the dashboard GROUP BY over the source table plans onto
      // the few-KB rollup scan, never the fact scan); REFRESH catches
      // it up INCREMENTALLY over the change feed after appends (gate:
      // mode=incremental, state equals a from-scratch rebuild) and by
      // full recompute after a delta commit with no materialized CDC
      // (gate: mode=full — correct for any history). At 100 TB this is
      // the interactive-dashboard contract: queries ride the rollup,
      // refresh cost rides the delta. The EMITTED frame is the
      // rewritten dashboard itself — the oracle checks the rewrite's
      // values, not just its plan.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q167-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q167")
      s2.sql("""CREATE TABLE graft.src (k BIGINT, status STRING, price DOUBLE)
                TBLPROPERTIES ('merge.keys'='k')""")
      s2.sql("INSERT INTO graft.src SELECT * FROM ord_q167 WHERE o_orderkey % 2 = 0")
      s2.sql("""CREATE MATERIALIZED VIEW graft.mv AS
                SELECT status, count(*) AS n, sum(price) AS sum_price
                FROM graft.src GROUP BY status""").collect()
      val dashSql =
        """SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.src GROUP BY status"""
      def scansMv(df: DataFrame): Boolean = {
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        df.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten.exists(_.contains("/mv/data"))
      }
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      try {
        require(scansMv(s2.sql(dashSql)),
          "the dashboard aggregate must rewrite onto the rollup scan")
        // append → incremental refresh; state must equal a rebuild
        s2.sql("INSERT INTO graft.src SELECT * FROM ord_q167 WHERE o_orderkey % 2 = 1")
        val r1 = s2.sql("REFRESH MATERIALIZED VIEW graft.mv").collect()
        require(r1.head.getString(1) == "incremental",
          s"append-only catch-up must ride the change feed: ${r1.head}")
        require(sameRows(
            ManifestTable.read(s2, s"$wh/mv"),
            operators.IncrementalAgg.materialize(
              ManifestTable.read(s2, s"$wh/src"), Seq("status"), Seq("price"))),
          "incremental refresh must equal a from-scratch rebuild")
        // delta commit without materialized CDC → full-recompute path
        s2.sql("UPDATE graft.src SET price = price * 2 WHERE status = 'F'")
        val r2 = s2.sql("REFRESH MATERIALIZED VIEW graft.mv").collect()
        require(r2.head.getString(1) == "full",
          s"a delta commit without CDC must fall back to recompute: ${r2.head}")
        // a current view no-ops (and keeps the rewrite registered)
        require(s2.sql("REFRESH MATERIALIZED VIEW graft.mv")
          .collect().head.getString(1) == "noop")
        val dash = s2.sql(dashSql)
        require(scansMv(dash), "the refreshed rollup must still serve the dashboard")
        dash
      } finally org.apache.spark.sql.SparkSession.setActiveSession(s)
    }),

    "q166_partition_evolution" -> ((s, dir) => {
      // PARTITION-SPEC EVOLUTION — Iceberg's ALTER TABLE ... ADD|DROP
      // PARTITION FIELD on the stats-pruned model: the layout changes
      // for FUTURE writes only (gate: the ALTERs move ZERO files), old
      // files keep their clustering and stats so mixed snapshots stay
      // exactly readable, new files cluster on the new field (gate: a
      // predicate on it prunes strictly inside the new batch while the
      // old batch stays conservatively read), and one OPTIMIZE
      // re-clusters the whole table under the evolved spec (gate: the
      // predicate then prunes table-wide, q148's clustering bound). At
      // 100 TB: fix tomorrow's layout now, re-layout the archive when
      // it pays — never a rewrite-the-world migration.
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q166-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k")
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q166")
      s2.sql("""CREATE TABLE graft.t (
                  k BIGINT, status STRING, prio STRING, price DOUBLE)
                PARTITIONED BY (status)""")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q166 WHERE o_orderkey % 2 = 0")
      val batch1 = ManifestTable.dataFiles(t).toSet
      // evolve the spec: status out, prio in — two metadata-only commits
      s2.sql("ALTER TABLE graft.t DROP PARTITION FIELD status")
      val r = s2.sql("ALTER TABLE graft.t ADD PARTITION FIELD prio").collect()
      require(r.head.getString(1) == "prio", s"evolved layout: ${r.head}")
      require(ManifestTable.dataFiles(t).toSet == batch1,
        "partition-spec evolution must not touch a single data file")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q166 WHERE o_orderkey % 2 = 1")
      val all = ManifestTable.dataFiles(t).toSet
      val batch2 = all.diff(batch1)
      val surv = ManifestTable.statsSurvivors(t,
        Seq(Condition("prio", Op.Eq, "1-URGENT"))).toSet
      // the new batch clusters on prio — the predicate prunes INSIDE it
      require(surv.intersect(batch2).size < batch2.size,
        s"post-evolution files must cluster on prio: " +
          s"${surv.intersect(batch2).size}/${batch2.size} survive")
      // the old batch was laid out on status — conservatively all read
      require(batch1.subsetOf(surv),
        "pre-evolution files keep their old layout (no silent rewrite)")
      // one OPTIMIZE converges the whole table onto the evolved spec
      s2.sql("OPTIMIZE graft.t").collect()
      val prios = Tables(s2, dir, "orders").select("o_orderpriority")
        .distinct().collect().map(_.getString(0)) // 5 values, metadata-sized
      val allOpt = ManifestTable.statsSurvivors(t, Seq.empty)
      prios.foreach { p =>
        val sv = ManifestTable.statsSurvivors(t,
          Seq(Condition("prio", Op.Eq, p)))
        require(sv.nonEmpty && sv.size < allOpt.size,
          s"after OPTIMIZE, prio '$p' must prune table-wide: " +
            s"${sv.size}/${allOpt.size}")
      }
      s2.sql("""SELECT prio, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
                FROM graft.t GROUP BY prio""")
    }),

    "q164_aqe_skew_join" -> ((s, dir) => {
      // AQE SKEW-JOIN SPLIT — the runtime answer to the problem q20
      // solves by hand-salting: a join key with 80% of the fact on ONE
      // value plans as a normal shuffle join, then AQE's runtime stage
      // statistics detect the oversized partition and SPLIT it across
      // tasks (each split re-reads the matching dim partition) — no
      // query rewrite, no salt column. At 100 TB this is the difference
      // between one straggler task holding 80 TB and even tasks.
      // Gate: the executed adaptive plan carries a skew-split shuffle
      // read. Thresholds are scaled to the toy data; the DECISION
      // LOGIC (factor over median + absolute floor) is Spark's own.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
      // both broadcast doors closed, or AQE converts the runtime-small
      // dim side to a broadcast join and there is no shuffle to split
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // accept the split even where it costs an extra shuffle — the
      // gate is about the decision, not this toy volume
      s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // a skewed reduce partition splits at MAP-OUTPUT granularity
      // (split specs are map-index ranges): the toy table reads as ONE
      // map task, whose single chunk cannot split — spread the fact
      // over 12 upstream tasks the way a real scan has thousands
      val fact = Tables(s2, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 10 < 8, 0L)
          .otherwise(col("o_orderkey") % 64).as("h"),
        col("o_totalprice").cast("double").as("price"))
        .repartition(12, col("o_orderkey"))
      // materialize the dim: its distinct's hash-partitioning on h would
      // otherwise be REUSED by the join (the SMJ's right child becomes
      // an aggregate, not a bare shuffle stage, and the skew rule
      // cannot split through an agg); a real dim arrives as its own scan
      val dim = Tables(s2, dir, "orders")
        .select((col("o_orderkey") % 64).as("h")).distinct()
        .withColumn("grp", (col("h") % 4).cast("string"))
        .localCheckpoint()
      val joined = fact.join(dim, "h")
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast(dec)).cast("double").as("revenue"))
      val rows = joined.collect() // execute: AQE decides from runtime stats
      require(executedNodes(joined).exists {
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
            r.hasSkewedPartition
          case _ => false
        },
        s"the 80%-hot key must trigger a skew split:\n" +
          joined.queryExecution.executedPlan.toString.take(1200))
      s2.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
    }),

    "q165_runtime_filter" -> ((s, dir) => {
      // RUNTIME BLOOM-FILTER PUSHDOWN — Spark's InjectRuntimeFilter: a
      // selective dim filter (p_size = 1, ~2% of parts) builds a Bloom
      // filter at runtime that is pushed into the FACT side's scan leg
      // as might_contain(l_partkey), discarding ~98% of fact rows
      // BEFORE the join shuffle. The 100 TB effect: the shuffle carries
      // the matching slice, not the table — the same reason q49 builds
      // its Bloom by hand; this is the optimizer doing it unasked.
      // Gate: the optimized plan carries the injected bloom probe on
      // the fact leg. Size thresholds are scaled to toy data; the
      // injection rule is Spark's own.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "64MB")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables(s2, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast(dec).as("qty"))
      val parts = Tables(s2, dir, "part")
        .select(col("p_partkey"), col("p_size"), col("p_brand"))
        .where(col("p_size") === 1)
      val joined = li.join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sum("qty").cast("double").as("sum_qty"))
      val plan = joined.queryExecution.optimizedPlan.toString
      require(plan.contains("might_contain") ||
          plan.contains("BloomFilterMightContain"),
        s"runtime bloom filter must be injected on the fact leg:\n" +
          plan.take(1200))
      joined
    }),

    "q160_table_codec" -> ((s, dir) => {
      // DECLARED WRITE CODEC — `TBLPROPERTIES('write.compression'=
      // 'zstd')`: every write door (INSERT staging, row-level delta
      // upsert/delete files, OPTIMIZE rewrites) emits the declared
      // parquet codec; existing files stay as-written (parquet is
      // per-file self-describing) until OPTIMIZE converges them. At
      // 100 TB snappy→zstd is ~30-40% of the storage and scan-IO bill —
      // a per-table knob, not a cluster-wide conf. Gate: every live
      // data file's footer reports ZSTD after insert + UPDATE +
      // OPTIMIZE; the rewritten table still answers exactly.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q160-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q160")
      s2.sql("""CREATE TABLE graft.t (k BIGINT, status STRING, price DOUBLE)
                TBLPROPERTIES ('merge.keys'='k', 'write.compression'='zstd')""")
      s2.sql("INSERT INTO graft.t SELECT * FROM ord_q160")
      s2.sql("UPDATE graft.t SET price = price * 2 WHERE k % 5 = 0")
      s2.sql("OPTIMIZE graft.t").collect()
      def codecOf(f: String): String = {
        val r = graft.sources.v2.CursorSource.openReader(
          new org.apache.hadoop.fs.Path(s"$t/data/$f"),
          new org.apache.hadoop.conf.Configuration())
        try r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.toString
        finally r.close()
      }
      val codecs = ManifestTable.dataFiles(t).map(codecOf).toSet
      require(codecs == Set("ZSTD"),
        s"every live file must carry the declared codec, got $codecs")
      s2.sql("""SELECT status, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
                FROM graft.t GROUP BY status""")
    }),

    "q161_incr_analyze" -> ((s, dir) => {
      // INCREMENTAL STATISTICS MAINTENANCE — the ANALYZE lifecycle a
      // 100 TB table actually runs: one full sketch pass at birth, then
      // (a) `ANALYZE … COMPUTE STATISTICS` after appends refreshes rows
      // and min/max bounds from MANIFEST METADATA ALONE (zero jobs),
      // and (b) `FOR COLUMNS` re-analysis rescans ONLY appended files,
      // UNIONING the persisted DataSketches HLL sketches — both
      // gate-proven by answering with every previously-covered data
      // file MOVED ASIDE. Stats stay within sketch error of the exact
      // distinct counts (gated); the emitted rollup is exact.
      import graft.sources.ColumnStats
      val wh = java.nio.file.Files.createTempDirectory("graft-q161-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q161")
      s2.sql("""CREATE TABLE graft.t AS
                SELECT * FROM ord_q161 WHERE o_orderkey % 2 = 0""")
      s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR ALL COLUMNS")
      val st0 = ColumnStats.load(t).get
      s2.sql("""INSERT INTO graft.t
                SELECT * FROM ord_q161 WHERE o_orderkey % 2 = 1""")
      // both refresh forms must answer with the ORIGINAL files gone
      val dataDir = java.nio.file.Paths.get(s"$t/data")
      val hid = java.nio.file.Files.createTempDirectory("graft-q161-hid-")
      st0.covered.foreach(f => java.nio.file.Files.move(
        dataDir.resolve(f), hid.resolve(f)))
      try {
        s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS") // metadata-only
        s2.sql("ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS o_custkey")
      } finally st0.covered.foreach(f => java.nio.file.Files.move(
        hid.resolve(f), dataDir.resolve(f)))
      val st1 = ColumnStats.load(t).get
      val exactRows = s2.table("graft.t").count()
      require(st1.rows == exactRows,
        s"refreshed row count ${st1.rows} != exact $exactRows")
      val exactNdv = s2.table("graft.t")
        .select("o_custkey").distinct().count()
      val ndv = st1.cols("o_custkey").distinct
      require(math.abs(ndv - exactNdv) <= math.max(5L, exactNdv / 10),
        s"merged NDV $ndv vs exact $exactNdv")
      require(st1.cols("o_orderkey").max.map(_.toDouble.toLong) ==
          Some(s2.table("graft.t").agg(max("o_orderkey")).head().getLong(0)),
        "metadata-refreshed max must match the exact maximum")
      s2.sql("""SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
                  CAST(count(DISTINCT o_custkey) AS BIGINT) AS custs,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
                FROM graft.t GROUP BY 1""")
    }),

    "q162_optimize_where" -> ((s, dir) => {
      // PREDICATE-SCOPED COMPACTION — `OPTIMIZE t WHERE <pred>`: the
      // nightly-maintenance shape at 100 TB is "compact yesterday's
      // partition after the day's stream", never the table. Six small
      // commits land under a PARTITIONED BY (status) layout; OPTIMIZE
      // WHERE status = 'F' folds ONLY the files whose stats-range
      // intersects the predicate (the same manifest pruning reads use).
      // Gates: (a) every non-matching file is CARRIED byte-identical
      // (surviving-name set == before minus the predicate's stats
      // survivors), (b) the commit is dataChange=false so streams skip
      // it, (c) the 'F' slice reads fewer files after, (d) contents
      // unchanged under the oracle.
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q162-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k")
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("ord_q162")
      s2.sql("""CREATE TABLE graft.t (k BIGINT, status STRING, price DOUBLE)
                PARTITIONED BY (status)""")
      (0 until 3).foreach(i => s2.sql(
        s"INSERT INTO graft.t SELECT * FROM ord_q162 WHERE o_orderkey % 3 = $i"))
      val before = ManifestTable.dataFiles(t).toSet
      val matching = ManifestTable.statsSurvivors(t,
        Seq(Condition("status", Op.Eq, "F"))).toSet
      require(matching.size >= 3 && matching.size < before.size,
        s"premise: the F slice spans >=3 of ${before.size} files, " +
          s"got ${matching.size}")
      val r = s2.sql("OPTIMIZE graft.t WHERE status = 'F'").collect()
      val v = r(0).getLong(0)
      val after = ManifestTable.dataFiles(t, Some(v)).toSet
      // (a) carried set is EXACTLY the non-matching files — nothing
      // else touched, nothing matching survived unfolded
      require(after.intersect(before) == before.diff(matching),
        "scoped OPTIMIZE must carry exactly the non-matching files")
      require(after.diff(before).nonEmpty && after.size < before.size,
        s"the F files must fold: ${before.size} -> ${after.size}")
      // (b) maintenance commit — streams must not replay it
      require(!ManifestTable.isDataChange(t, v),
        "scoped OPTIMIZE must land dataChange=false")
      // (c) the compacted slice now prunes to fewer files
      val matchAfter = ManifestTable.statsSurvivors(t,
        Seq(Condition("status", Op.Eq, "F"))).toSet
      require(matchAfter.size < matching.size,
        s"the F slice must read fewer files after: " +
          s"${matching.size} -> ${matchAfter.size}")
      s2.sql("""SELECT status, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
                FROM graft.t GROUP BY status""")
    }),

    "q152_lakehouse_capstone" -> ((s, dir) => {
      // THE ROUND'S SQL SURFACE COMPOSED END-TO-END, each stage gated:
      // one CREATE declares partitioning + PRIMARY KEY + CHECK; a
      // checkpointed STREAM lands two range-clustered epochs; MERGE
      // INTO doubles half the keys as a MoR delta commit; RENAME
      // COLUMN is metadata-only under the partition layout; OPTIMIZE
      // folds the delete ledger while PRESERVING partition clustering
      // under the renamed logical schema; VACUUM FORCE sweeps to
      // exactly the live files; time travel still answers the
      // pre-rename name. The oracle replays it all relationally — any
      // cross-feature leak (clustering lost, stale generated state,
      // mapping dropped, ledger resurfacing) breaks the hash.
      import graft.conditions.{Condition, Op}
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q152-").toString
      val s2 = streamSession(s)
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k")
      val t = s"$wh/sales"
      Tables(s2, dir, "orders").createOrReplaceTempView("orders_q152")
      // the CHECK deliberately references k, not qty: a column the
      // CONTRACT references is immutable, and qty is renamed below
      s2.sql("""CREATE TABLE graft.sales (
                  k BIGINT, grp STRING, qty DOUBLE,
                  CONSTRAINT pos CHECK (k >= 0),
                  CONSTRAINT pk PRIMARY KEY (k))
                PARTITIONED BY (grp)""")
      // two streamed epochs (checkpointed file feed, one file per batch)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q152-feed-")
      val feedDir = s"$tmp/feed"
      val src = Tables(s2, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("grp"),
        col("o_totalprice").cast("double").as("qty"))
      stagePart(src.where(col("k") % 2 === 0), tmp.toString, feedDir, "b1")
      stagePart(src.where(col("k") % 2 === 1), tmp.toString, feedDir, "b2")
      val schema = s2.read.parquet(feedDir).schema
      s2.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(feedDir)
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.sales").awaitTermination()
      require(ManifestTable.versions(t).size == 2,
        "two streamed epochs must land as two versions")
      // MERGE doubles qty for keys % 5 = 0 — a delta commit, zero rewrites
      val filesPreMerge = ManifestTable.dataFiles(t).toSet
      s2.sql("""MERGE INTO graft.sales AS t
                USING (SELECT o_orderkey AS k FROM orders_q152 WHERE o_orderkey % 5 = 0) AS s
                ON t.k = s.k
                WHEN MATCHED THEN UPDATE SET qty = t.qty * 2""")
      require(ManifestTable.dataFiles(t).toSet.intersect(filesPreMerge)
          == filesPreMerge,
        "the MERGE must be merge-on-read: no pre-merge file rewritten")
      // metadata-only rename under the partition layout
      s2.sql("ALTER TABLE graft.sales RENAME COLUMN qty TO quantity")
      // OPTIMIZE folds the ledger and KEEPS the partition clustering
      // under the renamed schema; VACUUM FORCE sweeps to the live files
      s2.sql("OPTIMIZE graft.sales TARGET 65536").collect()
      s2.sql("VACUUM graft.sales RETAIN 1 VERSIONS FORCE").collect()
      val all = ManifestTable.statsSurvivors(t, Seq.empty)
      val sv = ManifestTable.statsSurvivors(t,
        Seq(Condition("grp", Op.Eq, "1-URGENT")))
      require(all.size >= 3 && sv.nonEmpty && sv.size < all.size,
        s"partition clustering must survive OPTIMIZE: ${sv.size}/${all.size}")
      val onDisk = scala.util.Using.resource(java.nio.file.Files.list(
        java.nio.file.Paths.get(t, "data"))) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .count(_.endsWith(".parquet"))
      }
      require(onDisk == all.size,
        s"VACUUM must sweep to exactly the live files: $onDisk vs ${all.size}")
      require(ManifestTable.versions(t).size == 1,
        "RETAIN 1 must leave one version")
      s2.sql(
        """WITH urgent AS (
             SELECT CAST(count(*) AS BIGINT) AS nu
             FROM graft.sales WHERE grp = '1-URGENT')
           SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(quantity AS DECIMAL(18,4))) AS DOUBLE) AS total,
             (SELECT nu FROM urgent) AS n_urgent
           FROM graft.sales GROUP BY 1""")
    }),

    "q151_sql_ddl_contract" -> ((s, dir) => {
      // The table CONTRACT in standard DDL (TableCatalogCapability
      // SUPPORT_TABLE_CONSTRAINT + SUPPORTS_CREATE_TABLE_WITH_GENERATED
      // _COLUMNS): CREATE TABLE declares a GENERATED ALWAYS AS column,
      // a CHECK constraint, and a PRIMARY KEY in one statement — the
      // generated column is computed on every write that omits it and
      // validated when supplied, the CHECK rejects a bad insert
      // (gate-asserted), and the PRIMARY KEY keys the table at birth so
      // MERGE INTO works with zero property plumbing. ALTER TABLE ADD
      // CONSTRAINT lands a second CHECK through the same metadata
      // commit the API's setConstraints uses.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q151-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"
      Tables(s2, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .createOrReplaceTempView("li_src")
      s2.sql("""CREATE TABLE graft.t (
                  id BIGINT,
                  qty DOUBLE,
                  price DOUBLE,
                  gross DOUBLE GENERATED ALWAYS AS (qty * price),
                  CONSTRAINT pos_qty CHECK (qty > 0),
                  CONSTRAINT pk PRIMARY KEY (id))""")
      require(s2.sessionState.catalogManager.catalog("graft")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
          .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
            Array.empty, "t")).properties().get("merge.keys") == "id",
        "PRIMARY KEY must key the table at birth")
      // the generated column is ABSENT from the insert → computed
      s2.sql("""INSERT INTO graft.t (id, qty, price)
                SELECT l_orderkey * 10 + l_linenumber,
                       CAST(l_quantity AS DOUBLE),
                       CAST(l_extendedprice AS DOUBLE)
                FROM li_src WHERE l_linenumber = 1""")
      require(ManifestTable.generatedColumns(t) == Seq("gross" -> "qty * price"),
        "the DDL generation expression must land as table metadata")
      // CHECK from the DDL rejects a violating insert (loudly, pre-commit)
      val bad = try {
        s2.sql("INSERT INTO graft.t (id, qty, price) VALUES (1, -5.0, 2.0)")
        false
      } catch { case _: Throwable => true }
      require(bad, "the DDL CHECK constraint must reject qty <= 0")
      // keyed at birth: MERGE upserts without any property plumbing
      s2.sql("""MERGE INTO graft.t AS t
                USING (SELECT l_orderkey * 10 + l_linenumber AS id,
                              CAST(l_quantity AS DOUBLE) AS qty,
                              CAST(l_extendedprice AS DOUBLE) AS price
                       FROM li_src WHERE l_linenumber = 2) AS s
                ON t.id = s.id
                WHEN NOT MATCHED THEN INSERT (id, qty, price)
                  VALUES (s.id, s.qty, s.price)""")
      // ALTER ... ADD CONSTRAINT composes with the same commit protocol
      s2.sql("ALTER TABLE graft.t ADD CONSTRAINT pos_price CHECK (price > 0)")
      require(ManifestTable.constraints(t) == Seq("qty > 0", "price > 0"),
        s"ADD CONSTRAINT must append: ${ManifestTable.constraints(t)}")
      // SHOW CREATE TABLE round-trips the FULL contract: running the
      // rendered DDL recreates generated column, checks, and key
      val ddl = s2.sql("SHOW CREATE TABLE graft.t").head().getString(0)
      require(ddl.contains("GENERATED ALWAYS AS (qty * price)"),
        s"SHOW CREATE TABLE must render the generation expression:\n$ddl")
      s2.sql(ddl.replace("graft.t", "graft.t2"))
      val t2 = s"$wh/t2"
      val t2Keys = s2.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty, "t2")).properties().get("merge.keys")
      require(ManifestTable.generatedColumns(t2) == Seq("gross" -> "qty * price")
          && ManifestTable.constraints(t2) == Seq("qty > 0", "price > 0")
          && t2Keys == "id",
        "the rendered DDL must recreate the same table contract")
      s2.sql(
        """SELECT CAST(id % 7 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(gross AS DECIMAL(28,4))) AS DOUBLE) AS gross_sum
           FROM graft.t GROUP BY 1""")
    }),

    "q150_sql_maintenance" -> ((s, dir) => {
      // SQL MAINTENANCE statements (OPTIMIZE / VACUUM) through the
      // injected parser (GraftSqlParser via spark.sql.extensions —
      // Delta's model: a strict-superset dialect, unknown statements
      // delegate verbatim). Ten small INSERT commits leave a
      // many-small-files table with a MoR delete ledger; OPTIMIZE
      // compacts live rows into one maintenance commit (gates: fewer
      // files, version advanced, dataChange=false so streams skip it),
      // VACUUM ... RETAIN 1 VERSIONS FORCE expires history and sweeps
      // every unreferenced byte (gates: one version left, the data dir
      // holds exactly the live files). The oracle sees the surviving
      // rows — compaction and retention must be invisible to readers.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q150-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"$wh/t"
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src")
      s2.sql("""CREATE TABLE graft.t (k BIGINT, status STRING, price DOUBLE)
                TBLPROPERTIES ('merge.keys'='k')""")
      (0 until 10).foreach(i => s2.sql(
        s"INSERT INTO graft.t SELECT * FROM orders_src WHERE o_orderkey % 10 = $i"))
      s2.sql("DELETE FROM graft.t WHERE k % 7 = 0") // a MoR ledger to fold
      val filesBefore = ManifestTable.dataFiles(t).size
      require(filesBefore >= 10, s"premise: many small files, got $filesBefore")
      val opt = s2.sql("OPTIMIZE graft.t TARGET 262144").collect()
      require(opt.length == 1 && opt(0).getLong(2) < filesBefore,
        s"OPTIMIZE must shrink the file count: $filesBefore -> ${opt(0).getLong(2)}")
      require(ManifestTable.latestVersion(t) == opt(0).getLong(0) &&
        !ManifestTable.isDataChange(t, opt(0).getLong(0)),
        "OPTIMIZE must land as a maintenance (dataChange=false) commit")
      val vac = s2.sql("VACUUM graft.t RETAIN 1 VERSIONS FORCE").collect()
      require(ManifestTable.versions(t) == Seq(opt(0).getLong(0)),
        "VACUUM RETAIN 1 must leave only the optimized version")
      val live = ManifestTable.dataFiles(t).toSet
      val onDisk = {
        val dd = java.nio.file.Paths.get(t, "data")
        scala.util.Using.resource(java.nio.file.Files.list(dd)) { st =>
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSet
        }
      }
      require(onDisk == live,
        s"VACUUM must sweep every unreferenced file: ${onDisk.size} on disk, " +
          s"${live.size} live")
      require(vac(0).getLong(0) > 0 && vac(0).getLong(1) > 0,
        "VACUUM must report expired versions and deleted files")
      s2.sql(
        """SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.t GROUP BY status""")
    }),

    "q149_column_mapping" -> ((s, dir) => {
      // COLUMN MAPPING (Delta's name-mapping mode on this format): a
      // column's PHYSICAL name is frozen at birth; SQL RENAME COLUMN /
      // DROP COLUMN land as metadata-only commits (manifest `renames` /
      // `dropped_cols`, dataChange=false) — ZERO files rewritten
      // (gate-asserted on the file list), reads translate at the scan
      // boundary, writes translate back so every file keeps one
      // physical schema (gate: the raw parquet union still carries
      // 'qty', never 'quantity'), and time travel shows each version
      // under its own names (VERSION AS OF 1 still answers to 'qty').
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q149-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .createOrReplaceTempView("li_src")
      s2.sql("""CREATE TABLE graft.t AS
                SELECT l_orderkey AS k, l_linenumber AS ln,
                       CAST(l_quantity AS DOUBLE) AS qty, l_returnflag AS flag
                FROM li_src WHERE l_linenumber <= 3""")
      val path = s"$wh/t"
      val filesBefore = ManifestTable.dataFiles(path)
      s2.sql("ALTER TABLE graft.t RENAME COLUMN qty TO quantity")
      require(ManifestTable.dataFiles(path) == filesBefore,
        "RENAME COLUMN must be metadata-only: zero data files touched")
      require(ManifestTable.columnMapping(path)._1 == Map("quantity" -> "qty"),
        "manifest must map the new logical name to the frozen physical name")
      // post-rename writes speak the NEW name; the files stay physical
      s2.sql("""INSERT INTO graft.t
                SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE),
                       l_returnflag
                FROM li_src WHERE l_linenumber IN (4, 5)""")
      val raw = s2.read.option("mergeSchema", "true").parquet(
        ManifestTable.dataFiles(path).map(f => s"$path/data/$f"): _*).schema
      require(raw.fieldNames.contains("qty") &&
        !raw.fieldNames.contains("quantity"),
        s"files must carry the frozen physical name: ${raw.fieldNames.mkString(",")}")
      // DROP COLUMN hides (not rewrites) and time travel keeps old names
      s2.sql("ALTER TABLE graft.t DROP COLUMN ln")
      require(s2.table("graft.t").schema.fieldNames.toSeq ==
        Seq("k", "quantity", "flag"),
        "post-drop logical schema must hide the dropped column")
      require(s2.sql("SELECT qty, ln FROM graft.t VERSION AS OF 1").schema
        .fieldNames.sameElements(Array("qty", "ln")),
        "time travel must answer to the version's own names")
      s2.sql("""SELECT flag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
                FROM graft.t GROUP BY flag""")
    }),

    "q146_sql_rtas" -> ((s, dir) => {
      // ATOMIC CTAS / RTAS (StagingTableCatalog): the AS-SELECT data
      // stages invisibly (files in data/, referenced by no manifest)
      // and becomes the table in ONE overwrite commit — REPLACE TABLE
      // keeps every earlier version time-travelable, and a FAILING
      // RTAS (ANSI cast error mid-write) leaves the table byte-
      // identical: no version, no schema change (gate-asserted). The
      // create-then-write-then-drop non-atomic fallback never runs.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q146-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
        .createOrReplaceTempView("li_src")
      s2.sql("""CREATE TABLE graft.t AS
                SELECT l_orderkey AS k, l_returnflag AS flag,
                       CAST(l_quantity AS DOUBLE) AS qty
                FROM li_src WHERE l_linenumber = 1""")
      val n1 = s2.sql("SELECT count(*) FROM graft.t").head().getLong(0)
      s2.sql("""REPLACE TABLE graft.t AS
                SELECT l_orderkey AS k, l_returnflag AS flag,
                       CAST(l_quantity AS DOUBLE) AS qty
                FROM li_src WHERE l_linenumber = 2""")
      require(s2.sql("SELECT count(*) FROM graft.t VERSION AS OF 1")
        .head().getLong(0) == n1,
        "the pre-replace snapshot must stay time-travelable")
      val vBefore = ManifestTable.versions(s"$wh/t")
      require(scala.util.Try(s2.sql(
        """REPLACE TABLE graft.t AS
           SELECT CAST(x AS INT) AS k FROM VALUES ('nope') AS v(x)""")).isFailure,
        "an RTAS whose SELECT fails must throw")
      require(ManifestTable.versions(s"$wh/t") == vBefore,
        "a failed RTAS must commit nothing")
      s2.sql(
        """SELECT flag, count(*) AS n,
             CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
           FROM graft.t GROUP BY flag""")
    }),

    "q145_stream_totable" -> ((s, dir) => {
      // NATIVE STREAMING SINK: writeStream.toTable("graft.out") — no
      // foreachBatch anywhere. Each micro-batch's tasks stream rows
      // straight to parquet (the same executor-side row codec as the
      // SQL delta writes); the epoch commit publishes ONE version
      // tagged "st-<queryId>-<epoch>", so restarts replay nothing
      // (gate-asserted: an empty re-drain commits no version, a resumed
      // drain lands exactly the new source commit). Closes the loop
      // with q141: readStream.table ∘ writeStream.toTable, both native.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val wh = java.nio.file.Files.createTempDirectory("graft-q145-").toString
      val s2 = streamSession(s)
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val src = s"$wh/src"; val out = s"$wh/out"
      val ck = s"$wh/ck"
      val orders = Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      ManifestTable.append(orders.where(col("o_orderkey") % 2 === 0), src)
      s2.sql("CREATE TABLE graft.out (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
      def drain(): Unit = s2.readStream.format("graft-table").load(src)
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.out")
        .awaitTermination()
      drain()
      val vAfterFirst = ManifestTable.versions(out)
      drain() // no new source commits: nothing may land
      require(ManifestTable.versions(out) == vAfterFirst,
        "an empty re-drain must commit no version")
      ManifestTable.append(orders.where(col("o_orderkey") % 2 === 1), src)
      drain()
      require(ManifestTable.versions(out).size == vAfterFirst.size + 1,
        "the resumed drain must land exactly one new version")
      require(ManifestTable.latestCommitId(out).exists(_.startsWith("st-")),
        "epoch commits must carry the replay-protection commit id")
      s2.sql(
        """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.out GROUP BY o_orderstatus""")
    }),

    "q142_sql_update" -> ((s, dir) => {
      // SQL UPDATE as a MERGE-ON-READ DELTA COMMIT (SupportsDelta →
      // GraftRowLevelOperation): each task streams its delete-keys and
      // updated rows straight to parquet, one manifest publish lands
      // them — O(changed rows) staged bytes, ZERO rewritten data files
      // (gate-asserted), time travel intact. Two updates: a doubling of
      // 'F'-status prices (×2 is exponent arithmetic — FP-exact in both
      // engines) then a status remap on an arithmetic predicate no
      // metadata delete could express.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q142-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src")
      s2.sql("""CREATE TABLE graft.t (k BIGINT, status STRING, price DOUBLE)
                TBLPROPERTIES ('merge.keys'='k')""")
      s2.sql("INSERT INTO graft.t SELECT * FROM orders_src")
      val before = ManifestTable.dataFiles(s"$wh/t")
      s2.sql("UPDATE graft.t SET price = price * 2 WHERE status = 'F'")
      s2.sql("UPDATE graft.t SET status = 'X' WHERE k % 7 = 0")
      val after = ManifestTable.dataFiles(s"$wh/t")
      require(before.forall(after.contains),
        "SQL UPDATE must add MoR files, never rewrite existing ones")
      require(ManifestTable.deleteFiles(s"$wh/t").nonEmpty,
        "the updates must carry delete-ledger entries")
      require(s2.sql("SELECT count(*) FROM graft.t VERSION AS OF 1")
        .head().getLong(0) ==
        s2.sql("SELECT count(*) FROM graft.t").head().getLong(0),
        "UPDATE must not change the row count")
      s2.sql(
        """SELECT status, count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM graft.t GROUP BY status""")
    }),

    "q143_sql_merge" -> ((s, dir) => {
      // SQL MERGE INTO — matched UPDATE, matched DELETE, and
      // not-matched INSERT in ONE statement, landing as ONE delta
      // commit (gate-asserted): the full row-level DML surface Delta
      // exposes, over the same delete-ledger protocol API merges and
      // CDC replication use, so all three writers compose on one table.
      import graft.sources.ManifestTable
      val wh = java.nio.file.Files.createTempDirectory("graft-q143-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .createOrReplaceTempView("cust_src")
      s2.sql("""CREATE TABLE graft.t (k BIGINT, bal DOUBLE)
                TBLPROPERTIES ('merge.keys'='k')""")
      s2.sql("INSERT INTO graft.t SELECT * FROM cust_src WHERE c_custkey % 3 <> 0")
      val vBefore = ManifestTable.versions(s"$wh/t").size
      s2.sql(
        """MERGE INTO graft.t AS t
           USING (SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
                  FROM cust_src WHERE c_custkey % 2 = 0) AS s
           ON t.k = s.k
           WHEN MATCHED AND s.bal < 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET bal = s.bal * 2
           WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (s.k, s.bal)""")
      require(ManifestTable.versions(s"$wh/t").size == vBefore + 1,
        "the whole MERGE must land as one commit")
      s2.sql(
        """SELECT k % 10 AS bucket, count(*) AS n,
             CAST(sum(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS total
           FROM graft.t GROUP BY k % 10""")
    }),

    "q144_sql_alter" -> ((s, dir) => {
      // ALTER TABLE lifecycle, ending in the classic BACKFILL flow:
      // ADD COLUMN (null-filled immediately — existing files untouched,
      // the same mergeSchema semantics write-side evolution has), SET
      // TBLPROPERTIES('merge.keys') to key the table after creation,
      // an UPDATE backfilling the new column for every existing row,
      // and a check.* property landing a CHECK-constraint commit that
      // rejects a bad insert (gate-asserted).
      val wh = java.nio.file.Files.createTempDirectory("graft-q144-").toString
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables(s2, dir, "part")
        .select(col("p_partkey"), col("p_type"), col("p_retailprice"))
        .createOrReplaceTempView("part_src")
      s2.sql("CREATE TABLE graft.t (k BIGINT, ptype STRING, price DOUBLE)")
      s2.sql("INSERT INTO graft.t SELECT * FROM part_src")
      s2.sql("ALTER TABLE graft.t ADD COLUMN category STRING")
      require(s2.sql("SELECT category FROM graft.t").limit(5).collect()
        .forall(_.isNullAt(0)),
        "an ALTER-added column must read null-filled before any backfill")
      s2.sql("ALTER TABLE graft.t SET TBLPROPERTIES ('merge.keys'='k')")
      s2.sql("""UPDATE graft.t
                SET category = CASE WHEN price >= 950.0 THEN 'hi' ELSE 'lo' END""")
      s2.sql("ALTER TABLE graft.t SET TBLPROPERTIES ('check.pos'='price >= 0')")
      require(scala.util.Try(
        s2.sql("INSERT INTO graft.t VALUES (0, 'BOGUS', -1.0, 'lo')")).isFailure,
        "the ALTER-declared CHECK constraint must reject price < 0")
      s2.sql(
        """SELECT category, count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total
           FROM graft.t GROUP BY category""")
    }),

    "q113_stream_cdf" -> ((s, dir) => {
      // STREAMING CHANGE DATA FEED — Delta's readChangeFeed on this
      // format: commit-time CDC materialization (materializeCdf writes
      // the keyed diff of a merge commit to _change_data in Delta's
      // flat row shape) + the graft-table source in readChangeFeed
      // mode (appends synthesize `insert` rows from their added files;
      // merge commits stream their materialized change file; an
      // unmaterialized rewrite fails loudly naming the fix). The gate
      // drives a 3-version history (overwrite, keyed merge with
      // updates+inserts+deletes, append), drains the typed feed
      // through a checkpoint, RECONSTRUCTS the table from the feed
      // alone (latest change per key), and requires it equal to the
      // table read — then emits the reconstruction under the oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q113-").toString
      val t = s"$tmp/t"
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      ManifestTable.overwrite(customer, t) // v1
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      ManifestTable.merge(s, t,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D")) // v2
      ManifestTable.append(customer.where(col("c_custkey") % 11 === 7)
        .withColumn("c_custkey", col("c_custkey") + 20000000L), t) // v3
      ManifestTable.materializeCdf(s, t, 2L)
      val out = s"$tmp/feed"
      val s2 = streamSession(s)
      s2.readStream.format("graft-table")
        .option("path", t).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty)
            ManifestTable.append(b.toDF(), out, commitId = Some(s"c-$id"))
          ()
        }
        .start().awaitTermination()
      val feed = ManifestTable.read(s, out)
      val nDel = feed.where(col("_change_type") === "delete").count()
      require(nDel > 0 &&
        nDel == customer.where(col("c_custkey") % 13 === 0).count(),
        "delete rows must round-trip through the feed")
      require(feed.where(col("_change_type") === "update_postimage").count()
        == feed.where(col("_change_type") === "update_preimage").count(),
        "pre/postimage rows must pair")
      // reconstruct the table FROM THE FEED ALONE: latest change per
      // key wins (postimage preferred within its version); survivors
      // are inserts/postimages
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_custkey").orderBy(
        col("_commit_version").desc,
        when(col("_change_type") === "update_preimage", 1).otherwise(0))
      val rebuilt = feed.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1 &&
          col("_change_type").isin("insert", "update_postimage"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val table = ManifestTable.read(s, t)
      require(sameRows(rebuilt, table),
        "feed reconstruction drifted from the table state")
      rebuilt.select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    }),

    "q114_stream_cdf_mv" -> ((s, dir) => {
      // the CDF's CONSUMER story end to end: a downstream aggregate
      // stays fresh by folding the STREAMED change feed as signed
      // deltas (IncrementalAgg.applyCdf), never rescanning the table.
      // MV0 materializes from version 1; the stream starts at
      // startingVersion=1 (the snapshot the MV already holds) and
      // drains the merge + append commits in version-capped
      // micro-batches, each folded into the MV table idempotently;
      // the gate proves the folded MV row-for-row equals a full
      // recompute of the final version, then it goes under the oracle.
      import graft.sources.ManifestTable
      import graft.operators.IncrementalAgg
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q114-").toString
      val t = s"$tmp/t"; val mvPath = s"$tmp/mv"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      ManifestTable.overwrite(orders, t) // v1
      val dims = Seq("o_orderstatus"); val measures = Seq("o_totalprice")
      ManifestTable.overwrite(
        IncrementalAgg.materialize(ManifestTable.read(s, t, Some(1L)),
          dims, measures), mvPath)
      val updates = orders
        .where(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        .withColumn("op", lit("U"))
      val inserts = orders.where(col("o_orderkey") % 11 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = orders.where(col("o_orderkey") % 13 === 0)
        .withColumn("op", lit("D"))
      val v2 = ManifestTable.merge(s, t,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("o_orderkey"), deleteWhen = Some(col("op") === "D"))
      ManifestTable.materializeCdf(s, t, v2)
      ManifestTable.append(orders.where(col("o_orderkey") % 11 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L), t) // v3
      val s2 = streamSession(s)
      s2.readStream.format("graft-table")
        .option("path", t).option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1") // one fold per commit
        .load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty) {
            val sess = b.sparkSession
            val prev = ManifestTable.read(sess, mvPath)
            ManifestTable.overwrite(
              IncrementalAgg.applyCdf(prev, b.toDF(), dims, measures),
              mvPath, commitId = Some(s"fold-$id"))
          }
          ()
        }
        .start().awaitTermination()
      val mv = ManifestTable.read(s, mvPath)
      val full = IncrementalAgg.materialize(ManifestTable.read(s, t),
        dims, measures)
      require(sameRows(mv, full),
        "stream-folded MV drifted from the full recompute")
      require(ManifestTable.versions(mvPath).size == 3,
        "expected one MV fold per streamed commit")
      mv.select(col("o_orderstatus"), col("n"),
        col("sum_o_totalprice").cast("double").as("sum_o_totalprice"))
    }),

    "q118_cdc_replica" -> ((s, dir) => {
      // CDC REPLICATION — the remaining classic consumer: a REPLICA
      // table seeded from a snapshot and kept in sync by applying the
      // streamed change feed as row-level MERGEs (inserts/postimages
      // upsert, deletes delete — the feed's before-images carry full
      // rows, so the apply needs no lookback). One replica commit per
      // streamed source commit, idempotent via batch commit ids; after
      // a merge + an append on the primary, the replica must equal the
      // primary read row-for-row, and the replica goes under the
      // oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q118-").toString
      val t = s"$tmp/primary"; val r = s"$tmp/replica"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      ManifestTable.overwrite(orders, t) // v1
      // replica bootstraps from the v1 snapshot; the tail starts AFTER it
      ManifestTable.overwrite(ManifestTable.read(s, t, Some(1L)), r)
      val updates = orders
        .where(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        .withColumn("op", lit("U"))
      val inserts = orders.where(col("o_orderkey") % 11 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = orders.where(col("o_orderkey") % 13 === 0)
        .withColumn("op", lit("D"))
      val v2 = ManifestTable.merge(s, t,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("o_orderkey"), deleteWhen = Some(col("op") === "D"))
      ManifestTable.materializeCdf(s, t, v2)
      ManifestTable.append(orders.where(col("o_orderkey") % 11 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L), t) // v3
      val s2 = streamSession(s)
      s2.readStream.format("graft-table")
        .option("path", t).option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty) {
            val sess = b.sparkSession
            import org.apache.spark.sql.functions.{col => c, when => w, lit => l}
            val src = b.toDF()
              .where(c("_change_type") =!= "update_preimage")
              .select(c("o_orderkey"), c("o_orderstatus"), c("o_totalprice"),
                w(c("_change_type") === "delete", l("D")).otherwise(l("U"))
                  .as("__op"))
            ManifestTable.merge(sess, r, src, Seq("o_orderkey"),
              deleteWhen = Some(c("__op") === "D"),
              commitId = Some(s"rep-$id"))
          }
          ()
        }
        .start().awaitTermination()
      require(ManifestTable.versions(r).size == 3,
        "expected the seed plus one replica merge per streamed commit")
      val replica = ManifestTable.read(s, r)
      val primary = ManifestTable.read(s, t)
      require(sameRows(replica, primary),
        "replica diverged from the primary")
      replica.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    }),

    "q120_cdc_scd2" -> ((s, dir) => {
      // CDC → SCD2 — the HISTORY-PRESERVING feed consumer (q113
      // reconstructs the latest state, q114 folds an aggregate, q118
      // replicates; this one keeps every episode): the streamed change
      // feed maintains a Type-2 dimension incrementally, one
      // O(changed-keys) merge per commit (operators/Scd2.foldStep —
      // close superseded current episodes, open new ones), never
      // rescanning history. Gates: one dimension commit per streamed
      // version; the incrementally-folded dimension equals
      // Scd2.fromFeed's one-shot window-pass rebuild of the SAME
      // drained feed row-for-row (the fold is checked against the
      // declarative recompute it replaces); and the dimension's
      // is_current slice equals the primary table read (history's head
      // must be the present). The full episode history goes under the
      // oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q120-").toString
      val t = s"$tmp/t"; val dimT = s"$tmp/dim"; val feedT = s"$tmp/feed"
      val customer = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      ManifestTable.overwrite(customer, t) // v1
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      val v2 = ManifestTable.merge(s, t,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D"))
      ManifestTable.materializeCdf(s, t, v2)
      ManifestTable.append(customer.where(col("c_custkey") % 11 === 7)
        .withColumn("c_custkey", col("c_custkey") + 20000000L), t) // v3
      val keys = Seq("c_custkey"); val attrs = Seq("c_name", "c_acctbal")
      val s2 = streamSession(s)
      s2.readStream.format("graft-table")
        .option("path", t).option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1") // one fold per commit
        .load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty) {
            val sess = b.sparkSession
            import org.apache.spark.sql.functions.{col => c, lit => l}
            val vr = b.agg(org.apache.spark.sql.functions.min(
                c("_commit_version")),
              org.apache.spark.sql.functions.max(c("_commit_version"))).head
            require(vr.getLong(0) == vr.getLong(1),
              "maxVersionsPerTrigger=1 must hand foldStep ONE commit")
            val v = vr.getLong(0)
            ManifestTable.append(b.toDF(), feedT, commitId = Some(s"feed-$id"))
            val prev =
              if (id == 0)
                b.toDF().select(c("c_custkey"), c("c_name"), c("c_acctbal"))
                  .limit(0)
                  .withColumn("valid_from", l(0L))
                  .withColumn("valid_to", l(null).cast("long"))
                  .withColumn("is_current", l(true))
              else ManifestTable.read(sess, dimT)
            val step = graft.operators.Scd2.foldStep(prev, b.toDF(),
              keys, attrs, v)
            if (id == 0) ManifestTable.overwrite(step, dimT)
            else {
              ManifestTable.merge(sess, dimT, step,
                keys :+ "valid_from", commitId = Some(s"scd2-$id"))
              ()
            }
          }
          ()
        }
        .start().awaitTermination()
      require(ManifestTable.versions(dimT).size == 3,
        "expected one dimension commit per streamed commit")
      val dimCols = (keys ++ attrs ++
        Seq("valid_from", "valid_to", "is_current")).map(col)
      val dim = ManifestTable.read(s, dimT).select(dimCols: _*)
      val rebuilt = graft.operators.Scd2.fromFeed(
        ManifestTable.read(s, feedT), keys, attrs).select(dimCols: _*)
      require(sameRows(dim, rebuilt),
        "incremental SCD2 fold drifted from the one-shot feed rebuild")
      val cur = dim.where(col("is_current"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val table = ManifestTable.read(s, t)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      require(sameRows(cur, table),
        "the dimension's current slice must equal the primary table")
      dim.select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("c_acctbal"),
        col("valid_from"), col("valid_to"), col("is_current"))
    }),

    "q117_txn_cdf" -> ((s, dir) => {
      // CROSS-TABLE CDC CONSISTENCY — what atomic transactions buy a
      // change consumer: a fact table and its per-customer summary
      // commit in lockstep (commitTxn), so their change feeds carry
      // PAIRED versions, and for every version the summary's change
      // rows must equal the aggregate of the fact's — a consumer can
      // join the two feeds version-by-version and never see a torn
      // pair. Both tables stream in CDF mode (append commits need no
      // materialization — their adds ARE the change); the gate checks
      // the per-version invariant, and the summary feed itself (keyed
      // by commit version) goes under the oracle.
      import graft.sources.ManifestTable
      import graft.sources.ManifestTable.TxnWrite
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q117-").toString
      val fact = s"$tmp/fact"; val summ = s"$tmp/summary"
      def slice(k: Int) = Tables(s, dir, "orders")
        .where(col("o_orderkey") % 3 === k)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def sumOf(k: Int) = slice(k).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).as("revenue"))
      ManifestTable.commitTxn(Seq(
        TxnWrite(slice(0), fact), TxnWrite(sumOf(0), summ)), Some("t0"))
      ManifestTable.commitTxn(Seq(
        TxnWrite(slice(1), fact), TxnWrite(sumOf(1), summ)), Some("t1"))
      val s2 = streamSession(s)
      def drainCdf(path: String, sink: String): Unit =
        s2.readStream.format("graft-table")
          .option("path", path).option("readChangeFeed", "true").load()
          .writeStream.option("checkpointLocation", s"$tmp/ck-$sink")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], id: Long) =>
            if (!b.isEmpty)
              ManifestTable.append(b.toDF(), s"$tmp/$sink",
                commitId = Some(s"$sink-$id"))
            ()
          }
          .start().awaitTermination()
      drainCdf(fact, "ffeed")
      drainCdf(summ, "sfeed")
      val ffeed = ManifestTable.read(s, s"$tmp/ffeed")
      val sfeed = ManifestTable.read(s, s"$tmp/sfeed")
      // the atomic-pair invariant, PER VERSION: summary change rows ==
      // aggregate of the fact change rows of the same commit
      val fromFact = ffeed.where(col("_change_type") === "insert")
        .groupBy("_commit_version", "o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).as("revenue"))
      val fromSumm = sfeed.where(col("_change_type") === "insert")
        .select(col("_commit_version"), col("o_custkey"),
          col("n_orders"), col("revenue"))
      require(sameRows(fromSumm, fromFact),
        "paired feeds tore: summary changes != aggregated fact changes")
      fromSumm.select(col("_commit_version"), col("o_custkey"),
        col("n_orders"), col("revenue").cast("double").as("revenue"))
    }),

    "q116_mor_cdf" -> ((s, dir) => {
      // the change feed over the MERGE-ON-READ write path: a mergeMoR
      // commit rewrites ZERO data files (deletes are a ledger, upserts
      // stage O(k) bytes), yet materializeCdf must still emit the
      // exact row-level diff — differingSlices reconciles the
      // deletion-vector state on both sides, so CDC composes with the
      // cheapest write path instead of forcing copy-on-write. The
      // CDF-mode stream drains it and the reconstruction (which also
      // exercises the MoR read reconciliation) goes under the oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q116-").toString
      val t = s"$tmp/t"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      ManifestTable.overwrite(orders, t) // v1
      val updates = orders
        .where(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        .withColumn("op", lit("U"))
      val inserts = orders.where(col("o_orderkey") % 11 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = orders.where(col("o_orderkey") % 13 === 0)
        .withColumn("op", lit("D"))
      val v2 = ManifestTable.mergeMoR(s, t,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("o_orderkey"), deleteWhen = Some(col("op") === "D"))
      ManifestTable.materializeCdf(s, t, v2)
      val sinkDir = s"$tmp/feed"
      val s2 = streamSession(s)
      s2.readStream.format("graft-table")
        .option("path", t).option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty)
            ManifestTable.append(b.toDF(), sinkDir, commitId = Some(s"m-$id"))
          ()
        }
        .start().awaitTermination()
      val feed = ManifestTable.read(s, sinkDir)
      require(feed.where(col("_change_type") === "delete").count() ==
        orders.where(col("o_orderkey") % 13 === 0).count(),
        "MoR deletes must round-trip through the feed")
      // apply the feed to the v1 snapshot: must land on the MoR-
      // reconciled current read
      val v1 = ManifestTable.read(s, t, Some(1L))
      val applied = v1
        .join(feed.where(col("_change_type").isin("delete", "update_preimage"))
          .select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
        .unionByName(feed
          .where(col("_change_type").isin("insert", "update_postimage"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
      val current = ManifestTable.read(s, t)
      require(sameRows(applied, current),
        "v1 + feed must equal the merge-on-read reconciled table")
      applied.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    }),

    "q115_stream_static_join" -> ((s, dir) => {
      // the graft-table source under Spark's BUILT-IN streaming
      // operators — a custom V2 source earns its keep when the
      // engine's own operators run on it, not just foreachBatch: each
      // micro-batch of fact commits STREAM-STATIC joins the dimension
      // frame inside the streaming query (Catalyst plans the broadcast
      // per batch), and the enriched rows land exactly-once in a sink
      // table. Two drains (one per append commit via the admission
      // cap) must produce exactly two sink commits; the enriched sink
      // re-aggregates under the oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q115-").toString
      val t = s"$tmp/t"; val out = s"$tmp/out"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      ManifestTable.append(orders.where(col("o_orderkey") % 2 === 0), t)
      ManifestTable.append(orders.where(col("o_orderkey") % 2 === 1), t)
      val s2 = streamSession(s)
      val dim = Tables(s2, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      s2.readStream.format("graft-table")
        .option("path", t).option("maxVersionsPerTrigger", "1").load()
        .join(dim, col("o_custkey") === col("c_custkey")) // stream-static
        .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty)
            ManifestTable.append(b.toDF(), out, commitId = Some(s"j-$id"))
          ()
        }
        .start().awaitTermination()
      require(ManifestTable.versions(out).size == 2,
        "expected one enriched sink commit per streamed fact commit")
      val sunk = ManifestTable.read(s, out)
      require(sunk.count() == orders.count(),
        "stream-static join lost or duplicated facts")
      sunk.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("revenue"))
    }),

    "q119_xml_roundtrip" -> ((s, dir) => {
      // XML record ingestion (sources/XmlSource) — the last present-jar
      // format leg next to q64 ORC / q95 CSV / q111 Avro: one records
      // document per file through binaryFile (per-file parse
      // parallelism), entity escaping and parsing owned by scala-xml
      // (never hand-rolled), caller-stated schema because XML
      // attributes are untyped text. The round-trip gate includes
      // XML-hostile strings (quotes, angle brackets, ampersands in
      // lang would break naive escaping — here the doc text itself
      // carries them); the aggregate over the PARSED corpus goes under
      // the oracle.
      import graft.sources.XmlSource
      import org.apache.spark.sql.types._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q119-").toString
      val src = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          // first 8 chars of the text ride along RAW — real corpus
          // bytes through the escaper, not a sanitized projection
          substring(col("text"), 1, 8).as("head"),
          length(col("text")).cast("long").as("n_chars"),
          (col("doc_id") % 3 === 0).as("flagged"))
      val nFiles = XmlSource.write(src.repartition(4), tmp)
      require(nFiles >= 1, "no xml files written")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("head", StringType), StructField("n_chars", LongType),
        StructField("flagged", BooleanType)))
      val back = XmlSource.read(s, tmp, schema)
      require(sameRows(back, src),
        "xml round-trip drifted from the source frame")
      back.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"))
    }),

    "q111_avro_roundtrip" -> ((s, dir) => {
      // AVRO INGESTION (sources/AvroSource) — the landed-format leg next
      // to q64's ORC and q95's CSV, built without the spark-avro
      // connector (absent here): binaryFile ships whole container files
      // (one partition per file, N-way parse parallelism), records
      // decode through the public avro library, ONE driver-side open
      // infers the schema. Distributed write side emits one container
      // per partition through the shared filesystem. The round-trip
      // gate pins the parse bit-exact; the emitted aggregate runs over
      // the PARSED corpus under the hard oracle.
      import graft.sources.AvroSource
      val tmp = java.nio.file.Files.createTempDirectory("graft-q111-").toString
      val src = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          (col("doc_id") % 7 === 0).as("flagged"))
      val nFiles = AvroSource.write(src.repartition(4), tmp)
      require(nFiles >= 1, "no avro files written")
      val back = AvroSource.read(s, tmp)
      require(sameRows(back, src),
        "avro round-trip drifted from the source frame")
      back.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"))
    }),

    "q112_table_stream" -> ((s, dir) => {
      // STREAMING SOURCE over the manifest format (sources/v2/
      // TableStreamSource, format "graft-table") — the
      // readStream-from-a-table leg Delta calls its streaming source:
      // offsets are TABLE VERSIONS, each micro-batch reads exactly the
      // files the commits in (start, end] added (the seq map is the
      // change log — no file diffing), the append-only contract throws
      // on rewrites between offsets, and a checkpoint restart resumes
      // at the next commit. Gate: two appends drain in run 1, a third
      // append arrives and run 2 emits ONLY it (exactly-once per
      // commit into an idempotent sink), a no-change run commits
      // nothing, and the accumulated sink equals the source table
      // under the oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q112-").toString
      val t = s"$tmp/t"; val out = s"$tmp/out"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 0), t)
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 1), t)
      val s2 = streamSession(s)
      def drain(): Unit = s2.readStream.format("graft-table")
        .option("path", t).load()
        .writeStream.option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty)
            ManifestTable.append(b.toDF(), out, commitId = Some(s"b-$id"))
          ()
        }
        .start().awaitTermination()
      drain() // one batch covering v1+v2
      ManifestTable.append(orders.where(col("o_orderkey") % 3 === 2), t)
      drain() // resumes at v2: emits exactly v3's files
      val vOut = ManifestTable.versions(out)
      require(vOut.size == 2,
        s"expected one sink commit per drain with data, got $vOut")
      drain() // no new commits: no batch, no sink version
      require(ManifestTable.versions(out) == vOut,
        "a no-change restart must commit nothing")
      val sunk = ManifestTable.read(s, out)
      require(sunk.count() == orders.count(),
        "streamed sink lost or duplicated rows")
      sunk.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("revenue"))
    }),

    "q97_variant" -> ((s, dir) => {
      // OPEN semi-structured columns via Spark 4's VARIANT type (the
      // Delta/Iceberg "variant shredding" story): JSON payloads parse
      // once into a binary-encoded variant — O(1) typed path extraction,
      // no per-query re-tokenization, no rigid struct schema to migrate
      // when producers add fields. The gate pins the column's type to
      // VariantType (a string round-trip would silently fall back to
      // per-access JSON parsing — the 100 TB cost trap this type
      // exists to avoid); extraction results go under the oracle.
      val o = Tables(s, dir, "orders")
        .withColumn("payload", to_json(struct(
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("total"),
          col("o_orderpriority").as("prio"))))
        .select(col("o_orderkey"), parse_json(col("payload")).as("v"))
      require(o.schema("v").dataType ==
          org.apache.spark.sql.types.VariantType,
        s"payload must parse to VARIANT, got ${o.schema("v").dataType}")
      o.select(col("o_orderkey"),
          expr("variant_get(v, '$.status', 'string')").as("status"),
          expr("variant_get(v, '$.prio', 'string')").as("prio"),
          expr("variant_get(v, '$.total', 'double')").as("total"))
        .groupBy("status", "prio")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("total")).as("revenue"))
    }),

    "q94_unpivot" -> ((s, dir) => {
      // UNPIVOT / melt (inverse of q24's pivot): wide metric columns →
      // long (id, metric, value) rows — the normalization step before
      // generic per-metric aggregation or feature-store writes. Native
      // unpivot is a zero-shuffle row-local expand (each input row emits
      // one row per value column), so at 100 TB it's a map-only stage.
      Tables(s, dir, "customer").unpivot(
        Array(col("c_custkey")),
        Array(col("c_acctbal"), col("c_nationkey").cast("double").as("c_nationkey")),
        "metric", "value")
    }),

    "q95_csv_roundtrip" -> ((s, dir) => {
      // CSV round-trip under the gate: documents (free text with
      // quotes/commas/newline structure) written as quoted CSV and read
      // back with multiLine parsing must reproduce the table
      // BIT-FOR-BIT (exceptAll both ways in-query) — the interchange
      // path every external-partner feed still runs on, where a quoting
      // bug silently corrupts text corpora. Emission carries md5(text)
      // so the oracle hash-checks content without raw-text compare
      // noise.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q95-").toString
      val csvDir = s"$tmp/csv"
      val docs = Tables(s, dir, "documents")
      docs.write.option("header", "true").option("escape", "\"").csv(csvDir)
      val back = s.read.schema(docs.schema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"").csv(csvDir)
        .localCheckpoint()
      require(sameRows(back, docs), "CSV roundtrip drifted")
      back.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text").cast("binary")).as("text_md5"))
    }),

    "q84_resample" -> ((s, dir) => {
      // time-series regularization (operators/Resample): per-user daily
      // activity resampled onto a DENSE day grid — gap days appear with
      // zero count/value and the last-seen event type forward-filled.
      // The prep step before rolling features; three exchanges total
      // (per-day agg, span, ffill window), nothing driver-side. Days are
      // integer epoch-days (nanos div), so the grid and the oracle's
      // generate_series are the same integers.
      val dayNs = 86400L * 1000000000L
      val ev = Tables.eventsNanos(s, dir)
        .withColumn("day", expr(s"ts div $dayNs"))
      val wLast = Window.partitionBy("user_id", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      val lastType = ev.withColumn("__rn", row_number().over(wLast))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("day"),
          col("event_type").as("day_last_type"))
      val perDay = ev.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"),
          round(decSum(col("value")), 4).as("day_value"))
        .join(lastType, Seq("user_id", "day"))
      val dense = operators.Resample.denseGrid(perDay, "user_id", "day")
      val zeroed = operators.Resample.zeroFill(dense, Map(
        "n_events" -> lit(0L), "day_value" -> lit(0.0)))
      operators.Resample.ffill(zeroed, "user_id", "day",
          Seq("day_last_type"))
        .select(col("user_id"), col("day"), col("n_events"),
          col("day_value"), col("day_last_type").as("last_type"))
    }),

    "q85_rolling" -> ((s, dir) => {
      // rolling CALENDAR-window features over the resampled grid — the
      // payoff of q84's densification: on the dense grid a 7-ROW
      // trailing window IS a 7-day window (on raw irregular events it
      // silently isn't). Count sums are integer-exact; value sums run
      // as DECIMAL inside the window so the 7-term accumulation is
      // order-independent and engine-exact.
      val dayNs = 86400L * 1000000000L
      val ev = Tables.eventsNanos(s, dir)
        .withColumn("day", expr(s"ts div $dayNs"))
      val perDay = ev.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"),
          round(decSum(col("value")), 4).as("day_value"))
      val dense = operators.Resample.zeroFill(
        operators.Resample.denseGrid(perDay, "user_id", "day"),
        Map("n_events" -> lit(0L), "day_value" -> lit(0.0)))
      val w7 = Window.partitionBy("user_id").orderBy(col("day"))
        .rowsBetween(-6, Window.currentRow)
      dense.select(col("user_id"), col("day"), col("n_events"),
        sum(col("n_events")).over(w7).as("n_7d"),
        sum(col("day_value").cast(dec)).over(w7).cast("double").as("v_7d"))
    }),

    "q86_scd2_snapshot" -> ((s, dir) => {
      // daily SNAPSHOT of the SCD2 dimension (q39's state episodes):
      // for every user and every day in their active span, the state
      // valid at END of day — the point-in-time dimension table a
      // warehouse materializes for as-of reporting. Composed from the
      // library's own pieces: Resample.denseGrid for the probe days and
      // AsOfJoin.backward (ONE sort-merge pass over (user, time), no
      // per-row interval lookups) to resolve each probe against the
      // state timeline — the plan that survives 100 TB.
      val dayNs = 86400L * 1000000000L
      val ev = Tables.eventsNanos(s, dir)
        .withColumn("day", expr(s"ts div $dayNs"))
      val byTime = Window.partitionBy("user_id")
        .orderBy(col("valid_from_us"), col("event_id"))
      val states = ev
        .withColumn("valid_from_us", expr("ts div 1000"))
        .withColumn("__prev", lag(col("event_type"), 1).over(byTime))
        .where(col("__prev").isNull || col("__prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from_us"))
      val probes = operators.Resample.denseGrid(
          ev.groupBy("user_id", "day").agg(count(lit(1)).as("__n"))
            .drop("__n"),
          "user_id", "day")
        .withColumn("probe_us",
          (col("day") + 1) * lit(86400000000L) - 1)
      operators.AsOfJoin.backward(probes, states,
          col("user_id"), col("user_id"),
          col("probe_us"), col("valid_from_us"),
          carry = Seq("state" -> col("state"),
            "since_us" -> col("valid_from_us")))
        .select(col("user_id"), col("day"), col("state"), col("since_us"))
    }),

    "q61_table_cdf" -> ((s, dir) => {
      // change data feed between table versions: v1 = customer, v2 =
      // the q60 merge; changes() emits the keyed row-level diff with
      // column attribution — the incremental-consumer read path. The
      // oracle derives the same adds/removes/changes from the rule sets.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q61-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      ManifestTable.merge(s, base, updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D"))
      ManifestTable.changes(s, base, 1L, 2L, "c_custkey")
    }),

    "q58_time_travel" -> ((s, dir) => {
      // snapshot isolation + time travel under the gate: v1 = the F
      // slice, v2 OVERWRITES with the O slice; reading version 1 must
      // still see exactly the F rows (the oracle), untouched by v2
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q58-").toString + "/t"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      ManifestTable.overwrite(orders.where(col("o_orderstatus") === "F"), base)
      ManifestTable.overwrite(orders.where(col("o_orderstatus") === "O"), base)
      ManifestTable.read(s, base, version = Some(1L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("total"))
    }),

    "q56_stream_table" -> ((s, dir) => {
      // the full sink lifecycle under one gate: file stream → idempotent
      // ManifestTable commits (StreamSync.startToTable) → OPTIMIZE-style
      // compactCommit → snapshot read of the compacted version → agg.
      // Content must survive commit + rewrite bit-for-bit, which is
      // exactly what the batch-SQL oracle checks.
      import org.apache.spark.sql.streaming.Trigger
      val s2 = streamSession(s)
      val schema = s2.read.parquet(s"$dir/events.parquet").schema
      val src = graft.streaming.EventStream.source(s2, dir, schema,
        globFilter = Some("events.parquet"))
      val base = java.nio.file.Files.createTempDirectory("graft-q56-").toString + "/t"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-q56-ck-").toString
      graft.streaming.StreamSync.startToTable(src, base, ckpt)
        .awaitTermination()
      graft.sources.ManifestTable.compactCommit(s, base)
      graft.sources.ManifestTable.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
    }),

    "q65_sync_to_table" -> ((s, dir) => {
      // the composed LAKEHOUSE SYNC LOOP under one gate: day-1 pull →
      // overwrite-commit v1; day-2 pull of an OVERLAPPING cursor window
      // (at-least-once replay) carrying origin-side updates (key%9==0
      // rows changed) → MERGE commit v2; the version-to-version change
      // feed is self-gated (adds = the new window, changes = only rows
      // the update really touched, replayed-unchanged rows produce NO
      // feed entry — that is what makes at-least-once replay safe), then
      // the final table goes under the hard oracle.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q65-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      val day1 = customer.where(col("c_custkey").between(1, 800))
      ManifestTable.overwrite(day1, base, commitId = Some("day1"))
      val day2 = customer.where(col("c_custkey").between(600, 1500))
        .withColumn("c_name", when(col("c_custkey") % 9 === 0,
          upper(col("c_name"))).otherwise(col("c_name")))
        .withColumn("c_acctbal", when(col("c_custkey") % 9 === 0,
          col("c_acctbal") + 500.0).otherwise(col("c_acctbal")))
      ManifestTable.merge(s, base, day2, Seq("c_custkey"))
      val feed = ManifestTable.changes(s, base, 1L, 2L, "c_custkey")
        .groupBy("change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expAdd = customer
        .where(col("c_custkey") > 800 && col("c_custkey") <= 1500).count()
      val expChg = customer
        .where(col("c_custkey").between(600, 800) && col("c_custkey") % 9 === 0)
        .count()
      require(feed.getOrElse("added", 0L) == expAdd,
        s"change feed adds ${feed.get("added")} != window $expAdd")
      require(feed.getOrElse("changed", 0L) == expChg,
        s"change feed changes ${feed.get("changed")} != updated rows $expChg")
      require(!feed.contains("removed"), "sync loop must never remove")
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q66_partition_prune" -> ((s, dir) => {
      // the cursor-date partition-layout lever under the gate: events
      // written partitioned by event day, an incremental day-window
      // read back — the scan must touch only the window's partitions
      // (asserted in-query: files read < files written), and the agg
      // goes under the oracle. At 100 TB this layout decides whether an
      // incremental pull scans a day or the archive.
      val base = java.nio.file.Files.createTempDirectory("graft-q66-").toString
      val events = Tables.eventsNanos(s, dir)
        .withColumn("event_day", to_date(timestamp_micros(expr("ts div 1000"))))
      val wh = graft.sources.ParquetWarehouse("lake", base)
      wh.writePartitioned(events, "events", Seq("event_day"))
      val slice = wh.read(s, "events")
        .where(col("event_day").between("2024-01-03", "2024-01-05"))
      // partition pruning is live: the pruned scan READS fewer files
      // (input_file_name over the filtered frame = files actually
      // touched; DataFrame.inputFiles ignores partition filters)
      val allFiles = wh.read(s, "events")
        .select(input_file_name()).distinct().count()
      val prunedFiles = slice.select(input_file_name()).distinct().count()
      require(prunedFiles < allFiles,
        s"no pruning: $prunedFiles of $allFiles files")
      slice.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
    }),

    "q70_data_skipping" -> ((s, dir) => {
      // file-level min/max DATA SKIPPING under the gate — the
      // Delta/Iceberg stats-pruning read: orders committed
      // range-partitioned on o_orderkey, so each data file carries a
      // tight key range in its manifest stats (harvested from the
      // parquet footers the write already produced); a selective
      // key-window readWhere must OPEN fewer files than the table holds
      // — asserted from manifest metadata BEFORE any scan plans — and
      // the agg goes under the oracle. q66 prunes on the partition
      // DIRECTORY layout; this prunes on per-file stats, which also
      // works for columns the table is not partitioned by. At 100 TB
      // the two together decide whether a keyed pull reads files or
      // the archive.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q70-").toString + "/t"
      val orders = Tables(s, dir, "orders")
      ManifestTable.overwrite(
        orders.repartitionByRange(16, col("o_orderkey")), base)
      val conds = Seq(
        Condition("o_orderkey", Op.Gte, 1000L),
        Condition("o_orderkey", Op.Lte, 4000L))
      val (scanned, total) = ManifestTable.pruneCount(base, conds)
      require(scanned < total, s"no data skipping: $scanned of $total files")
      ManifestTable.readWhere(s, base, conds)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total"))
    }),

    "q71_incr_mv" -> ((s, dir) => {
      // incremental materialized-view maintenance under the gate: MV1
      // aggregates table v1; the q60-shaped merge commits v2; the MV
      // refreshes by applying the FILE-PRUNED value-carrying change
      // feed as signed deltas (IncrementalAgg.applyDelta) — it never
      // rescans v2 (the feed reads only files the merge touched). The
      // in-query gate proves the refreshed MV row-for-row equals the
      // full recompute, then the refreshed MV goes under the oracle.
      // At 100 TB this is how rollups stay fresh after a 0.1% merge.
      import graft.sources.ManifestTable
      import graft.operators.IncrementalAgg
      val base = java.nio.file.Files.createTempDirectory("graft-q71-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      ManifestTable.merge(s, base, updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), deleteWhen = Some(col("op") === "D"))
      val dims = Seq("c_mktsegment")
      val measures = Seq("c_acctbal")
      val mv1 = IncrementalAgg.materialize(
        ManifestTable.read(s, base, Some(1L)), dims, measures)
      val feed = ManifestTable.changesWithValues(s, base, 1L, 2L, "c_custkey")
      val mv2 = IncrementalAgg.applyDelta(mv1, feed, dims, measures)
        .localCheckpoint()
      val full = IncrementalAgg.materialize(
        ManifestTable.read(s, base, Some(2L)), dims, measures)
      require(sameRows(mv2, full),
        "incremental refresh drifted from recompute")
      mv2.select(col("c_mktsegment"), col("n").as("n_cust"),
        col("sum_c_acctbal").cast("double").as("bal"))
    }),

    "q72_stream_merge" -> ((s, dir) => {
      // SEVENTH hard-gated streaming family — streaming CDC UPSERT (the
      // MERGE-in-foreachBatch pattern of every production Delta/Iceberg
      // CDC sink): customer committed as v1, the q60 change batch
      // written as a file-stream source, each micro-batch merged into
      // the versioned table with an idempotent commit id
      // (StreamSync.startMergeToTable). One AvailableNow batch ⇒ one
      // merge ⇒ the table equals the batch merge, so q60's oracle
      // checks the streaming path exactly.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft-q72-").toString
      val base = s"$tmp/t"
      val cdcDir = s"$tmp/cdc"
      val ckpt = s"$tmp/ckpt"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      updates.unionByName(inserts).unionByName(deletes).write.parquet(cdcDir)
      val s2 = streamSession(s)
      val schema = s2.read.parquet(cdcDir).schema
      val src = s2.readStream.schema(schema).parquet(cdcDir)
      graft.streaming.StreamSync.startMergeToTable(
        src, base, Seq("c_custkey"), ckpt,
        deleteWhen = Some(col("op") === "D"),
        trigger = Trigger.AvailableNow()).awaitTermination()
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q78_stream_agg_multibatch" -> ((s, dir) => {
      // cross-batch AGGREGATION state under the gate: q44's windowed agg,
      // but the events table split into THREE files consumed one per
      // micro-batch — the same (window, type) groups receive rows in
      // every batch, so the final table is correct only if streaming
      // state MERGES across batches (q44's single batch never exercises
      // that). Complete mode retains all state; the finished table must
      // equal the batch groupBy, so q44's oracle checks it exactly. The
      // in-query gate asserts the run really executed 3+ micro-batches.
      import org.apache.spark.sql.streaming.Trigger
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val s2 = streamSession(s)
      val tmp = JFiles.createTempDirectory("graft-q78-").toString
      val srcDir = s"$tmp/src"
      JFiles.createDirectories(JPaths.get(srcDir))
      val raw = s2.read.parquet(s"$dir/events.parquet")
      (0 until 3).foreach(i =>
        stagePart(raw.where(col("event_id") % 3 === i), tmp, srcDir, s"part-$i"))
      val schema = s2.read.parquet(srcDir).schema
      val src = graft.streaming.EventStream.source(s2, srcDir, schema,
        maxFilesPerTrigger = Some(1))
      val agg = src.withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          decSum(col("value")).as("sum_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
      val sink = s"q78_stream_${System.nanoTime()}"
      val query = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val batches = query.recentProgress.map(_.batchId).distinct.length
      require(batches >= 3,
        s"expected 3+ micro-batches, got $batches — cross-batch state untested")
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      out
    }),

    "q81_stream_late_drop" -> ((s, dir) => {
      // WATERMARK EVICTION under the gate: every other streaming family
      // (including the q77-q80 multi-batch gates) feeds only in-order
      // data, so the watermark never actually DROPS a row on the oracle
      // path. Three staged files, one per micro-batch:
      //   batch 0 — the whole events table (after it the watermark sits
      //     at max(ts)-1h);
      //   batch 1 — one far-future midnight sentinel. Its EVICTION pass
      //     runs at max(ts)-1h, emitting every original window exactly
      //     once; the sentinel's own window never closes (the watermark
      //     stops 1h short of it), so it cannot leak into the output,
      //     but it pushes the watermark past every original window.
      //   batch 2 — LATE clones (ts <= max-2h). Spark's dual-watermark
      //     policy filters late events with the PREVIOUS batch's
      //     watermark (which is why they must arrive a batch after the
      //     advance, and why the clones-with-sentinel single-file
      //     variant measurably leaks): every clone is now behind it and
      //     must be dropped, not resurrect its evicted window.
      // Append mode then emits exactly the batch groupBy over the
      // ORIGINAL events — q44's oracle checks it. A leaked clone either
      // inflates a count before finalization (hash mismatch) or re-opens
      // closed state (duplicate window row): both oracle-visible, and
      // the in-query gate pins the emitted-event total too.
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      import java.nio.file.attribute.FileTime
      val s2 = streamSession(s)
      val tmp = JFiles.createTempDirectory("graft-q81-").toString
      val srcDir = s"$tmp/src"
      JFiles.createDirectories(JPaths.get(srcDir))
      val raw = s2.read.parquet(s"$dir/events.parquet")
      val tsType = raw.schema("ts").dataType
      val tsIsTimestamp = tsType == TimestampType || tsType == TimestampNTZType
      if (tsIsTimestamp) graft.Tables.requireUtc(s2)
      // stage-building works in the micros domain whatever the vintage
      val tsMicros: Column =
        if (tsIsTimestamp) unix_micros(col("ts").cast(TimestampType))
        else expr("ts div 1000")
      val maxMicros = raw.agg(max(tsMicros)).head.getLong(0)
      val dayUs = 86400L * 1000000L
      val hourUs = 3600L * 1000000L
      val sentinelMicros = (maxMicros / dayUs) * dayUs + 3 * dayUs
      def microsAsTs(us: Long): Column =
        if (tsIsTimestamp) timestamp_micros(lit(us)).cast(tsType)
        else lit(us * 1000L)
      val idType = raw.schema("event_id").dataType
      // Lateness in a streaming aggregation is WINDOW-level, not
      // row-level: a behind-watermark row whose window is still open is
      // accepted into that open state (measured — a clone in the last,
      // unfinalized day leaks straight into its count). So the staged
      // clones come only from windows already CLOSED at the
      // first-advance watermark: day end ≤ max(ts) − 1h.
      val dayStart = tsMicros - pmod(tsMicros, lit(dayUs))
      val late = raw
        .where(col("event_id") % 97 === 0 &&
          dayStart + lit(dayUs) <= lit(maxMicros - hourUs))
        .withColumn("event_id",
          (col("event_id") + lit(900000000L)).cast(idType))
      val nLate = late.count()
      require(nLate > 0, "no late rows staged - eviction untestable")
      val sentinel = raw.orderBy(col("event_id")).limit(1)
        .withColumn("event_id", lit(999999999L).cast(idType))
        .withColumn("ts", microsAsTs(sentinelMicros))
      Seq("0" -> raw, "1" -> sentinel, "2" -> late).zipWithIndex.foreach {
        case ((nm, df), i) =>
          // mtime orders micro-batches: table, sentinel, then clones
          stagePart(df, tmp, srcDir, s"part-$nm", Some(
            System.currentTimeMillis() - 60000L + i * 10000L))
      }
      val schema = s2.read.parquet(srcDir).schema
      val src = graft.streaming.EventStream.source(s2, srcDir, schema,
        maxFilesPerTrigger = Some(1))
      val agg = src.withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          decSum(col("value")).as("sum_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
      val nOrig = raw.count()
      val sink = s"q81_stream_${System.nanoTime()}"
      val query = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val progress = query.recentProgress
      val batches = progress.map(_.batchId).distinct.length
      require(batches >= 3,
        s"expected 3+ micro-batches, got $batches - late batch never ran")
      // the late file really entered the pipeline as its own batch (for
      // aggregations the late filter runs BEFORE the state operator, so
      // numRowsDroppedByWatermark stays 0 — input counts + output
      // totals pin the drop instead)
      require(progress.exists(_.numInputRows == nLate),
        s"no micro-batch carried the $nLate staged late clones " +
          s"(batches: ${progress.map(_.numInputRows).mkString(",")})")
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      // drop proof: emitted windows account for exactly the ORIGINAL
      // rows — a leaked late clone inflates a count; a leaked sentinel
      // adds its far-future window
      val emitted =
        out.agg(coalesce(sum(col("n_events")), lit(0L))).head.getLong(0)
      require(emitted == nOrig,
        s"emitted $emitted events vs $nOrig originals - late rows " +
          "leaked into closed windows or rows went missing")
      require(out.where(col("window_start_us") >= lit(sentinelMicros))
        .isEmpty, "sentinel's unclosed window must not emit")
      out
    }),

    "q82_stream_join_multibatch" -> ((s, dir) => {
      // CROSS-BATCH stream-stream join state under the gate: q52 holds
      // both sides in ONE micro-batch, so its state store never carries a
      // pending match across a batch boundary. Here the clicks are staged
      // as file 0 and the purchases as file 1 (maxFilesPerTrigger=1), so
      // EVERY attribution requires the click buffered in batch-1 join
      // state to meet its purchase in batch 2. The watermark is set past
      // the data's whole span — the retain-everything configuration —
      // so the inner interval join must emit exactly q37's batch result
      // (q52's oracle verbatim); any cross-batch state loss is a hash
      // mismatch, and the gate asserts 2+ batches actually ran.
      import org.apache.spark.sql.streaming.Trigger
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      import java.nio.file.attribute.FileTime
      val s2 = streamSession(s)
      val tmp = JFiles.createTempDirectory("graft-q82-").toString
      val srcDir = s"$tmp/src"
      JFiles.createDirectories(JPaths.get(srcDir))
      val raw = s2.read.parquet(s"$dir/events.parquet")
      Seq("0" -> raw.where(col("event_type") === "click"),
          "1" -> raw.where(col("event_type") === "purchase")).foreach {
        case (nm, df) =>
          require(df.limit(1).count() == 1, s"slice $nm empty - gate vacuous")
          // mtime orders micro-batches: all clicks strictly first
          stagePart(df, tmp, srcDir, s"part-$nm", Some(
            System.currentTimeMillis() - (if (nm == "0") 60000L else 0L)))
      }
      val schema = s2.read.parquet(srcDir).schema
      val src = graft.streaming.EventStream.source(s2, srcDir, schema,
        maxFilesPerTrigger = Some(1))
      val joined = graft.streaming.EventStream.intervalJoin(
        src.where(col("event_type") === "click"),
        src.where(col("event_type") === "purchase"),
        keyCol = "user_id", maxFollow = "1 hour",
        watermark = "3650 days")
      val sink = s"q82_stream_${System.nanoTime()}"
      val query = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val batches = query.recentProgress.map(_.batchId).distinct.length
      require(batches >= 2,
        s"expected 2+ micro-batches, got $batches - cross-batch join " +
          "state untested")
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      out.groupBy(col("l_user_id").as("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          decSum(col("r_value")).as("attributed_value"),
          min(col("l_event_id")).as("first_click"))
    }),

    "q99_stream_outer_join" -> ((s, dir) => {
      // stream-stream LEFT OUTER interval join — the last untested join
      // surface: unmatched clicks must emit with null purchase columns,
      // and only AFTER the watermark passes their join window (outer
      // emission is watermark-driven state eviction, not a batch-end
      // default). Staging: clicks (batch 0), purchases (batch 1), then
      // TWO sentinel batches of far-future click+purchase pairs — the
      // first advances both sides' watermarks past every real window,
      // the second runs a batch whose START watermark reflects that
      // advance, flushing the unmatched rows (the dual-watermark rule
      // q81 pinned, now on join state). Gates: 4+ batches, >0 unmatched
      // real rows emitted, and the LAST sentinel never emits — no later
      // watermark ever passes its window, so its presence would mean
      // the join flushed state early. (The first sentinel legitimately
      // flushes as unmatched once the second advances the watermark —
      // observed, and itself proof of watermark-driven eviction.) The
      // oracle is the batch LEFT JOIN with the filter in the ON clause.
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      import java.nio.file.attribute.FileTime
      val s2 = streamSession(s)
      val tmp = JFiles.createTempDirectory("graft-q99-").toString
      val srcDir = s"$tmp/src"
      JFiles.createDirectories(JPaths.get(srcDir))
      val raw = s2.read.parquet(s"$dir/events.parquet")
      val tsIsTimestamp = raw.schema("ts").dataType match {
        case TimestampType | TimestampNTZType => true
        case _ => false
      }
      def sentinels(offsetDays: Int, idBase: Long) = {
        val one = raw.orderBy(col("ts").desc).limit(1)
        val bumped =
          if (tsIsTimestamp)
            one.withColumn("ts", col("ts") + expr(s"INTERVAL $offsetDays DAYS"))
          else one.withColumn("ts",
            col("ts") + lit(offsetDays.toLong * 86400L * 1000000000L))
        bumped.withColumn("event_type", lit("click"))
          .withColumn("user_id", lit(-1L)).withColumn("event_id", lit(idBase))
          .unionByName(bumped.withColumn("event_type", lit("purchase"))
            .withColumn("user_id", lit(-2L))
            .withColumn("event_id", lit(idBase + 1)))
      }
      val stages = Seq(
        "0" -> raw.where(col("event_type") === "click"),
        "1" -> raw.where(col("event_type") === "purchase"),
        "2" -> sentinels(3650, -100L),
        "3" -> sentinels(3660, -200L))
      stages.foreach { case (nm, df) =>
        require(df.limit(1).count() == 1, s"slice $nm empty - gate vacuous")
        // mtime orders micro-batches strictly
        stagePart(df, tmp, srcDir, s"part-$nm", Some(
          System.currentTimeMillis() - (3 - nm.toLong) * 60000L))
      }
      val schema = s2.read.parquet(srcDir).schema
      val src = graft.streaming.EventStream.source(s2, srcDir, schema,
        maxFilesPerTrigger = Some(1))
      val joined = graft.streaming.EventStream.intervalJoin(
        src.where(col("event_type") === "click"),
        src.where(col("event_type") === "purchase"),
        keyCol = "user_id", maxFollow = "1 hour",
        watermark = "1 minute", joinType = "left_outer")
      val sink = s"q99_stream_${System.nanoTime()}"
      val query = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val batches = query.recentProgress.map(_.batchId).distinct.length
      require(batches >= 4,
        s"expected 4+ micro-batches, got $batches - outer flush untested")
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      require(out.where(col("l_event_id") === -200L).isEmpty,
        "the final sentinel emitted - join state flushed ahead of the watermark")
      require(out.where(col("l_user_id") >= 0 && col("r_event_id").isNull)
          .limit(1).count() == 1,
        "no unmatched click emitted - the outer path went untested")
      out.where(col("l_user_id") >= 0)
        .select(col("l_user_id").as("user_id"),
        col("l_event_id").as("click_id"),
        col("r_event_id").as("purchase_id"),
        coalesce(col("r_value"), lit(0.0)).as("purchase_value"))
    }),

    "q87_stream_dlq" -> ((s, dir) => {
      // streaming DEAD-LETTER path under the gate: q43's error-isolated
      // push as a continuous query — each micro-batch splits formatted
      // rows from corrupt ones (required field parses null) and commits
      // BOTH to transactional sinks with the same batch commit id, so
      // the good table, the DLQ, and a replayed feed are all
      // exactly-once together. Gates: the DLQ really caught rows, and a
      // full replay from a fresh checkpoint is a manifest-level no-op on
      // BOTH sinks. Emitted rows are the good table, oracle-recomputed.
      import org.apache.spark.sql.streaming.Trigger
      import graft.sources.ManifestTable
      val s2 = streamSession(s)
      val tmp =
        java.nio.file.Files.createTempDirectory("graft-q87-").toString
      val main = s"$tmp/main"
      val dlq = s"$tmp/dlq"
      val schema = s2.read.parquet(s"$dir/events.parquet").schema
      def run(ck: String): Unit = {
        val src = graft.streaming.EventStream.source(s2, dir, schema,
          globFilter = Some("events.parquet"))
        val q = src.writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                batchId: Long) =>
              val staged = batch
                .withColumn("props", when(col("event_id") % 37 === 0,
                  expr("substring(props, 1, 3)")).otherwise(col("props")))
                .where(col("value") >= 50.0)
                .withColumn("k",
                  get_json_object(col("props"), "$.k").cast("bigint"))
                .select(col("event_id"), col("k"), col("value"))
                .localCheckpoint() // split both sinks off one evaluation
              ManifestTable.append(staged.where(col("k").isNotNull),
                main, Some(s"batch-$batchId"))
              ManifestTable.append(
                staged.where(col("k").isNull).select("event_id", "value"),
                dlq, Some(s"batch-$batchId"))
              ()
          }.start()
        q.awaitTermination()
      }
      run(s"$tmp/ck1")
      val vMain = ManifestTable.versions(main)
      val vDlq = ManifestTable.versions(dlq)
      require(ManifestTable.read(s2, dlq).limit(1).count() == 1,
        "dead-letter table empty - error path untested")
      run(s"$tmp/ck2") // full replay, fresh checkpoint, same commit ids
      require(ManifestTable.versions(main) == vMain &&
        ManifestTable.versions(dlq) == vDlq,
        "replay committed new versions - DLQ path not exactly-once")
      ManifestTable.read(s, main).select("event_id", "k", "value")
    }),

    "q96_stream_mv" -> ((s, dir) => {
      // STREAMING incremental-MV maintenance (StreamSync.startMergeWithMv)
      // under the gate: the q60 change set staged as THREE key-disjoint
      // files, consumed with maxFilesPerTrigger=1 against one checkpoint
      // — each micro-batch MoR-MERGEs into the base table (O(batch)
      // delete+upsert bytes, ZERO rewritten data files — gated) AND
      // folds that merge's change feed into the maintained rollup, so
      // the rollup is fresh within one batch at delta cost (it never
      // rescans the table). Gates: one MV fold per batch landed, a full
      // replay from a fresh checkpoint is a manifest-level no-op on BOTH
      // tables (exactly-once), and the final MV row-for-row equals the
      // full recompute. The emitted rollup goes under q71's oracle. With
      // plans/MvRewrite this closes the loop: the stream keeps the
      // rollup fresh, the rewrite makes dashboards use it transparently.
      import graft.operators.IncrementalAgg
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val tmp = JFiles.createTempDirectory("graft-q96-").toString
      val base = s"$tmp/t"
      val mvPath = s"$tmp/mv"
      val cdcDir = s"$tmp/cdc"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val dims = Seq("c_mktsegment")
      val measures = Seq("c_acctbal")
      ManifestTable.overwrite(
        IncrementalAgg.materialize(customer, dims, measures), mvPath)
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      Seq("u" -> updates, "i" -> inserts, "d" -> deletes).foreach {
        case (nm, df) => stagePart(df, tmp, cdcDir, nm)
      }
      val s2 = streamSession(s)
      val schema = s2.read.parquet(cdcDir).schema
      val dataBefore = ManifestTable.dataFiles(base, Some(1L)).toSet
      def run(ck: String): Unit =
        graft.streaming.StreamSync.startMergeWithMv(
          s2.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(cdcDir),
          base, Seq("c_custkey"), mvPath, dims, measures, ck,
          deleteWhen = Some(col("op") === "D"),
          trigger = Trigger.AvailableNow(), mor = true).awaitTermination()
      run(s"$tmp/ckpt")
      require(dataBefore.subsetOf(ManifestTable.dataFiles(base).toSet),
        "MoR stream merge rewrote/dropped a base data file")
      require(ManifestTable.versions(base).size == 4,
        "expected 3 micro-batch merge commits on v1")
      require(ManifestTable.versions(mvPath).size == 4,
        "expected one MV fold commit per micro-batch")
      // replay the whole feed from a fresh checkpoint: same commit ids
      // ⇒ a manifest-level no-op on both tables
      run(s"$tmp/ckpt2")
      require(ManifestTable.versions(base).size == 4 &&
          ManifestTable.versions(mvPath).size == 4,
        "replayed feed produced new commits - exactly-once broken")
      val mv = ManifestTable.read(s, mvPath).localCheckpoint()
      val full = IncrementalAgg.materialize(
        ManifestTable.read(s, base), dims, measures)
      require(sameRows(mv, full), "streamed MV drifted from recompute")
      mv.select(col("c_mktsegment"), col("n").as("n_cust"),
        col("sum_c_acctbal").cast("double").as("bal"))
    }),

    "q77_stream_multibatch" -> ((s, dir) => {
      // MULTI-micro-batch streaming CDC under the gate — every other
      // streaming family processes exactly one AvailableNow batch, so
      // cross-batch state and replay idempotence never faced the oracle
      // until here. The q60 change set is staged as THREE files and
      // consumed with maxFilesPerTrigger=1 → three separate micro-batch
      // MERGE commits against ONE checkpoint (the three stages are
      // key-disjoint, so sequential merges ≡ the single batch merge and
      // q60's oracle checks the result exactly). Merges are
      // MERGE-ON-READ: the gate asserts three versions landed, zero
      // data files were rewritten across all three, and a full REPLAY
      // of the feed from a fresh checkpoint (same commit ids) is a
      // manifest-level no-op.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val tmp = JFiles.createTempDirectory("graft-q77-").toString
      val base = s"$tmp/t"
      val cdcDir = s"$tmp/cdc"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      Seq("u" -> updates, "i" -> inserts, "d" -> deletes).foreach {
        case (nm, df) => stagePart(df, tmp, cdcDir, nm)
      }
      val s2 = streamSession(s)
      val schema = s2.read.parquet(cdcDir).schema
      val dataBefore = ManifestTable.dataFiles(base, Some(1L)).toSet
      def run(ck: String): Unit =
        graft.streaming.StreamSync.startMergeToTable(
          s2.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(cdcDir),
          base, Seq("c_custkey"), ck,
          deleteWhen = Some(col("op") === "D"),
          trigger = Trigger.AvailableNow(), mor = true).awaitTermination()
      run(s"$tmp/ckpt")
      val versions = ManifestTable.versions(base)
      require(versions.size == 4,
        s"expected 3 micro-batch merge commits on v1, got versions $versions")
      require(dataBefore.subsetOf(ManifestTable.dataFiles(base).toSet),
        "MoR stream merge rewrote/dropped a base data file")
      // replay the whole feed from a FRESH checkpoint: batch ids (and so
      // commit ids) repeat, every merge must no-op at the manifest level
      run(s"$tmp/ckpt-replay")
      require(ManifestTable.versions(base).size == 4,
        "replayed micro-batches re-committed instead of no-op'ing")
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q101_stream_restart" -> ((s, dir) => {
      // KILL/RESTART RECOVERY under the gate — the failure a 100 TB
      // streaming deployment actually has: q77 proves multi-batch CDC to
      // completion, but every gate so far ran AvailableNow uninterrupted.
      // Here the SAME 3-file MoR-merge feed runs on a CONTINUOUS trigger,
      // is STOPPED as soon as the first merge lands (an in-flight batch,
      // if any, dies uncommitted), and a FRESH SparkSession restarts from
      // the same checkpoint and finishes. Resume gates, all race-proof:
      // (a) the restart never re-executes a batch the checkpoint's commit
      // log had sealed (the WAL-resume contract — an uncommitted in-
      // flight batch MAY replay, and its manifest merge then no-ops on
      // its commit id); (b) the two phases together commit each of the 3
      // micro-batch merges exactly once (4 versions, no recommit);
      // (c) the final table equals q60's single-batch merge — the oracle.
      import graft.sources.ManifestTable
      import org.apache.spark.sql.streaming.Trigger
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val tmp = JFiles.createTempDirectory("graft-q101-").toString
      val base = s"$tmp/t"
      val cdcDir = s"$tmp/cdc"
      val ck = s"$tmp/ckpt"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(customer, base)
      val updates = customer
        .where(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .withColumn("c_name", upper(col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U"))
      val inserts = customer.where(col("c_custkey") % 11 === 3)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
        .withColumn("op", lit("U"))
      val deletes = customer.where(col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D"))
      Seq("u" -> updates, "i" -> inserts, "d" -> deletes).foreach {
        case (nm, df) => stagePart(df, tmp, cdcDir, nm)
      }
      val schema = s.read.parquet(cdcDir).schema
      def start(sess: SparkSession, trig: Trigger) =
        graft.streaming.StreamSync.startMergeToTable(
          sess.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(cdcDir),
          base, Seq("c_custkey"), ck,
          deleteWhen = Some(col("op") === "D"), trigger = trig, mor = true)
      def sealedBatches(): Set[Long] = {
        val d = JPaths.get(ck, "commits")
        if (!JFiles.isDirectory(d)) Set.empty
        else {
          val it = JFiles.list(d).iterator()
          val b = Set.newBuilder[Long]
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n.forall(_.isDigit)) b += n.toLong
          }
          b.result()
        }
      }
      // phase 1: continuous micro-batches; kill once a merge has landed
      val s2 = streamSession(s)
      val q1 = start(s2, Trigger.ProcessingTime("50 milliseconds"))
      val deadline = System.currentTimeMillis() + 120000
      while (ManifestTable.versions(base).size < 2 &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      q1.stop()
      q1.awaitTermination()
      require(ManifestTable.versions(base).size >= 2,
        "no merge landed before the kill window expired")
      val sealed1 = sealedBatches()
      // phase 2: FRESH session state, same checkpoint, run to completion
      val s3 = streamSession(s)
      val q2 = start(s3, Trigger.AvailableNow())
      q2.awaitTermination()
      val replayed = q2.recentProgress.map(_.batchId).toSet
      require(replayed.intersect(sealed1).isEmpty,
        s"restart re-executed checkpoint-sealed batches " +
          s"${replayed.intersect(sealed1)} (resume broken)")
      require(sealedBatches() == Set(0L, 1L, 2L),
        s"commit log did not continue to completion: ${sealedBatches()}")
      require(ManifestTable.versions(base).size == 4,
        s"expected exactly 4 versions (base + 3 merges, no recommit), " +
          s"got ${ManifestTable.versions(base)}")
      ManifestTable.read(s, base)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q73_sketches" -> ((s, dir) => {
      // the SKETCH path for 100 TB profiling under the gate: HLL++
      // approx_count_distinct and quantile-sketch approx_percentile are
      // the shapes that survive a 1000-executor distinct/quantile —
      // fixed-size mergeable partial state instead of shuffling every
      // distinct value — and q27/q26 already hold the exact twins. The
      // in-query gate proves each group's sketch lands inside its
      // published error bound against the exact answer (HLL: 5·rsd
      // relative; percentile: rank error ≤ n/accuracy), then the EXACT
      // values emit under the oracle — gate-then-emit-truth, the ANN
      // families' idiom.
      val orders = Tables(s, dir, "orders")
      val rsd = 0.02
      val acc = 10000
      // The exact twins are computed ONCE and shared by the gate and the
      // emission (was: recomputed by both — three scans of orders, the
      // worst bench cell two rounds running). The narrow projection is
      // pinned once and feeds three SIMPLE aggregations — mixing
      // countDistinct (Expand) with the holistic percentile in one agg
      // forces a sort-based plan over doubled rows, measurably slower
      // than three clean passes over pinned columns. Cluster equivalent
      // of the pin: persist(DISK) of a 3-column projection.
      val narrow = orders
        .select("o_orderpriority", "o_custkey", "o_totalprice")
        .localCheckpoint()
      val sk = narrow.groupBy("o_orderpriority").agg(
        approx_count_distinct(col("o_custkey"), rsd).as("ad"),
        expr(s"approx_percentile(o_totalprice, 0.5, $acc)").as("ap"),
        count(lit(1)).as("n"))
      val exactDistinct = narrow.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_custs"))
      val exactP50 = narrow.groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50x"))
      val prof = sk.join(exactDistinct, "o_orderpriority")
        .join(exactP50, "o_orderpriority").localCheckpoint()
      // HLL bound: sketch vs exact twin — zero extra scans
      prof.select("ad", "n_custs").collect().foreach { r =>
        val (ad, nc) = (r.getAs[Long]("ad"), r.getAs[Long]("n_custs"))
        require(math.abs(ad - nc) <= 5 * rsd * nc + 1,
          s"HLL out of bound: $ad vs exact $nc")
      }
      // percentile rank bound needs the data's rank of `ap`: ONE
      // rank-check pass over the pinned projection, broadcast-joined
      // against the tiny profile
      narrow.join(broadcast(prof.select("o_orderpriority", "ap", "n")),
          "o_orderpriority")
        .groupBy(col("o_orderpriority"), col("n"))
        .agg(
          sum(when(col("o_totalprice") < col("ap"), 1L).otherwise(0L)).as("below"),
          sum(when(col("o_totalprice") <= col("ap"), 1L).otherwise(0L)).as("at_or_below"))
        .collect().foreach { r =>
          val (n, below, atOrBelow) = (r.getAs[Long]("n"),
            r.getAs[Long]("below"), r.getAs[Long]("at_or_below"))
          val rankSlack = n.toDouble / acc + 1
          require(below <= n / 2.0 + rankSlack && atOrBelow >= n / 2.0 - rankSlack,
            s"approx median rank drift: $below/$atOrBelow of $n")
        }
      // every consumer of the pinned projection has materialized (prof
      // is checkpointed, the checks collected) — release its blocks
      graft.operators.IndexScope.release(narrow)
      prof.select(col("o_orderpriority"), col("n_custs"),
        round(col("p50x"), 4).as("p50"), col("n").as("n_orders"))
    }),

    "q74_zorder" -> ((s, dir) => {
      // Z-ORDER layout under the gate (Delta's OPTIMIZE ZORDER BY):
      // orders re-laid along the Morton curve of (o_custkey,
      // o_totalprice), so every data file covers a small rectangle of
      // the 2-d key space and the SAME stats-pruned read skips files
      // for predicates on EITHER column — asserted separately for each
      // dimension before the 2-d slice goes under the oracle. q70's
      // range layout buys one access path; this buys all z-ordered ones.
      import graft.sources.ManifestTable
      import graft.operators.ZOrder
      val base = java.nio.file.Files.createTempDirectory("graft-q74-").toString + "/t"
      val orders = Tables(s, dir, "orders")
      ManifestTable.overwrite(
        ZOrder.layout(orders, Seq("o_custkey", "o_totalprice"), nFiles = 32), base)
      val byKey = Seq(Condition("o_custkey", Op.Gte, 100L),
        Condition("o_custkey", Op.Lte, 500L))
      val byPrice = Seq(Condition("o_totalprice", Op.Lte, 20000.0))
      val (kScan, total) = ManifestTable.pruneCount(base, byKey)
      val (pScan, _) = ManifestTable.pruneCount(base, byPrice)
      require(kScan < total, s"no key-dim skipping: $kScan of $total")
      require(pScan < total, s"no price-dim skipping: $pScan of $total")
      ManifestTable.readWhere(s, base, byKey ++ byPrice)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total"))
    }),

    "q75_schema_evolution" -> ((s, dir) => {
      // schema evolution across commits under the gate: v1 lands the
      // legacy shape (no c_mktsegment), a later append carries the
      // evolved shape with the new column; the snapshot read resolves
      // the UNION schema (old rows read as NULL) — the lakehouse
      // behavior that lets an upstream add a field without rewriting
      // history. The agg buckets legacy rows under a sentinel.
      import graft.sources.ManifestTable
      val base = java.nio.file.Files.createTempDirectory("graft-q75-").toString + "/t"
      val customer = Tables(s, dir, "customer")
      ManifestTable.overwrite(
        customer.where(col("c_custkey") <= 700)
          .select("c_custkey", "c_name", "c_acctbal"), base)
      ManifestTable.append(
        customer.where(col("c_custkey") > 700 && col("c_custkey") <= 1400)
          .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"), base)
      ManifestTable.read(s, base)
        .groupBy(coalesce(col("c_mktsegment"), lit("legacy")).as("segment"))
        .agg(count(lit(1)).as("n_cust"), decSum(col("c_acctbal")).as("bal"))
    }),

    "q64_orc_roundtrip" -> ((s, dir) => {
      // ORC warehouse under the gate (q53 gates Csv/Json): customer
      // round-trips through an OrcWarehouse, then a filtered cursor
      // slice reads back with the predicates pushed to the ORC scan
      // (same PushedFilters story as parquet — LayoutSpec pins it);
      // binary columnar round-trip keeps doubles bit-exact, so the
      // oracle is the plain SQL slice
      val base = java.nio.file.Files.createTempDirectory("graft-q64-").toString
      val wh = graft.sources.OrcWarehouse("lake", base)
      wh.write(Tables(s, dir, "customer"), "customer",
        org.apache.spark.sql.SaveMode.Overwrite)
      wh.read(s, "customer")
        .where(col("c_mktsegment") === "MACHINERY" &&
          col("c_custkey").between(100, 1100))
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q69_stream_session_window" -> ((s, dir) => {
      // the SIXTH streaming family under the gate: Spark's NATIVE
      // session_window aggregation (merge-on-overlap session state —
      // the built-in complement of q47's custom flatMapGroupsWithState
      // sessionizer). Complete mode + one AvailableNow batch ⇒ every
      // session emits; the oracle reproduces Spark's merge rule (a gap
      // EXACTLY equal to the threshold starts a NEW session: merge only
      // when next < end) at micros precision.
      import org.apache.spark.sql.streaming.Trigger
      val s2 = streamSession(s)
      val schema = s2.read.parquet(s"$dir/events.parquet").schema
      val src = graft.streaming.EventStream.source(s2, dir, schema,
        globFilter = Some("events.parquet"))
      val agg = src.withWatermark("event_time", "1 hour")
        .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
        .select(unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("user_id"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
      val sink = s"q69_stream_${System.nanoTime()}"
      val query = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      out
    }),

    "q63_stream_push" -> ((s, dir) => {
      // STREAM-STATIC push join under the gate (the FIFTH streaming
      // family): continuous events-mode push — event stream inner-joined
      // to a broadcast static resource table (re-read per micro-batch),
      // same Condition algebra / formatter as the batch push. One
      // AvailableNow batch ⇒ the sink equals the batch join, so the
      // oracle is exact.
      import org.apache.spark.sql.streaming.Trigger
      val s2 = streamSession(s)
      val schema = s2.read.parquet(s"$dir/events.parquet").schema
      val src = graft.streaming.EventStream.source(s2, dir, schema,
        globFilter = Some("events.parquet"))
      val resources = broadcast(
        Tables(s2, dir, "customer").where(col("c_acctbal") > 0))
      val pushed = graft.streaming.EventStream.pushEvents(
        src, "user_id", resources, "c_custkey",
        format = df => df.select(col("event_id"), col("user_id"),
          col("c_name").as("resource_name"),
          col("c_mktsegment").as("segment"), col("event_type")))
      val sink = s"q63_stream_${System.nanoTime()}"
      val query = pushed.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      out
    }),

    "q52_stream_interval" -> ((s, dir) => {
      // STREAM-STREAM interval join under the gate: q37's attribution
      // computed by the streaming self-join (two filtered branches of one
      // file stream). One AvailableNow micro-batch holds both sides, so
      // the inner join emits every match regardless of watermark state
      // expiry — the batch aggregation over the append-mode sink then
      // equals q37 at event_time's micros precision, which is what the
      // oracle reproduces (epoch_ns // 1000).
      import org.apache.spark.sql.streaming.Trigger
      val s2 = streamSession(s)
      val schema = s2.read.parquet(s"$dir/events.parquet").schema
      val src = graft.streaming.EventStream.source(s2, dir, schema,
        globFilter = Some("events.parquet"))
      val joined = graft.streaming.EventStream.intervalJoin(
        src.where(col("event_type") === "click"),
        src.where(col("event_type") === "purchase"),
        keyCol = "user_id", maxFollow = "1 hour")
      val sink = s"q52_stream_${System.nanoTime()}"
      val query = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val out = s2.table(sink).localCheckpoint() // pin: the sink is transient
      s2.catalog.dropTempView(sink)
      out.groupBy(col("l_user_id").as("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          decSum(col("r_value")).as("attributed_value"),
          min(col("l_event_id")).as("first_click"))
    }),

    "q46_stream_dedup" -> ((s, dir) => {
      // streaming exact dedup under the gate: one AvailableNow batch means
      // every duplicate key collapses against in-batch state, so the
      // emitted first-seen key set equals batch DISTINCT — oracle-able
      import org.apache.spark.sql.streaming.Trigger
      val s2 = streamSession(s)
      val schema = s2.read.parquet(s"$dir/events.parquet").schema
      val src = graft.streaming.EventStream.source(s2, dir, schema,
        globFilter = Some("events.parquet"))
      val deduped = graft.streaming.EventStream
        .dedup(src, Seq("user_id", "event_type"), "1 hour")
        .select(col("user_id"), col("event_type"))
      val sink = s"q46_stream_${System.nanoTime()}"
      val query = deduped.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      out
    }),

    "q47_stream_sessions" -> ((s, dir) => {
      // stateful flatMapGroupsWithState under the gate: one AvailableNow
      // batch folds each user's full event history in a single group
      // call, so gap-closure emits every session EXCEPT the user's last
      // (still open). The huge watermark delay keeps the event-time
      // timeout sweep from ever firing — no boundary arithmetic between
      // engines, and the closed set equals q16's sessions minus each
      // user's final one.
      import org.apache.spark.sql.streaming.Trigger
      val s2 = streamSession(s)
      val schema = s2.read.parquet(s"$dir/events.parquet").schema
      val src = graft.streaming.EventStream.source(s2, dir, schema,
        globFilter = Some("events.parquet"))
      val sessions = graft.streaming.Sessionize(src,
        gapMs = 1800000L, watermark = "3650 days").toDF()
      val sink = s"q47_stream_${System.nanoTime()}"
      val query = sessions.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      out
    }),

    "q79_stream_sessions_multibatch" -> ((s, dir) => {
      // cross-batch STATEFUL session state under the gate: the events
      // table split at a time cut into two files consumed one per
      // micro-batch — sessions spanning the cut are held OPEN in
      // flatMapGroupsWithState state across the batch boundary and must
      // close with events from BOTH batches counted (q47's single batch
      // never exercises continuation). Emitted set = q47's exactly
      // (sessions closed by a later event = all minus each user's last),
      // so q47's oracle checks the merged state byte-for-byte. Gates:
      // 2+ executed batches AND at least one emitted session really
      // spans the cut (else the continuation claim is vacuous).
      import org.apache.spark.sql.streaming.Trigger
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val s2 = streamSession(s)
      val tmp = JFiles.createTempDirectory("graft-q79-").toString
      val srcDir = s"$tmp/src"
      JFiles.createDirectories(JPaths.get(srcDir))
      // normalized long-nanos ts (either parquet vintage) so the split
      // predicate and the re-staged files are deterministic
      val nanos = Tables.eventsNanos(s2, dir)
      // the cut must land INSIDE some session that eventually CLOSES, or
      // the continuation gate is vacuous: pick an event whose same-user
      // successor follows within the 30-min gap (the session spans the
      // cut) AND whose user has a LATER gap break (the session closes →
      // it is emitted); take the median-ts such event, cut just after it
      val gapNs = 1800000L * 1000000L
      val wNext = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wAfter = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val cand = nanos
        .withColumn("__nxt", lead(col("ts"), 1).over(wNext))
        .withColumn("__break_after",
          max(when(col("__nxt").isNotNull &&
            col("__nxt") - col("ts") > gapNs, 1).otherwise(0)).over(wAfter))
        .where(col("__nxt").isNotNull &&
          col("__nxt") - col("ts") <= gapNs && col("__break_after") === 1)
        .select(col("ts"))
      val med = cand.agg(expr("approx_percentile(ts, 0.5, 1000)")).head().getLong(0)
      val cutNs = cand.where(col("ts") >= med).agg(min(col("ts")))
        .head().getLong(0) + 1L
      val t0 = System.currentTimeMillis() - 60000
      Seq(("a", nanos.where(col("ts") < cutNs), t0),
          ("b", nanos.where(col("ts") >= cutNs), t0 + 10000)).foreach {
        case (nm, df, mtime) => stagePart(df, tmp, srcDir, nm, Some(mtime))
      }
      val schema = s2.read.parquet(srcDir).schema
      val src = graft.streaming.EventStream.source(s2, srcDir, schema,
        maxFilesPerTrigger = Some(1))
      val sessions = graft.streaming.Sessionize(src,
        gapMs = 1800000L, watermark = "3650 days").toDF()
      val sink = s"q79_stream_${System.nanoTime()}"
      val query = sessions.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val batches = query.recentProgress.map(_.batchId).distinct.length
      require(batches >= 2,
        s"expected 2+ micro-batches, got $batches")
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      // <= on start: the chosen event may OPEN its session, and the +1ns
      // cut floors back to its millisecond — the structural guarantee is
      // (chosen event in batch 0, its successor in batch 1, same session,
      // session closes); this require is the sanity check over the output
      val cutMs = cutNs / 1000000L
      require(out.where(col("session_start_ms") <= cutMs &&
          col("session_end_ms") >= cutMs).limit(1).count() == 1,
        "no emitted session spans the batch cut — continuation untested")
      out
    }),

    "q80_stream_dedup_multibatch" -> ((s, dir) => {
      // cross-batch DEDUP state under the gate: events split by id parity
      // into two micro-batches, so a key's duplicate routinely arrives in
      // a LATER batch than its first occurrence — it is dropped only if
      // the dedup state survives the batch boundary (q46's single batch
      // never tests that). Long watermark delay keeps every key in state
      // for the whole run; emitted set must equal batch DISTINCT (q46's
      // oracle). Gates: 2+ batches AND the halves genuinely share keys.
      import org.apache.spark.sql.streaming.Trigger
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val s2 = streamSession(s)
      val tmp = JFiles.createTempDirectory("graft-q80-").toString
      val srcDir = s"$tmp/src"
      JFiles.createDirectories(JPaths.get(srcDir))
      val nanos = Tables.eventsNanos(s2, dir)
      val t0 = System.currentTimeMillis() - 60000
      Seq(("a", nanos.where(col("event_id") % 2 === 0), t0),
          ("b", nanos.where(col("event_id") % 2 === 1), t0 + 10000)).foreach {
        case (nm, df, mtime) => stagePart(df, tmp, srcDir, nm, Some(mtime))
      }
      val shared = s2.read.parquet(s"$srcDir/a.parquet")
        .select("user_id", "event_type")
        .intersect(s2.read.parquet(s"$srcDir/b.parquet")
          .select("user_id", "event_type"))
        .limit(1).count()
      require(shared == 1, "halves share no key — cross-batch dedup untested")
      val schema = s2.read.parquet(srcDir).schema
      val src = graft.streaming.EventStream.source(s2, srcDir, schema,
        maxFilesPerTrigger = Some(1))
      val deduped = graft.streaming.EventStream
        .dedup(src, Seq("user_id", "event_type"), "3650 days")
        .select(col("user_id"), col("event_type"))
      val sink = s"q80_stream_${System.nanoTime()}"
      val query = deduped.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      require(query.recentProgress.map(_.batchId).distinct.length >= 2,
        "expected 2+ micro-batches")
      val out = s2.table(sink).localCheckpoint()
      s2.catalog.dropTempView(sink)
      out
    }),

    "q13_star_join" -> ((s, dir) => {
      val region   = broadcast(Tables(s, dir, "region").where(col("r_name") === "ASIA"))
      val nation   = broadcast(Tables(s, dir, "nation"))
      val customer = Tables(s, dir, "customer")
      val orders   = Tables(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      val lineitem = Tables(s, dir, "lineitem")
      region
        .join(nation, col("n_regionkey") === col("r_regionkey"))
        .join(customer, col("c_nationkey") === col("n_nationkey"))
        .join(orders, col("o_custkey") === col("c_custkey"))
        .join(lineitem, col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name")
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q49_bloom_join" -> ((s, dir) => {
      // explicit runtime-filter join: bloom sketch of the selective dim's
      // keys prunes the fact side BEFORE its exchange (exact — false
      // positives die in the join); the 100 TB semi-join-reduction lever
      val dim = Tables(s, dir, "part").where(col("p_size") <= 5)
      val fact = Tables(s, dir, "lineitem")
      operators.BloomPrune
        .prunedJoin(fact, dim, "l_partkey", "p_partkey", expectedItems = 1L << 16)
        .groupBy("p_brand")
        .agg(decSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
    }),

    "q50_snapshot_diff" -> ((s, dir) => {
      // post-sync reconciliation: diff two deterministic snapshot slices
      // of orders — %11 drops simulate rows the old sync missed (added),
      // %7 drops rows deleted since (removed), %5/%13 mutate price/status
      // (changed, with column attribution)
      val orders = Tables(s, dir, "orders")
      val oldSnap = orders.where(col("o_orderkey") % 11 =!= 0)
      val newSnap = orders.where(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 13 === 0, lit("X")).otherwise(col("o_orderstatus")))
      operators.SnapshotDiff.diff(oldSnap, newSnap, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice"))
    }),

    "q68_outliers" -> ((s, dir) =>
      // distributional DQ after q51's structural profile: per-priority
      // order totals more than 3 sample-σ from their group mean. The
      // raw table is near-uniform (max |z| ≈ 1.8 — nothing to flag), so
      // a corrupted-sync twin column injects 25× anomalies on 0.1% of
      // keys; the flag must catch EXACTLY those. Exact decimal
      // (n, Σx, Σx²) per group + a fixed double test expression ⇒ the
      // oracle reproduces the flags bit-for-bit.
      operators.Outliers.flag(
        Tables(s, dir, "orders").withColumn("o_total_syncd",
          when(col("o_orderkey") % 997 === 0, col("o_totalprice") * 25.0)
            .otherwise(col("o_totalprice"))),
        groupCols = Seq("o_orderpriority"), valueCol = "o_total_syncd",
        z = 3.0, keep = Seq("o_orderkey", "o_total_syncd"))),

    "q51_dq_profile" -> ((s, dir) => {
      // batch-validation profile: one scan → per-column nulls / exact
      // distincts / min-max; a null-injected twin column exercises the
      // null accounting (the raw table has none)
      import operators.Profile.ColSpec
      val orders = Tables(s, dir, "orders")
        .withColumn("o_status_opt",
          when(col("o_orderkey") % 13 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
      operators.Profile.profile(orders, Seq(
        ColSpec("o_orderstatus"),
        ColSpec("o_status_opt"),
        ColSpec.decimal("o_totalprice"),
        ColSpec.date("o_orderdate"),
        ColSpec("o_custkey")))
    }),

    "q53_multi_origin" -> ((s, dir) => {
      // multi-warehouse consolidation under the gate: the same logical
      // resource lives in a LEGACY csv system (keys %3!=0) and an API
      // json system (keys %2==0, higher priority); round-trip both
      // through their FileWarehouses, union with provenance, keep the
      // highest-priority row per key. Exercises Csv/Json warehouse IO in
      // the driver's correctness gate (they were spec-only). Prices are
      // decimal-normalized so text-format round-trips stay hash-exact.
      import graft.sources.{CsvWarehouse, JsonWarehouse}
      val base = java.nio.file.Files.createTempDirectory("graft-q53-").toString
      val csvWh = CsvWarehouse("legacy", s"$base/csv")
      val jsonWh = JsonWarehouse("api", s"$base/json")
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      csvWh.write(orders.where(col("o_orderkey") % 3 =!= 0), "orders")
      jsonWh.write(orders.where(col("o_orderkey") % 2 === 0), "orders")
      def normalize(df: DataFrame, src: String, prio: Int): DataFrame = df.select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderstatus").cast("string").as("o_orderstatus"),
        col("o_totalprice").cast(dec).cast("double").as("price"),
        lit(src).as("src"), lit(prio).as("__prio"))
      val u = normalize(csvWh.read(s, "orders"), "legacy", 1)
        .unionByName(normalize(jsonWh.read(s, "orders"), "api", 2))
      u.withColumn("__rk", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("__prio").desc)))
        .where(col("__rk") === 1)
        .select("o_orderkey", "src", "o_orderstatus", "price")
    }),

    "q54_weighted_mix" -> ((s, dir) =>
      // training-mix curation: upsample en to 1.5 epochs, keep zh at 0.2,
      // everything else at 0.5 — copies are a pure integer function of
      // (doc_id, lang), reproducible on any engine
      operators.Sampling.weightedMix(
        Tables(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang",
        ppmWeights = Map("en" -> 1500000L, "zh" -> 200000L),
        defaultPpm = 500000L)),

    "q55_cube" -> ((s, dir) =>
      // CUBE grouping sets: all 4 marginal combinations in one pass
      // (q25's ROLLUP covers the hierarchy case); Expand + one exchange
      Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .cube(col("c_mktsegment"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("total"))),

    "q14_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(dec)).over(w).cast("double").as("running_total"))
    }),

    "q15_topk" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
          col("o_totalprice"), col("rk"))
    }),

    "q16_sessionize" -> ((s, dir) => {
      // gap-based sessionization (30-min gap), batch twin of the
      // flatMapGroupsWithState streaming version
      // ts is long nanos (nanosAsLong): exact integer ordering + arithmetic
      val byTime  = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val running = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.eventsNanos(s, dir)
        .withColumn("ms", expr("ts div 1000000"))
        .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(byTime))
        .withColumn("new_sess",
          when(col("gap_ms").isNull || col("gap_ms") > 1800000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(running))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ms")).as("session_start_ms"), max(col("ms")).as("session_end_ms"))
    }),

    "q17_asof_join" -> ((s, dir) => {
      // as-of join: one sort-merge pass over (key, time), no per-row
      // lookups — see operators.AsOfJoin
      operators.AsOfJoin.backward(
        left = Tables.eventsNanos(s, dir).select("event_id", "user_id", "ts"),
        right = Tables(s, dir, "orders"),
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("ts"),
        rightTime = unix_micros(col("o_orderdate").cast("timestamp")) * 1000,
        carry = Seq("asof_orderkey" -> col("o_orderkey")))
        .select("event_id", "user_id", "asof_orderkey")
    }),

    "q20_salted_agg" -> ((s, dir) => {
      // skew-resistant two-phase aggregation; decimal element casts keep
      // the sums exact across the extra combine stage
      val orders = Tables(s, dir, "orders")
        .withColumn("price_dec", col("o_totalprice").cast(dec))
      operators.Salting.saltedAgg(orders, Seq("o_custkey"), saltBuckets = 8,
        Seq(operators.SumAgg("price_dec", "total_spent"), operators.CountAgg("n_orders")))
        .select(col("o_custkey"), col("total_spent").cast("double").as("total_spent"),
          col("n_orders"))
    }),

    "q19_topk_native" -> ((s, dir) => {
      // custom TopKPerGroup plan: bounded heaps + partial map-side stage,
      // no window sort (see graft.plans.TopKPerGroup)
      val joined = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("o_orderkey"), col("o_totalprice"))
      operators.TopK.perGroup(joined, Seq("segment"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
    }),

    "q18_pull_pipeline" -> ((s, dir) => {
      Pipeline.pull(
        source = Tables(s, dir, "orders"),
        cursorCol = "o_orderdate",
        cursor = Cursor(CursorMode.CreatedAt, start = Some("1996-01-01 00:00:00")),
        where = Seq(Condition("o_orderstatus", Op.Eq, "O")),
        having = Seq(Condition("o_totalprice", Op.Gt, 50000)),
        format = Formatters.columns(
          "id" -> col("o_orderkey"), "status" -> col("o_orderstatus"),
          "total" -> col("o_totalprice"),
          "order_date" -> col("o_orderdate").cast("date")))
    })
  )

  // --- LLM-data-pipeline operators (SURVEY.md §2 items 19-32) ---

  private def llmQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd1_exact" -> ((s, dir) =>
      operators.dedup.Dedup.exact(Tables(s, dir, "documents"), "doc_id", "text")),

    "dd2_fingerprint" -> ((s, dir) =>
      operators.dedup.Dedup.fingerprint(Tables(s, dir, "documents"), "doc_id", "text")),

    "dd3_ngram_jaccard" -> ((s, dir) =>
      operators.dedup.SetSimJoin.jaccardJoin(
        Tables(s, dir, "documents"), "doc_id", "text", k = 3, threshold = 0.8)),

    "dd7_clusters" -> ((s, dir) => {
      // pair graph -> connected components -> cluster assignments.
      // Pairs come from the MinHash-LSH path: it is exact-verified, so it
      // yields the SAME pair set as the exact PPJoin (miss prob ~6e-8 at
      // b=32/r=4, t=0.8) at a fraction of the join cost — the pipeline
      // composition a 100 TB dedup would actually run.
      operators.dedup.DedupClusters.clusters(docNearDupPairs(s, dir))
    }),

    "dd19_representative" -> ((s, dir) => {
      // WHICH COPY TO KEEP — the selection step that completes the
      // dedup lifecycle (detect dd3/dd4 → cluster dd7 → CHOOSE →
      // apply dd8): within each near-dup cluster keep the best
      // document — longest text, ties to the smallest id (the
      // CCNet/RefinedWeb keep-the-richest-copy heuristic made
      // deterministic) — and report the cluster size. The per-cluster
      // window partitions by cluster id; dup clusters are small by
      // construction, so no partition skews.
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
      val withLen = operators.dedup.DedupClusters.clusters(docNearDupPairs(s, dir))
        .join(docs.select(col("doc_id"),
          length(col("text")).cast("long").as("text_len")), "doc_id")
      val sizes = withLen.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("text_len").desc, col("doc_id"))
      withLen.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc"),
          col("text_len").as("kept_len"))
        .join(sizes, "cluster_id")
    }),

    "dd18_softdedup" -> ((s, dir) => {
      // SOFT dedup (down-weighting instead of dropping): every doc kept
      // with weight 1e6 div cluster_size ppm — each near-dup cluster
      // contributes ~one document's worth to a weighted sample, without
      // hard dedup's bias of discarding whichever copies happened to
      // lose the representative tiebreak. Integer ppm via div keeps the
      // weights engine-exact under the hard oracle.
      val docs = Tables(s, dir, "documents")
      operators.dedup.DedupClusters.softWeights(docs, "doc_id",
        docNearDupPairs(s, dir))
    }),

    "dd8_dedup_apply" -> ((s, dir) => {
      // end-to-end dedup: near-dup pairs -> clusters -> retained corpus
      val docs = Tables(s, dir, "documents")
      operators.dedup.DedupClusters.applyDedup(docs, "doc_id",
        docNearDupPairs(s, dir))
        .select(col("doc_id").as("kept_id"), col("lang"), col("source"))
    }),

    "dd4_minhash_lsh" -> ((s, dir) => docNearDupPairs(s, dir)),

    "dd5_simhash" -> ((s, dir) =>
      operators.dedup.SimHash.nearDupPairs(
        Tables(s, dir, "documents"), "doc_id", "text", maxHamming = 3, chunks = 4)),

    "dd6_embed_dup" -> ((s, dir) => embCosinePairs(s, dir)),

    "dd9_embed_dedup" -> ((s, dir) => {
      // semantic dedup end-to-end: exact blocked cosine pairs → connected
      // components → retained embedding corpus (the SemDeDup pipeline
      // shape with an exact pair stage)
      val emb = Tables(s, dir, "embeddings")
      val pairs = embCosinePairs(s, dir)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      operators.dedup.DedupClusters.applyDedup(emb, "vec_id", pairs)
        .select(col("vec_id").as("kept_id"), col("label"))
    }),
    "dd16_semdedup" -> ((s, dir) => {
      // SemDeDup (k-means-bucketed semantic dedup) under the
      // gate-then-emit-truth pattern: the clustered pair stage
      // (Similarity.clusteredCosinePairs — intra-cluster-only exact
      // cosine, Σ n_c² work instead of N², the 100 TB path) must recover
      // enough of the exact blocked pairs; the EMITTED rows are the exact
      // dedup (dd9's output), DuckDB-reproducible. The corpus's
      // qualifying cosines sit right against the 0.4 threshold (no
      // planted high-cosine mass — the hardest case for cluster
      // blocking), so the gate pins the measured floor rather than a
      // planted-duplicate ideal.
      import operators.similarity.Similarity
      val emb = Tables(s, dir, "embeddings")
      val exact = embCosinePairs(s, dir).select(col("id_a"), col("id_b"))
      val approx = Similarity.clusteredCosinePairs(emb, "vec_id",
        "embedding", threshold = 0.4, k = 8)
        .select(col("id_a"), col("id_b"))
      val nExact = exact.count()
      require(nExact > 0, "no qualifying pairs - semdedup gate vacuous")
      val hit = exact.join(approx, Seq("id_a", "id_b"), "left_semi").count()
      val recall = hit.toDouble / nExact
      require(recall >= 0.5,
        f"semdedup pair recall $recall%.3f < 0.5 - cluster blocking lost " +
          "too many near-dup pairs")
      val pairs = exact
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      operators.dedup.DedupClusters.applyDedup(emb, "vec_id", pairs)
        .select(col("vec_id").as("kept_id"), col("label"))
    }),

    "ss1_knn_brute" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      operators.similarity.Similarity.knnBrute(
        emb, emb.where(col("vec_id") < 20), "vec_id", "embedding", k = 5)
    }),

    "ss2_knn_lsh" -> ((s, dir) => {
      // data-anchored hyperplane LSH (6 fixed corpus vectors as planes →
      // 64 buckets) with Hamming-≤2 MULTI-PROBE (22 buckets/query, ~1/3
      // scan fraction, recall@5 0.62 at sf0.01 vs 0.10 for the old
      // single-probe 16-bucket config): identical blocking structure to
      // the seeded-Gaussian knnLsh, but engine-portable buckets so the
      // oracle checks the output exactly
      val emb = Tables(s, dir, "embeddings")
      operators.similarity.Similarity.knnAnchorLsh(
        emb, emb.where(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, anchorIds = (100L to 105L), hammingProbe = 2)
    }),

    "ss5_pq_recall" -> ((s, dir) => {
      // PQ under the HARD oracle gate: KMeans codebooks aren't
      // SQL-reproducible, so the emitted rows are the exact brute-force
      // truth top-k (ss1's engine-portable shape) — checkable by the
      // DuckDB oracle — while recallGate (an eager action) throws first
      // if the PQ operator's mean recall@5 vs that truth drops below
      // 0.60. A recall regression fails verify as `err`; a truth
      // regression fails rows/schema/hash. The corpus is a FIXED
      // 5000-vector slice: the gate pins the OPERATOR's recall at a
      // constant index size (recall@k of a fixed-size code book degrades
      // with corpus growth — that's the documented PQ trade, not a
      // regression signal)
      val emb = Tables(s, dir, "embeddings").where(col("vec_id") < 5000)
      val queries = emb.where(col("vec_id") < 20)
      val truth = brute5000Truth(s, dir)
      val approx = operators.similarity.ProductQuantization.knnPq(
        emb, queries, "vec_id", "embedding", k = 5,
        m = 8, nCodes = 16, rerank = 150)
      operators.similarity.Similarity.recallGate(approx, truth, 0.60)
      truth
    }),

    "ss10_sq8" -> ((s, dir) => {
      // int8 scalar quantization under the gate (same fixed-slice /
      // gate-then-emit-truth shape as ss5): per-dimension calibration
      // isn't SQL-reproducible bit-for-bit, so the gate throws below
      // mean recall@5 of 0.80 (SQ8's recall trade is far milder than
      // PQ's — 8 bits/dim vs 8 bits per 8-dim block) and the emitted
      // rows are the exact truth
      val emb = Tables(s, dir, "embeddings").where(col("vec_id") < 5000)
      val queries = emb.where(col("vec_id") < 20)
      val truth = brute5000Truth(s, dir)
      val approx = operators.similarity.ScalarQuantization.knnSq8(
        emb, queries, "vec_id", "embedding", k = 5, rerank = 50)
      operators.similarity.Similarity.recallGate(approx, truth, 0.80)
      truth
    }),

    "ss11_binary" -> ((s, dir) => {
      // sign-bit binary embeddings under the gate (ss5's shape): 64-dim
      // floats become ONE 64-bit word, the scan is popcount(xor) per
      // pair — the cheapest quantized first stage; exact re-rank of the
      // top 150, gate ≥ 0.60 mean recall@5, emit truth
      val emb = Tables(s, dir, "embeddings").where(col("vec_id") < 5000)
      val queries = emb.where(col("vec_id") < 20)
      val truth = brute5000Truth(s, dir)
      val approx = operators.similarity.BinaryHash.knnBinary(
        emb, queries, "vec_id", "embedding", k = 5, rerank = 150)
      operators.similarity.Similarity.recallGate(approx, truth, 0.60)
      truth
    }),

    "ss6_ivfpq_recall" -> ((s, dir) => {
      // IVF-PQ (coarse inverted file + residual PQ), same self-gate shape
      // and the same fixed-size corpus slice rationale as ss5
      val emb = Tables(s, dir, "embeddings").where(col("vec_id") < 5000)
      val queries = emb.where(col("vec_id") < 20)
      val truth = brute5000Truth(s, dir)
      val index = operators.similarity.IvfPq.buildIndex(
        emb, "vec_id", "embedding", nLists = 8, m = 8, nCodes = 16)
      try {
        operators.similarity.Similarity.recallGate(
          index.search(queries, "vec_id", "embedding", k = 5,
            nProbe = 4, rerank = 150), truth, 0.60)
        truth // oracle-checkable truth rows; the gate above already threw on any recall regression
      } finally index.close()
    }),

    "ss7_nnd_recall" -> ((s, dir) => {
      // NN-Descent under the gate, on the structured manifold corpus
      // (see [[manifoldNodes]] — uniform random vectors have no neighbor
      // structure any few-round graph method can recover; NNDescentSpec
      // pins that separately). Gate: mean recall@5 ≥ 0.90 vs brute truth.
      val truth = manifoldTruth(s, dir)
      val approx = manifoldGraph(s, dir)
        .select(col("src").as("query_id"), col("dst").as("neighbor_id"))
      operators.similarity.Similarity.recallGate(approx, truth, 0.90)
      truth // the node construction + brute truth ARE DuckDB-reproducible; gate already enforced recall
    }),

    "ss8_graph_search" -> ((s, dir) => {
      // the query-time half of graph ANN: NN-Descent builds the navigable
      // k-NN graph, GraphSearch walks it with multi-start greedy beam
      // search (HNSW base-layer procedure) for EVERY node as a query.
      // Gate: mean recall@5 ≥ 0.90 vs the exact brute truth — at a
      // bounded scan fraction (entries + hops·beam·degree per query), vs
      // brute force's full corpus per query. Same corpus and same
      // emitted-truth oracle shape as ss7.
      val nodes = manifoldNodes(s, dir)
      val truth = manifoldTruth(s, dir)
      val graph = manifoldGraph(s, dir) // shared index artifact (ss7 gates it)
      // HNSW-style two-layer descent: seeds land on the coarse layer,
      // walk it 2 bounded rounds, then open the base graph — halving
      // the rounds the flat walk needed (6) at equal-or-better recall
      val approx = operators.similarity.GraphSearch.search(
        nodes, graph, nodes, "vec_id", "embedding", k = 5,
        beamWidth = 12, maxRounds = 3, entryMod = 2, hopExpansion = 2,
        topGraph = Some(manifoldTopGraph(s, dir)), topSampleMod = 8)
      operators.similarity.Similarity.recallGate(approx, truth, 0.90)
      truth
    }),

    "ss17_quantized_graph" -> ((s, dir) => {
      // QUANTIZED graph walk (DiskANN's memory model): the beam rounds
      // score against SQ8-dequantized int8 codes — 8× lighter memory
      // traffic than the float table, which is what bounds a graph scan
      // at 100 TB — and only the final per-query shortlist re-ranks
      // against exact vectors. Same hierarchy/corpus/truth as ss8;
      // recall gate then emit exact truth under the shared oracle.
      val nodes = manifoldNodes(s, dir)
      val truth = manifoldTruth(s, dir)
      val graph = manifoldGraph(s, dir)
      val (approx, _) = operators.similarity.GraphSearch.searchStats(
        nodes, graph, nodes, "vec_id", "embedding", k = 5,
        beamWidth = 12, maxRounds = 3, entryMod = 2, hopExpansion = 2,
        topGraph = Some(manifoldTopGraph(s, dir)), topSampleMod = 8,
        quantized = true, rerank = 50)
      operators.similarity.Similarity.recallGate(approx, truth, 0.85)
      truth
    }),

    "ss16_stream_index" -> ((s, dir) => {
      // STREAMING ANN INDEX MAINTENANCE — the index lifecycle under a
      // live feed, closing the loop ss7→ss9 opened: the navigable graph
      // is built on 10/12 of the corpus and PERSISTED as a table
      // (VectorIndexStore); two micro-batches of new vectors arrive on
      // a checkpointed file stream, and each foreachBatch loads the
      // index, search-links the batch through the EXISTING graph
      // (GraphSearch.insert, ss9's procedure), and commits the merged
      // graph + the grown corpus with batch-derived commit ids. Gates:
      // the final LOADED graph is approximate k-NN of the full corpus
      // (ss9's 0.85 recall gate, now across a stream), and a full
      // replay from a fresh checkpoint leaves both version chains
      // unchanged (exactly-once maintenance on an at-least-once
      // foreachBatch). Emits the exact truth — ss7/ss8/ss9's oracle.
      import graft.sources.ManifestTable
      import graft.operators.similarity.{GraphSearch, NNDescent, VectorIndexStore}
      import org.apache.spark.sql.streaming.Trigger
      val nodes = manifoldNodes(s, dir)
      val truth = manifoldTruth(s, dir)
      val old = nodes.where(col("vec_id") % 12 < 10)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ss16-").toString
      val idxPath = s"$tmp/index"
      val corpusPath = s"$tmp/corpus"
      val feedDir = s"$tmp/feed"
      VectorIndexStore.saveGraph(NNDescent.knnGraph(
        old, "vec_id", "embedding", k = 5, maxRounds = 4, bucketSize = 96),
        idxPath)
      ManifestTable.overwrite(old, corpusPath)
      stagePart(nodes.where(col("vec_id") % 12 === 10), tmp, feedDir, "b1")
      stagePart(nodes.where(col("vec_id") % 12 === 11), tmp, feedDir, "b2")
      val s2 = streamSession(s)
      val schema = s2.read.parquet(feedDir).schema
      def run(ck: String): Unit = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feedDir)
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          if (!batch.isEmpty) {
            val sess = batch.sparkSession
            // replay fast-path: a landed insert skips the recompute; the
            // overwrite's own commit id would discard it anyway
            if (!ManifestTable.commitLanded(idxPath, s"ins-$id")) {
              val corpus = ManifestTable.read(sess, corpusPath)
              val g = VectorIndexStore.loadGraph(sess, idxPath)
              val top = GraphSearch.deriveTopLayer(g,
                GraphSearch.topLayerSample(corpus, "vec_id", mod = 8),
                "vec_id")
              val merged = GraphSearch.insert(corpus, g, batch.toDF(),
                "vec_id", "embedding", k = 5, entryMod = 8,
                hopExpansion = 2, maxRounds = 3,
                topGraph = Some(top), topSampleMod = 8)
              ManifestTable.overwrite(merged, idxPath,
                commitId = Some(s"ins-$id"))
            }
            // corpus grows AFTER the graph commit (its read above must
            // see the pre-batch corpus even on replay); idempotent
            ManifestTable.append(batch.toDF(), corpusPath,
              commitId = Some(s"cor-$id"))
            ()
          }
        }
        .start().awaitTermination()
      run(s"$tmp/ckpt")
      val vIdx = ManifestTable.versions(idxPath)
      val vCor = ManifestTable.versions(corpusPath)
      require(vIdx.size == 3 && vCor.size == 3,
        s"expected 2 insert commits on each table, got $vIdx / $vCor")
      // replay the whole feed: same batch ids, every commit must no-op
      run(s"$tmp/ckpt-replay")
      require(ManifestTable.versions(idxPath) == vIdx &&
        ManifestTable.versions(corpusPath) == vCor,
        "replayed stream re-committed index or corpus versions")
      require(ManifestTable.read(s, corpusPath).count() == nodes.count(),
        "corpus table lost rows across the stream")
      val merged = VectorIndexStore.loadGraph(s, idxPath)
        .select(col("src").as("query_id"), col("dst").as("neighbor_id"))
      operators.similarity.Similarity.recallGate(merged, truth, 0.85)
      truth
    }),

    "ss9_graph_insert" -> ((s, dir) => {
      // incremental ANN maintenance under the gate: build the graph on
      // 11/12 of the manifold corpus, batch-insert the rest (HNSW insert:
      // search-then-link through the EXISTING graph, reverse-edge
      // patching), then gate the MERGED graph's edges as approximate
      // k-NN of the full corpus. Same emitted-truth oracle as ss7/ss8.
      val nodes = manifoldNodes(s, dir)
      val old = nodes.where(col("vec_id") % 12 =!= 0)
      val batch = nodes.where(col("vec_id") % 12 === 0)
      val truth = manifoldTruth(s, dir)
      // maxRounds=4 is the measured floor on this corpus, not slack: the
      // round-12 profile shows NN-Descent churning 30% of edges in round
      // 4 (never reaching the 1% convergence exit the pre-regeneration
      // data hit early — the cause of the r10/r11 wall-time doubling),
      // and a 3-round build drops merged recall@5 to 0.73, under the
      // 0.85 gate. The build on 11/12 of the corpus is ss9's own by
      // design — an insert benchmark must not start from a graph that
      // already saw the batch.
      val graph = operators.similarity.NNDescent.knnGraph(
        old, "vec_id", "embedding", k = 5, maxRounds = 4, bucketSize = 96)
      // the insert's search leg descends a coarse layer over the OLD
      // corpus before the base graph — half the driver rounds of the
      // flat walk at equal recall. The layer is DERIVED from the base
      // graph (sample×sample 1/2-hop edges): a second NN-Descent build
      // would spend more driver rounds than the hierarchy saves.
      val top = operators.similarity.GraphSearch.deriveTopLayer(graph,
        operators.similarity.GraphSearch.topLayerSample(old, "vec_id", mod = 8),
        "vec_id")
      val merged = operators.similarity.GraphSearch.insert(
        old, graph, batch, "vec_id", "embedding", k = 5,
        entryMod = 8, hopExpansion = 2, maxRounds = 3,
        topGraph = Some(top), topSampleMod = 8)
        .select(col("src").as("query_id"), col("dst").as("neighbor_id"))
      operators.similarity.Similarity.recallGate(merged, truth, 0.85)
      truth
    }),

    "ss4_knn_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      operators.similarity.Similarity.knnIvf(
        emb, emb.where(col("vec_id") < 20), "vec_id", "embedding", "label",
        k = 5, nProbe = 3)
    }),

    "ss3_centroid" -> ((s, dir) =>
      operators.similarity.Similarity.centroids(
        Tables(s, dir, "embeddings"), "label", "embedding")),

    "tx1_tokens" -> ((s, dir) =>
      operators.textual.TextStats.tokenCounts(Tables(s, dir, "documents"), "doc_id", "text")),

    "tx2_quality" -> ((s, dir) =>
      operators.textual.TextStats.quality(Tables(s, dir, "documents"), "doc_id", "text")),

    "tx3_langid" -> ((s, dir) =>
      operators.textual.TextStats.langId(Tables(s, dir, "documents"), "doc_id", "text", "lang")),

    "tx19_dup_spans" -> ((s, dir) =>
      // exact duplicated-span map (TextStats.duplicatedSpans): which
      // character positions sit inside a 40-char gram that appears
      // verbatim in ANOTHER document — the exact-substring-dedup core,
      // position-exact where winnowing (tx8) samples. One shuffle keyed
      // by gram; the oracle recomputes every position in SQL.
      operators.textual.TextStats.duplicatedSpansFrom(
        Tables(s, dir, "documents"), "doc_id", "text", n = 40,
        flagged = docDupFlagged(s, dir))),

    "tx25_gopher" -> ((s, dir) =>
      // the NAMED Gopher rule set (Rae et al. 2021 App. A) — word-count
      // and mean-word-length bounds, #/ellipsis symbol ratio, bullet-
      // and ellipsis-line fractions, alphabetic-word fraction, required
      // stopwords — per-doc metrics plus the conjunction `pass`, as
      // production pre-training filters run them. Pure per-row
      // array/regex projections; the oracle recomputes every metric.
      operators.textual.TextStats.gopher(
        Tables(s, dir, "documents"), "doc_id", "text")),

    "tx24_normalize" -> ((s, dir) =>
      // canonicalization before dedup (TextStats.normalize): casefold +
      // accent fold + punctuation-to-space + whitespace collapse, with
      // the md5 of the canonical form as the portable dedup key — the
      // preprocessing step exact dedup (dd1/dd2) should key on. One
      // codegen projection; the oracle applies the identical pipeline.
      operators.textual.TextStats.normalize(
        Tables(s, dir, "documents"), "doc_id", "text")),

    "tx23_self_clean" -> ((s, dir) =>
      // WITHIN-doc exact self-dedup (TextStats.selfClean): a position
      // whose 20-gram occurred EARLIER in the same document is cut
      // (keep-first) — the char-exact repetition cure tx20 applies
      // cross-document and dd11 applies per paragraph. The oracle
      // recomputes first occurrences with a window min and the
      // per-character coverage exactly.
      operators.textual.TextStats.selfClean(
        Tables(s, dir, "documents"), "doc_id", "text", n = 20)),

    "tx21_suffix_ranks" -> ((s, dir) =>
      // distributed SUFFIX ARRAY by prefix doubling (SuffixArray.scala)
      // — the exact-order structure Lee et al.'s exact-substring dedup
      // is built on, and the scale path past tx19/tx20's fixed-gram
      // shuffle: log2(maxDocLen) rounds of pure sort/join relational
      // algebra rank every suffix of the corpus globally, no
      // single-partition window anywhere. The oracle recomputes the
      // whole order by materializing every suffix string — tractable at
      // sf, impossible at 100 TB, which is the point of the doubling.
      // Built once per (session, dir) — tx22's LCP layer reuses it.
      docSuffixRanks(s, dir)),

    "tx22_lcp_array" -> ((s, dir) =>
      // LCP array over the distributed suffix ranks: per suffix the
      // common-prefix length with its rank-predecessor, plus a same-doc
      // flag — max(lcp) over cross-doc pairs IS the corpus's longest
      // duplicated substring, at any length (the exact structure the
      // 40-gram pipeline approximates). Oracle: lag() over the
      // materialized suffix order + max-prefix-equal probe.
      operators.textual.SuffixArray.lcpArray(
        Tables(s, dir, "documents").where(col("doc_id") % 10 === 0),
        "doc_id", "text",
        precomputedRanks = Some(docSuffixRanks(s, dir)))),

    "tx20_span_clean" -> ((s, dir) =>
      // span-level corpus cleaning (TextStats.spanClean): tx19's
      // duplicated-position map CONSUMED — flagged 40-gram starts merge
      // into maximal spans, the spans are cut, every document
      // re-assembles from its kept segments. Output is the cleaned
      // corpus itself; the oracle recomputes per-character coverage and
      // run counts in SQL and compares the reassembled strings exactly.
      operators.textual.TextStats.spanCleanFrom(
        Tables(s, dir, "documents"), "doc_id", "text", n = 40,
        flagged = docDupFlagged(s, dir))),

    "tx7_train_split" -> ((s, dir) => {
      // deterministic 80/10/10 split + per-split stats
      operators.Sampling.deterministicSplit(
        Tables(s, dir, "documents"), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
    }),

    "tx29_bpe_tokenizer" -> ((s, dir) => {
      // TRAINABLE BPE TOKENIZER ARTIFACT (r18 "What's missing" 4):
      // until now every budget consumer counted whitespace tokens; this
      // trains a REAL subword vocabulary (Sennrich 2016) on a bounded
      // sample, persists it as a transactional table (the
      // Perplexity.train/save/load pattern), re-loads it, broadcasts
      // the KB-sized merge list and counts tokens DISTRIBUTEDLY — then
      // runs the per-lang token-budget admission on the real counts.
      // BPE counts cannot hash-match a SQL oracle (the merges are
      // iterative), so the suite's recall-gate convention applies:
      // hard in-query gates — decode(encode(t)) == normalized t for
      // EVERY doc, save/load byte-equality, words <= n_bpe <= chars
      // per doc, corpus-wide compression, and the admission equals an
      // independently-computed prefix of the admission order — then
      // the emitted frame is the oracle-expressible corpus profile.
      import graft.operators.textual.Bpe
      val wh = java.nio.file.Files.createTempDirectory("graft-tx29-").toString
      val docs = Tables(s, dir, "documents")
      // bounded driver-side sample: 1-in-20 docs is metadata-sized next
      // to the corpus (the artifact economics this pattern exists for)
      val sample = docs.where(col("doc_id") % 4 === 0)
        .select("text").collect().map(_.getString(0)).toSeq
      // request 200 merges; a small-vocabulary sample may exhaust its
      // pair space earlier - the artifact is whatever the sample yields
      val trained = Bpe.train(sample, 200)
      require(trained.merges.nonEmpty, "sample must yield a vocabulary")
      Bpe.save(s, trained, s"$wh/vocab")
      val vocab = Bpe.load(s, s"$wh/vocab")
      require(vocab.merges == trained.merges,
        "the persisted vocabulary must load back byte-identical")
      val bc = s.sparkContext.broadcast(vocab)
      val rtOk = udf((t: String) =>
        bc.value.decode(bc.value.encode(t)) == Bpe.normalize(t))
      val counted = Bpe.withTokenCounts(docs, "text", "n_bpe", vocab)
        .withColumn("n_words",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("n_chars",
          length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
        .localCheckpoint()
      require(counted.where(!rtOk(col("text"))).limit(1).collect().isEmpty,
        "decode(encode(t)) must equal normalized t for EVERY document")
      require(counted.where(col("n_bpe") < col("n_words") ||
          col("n_bpe") > col("n_chars")).limit(1).collect().isEmpty,
        "per doc: words <= n_bpe <= non-whitespace chars")
      val tot = counted.agg(
        sum("n_bpe").cast("long"), sum("n_chars").cast("long")).head()
      require(tot.getLong(0) < tot.getLong(1),
        "a trained vocabulary must compress the corpus it sampled")
      // the budget admission on REAL token counts, gated against an
      // independent recompute of the same admission order
      val budgets = counted.groupBy("lang")
        .agg(expr("sum(n_bpe) div 2").as("budget"))
      val admitted = operators.Sampling.tokenBudget(
        counted, "doc_id", "lang", "n_bpe", budgets)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(col("doc_id") * 2654435761L % 4294967296L % 64,
          col("doc_id") * 2654435761L % 4294967296L % 1000000, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val expect = counted
        .withColumn("cum", sum(col("n_bpe")).over(w))
        .join(budgets, "lang").where(col("cum") <= col("budget"))
        .select(col("doc_id"), col("cum").as("cum_tokens"))
      val got = admitted.select("doc_id", "cum_tokens")
      require(sameRows(got, expect),
        "BPE-budget admission must equal the independent prefix recompute")
      require(admitted.count() < counted.count(),
        "a half-budget must actually cut the corpus")
      counted.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("ws_tokens"))
    }),

    "tx16_token_budget" -> ((s, dir) => {
      // token-budget mixture sampling (Sampling.tokenBudget): each lang
      // is filled to HALF its total whitespace tokens in Knuth-hash
      // admission order — the corpus-assembly step that meets a
      // per-source token target, computed as a distributed prefix sum
      // (no one-task-per-source window). Budget = div-2 of the exact
      // total, so the cut boundary is integer-exact on any engine.
      val docs = Tables(s, dir, "documents")
        .withColumn("n_tok",
          size(split(trim(col("text")), "\\s+")).cast("long"))
      val budgets = docs.groupBy("lang")
        .agg(expr("sum(n_tok) div 2").as("budget"))
      operators.Sampling.tokenBudget(
          docs, "doc_id", "lang", "n_tok", budgets)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("cum_tokens"))
    }),

    "tx28_decontam_clean" -> ((s, dir) => {
      // DECONTAMINATION CLEANING — tx11 completed the way tx20
      // completed tx19: instead of only FLAGGING training docs that
      // share grams with the held-out benchmark, cut the contaminated
      // char-spans themselves and re-assemble the documents (the
      // surgical alternative to dropping a whole doc for one leaked
      // paragraph). Positions whose 20-char gram appears ANYWHERE in
      // the benchmark slice flag; flagged runs merge into maximal
      // spans through the shared span machinery. Scale shape: the
      // benchmark gram-hash set is metadata-sized next to a 100 TB
      // corpus and BROADCASTS (Contamination.check's economics), so
      // the corpus is touched by one gram projection + one row-local
      // reassembly — the corpus never shuffles against itself.
      val docs = Tables(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      val bench = docs.where(col("doc_id") % 50 === 0)
      val benchSet = operators.textual.TextStats
        .gramHashes(bench, "doc_id", "text", n = 20)
        .select(col("gh")).distinct()
      val flagged = operators.textual.TextStats
        .gramHashes(corpus, "doc_id", "text", n = 20)
        .join(broadcast(benchSet), Seq("gh"), "left_semi")
        .select(col("doc_id"), col("p"))
      operators.textual.TextStats.spanCleanFrom(
        corpus, "doc_id", "text", n = 20, flagged = flagged)
    }),

    "tx27_curation_pipeline" -> ((s, dir) => {
      // END-TO-END CORPUS CURATION — the whole training-data prep
      // pipeline as ONE composed query under ONE oracle: canonicalize
      // (tx24's normalize) → exact dedup keep-first on the canonical
      // fingerprint (dd1's rule on tx24's key) → quality gate (token
      // bounds + stopword floor over canonical tokens, tx2's ratios) →
      // per-language TOKEN BUDGET admission (tx16's distributed prefix
      // sum) → training-shard layout (tx26). Every stage is
      // individually oracle-exact; the capstone pins the COMPOSITION —
      // the frame a 100 TB curation run hands to the tokenizer, where
      // a drift in any stage (or in how stages hand off) breaks the
      // hash. Scale shape: two bounded aggregations (fingerprint,
      // budgets), two prefix sums, zero all-pairs anything.
      val docs = Tables(s, dir, "documents")
      val norm = operators.textual.TextStats.normalize(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val keepFirst = norm.groupBy("fingerprint")
        .agg(min(col("doc_id")).as("doc_id"))
      val deduped = norm.join(keepFirst, Seq("fingerprint", "doc_id"),
        "left_semi")
      val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on",
        "for", "with")
      val stopRatio = size(filter(split(col("norm_text"), " "),
          t => t.isInCollection(stopwords))).cast("double") / col("n_tokens")
      val quality = deduped
        .where(col("n_tokens").between(30, 2000) && stopRatio >= 0.02)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      val budgets = quality.groupBy("lang")
        .agg(expr("sum(n_tokens) div 2").as("budget"))
      val admitted = operators.Sampling.tokenBudget(
          quality, "doc_id", "lang", "n_tokens", budgets)
        .withColumnRenamed("cum_tokens", "lang_cum")
      operators.Sampling.shardByTokens(
          admitted, "doc_id", "n_tokens", shardTokens = 20000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("lang_cum"), col("cum_tokens"), col("shard_id"))
    }),

    "tx26_shard_pack" -> ((s, dir) => {
      // TRAINING-SHARD LAYOUT (Sampling.shardByTokens): the step after
      // tx16's budget admission — the surviving corpus is laid out in a
      // deterministic Knuth-hash shuffle order and packed greedily into
      // 25k-token shards, `shard_id = (cum - n_tok) div size`. This is
      // the tokenize→shuffle→shard tail of every training-data
      // pipeline; the running total is the same distributed prefix sum
      // as tx16 (O(buckets) offset frame, no global single-task
      // window), so the layout of a 100 TB corpus is one data shuffle.
      val docs = Tables(s, dir, "documents")
        .withColumn("n_tok",
          size(split(trim(col("text")), "\\s+")).cast("long"))
      operators.Sampling.shardByTokens(
          docs, "doc_id", "n_tok", shardTokens = 25000L)
        .select(col("doc_id"), col("n_tok"), col("cum_tokens"),
          col("shard_id"))
    }),

    "tx5_tfidf" -> ((s, dir) =>
      operators.textual.TextStats.tfidfTop(Tables(s, dir, "documents"), "doc_id", "text", k = 3)),

    "tx15_bm25" -> ((s, dir) =>
      // sparse retrieval: Okapi BM25 term scoring (rational idf — see
      // Bm25.scala for the engine-portability rationale), top-10 docs
      // per query term under the hard oracle
      operators.textual.Bm25.scoreTerms(Tables(s, dir, "documents"),
        "doc_id", "text",
        Seq("spark", "join", "filter", "hash", "window"), k = 10)),

    "ss13_range_search" -> ((s, dir) => {
      // RADIUS search (find-all-within-cosine, the ANN family's range
      // twin of top-k) under gate-then-emit-truth: the IVF-probed path
      // (corpus k-means-bucketed once, each query exact-checks only its
      // nProbe nearest lists — scan fraction ≈ nProbe/nLists) must
      // recover enough of the exact result; emitted rows are the exact
      // brute radius join, DuckDB-reproducible.
      import operators.similarity.Similarity
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 20)
      val truth = Similarity.rangeBrute(emb, queries, "vec_id",
        "embedding", radius = 0.3).localCheckpoint()
      val nTruth = truth.count()
      require(nTruth > 0, "no in-radius neighbors - range gate vacuous")
      val approx = Similarity.rangeIvf(emb, queries, "vec_id",
        "embedding", radius = 0.3, nProbe = 3)
      val hit = truth.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val recall = hit.toDouble / nTruth
      require(recall >= 0.5,
        f"range-search recall $recall%.3f < 0.5 - IVF probing lost too " +
          "many in-radius neighbors")
      truth
    }),

    "ss14_filtered_knn" -> ((s, dir) => {
      // FILTERED vector search (top-k restricted to neighbors sharing
      // the query's label) under gate-then-emit-truth: the PRE-FILTER
      // IVF path — bucket join keyed on (list, label), so the predicate
      // prunes before any distance math, scan fraction ≈ selectivity ×
      // nProbe/nLists — must recover the filtered exact top-k; emitted
      // rows are the exact filtered brute force, whose attribute
      // equality is itself a join key (co-located, never a post-filter),
      // DuckDB-reproducible.
      import operators.similarity.Similarity
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 20)
      val truth = Similarity.knnBruteFiltered(emb, queries, "vec_id",
        "embedding", "label", k = 5).localCheckpoint()
      val approx = Similarity.knnIvfFiltered(emb, queries, "vec_id",
        "embedding", "label", k = 5, nLists = 8, nProbe = 4)
      Similarity.recallGate(approx, truth, minMeanRecall = 0.6)
      truth
    }),

    "ss15_filtered_perattr" -> ((s, dir) => {
      // the PER-ATTRIBUTE index variant of ss14: one small codebook per
      // label (an index per tenant/language), so probed lists are
      // within-attribute by construction and scan fraction tracks
      // nProbe/nLists per attribute even under attribute skew — where
      // ss14's shared codebook skews its lists toward the dominant
      // attribute's geometry. Same gate-then-emit-truth: recall against
      // the exact filtered brute force, truth emitted under ss14's
      // oracle shape.
      import operators.similarity.Similarity
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 20)
      val truth = Similarity.knnBruteFiltered(emb, queries, "vec_id",
        "embedding", "label", k = 5).localCheckpoint()
      val approx = Similarity.knnIvfPerAttr(emb, queries, "vec_id",
        "embedding", "label", k = 5, nLists = 4, nProbe = 2)
      Similarity.recallGate(approx, truth, minMeanRecall = 0.6)
      truth
    }),

    "ss12_hybrid_rrf" -> ((s, dir) => {
      // HYBRID retrieval under the gate: dense top-50 (exact cosine,
      // ss1's machinery) fused with sparse top-50 (token-set Jaccard)
      // by Reciprocal Rank Fusion — the production default for
      // combining incomparable score spaces, and pure rank/rational
      // arithmetic so DuckDB recomputes the fused list exactly.
      // documents.doc_id and embeddings.vec_id align by construction
      // (TESTDATA), giving each doc both a text and an embedding.
      val emb = Tables(s, dir, "embeddings")
      val docs = Tables(s, dir, "documents")
      val dense = operators.similarity.Similarity.knnBrute(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 50)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rk").as("rank"))
      val sparse = operators.similarity.Hybrid.jaccardRank(
        docs, "doc_id", "text", (0L until 10L).toSeq, k = 50)
        .select("query_id", "doc_id", "rank")
      operators.similarity.Hybrid.rrf(dense, sparse, k = 10)
    }),

    "tx6_chunk" -> ((s, dir) =>
      operators.textual.TextStats.chunk(Tables(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 16)),

    "tx8_winnow" -> ((s, dir) =>
      // winnowing fingerprints: local, edit-robust document signatures
      operators.dedup.Winnowing.fingerprints(
        Tables(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)),

    "dd15_bloom_dedup" -> ((s, dir) => {
      // ingest-time exact dedup with the Bloom prefilter: incoming =
      // doc_id%5==0 slice, existing = the rest; the sketch of existing
      // fingerprints splits incoming before any shuffle, the anti-join
      // verifies only the candidate slice — result identical to the
      // plain anti-join, which is exactly what the oracle computes
      val docs = Tables(s, dir, "documents")
      operators.dedup.BloomDedup.newDocs(
        incoming = docs.where(col("doc_id") % 5 === 0),
        existing = docs.where(col("doc_id") % 5 =!= 0),
        idCol = "doc_id", textCol = "text", expectedItems = 1L << 16)
    }),
    "dd17_persistent_index" -> ((s, dir) => {
      // the ingest-dedup INDEX as a persisted artifact: at 100 TB the
      // existing-corpus fingerprint set is a maintained TABLE (appended
      // per ingest batch), never recomputed from the corpus per run.
      // Build it once, persist through the table format, LOAD it in a
      // fresh session, and dedup the incoming batch against the loaded
      // index with the Bloom-prefiltered anti-join — the result must be
      // identical to the plain anti-join (dd15's oracle verbatim), and
      // the gate pins the artifact round-trip lossless.
      import graft.sources.ManifestTable
      import graft.functions.TextFunctions
      val tmp =
        java.nio.file.Files.createTempDirectory("graft-dd17-").toString
      val docs = Tables(s, dir, "documents")
      val index = docs.where(col("doc_id") % 5 =!= 0)
        .select(TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .distinct()
      val nBuilt = index.count()
      ManifestTable.overwrite(index, s"$tmp/fingerprints")
      val s2 = s.newSession()
      val loaded = ManifestTable.read(s2, s"$tmp/fingerprints")
      require(loaded.count() == nBuilt,
        "fingerprint index drifted through persistence")
      val incoming = Tables(s2, dir, "documents")
        .where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fingerprint"))
      operators.dedup.BloomDedup.antiJoin(incoming, loaded,
        "fingerprint", "fingerprint", expectedItems = 1L << 16)
    }),

    "dd14_url_dedup" -> ((s, dir) => {
      // URL canonicalization dedup (RefinedWeb's pre-content stage):
      // six deterministic variants per page group — plain, http+UPPER
      // host+trailing slash, www+utm param, fragment (all collapsing to
      // one canonical form), plus a second family exercising the hard
      // separators: a literal '&' in the PATH and a literal '?' inside
      // the QUERY, with tracking params mixed in — variants 4/5 must
      // collapse together WITHOUT corrupting either literal. The group
      // key is doc_id/6 so every group MIXES variants (doc_id%6 and
      // doc_id%120 would be correlated and never collapse cross-variant).
      val docs = Tables(s, dir, "documents")
      val g = floor(col("doc_id") / 6).cast("long") % 20
      val v = col("doc_id") % 6
      val url = when(v === 0,
          concat(lit("https://site"), g, lit(".example.com/p/"), g))
        .when(v === 1,
          concat(lit("http://SITE"), g, lit(".EXAMPLE.COM/p/"), g, lit("/")))
        .when(v === 2,
          concat(lit("https://www.site"), g, lit(".example.com/p/"), g,
            lit("?utm_source=x")))
        .when(v === 3,
          concat(lit("https://site"), g, lit(".example.com/p/"), g, lit("#frag")))
        .when(v === 4,
          concat(lit("https://site"), g, lit(".example.com/x&y/"), g,
            lit("?keep=1?z=2&utm_source=a")))
        .otherwise(
          concat(lit("http://WWW.site"), g, lit(".example.com/x&y/"), g,
            lit("?keep=1?z=2&fbclid=abc")))
      operators.dedup.UrlDedup.dedupByUrl(
        docs.withColumn("url", url), "doc_id", "url")
    }),

    "q62_linkage" -> ((s, dir) => {
      // Fellegi-Sunter probabilistic record linkage: customer vs a
      // deterministically perturbed copy (case noise on name, rounded
      // balances, nulled segments), blocked on nation, integer
      // milli-bit weights → exact BIGINT scores; threshold keeps the
      // true matches (diagonal) and the oracle recomputes every score
      import operators.Linkage
      val a = Tables(s, dir, "customer")
      val b = a.select(
        col("c_custkey"), col("c_nationkey"),
        when(col("c_custkey") % 3 === 0, upper(col("c_name")))
          .otherwise(col("c_name")).as("c_name"),
        when(col("c_custkey") % 4 === 0, round(col("c_acctbal")))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      // pinned: the gate reads it twice (sample filter + emission)
      val fixed = Linkage.linkPairs(a, b, Seq("c_nationkey"), "c_custkey",
        "c_custkey",
        Seq(
          Linkage.eqLowerRule("c_name", 2200L, -800L),
          Linkage.withinRule("c_acctbal", 1.0, 1500L, -500L),
          Linkage.eqRule("c_mktsegment", 300L, -300L)),
        threshold = 3000L).localCheckpoint()
      // EM gate: Fellegi-Sunter weights estimated UNSUPERVISED (one
      // pattern-count pass + driver EM) must reproduce the hand-set
      // rules' classification — full recall (every fixed link found) and
      // ≥99% precision. Not exact set equality: the posterior-1/2 cutoff
      // legitimately admits a borderline chance pair the hand threshold
      // excludes. Estimation AND gate run on a DETERMINISTIC 1-in-3 key
      // sample of both sides — the estimator consumes pattern
      // FREQUENCIES, so a sample is the production shape at any scale
      // (the blocked pair space shrinks 9x; the planted diagonal
      // survives because both sides sample the same keys). The full
      // fixed links then emit under the oracle, computed exactly once.
      val emFields = Seq(
        Linkage.EmField("c_name", (l, r) => lower(l) === lower(r)),
        Linkage.EmField("c_acctbal", (l, r) => abs(l - r) <= 1.0),
        Linkage.EmField("c_mktsegment", (l, r) => l === r))
      val sa = a.where(col("c_custkey") % 3 === 0)
      val sb = b.where(col("c_custkey") % 3 === 0)
      val est = Linkage.estimateWeights(sa, sb, Seq("c_nationkey"), emFields)
      // the sample's fixed links are EXACTLY the full links with both
      // endpoints in the sample (same scoring, same threshold, subset of
      // the pair space) — a filter over the pinned frame, not a second
      // scoring pass
      val fixedS = fixed
        .where(col("a_id") % 3 === 0 && col("b_id") % 3 === 0)
        .select("a_id", "b_id").localCheckpoint()
      val emLinks = Linkage.linkPairs(sa, sb, Seq("c_nationkey"), "c_custkey",
        "c_custkey", est.rules(emFields), est.threshold)
        .select("a_id", "b_id").localCheckpoint()
      val nFixed = fixedS.count()
      val nEm = emLinks.count()
      require(nFixed > 0, "empty sample gate")
      val missed = fixedS
        .join(emLinks, Seq("a_id", "b_id"), "left_anti").limit(1).collect()
      require(missed.isEmpty,
        s"EM-estimated weights missed fixed link ${missed.toSeq} " +
          s"(lambda=${est.lambda}, fields=${est.fields})")
      require(nEm <= math.ceil(nFixed * 1.01),
        s"EM-estimated weights linked $nEm pairs vs $nFixed fixed " +
          s"(precision under 99%; lambda=${est.lambda}, fields=${est.fields})")
      fixed
    }),

    "dd11_seg_dedup" -> ((s, dir) =>
      // paragraph-dedup analogue: corpus-wide keep-first over 10-token
      // segments, reassembled per doc (CCNet/Dolma exact-paragraph stage)
      operators.dedup.SegmentDedup.dedupSegments(
        Tables(s, dir, "documents"), "doc_id", "text", segTokens = 10)),

    "dd12_incremental" -> ((s, dir) => {
      // ingest-time dedup: the doc_id%5==0 slice plays the incoming batch,
      // the rest the existing corpus; candidates are incoming×existing
      // only, under the existing index's frequency order
      val docs = Tables(s, dir, "documents")
      operators.dedup.IncrementalDedup.newDuplicates(
        existing = docs.where(col("doc_id") % 5 =!= 0),
        incoming = docs.where(col("doc_id") % 5 === 0),
        "doc_id", "text", k = 3, threshold = 0.8)
    }),

    "q57_clean_pipeline" -> ((s, dir) => {
      // the COMPOSED cleaning pass a real corpus run executes — quality
      // score, Gopher repetition, LM perplexity, and exact-dedup
      // canonicalization joined into one per-doc verdict with reasons;
      // every signal is individually oracle-gated elsewhere, this gates
      // their composition
      val docs = Tables(s, dir, "documents")
      val q = operators.textual.TextStats.quality(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val rep = operators.textual.TextStats.repetition(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("keep_rep"))
      val ppl = operators.textual.Perplexity.scoreFilter(docs, "doc_id", "text",
          trainPred = col("doc_id") % 10 === 0, maxPpl = 32.0)
        .select(col("doc_id"), col("keep").as("keep_ppl"))
      val canon = docs
        .select(col("doc_id"), md5(col("text")).as("__h"))
        .withColumn("__minid",
          min("doc_id").over(Window.partitionBy("__h")))
        .select(col("doc_id"), (col("doc_id") === col("__minid")).as("is_canonical"))
      val keepPpl = coalesce(col("keep_ppl"), lit(false))
      q.join(rep, "doc_id").join(ppl, Seq("doc_id"), "left").join(canon, "doc_id")
        .select(col("doc_id"), col("quality_score"), col("keep_rep"),
          keepPpl.as("keep_ppl"), col("is_canonical"),
          (col("quality_score") >= 0.5 && col("keep_rep") && keepPpl &&
            col("is_canonical")).as("kept"))
    }),

    "dd13_domain_cap" -> ((s, dir) => {
      // per-domain caps (RefinedWeb/Dolma host diversity stage): URLs
      // synthesized deterministically (37 hosts), quality = token count,
      // keep top 3 per host
      val docs = Tables(s, dir, "documents")
        .withColumn("url", concat(lit("https://site"), col("doc_id") % 37,
          lit(".example.com/"), col("doc_id")))
        .withColumn("n_toks",
          size(graft.functions.TextFunctions.tokens(col("text"))))
      operators.dedup.DomainCap.capPerHost(docs, "doc_id", "url", "n_toks", cap = 3)
    }),

    "tx10_repetition" -> ((s, dir) =>
      // Gopher repetition filters: top-unigram / top-bigram coverage and
      // duplicated-5-gram fraction, with the keep rule applied
      operators.textual.TextStats.repetition(
        Tables(s, dir, "documents"), "doc_id", "text")),

    "tx11_contamination" -> ((s, dir) => {
      // test-set decontamination: flag training docs sharing any 8-gram
      // with the held-out benchmark slice (doc_id % 50 == 0)
      val docs = Tables(s, dir, "documents")
      operators.textual.Contamination.check(
        corpus = docs.where(col("doc_id") % 50 =!= 0),
        benchmark = docs.where(col("doc_id") % 50 === 0),
        idCol = "doc_id", textCol = "text", n = 8)
    }),

    "q41_packing" -> ((s, dir) => {
      // sequence packing: deterministic concat-and-chop binning of docs
      // into 512-token bins per lang shard; output = per-bin manifest
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n_tokens"))
      operators.Packing.packBins(d, "doc_id", "lang", "n_tokens", capacity = 512)
        .groupBy(col("lang"), col("bin_idx"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"))
    }),

    "tx9_entropy" -> ((s, dir) =>
      // token-distribution entropy + repetition ratio (Gopher/C4-style
      // quality signals for boilerplate and degenerate repetition)
      operators.textual.TextStats.tokenEntropy(
        Tables(s, dir, "documents"), "doc_id", "text")),

    "dd10_winnow_pairs" -> ((s, dir) => {
      // MOSS-style near-dup detection: documents sharing >= 5 winnowing
      // fingerprints. The fingerprint table is a ~2/(w+1) SAMPLE of the
      // k-gram index, so the inverted-index self-join moves a fraction of
      // dd3's shuffle while keeping the shared-substring guarantee
      operators.IndexScope.scoped { sc =>
        // distinct (doc, fingerprint) BEFORE the inverted-index join: a
        // fingerprint selected at several positions of one doc would
        // otherwise multiply the join fan-out, and distinct input turns
        // the countDistinct (expand + second shuffle) into a plain count
        val fp = sc.index(operators.dedup.Winnowing.fingerprints(
            Tables(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
          .select(col("doc_id"), col("fingerprint")).distinct())
        fp.select(col("doc_id").as("doc_a"), col("fingerprint"))
          .join(fp.select(col("doc_id").as("doc_b"), col("fingerprint")), "fingerprint")
          .where(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 5)
      }
    }),

    "tx4_ngram_freq" -> ((s, dir) =>
      operators.textual.TextStats.ngramFreq(Tables(s, dir, "documents"), "text", n = 2, minCount = 10)),

    "tx12_pii" -> ((s, dir) => {
      // PII scrub gate: the synthetic corpus is PII-free, so inject
      // deterministic id-derived PII (emails / E.164-ish phones / dotted
      // quads) and verify detection counts and the masked-text digest
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text", concat(col("text"), lit(" contact "),
          when(col("doc_id") % 3 === 0,
            concat(lit("user"), col("doc_id"), lit("@example.com")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("+155500"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 5, "0")))
          .otherwise(concat(lit("10."),
            pmod(col("doc_id"), lit(200)).cast("string"), lit(".0.1")))))
      operators.textual.TextStats.piiScrub(docs, "doc_id", "text")
    }),

    "tx13_c4_filter" -> ((s, dir) => {
      // C4 line filtering: give the single-line corpus a line structure —
      // ids divisible by 2/3/5 gain a too-short line, a lorem-ipsum
      // boilerplate line, and a code-brace line respectively
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 2 === 0, lit("\ntiny line")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            lit("\nthis page uses lorem ipsum filler text for padding"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nfunction f() { return 42; } with many words inside here"))
            .otherwise(lit(""))))
      operators.textual.TextStats.lineFilter(docs, "doc_id", "text")
    }),

    "tx14_perplexity" -> ((s, dir) =>
      // CCNet-style LM perplexity gate: interpolated bigram LM trained on
      // the doc_id%10==0 "reference" slice, every doc scored against it
      operators.textual.Perplexity.scoreFilter(
        Tables(s, dir, "documents"), "doc_id", "text",
        trainPred = col("doc_id") % 10 === 0, maxPpl = 32.0)),

    "tx18_quality_classifier" -> ((s, dir) => {
      // model-based quality filtering under the gate: a logistic
      // classifier over tx2's engine-exact feature ratios, trained
      // driver-side on the even-id half against a PLANTED linear rule,
      // must recover that rule on the held-out half (accuracy gate) —
      // the sample-train / broadcast-score lifecycle of a corpus
      // quality classifier. The emitted rows are the features + the
      // planted labels, which the oracle recomputes exactly (the rule
      // is arithmetic over the ROUNDED ratios, identical IEEE ops on
      // both engines); the trained model is enforced by the gate, not
      // the hash.
      import operators.textual.{QualityClassifier, TextStats}
      val feat = TextStats.quality(Tables(s, dir, "documents"),
          "doc_id", "text")
        .withColumn("label",
          lit(2.0) * col("stopword_ratio") - col("punct_ratio") -
            col("digit_ratio") >= 0.12)
        .localCheckpoint()
      val nPos = feat.where(col("label")).count()
      val nTot = feat.count()
      require(nPos * 5 > nTot && (nTot - nPos) * 5 > nTot,
        s"degenerate label balance $nPos/$nTot - gate vacuous")
      val model = QualityClassifier.train(
        feat.where(col("doc_id") % 2 === 0), "doc_id",
        Seq("stopword_ratio", "punct_ratio", "digit_ratio"), "label")
      val acc = QualityClassifier.accuracy(
        QualityClassifier.score(feat.where(col("doc_id") % 2 =!= 0),
          model), "label")
      require(acc >= 0.9,
        f"classifier held-out accuracy $acc%.3f < 0.9")
      feat.select(col("doc_id"), col("stopword_ratio"),
        col("punct_ratio"), col("digit_ratio"), col("label"))
    }),

    "tx17_lm_persist" -> ((s, dir) => {
      // the LM as a PERSISTED artifact (train once / score many — the
      // CCNet production shape where the KenLM model is a file, not an
      // inline computation): train tx14's bigram LM, save it as
      // transactional tables, LOAD it back, and score the corpus with
      // the loaded model. The gate asserts the artifact round-trips
      // losslessly; the scores must equal the inline model's — tx14's
      // oracle verbatim.
      import operators.textual.Perplexity
      val docs = Tables(s, dir, "documents")
      val trained = Perplexity.train(docs, "doc_id", "text",
        trainPred = col("doc_id") % 10 === 0)
      val tmp =
        java.nio.file.Files.createTempDirectory("graft-tx17-").toString
      Perplexity.save(trained, tmp)
      val loaded = Perplexity.load(s, tmp)
      require(loaded.denom == trained.denom,
        s"LM meta drifted through persistence: ${loaded.denom} vs ${trained.denom}")
      require(loaded.rate.count() == trained.rate.count() &&
        loaded.uni.count() == trained.uni.count(),
        "LM tables drifted through persistence")
      Perplexity.score(docs, "doc_id", "text", loaded, maxPpl = 32.0)
    }),

    "mm1_binary_meta" -> ((s, dir) => {
      // REAL header decode over a mixed binary corpus: payloads are
      // synthesized deterministically from doc_id — PNG for even ids,
      // JPEG for odd, raw text bytes every 13th (the unrecognized-format
      // path) — with dimensions derived from the id, so the oracle
      // predicts them arithmetically while the Spark side actually parses
      // the IHDR / SOFn bytes (operators/multimodal/ImageHeaders.scala).
      import s.implicits._
      import operators.multimodal.ImageHeaders
      val payloads = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val w = (16 + id % 624).toInt
          val h = (16 + (id * 7) % 464).toInt
          val filler = (id % 100).toInt
          val payload =
            if (id % 13 == 0) text.getBytes("UTF-8")
            else if (id % 2 == 0) ImageHeaders.synthPng(w, h, filler)
            else ImageHeaders.synthJpeg(w, h, filler)
          (id, payload)
        }.toDF("doc_id", "payload")
      operators.multimodal.BinaryMeta.extract(s, payloads, "doc_id", "payload").toDF()
    }),

    "mm5_gif_webp" -> ((s, dir) => {
      // mm1's little-endian siblings: GIF (logical screen descriptor)
      // and WebP in both VP8-lossy (sync-code + 14-bit dims) and
      // VP8L-lossless (LSB-first packed dims) container layouts —
      // id-derived parameters, every 13th doc raw text for the
      // unknown-format path. The Spark side walks the real RIFF/LSD
      // bytes (ImageHeaders.parseAny); the oracle predicts every field
      // arithmetically.
      import s.implicits._
      import operators.multimodal.ImageHeaders
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val w = (16 + id % 624).toInt
          val h = (16 + (id * 7) % 464).toInt
          val filler = (id % 100).toInt
          val payload =
            if (id % 13 == 0) text.getBytes("UTF-8")
            else (id % 3) match {
              case 0 => ImageHeaders.synthGif(w, h, filler)
              case 1 => ImageHeaders.synthWebpLossy(w, h, filler)
              case _ => ImageHeaders.synthWebpLossless(w, h, filler)
            }
          val dims = ImageHeaders.parseAny(payload)
          (id, payload.length.toLong,
            dims.map(_.format).getOrElse("unknown"),
            dims.map(_.width), dims.map(_.height))
        }
        .toDF("doc_id", "byte_len", "format", "width", "height")
    }),

    "mm6_resize" -> ((s, dir) => {
      // the TRANSFORM-and-re-encode leg of the multimodal pipeline:
      // decode header → resize to half → re-encode → verify by
      // re-parsing the produced bytes. The pixel-level decode/re-encode
      // is a DETERMINISTIC FAKE (codec libraries are absent from this
      // environment by design — the fake regenerates a well-formed
      // header at the new dimensions); the Spark-side plumbing is the
      // real thing a cluster job needs: typed per-partition map, binary
      // payloads in AND out, self-verification on the re-encoded bytes,
      // id-arithmetic oracle over the emitted metadata.
      import s.implicits._
      import operators.multimodal.ImageHeaders
      Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = (16 + id % 624).toInt
          val h = (16 + (id * 7) % 464).toInt
          val filler = (id % 100).toInt
          val src =
            if (id % 2 == 0) ImageHeaders.synthPng(w, h, filler)
            else ImageHeaders.synthJpeg(w, h, filler)
          val dims = ImageHeaders.parse(src).getOrElse(
            throw new IllegalStateException(s"synth payload unparseable: $id"))
          val nw = math.max(1, dims.width / 2)
          val nh = math.max(1, dims.height / 2)
          val out =
            if (dims.format == "png") ImageHeaders.synthPng(nw, nh, 0)
            else ImageHeaders.synthJpeg(nw, nh, 0)
          val back = ImageHeaders.parse(out).getOrElse(
            throw new IllegalStateException(s"re-encoded payload unparseable: $id"))
          require(back.width == nw && back.height == nh,
            s"re-encode drifted for $id: $back vs ($nw, $nh)")
          (id, dims.format, dims.width, dims.height,
            back.width, back.height, out.length.toLong)
        }
        .toDF("doc_id", "format", "width", "height",
          "new_width", "new_height", "out_len")
    }),

    "mm7_bmp_pixels" -> ((s, dir) => {
      // REAL pixel math, no fakes (operators/multimodal/BmpCodec.scala):
      // BMP is uncompressed, so this container can decode it honestly —
      // where mm6's PNG/JPEG resize wraps a marked-fake pixel step, this
      // query synthesizes a real 24-bit BMP whose pixels follow an
      // id-arithmetic formula, DECODES the actual bytes (stride padding,
      // bottom-up rows, BGR order), area-averages a 2× downscale with
      // integer floor math, re-encodes, re-decodes, and emits per-channel
      // pixel sums of BOTH rasters. The oracle recomputes every pixel of
      // both images arithmetically in SQL — any codec bug (padding,
      // row order, channel swap, rounding) breaks the hash.
      import s.implicits._
      import operators.multimodal.BmpCodec
      Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = (4 + id % 13).toInt
          val h = (4 + (id * 3) % 11).toInt
          val px = Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            val r = ((x * 7 + y * 13 + id) % 256).toInt
            val g = ((x * 3 + y * 5 + id * 11) % 256).toInt
            val b = ((x + y * 2 + id * 17) % 256).toInt
            (r << 16) | (g << 8) | b
          }
          val bytes = BmpCodec.encode(w, h, px)
          val dec = BmpCodec.decode(bytes).getOrElse(
            throw new IllegalStateException(s"undecodable BMP for $id"))
          require(dec.width == w && dec.height == h &&
            java.util.Arrays.equals(dec.pixels, px),
            s"decode round-trip drifted for $id")
          val (sr, sg, sb) = BmpCodec.channelSums(dec)
          val half = BmpCodec.halve(dec)
          val out = BmpCodec.encode(half.width, half.height, half.pixels)
          val back = BmpCodec.decode(out).getOrElse(
            throw new IllegalStateException(s"re-encoded BMP undecodable for $id"))
          require(java.util.Arrays.equals(back.pixels, half.pixels),
            s"re-encode drifted for $id")
          val (dr, dg, db) = BmpCodec.channelSums(back)
          (id, w.toLong, h.toLong, half.width.toLong, half.height.toLong,
            bytes.length.toLong, sr, sg, sb, dr, dg, db)
        }
        .toDF("doc_id", "width", "height", "new_width", "new_height",
          "byte_len", "src_r", "src_g", "src_b", "dst_r", "dst_g", "dst_b")
    }),

    "mm8_phash_dedup" -> ((s, dir) => {
      // IMAGE NEAR-DUPLICATE detection over REAL pixels — multimodal
      // meets the dedup family: synthesize a 16×16 BMP per doc whose
      // gradient follows its base class (doc_id % 41) with a small
      // per-doc perturbation, decode the actual bytes (BmpCodec — real
      // stride/row-order/channel work, not a fake), compute the 64-bit
      // average perceptual hash (8×8 floor-averaged luma cells vs their
      // mean — BmpCodec.aHash64), then find all pairs within Hamming ≤ 3
      // via SimHash's pigeonhole band join (4×16-bit bands, provably
      // exact recall — the hash family changed, the candidate machinery
      // didn't, and there is still no all-pairs compare anywhere). The
      // oracle recomputes every pixel, every cell, every hash bit and
      // the full pair set arithmetically in SQL.
      import s.implicits._
      import operators.multimodal.BmpCodec
      val sigs = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val base = id % 41
          val px = Array.tabulate(256) { i =>
            val x = i % 16; val y = i / 16
            val noise = if ((x * y) % 13 == 0) id % 5 else 0L
            val r = ((x * 13 + y * 7 + base * 31 + noise) % 256).toInt
            val g = ((x * 5 + y * 11 + base * 17) % 256).toInt
            val b = ((x * 9 + y * 3 + base * 23) % 256).toInt
            (r << 16) | (g << 8) | b
          }
          val img = BmpCodec.decode(BmpCodec.encode(16, 16, px)).getOrElse(
            throw new IllegalStateException(s"undecodable BMP for $id"))
          (id, BmpCodec.aHash64(img))
        }.toDF("doc_id", "ahash")
      operators.dedup.SimHash.pairsFromSignatures(
          sigs, "doc_id", "ahash", maxHamming = 3, chunks = 4)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long"))
    }),

    "mm3_wav_meta" -> ((s, dir) => {
      // audio twin of mm1: synthesize real RIFF/WAVE headers with
      // id-derived parameters (every 11th doc stays raw text for the
      // unknown path), parse them back with the codec-free chunk walk,
      // and let the oracle predict the fields arithmetically
      import s.implicits._
      import operators.multimodal.AudioHeaders
      val rates = Array(8000, 16000, 44100, 48000)
      val payloads = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val payload =
            if (id % 11 == 0) text.getBytes("UTF-8")
            else AudioHeaders.synthWav(
              sampleRate = rates((id % 4).toInt),
              channels = 1 + (id % 2).toInt,
              bitsPerSample = 16,
              nSamples = 100 + (id % 500).toInt)
          (id, payload)
        }.toDF("doc_id", "payload")
      AudioHeaders.extract(s, payloads, "doc_id", "payload").toDF()
    }),

    "mm4_mp4_meta" -> ((s, dir) => {
      // video twin of mm1/mm3: synthesize real ISO-BMFF headers
      // (ftyp + moov/mvhd + mdat) with id-derived brand/timescale/
      // duration (every 13th doc stays raw text for the unknown path),
      // parse them back with the codec-free box walk, oracle predicts
      // every field arithmetically
      import s.implicits._
      import operators.multimodal.Mp4Headers
      val brands = Array("isom", "mp42", "avc1")
      val scales = Array(600, 1000, 90000)
      val payloads = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val payload =
            if (id % 13 == 0) text.getBytes("UTF-8")
            else Mp4Headers.synthMp4(
              brand = brands((id % 3).toInt),
              timescale = scales((id % 3).toInt),
              duration = (100 + id % 400) * 10,
              mdatBytes = (id % 50).toInt)
          (id, payload)
        }.toDF("doc_id", "payload")
      Mp4Headers.extract(s, payloads, "doc_id", "payload").toDF()
    }),

    "mm2_frame_sample" -> ((s, dir) =>
      // keyframe-sampling plumbing: 32-byte frames, every 4th kept
      operators.multimodal.BinaryMeta.frameSample(
        Tables(s, dir, "documents"), "doc_id", "text",
        frameBytes = 32, stride = 4)),

    "mm13_exif_meta" -> ((s, dir) => {
      // REAL EXIF extraction: every payload is a byte-for-byte valid
      // JPEG whose APP1 segment carries a TIFF stream — IFD0 (Model,
      // Orientation, DateTime, Exif-IFD pointer) plus the Exif-private
      // IFD (ISO, FocalLength RATIONAL) — in BOTH byte orders (even ids
      // little-endian II, odd big-endian MM), with ASCII values stored
      // at offsets and SHORTs inline, the layouts real camera files
      // use. The Spark side walks the actual bytes
      // (operators/multimodal/Exif.parse); the oracle predicts every
      // field arithmetically. Every 13th doc is raw text (the
      // no-EXIF/unknown-format path → nulls).
      import s.implicits._
      import operators.multimodal.Exif
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val payload =
            if (id % 13 == 0) text.getBytes("UTF-8")
            else Exif.synthExifJpeg(
              w = (16 + id % 624).toInt, h = (16 + (id * 7) % 464).toInt,
              littleEndian = id % 2 == 0,
              orientation = (1 + id % 8).toInt,
              iso = (100 * (1 + id % 16)).toInt,
              focalNum = (24 + id % 180).toInt,
              focalDen = (1 + id % 3).toInt,
              model = s"CAM-${id % 5}",
              capture = f"${2000 + id % 20}%04d:${1 + (id * 3) % 12}%02d:" +
                f"${1 + (id * 7) % 28}%02d 12:00:00")
          val m = Exif.parse(payload)
          (id, m.map(_.byteOrder).orNull,
            m.flatMap(_.orientation).map(_.toLong),
            m.flatMap(_.iso).map(_.toLong),
            m.flatMap(_.focalMm),
            m.flatMap(_.model).orNull,
            m.flatMap(_.capture).orNull)
        }.toDF("doc_id", "byte_order", "orientation", "iso", "focal_mm",
          "model", "capture")
    }),

    "mm12_scene_cuts" -> ((s, dir) => {
      // VIDEO SCENE-CUT detection over REAL frames (mm7/mm8/mm9's
      // honesty discipline on the temporal axis): each doc synthesizes
      // an 8-frame clip of real 8×8 BMPs — a scene change at frame
      // doc_id % 7 + 1 shifts every channel by a channel-specific step,
      // and consecutive frames inside a scene drift by +1 per channel
      // (ranges clamped below 256 so no mod-wrap pollutes the
      // contrast). Every frame is ENCODED then DECODED through the
      // actual codec, and the cut detector works on decoded pixels: a
      // channel-weighted sum of absolute adjacent-frame differences
      // (weights 4/2/1, so a channel swap in the codec breaks the
      // value). Per-row flatMap, no shuffle — the shot-boundary
      // front-end of a video training pipeline. Gate: the argmax
      // recovers the planted cut for EVERY doc; the oracle predicts
      // every adjacent-pair difference arithmetically.
      import s.implicits._
      import operators.multimodal.BmpCodec
      val diffs = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val cut = (id % 7 + 1).toInt
          def framePixels(f: Int): Array[Int] = {
            val scene = if (f < cut) 0 else 1
            val px = Array.tabulate(64) { i =>
              val x = i % 8; val y = i / 8
              val r = ((x * 13 + y * 7 + (id % 41) * 31) % 200).toInt +
                scene * 40 + f
              val g = ((x * 5 + y * 11 + (id % 41) * 17) % 200).toInt +
                scene * 25 + f
              val b = ((x * 9 + y * 3 + (id % 41) * 23) % 200).toInt +
                scene * 10 + f
              (r << 16) | (g << 8) | b
            }
            BmpCodec.decode(BmpCodec.encode(8, 8, px)).getOrElse(
              throw new IllegalStateException(s"undecodable frame $f of $id"))
              .pixels
          }
          val clip = (0 until 8).map(framePixels)
          (1 until 8).map { f =>
            var d = 0L
            var i = 0
            while (i < 64) {
              val a = clip(f - 1)(i); val b = clip(f)(i)
              d += 4L * math.abs(((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) +
                2L * math.abs(((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) +
                math.abs((a & 0xFF) - (b & 0xFF))
              i += 1
            }
            (id, f.toLong, d, f == cut)
          }
        }.toDF("doc_id", "frame_idx", "diff", "is_cut")
        .localCheckpoint()
      // the detector must RECOVER every planted cut from decoded bytes:
      // per doc, the argmax adjacent difference is the cut frame
      import org.apache.spark.sql.expressions.Window
      val top = diffs.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("diff").desc,
          col("frame_idx"))))
        .where(col("rk") === 1)
      val missed = top.where(col("frame_idx") =!=
        (col("doc_id") % 7 + 1)).count()
      require(missed == 0,
        s"scene-cut detector missed the planted cut in $missed docs")
      diffs
    })
  )

  // ----------------------------------------------------------------- oracle

  /** Shared SQL fragments for the document oracles (must mirror
    * TextFunctions.normalize / tokens exactly). */
  private val normSql = "trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))"
  private val toksSql = s"string_split($normSql,' ')"

  /** Metrically structured ANN test corpus, built DETERMINISTICALLY from
    * the embeddings table: node i (i < 480) = anchor(i%8) +
    * 0.04·floor(i/8)·dir(i%8), with anchors/dirs fixed corpus rows
    * (vec_id 100..107 / 200..207, g = vec_id % 8) — 8 line manifolds,
    * the regime graph-ANN methods are built for. Shared by ss7/ss8; the
    * construction is DuckDB-reproducible, so both emit exact truth under
    * the hard oracle. */
  /** The manifold corpus's NN-Descent graph is an INDEX artifact: built
    * once per (session, sf dir) and shared by ss7 (which gates the build)
    * and ss8 (which gates the search over it) — the build-once/query-many
    * lifecycle of a real ANN deployment. knnGraph is deterministic, so
    * sharing changes no query's result; the first caller pays the build.
    * (ss9 builds its OWN graph on 11/12 of the corpus — not shared.) */
  private val nndGraphCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  // all the shared-artifact caches evict with the same discipline as
  // manifoldTruthCache: sessions come and go (streamSession clones),
  // and every entry pins checkpoint blocks in the SHARED SparkContext's
  // block manager — evict-and-release instead of accumulating forever
  private def evictAndRelease(
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]): Unit =
    if (cache.size >= 4) {
      cache.keys.toSeq.foreach { k =>
        cache.remove(k).foreach(
          org.apache.spark.sql.graft.ColumnBridge.unpersistLocalCheckpoint)
      }
    }

  /** Drop (and release) every cross-query shared-artifact cache. For the
    * BENCH's outlier re-time: a cache-backed query whose first pass paid
    * the shared build must not record a pure cache read as its headline —
    * clearing before the re-run makes the second measurement recompute
    * the same work the first did (min-of-pair then compares like with
    * like). Results are unaffected: every cached frame is deterministic
    * and rebuilt on demand. */
  def clearSharedCaches(): Unit =
    Seq(nndGraphCache, topGraphCache, brute5000Cache, nearDupPairsCache,
      cosinePairsCache, suffixRanksCache, dupFlaggedCache,
      manifoldTruthCache).foreach { cache =>
      cache.keys.toSeq.foreach { k =>
        cache.remove(k).foreach(
          org.apache.spark.sql.graft.ColumnBridge.unpersistLocalCheckpoint)
      }
    }
  private def manifoldGraph(s: SparkSession, dir: String): DataFrame =
    nndGraphCache.getOrElseUpdate((s, dir), {
      evictAndRelease(nndGraphCache)
      operators.similarity.NNDescent.knnGraph(
        manifoldNodes(s, dir), "vec_id", "embedding",
        k = 5, maxRounds = 4, bucketSize = 96)
    })

  /** The COARSE entry layer over the manifold corpus (1-in-8 hash
    * sample, same NN-Descent build — [[graft.operators.similarity
    * .GraphSearch.topLayerSample]]): ss8's search and ss9's insert
    * descend it before opening the base graph, cutting the driver-
    * synchronized round count (the latency floor) roughly in half at
    * equal recall — pinned by NNDescentSpec's hierarchy spec. Cached
    * like [[manifoldGraph]]; the sample build is 64× cheaper than the
    * base build. */
  private val topGraphCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def manifoldTopGraph(s: SparkSession, dir: String): DataFrame =
    topGraphCache.getOrElseUpdate((s, dir), {
      evictAndRelease(topGraphCache)
      // a TRUE top-layer k-NN build (not the cheaper derived layer ss9
      // uses): ss8 queries every node under a 0.90 gate, and the
      // sample-kNN edges buy the recall; the build is 64× smaller than
      // the base graph's and cached across the suite
      operators.similarity.NNDescent.knnGraph(
        operators.similarity.GraphSearch.topLayerSample(
          manifoldNodes(s, dir), "vec_id", mod = 8),
        "vec_id", "embedding", k = 5, maxRounds = 4, bucketSize = 96)
    })

  /** Exact brute-force truth over the fixed 5000-vector slice — the
    * frame ss5/ss6/ss10/ss11 all gate against AND emit (the
    * [[manifoldTruth]] discipline applied to the quantization family):
    * knnBrute is deterministic, so one (session, dir) computation
    * serves all four and the first caller pays the O(20×5000) pass. */
  private val brute5000Cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def brute5000Truth(s: SparkSession, dir: String): DataFrame =
    brute5000Cache.getOrElseUpdate((s, dir), {
      evictAndRelease(brute5000Cache)
      val emb = Tables(s, dir, "embeddings").where(col("vec_id") < 5000)
      operators.similarity.Similarity.knnBrute(
        emb, emb.where(col("vec_id") < 20), "vec_id", "embedding", k = 5)
        .localCheckpoint()
    })

  /** MinHash-LSH near-dup pairs over the documents corpus (k=3, t=0.8)
    * — the DETECT stage dd4 emits and dd7/dd8/dd18/dd19 consume
    * downstream of. One (session, dir) computation serves all five (the
    * [[docDupFlagged]] pattern): the banding join + exact-Jaccard
    * verification is the family's dominant cost, the pair set is
    * deterministic, and the first caller pays the build. */
  private val nearDupPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def docNearDupPairs(s: SparkSession, dir: String): DataFrame =
    nearDupPairsCache.getOrElseUpdate((s, dir), {
      evictAndRelease(nearDupPairsCache)
      operators.dedup.MinHashLSH.nearDupPairs(
        Tables(s, dir, "documents"), "doc_id", "text", k = 3, threshold = 0.8)
        .localCheckpoint()
    })

  /** Exact blocked cosine pairs over the embeddings corpus (t=0.4) —
    * dd6 emits them, dd9/dd16 consume them. Shared like
    * [[docNearDupPairs]]; dd16's own localCheckpoint folds in here. */
  private val cosinePairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def embCosinePairs(s: SparkSession, dir: String): DataFrame =
    cosinePairsCache.getOrElseUpdate((s, dir), {
      evictAndRelease(cosinePairsCache)
      operators.similarity.Similarity.cosinePairs(
        Tables(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .localCheckpoint()
    })

  /** Suffix ranks of the tx21/tx22 document subset — the doubling is
    * the dominant cost of both queries and is built ONCE per (session,
    * dir) (same lifecycle discipline as [[manifoldGraph]]; the result
    * is a materialized checkpoint, evicted+released like the truth
    * cache). */
  private val suffixRanksCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def docSuffixRanks(s: SparkSession, dir: String): DataFrame =
    suffixRanksCache.getOrElseUpdate((s, dir), {
      evictAndRelease(suffixRanksCache)
      operators.textual.SuffixArray.suffixRanks(
        Tables(s, dir, "documents").where(col("doc_id") % 10 === 0),
        "doc_id", "text")
    })

  /** The flagged cross-doc 40-gram starts over documents — tx19's map
    * and tx20's cleaner both derive from it; the gram shuffle (the
    * family's dominant cost) runs once per (session, dir). */
  private val dupFlaggedCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def docDupFlagged(s: SparkSession, dir: String): DataFrame =
    dupFlaggedCache.getOrElseUpdate((s, dir), {
      evictAndRelease(dupFlaggedCache)
      operators.textual.TextStats.crossDocFlagged(
        Tables(s, dir, "documents"), "doc_id", "text", n = 40)
        .localCheckpoint()
    })

  /** Exact brute-force truth over the manifold corpus, shared by
    * ss7/ss8/ss9 the same way [[manifoldGraph]] is: knnBrute is
    * deterministic, all three gate against (and emit) the identical
    * frame, and the first caller pays the one O(480²) pass. Pinned so
    * later queries read storage blocks, not a recomputed cross join. */
  private val manifoldTruthCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def manifoldTruth(s: SparkSession, dir: String): DataFrame =
    manifoldTruthCache.getOrElseUpdate((s, dir), {
      // bounded: sessions come and go (streamSession clones), and every
      // entry pins localCheckpoint blocks in the SHARED SparkContext's
      // block manager — evict-and-release instead of accumulating for
      // the JVM lifetime (the "checkpoint without a release leaks"
      // failure IndexScope documents)
      if (manifoldTruthCache.size >= 4) {
        manifoldTruthCache.keys.toSeq.foreach { k =>
          manifoldTruthCache.remove(k).foreach(
            org.apache.spark.sql.graft.ColumnBridge.unpersistLocalCheckpoint)
        }
      }
      val nodes = manifoldNodes(s, dir)
      operators.similarity.Similarity.knnBrute(
        nodes, nodes, "vec_id", "embedding", k = 5).localCheckpoint()
    })

  private def manifoldNodes(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    def grouped(lo: Long, name: String) = broadcast(
      emb.where(col("vec_id").between(lo, lo + 7))
        .select(pmod(col("vec_id"), lit(8)).as("g"),
          col("embedding").cast("array<double>").as(name)))
    emb.where(col("vec_id") < 480)
      .select(col("vec_id"), pmod(col("vec_id"), lit(8)).as("g"),
        floor(col("vec_id") / 8).cast("double").as("t"))
      .join(grouped(100, "avec"), "g").join(grouped(200, "dvec"), "g")
      .select(col("vec_id"), zip_with(col("avec"), col("dvec"),
        (a, d) => a + col("t") * lit(0.04) * d).as("embedding"))
  }

  /** Exact brute-force top-5 over the [[manifoldNodes]] corpus — the
    * truth frame ss7/ss8 emit behind their recall gates. */
  private val manifoldTruthOracle =
    """WITH av AS (SELECT vec_id % 8 AS g, CAST(embedding AS DOUBLE[]) AS avec
                   FROM embeddings WHERE vec_id BETWEEN 100 AND 107),
       dv AS (SELECT vec_id % 8 AS g, CAST(embedding AS DOUBLE[]) AS dvec
              FROM embeddings WHERE vec_id BETWEEN 200 AND 207),
       nodes AS (
         SELECT e.vec_id,
           list_transform(generate_series(1, len(av.avec)),
             i -> av.avec[i] + CAST(e.vec_id // 8 AS DOUBLE) * 0.04 * dv.dvec[i]) AS v
         FROM embeddings e
         JOIN av ON e.vec_id % 8 = av.g
         JOIN dv ON e.vec_id % 8 = dv.g
         WHERE e.vec_id < 480),
       s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
               round(list_cosine_similarity(q.v, c.v), 6) AS cosine
             FROM nodes q JOIN nodes c ON q.vec_id != c.vec_id)
       SELECT query_id, neighbor_id, cosine, rk FROM (
         SELECT qid AS query_id, nid AS neighbor_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk FROM s)
       WHERE rk <= 5"""

  /** Exact brute-force top-5 over the fixed 5000-vector slice — the truth
    * frame ss5/ss6 emit behind their recall gates (ss1's oracle shape). */
  private val brute5000Oracle =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
       c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings WHERE vec_id < 5000),
       s AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) AS cosine FROM q JOIN c ON qid != nid)
       SELECT query_id, neighbor_id, cosine, rk FROM (
         SELECT qid AS query_id, nid AS neighbor_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk FROM s)
       WHERE rk <= 5"""

  /** tx14's full interpolated-bigram-LM oracle — shared verbatim with
    * tx17 (a losslessly persisted model must score identically). */
  private val perplexityOracle =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         grams AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS g
           FROM tt, LATERAL (SELECT unnest(generate_series(0, len(toks)-2)) AS i)),
         bi AS (SELECT g, count(*) AS cb FROM grams WHERE doc_id % 10 = 0 GROUP BY g),
         biw AS (SELECT g, cb, split_part(g, ' ', 1) AS w1 FROM bi),
         ctx AS (SELECT w1, sum(cb) AS cw1 FROM biw GROUP BY w1),
         rate AS (SELECT g, CAST(cb AS DOUBLE) / CAST(cw1 AS DOUBLE) AS rate
                  FROM biw JOIN ctx USING (w1)),
         uni AS (SELECT w, count(*) AS cu
                 FROM (SELECT unnest(toks) AS w FROM tt WHERE doc_id % 10 = 0)
                 GROUP BY w),
         consts AS (SELECT CAST(sum(cu) AS BIGINT) AS n_tok, count(*) AS v FROM uni),
         pos AS (SELECT doc_id, g, split_part(g, ' ', 2) AS w2 FROM grams),
         sc AS (SELECT p.doc_id,
             CAST(round(log2(0.75 * coalesce(r.rate, 0.0)
               + 0.25 * (CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
                         / CAST(c.n_tok + c.v + 1 AS DOUBLE))), 8)
               AS DECIMAL(27,8)) AS lp
           FROM pos p LEFT JOIN rate r ON p.g = r.g
             LEFT JOIN uni u ON p.w2 = u.w
             CROSS JOIN consts c)
         SELECT doc_id, count(*) AS n_bigrams,
           round(pow(2.0, CAST(-sum(lp) AS DOUBLE) / count(*)), 4) AS ppl,
           round(pow(2.0, CAST(-sum(lp) AS DOUBLE) / count(*)), 4) <= 32.0 AS keep
         FROM sc GROUP BY doc_id"""

  def oracleSql: Map[String, String] = coreOracleSql ++ llmOracleSql

  private def llmOracleSql: Map[String, String] = Map(
    "dd1_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text)""",
    "dd2_fingerprint" ->
      s"""SELECT md5($normSql) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1""",
    // dd15: the plain anti-join — the Bloom split must compose back to it
    "dd15_bloom_dedup" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fingerprint FROM documents)
         SELECT doc_id, fingerprint FROM f
         WHERE doc_id % 5 = 0 AND fingerprint NOT IN
           (SELECT fingerprint FROM f WHERE doc_id % 5 <> 0)""",
    // dd17: dedup against the LOADED index must equal the plain
    // anti-join — dd15's oracle verbatim; persistence is gated in-query
    "dd17_persistent_index" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fingerprint FROM documents)
         SELECT doc_id, fingerprint FROM f
         WHERE doc_id % 5 = 0 AND fingerprint NOT IN
           (SELECT fingerprint FROM f WHERE doc_id % 5 <> 0)""",
    "dd3_ngram_jaccard" -> jaccardOracle,
    "dd8_dedup_apply" ->
      s"""WITH RECURSIVE pairs AS ($jaccardOracle),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         SELECT d.doc_id AS kept_id, d.lang, d.source
         FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
         WHERE cc.id IS NULL OR cc.cluster_id = d.doc_id""",
    "dd7_clusters" ->
      s"""WITH RECURSIVE pairs AS ($jaccardOracle),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
         SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""",
    // dd19: dd7's recursive CC + the deterministic keep rule (longest
    // text, ties to the smallest id) + cluster sizes
    "dd19_representative" ->
      s"""WITH RECURSIVE pairs AS ($jaccardOracle),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         wl AS (SELECT cl.doc_id, cl.cluster_id,
             CAST(length(d.text) AS BIGINT) AS text_len
           FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
         rn AS (SELECT wl.*, row_number() OVER (PARTITION BY cluster_id
             ORDER BY text_len DESC, doc_id) AS rn FROM wl),
         sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
                FROM wl GROUP BY cluster_id)
         SELECT rn.cluster_id, rn.doc_id AS kept_doc, rn.text_len AS kept_len,
           sz.n_members
         FROM rn JOIN sz USING (cluster_id) WHERE rn.rn = 1""",
    // dd18: dd7's components sized, joined back to the full corpus;
    // singletons weigh a full 1e6 ppm
    "dd18_softdedup" ->
      s"""WITH RECURSIVE pairs AS ($jaccardOracle),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         sz AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size,
           CAST(1000000 // coalesce(sz.n, 1) AS BIGINT) AS weight_ppm
         FROM documents d
         LEFT JOIN cl ON d.doc_id = cl.doc_id
         LEFT JOIN sz ON cl.cluster_id = sz.cluster_id""",
    // MinHash-LSH is exact-verified with (b=32,r=4) ⇒ miss probability
    // ~6e-8 per true pair at t=0.8: same oracle as the exact join.
    "dd4_minhash_lsh" -> jaccardOracle,
    // SimHash signatures are md5-digit-derived (engine-portable), so the
    // oracle recomputes them digit-for-digit and does the all-pairs
    // Hamming compare directly (n is oracle-scale; Spark uses pigeonhole
    // chunk blocking, which has exact recall for maxHamming < chunks).
    "dd5_simhash" -> simhashOracle(maxHamming = 3),
    "ss2_knn_lsh" ->
      """WITH anc AS (
           SELECT vec_id AS aid, CAST(embedding AS DOUBLE[]) AS av,
             (1::BIGINT << CAST(vec_id - 100 AS INTEGER)) AS w
           FROM embeddings WHERE vec_id BETWEEN 100 AND 105),
         b AS (
           SELECT e.vec_id,
             sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), anc.av) >= 0
                 THEN anc.w ELSE 0 END) AS bucket
           FROM embeddings e CROSS JOIN anc GROUP BY e.vec_id),
         q AS (SELECT e.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS qv, b.bucket
               FROM embeddings e JOIN b ON e.vec_id = b.vec_id WHERE e.vec_id < 20),
         probes AS (
           SELECT qid, qv, xor(q.bucket, f.f) AS bucket
           FROM q CROSS JOIN (SELECT unnest([0,1,2,4,8,16,32,3,5,9,17,33,6,10,18,34,12,20,36,24,40,48]) AS f) f),
         c AS (SELECT e.vec_id AS nid, CAST(e.embedding AS DOUBLE[]) AS nv, b.bucket
               FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         s AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) AS cosine
               FROM probes JOIN c ON probes.bucket = c.bucket AND qid != nid)
         SELECT query_id, neighbor_id, cosine, rk FROM (
           SELECT qid AS query_id, nid AS neighbor_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk FROM s)
         WHERE rk <= 5""",
    "dd6_embed_dup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4""",
    "dd9_embed_dedup" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         SELECT d.vec_id AS kept_id, d.label
         FROM embeddings d LEFT JOIN cc ON d.vec_id = cc.id
         WHERE cc.id IS NULL OR cc.cluster_id = d.vec_id""",
    // dd16: the k-means-bucketed pair stage is enforced by the in-query
    // recall gate; the emitted rows are the exact semantic dedup — dd9's
    // oracle verbatim
    "dd16_semdedup" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         SELECT d.vec_id AS kept_id, d.label
         FROM embeddings d LEFT JOIN cc ON d.vec_id = cc.id
         WHERE cc.id IS NULL OR cc.cluster_id = d.vec_id""",
    "ss1_knn_brute" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
         s AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) AS cosine FROM q JOIN c ON qid != nid)
         SELECT query_id, neighbor_id, cosine, rk FROM (
           SELECT qid AS query_id, nid AS neighbor_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk FROM s)
         WHERE rk <= 5""",
    // ss5/ss6 emit the brute-force truth over the SAME fixed 5000-vector
    // corpus slice their recallGate pins the operator against — ss1's
    // oracle restricted to vec_id < 5000. The approximate operator is
    // enforced by the in-query gate (a recall drop throws → verify `err`);
    // the emitted rows are exact and hash-checkable here.
    "ss5_pq_recall" -> brute5000Oracle,
    "ss6_ivfpq_recall" -> brute5000Oracle,
    "ss10_sq8" -> brute5000Oracle,
    "ss11_binary" -> brute5000Oracle,
    // ss7/ss8 emit the exact truth over the manifold corpus (see
    // [[manifoldNodes]]): the oracle rebuilds the nodes with the same
    // left-associated double arithmetic and takes the exact top-5 —
    // identical to the Spark truth frame. ss7 gates NN-Descent (graph
    // BUILD recall), ss8 gates GraphSearch (query-time beam search).
    "ss7_nnd_recall" -> manifoldTruthOracle,
    "ss8_graph_search" -> manifoldTruthOracle,
    "ss9_graph_insert" -> manifoldTruthOracle,
    // ss16: streamed index maintenance lands the same approximate-kNN
    // contract as ss9 — identical emitted-truth oracle; the streaming
    // exactly-once and recall contracts are gated in-query
    "ss16_stream_index" -> manifoldTruthOracle,
    // ss17: the quantized walk lands the same approximate-kNN contract
    // — identical emitted-truth oracle; the SQ8/rerank recall contract
    // is gated in-query
    "ss17_quantized_graph" -> manifoldTruthOracle,
    "ss3_centroid" ->
      """SELECT label, pos - 1 AS pos, round(avg(CAST(embedding[pos] AS DOUBLE)), 6) AS c
         FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos)
         GROUP BY label, pos""",
    "ss4_knn_ivf" ->
      """WITH cent AS (
           SELECT label, list(c ORDER BY pos) AS cvec FROM (
             SELECT label, pos, round(avg(CAST(embedding[pos] AS DOUBLE)), 6) AS c
             FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos)
             GROUP BY label, pos) GROUP BY label),
         q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
         probes AS (
           SELECT qid, qv, label FROM (
             SELECT qid, qv, label,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round(list_cosine_similarity(qv, cvec), 6) DESC, label) AS pr
             FROM q CROSS JOIN cent) WHERE pr <= 3),
         c AS (SELECT vec_id AS nid, label, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
         s AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) AS cosine
               FROM probes JOIN c USING (label) WHERE qid != nid)
         SELECT query_id, neighbor_id, cosine, rk FROM (
           SELECT qid AS query_id, nid AS neighbor_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk FROM s)
         WHERE rk <= 5""",
    "tx1_tokens" ->
      """SELECT doc_id, length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens
         FROM documents""",
    "tx2_quality" ->
      s"""WITH t AS (
           SELECT doc_id, text, $toksSql AS toks,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space
           FROM documents),
         r AS (
           SELECT doc_id, len(toks) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE) / len(toks) AS stop_ratio,
             (CAST(length(text) AS DOUBLE) - n_alpha - n_digit - n_space) / length(text) AS punct_ratio,
             CAST(n_digit AS DOUBLE) / length(text) AS digit_ratio
           FROM t)
         SELECT doc_id, n_tokens, round(stop_ratio, 6) AS stopword_ratio,
           round(punct_ratio, 6) AS punct_ratio, round(digit_ratio, 6) AS digit_ratio,
           round(0.4 * stop_ratio + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) + 0.3 * (1.0 - punct_ratio), 6) AS quality_score
         FROM r""",
    "tx3_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         s AS (SELECT doc_id, lang,
           len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS s_en,
           len(list_filter(toks, x -> x IN ('der','die','das','und','nicht','ist'))) AS s_de,
           len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS s_fr,
           len(list_filter(toks, x -> x IN ('el','los','de','y','es','una'))) AS s_es,
           0 AS s_zh FROM t)
         SELECT doc_id, pred_lang, lang, pred_lang = lang AS is_match FROM (
           SELECT doc_id, lang,
             CASE WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
                  WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
                  WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
                  WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS pred_lang
           FROM s)""",
    "tx9_entropy" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY doc_id, token),
         a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                 count(*) AS n_distinct, sum(c * log2(c)) AS clog
               FROM tf GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_distinct,
           round(log2(n_tokens) - clog / n_tokens, 4) AS entropy,
           round(1 - CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS repetition
         FROM a""",
    "tx7_train_split" ->
      """WITH s AS (
           SELECT doc_id, lang,
             CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents)
         SELECT split, lang, count(*) AS n, min(doc_id) AS min_id
         FROM s GROUP BY split, lang""",
    // tx16: same Knuth-hash admission order, same div-2 integer budget —
    // the oracle's single window per lang is the semantics; the Spark
    // side computes the identical total order via the bucketed prefix sum
    // tx29: the BPE legs are require-gated in-query (round trip on every
    // doc, artifact byte-equality, bounds, compression, admission =
    // independent prefix recompute — iterative merges cannot hash-match
    // SQL, the suite's recall-gate convention); the emitted corpus
    // profile is the relational truth
    "tx29_bpe_tokenizer" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS ws_tokens
         FROM documents GROUP BY 1""",
    "tx16_token_budget" ->
      """WITH t AS (
           SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
             (doc_id * 2654435761) % 4294967296 % 64 AS b,
             (doc_id * 2654435761) % 4294967296 % 1000000 AS h
           FROM documents),
         bud AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) // 2 AS budget
                 FROM t GROUP BY lang),
         c AS (SELECT doc_id, lang, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY b, h, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
           FROM t)
         SELECT c.doc_id, c.lang, c.n_tok, CAST(c.cum AS BIGINT) AS cum_tokens
         FROM c JOIN bud USING (lang) WHERE c.cum <= bud.budget""",
    // tx28: flag = the corpus gram appears anywhere in the benchmark
    // slice; the span/cut/reassemble chain mirrors tx20's oracle
    "tx28_decontam_clean" ->
      """WITH corp AS (SELECT doc_id, text FROM documents
                       WHERE doc_id % 50 <> 0),
         bench AS (SELECT text FROM documents WHERE doc_id % 50 = 0),
         bpos AS (SELECT text,
             unnest(generate_series(1, length(text) - 19)) AS p
           FROM bench WHERE length(text) >= 20),
         bg AS (SELECT DISTINCT substr(text, p, 20) AS gram FROM bpos),
         pos AS (SELECT doc_id, text,
             unnest(generate_series(1, length(text) - 19)) AS p
           FROM corp WHERE length(text) >= 20),
         g AS (SELECT doc_id, p, substr(text, p, 20) AS gram FROM pos),
         flag AS (SELECT g.doc_id, g.p FROM g JOIN bg ON g.gram = bg.gram),
         chars AS (SELECT doc_id, text,
             unnest(generate_series(1, length(text))) AS c
           FROM corp),
         cchar AS (SELECT DISTINCT ch.doc_id, ch.c FROM chars ch
           JOIN flag f ON ch.doc_id = f.doc_id
             AND ch.c BETWEEN f.p AND f.p + 19),
         clean AS (SELECT ch.doc_id,
             string_agg(substr(ch.text, ch.c, 1), '' ORDER BY ch.c) AS ct
           FROM chars ch LEFT JOIN cchar d
             ON ch.doc_id = d.doc_id AND ch.c = d.c
           WHERE d.c IS NULL GROUP BY ch.doc_id),
         spans AS (SELECT dc.doc_id, count(*) AS ns FROM cchar dc
           LEFT JOIN cchar prev
             ON dc.doc_id = prev.doc_id AND prev.c = dc.c - 1
           WHERE prev.c IS NULL GROUP BY dc.doc_id),
         nd AS (SELECT doc_id, count(*) AS ndc FROM cchar GROUP BY doc_id)
         SELECT d.doc_id, coalesce(cl.ct, '') AS clean_text,
           CAST(coalesce(s.ns, 0) AS BIGINT) AS n_cut_spans,
           CAST(coalesce(nd.ndc, 0) AS BIGINT) AS n_dup_chars
         FROM corp d
         LEFT JOIN clean cl ON d.doc_id = cl.doc_id
         LEFT JOIN spans s ON d.doc_id = s.doc_id
         LEFT JOIN nd ON d.doc_id = nd.doc_id""",
    // tx27: the full CTE chain — each stage is the same SQL its
    // standalone oracle uses; composition drift anywhere breaks it
    "tx27_curation_pipeline" ->
      """WITH n AS (SELECT doc_id, lang,
           trim(regexp_replace(regexp_replace(translate(lower(text),
             'áàâäãåéèêëíìîïóòôöõúùûüçñýÿ', 'aaaaaaeeeeiiiiooooouuuucnyy'),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
         FROM documents),
         c AS (SELECT doc_id, lang, nt, md5(nt) AS fp,
             CAST(CASE WHEN nt = '' THEN 0
               ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END
               AS BIGINT) AS n_tokens
           FROM n),
         k AS (SELECT fp, min(doc_id) AS doc_id FROM c GROUP BY fp),
         d AS (SELECT c.* FROM c JOIN k ON c.fp = k.fp AND c.doc_id = k.doc_id),
         q AS (SELECT doc_id, lang, n_tokens FROM d
           WHERE n_tokens BETWEEN 30 AND 2000
             AND CAST(len(list_filter(string_split(nt, ' '),
               x -> x IN ('the','a','of','and','to','in','is','on','for','with')))
               AS DOUBLE) / n_tokens >= 0.02),
         t AS (SELECT doc_id, lang, n_tokens,
             (doc_id * 2654435761) % 4294967296 % 64 AS b,
             (doc_id * 2654435761) % 4294967296 % 1000000 AS h
           FROM q),
         bud AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) // 2 AS budget
                 FROM t GROUP BY lang),
         cc AS (SELECT doc_id, lang, n_tokens, b, h,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY b, h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
           FROM t),
         adm AS (SELECT cc.* FROM cc JOIN bud USING (lang)
                 WHERE cc.cum <= bud.budget),
         sh AS (SELECT doc_id, lang, n_tokens, CAST(cum AS BIGINT) AS lang_cum,
             sum(n_tokens) OVER (ORDER BY b, h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS gcum
           FROM adm)
         SELECT doc_id, lang, n_tokens, lang_cum,
           CAST(gcum AS BIGINT) AS cum_tokens,
           CAST((gcum - n_tokens) // 20000 AS BIGINT) AS shard_id
         FROM sh""",
    // tx26: same admission order as tx16 (bucket-major Knuth shuffle);
    // the shard boundary rule is pure integer arithmetic on the prefix
    // sum, so the oracle's single global window must land on identical
    // shard ids
    "tx26_shard_pack" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
             (doc_id * 2654435761) % 4294967296 % 64 AS b,
             (doc_id * 2654435761) % 4294967296 % 1000000 AS h
           FROM documents),
         c AS (SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY b, h, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
           FROM t)
         SELECT doc_id, n_tok, CAST(cum AS BIGINT) AS cum_tokens,
           CAST((cum - n_tok) // 25000 AS BIGINT) AS shard_id
         FROM c""",
    "tx5_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, term, tfidf, rk FROM (
           SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.dfreq), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.dfreq), 6) DESC, tf.term) AS rk
           FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         WHERE rk <= 3""",
    // tx15: BM25 with RATIONAL idf — only +,·,/ double arithmetic, in
    // the same association as the Spark expression, so scores hash-match
    "tx15_bm25" ->
      """WITH t AS (SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS dl,
             unnest(string_split_regex(trim(text), '\s+')) AS term
           FROM documents),
         post AS (SELECT term, doc_id, dl, count(*) AS tf FROM t
           WHERE term IN ('spark','join','filter','hash','window')
           GROUP BY 1, 2, 3),
         dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY term),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
               / count(*) AS avgdl
           FROM documents),
         sc AS (SELECT term, doc_id, tf,
             round(((st.n - df + 0.5) / (df + 0.5))
               * (tf * (CAST(1.2 AS DOUBLE) + 1))
               / (tf + CAST(1.2 AS DOUBLE)
                   * (1.0 - 0.75 + CAST(0.75 AS DOUBLE) * dl / st.avgdl)),
               6) AS score
           FROM post JOIN dfs USING (term) CROSS JOIN st)
         SELECT term, doc_id, tf, score, rank FROM (
           SELECT term, doc_id, tf, score,
             row_number() OVER (PARTITION BY term
               ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         WHERE rank <= 10""",
    // ss13: the IVF-probed path is enforced by the in-query recall gate;
    // the emitted rows are the exact radius join
    "ss13_range_search" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings)
         SELECT qid AS query_id, nid AS neighbor_id,
           round(list_cosine_similarity(qv, nv), 6) AS cosine
         FROM q JOIN c ON qid != nid
         WHERE round(list_cosine_similarity(qv, nv), 6) >= 0.3""",
    // ss14: the pre-filter IVF path is enforced by the in-query recall
    // gate; the emitted rows are the exact label-filtered top-k (the
    // attribute predicate is part of the join, mirrored here)
    "ss14_filtered_knn" ->
      """WITH q AS (SELECT vec_id AS qid, label AS ql,
                      CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nid, label AS nl,
                 CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings),
         s AS (SELECT qid, nid, nl,
                 round(list_cosine_similarity(qv, nv), 6) AS cosine
               FROM q JOIN c ON qid != nid AND ql = nl)
         SELECT query_id, neighbor_id, label, cosine, rk FROM (
           SELECT qid AS query_id, nid AS neighbor_id, nl AS label, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, nid) AS rk
           FROM s)
         WHERE rk <= 5""",
    // ss15: per-attribute codebooks are enforced by the in-query recall
    // gate; the emitted rows are the same exact filtered top-k as ss14
    "ss15_filtered_perattr" ->
      """WITH q AS (SELECT vec_id AS qid, label AS ql,
                      CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nid, label AS nl,
                 CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings),
         s AS (SELECT qid, nid, nl,
                 round(list_cosine_similarity(qv, nv), 6) AS cosine
               FROM q JOIN c ON qid != nid AND ql = nl)
         SELECT query_id, neighbor_id, label, cosine, rk FROM (
           SELECT qid AS query_id, nid AS neighbor_id, nl AS label, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, nid) AS rk
           FROM s)
         WHERE rk <= 5""",
    // ss12: dense cosine ranks + sparse Jaccard ranks fused by RRF —
    // rank-only fusion keeps every number rational and engine-exact
    "ss12_hybrid_rrf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         den0 AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cos
           FROM e q JOIN e c ON q.vec_id != c.vec_id WHERE q.vec_id < 10),
         denr AS (SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, doc_id) AS r
           FROM den0),
         dn AS (SELECT query_id, doc_id,
             CAST(1 AS DOUBLE) / (60 + r) AS contrib FROM denr WHERE r <= 50),
         toks AS (SELECT doc_id,
             list_distinct(string_split_regex(trim(text), '\s+')) AS tk
           FROM documents),
         dsz AS (SELECT doc_id, len(tk) AS nd FROM toks),
         dterm AS (SELECT doc_id, unnest(tk) AS term FROM toks),
         q AS (SELECT doc_id AS query_id, term FROM dterm WHERE doc_id < 10),
         qsz AS (SELECT doc_id AS query_id, nd AS nq FROM dsz WHERE doc_id < 10),
         inter AS (SELECT query_id, d.doc_id, count(*) AS i
           FROM q JOIN dterm d USING (term)
           WHERE query_id != d.doc_id GROUP BY query_id, d.doc_id),
         jac AS (SELECT query_id, doc_id,
             round(CAST(i AS DOUBLE) / (nq + nd - i), 6) AS j
           FROM inter JOIN qsz USING (query_id) JOIN dsz USING (doc_id)),
         spr AS (SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY j DESC, doc_id) AS r
           FROM jac),
         sp AS (SELECT query_id, doc_id,
             CAST(1 AS DOUBLE) / (60 + r) AS contrib FROM spr WHERE r <= 50),
         f AS (SELECT query_id, doc_id, round(sum(contrib), 6) AS rrf
           FROM (SELECT * FROM dn UNION ALL SELECT * FROM sp)
           GROUP BY query_id, doc_id)
         SELECT query_id, doc_id, rrf, rank FROM (
           SELECT query_id, doc_id, rrf,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rrf DESC, doc_id) AS rank
           FROM f)
         WHERE rank <= 10""",
    "tx6_chunk" ->
      s"""SELECT doc_id, i AS chunk_idx,
           array_to_string(toks[i*16+1 : i*16+32], ' ') AS chunk_text
         FROM (SELECT doc_id, $toksSql AS toks FROM documents),
           LATERAL (SELECT unnest(generate_series(0, (len(toks)-1) // 16)) AS i)
         WHERE len(toks) > 0""",
    "tx8_winnow" -> winnowOracle(w = 4),
    "dd10_winnow_pairs" ->
      s"""WITH ${winnowCtes(4)}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(DISTINCT a.fingerprint) AS n_shared
         FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
         HAVING count(DISTINCT a.fingerprint) >= 5""",
    "dd11_seg_dedup" ->
      s"""WITH t AS (SELECT doc_id, toks
           FROM (SELECT doc_id, $toksSql AS toks FROM documents)
           WHERE len(toks) > 0),
         segs AS (
           SELECT doc_id, i AS seg_idx,
             array_to_string(toks[i*10+1 : i*10+10], ' ') AS seg
           FROM t, LATERAL (SELECT unnest(generate_series(0, (len(toks)-1) // 10)) AS i)),
         k AS (
           SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS keep
           FROM segs)
         SELECT doc_id, count(*) AS n_segs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), ''))
             AS kept_md5
         FROM k GROUP BY doc_id""",
    "dd12_incremental" ->
      s"""WITH d AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, 0)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         s AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
         i AS (SELECT a.doc_id AS in_id, b.doc_id AS ex_id, count(*) AS i
           FROM s a JOIN s b ON a.shingle = b.shingle
           WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
           GROUP BY 1, 2),
         z AS (SELECT doc_id, len(sh) AS n FROM d)
         SELECT in_id, ex_id, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
         FROM i JOIN z x ON in_id = x.doc_id JOIN z y ON ex_id = y.doc_id
         WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8""",
    // composition of the tx2 / tx10 / tx14 / dd1 oracle fragments — each
    // chain is the individually-validated oracle with renamed CTEs
    "q57_clean_pipeline" ->
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         qt AS (SELECT doc_id, text, toks,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space
           FROM base),
         qr AS (SELECT doc_id, len(toks) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE) / len(toks) AS stop_ratio,
             (CAST(length(text) AS DOUBLE) - n_alpha - n_digit - n_space) / length(text) AS punct_ratio
           FROM qt),
         quality AS (SELECT doc_id,
             round(0.4 * stop_ratio + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) + 0.3 * (1.0 - punct_ratio), 6) AS quality_score
           FROM qr),
         rt AS (SELECT doc_id, toks FROM base WHERE len(toks) > 0),
         ru AS (SELECT doc_id, g, count(*) AS c
           FROM (SELECT doc_id, unnest(toks) AS g FROM rt) GROUP BY 1, 2),
         ra1 AS (SELECT doc_id, sum(c) AS n1, max(c) AS top1 FROM ru GROUP BY 1),
         rb AS (SELECT doc_id, g, count(*) AS c
           FROM (SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(toks) - 1, 0)),
               i -> toks[i] || ' ' || toks[i+1])) AS g FROM rt) GROUP BY 1, 2),
         ra2 AS (SELECT doc_id, sum(c) AS n2, max(c) AS top2 FROM rb GROUP BY 1),
         rf AS (SELECT doc_id, g, count(*) AS c
           FROM (SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(toks) - 4, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                    toks[i+3] || ' ' || toks[i+4])) AS g FROM rt) GROUP BY 1, 2),
         ra5 AS (SELECT doc_id, sum(c) AS n5, count(*) AS d5 FROM rf GROUP BY 1),
         rep AS (SELECT doc_id,
             (round(CAST(top1 AS DOUBLE) / n1, 6) <= 0.14
              AND coalesce(round(CAST(top2 AS DOUBLE) / n2, 6), 0.0) <= 0.08
              AND coalesce(round(1.0 - CAST(d5 AS DOUBLE) / n5, 6), 0.0) <= 0.30) AS keep_rep
           FROM ra1 LEFT JOIN ra2 USING (doc_id) LEFT JOIN ra5 USING (doc_id)),
         ptt AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 2),
         pgrams AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS g
           FROM ptt, LATERAL (SELECT unnest(generate_series(0, len(toks)-2)) AS i)),
         pbi AS (SELECT g, count(*) AS cb FROM pgrams WHERE doc_id % 10 = 0 GROUP BY g),
         pbiw AS (SELECT g, cb, split_part(g, ' ', 1) AS w1 FROM pbi),
         pctx AS (SELECT w1, sum(cb) AS cw1 FROM pbiw GROUP BY w1),
         prate AS (SELECT g, CAST(cb AS DOUBLE) / CAST(cw1 AS DOUBLE) AS rate
                  FROM pbiw JOIN pctx USING (w1)),
         puni AS (SELECT w, count(*) AS cu
                 FROM (SELECT unnest(toks) AS w FROM ptt WHERE doc_id % 10 = 0)
                 GROUP BY w),
         pconsts AS (SELECT CAST(sum(cu) AS BIGINT) AS n_tok, count(*) AS v FROM puni),
         ppos AS (SELECT doc_id, g, split_part(g, ' ', 2) AS w2 FROM pgrams),
         psc AS (SELECT p.doc_id,
             CAST(round(log2(0.75 * coalesce(r.rate, 0.0)
               + 0.25 * (CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
                         / CAST(c.n_tok + c.v + 1 AS DOUBLE))), 8)
               AS DECIMAL(27,8)) AS lp
           FROM ppos p LEFT JOIN prate r ON p.g = r.g
             LEFT JOIN puni u ON p.w2 = u.w
             CROSS JOIN pconsts c),
         ppl AS (SELECT doc_id,
             round(pow(2.0, CAST(-sum(lp) AS DOUBLE) / count(*)), 4) <= 32.0 AS keep_ppl
           FROM psc GROUP BY doc_id),
         canon AS (SELECT doc_id,
             doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
           FROM documents)
         SELECT q.doc_id, q.quality_score, r.keep_rep,
           coalesce(p.keep_ppl, false) AS keep_ppl, c.is_canonical,
           (q.quality_score >= 0.5 AND r.keep_rep
             AND coalesce(p.keep_ppl, false) AND c.is_canonical) AS kept
         FROM quality q
         JOIN rep r ON q.doc_id = r.doc_id
         LEFT JOIN ppl p ON q.doc_id = p.doc_id
         JOIN canon c ON q.doc_id = c.doc_id""",
    // dd14: the same canonicalization chain, regexes shared verbatim
    // (RE2-safe): split at the first '?' BEFORE separator surgery, strip
    // tracking inside the extracted query only, re-attach '?' only when
    // a param survived — a literal '&' in the path or '?' in the query
    // passes through untouched
    "dd14_url_dedup" ->
      """WITH u AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'https://site' || ((doc_id // 6) % 20) || '.example.com/p/' || ((doc_id // 6) % 20)
             WHEN 1 THEN 'http://SITE' || ((doc_id // 6) % 20) || '.EXAMPLE.COM/p/' || ((doc_id // 6) % 20) || '/'
             WHEN 2 THEN 'https://www.site' || ((doc_id // 6) % 20) || '.example.com/p/' || ((doc_id // 6) % 20) || '?utm_source=x'
             WHEN 3 THEN 'https://site' || ((doc_id // 6) % 20) || '.example.com/p/' || ((doc_id // 6) % 20) || '#frag'
             WHEN 4 THEN 'https://site' || ((doc_id // 6) % 20) || '.example.com/x&y/' || ((doc_id // 6) % 20) || '?keep=1?z=2&utm_source=a'
             ELSE 'http://WWW.site' || ((doc_id // 6) % 20) || '.example.com/x&y/' || ((doc_id // 6) % 20) || '?keep=1?z=2&fbclid=abc'
           END AS url FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS url FROM u),
         s2 AS (SELECT doc_id,
           regexp_extract(url, '^([^?]*)', 1) AS pre,
           regexp_replace(regexp_replace(
             '&' || regexp_extract(url, '^[^?]*\?(.*)$', 1),
             '&(utm_[a-z]+|fbclid|ref)=[^&]*', '', 'g'),
             '^&', '') AS q FROM s1),
         s3 AS (SELECT doc_id,
           pre || CASE WHEN q = '' THEN '' ELSE '?' || q END AS url FROM s2),
         s4 AS (SELECT doc_id, regexp_replace(url, '^http://', 'https://') AS url FROM s3),
         s5 AS (SELECT doc_id,
           'https://' ||
           regexp_replace(lower(regexp_extract(url, '^https://([^/?#]*)', 1)), '^www\.', '') ||
           regexp_replace(url, '^https://([^/?#]*)', '') AS url FROM s4),
         s6 AS (SELECT doc_id, regexp_replace(url, '/$', '') AS url FROM s5)
         SELECT url, min(doc_id) AS doc_id, count(*) AS n_variants
         FROM s6 GROUP BY url""",
    // q62: every pair's score recomputed — integer weights make the sum
    // exact; the blocked join is restated as the nation equi-join
    "q62_linkage" ->
      """WITH b AS (SELECT c_custkey AS b_key, c_nationkey,
           CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END AS b_name,
           CASE WHEN c_custkey % 4 = 0 THEN round(c_acctbal) ELSE c_acctbal END AS b_acctbal,
           CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS b_seg
         FROM customer),
         p AS (SELECT a.c_custkey AS a_id, b.b_key AS b_id,
           CAST(CASE WHEN lower(a.c_name) = lower(b.b_name) THEN 2200 ELSE -800 END
             + CASE WHEN abs(a.c_acctbal - b.b_acctbal) <= 1.0 THEN 1500 ELSE -500 END
             + CASE WHEN a.c_mktsegment = b.b_seg THEN 300 ELSE -300 END AS BIGINT) AS score
         FROM customer a JOIN b ON a.c_nationkey = b.c_nationkey)
         SELECT a_id, b_id, score FROM p WHERE score >= 3000""",
    "dd13_domain_cap" ->
      s"""WITH d AS (SELECT doc_id,
           'https://site' || (doc_id % 37) || '.example.com/' || doc_id AS url,
           len($toksSql) AS n_toks
         FROM documents),
         h AS (SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host, n_toks FROM d),
         r AS (SELECT doc_id, host,
           row_number() OVER (PARTITION BY host ORDER BY n_toks DESC, doc_id) AS rk
         FROM h)
         SELECT doc_id, host, rk FROM r WHERE rk <= 3""",
    "tx10_repetition" ->
      s"""WITH t AS (SELECT doc_id, toks
           FROM (SELECT doc_id, $toksSql AS toks FROM documents)
           WHERE len(toks) > 0),
         u AS (SELECT doc_id, g, count(*) AS c
           FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2),
         a1 AS (SELECT doc_id, sum(c) AS n1, max(c) AS top1 FROM u GROUP BY 1),
         b AS (SELECT doc_id, g, count(*) AS c
           FROM (SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(toks) - 1, 0)),
               i -> toks[i] || ' ' || toks[i+1])) AS g FROM t) GROUP BY 1, 2),
         a2 AS (SELECT doc_id, sum(c) AS n2, max(c) AS top2 FROM b GROUP BY 1),
         f AS (SELECT doc_id, g, count(*) AS c
           FROM (SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(toks) - 4, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                    toks[i+3] || ' ' || toks[i+4])) AS g FROM t) GROUP BY 1, 2),
         a5 AS (SELECT doc_id, sum(c) AS n5, count(*) AS d5 FROM f GROUP BY 1),
         s AS (SELECT doc_id,
             round(CAST(top1 AS DOUBLE) / n1, 6) AS top_unigram_frac,
             coalesce(round(CAST(top2 AS DOUBLE) / n2, 6), 0.0) AS top_bigram_frac,
             coalesce(round(1.0 - CAST(d5 AS DOUBLE) / n5, 6), 0.0) AS dup_5gram_frac
           FROM a1 LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id))
         SELECT doc_id, top_unigram_frac, top_bigram_frac, dup_5gram_frac,
           (top_unigram_frac <= 0.14 AND top_bigram_frac <= 0.08
             AND dup_5gram_frac <= 0.30) AS keep
         FROM s""",
    "tx11_contamination" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 7, 0)),
             i -> ${(0 until 8).map(j => s"toks[i+$j]").mkString(" || ' ' || ")}))) AS gram
           FROM t),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
         SELECT g.doc_id, count(*) AS n_grams,
           CAST(count(b.gram) AS BIGINT) AS n_contaminated,
           round(CAST(count(b.gram) AS DOUBLE) / count(*), 6) AS contaminated_frac,
           count(b.gram) > 0 AS flagged
         FROM g LEFT JOIN bench b USING (gram)
         WHERE g.doc_id % 50 <> 0 GROUP BY g.doc_id""",
    "q41_packing" ->
      s"""WITH d AS (SELECT doc_id, lang, len($toksSql) AS n_tokens FROM documents),
         p AS (SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY (doc_id * 2654435761) % 4294967296 % 1000000, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d)
         SELECT lang, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_idx,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc
         FROM p GROUP BY 1, 2""",
    "tx4_ngram_freq" ->
      s"""SELECT ngram, count(*) AS cnt FROM (
           SELECT unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
             i -> toks[i] || ' ' || toks[i+1])) AS ngram
           FROM (SELECT $toksSql AS toks FROM documents))
         GROUP BY ngram HAVING count(*) >= 10""",
    "mm2_frame_sample" ->
      """SELECT doc_id, CAST(i AS INT) AS sample_idx, CAST(i * 4 AS INT) AS frame_idx,
         substring(hex(encode(text)), CAST(i AS INT) * 4 * 32 * 2 + 1, 64) AS frame_hex
         FROM (SELECT doc_id, text, octet_length(encode(text)) AS len
               FROM documents WHERE octet_length(encode(text)) >= 32),
         LATERAL (SELECT unnest(generate_series(0, CAST(floor((len/32.0 - 1)/4) AS BIGINT))) AS i)""",
    // mm12: every adjacent-frame difference predicted arithmetically —
    // inside a scene each channel drifts +1 (weighted 4/2/1 over 64
    // pixels = 448); at the planted cut the channel steps are 40/25/10
    // plus the drift (4*41 + 2*26 + 11 = 227 per pixel = 14528). Any
    // codec stride/row/channel bug on the Spark side breaks the hash.
    // mm13: every EXIF field predicted arithmetically from doc_id —
    // a parse that drifted from the real TIFF layout (endianness,
    // inline-vs-offset, the chained IFD) would break value equality
    "mm13_exif_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE CAST(1 + doc_id % 8 AS BIGINT) END AS orientation,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE CAST(100 * (1 + doc_id % 16) AS BIGINT) END AS iso,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE CAST(24 + doc_id % 180 AS DOUBLE) /
                     CAST(1 + doc_id % 3 AS DOUBLE) END AS focal_mm,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE 'CAM-' || CAST(doc_id % 5 AS VARCHAR) END AS model,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE printf('%04d:%02d:%02d 12:00:00',
                       2000 + doc_id % 20, 1 + (doc_id * 3) % 12,
                       1 + (doc_id * 7) % 28) END AS capture
         FROM documents""",
    "mm12_scene_cuts" ->
      """SELECT d.doc_id, CAST(t.f AS BIGINT) AS frame_idx,
           CAST(CASE WHEN t.f = d.doc_id % 7 + 1 THEN 14528
                     ELSE 448 END AS BIGINT) AS diff,
           t.f = d.doc_id % 7 + 1 AS is_cut
         FROM documents d
         CROSS JOIN (SELECT 1 AS f UNION ALL SELECT 2 UNION ALL SELECT 3
                     UNION ALL SELECT 4 UNION ALL SELECT 5
                     UNION ALL SELECT 6 UNION ALL SELECT 7) t""",
    "tx12_pii" ->
      """WITH d AS (SELECT doc_id, text || ' contact ' ||
           CASE WHEN doc_id % 3 = 0 THEN 'user' || doc_id || '@example.com'
                WHEN doc_id % 3 = 1 THEN '+155500' || lpad(CAST(doc_id % 10000 AS VARCHAR), 5, '0')
                ELSE '10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1' END AS t
         FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t, '\+[0-9]{7,15}')) AS n_phones,
           len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
             '\+[0-9]{7,15}', '[PHONE]', 'g')) AS scrubbed_md5
         FROM d""",
    "tx13_c4_filter" ->
      """WITH d AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'tiny line' ELSE '' END ||
           CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'this page uses lorem ipsum filler text for padding' ELSE '' END ||
           CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'function f() { return 42; } with many words inside here' ELSE '' END AS t
         FROM documents),
         l AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM d),
         k AS (SELECT doc_id, lines, list_filter(lines, x ->
                 len(string_split_regex(trim(x), '\s+')) >= 5
                 AND NOT contains(lower(x), 'lorem ipsum')
                 AND NOT contains(lower(x), '{')) AS kept
               FROM l)
         SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
           round(CAST(len(kept) AS DOUBLE) / len(lines), 6) AS kept_frac,
           CAST(len(kept) AS DOUBLE) / len(lines) >= 0.5 AS keep
         FROM k""",
    // mirrors operators/textual/Perplexity.scala arithmetic exactly:
    // λ=0.75 (binary-exact), add-one unigram, per-position log2 rounded
    // to 8 decimals and summed as DECIMAL (order-independent)
    // tx18: the trained model is gated in-query; the emission is the
    // feature frame + the planted linear rule over the ROUNDED ratios
    "tx18_quality_classifier" ->
      s"""WITH t AS (
           SELECT doc_id, text, $toksSql AS toks,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space
           FROM documents),
         r AS (
           SELECT doc_id,
             CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE) / len(toks) AS sr,
             (CAST(length(text) AS DOUBLE) - n_alpha - n_digit - n_space) / length(text) AS pr,
             CAST(n_digit AS DOUBLE) / length(text) AS dr
           FROM t)
         SELECT doc_id, round(sr, 6) AS stopword_ratio,
           round(pr, 6) AS punct_ratio, round(dr, 6) AS digit_ratio,
           (2.0 * round(sr, 6) - round(pr, 6) - round(dr, 6)) >= 0.12 AS label
         FROM r""",
    "tx14_perplexity" -> perplexityOracle,
    // tx19: every position's 40-gram counted across docs — a position
    // is duplicated iff its gram occurs in more than one document
    "tx19_dup_spans" ->
      """WITH pos AS (
           SELECT doc_id, text,
             unnest(generate_series(1, length(text) - 39)) AS p
           FROM documents WHERE length(text) >= 40),
         g AS (SELECT doc_id, p, substr(text, p, 40) AS gram FROM pos),
         dup AS (SELECT gram FROM g GROUP BY gram
                 HAVING count(DISTINCT doc_id) > 1)
         SELECT g.doc_id, count(*) AS n_positions,
           CAST(sum(CASE WHEN dup.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dup_positions
         FROM g LEFT JOIN dup ON g.gram = dup.gram
         GROUP BY g.doc_id""",
    // tx25: every Gopher metric recomputed with list lambdas
    "tx25_gopher" ->
      """WITH b AS (SELECT doc_id, text,
           string_split_regex(trim(text), '\s+') AS w,
           string_split(text, chr(10)) AS l
         FROM documents),
         m AS (SELECT doc_id,
           len(w) AS n_words,
           CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
             AS DOUBLE) / len(w) AS mean_word_len,
           CAST((len(string_split(text, '#')) - 1)
              + (len(string_split_regex(text, '\.\.\.')) - 1)
              + (len(string_split(text, '…')) - 1) AS DOUBLE) / len(w)
             AS symbol_ratio,
           CAST(len(list_filter(l, x ->
             substr(trim(x), 1, 1) IN ('-', '*', '•'))) AS DOUBLE) / len(l)
             AS bullet_frac,
           CAST(len(list_filter(l, x -> right(trim(x), 3) = '...'
             OR right(trim(x), 1) = '…')) AS DOUBLE) / len(l)
             AS ellipsis_frac,
           CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
             AS DOUBLE) / len(w) AS alpha_word_frac,
           len(list_filter(['the','be','to','of','and','that','have','with'],
             s -> list_contains(list_transform(w, x -> lower(x)), s)))
             AS n_req_stops
         FROM b)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           round(mean_word_len, 6) AS mean_word_len,
           round(symbol_ratio, 6) AS symbol_ratio,
           round(bullet_frac, 6) AS bullet_frac,
           round(ellipsis_frac, 6) AS ellipsis_frac,
           round(alpha_word_frac, 6) AS alpha_word_frac,
           CAST(n_req_stops AS BIGINT) AS n_req_stops,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND symbol_ratio <= 0.1 AND bullet_frac <= 0.1
            AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
            AND n_req_stops >= 2) AS pass
         FROM m""",
    // tx24: the identical canonicalization pipeline in SQL
    "tx24_normalize" ->
      """WITH n AS (SELECT doc_id,
           trim(regexp_replace(regexp_replace(translate(lower(text),
             'áàâäãåéèêëíìîïóòôöõúùûüçñýÿ', 'aaaaaaeeeeiiiiooooouuuucnyy'),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
         FROM documents)
         SELECT doc_id, nt AS norm_text, md5(nt) AS fingerprint,
           CAST(CASE WHEN nt = '' THEN 0
                ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END
             AS BIGINT) AS n_tokens
         FROM n""",
    // tx23: within-doc ground truth — a char is duplicated iff covered
    // by a flagged 20-gram start (one whose gram occurred earlier in
    // the SAME doc); cleaned text/spans/chars as in tx20
    "tx23_self_clean" ->
      """WITH pos AS (
           SELECT doc_id, text,
             unnest(generate_series(1, length(text) - 19)) AS p
           FROM documents WHERE length(text) >= 20),
         g AS (SELECT doc_id, p, substr(text, p, 20) AS gram FROM pos),
         fo AS (SELECT doc_id, p,
             min(p) OVER (PARTITION BY doc_id, gram) AS fp FROM g),
         flag AS (SELECT doc_id, p FROM fo WHERE p > fp),
         chars AS (SELECT doc_id, text,
             unnest(generate_series(1, length(text))) AS c
           FROM documents),
         dupchar AS (SELECT DISTINCT ch.doc_id, ch.c FROM chars ch
           JOIN flag f ON ch.doc_id = f.doc_id
             AND ch.c BETWEEN f.p AND f.p + 19),
         clean AS (SELECT ch.doc_id,
             string_agg(substr(ch.text, ch.c, 1), '' ORDER BY ch.c) AS ct
           FROM chars ch LEFT JOIN dupchar d
             ON ch.doc_id = d.doc_id AND ch.c = d.c
           WHERE d.c IS NULL GROUP BY ch.doc_id),
         spans AS (SELECT dc.doc_id, count(*) AS ns FROM dupchar dc
           LEFT JOIN dupchar prev
             ON dc.doc_id = prev.doc_id AND prev.c = dc.c - 1
           WHERE prev.c IS NULL GROUP BY dc.doc_id),
         nd AS (SELECT doc_id, count(*) AS ndc FROM dupchar GROUP BY doc_id)
         SELECT d.doc_id, coalesce(cl.ct, '') AS clean_text,
           CAST(coalesce(s.ns, 0) AS BIGINT) AS n_cut_spans,
           CAST(coalesce(nd.ndc, 0) AS BIGINT) AS n_dup_chars
         FROM documents d
         LEFT JOIN clean cl ON d.doc_id = cl.doc_id
         LEFT JOIN spans s ON d.doc_id = s.doc_id
         LEFT JOIN nd ON d.doc_id = nd.doc_id""",
    // tx21: ground truth materializes every suffix STRING and sorts —
    // O(total chars²) memory the distributed doubling never pays
    "tx21_suffix_ranks" ->
      """WITH pos AS (
           SELECT doc_id, text, unnest(generate_series(1, length(text))) AS p
           FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 1),
         s AS (SELECT doc_id, p, substr(text, p) AS suf FROM pos)
         SELECT doc_id, p,
           CAST(row_number() OVER (ORDER BY suf, doc_id, p) AS BIGINT)
             AS srank
         FROM s""",
    // tx22: LCP ground truth — lag the materialized suffix strings in
    // rank order; lcp = max k with equal length-k prefixes
    "tx22_lcp_array" ->
      """WITH pos AS (
           SELECT doc_id, text, unnest(generate_series(1, length(text))) AS p
           FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 1),
         s AS (SELECT doc_id, p, substr(text, p) AS suf FROM pos),
         r AS (SELECT doc_id, p, suf,
             CAST(row_number() OVER (ORDER BY suf, doc_id, p) AS BIGINT)
               AS srank,
             lag(suf) OVER (ORDER BY suf, doc_id, p) AS prevsuf,
             lag(doc_id) OVER (ORDER BY suf, doc_id, p) AS prevdoc
           FROM s)
         SELECT doc_id, p, srank,
           CAST(CASE WHEN prevsuf IS NULL THEN 0 ELSE coalesce((
             SELECT max(g.k) FROM
               (SELECT unnest(generate_series(1, 4096)) AS k) g
             WHERE g.k <= least(length(suf), length(prevsuf))
               AND substr(suf, 1, g.k) = substr(prevsuf, 1, g.k)), 0)
           END AS BIGINT) AS lcp,
           coalesce(prevdoc = doc_id, FALSE) AS prev_same_doc
         FROM r""",
    // tx20: per-character ground truth — a char is duplicated iff some
    // flagged 40-gram start covers it; cleaned text = kept chars in
    // order; spans = maximal runs of duplicated chars (a run starts at
    // a dup char whose predecessor is not dup)
    "tx20_span_clean" ->
      """WITH pos AS (
           SELECT doc_id, text,
             unnest(generate_series(1, length(text) - 39)) AS p
           FROM documents WHERE length(text) >= 40),
         g AS (SELECT doc_id, p, substr(text, p, 40) AS gram FROM pos),
         dup AS (SELECT gram FROM g GROUP BY gram
                 HAVING count(DISTINCT doc_id) > 1),
         flag AS (SELECT g.doc_id, g.p FROM g JOIN dup ON g.gram = dup.gram),
         chars AS (SELECT doc_id, text,
             unnest(generate_series(1, length(text))) AS c
           FROM documents),
         dupchar AS (SELECT DISTINCT ch.doc_id, ch.c FROM chars ch
           JOIN flag f ON ch.doc_id = f.doc_id
             AND ch.c BETWEEN f.p AND f.p + 39),
         clean AS (SELECT ch.doc_id,
             string_agg(substr(ch.text, ch.c, 1), '' ORDER BY ch.c) AS ct
           FROM chars ch LEFT JOIN dupchar d
             ON ch.doc_id = d.doc_id AND ch.c = d.c
           WHERE d.c IS NULL GROUP BY ch.doc_id),
         spans AS (SELECT dc.doc_id, count(*) AS ns FROM dupchar dc
           LEFT JOIN dupchar prev
             ON dc.doc_id = prev.doc_id AND prev.c = dc.c - 1
           WHERE prev.c IS NULL GROUP BY dc.doc_id),
         nd AS (SELECT doc_id, count(*) AS ndc FROM dupchar GROUP BY doc_id)
         SELECT d.doc_id, coalesce(cl.ct, '') AS clean_text,
           CAST(coalesce(s.ns, 0) AS BIGINT) AS n_cut_spans,
           CAST(coalesce(nd.ndc, 0) AS BIGINT) AS n_dup_chars
         FROM documents d
         LEFT JOIN clean cl ON d.doc_id = cl.doc_id
         LEFT JOIN spans s ON d.doc_id = s.doc_id
         LEFT JOIN nd ON d.doc_id = nd.doc_id""",
    // tx17: persistence must be lossless, so the loaded-model scores are
    // tx14's — same oracle; the round-trip is gated in-query
    "tx17_lm_persist" -> perplexityOracle,
    // mm4: every field predicted arithmetically from the synth params
    // (byte_len = 16 ftyp + 116 moov/mvhd + 8 mdat header + filler)
    // mm7: every pixel of both rasters recomputed arithmetically — the
    // source sums over the id-formula pixels, the halved sums over
    // floor-averaged 2×2 blocks, byte_len from the BMP stride rule
    "mm7_bmp_pixels" ->
      """WITH d AS (SELECT doc_id,
             CAST(4 + doc_id % 13 AS BIGINT) AS w,
             CAST(4 + (doc_id * 3) % 11 AS BIGINT) AS h
           FROM documents),
         xs AS (SELECT doc_id, w, h,
             unnest(generate_series(0, w - 1)) AS x FROM d),
         px AS (SELECT doc_id, w, h, x,
             unnest(generate_series(0, h - 1)) AS y FROM xs),
         src AS (SELECT doc_id,
             CAST(sum((x * 7 + y * 13 + doc_id) % 256) AS BIGINT) AS src_r,
             CAST(sum((x * 3 + y * 5 + doc_id * 11) % 256) AS BIGINT) AS src_g,
             CAST(sum((x + y * 2 + doc_id * 17) % 256) AS BIGINT) AS src_b
           FROM px GROUP BY doc_id),
         oxs AS (SELECT doc_id, w, h,
             unnest(generate_series(0, w // 2 - 1)) AS ox FROM d),
         opx AS (SELECT doc_id, w, h, ox,
             unnest(generate_series(0, h // 2 - 1)) AS oy FROM oxs),
         dst AS (SELECT doc_id,
             CAST(sum((  ((2*ox)   * 7 + (2*oy)   * 13 + doc_id) % 256
                  + ((2*ox+1) * 7 + (2*oy)   * 13 + doc_id) % 256
                  + ((2*ox)   * 7 + (2*oy+1) * 13 + doc_id) % 256
                  + ((2*ox+1) * 7 + (2*oy+1) * 13 + doc_id) % 256) // 4) AS BIGINT) AS dst_r,
             CAST(sum((  ((2*ox)   * 3 + (2*oy)   * 5 + doc_id * 11) % 256
                  + ((2*ox+1) * 3 + (2*oy)   * 5 + doc_id * 11) % 256
                  + ((2*ox)   * 3 + (2*oy+1) * 5 + doc_id * 11) % 256
                  + ((2*ox+1) * 3 + (2*oy+1) * 5 + doc_id * 11) % 256) // 4) AS BIGINT) AS dst_g,
             CAST(sum((  ((2*ox)   + (2*oy)   * 2 + doc_id * 17) % 256
                  + ((2*ox+1) + (2*oy)   * 2 + doc_id * 17) % 256
                  + ((2*ox)   + (2*oy+1) * 2 + doc_id * 17) % 256
                  + ((2*ox+1) + (2*oy+1) * 2 + doc_id * 17) % 256) // 4) AS BIGINT) AS dst_b
           FROM opx GROUP BY doc_id)
         SELECT d.doc_id, d.w AS width, d.h AS height,
           CAST(d.w // 2 AS BIGINT) AS new_width, CAST(d.h // 2 AS BIGINT) AS new_height,
           CAST(54 + ((3 * d.w + 3) // 4) * 4 * d.h AS BIGINT) AS byte_len,
           src.src_r, src.src_g, src.src_b,
           dst.dst_r, dst.dst_g, dst.dst_b
         FROM d JOIN src USING (doc_id) JOIN dst USING (doc_id)""",
    // mm8: the oracle rebuilds every raster arithmetically (pixel →
    // integer luma → 8×8 floor-averaged cells → strict-greater-than-mean
    // bits) and brute-forces ALL pairs' Hamming distances — the Spark
    // side must recover exactly the ≤3 set through the real codec and
    // the banded join, with no quadratic compare
    "mm8_phash_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id % 41 AS base FROM documents),
         xs AS (SELECT doc_id, base,
             unnest(generate_series(0, 15)) AS x FROM d),
         px AS (SELECT doc_id, base, x,
             unnest(generate_series(0, 15)) AS y FROM xs),
         lum AS (SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
             (2 * ((x*13 + y*7 + base*31 +
                    CASE WHEN (x*y) % 13 = 0 THEN doc_id % 5 ELSE 0 END) % 256)
              + 5 * ((x*5 + y*11 + base*17) % 256)
              + ((x*9 + y*3 + base*23) % 256)) // 8 AS l
           FROM px),
         cells AS (SELECT doc_id, cy * 8 + cx AS idx,
             CAST(sum(l) AS BIGINT) // 4 AS cell
           FROM lum GROUP BY doc_id, cx, cy),
         m AS (SELECT doc_id, CAST(sum(cell) AS BIGINT) // 64 AS mean
               FROM cells GROUP BY doc_id),
         bits AS (SELECT c.doc_id, c.idx,
             CASE WHEN c.cell > m.mean THEN 1 ELSE 0 END AS bit
           FROM cells c JOIN m USING (doc_id)),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT)
               AS hamming
           FROM bits a JOIN bits b ON a.idx = b.idx AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""",
    "mm4_mp4_meta" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN CAST(octet_length(encode(text)) AS BIGINT)
              ELSE CAST(140 + doc_id % 50 AS BIGINT) END AS byte_len,
         CASE WHEN doc_id % 13 = 0 THEN 'unknown' ELSE 'mp4' END AS format,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
                   ELSE 'avc1' END END AS brand,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                        ELSE 90000 END AS BIGINT) END AS timescale,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE CAST(((100 + doc_id % 400) * 10) * 1000 //
                   (CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                    ELSE 90000 END) AS BIGINT) END AS duration_ms
         FROM documents""",
    "mm3_wav_meta" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN CAST(octet_length(encode(text)) AS BIGINT)
              ELSE CAST(44 + (100 + doc_id % 500) * (1 + doc_id % 2) * 2 AS BIGINT) END AS byte_len,
         CASE WHEN doc_id % 11 = 0 THEN 'unknown' ELSE 'wav' END AS format,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 44100 ELSE 48000 END AS INTEGER) END AS sample_rate,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE CAST(1 + doc_id % 2 AS INTEGER) END AS channels,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE CAST(16 AS INTEGER) END AS bits_per_sample,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE CAST((100 + doc_id % 500) * 1000 //
                   (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 44100 ELSE 48000 END) AS BIGINT) END AS duration_ms
         FROM documents""",
    "mm1_binary_meta" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN CAST(octet_length(encode(text)) AS BIGINT)
              WHEN doc_id % 2 = 0 THEN CAST(33 + doc_id % 100 AS BIGINT)
              ELSE CAST(39 + doc_id % 100 AS BIGINT) END AS byte_len,
         CASE WHEN doc_id % 13 = 0 THEN hex(encode(substring(text, 1, 8)))
              WHEN doc_id % 2 = 0 THEN '89504E470D0A1A0A'
              ELSE 'FFD8FFE000104A46' END AS header_hex,
         CASE WHEN doc_id % 13 = 0 THEN 'unknown'
              WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE CAST(16 + doc_id % 624 AS INTEGER) END AS width,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE CAST(16 + (doc_id * 7) % 464 AS INTEGER) END AS height
         FROM documents""",
    // mm6: resize halves the parsed dims; re-encoded header sizes are
    // format constants (png 33+0 filler, jpeg 39+0)
    "mm6_resize" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         CAST(16 + doc_id % 624 AS INTEGER) AS width,
         CAST(16 + (doc_id * 7) % 464 AS INTEGER) AS height,
         CAST((16 + doc_id % 624) // 2 AS INTEGER) AS new_width,
         CAST((16 + (doc_id * 7) % 464) // 2 AS INTEGER) AS new_height,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 39 END AS BIGINT) AS out_len
         FROM documents""",
    // mm5: synthesized GIF/WebP byte lengths and dims are id-arithmetic
    // (synthGif = 14+filler, lossy = 30+filler, lossless = 25+filler)
    "mm5_gif_webp" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN CAST(octet_length(encode(text)) AS BIGINT)
              WHEN doc_id % 3 = 0 THEN CAST(14 + doc_id % 100 AS BIGINT)
              WHEN doc_id % 3 = 1 THEN CAST(30 + doc_id % 100 AS BIGINT)
              ELSE CAST(25 + doc_id % 100 AS BIGINT) END AS byte_len,
         CASE WHEN doc_id % 13 = 0 THEN 'unknown'
              WHEN doc_id % 3 = 0 THEN 'gif'
              WHEN doc_id % 3 = 1 THEN 'webp'
              ELSE 'webp-lossless' END AS format,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE CAST(16 + doc_id % 624 AS INTEGER) END AS width,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE CAST(16 + (doc_id * 7) % 464 AS INTEGER) END AS height
         FROM documents"""
  )

  /** SimHash oracle: recompute the md5-digit 64-bit signatures exactly as
    * [[graft.operators.dedup.SimHash.signatures]] (digit i of md5's first
    * 16 hex chars supplies bits 4i..4i+3; bit term = sign of the
    * count-weighted ±1 sum) and compare all pairs directly — the Hamming
    * distance is the number of differing sign bits, so no 64-bit packing
    * is needed on the SQL side. */
  private def simhashOracle(maxHamming: Int): String = {
    val dvDefs = (0 until 16)
      .map(i => s"strpos('0123456789abcdef', substring(h, ${i + 1}, 1)) - 1 AS dv$i")
      .mkString(", ")
    val bitDefs = (0 until 64)
      .map(j => s"sum(cnt * (2 * ((dv${j / 4} >> ${j % 4}) & 1) - 1)) > 0 AS b$j")
      .mkString(", ")
    val hamming = (0 until 64)
      .map(j => s"CAST(a.b$j <> b.b$j AS INTEGER)").mkString(" + ")
    s"""WITH tf AS (
         SELECT doc_id, tok, count(*) AS cnt
         FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         GROUP BY doc_id, tok),
       d AS (SELECT doc_id, cnt, $dvDefs FROM (SELECT doc_id, cnt, md5(tok) AS h FROM tf)),
       s AS (SELECT doc_id, $bitDefs FROM d GROUP BY doc_id),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $hamming AS hamming
             FROM s a JOIN s b ON a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= $maxHamming"""
  }

  /** Winnowing oracle: rebuild the 32-bit md5-prefix k-gram hashes digit
    * by digit and apply the same nearest-smaller selection rule as
    * [[graft.operators.dedup.Winnowing]] (left neighbors tie-break ≤,
    * right neighbors strict <; selected iff the clean span R−L−1 covers a
    * full window). */
  private def winnowCtes(w: Int): String = {
    val h32 = (1 to 8).map(p =>
      s"(strpos('0123456789abcdef', substring(m, $p, 1)) - 1) * ${1L << (4 * (8 - p))}")
      .mkString(" + ")
    s"""g AS (
         SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
         FROM (SELECT doc_id, $toksSql AS toks FROM documents),
           LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i)),
       hh AS (
         SELECT doc_id, pos, $h32 AS h
         FROM (SELECT doc_id, pos, md5(sh) AS m FROM g)),
       ctx AS (
         SELECT doc_id, pos, h,
           count(*) OVER (PARTITION BY doc_id) AS n,
           list(struct_pack(h := h, pos := pos)) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN ${w - 1} PRECEDING AND 1 PRECEDING) AS lw,
           list(struct_pack(h := h, pos := pos)) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN 1 FOLLOWING AND ${w - 1} FOLLOWING) AS rw
         FROM hh),
       fp AS (
         SELECT doc_id, CAST(pos AS INT) AS pos, h AS fingerprint FROM (
           SELECT doc_id, pos, h, n,
             coalesce(list_max(list_transform(list_filter(lw, e -> e.h <= h), e -> e.pos)), 0) AS L,
             coalesce(list_min(list_transform(list_filter(rw, e -> e.h < h), e -> e.pos)), n + 1) AS R
           FROM ctx)
         WHERE n >= $w AND R - L - 1 >= $w)"""
  }

  private def winnowOracle(w: Int): String =
    s"WITH ${winnowCtes(w)} SELECT doc_id, pos, fingerprint FROM fp"

  /** Exact word-3-gram Jaccard ≥ 0.8 pairs (oracle for both the exact
    * prefix-filter join and the exact-verified MinHash-LSH). */
  private def jaccardOracle: String =
    s"""WITH d AS (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       s AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
       i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       z AS (SELECT doc_id, len(sh) AS n FROM d)
       SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
       FROM i JOIN z x ON doc_a = x.doc_id JOIN z y ON doc_b = y.doc_id
       WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8"""

  private def coreOracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*), 6) AS avg_qty,
         round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)/count(*), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    // the bloom prune is cost-only: the oracle is the plain join
    "q49_bloom_join" ->
      """SELECT p_brand,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size <= 5
         GROUP BY p_brand""",
    "q50_snapshot_diff" ->
      """WITH olds AS (SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 11 != 0),
         news AS (SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 7 != 0),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NULL AS added, n.o_orderkey IS NULL AS removed,
             concat_ws(',',
               CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) THEN 'o_orderstatus' END,
               CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) THEN 'o_totalprice' END) AS cc
           FROM olds o FULL OUTER JOIN news n ON o.o_orderkey = n.o_orderkey)
         SELECT o_orderkey,
           CASE WHEN added THEN 'added' WHEN removed THEN 'removed'
                WHEN cc != '' THEN 'changed' ELSE 'unchanged' END AS change_type,
           CASE WHEN added OR removed THEN '' ELSE cc END AS changed_cols
         FROM j
         WHERE NOT (NOT added AND NOT removed AND cc = '')""",
    // q68: same exact-decimal-sums-then-fixed-double-test shape
    "q68_outliers" ->
      """WITH o AS (
           SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 997 = 0 THEN o_totalprice * 25.0
                  ELSE o_totalprice END AS o_total_syncd
           FROM orders),
         st AS (
           SELECT o_orderpriority, count(*) AS n,
             sum(CAST(o_total_syncd AS DECIMAL(19,2))) AS s,
             sum(CAST(o_total_syncd AS DECIMAL(19,2)) *
                 CAST(o_total_syncd AS DECIMAL(19,2))) AS s2
           FROM o GROUP BY o_orderpriority)
         SELECT o.o_orderkey, o.o_total_syncd, o.o_orderpriority,
                CAST(st.n AS BIGINT) AS n
         FROM o JOIN st ON o.o_orderpriority = st.o_orderpriority
         WHERE st.n >= 2 AND
           (CAST(o.o_total_syncd AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
           * (CAST(o.o_total_syncd AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
           > 9.0 * ((CAST(st.s2 AS DOUBLE) - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)
                     / CAST(st.n AS DOUBLE)) / (CAST(st.n AS DOUBLE) - 1.0))""",
    "q51_dq_profile" ->
      """WITH t AS (SELECT *,
           CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderstatus END AS o_status_opt
         FROM orders)
         SELECT 'o_orderstatus' AS col_name, count(*) AS n_rows,
           count(*) - count(o_orderstatus) AS n_null,
           count(DISTINCT o_orderstatus) AS n_distinct,
           CAST(min(o_orderstatus) AS VARCHAR) AS min_val,
           CAST(max(o_orderstatus) AS VARCHAR) AS max_val FROM t
         UNION ALL
         SELECT 'o_status_opt', count(*),
           count(*) - count(o_status_opt),
           count(DISTINCT o_status_opt),
           CAST(min(o_status_opt) AS VARCHAR), CAST(max(o_status_opt) AS VARCHAR) FROM t
         UNION ALL
         SELECT 'o_totalprice', count(*),
           count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR) FROM t
         UNION ALL
         SELECT 'o_orderdate', count(*),
           count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR),
           CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) FROM t
         UNION ALL
         SELECT 'o_custkey', count(*),
           count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM t""",
    "q53_multi_origin" ->
      """WITH a AS (SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
             'legacy' AS src, 1 AS prio
           FROM orders WHERE o_orderkey % 3 != 0),
         b AS (SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
             'api' AS src, 2 AS prio
           FROM orders WHERE o_orderkey % 2 = 0),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY prio DESC) AS rk FROM u)
         SELECT o_orderkey, src, o_orderstatus, price FROM r WHERE rk = 1""",
    "q55_cube" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY CUBE (c_mktsegment, o_orderstatus)""",
    "q54_weighted_mix" ->
      """WITH w AS (SELECT doc_id, lang,
           CASE lang WHEN 'en' THEN 1500000 WHEN 'zh' THEN 200000 ELSE 500000 END AS ppm,
           (doc_id * 2654435761) % 4294967296 % 1000000 AS h
         FROM documents),
         c AS (SELECT doc_id, lang,
           ppm // 1000000 + CASE WHEN h < ppm % 1000000 THEN 1 ELSE 0 END AS copies
         FROM w)
         SELECT doc_id, lang,
           CAST(unnest(generate_series(1, CAST(copies AS BIGINT))) AS BIGINT) AS copy_idx
         FROM c WHERE copies > 0""",
    "q2_filter_eq" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate
         FROM orders WHERE o_orderstatus = 'F'""",
    "q3_filter_range" ->
      """SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_orderdate
         FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'""",
    "q4_filter_in" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
         FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')""",
    "q5_filter_contains" ->
      """SELECT p_partkey, p_name, p_type, p_size FROM part
         WHERE (p_name LIKE '%widget%' OR p_name LIKE '%bolt%') AND p_type LIKE '%ECONOMY%'""",
    "q6_having" ->
      """SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent,
         count(*) AS n_orders
         FROM orders GROUP BY o_custkey
         HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) > 300000""",
    "q7_cursor_advance" ->
      """SELECT CAST(max(o_orderdate) AS VARCHAR) AS cursor_end, count(*) AS n_in_slice
         FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'""",
    "q34_datetime" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(quarter(o_orderdate) AS INT) AS q,
         CAST(month(o_orderdate) AS INT) AS m, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders GROUP BY 1, 2, 3""",
    "q31_window_suite" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
         lag(o_orderkey, 1) OVER w AS prev_key,
         lead(o_orderkey, 1) OVER w AS next_key,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         ntile(4) OVER w AS quartile
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)""",
    "q32_set_ops" ->
      """SELECT o_custkey, 'both' AS bucket FROM (
           SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
         UNION ALL
         SELECT o_custkey, 'only_1996' AS bucket FROM (
           SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')""",
    "q33_semi_anti" ->
      """SELECT c_custkey, 'active' AS status FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         UNION ALL
         SELECT c_custkey, 'inactive' AS status FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "q29_funnel" ->
      """WITH f AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
           FROM events GROUP BY user_id)
         SELECT count(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
           count(CASE WHEN t_signup < t_click THEN 1 END) AS n_signup_click,
           count(CASE WHEN t_signup < t_click AND t_click < t_purchase THEN 1 END) AS n_converted
         FROM f""",
    "q30_retention" ->
      """WITH d AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
         fd AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
         SELECT fd.cohort_day, d.day - fd.cohort_day AS day_offset,
           count(DISTINCT d.user_id) AS n_users
         FROM d JOIN fd ON d.user_id = fd.user_id
         GROUP BY fd.cohort_day, d.day - fd.cohort_day""",
    "q27_distinct_counts" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q28_fuzzy_match" ->
      """WITH d AS (SELECT p_name, min(p_partkey) AS key, count(*) AS n FROM part GROUP BY p_name)
         SELECT a.key AS key_a, b.key AS key_b, a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist, a.n AS n_a, b.n AS n_b
         FROM d a JOIN d b ON a.key < b.key
         WHERE levenshtein(a.p_name, b.p_name) <= 2""",
    "q23_json_extract" ->
      """SELECT event_type, CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS total_k,
         count(*) AS n, max(CAST(props ->> 'k' AS BIGINT)) AS max_k
         FROM events GROUP BY event_type""",
    "q24_pivot" ->
      """SELECT c_mktsegment AS segment,
         count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
         count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
         count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q25_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "q26_quantiles" ->
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
         round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
         round(quantile_cont(o_totalprice, 0.75), 4) AS p75
         FROM orders GROUP BY o_orderstatus""",
    "q21_cursor_uid" ->
      """SELECT CAST(max(o_orderkey) AS VARCHAR) AS cursor_end, count(*) AS n_in_slice
         FROM orders WHERE o_orderkey >= 1000""",
    "q22_cursor_desc" ->
      """SELECT CAST(min(o_orderdate) AS VARCHAR) AS cursor_end, count(*) AS n_in_slice
         FROM orders WHERE o_orderdate <= TIMESTAMP '1997-01-01 00:00:00'""",
    "q8_mapping_formatter" ->
      """SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment, c_acctbal AS balance
         FROM customer""",
    "q9_unified" ->
      """SELECT 'order-' || o_orderkey AS key, 'warehouse_orders' AS origin,
         c_name AS owner, o_orderstatus AS status,
         CAST(o_orderdate AS DATE) AS created_at,
         CAST(o_totalprice AS DOUBLE) AS amount,
         CAST(o_totalprice AS DOUBLE) * 0.5 AS budget_min,
         'https://orders.example/' || o_orderkey AS url,
         CAST(CAST(o_orderdate AS DATE) + 90 AS VARCHAR) AS delivery_until
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "q10_push_events" ->
      """SELECT event_id, user_id, c_name AS resource_name, c_acctbal AS acctbal, event_type
         FROM events JOIN customer ON user_id = c_custkey WHERE c_acctbal > 0""",
    "q11_push_result" ->
      """SELECT count(*) AS total_events,
         count(CASE WHEN c.c_custkey IS NOT NULL THEN 1 END) AS total_resources_fetched,
         count(CASE WHEN c.c_custkey IS NOT NULL AND (c.c_acctbal > 0) IS TRUE THEN 1 END) AS total_resources_pushed,
         count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS skipped_missing,
         count(CASE WHEN c.c_custkey IS NOT NULL AND (c.c_acctbal > 0) IS NOT TRUE THEN 1 END) AS skipped_having
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
    "q43_push_errors" ->
      """SELECT count(*) AS total_resources_fetched,
         count(CASE WHEN (value >= 50.0) IS NOT TRUE THEN 1 END) AS skipped_having,
         count(CASE WHEN (value >= 50.0) IS TRUE AND event_id % 37 <> 0 THEN 1 END) AS total_resources_pushed,
         count(CASE WHEN (value >= 50.0) IS TRUE AND event_id % 37 = 0 THEN 1 END) AS errors
         FROM events""",
    "q12_event_latest" ->
      """SELECT user_id, event_id, event_type, value FROM (
         SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
    "q35_event_apply" ->
      """WITH latest AS (
           SELECT user_id, event_type, value FROM (
             SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1)
         SELECT coalesce(c.c_custkey, l.user_id) AS id, c.c_name AS name,
           c.c_mktsegment AS segment, coalesce(l.value, c.c_acctbal) AS balance
         FROM customer c FULL JOIN latest l ON c.c_custkey = l.user_id
         WHERE l.event_type IS NULL OR l.event_type <> 'error'""",
    "q37_interval_join" ->
      """SELECT c.user_id, count(*) AS n_attributed,
         CAST(sum(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS attributed_value,
         min(c.event_id) AS first_click
         FROM events c JOIN events p ON c.user_id = p.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_ns(p.ts) >= epoch_ns(c.ts)
         AND epoch_ns(p.ts) <= epoch_ns(c.ts) + 3600000000000
         GROUP BY c.user_id""",
    // q37 at event_time's MICROS precision (the streaming join compares
    // timestamp_micros values, so the oracle truncates nanos identically)
    "q52_stream_interval" ->
      """SELECT c.user_id, count(*) AS n_attributed,
         CAST(sum(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS attributed_value,
         min(c.event_id) AS first_click
         FROM events c JOIN events p ON c.user_id = p.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
         AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 3600000000
         GROUP BY c.user_id""",
    // q87: the good-table content — intact, having-passing rows with the
    // parsed required field; corrupt payloads (%37) land in the DLQ
    // (gated in-query), never here
    "q87_stream_dlq" ->
      """SELECT event_id, CAST(props ->> 'k' AS BIGINT) AS k, value
         FROM events
         WHERE value >= 50.0 AND event_id % 37 <> 0""",
    // q99: unmatched clicks flush with null purchase columns once the
    // watermark passes their window — the batch LEFT JOIN (type filter
    // in the ON clause) is the exact semantics
    "q99_stream_outer_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(coalesce(p.value, 0.0) AS DOUBLE) AS purchase_value
         FROM events c LEFT JOIN events p ON c.user_id = p.user_id
           AND p.event_type = 'purchase'
           AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
           AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 3600000000
         WHERE c.event_type = 'click'""",
    // q82: clicks and purchases arrive in DIFFERENT micro-batches, so
    // every attribution crosses the batch boundary through join state —
    // the result must still equal the batch interval join (q52's oracle)
    "q82_stream_join_multibatch" ->
      """SELECT c.user_id, count(*) AS n_attributed,
         CAST(sum(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS attributed_value,
         min(c.event_id) AS first_click
         FROM events c JOIN events p ON c.user_id = p.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
         AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 3600000000
         GROUP BY c.user_id""",
    "q59_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    // q60: the merged table recomputed in SQL — keeps = neither updated
    // nor deleted, updates transformed, inserts re-keyed
    "q60_merge" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, upper(c_name) AS c_name, c_nationkey,
                c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
         UNION ALL
         SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
                c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 11 = 3""",
    // q101: the kill/restart recovery lands the SAME table state as
    // q60's single-batch merge — identical oracle; the resume contract
    // (no re-execution of sealed batches, no recommit) is gated in-query
    "q101_stream_restart" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, upper(c_name) AS c_name, c_nationkey,
                c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
         UNION ALL
         SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
                c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 11 = 3""",
    // q76: merge-on-read lands the SAME table state as q60's
    // copy-on-write merge — identical oracle; the cost-model difference
    // (zero rewritten files) is asserted by the in-query gate
    "q76_merge_mor" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, upper(c_name) AS c_name, c_nationkey,
                c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
         UNION ALL
         SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
                c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 11 = 3""",
    // q83: constraint declaration/enforcement is gated in-query (throws
    // are asserted there); the oracle recomputes the surviving table —
    // base rows plus the one VALID append
    "q83_constraints" ->
      """WITH t AS (
           SELECT c_mktsegment, c_acctbal FROM customer
           UNION ALL
           SELECT c_mktsegment, c_acctbal FROM customer
           WHERE c_custkey % 10 = 3)
         SELECT c_mktsegment, count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
         FROM t GROUP BY c_mktsegment""",
    // q88: after the erasure pipeline the table is the base rows minus
    // the deleted keys; physical absence is gated in-query
    "q88_hard_delete" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 <> 0""",
    // q89: the MV rewrite may only change the ACCESS PATH (gated
    // in-query: plan scans the rollup, not the fact table) — the values
    // must equal the raw base-table aggregate bit-for-bit
    "q89_mv_rewrite" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1, 2""",
    // q90: dynamic partition pruning changes the fact SCAN (gated
    // in-query), never the values — the join to the filtered dim is a
    // plain IN over the partition column
    "q90_dpp" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
         GROUP BY 1""",
    // q107: delete the negative-balance band, then VIP-flag and bump
    // the 9000+ band — recomputed in SQL
    "q107_delete_update_where" ->
      """SELECT c_custkey, c_name,
           CASE WHEN c_acctbal >= 9000 THEN c_acctbal + 1.0
                ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_acctbal >= 9000 THEN 'VIP'
                ELSE c_mktsegment END AS c_mktsegment
         FROM customer WHERE NOT (c_acctbal < 0)""",
    // q106: evolved state — updated rows carry the new column (tier
    // from the UPDATED balance), untouched rows read NULL, tombstoned
    // rows are gone
    "q106_merge_evolve" ->
      """SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS VARCHAR) AS c_tier
         FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal,
           CASE WHEN c_acctbal + 1000.0 >= 5000 THEN 'gold' ELSE 'std' END
             AS c_tier
         FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0""",
    // q105: after the rollback the table IS the original — the oracle
    // is the plain table; forward-only history is gated in-query
    "q105_restore" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer""",
    // q104: the clone's merged state equals q60's merge of the source
    // data — identical oracle; zero-copy and source-isolation are gated
    // in-query
    "q104_shallow_clone" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, upper(c_name) AS c_name, c_nationkey,
                c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
         UNION ALL
         SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
                c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 11 = 3""",
    // mm10: every frame of every waveform recomputed arithmetically —
    // the Spark side's energies come from DECODED container bytes
    "mm10_audio_energy" ->
      """WITH d AS (SELECT doc_id, 256 + doc_id % 191 AS n FROM documents),
         g AS (SELECT unnest(range(447)) AS i),
         sm AS (SELECT doc_id, i, i // 64 AS frame,
                  ((i*i + 7*i + doc_id*31) % 4001) - 2000 AS v
                FROM d, g WHERE i < n)
         SELECT doc_id, CAST(frame AS BIGINT) AS frame,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(max(abs(v)) AS BIGINT) AS peak
         FROM sm GROUP BY doc_id, frame""",
    // mm11: every Walsh–Hadamard coefficient of every frame recomputed
    // from the same integer waveform — bit_count(k & j) parity is the
    // ±1 basis
    "mm11_wht_spectrum" ->
      """WITH d AS (SELECT doc_id, 256 + doc_id % 191 AS n FROM documents),
         g AS (SELECT unnest(range(447)) AS i),
         b AS (SELECT unnest(range(16)) AS k),
         sm AS (SELECT doc_id, i // 64 AS frame, i % 64 AS j,
                  ((i*i + 7*i + doc_id*31) % 4001) - 2000 AS v
                FROM d, g WHERE i < n)
         SELECT doc_id, CAST(frame AS BIGINT) AS frame,
           CAST(k AS BIGINT) AS band,
           CAST(sum(CASE WHEN bit_count(k & j) % 2 = 0 THEN v ELSE -v END)
             AS BIGINT) AS coef
         FROM sm, b GROUP BY doc_id, frame, k""",
    // ss18: the emitted rows are the exact brute-force top-k (the
    // layout's recall is gated in-query)
    "ss18_ivf_layout" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id IN (3, 100, 203)),
         c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings),
         s AS (SELECT qid, nid,
                 round(list_cosine_similarity(qv, nv), 6) AS cosine
               FROM q JOIN c ON qid != nid)
         SELECT query_id, neighbor_id, cosine, rk FROM (
           SELECT qid AS query_id, nid AS neighbor_id, cosine,
             row_number() OVER (PARTITION BY qid
               ORDER BY cosine DESC, nid) AS rk FROM s)
         WHERE rk <= 5""",
    // mm9: every patch of every image recomputed arithmetically — the
    // Spark side's sums come from DECODED bytes, so the hash match
    // proves codec + tiling exactness
    "mm9_patchify" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w,
                      4 + (doc_id * 3) % 11 AS h FROM documents),
         g AS (SELECT unnest([0, 1, 2, 3]) AS v),
         p AS (SELECT doc_id, w, h, gx.v AS px, gy.v AS py
               FROM d, g gx, g gy
               WHERE gx.v < w // 4 AND gy.v < h // 4)
         SELECT doc_id, CAST(px AS BIGINT) AS patch_x,
           CAST(py AS BIGINT) AS patch_y,
           CAST(sum(((px*4 + dx.v)*7 + (py*4 + dy.v)*13 + doc_id) % 256)
             AS BIGINT) AS sum_r,
           CAST(sum(((px*4 + dx.v)*3 + (py*4 + dy.v)*5 + doc_id*11) % 256)
             AS BIGINT) AS sum_g,
           CAST(sum(((px*4 + dx.v) + (py*4 + dy.v)*2 + doc_id*17) % 256)
             AS BIGINT) AS sum_b
         FROM p, g dx, g dy
         GROUP BY doc_id, px, py""",
    // q136: the emitted rows are the exact in-process top-k the HTTP
    // round-trip was gated against
    "q136_search_api" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id IN (7, 42)),
         c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings),
         s AS (SELECT qid, nid,
                 round(list_cosine_similarity(qv, nv), 6) AS cosine
               FROM q JOIN c ON qid != nid)
         SELECT query_id, neighbor_id, cosine, rk FROM (
           SELECT qid AS query_id, nid AS neighbor_id, cosine,
             row_number() OVER (PARTITION BY qid
               ORDER BY cosine DESC, nid) AS rk FROM s)
         WHERE rk <= 5""",
    // q135: the plan's numbers pin the pipeline's exact file/ledger/
    // version accounting
    "q135_maintenance_plan" ->
      """SELECT 'compact_incremental' AS action, CAST(4 AS BIGINT) AS metric,
           true AS recommended
         UNION ALL SELECT 'fold_deletes', CAST(1 AS BIGINT), true
         UNION ALL SELECT 'expire', CAST(3 AS BIGINT), true
         UNION ALL SELECT 'reindex_bloom:c_custkey', CAST(1 AS BIGINT),
           true""",
    // q134: every emitted number derives from manifest metadata alone —
    // the oracle recomputes them from the data rules
    "q134_describe_detail" ->
      """SELECT CAST(3 AS BIGINT) AS version,
           CAST(1 AS BIGINT) AS n_delete_files,
           (SELECT CAST(count(*) AS BIGINT) FROM customer)
             AS recorded_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM customer
            WHERE c_custkey % 13 <> 0) AS live_rows,
           CAST(1 AS BIGINT) AS n_constraints,
           'c_custkey' AS merge_keys""",
    // q133: every bucket value is the declared expression of its row —
    // computed and supplied write paths indistinguishable in the data
    "q133_generated" ->
      """SELECT o_orderkey, o_custkey,
           CAST(o_orderkey % 16 AS BIGINT) AS bucket
         FROM orders
         UNION ALL
         SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
           CAST((o_orderkey + 10000000) % 16 AS BIGINT) AS bucket
         FROM orders WHERE o_orderkey % 11 = 5""",
    // q132: surrogate ids are reproducible — row_number over each
    // commit's ordering, offset by the prior commit's count
    "q132_identity" ->
      """WITH e AS (SELECT c_custkey, c_name, c_acctbal,
                      row_number() OVER (ORDER BY c_custkey) AS rn
                    FROM customer WHERE c_custkey % 2 = 0),
         ne AS (SELECT count(*) AS n FROM e),
         o AS (SELECT c_custkey, c_name, c_acctbal,
                 row_number() OVER (ORDER BY c_custkey) AS rn
               FROM customer WHERE c_custkey % 2 = 1)
         SELECT CAST(rn AS BIGINT) AS sk, c_custkey, c_name,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM e
         UNION ALL
         SELECT CAST(rn + n AS BIGINT) AS sk, c_custkey, c_name,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM o, ne""",
    // q131: the tail from v2's commit instant holds slices 1 and 2
    "q131_stream_starting_ts" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
         FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1""",
    // q130: exactly-once across the maintenance commit — the sink
    // re-aggregates to the source
    "q130_stream_optimize" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
         FROM orders GROUP BY 1""",
    // q129: the atomically-paired summary folds back to the plain
    // aggregate of the source
    "q129_stream_txn_sink" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
         FROM orders GROUP BY 1""",
    // q128: the emitted state is the v3 rule set minus the deleted and
    // the erased subjects — uniform predicate over every key range
    "q128_total_erasure" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         surv AS (SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN upper(c_name)
                  ELSE c_name END AS c_name,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1000.0
                  ELSE c_acctbal END AS c_acctbal
           FROM base WHERE c_custkey % 13 <> 0),
         ins AS (SELECT c_custkey + 10000000 AS c_custkey, c_name,
                   c_acctbal FROM base WHERE c_custkey % 11 = 3),
         app AS (SELECT c_custkey + 20000000 AS c_custkey, c_name,
                   c_acctbal FROM base WHERE c_custkey % 11 = 7)
         SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
         FROM (SELECT * FROM surv UNION ALL SELECT * FROM ins
               UNION ALL SELECT * FROM app)
         WHERE c_custkey % 9 <> 0""",
    // q127: reconstruction from the REDACTED feed — forgotten deleted
    // keys stay absent, forgotten updated keys survive attribute-less
    // (their postimages were nulled), everyone else is untouched
    "q127_cdf_redaction" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         surv AS (SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 AND c_custkey % 5 = 0 THEN NULL
                  WHEN c_custkey % 7 = 0 THEN upper(c_name)
                  ELSE c_name END AS c_name,
             CASE WHEN c_custkey % 7 = 0 AND c_custkey % 5 = 0 THEN NULL
                  WHEN c_custkey % 7 = 0 THEN c_acctbal + 1000.0
                  ELSE c_acctbal END AS c_acctbal
           FROM base WHERE c_custkey % 13 <> 0),
         ins AS (SELECT c_custkey + 10000000 AS c_custkey, c_name,
                   c_acctbal FROM base WHERE c_custkey % 11 = 3),
         app AS (SELECT c_custkey + 20000000 AS c_custkey, c_name,
                   c_acctbal FROM base WHERE c_custkey % 11 = 7)
         SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
         FROM (SELECT * FROM surv UNION ALL SELECT * FROM ins
               UNION ALL SELECT * FROM app)""",
    // q126: RANGE frames over epoch nanos — peers included by
    // definition in both engines; decimal sum keeps the hash exact
    "q126_range_frame" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
           CAST(count(*) OVER w AS BIGINT) AS n_7d,
           CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
             AS sum_7d
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
           RANGE BETWEEN 604800000000000 PRECEDING AND CURRENT ROW)""",
    // q125: pruning is file-granular and provably sound; the residual
    // filter restores row-level exactness, so the result is the plain
    // substring filter
    "q125_trigram_skip" ->
      """SELECT doc_id, source,
           'https://' || source || '.example.com/doc/' ||
             CAST(doc_id AS VARCHAR) AS url
         FROM documents
         WHERE contains('https://' || source || '.example.com/doc/' ||
             CAST(doc_id AS VARCHAR), 'src7.example')""",
    // q124: greedy-earliest is deterministic, so the oracle replays the
    // same chain step by step with grouped mins
    "q124_seq_match" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn
                    FROM events),
         s1 AS (SELECT user_id, min(tsn) AS t_signup FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, t_signup, min(tsn) AS t_click
                FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND tsn > t_signup
                  AND tsn - t_signup <= 604800000000000
                GROUP BY 1, 2),
         s3 AS (SELECT e.user_id, t_signup, t_click,
                  min(tsn) AS t_purchase
                FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND tsn > t_click
                  AND tsn - t_click <= 604800000000000
                GROUP BY 1, 2, 3)
         SELECT user_id, t_signup, t_click, t_purchase FROM s3""",
    // q122: the sketch estimates are gated in-query against the
    // library's own confidence intervals; the oracle checks the exact
    // pairwise overlap matrix the query emits (zero-overlap pairs
    // included — the estimator must not invent or drop pairs)
    "q122_theta_overlap" ->
      """WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
         p AS (SELECT a.event_type AS seg_a, b.event_type AS seg_b,
                 count(*) AS n
               FROM d a JOIN d b ON a.user_id = b.user_id
                 AND a.event_type < b.event_type
               GROUP BY 1, 2),
         segs AS (SELECT DISTINCT event_type FROM events)
         SELECT s1.event_type AS seg_a, s2.event_type AS seg_b,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_both
         FROM segs s1 JOIN segs s2 ON s1.event_type < s2.event_type
         LEFT JOIN p ON p.seg_a = s1.event_type
           AND p.seg_b = s2.event_type""",
    // q123: sketch contracts (exact stream length, no-false-negatives
    // superset, per-item bounds) are gated in-query; the oracle checks
    // the exact heavy-token table — tokenization parity with Spark's
    // split is the tx16-proven string_split_regex('\s+')
    "q123_freq_tokens" ->
      """WITH toks AS (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         t AS (SELECT token, CAST(count(*) AS BIGINT) AS n
               FROM toks WHERE token <> '' GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM t)
         SELECT token, n FROM t, tot
         WHERE n >= greatest(1, total // 200)""",
    // q121: like q103, the sketch table is gated in-query (rank error
    // of both union-mode and single-pass estimates against the data);
    // the oracle checks the exact percentiles the query emits
    "q121_kll_mv" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 4) AS p25,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 4) AS p75,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.95), 4) AS p95
         FROM orders GROUP BY 1""",
    // q103: the maintained sketch table's correctness is gated
    // in-query (merge-exactness + error bound); the oracle checks the
    // exact distinct counts the query emits
    "q103_hll_mv" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
         FROM orders GROUP BY 1""",
    // q102: the Bloom-pruned point lookup must equal the plain filter
    // (pruning is file-granular and provably sound; the residual filter
    // restores row-level exactness)
    "q102_bloom_skip" ->
      """SELECT c_custkey, c_name, c_acctbal
         FROM customer WHERE c_custkey IN (11, 222, 1333)""",
    "q100_fk_audit" ->
      """SELECT 'lineitem->orders' AS fk, count(*) AS n_rows,
           CAST(sum(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
         FROM lineitem l LEFT JOIN
           (SELECT DISTINCT o_orderkey AS k FROM orders) d ON l.l_orderkey = d.k
         UNION ALL
         SELECT 'lineitem->part', count(*),
           CAST(sum(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem l LEFT JOIN
           (SELECT DISTINCT p_partkey AS k FROM part) d ON l.l_partkey = d.k
         UNION ALL
         SELECT 'orders->customer', count(*),
           CAST(sum(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM orders o LEFT JOIN
           (SELECT DISTINCT c_custkey AS k FROM customer) d ON o.o_custkey = d.k
         UNION ALL
         SELECT 'customer->nation', count(*),
           CAST(sum(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM customer c LEFT JOIN
           (SELECT DISTINCT n_nationkey AS k FROM nation) d ON c.c_nationkey = d.k
         UNION ALL
         SELECT 'supplier->nation', count(*),
           CAST(sum(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM supplier s LEFT JOIN
           (SELECT DISTINCT n_nationkey AS k FROM nation) d ON s.s_nationkey = d.k""",
    "q91_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())""",
    // q92: the 3 planted corrupt lines are gated in-query; the clean
    // rows must be the source table, bit-for-bit
    "q92_jsonl_source" ->
      """SELECT doc_id, lang, source, n_chars FROM documents""",
    "q93_recursive" ->
      """WITH RECURSIVE anc AS (
           SELECT o_orderkey AS start_key, o_orderkey AS node, 0 AS depth
           FROM orders WHERE o_orderkey < 32
           UNION ALL
           SELECT start_key, node // 2 AS node, depth + 1
           FROM anc WHERE node > 1
         )
         SELECT start_key, node, depth FROM anc""",
    // q98: DuckDB unrolls the same three integer-exact rounds — the
    // distributed iterative job must land on identical longs
    "q98_pagerank" ->
      """WITH cnt AS (SELECT count(*) AS n FROM documents),
         e0 AS (
           SELECT doc_id AS src,
             (doc_id * 7 + 1) % (SELECT n FROM cnt) AS dst FROM documents
           UNION ALL
           SELECT doc_id AS src,
             (doc_id * 13 + 5) % (SELECT n FROM cnt) AS dst FROM documents),
         e AS (SELECT src, dst FROM e0 WHERE src <> dst),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
         deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         it0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS pr FROM nodes),
         s1 AS (SELECT e.dst AS node, sum(p.pr // d.deg) AS s
                FROM e JOIN it0 p ON e.src = p.node
                       JOIN deg d ON e.src = d.node GROUP BY 1),
         it1 AS (SELECT nd.node,
                   150000000000 + (85 * coalesce(s1.s, 0)) // 100 AS pr
                 FROM nodes nd LEFT JOIN s1 ON nd.node = s1.node),
         s2 AS (SELECT e.dst AS node, sum(p.pr // d.deg) AS s
                FROM e JOIN it1 p ON e.src = p.node
                       JOIN deg d ON e.src = d.node GROUP BY 1),
         it2 AS (SELECT nd.node,
                   150000000000 + (85 * coalesce(s2.s, 0)) // 100 AS pr
                 FROM nodes nd LEFT JOIN s2 ON nd.node = s2.node),
         s3 AS (SELECT e.dst AS node, sum(p.pr // d.deg) AS s
                FROM e JOIN it2 p ON e.src = p.node
                       JOIN deg d ON e.src = d.node GROUP BY 1),
         it3 AS (SELECT nd.node,
                   150000000000 + (85 * coalesce(s3.s, 0)) // 100 AS pr
                 FROM nodes nd LEFT JOIN s3 ON nd.node = s3.node)
         SELECT node, CAST(pr AS BIGINT) AS pr FROM it3""",
    // q108: the oracle re-derives the degree orientation and the wedge
    // closure with the same relational algebra — counts are integer-
    // exact, so any drift in dedup/orientation/closure breaks the hash
    "q108_triangles" ->
      """WITH cnt AS (SELECT count(*) AS n FROM documents),
         e0 AS (
           SELECT doc_id AS a,
             (doc_id + 1) % (SELECT n FROM cnt) AS b FROM documents
           UNION ALL
           SELECT doc_id, (doc_id + 2) % (SELECT n FROM cnt) FROM documents
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM cnt) FROM documents),
         und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                 FROM e0 WHERE a <> b),
         deg AS (SELECT nd, count(*) AS d FROM
                 (SELECT u AS nd FROM und UNION ALL SELECT v AS nd FROM und)
                 GROUP BY nd),
         o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
                        THEN und.u ELSE und.v END AS s,
                      CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
                        THEN und.v ELSE und.u END AS t
               FROM und JOIN deg du ON und.u = du.nd
                        JOIN deg dv ON und.v = dv.nd),
         tri AS (SELECT o1.s AS a, o1.t AS b, o2.t AS c
                 FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t
                 JOIN und ON und.u = o1.t AND und.v = o2.t)
         SELECT node, CAST(count(*) AS BIGINT) AS n_tri
         FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
         GROUP BY node""",
    // q109: the emitted frame is the cross-table invariant — if either
    // txn leg half-landed (or the crash recovery mis-rolled), the
    // summary would drift from this direct recompute over the source
    "q109_multi_table_txn" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 1""",
    // q110: current state = all orders, version 1 = the even-key half
    "q110_sql_tvf" ->
      """WITH nowa AS (
           SELECT c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n_now,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1),
         v1a AS (
           SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_v1
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_orderkey % 2 = 0
           GROUP BY 1)
         SELECT nowa.segment, v1a.n_v1, nowa.n_now, nowa.revenue
         FROM nowa JOIN v1a ON nowa.segment = v1a.segment""",
    // q137: now = everything minus the MoR-deleted %13 keys; v1 = the
    // CTAS commit (the even-key slice)
    "q137_sql_catalog" ->
      """WITH nowa AS (
           SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_now,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM orders WHERE o_orderkey % 13 <> 0 GROUP BY 1),
         v1a AS (
           SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_v1
           FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1)
         SELECT nowa.o_orderstatus, v1a.n_v1, v1a.n_v1 AS n_ts,
           nowa.n_now, nowa.revenue
         FROM nowa JOIN v1a ON nowa.o_orderstatus = v1a.o_orderstatus""",
    // q138: INSERT OVERWRITE leaves only the l_linenumber=2 slice, plus
    // the one constraint-passing literal row
    "q138_sql_dml" ->
      """WITH live AS (
           SELECT l_returnflag AS flag, CAST(l_quantity AS DOUBLE) AS qty
           FROM lineitem WHERE l_linenumber = 2
           UNION ALL SELECT 'R', 1.5)
         SELECT flag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM live GROUP BY flag""",
    // q140: survivors of the two sequential deletes
    "q140_sql_delete" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders
         WHERE o_orderstatus <> 'F' AND o_totalprice >= 50000
         GROUP BY o_orderstatus""",
    // q141: the streamed sink must equal the whole source table
    "q141_catalog_stream" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY o_orderstatus""",
    // q147: the SQL UPDATE+MERGE replayed relationally — final price:
    // merged-matched keys take src*2, inserted keys take src, untouched
    // odd keys keep the update's F-doubling (all ×2: FP-exact)
    "q147_sql_dml_cdf" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE
             WHEN o_orderkey % 2 = 0 AND o_orderkey % 4 <> 0
               THEN CAST(o_totalprice AS DOUBLE) * 2
             WHEN o_orderkey % 4 = 0 THEN CAST(o_totalprice AS DOUBLE)
             WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DOUBLE) * 2
             ELSE CAST(o_totalprice AS DOUBLE) END
             AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q148: both writes together hold every order row; n_urgent is the
    // partition-pruned equality leg
    "q148_sql_partitioned" ->
      """WITH urgent AS (
           SELECT CAST(count(*) AS BIGINT) AS nu
           FROM orders WHERE o_orderpriority = '1-URGENT')
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           (SELECT nu FROM urgent) AS n_urgent
         FROM orders GROUP BY 1""",
    // q146: the RTAS result is the linenumber-2 slice
    "q146_sql_rtas" ->
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_linenumber = 2 GROUP BY 1""",
    // q153: the feed replayed relationally — inserts at original price,
    // pre/postimages for F rows, delete preimages at current (possibly
    // doubled) price
    "q153_sql_changes" ->
      """WITH src AS (
           SELECT o_orderkey AS k, o_orderstatus AS status,
                  CAST(o_totalprice AS DOUBLE) AS price
           FROM orders),
         changes AS (
           SELECT 'insert' AS change_type, price FROM src
           UNION ALL
           SELECT 'update_preimage', price FROM src WHERE status = 'F'
           UNION ALL
           SELECT 'update_postimage', price * 2 FROM src WHERE status = 'F'
           UNION ALL
           SELECT 'delete',
             CASE WHEN status = 'F' THEN price * 2 ELSE price END
           FROM src WHERE k % 9 = 0)
         SELECT change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM changes GROUP BY 1""",
    // q154: the storage-partitioned join reads the same rows the plain
    // relational join produces — the zero-shuffle plan shape is gated
    // in the query itself
    "q154_spj_join" ->
      """SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS pairs,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))
                  + CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
         FROM customer JOIN supplier ON c_nationkey = s_nationkey
         GROUP BY 1""",
    // q155: the dimension join against the two named priorities is an
    // IN filter relationally; runtime group pruning is gated in-query
    "q155_runtime_prune" ->
      """SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
         GROUP BY 1""",
    // q156: the bucketed storage-partitioned join reads the same rows
    // the relational join produces; the zero-shuffle plan is in-query
    "q156_bucket_join" ->
      """SELECT CAST(c_custkey % 10 AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY 1""",
    // q157: the manifest-only aggregate equals the relational one (the
    // data-dir-moved-aside gate runs in-query)
    "q157_meta_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(min(o_totalprice) AS DOUBLE) AS mn,
           CAST(max(o_totalprice) AS DOUBLE) AS mx,
           min(o_orderpriority) AS first_prio
         FROM orders""",
    // q158: the per-partition metadata rollup equals the relational one
    "q158_partition_rollup" ->
      """SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
           CAST(min(o_totalprice) AS DOUBLE) AS mn,
           CAST(max(o_totalprice) AS DOUBLE) AS mx
         FROM orders GROUP BY 1""",
    "q159_cbo_reorder" ->
      """SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o.o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1""",
    "q161_incr_analyze" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS custs,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q171: expiry and the sweep are invisible to readers of the
    // surviving version — all three slices, one rollup
    "q171_time_retention" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q172: the pruned time-window rollup — pruning, the scoped
    // optimize and the metadata answers must all be invisible
    "q172_ts_skipping" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
           AND ts < TIMESTAMP '2024-01-05 00:00:00'
         GROUP BY 1""",
    // q179: the TAGGED snapshot's rollup (the even half) — history
    // moving on and the aggressive sweep must both be invisible
    "q179_tags" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1""",
    // q178: the mixed-era rollup — the int-era rows plus the widened
    // tail; the ALTER, the sidecar and the pruning must be invisible
    "q178_type_widening" ->
      """SELECT CAST(l_orderkey % 7 AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM (
           SELECT l_orderkey, CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty,
                  CAST(CAST(l_extendedprice AS FLOAT) AS DOUBLE) AS price
           FROM lineitem
           UNION ALL
           SELECT l_orderkey,
                  CAST(CAST(l_quantity AS INT) AS BIGINT) + 5000000000 AS qty,
                  CAST(CAST(l_extendedprice AS FLOAT) AS DOUBLE) AS price
           FROM lineitem WHERE l_orderkey % 100 = 0
         ) GROUP BY 1""",
    // q177: the published table is the full orders set — conf-staged
    // inserts, the SQL publish, the refusals and the junk abort must
    // all be invisible
    "q177_wap_sql" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q175: the enriched-slice rollup — null-count pruning invisible
    "q175_null_skipping" ->
      """SELECT 'C#' || CAST(o_custkey % 100 AS VARCHAR) AS clerk_recent,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '2000-06-01'
         GROUP BY 1""",
    // q176: the prefix rollup — prefix pruning and the scoped optimize
    // must be invisible
    "q176_prefix_skipping" ->
      """SELECT substring(c_mktsegment || '#' || c_custkey, 1, 9) AS seg,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(c_acctbal AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
         FROM customer
         WHERE (c_mktsegment || '#' || c_custkey) LIKE 'MACHINERY#%'
         GROUP BY 1""",
    // q174: the published table is the full orders set — staging,
    // audit, the junk abort and the sweep must all be invisible
    "q174_wap" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q173: the pruned price-band rollup — decimal pruning, the scoped
    // optimize and the metadata answers must all be invisible
    "q173_decimal_skipping" ->
      """SELECT CAST(floor(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) / 1000) AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           CAST(sum(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
         FROM lineitem
         WHERE CAST(l_extendedprice AS DECIMAL(12,2)) >= 30000.00
           AND CAST(l_extendedprice AS DECIMAL(12,2)) < 40000.00
         GROUP BY 1""",
    // q170: the pruned window rollup — pruning must be invisible
    "q170_date_skipping" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders
         WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
         GROUP BY 1""",
    // q169: the worker's dashboard after the post-registration append —
    // answered from the BASE scan (the armed rewrite de-registered
    // itself), so it covers both halves plus the late %10=3 slice
    "q169_mv_fleet" ->
      """SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(price AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM (
           SELECT o_orderstatus AS status, o_totalprice AS price FROM orders
           UNION ALL
           SELECT o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 10 = 3
         ) GROUP BY 1""",
    // q168: evolution, scoped compaction, cloning and retention are all
    // invisible to the dashboard — the rollup of everything inserted
    // (all four quarters plus the late %20=7 slice)
    "q168_maintenance_capstone" ->
      """SELECT prio, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(price AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM (
           SELECT o_orderpriority AS prio, o_totalprice AS price FROM orders
           UNION ALL
           SELECT o_orderpriority, o_totalprice FROM orders
           WHERE o_orderkey % 20 = 7
         ) GROUP BY 1""",
    // q167: the emitted frame is the REWRITTEN dashboard — the oracle
    // checks the rollup-served values against the relational truth
    // q186: the combined truth of all six writers — three rebased
    // operations and their three racing ingests must compose to the
    // same rollup a serial execution produces
    "q186_concurrency_capstone" ->
      """SELECT g, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM (
           SELECT CAST(o_orderkey % 4 AS BIGINT) AS g,
             CASE WHEN o_orderkey % 4 = 1 THEN CAST(o_totalprice AS DOUBLE) * 2
                  WHEN o_orderkey % 4 = 2 AND o_orderkey <= 400
                    THEN -CAST(o_totalprice AS DOUBLE)
                  ELSE CAST(o_totalprice AS DOUBLE) END AS price
           FROM orders
           WHERE NOT (o_orderkey % 4 = 2 AND o_orderkey > 400
                      AND o_orderkey <= 800)
           UNION ALL
           SELECT CAST(t.g AS BIGINT) AS g, CAST(o_totalprice AS DOUBLE) AS price
           FROM orders CROSS JOIN (SELECT 4 AS g UNION ALL SELECT 5
                                   UNION ALL SELECT 6) t
           WHERE o_orderkey % 4 = 0
         ) GROUP BY 1""",
    // q187: the year rollup after every landed writer — the 1996
    // correction (rebased across the constraint), the 1997 shadow
    // append (landed against the delta-revalidated constraint); the
    // refused append and all three races invisible to the truth
    "q187_metadata_conflict" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM (
           SELECT o_orderdate,
                  CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                       THEN CAST(o_totalprice AS DOUBLE) * 2
                       ELSE CAST(o_totalprice AS DOUBLE) END AS price
           FROM orders
           UNION ALL
           SELECT o_orderdate, CAST(o_totalprice AS DOUBLE) AS price
           FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1997
         ) GROUP BY 1""",
    // q183: both interleaved backfills' corrections, by year — the
    // conflict, the rebase and the file reuse must all be invisible
    // to the relational truth
    "q183_concurrent_backfill" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE
                    WHEN year(CAST(o_orderdate AS DATE)) = 1996
                    THEN CAST(o_totalprice AS DOUBLE) * 2
                    WHEN year(CAST(o_orderdate AS DATE)) = 1997
                    THEN CAST(o_totalprice AS DOUBLE) * 3
                    ELSE CAST(o_totalprice AS DOUBLE) END
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q194: the table after the nightly maintenance pass — folding,
    // compaction, reindexing and retention must all be invisible to
    // the relational truth (only the keyed reprice shows)
    "q194_run_maintenance" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN o_orderkey % 7 = 0
                    THEN CAST(o_totalprice AS DOUBLE) * 2.0
                    ELSE CAST(o_totalprice AS DOUBLE) END
             AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q193: the published table after the branch-staged correction —
    // the ref, its ledger commits, the audit read and the one-commit
    // fast-forward must be invisible to the relational truth
    "q193_branch_dml" ->
      """WITH kept AS (
           SELECT o_orderstatus AS status,
                  CASE WHEN o_orderstatus = 'F'
                       THEN CAST(o_totalprice AS DOUBLE) + 10.0
                       ELSE CAST(o_totalprice AS DOUBLE) END AS price
           FROM orders WHERE o_orderkey % 13 <> 0
         ), late AS (
           SELECT 'X' AS status, CAST(o_totalprice AS DOUBLE) * 0.5 AS price
           FROM orders WHERE o_orderkey % 10 = 0
         )
         SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM (SELECT * FROM kept UNION ALL SELECT * FROM late)
         GROUP BY 1""",
    // q192: the maintained join view's rollup = A' ⋈ B' with both MoR
    // deltas applied — declaration, rewrite, de-arm and two-sided
    // incremental REFRESH must be invisible to the relational truth
    "q192_join_mv_sql" ->
      """WITH a AS (
           SELECT CAST(o_orderkey AS BIGINT) AS k,
                  CAST(o_custkey AS BIGINT) AS ck,
                  CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
                       THEN -CAST(o_totalprice AS DOUBLE)
                       ELSE CAST(o_totalprice AS DOUBLE) END AS price
           FROM orders WHERE o_orderkey % 7 <> 0
         ), b AS (
           SELECT CAST(c_custkey AS BIGINT) AS ck,
                  CASE WHEN c_custkey <= 120 AND c_custkey % 11 <> 0
                       THEN 'SEG-X' ELSE c_mktsegment END AS seg
           FROM customer
           WHERE NOT (c_custkey <= 120 AND c_custkey % 11 = 0)
         )
         SELECT seg, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM a JOIN b USING (ck) GROUP BY 1""",
    // q191: the table after the one-version bundle (delete + correction
    // append + F-status update) plus the racing winner's ingest — the
    // txn machinery, the rebase and the replay must be invisible to the
    // relational truth
    "q191_table_txn" ->
      """WITH kept AS (
           SELECT o_orderstatus AS status,
                  CASE WHEN o_orderstatus = 'F'
                       THEN CAST(o_totalprice AS DOUBLE) + 10.0
                       ELSE CAST(o_totalprice AS DOUBLE) END AS price
           FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
         ), corr AS (
           SELECT 'X' AS status, CAST(o_totalprice AS DOUBLE) * 0.5 AS price
           FROM orders WHERE o_orderkey % 10 = 0
         ), win AS (
           SELECT 'W' AS status, CAST(o_totalprice AS DOUBLE) AS price
           FROM orders WHERE o_orderkey % 1000 = 1
         )
         SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM (SELECT * FROM kept UNION ALL SELECT * FROM corr
               UNION ALL SELECT * FROM win)
         GROUP BY 1""",
    // q190: the maintained MV = A' ⋈ B' with both deltas applied — the
    // feeds, the merges and the key-scoped refreshes must be invisible
    // to the relational truth
    "q190_join_mv" ->
      """WITH a AS (
           SELECT CAST(o_orderkey AS BIGINT) AS k,
                  CAST(o_custkey AS BIGINT) AS custkey,
                  CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
                       THEN -CAST(o_totalprice AS DOUBLE)
                       ELSE CAST(o_totalprice AS DOUBLE) END AS price
           FROM orders WHERE o_orderkey % 7 <> 0
         ), b AS (
           SELECT CAST(c_custkey AS BIGINT) AS custkey,
                  CASE WHEN c_custkey <= 120 AND c_custkey % 11 <> 0
                       THEN 'SEG-X' ELSE c_mktsegment END AS segment
           FROM customer
           WHERE NOT (c_custkey <= 120 AND c_custkey % 11 = 0)
         )
         SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM a JOIN b USING (custkey) GROUP BY 1""",
    // q189: the table after the two retention deletes — everything on
    // or after 1994-07-01; the metadata-only drops, the straddling
    // rewrite, and the untouched carries must be invisible to the truth
    "q189_partition_delete" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4)))
             AS DOUBLE) AS revenue
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1997-07-01'
         GROUP BY 1""",
    // q188: the published table = the F slice (fork point) + O + P +
    // the high-value-F correction batch; both doors and the branch-clock
    // reads must be invisible to the relational truth
    "q188_branch_doors" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4)))
             AS DOUBLE) AS revenue
         FROM (
           SELECT o_orderstatus, o_totalprice FROM orders
           UNION ALL
           SELECT o_orderstatus, o_totalprice FROM orders
           WHERE o_orderstatus = 'F' AND CAST(o_totalprice AS DOUBLE) > 150000
         ) GROUP BY 1""",
    // q184: the fast-forwarded table is simply all of orders — the
    // branch lifecycle must be invisible to the published rollup
    "q184_branch_backfill" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4)))
             AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q182: the tagged release — full orders with 1996 doubled; the
    // wap, the widen, the backfill, the churn and the sweep must all
    // be invisible to the pinned name
    "q182_release_capstone" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_orderkey % 50 AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(sum(CAST(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                    THEN CAST(o_totalprice AS DOUBLE) * 2
                    ELSE CAST(o_totalprice AS DOUBLE) END
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q181: the backfilled table — 1996 doubled, everything else
    // untouched; both doors and the refusal must be invisible
    "q181_replace_where" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                    THEN CAST(o_totalprice AS DOUBLE) * 2
                    ELSE CAST(o_totalprice AS DOUBLE) END
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q180: the dashboard after the price-cap delete — the rewrite, both
    // refresh modes and the min/max fold must all be invisible
    "q180_mv_minmax" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           min(CAST(o_totalprice AS DOUBLE)) AS cheapest,
           max(CAST(o_totalprice AS DOUBLE)) AS priciest
         FROM orders WHERE CAST(o_totalprice AS DOUBLE) < 400000.0
         GROUP BY 1""",
    "q167_sql_mv" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN o_orderstatus = 'F'
                    THEN CAST(o_totalprice AS DOUBLE) * 2
                    ELSE CAST(o_totalprice AS DOUBLE) END
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q166: the evolved layout and the OPTIMIZE re-cluster are invisible
    // to readers — both batches, one rollup
    "q166_partition_evolution" ->
      """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q164: the skew split is runtime-physical only — the oracle is the
    // plain join
    "q164_aqe_skew_join" ->
      """WITH fact AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 10 < 8 THEN 0
                       ELSE o_orderkey % 64 END AS h,
                  CAST(o_totalprice AS DOUBLE) AS price
           FROM orders),
         dim AS (
           SELECT h, CAST(h % 4 AS VARCHAR) AS grp FROM (
             SELECT DISTINCT o_orderkey % 64 AS h FROM orders))
         SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM fact JOIN dim USING (h) GROUP BY grp""",
    // q165: the bloom probe only drops non-matching rows — the oracle
    // is the plain selective join
    "q165_runtime_filter" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size = 1 GROUP BY p_brand""",
    // q163: the join result is order-independent — the oracle replays
    // the three derived tables relationally
    "q163_histogram_reorder" ->
      """WITH fact AS (
           SELECT o_orderkey AS k,
                  CASE WHEN o_orderkey % 3 = 0 THEN 5 ELSE o_orderkey END AS h
           FROM orders),
         dim_a AS (
           SELECT CASE WHEN c_custkey % 5 > 0 THEN 5
                       ELSE 1000000 + c_custkey END AS h, c_acctbal
           FROM customer),
         dim_b AS (
           SELECT o_orderkey AS k, o_orderstatus AS status
           FROM orders WHERE o_orderkey % 4 = 0)
         SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
         FROM fact f
         JOIN dim_a a ON f.h = a.h
         JOIN dim_b b ON f.k = b.k
         GROUP BY status""",
    // q162: compaction scoped to one partition is invisible to readers
    "q162_optimize_where" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q160: the UPDATE doubles every 5th key (×2 on DOUBLE is FP-exact)
    "q160_table_codec" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN o_orderkey % 5 = 0
                    THEN CAST(o_totalprice AS DOUBLE) * 2
                    ELSE CAST(o_totalprice AS DOUBLE) END
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q152: both epochs hold every order row; the MERGE doubled every
    // 5th key (×2 on DOUBLE is FP-exact); rename/OPTIMIZE/VACUUM must
    // be invisible to readers
    "q152_lakehouse_capstone" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_orderpriority AS grp,
             CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_totalprice AS DOUBLE) * 2
                  ELSE CAST(o_totalprice AS DOUBLE) END AS quantity
           FROM orders),
         urgent AS (
           SELECT CAST(count(*) AS BIGINT) AS nu FROM base
           WHERE grp = '1-URGENT')
         SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(quantity AS DECIMAL(18,4))) AS DOUBLE) AS total,
           (SELECT nu FROM urgent) AS n_urgent
         FROM base GROUP BY 1""",
    // q151: lines 1 (insert) + 2 (merge); gross = qty*price is computed
    // by the write (products of decimal(15,2)-scale values have ≤4
    // decimal digits, so the DECIMAL(28,4) cast is drift-free)
    "q151_sql_ddl_contract" ->
      """WITH t AS (
           SELECT l_orderkey * 10 + l_linenumber AS id,
             CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS gross
           FROM lineitem WHERE l_linenumber <= 2)
         SELECT CAST(id % 7 AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(gross AS DECIMAL(28,4))) AS DOUBLE) AS gross_sum
         FROM t GROUP BY 1""",
    // q150: DELETE hid every 7th key; OPTIMIZE/VACUUM must not change rows
    "q150_sql_maintenance" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY 1""",
    // q149: CTAS loaded lines 1-3, the post-rename INSERT added 4-5
    "q149_column_mapping" ->
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_linenumber <= 5 GROUP BY 1""",
    // q145: the natively-streamed sink must equal the whole source table
    "q145_stream_totable" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY o_orderstatus""",
    // q142: both UPDATEs replayed relationally (×2 is FP-exact)
    "q142_sql_update" ->
      """SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN o_orderstatus = 'F'
                  THEN CAST(o_totalprice AS DOUBLE) * 2
                  ELSE CAST(o_totalprice AS DOUBLE) END AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q143: the MERGE reconstructed as update/delete/insert slices
    "q143_sql_merge" ->
      """WITH t0 AS (SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
                     FROM customer WHERE c_custkey % 3 <> 0),
              s AS (SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
                    FROM customer WHERE c_custkey % 2 = 0),
              merged AS (
                SELECT t0.k AS k,
                       CASE WHEN s.k IS NOT NULL THEN s.bal * 2 ELSE t0.bal END AS bal,
                       CASE WHEN s.k IS NOT NULL AND s.bal < 0 THEN 1 ELSE 0 END AS del
                FROM t0 LEFT JOIN s ON t0.k = s.k
                UNION ALL
                SELECT s.k, s.bal, 0 FROM s LEFT JOIN t0 ON s.k = t0.k
                WHERE t0.k IS NULL)
         SELECT k % 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM merged WHERE del = 0 GROUP BY 1""",
    // q144: the backfilled category recomputed from the raw table
    "q144_sql_alter" ->
      """SELECT CASE WHEN CAST(p_retailprice AS DOUBLE) >= 950.0
                THEN 'hi' ELSE 'lo' END AS category,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM part GROUP BY 1""",
    // q139: only orders keys on the %37 lattice survive the MoR delete
    "q139_sql_stats_join" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderkey % 37 = 0
         GROUP BY l_returnflag""",
    // q118: the replica must land on the rule sets' final state
    // (merge rules + the appended slice)
    "q118_cdc_replica" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                       FROM orders),
         surv AS (SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice
           FROM base WHERE o_orderkey % 13 <> 0),
         ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
                   o_totalprice FROM base WHERE o_orderkey % 11 = 3),
         app AS (SELECT o_orderkey + 20000000 AS o_orderkey, o_orderstatus,
                   o_totalprice FROM base WHERE o_orderkey % 11 = 7)
         SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
         FROM (SELECT * FROM surv UNION ALL SELECT * FROM ins
               UNION ALL SELECT * FROM app)""",
    // q117: the summary feed keyed by paired commit version — txn 1
    // landed the %3==0 slice as version 1 on both tables, txn 2 the
    // %3==1 slice as version 2
    "q117_txn_cdf" ->
      """SELECT CAST(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 2 END
             AS BIGINT) AS _commit_version,
           o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders WHERE o_orderkey % 3 IN (0, 1)
         GROUP BY 1, 2""",
    // q116: v1 + the feed must land on the rule sets' final state
    "q116_mor_cdf" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                       FROM orders),
         surv AS (SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice
           FROM base WHERE o_orderkey % 13 <> 0),
         ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
                   o_totalprice
                 FROM base WHERE o_orderkey % 11 = 3)
         SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
         FROM (SELECT * FROM surv UNION ALL SELECT * FROM ins)""",
    // q115: every order key joins its segment exactly once across the
    // streamed batches
    "q115_stream_static_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    // q114: the stream-folded MV must equal the aggregate of the final
    // state the rule sets produce
    "q114_stream_cdf_mv" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                       FROM orders),
         surv AS (SELECT o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS p
           FROM base WHERE o_orderkey % 13 <> 0),
         ins AS (SELECT o_orderstatus, o_totalprice AS p FROM base
                 WHERE o_orderkey % 11 = 3),
         app AS (SELECT o_orderstatus, o_totalprice AS p FROM base
                 WHERE o_orderkey % 11 = 7),
         allr AS (SELECT * FROM surv UNION ALL SELECT * FROM ins
                  UNION ALL SELECT * FROM app)
         SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS sum_o_totalprice
         FROM allr GROUP BY 1""",
    // q120: the full episode history is deterministic from the three
    // commits' rule sets — v1 opens every customer (closed at 2 when
    // v2 updates %7 keys or deletes %13 keys), v2 opens the updated
    // episodes and the +10M inserts, v3 the +20M appends
    "q120_cdc_scd2" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         v1 AS (SELECT c_custkey, c_name, c_acctbal,
                  CAST(1 AS BIGINT) AS valid_from,
                  CASE WHEN c_custkey % 13 = 0 OR c_custkey % 7 = 0
                       THEN CAST(2 AS BIGINT)
                       ELSE CAST(NULL AS BIGINT) END AS valid_to
                FROM base),
         v2new AS (SELECT c_custkey, upper(c_name) AS c_name,
                     c_acctbal + 1000.0 AS c_acctbal,
                     CAST(2 AS BIGINT) AS valid_from,
                     CAST(NULL AS BIGINT) AS valid_to
                   FROM base
                   WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0),
         v2ins AS (SELECT c_custkey + 10000000 AS c_custkey, c_name,
                     c_acctbal, CAST(2 AS BIGINT) AS valid_from,
                     CAST(NULL AS BIGINT) AS valid_to
                   FROM base WHERE c_custkey % 11 = 3),
         v3app AS (SELECT c_custkey + 20000000 AS c_custkey, c_name,
                     c_acctbal, CAST(3 AS BIGINT) AS valid_from,
                     CAST(NULL AS BIGINT) AS valid_to
                   FROM base WHERE c_custkey % 11 = 7)
         SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           valid_from, valid_to, (valid_to IS NULL) AS is_current
         FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2new
               UNION ALL SELECT * FROM v2ins
               UNION ALL SELECT * FROM v3app)""",
    // q113: the reconstruction-from-the-feed must land on the table the
    // three commits produced — the oracle recomputes that state from the
    // source rule sets directly
    "q113_stream_cdf" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         surv AS (SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN upper(c_name)
                  ELSE c_name END AS c_name,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1000.0
                  ELSE c_acctbal END AS c_acctbal
           FROM base WHERE c_custkey % 13 <> 0),
         ins AS (SELECT c_custkey + 10000000 AS c_custkey, c_name, c_acctbal
                 FROM base WHERE c_custkey % 11 = 3),
         app AS (SELECT c_custkey + 20000000 AS c_custkey, c_name, c_acctbal
                 FROM base WHERE c_custkey % 11 = 7)
         SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
         FROM (SELECT * FROM surv UNION ALL SELECT * FROM ins
               UNION ALL SELECT * FROM app)""",
    // q119: same contract as q111 on the XML leg — parse drift of any
    // kind (escaping, types, row loss) breaks the hash
    "q119_xml_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
         FROM documents GROUP BY lang""",
    // q111: the aggregate runs over the avro-parsed corpus; the oracle
    // recomputes from the source table — any parse drift (types, nulls,
    // row loss) breaks the hash
    "q111_avro_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
         FROM documents GROUP BY lang""",
    // q112: the sink accumulated exactly one copy of every commit's
    // rows, so it re-aggregates to the source table
    "q112_table_stream" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1""",
    // q97: the variant path may only change the ENCODING of the payload
    // (gated in-query: the column is VariantType) — typed extraction
    // must recover the source values exactly
    "q97_variant" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS prio,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1, 2""",
    "q94_unpivot" ->
      """SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value
         FROM customer
         UNION ALL
         SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS DOUBLE)
         FROM customer""",
    // q95: the bit-for-bit roundtrip is gated in-query; the oracle
    // checks the emitted content digest against the source table
    "q95_csv_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
         FROM documents""",
    "q84_resample" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, value,
             epoch_ns(ts) // 86400000000000 AS day, epoch_ns(ts) AS tsn
           FROM events),
         lastt AS (
           SELECT user_id, day, event_type AS day_last_type FROM (
             SELECT user_id, day, event_type,
               row_number() OVER (PARTITION BY user_id, day
                                  ORDER BY tsn DESC, event_id DESC) AS rn
             FROM e) WHERE rn = 1),
         pd AS (
           SELECT user_id, day, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
           FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                  FROM pd GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
                  FROM span),
         j AS (
           SELECT g.user_id, g.day,
             coalesce(pd.n, 0) AS n_events,
             coalesce(pd.v, 0.0) AS day_value,
             lastt.day_last_type
           FROM grid g
           LEFT JOIN pd ON g.user_id = pd.user_id AND g.day = pd.day
           LEFT JOIN lastt ON g.user_id = lastt.user_id AND g.day = lastt.day)
         SELECT user_id, day, n_events, day_value,
           last_value(day_last_type IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS last_type
         FROM j""",
    "q85_rolling" ->
      """WITH e AS (
           SELECT user_id, value, epoch_ns(ts) // 86400000000000 AS day
           FROM events),
         pd AS (
           SELECT user_id, day, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
           FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                  FROM pd GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
                  FROM span),
         dense AS (
           SELECT g.user_id, g.day,
             coalesce(pd.n, 0) AS n_events,
             coalesce(pd.v, 0.0) AS day_value
           FROM grid g
           LEFT JOIN pd ON g.user_id = pd.user_id AND g.day = pd.day)
         SELECT user_id, day, n_events,
           CAST(sum(n_events) OVER w AS BIGINT) AS n_7d,
           CAST(sum(CAST(day_value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS v_7d
         FROM dense
         WINDOW w AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    // q86: the end-of-day probe resolves to the LATEST state episode at
    // or before it (ties on valid_from break by max state — the as-of
    // join's carried-struct rule, mirrored in the ORDER BY)
    "q86_scd2_snapshot" ->
      """WITH e AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev,
             epoch_ns(ts) // 86400000000000 AS day
           FROM events),
         st AS (SELECT user_id, event_type AS state, ts_us AS valid_from_us
                FROM e WHERE prev IS NULL OR prev <> event_type),
         span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                  FROM e GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
                  FROM span),
         probe AS (SELECT user_id, day,
             (day + 1) * 86400000000 - 1 AS p_us FROM grid),
         j AS (
           SELECT p.user_id, p.day, s.state, s.valid_from_us,
             row_number() OVER (PARTITION BY p.user_id, p.day
               ORDER BY s.valid_from_us DESC, s.state DESC) AS rn
           FROM probe p JOIN st s ON p.user_id = s.user_id
             AND s.valid_from_us <= p.p_us)
         SELECT user_id, day, state, valid_from_us AS since_us
         FROM j WHERE rn = 1""",
    // q61: the same merge's change feed — adds/removes from the rule
    // sets, changes with per-column attribution (CASE→NULL rows drop out
    // of concat_ws exactly like the Spark when() without otherwise)
    "q61_table_cdf" ->
      """SELECT c_custkey + 10000000 AS c_custkey, 'added' AS change_type,
                '' AS changed_cols
         FROM customer WHERE c_custkey % 11 = 3
         UNION ALL
         SELECT c_custkey, 'removed' AS change_type, '' AS changed_cols
         FROM customer WHERE c_custkey % 13 = 0
         UNION ALL
         SELECT c_custkey, 'changed' AS change_type,
           concat_ws(',',
             CASE WHEN upper(c_name) <> c_name THEN 'c_name' END,
             CASE WHEN c_acctbal + 1000.0 <> c_acctbal THEN 'c_acctbal' END)
             AS changed_cols
         FROM customer
         WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
           AND (upper(c_name) <> c_name OR c_acctbal + 1000.0 <> c_acctbal)""",
    "q58_time_travel" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_orderstatus""",
    // q65: the synced table recomputed — day-2 window rows carry the
    // update where it applied, day-1-only rows keep original values
    "q65_sync_to_table" ->
      """SELECT c_custkey,
         CASE WHEN c_custkey BETWEEN 600 AND 1500 AND c_custkey % 9 = 0
              THEN upper(c_name) ELSE c_name END AS c_name,
         c_nationkey,
         CASE WHEN c_custkey BETWEEN 600 AND 1500 AND c_custkey % 9 = 0
              THEN c_acctbal + 500.0 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
         FROM customer WHERE c_custkey BETWEEN 1 AND 1500""",
    "q66_partition_prune" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-05'
         GROUP BY event_type""",
    "q70_data_skipping" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders WHERE o_orderkey BETWEEN 1000 AND 4000
         GROUP BY o_orderpriority""",
    // q71: the q60-merged table, aggregated — the MV the incremental
    // refresh must land on exactly
    "q71_incr_mv" ->
      """WITH merged AS (
           SELECT c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
           UNION ALL
           SELECT c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
           UNION ALL
           SELECT c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 11 = 3)
         SELECT c_mktsegment, count(*) AS n_cust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
         FROM merged GROUP BY c_mktsegment""",
    // q96: the streamed, batch-at-a-time-maintained rollup must equal
    // the aggregate of the fully merged table — q71's oracle verbatim
    "q96_stream_mv" ->
      """WITH merged AS (
           SELECT c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
           UNION ALL
           SELECT c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
           UNION ALL
           SELECT c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 11 = 3)
         SELECT c_mktsegment, count(*) AS n_cust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
         FROM merged GROUP BY c_mktsegment""",
    // q72: identical semantics to q60 — the streaming path must land on
    // the same merged table
    "q72_stream_merge" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, upper(c_name) AS c_name, c_nationkey,
                c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
         UNION ALL
         SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
                c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 11 = 3""",
    // q77: three key-disjoint micro-batch MoR merges ≡ the single q60
    // merge — same oracle; batch count, zero-rewrite, and replay
    // idempotence are asserted by the in-query gate
    "q77_stream_multibatch" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, upper(c_name) AS c_name, c_nationkey,
                c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
         UNION ALL
         SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
                c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 11 = 3""",
    "q73_sketches" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
         round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
         count(*) AS n_orders
         FROM orders GROUP BY o_orderpriority""",
    "q74_zorder" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders
         WHERE o_custkey BETWEEN 100 AND 500 AND o_totalprice <= 20000
         GROUP BY o_orderpriority""",
    "q75_schema_evolution" ->
      """SELECT CASE WHEN c_custkey <= 700 THEN 'legacy' ELSE c_mktsegment END
           AS segment,
         count(*) AS n_cust,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
         FROM customer WHERE c_custkey <= 1400
         GROUP BY 1""",
    "q64_orc_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer
         WHERE c_mktsegment = 'MACHINERY' AND c_custkey BETWEEN 100 AND 1100""",
    // q69: Spark's session merge rule is "merge only when next < end",
    // so a gap of exactly 30min starts a new session (>= in the oracle);
    // event_time is ts truncated to micros
    "q69_stream_session_window" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, epoch_ns(ts) // 1000 AS us,
             CAST(value AS DECIMAL(18,4)) AS v FROM events),
         g AS (
           SELECT user_id, event_id, ts, us, v,
             CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, us, v,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT min(us) AS start_us, max(us) + 1800000000 AS end_us, user_id,
           count(*) AS n_events, round(CAST(sum(v) AS DOUBLE), 4) AS sum_value
         FROM s GROUP BY user_id, sid""",
    "q63_stream_push" ->
      """SELECT event_id, user_id, c_name AS resource_name,
         c_mktsegment AS segment, event_type
         FROM events JOIN customer ON user_id = c_custkey
         WHERE c_acctbal > 0""",
    "q56_stream_table" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type""",
    "q36_cursor_source" ->
      """SELECT lang, source, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents WHERE doc_id BETWEEN 100 AND 399 AND lang <> 'zh'
         GROUP BY lang, source""",
    "q38_jdbc_pull" ->
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment
         FROM customer
         WHERE c_mktsegment = 'BUILDING' AND c_custkey BETWEEN 200 AND 900""",
    "q42_rest_pull" ->
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment
         FROM customer
         WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey BETWEEN 150 AND 1200""",
    "q67_rest_sync" ->
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment
         FROM customer
         WHERE c_mktsegment = 'FURNITURE' AND c_custkey BETWEEN 50 AND 1000
           AND c_nationkey IN (0, 1, 2, 3, 4, 5, 6, 7)""",
    // q185: exactly one copy of the pushed slice survives the forced
    // lost-ack retries — duplicates (the keyless control's outcome)
    // would break rows and hash
    "q185_push_idempotent" ->
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment
         FROM customer
         WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 600""",
    "q45_incremental" ->
      """WITH f AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
           WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
         m AS (SELECT max(c_custkey) AS adv FROM f WHERE c_custkey BETWEEN 1 AND 700)
         SELECT c_custkey, c_name, c_mktsegment, 1 AS pull_seq
         FROM f WHERE c_custkey BETWEEN 1 AND 700
         UNION ALL
         SELECT f.c_custkey, f.c_name, f.c_mktsegment, 2 AS pull_seq
         FROM f, m WHERE f.c_custkey >= m.adv AND f.c_custkey <= 1400""",
    // q48: the origin only has customers with c_custkey % 3 != 0; events
    // whose resource is missing drop from the inner join (skipped_missing)
    "q48_rest_push_events" ->
      """SELECT event_id, user_id, c_name AS resource_name,
         c_acctbal AS acctbal, event_type
         FROM events JOIN customer ON user_id = c_custkey
         WHERE c_custkey % 3 <> 0 AND c_acctbal > 0""",
    "q46_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events""",
    // q80: duplicates arriving in a later micro-batch must still drop —
    // the result is batch DISTINCT, q46's oracle verbatim
    "q80_stream_dedup_multibatch" ->
      """SELECT DISTINCT user_id, event_type FROM events""",
    "q47_stream_sessions" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, epoch_ms(ts) AS ms FROM events),
         g AS (
           SELECT user_id, event_id, ts, ms,
             CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ms,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM g),
         agg AS (
           SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
             min(ms) AS session_start_ms, max(ms) AS session_end_ms
           FROM s GROUP BY user_id, session_id)
         SELECT user_id, session_id, n_events, session_start_ms, session_end_ms
         FROM agg
         WHERE session_id < (SELECT max(a2.session_id) FROM agg a2
                             WHERE a2.user_id = agg.user_id)""",
    // q79: sessions folded across two micro-batches must equal the
    // single-batch closed set — q47's oracle verbatim
    "q79_stream_sessions_multibatch" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, epoch_ms(ts) AS ms FROM events),
         g AS (
           SELECT user_id, event_id, ts, ms,
             CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ms,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM g),
         agg AS (
           SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
             min(ms) AS session_start_ms, max(ms) AS session_end_ms
           FROM s GROUP BY user_id, session_id)
         SELECT user_id, session_id, n_events, session_start_ms, session_end_ms
         FROM agg
         WHERE session_id < (SELECT max(a2.session_id) FROM agg a2
                             WHERE a2.user_id = agg.user_id)""",
    "q44_stream_agg" ->
      """SELECT CAST(floor(epoch_us(ts) / 86400000000) * 86400000000 AS BIGINT) AS window_start_us,
         event_type, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    // q78: three micro-batches of the same windows must merge to the
    // identical batch aggregation — q44's oracle verbatim
    "q78_stream_agg_multibatch" ->
      """SELECT CAST(floor(epoch_us(ts) / 86400000000) * 86400000000 AS BIGINT) AS window_start_us,
         event_type, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    // q81: the late clones must be DROPPED by the watermark and the
    // sentinel's window must never close — append output over the staged
    // two-batch feed equals the batch groupBy on the original table
    "q81_stream_late_drop" ->
      """SELECT CAST(floor(epoch_us(ts) / 86400000000) * 86400000000 AS BIGINT) AS window_start_us,
         event_type, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q39_scd2" ->
      """WITH e AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
           FROM events),
         c AS (
           SELECT user_id, event_type AS state, ts_us AS valid_from_us, event_id
           FROM e WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, state, valid_from_us, event_id,
           lead(valid_from_us) OVER w AS valid_to_us,
           lead(valid_from_us) OVER w IS NULL AS is_current
         FROM c
         WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_us, event_id)""",
    "q40_stratified" ->
      """WITH j AS (
           SELECT o_orderkey, c_mktsegment AS segment, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey),
         n AS (SELECT segment, count(*) AS ns FROM j GROUP BY segment)
         SELECT segment, count(*) AS n_sampled, min(o_orderkey) AS min_key,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM j JOIN n USING (segment)
         WHERE (o_orderkey * 2654435761) % 4294967296 % 1000000
               < (1000 * 1000000) // ns
         GROUP BY segment""",
    "q13_star_join" ->
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM region JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name""",
    "q14_window" ->
      """SELECT o_custkey, o_orderkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders""",
    "q15_topk" ->
      """SELECT segment, o_orderkey, o_totalprice, rk FROM (
         SELECT c_mktsegment AS segment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rk
         FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rk <= 3""",
    "q16_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, epoch_ms(ts) AS ms FROM events),
         g AS (
           SELECT user_id, event_id, ts, ms,
             CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ms,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM g)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
           min(ms) AS session_start_ms, max(ms) AS session_end_ms
         FROM s GROUP BY user_id, session_id""",
    "q17_asof_join" ->
      """WITH u AS (
           SELECT user_id AS k, epoch_ns(ts) AS t, event_id, CAST(NULL AS BIGINT) AS okey, 1 AS is_event FROM events
           UNION ALL
           SELECT o_custkey, epoch_ns(o_orderdate), CAST(NULL AS BIGINT), o_orderkey, 0 FROM orders),
         w AS (
           SELECT k, t, event_id, is_event,
             last_value(okey IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, is_event, coalesce(okey, -1)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_orderkey
           FROM u)
         SELECT event_id, k AS user_id, asof_orderkey FROM w WHERE is_event = 1""",
    "q20_salted_agg" ->
      """SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent,
         count(*) AS n_orders
         FROM orders GROUP BY o_custkey""",
    "q19_topk_native" ->
      """SELECT segment, o_orderkey, o_totalprice FROM (
         SELECT c_mktsegment AS segment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rk
         FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rk <= 3""",
    "q18_pull_pipeline" ->
      """SELECT o_orderkey AS id, o_orderstatus AS status, o_totalprice AS total,
         CAST(o_orderdate AS DATE) AS order_date
         FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderstatus = 'O' AND o_totalprice > 50000"""
  )
}
