package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-level COLUMN statistics for cost-based planning — the
  * `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` surface.
  *
  * One distributed aggregation pass computes, per analyzed column:
  * approximate NDV (HyperLogLog++ via `approx_count_distinct` — Spark's
  * codegen'd sketch, mergeable map-side, one shuffle of sketch bytes),
  * null count, min/max for numeric types, and avg/max byte length for
  * strings. The result lands as a `_colstats.json` sidecar stamped with
  * the version analyzed — ADVISORY metadata, not a table commit: stats
  * inform the optimizer, they never gate correctness, so refreshing
  * them must not create a version streams would have to skip (the same
  * reason Spark's own ANALYZE updates the catalog, not the data).
  *
  * The scan surfaces them through DSv2 `Statistics.columnStats()`
  * ([[GraftScan.estimateStatistics]]): with `spark.sql.cbo.enabled`
  * Spark's FilterEstimation shrinks scan cardinalities by NDV/min/max
  * and CostBasedJoinReorder re-orders multi-way joins — the decisions
  * that pick the right build side at 100 TB, where a wrong join order
  * is the difference between a broadcast and a petabyte shuffle.
  *
  * At 100 TB the ANALYZE pass itself is one map-side-combined sketch
  * aggregation (no row shuffle — only fixed-size sketch buffers move),
  * the same shape Spark's own ANALYZE runs.
  */
object ColumnStats {

  private[sources] val StatsFile = "_colstats.json"

  case class HBin(lo: Double, hi: Double, ndv: Long)

  case class ColStat(distinct: Long, nulls: Long,
      min: Option[String], max: Option[String],
      avgLen: Option[Long], maxLen: Option[Long],
      histHeight: Option[Double] = None,
      histBins: Option[Seq[HBin]] = None,
      // the column's HLL sketch (base64, DataSketches layout — what
      // Spark's hll_sketch_agg emits) — the mergeable state behind
      // INCREMENTAL NDV refresh
      sketch: Option[String] = None,
      // the files THIS column's sketch covers, when they differ from
      // the table-level default ([[TableStats.covered]]): a FOR COLUMNS
      // subset pass widens the table set without rescanning kept
      // columns, and a later incremental run on a kept column must
      // still see ITS OWN (narrower) coverage or it would serve stale
      // NDV forever
      covered: Option[Seq[String]] = None)

  case class TableStats(version: Long, rows: Long,
      cols: Map[String, ColStat],
      // data files the stats pass ran over — the DEFAULT coverage for
      // every column whose ColStat.covered is None; a later FOR COLUMNS
      // run rescans ONLY files outside the column's coverage and MERGES
      covered: Seq[String] = Seq.empty)

  /** The files a column's sketch actually covers: its own override,
    * else the table-level set. */
  private def coverageOf(ts: TableStats, n: String): Seq[String] =
    ts.cols.get(n).flatMap(_.covered).getOrElse(ts.covered)

  /** Re-base a kept (not re-analyzed) column onto a new table-level
    * coverage: keep None when its coverage equals the new default,
    * pin the old set otherwise. */
  private def rebased(cs: ColStat, oldCoverage: Seq[String],
      newDefault: Seq[String]): ColStat =
    if (oldCoverage.sorted == newDefault.sorted) cs.copy(covered = None)
    else cs.copy(covered = Some(oldCoverage))

  private def numeric(dt: DataType): Boolean = dt match {
    case ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  }

  /** Columns ANALYZE accepts: top-level atomic types (nested/array/map
    * columns carry no planner-usable scalar stats). */
  def analyzableColumns(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if numeric(f.dataType) || f.dataType == StringType ||
        f.dataType == BooleanType || f.dataType == DateType ||
        f.dataType.isInstanceOf[DecimalType] => f.name
    }.toSeq

  /** INCREMENTAL refresh from manifest metadata alone — the row-count
    * form of ANALYZE after appends: live rows from the manifest's
    * recorded per-file rows (− delete keys), and each tracked numeric/
    * date column's min/max folded from the per-file stats every commit
    * already harvested. ZERO Spark jobs, O(manifest parse) — at 100 TB
    * a post-append stats refresh costs nothing, and only NDV (which
    * needs the sketch pass) ages until the next FOR COLUMNS run. None
    * when the manifest lacks complete row counts (legacy snapshots). */
  private def refreshFromManifest(path: String): Option[TableStats] = {
    val m = ManifestTable.snapshotAt(path, None).getOrElse(return None)
    if (!(m.files ++ m.deletes.map(_._1)).forall(m.rows.contains)) return None
    val liveRows = math.max(0L, m.files.map(m.rows).sum -
      m.deletes.map { case (f, _) => m.rows(f) }.sum)
    val prevStats = load(path)
    val prev = prevStats.map(_.cols).getOrElse(Map.empty)
    // numeric-or-date bound ordering; None = unorderable (keep old bound)
    def key(s: String): Option[BigDecimal] =
      scala.util.Try(BigDecimal(s)).toOption.orElse(
        scala.util.Try(BigDecimal(
          java.time.LocalDate.parse(s).toEpochDay)).toOption)
    def fold(phys: String, wantMin: Boolean): Option[String] = {
      if (m.files.isEmpty) return None
      val vals = m.files.map { f =>
        m.stats.getOrElse(f, Map.empty).get(phys) match {
          case Some(cs) =>
            val raw = if (wantMin) cs.min else cs.max
            key(raw).map(raw -> _).getOrElse(return None)
          case None => return None // stat-less file: keep the old bound
        }
      }
      Some(vals.reduce((a, b) =>
        if ((a._2 <= b._2) == wantMin) a else b)._1)
    }
    val cols = prev.flatMap { case (n, cs) =>
      // manifest stats are keyed by PHYSICAL names (column mapping)
      val phys = m.renames.getOrElse(n, n)
      if (m.droppedCols.contains(phys)) None
      else Some(n -> (if (cs.min.isEmpty || cs.max.isEmpty) cs
      else cs.copy(
        min = fold(phys, wantMin = true).orElse(cs.min),
        max = fold(phys, wantMin = false).orElse(cs.max))))
    }
    // the metadata refresh reads no data, so the SKETCH state (and the
    // file set it covered) must survive for the next incremental pass
    val stats = TableStats(m.version, liveRows, cols,
      covered = prevStats.map(_.covered).getOrElse(Seq.empty))
    write(path, stats)
    Some(stats)
  }

  /** INCREMENTAL `FOR COLUMNS`: when the sidecar carries each requested
    * column's HLL sketch and the files it covered are all still live,
    * rescan ONLY the files appended since, merge sketches
    * (DataSketches union — the format `hll_sketch_agg` emits), and fold
    * counts/bounds/lengths. Cost is O(new data): at 100 TB a nightly
    * stats refresh after an append touches the append, not the table.
    * Bails to the full pass (None) on anything non-append-only —
    * deletes, overwrites, compaction, column mapping, histograms. */
  private def tryIncremental(spark: SparkSession, path: String,
      colNames: Seq[String], histEnabled: Boolean): Option[TableStats] = {
    if (histEnabled) return None
    val prev = load(path).getOrElse(return None)
    val prevCols = colNames.map(n => prev.cols.get(n) match {
      case Some(cs) if cs.sketch.isDefined && cs.histBins.isEmpty => n -> cs
      case _ => return None
    }).toMap
    // every requested column must cover the SAME file set (its own,
    // not the table default — a later subset pass may have widened the
    // table set past what this column's sketch saw) so one new-file
    // scan serves them all; mixed coverages bail to the full pass
    val coverages = colNames.map(n => coverageOf(prev, n).sorted).distinct
    if (coverages.size != 1 || coverages.head.isEmpty) return None
    val covered = coverages.head
    val m = ManifestTable.snapshotAt(path, None).getOrElse(return None)
    if (m.deletes.nonEmpty || m.renames.nonEmpty || m.droppedCols.nonEmpty)
      return None
    if (!m.files.forall(m.rows.contains)) return None
    val live = m.files.toSet
    if (!covered.forall(live)) return None // rewritten/vacuumed → full
    val newFiles = m.files.filterNot(covered.toSet)
    val totalRows = m.files.map(m.rows).sum
    if (newFiles.isEmpty) {
      val stats = prev.copy(version = m.version, rows = totalRows)
      write(path, stats); return Some(stats)
    }
    // schema from the NEW files only — the whole point is that nothing
    // else gets touched (old files may be archived cold by now)
    val df = ManifestTable.footerFrame(spark, path, newFiles)
    val schema = df.schema
    colNames.foreach(n =>
      if (!schema.fieldNames.contains(n)) return None)
    val byName = schema.fields.map(f => f.name -> f).toMap
    val aggs = count(lit(1)).as("__rows") +: colNames.flatMap { n =>
      statAggs(n, byName(n).dataType)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val newRows = row.getAs[Long]("__rows")
    def opt(name: String): Option[String] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.get(i).toString)
    }
    def bound(old: Option[String], fresh: Option[String],
        wantMin: Boolean): Option[String] = (old, fresh) match {
      case (Some(a), Some(b)) =>
        val cmp = for {
          ka <- scala.util.Try(BigDecimal(a)).toOption
          kb <- scala.util.Try(BigDecimal(b)).toOption
        } yield if ((ka <= kb) == wantMin) a else b
        cmp.orElse(Some(if ((a <= b) == wantMin) a else b))
      case (a, b) => b.orElse(a)
    }
    val merged = colNames.map { n =>
      val old = prevCols(n)
      val isStr = byName(n).dataType == StringType
      val newCnt = row.getAs[Long](s"$n!cnt")
      val u = new org.apache.datasketches.hll.Union(12)
      u.update(org.apache.datasketches.hll.HllSketch.heapify(
        java.util.Base64.getDecoder.decode(old.sketch.get)))
      u.update(org.apache.datasketches.hll.HllSketch.heapify(
        row.getAs[Array[Byte]](s"$n!hll")))
      val us = u.getResult
      val oldNonNull = (prev.rows - old.nulls).max(0L)
      val avg = (old.avgLen, if (isStr) opt(s"$n!avg").map(_.toLong) else None) match {
        case (Some(a), Some(b)) if oldNonNull + newCnt > 0 => Some(
          math.ceil((a.toDouble * oldNonNull + b.toDouble * newCnt) /
            (oldNonNull + newCnt)).toLong)
        case (a, b) => b.orElse(a)
      }
      n -> old.copy(
        distinct = us.getEstimate.toLong,
        nulls = old.nulls + (newRows - newCnt),
        min = if (isStr) None else bound(old.min, opt(s"$n!min"), wantMin = true),
        max = if (isStr) None else bound(old.max, opt(s"$n!max"), wantMin = false),
        avgLen = avg,
        maxLen = (old.maxLen.toSeq ++
          (if (isStr) opt(s"$n!maxlen").map(_.toLong) else None).toSeq)
          .reduceOption(_ max _),
        sketch = Some(java.util.Base64.getEncoder.encodeToString(
          us.toCompactByteArray)),
        covered = None) // == the new table default
    }.toMap
    // kept columns pin their OWN coverage against the widened default
    val keptInc = prev.cols.view
      .filterKeys(k => schema.fieldNames.contains(k) && !merged.contains(k))
      .map { case (k, cs) => k -> rebased(cs, coverageOf(prev, k), m.files) }
      .toMap
    val stats = TableStats(m.version, totalRows, keptInc ++ merged,
      covered = m.files)
    write(path, stats)
    Some(stats)
  }

  /** The base single-pass aggregates for one column (shared by the
    * full pass and the incremental new-file pass). */
  private def statAggs(n: String, dt: DataType)
      : Seq[org.apache.spark.sql.Column] = {
    val c = col(n)
    val base = Seq(
      approx_count_distinct(c).as(s"$n!ndv"),
      count(c).as(s"$n!cnt"),
      (dt match {
        case IntegerType | LongType | StringType | BinaryType =>
          hll_sketch_agg(c)
        case _ => hll_sketch_agg(c.cast(StringType))
      }).as(s"$n!hll"))
    dt match {
      case d if numeric(d) || d == DateType || d.isInstanceOf[DecimalType] =>
        base ++ Seq(min(c).cast(StringType).as(s"$n!min"),
          max(c).cast(StringType).as(s"$n!max"))
      case StringType =>
        base ++ Seq(ceil(avg(length(c))).cast(LongType).as(s"$n!avg"),
          max(length(c)).cast(LongType).as(s"$n!maxlen"))
      case _ => base
    }
  }

  /** Run the one-pass analysis and persist the sidecar. Returns the
    * stats written. `colNames` empty = row count only — served from
    * manifest metadata alone when the snapshot records complete row
    * counts ([[refreshFromManifest]]). `FOR COLUMNS` re-runs are
    * incremental when possible ([[tryIncremental]]). */
  def analyze(spark: SparkSession, path: String,
      colNames: Seq[String]): TableStats = {
    if (colNames.isEmpty)
      refreshFromManifest(path).foreach(return _)
    else if (!spark.conf.get("spark.sql.statistics.histogram.enabled", "false")
        .toBoolean)
      tryIncremental(spark, path, colNames, histEnabled = false)
        .foreach(return _)
    val version = ManifestTable.latestVersion(path)
    val df = ManifestTable.read(spark, path)
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    colNames.foreach { n =>
      require(byName.contains(n), s"no column '$n' in table $path")
      require(analyzableColumns(df.schema).contains(n),
        s"column '$n' (${byName(n).dataType.simpleString}) is not analyzable " +
          "(top-level atomic columns only)")
    }
    // equi-height HISTOGRAMS ride Spark's own ANALYZE switch: the
    // bounds (numBins+1 approximate percentiles) join the single base
    // pass; per-bin NDVs cost one extra opt-in pass below
    val histEnabled = spark.conf
      .get("spark.sql.statistics.histogram.enabled", "false").toBoolean
    val numBins = math.max(2, spark.conf
      .get("spark.sql.statistics.histogram.numBins", "254").toInt)
    val histCols = if (!histEnabled) Seq.empty
      else colNames.filter(n => numeric(byName(n).dataType))
    val pcts = (0 to numBins).map(_.toDouble / numBins).toArray
    val aggs = count(lit(1)).as("__rows") +: (colNames.flatMap { n =>
      statAggs(n, byName(n).dataType)
    } ++ histCols.map { n =>
      percentile_approx(col(n).cast(DoubleType), lit(pcts), lit(10000))
        .as(s"$n!pct")
    })
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def opt(name: String): Option[String] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.get(i).toString)
    }
    val rows = row.getAs[Long]("__rows")
    // second (opt-in) pass: per-bin NDVs for every histogram column in
    // ONE stacked aggregation — (colIdx, binIdx, value) tuples shuffle
    // once, however many columns are analyzed
    val bounds: Map[String, Seq[Double]] = histCols.flatMap { n =>
      val i = row.fieldIndex(s"$n!pct")
      if (row.isNullAt(i)) None
      else Some(n -> row.getSeq[Double](i).toSeq)
    }.toMap
    val binNdv: Map[(Int, Int), Long] =
      if (bounds.isEmpty) Map.empty
      else {
        val targets = histCols.filter(bounds.contains)
        val stacked = df.select(explode(array(targets.zipWithIndex.map {
          case (n, i) =>
            // bin = #interior bounds strictly below v: a value equal to
            // several duplicated bounds (heavy skew) lands in the FIRST
            // bin that touches it
            val interior = bounds(n).tail.init.toArray
            val v = col(n).cast(DoubleType)
            struct(lit(i).as("c"),
              size(filter(lit(interior), b => b < v)).as("b"), v.as("v"))
        }: _*)).as("s"))
          .select(col("s.c"), col("s.b"), col("s.v"))
          .where(col("v").isNotNull)
        stacked.groupBy("c", "b").agg(approx_count_distinct(col("v")).as("n"))
          .collect()
          .map(r => (r.getAs[Int]("c"), r.getAs[Int]("b")) -> r.getAs[Long]("n"))
          .toMap
      }
    val histIdx = histCols.zipWithIndex.toMap
    val cols = colNames.map { n =>
      val isStr = byName(n).dataType == StringType
      val hist = for {
        bs <- bounds.get(n); ci <- histIdx.get(n)
      } yield {
        val nonNull = row.getAs[Long](s"$n!cnt")
        // ndv floors at 1: an equi-height bin holds ~height rows by
        // construction, and bin assignment lumps a value duplicated
        // across bounds into its FIRST bin — a later duplicate bin with
        // a literal 0 would divide join estimation to Infinity
        val bins = (0 until numBins).map(b =>
          HBin(bs(b), bs(b + 1), math.max(1L, binNdv.getOrElse((ci, b), 0L))))
        (nonNull.toDouble / numBins, bins)
      }
      n -> ColStat(
        distinct = row.getAs[Long](s"$n!ndv"),
        nulls = rows - row.getAs[Long](s"$n!cnt"),
        min = if (isStr) None else opt(s"$n!min"),
        max = if (isStr) None else opt(s"$n!max"),
        avgLen = if (isStr) opt(s"$n!avg").map(_.toLong) else None,
        maxLen = if (isStr) opt(s"$n!maxlen").map(_.toLong) else None,
        histHeight = hist.map(_._1),
        histBins = hist.map(_._2),
        sketch = Option(row.getAs[Array[Byte]](s"$n!hll"))
          .map(java.util.Base64.getEncoder.encodeToString))
    }.toMap
    // MERGE semantics (Spark's own ANALYZE): FOR COLUMNS a,b refreshes
    // those columns and keeps the rest; the row-count-only form keeps
    // every previously analyzed column. Columns the current schema no
    // longer carries are dropped (a stat for a renamed/dropped column
    // would mislead the optimizer). Kept columns pin the file set THEIR
    // sketch saw — this pass widens the table-level default, and a
    // later incremental run on a kept column must rescan the gap, not
    // serve its stale sketch as if it covered everything.
    val coveredNow = ManifestTable.snapshotAt(path, None)
      .map(_.files).getOrElse(Seq.empty)
    val prevTs = load(path)
    val kept = prevTs.map(_.cols).getOrElse(Map.empty)
      .view.filterKeys(k => byName.contains(k) && !cols.contains(k))
      .map { case (k, cs) =>
        k -> rebased(cs, prevTs.map(coverageOf(_, k)).getOrElse(Seq.empty),
          coveredNow)
      }.toMap
    val stats = TableStats(version, rows, kept ++ cols,
      covered = coveredNow)
    write(path, stats)
    stats
  }

  private def write(path: String, stats: TableStats): Unit = {
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val fmt: Formats = DefaultFormats
    val tmp = Paths.get(path, StatsFile + ".tmp")
    Files.writeString(tmp, Serialization.write(stats))
    Files.move(tmp, Paths.get(path, StatsFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The persisted stats, if any ANALYZE ran. Stats from an older
    * version are still returned (estimates age, they don't invalidate) —
    * callers can compare `version` to the table's if they care. */
  def load(path: String): Option[TableStats] = {
    val f = Paths.get(path, StatsFile)
    if (!Files.isRegularFile(f)) None
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      scala.util.Try(
        JsonMethods.parse(Files.readString(f)).extract[TableStats]).toOption
    }
  }

  /** Drop the sidecar (RTAS / RESTORE / TRUNCATE change the data out
    * from under the estimates badly enough that absent beats wrong). */
  private[sources] def invalidate(path: String): Unit = {
    Files.deleteIfExists(Paths.get(path, StatsFile)); ()
  }

  /** The typed min/max value Spark's estimation code expects for the
    * column's data type (None when the type has no safe mapping). */
  private[sources] def typedBound(raw: String, dt: DataType): Option[Any] =
    scala.util.Try[Any](dt match {
      case ShortType   => raw.toShort
      case IntegerType => raw.toInt
      case LongType    => raw.toLong
      case FloatType   => raw.toFloat
      case DoubleType  => raw.toDouble
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(raw),
          d.precision, d.scale)
      case DateType =>
        // ANALYZE stores ISO strings; manifest footer stats store epoch
        // days (the parquet DATE physical form) — accept both
        raw.toIntOption.getOrElse(
          java.time.LocalDate.parse(raw).toEpochDay.toInt)
      case TimestampType | TimestampNTZType =>
        // manifest footer stats store epoch micros (Spark's catalyst-
        // internal timestamp form); ISO instants accepted for symmetry
        raw.toLongOption.getOrElse {
          val i = java.time.Instant.parse(raw)
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        }
      case _ => throw new IllegalArgumentException(dt.toString)
    }).toOption
}
