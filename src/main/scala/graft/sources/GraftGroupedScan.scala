package graft.sources

import java.nio.file.Paths
import java.util.OptionalLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.conditions.Condition
import graft.sources.v2.RowGroupReader

/** STORAGE-PARTITIONED JOIN scan over a PARTITIONED BY catalog table.
  *
  * The manifest already records per-file min/max stats, and every write
  * door rolls files at partition-value boundaries
  * ([[GraftAppendTaskWriter]]), so each live data file carries exactly
  * ONE value tuple of the declared identity partition columns. That
  * makes the value → files grouping driver-derivable from metadata
  * alone: this scan groups live files by partition value, reports
  * [[KeyGroupedPartitioning]] over the identity transforms, and answers
  * each group through [[HasPartitionKey]] — Spark's storage-partitioned
  * join machinery (`spark.sql.sources.v2.bucketing.enabled`) then joins
  * two co-partitioned graft tables with NO shuffle exchange on either
  * side, the lever that matters most at fact×fact scale where a
  * hash-partitioned exchange of the big side is the dominant cost.
  *
  * Also a [[SupportsRuntimeV2Filtering]] target: a runtime IN/EQ
  * predicate on a partition column (dynamic partition pruning from a
  * dimension-side filter) drops whole value groups before any task
  * launches.
  *
  * Strictly OPT-IN and conservative: [[GraftScanBuilder]] only chooses
  * this scan when Spark's v2 bucketing conf is on AND
  * [[GraftGroupedScan.eligible]] proves the snapshot safe — no MoR
  * delete ledger, no column-mapping renames/drops, every required
  * column present in the committed data schema with a type the
  * row-group reader decodes, and every stats-surviving file
  * single-valued on every partition column. Anything else falls back to
  * the read-plan scan ([[GraftScan]]), whose DataFrame path reconciles
  * those cases. Reference behavior anchor: the co-located source/target sync
  * loop (core/pipeline.py:83) is the reference's join-shaped hot path.
  */
final class GraftGroupedScan(
    path: String,
    version: Option[Long],
    required: StructType,
    conds: Seq[Condition],
    partCols: Seq[String],
    groups: Seq[(Array[Any], Seq[String])],
    fallback: GraftScan,
    transforms: Seq[org.apache.spark.sql.connector.expressions.Transform],
    // filter-literal → group-key-component translation per partition
    // column: identity layouts compare the value itself, bucket layouts
    // compare its BUCKET id — runtime predicates arrive over the raw
    // column either way
    keyMappers: Seq[Any => Any],
    // columns each partition's rows arrive sorted by (bucket layouts:
    // the bucket KEY — every bucketed write door sorts by (bucket id,
    // key), so a single-file group is key-sorted end to end)
    sortedBy: Seq[String] = Seq.empty,
    // true when the sort columns are CONSTANT within a group (identity
    // layouts: a value group holds exactly one key tuple) — then the
    // ordering claim holds for ANY file count, no steady-state needed
    constantKeys: Boolean = false)
  extends Scan with Batch
  with SupportsReportPartitioning with SupportsReportStatistics
  with SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private val partIdx: Map[String, Int] = partCols.zipWithIndex.toMap

  // runtime-filter state: per partition-column allowed value sets
  // (intersection semantics across filter() calls); None = no filter
  @volatile private var allowed: Map[Int, Set[Any]] = Map.empty

  private def currentGroups: Seq[(Array[Any], Seq[String])] =
    if (allowed.isEmpty) groups
    else groups.filter { case (key, _) =>
      allowed.forall { case (i, vs) => vs.contains(key(i)) }
    }

  /** Observability for gates/specs: groups surviving runtime filters /
    * all value groups of the snapshot. */
  def plannedGroupCount: Int = currentGroups.size
  def totalGroupCount: Int = groups.size

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftGroupedScan path=$path partitionKeys=${partCols.mkString(",")} " +
      s"groups=${groups.size}"

  // the table stays streamable with the bucketing conf on: delegate to
  // the read-plan scan's micro-batch door (version offsets, admission control)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    fallback.toMicroBatchStream(checkpointLocation)

  override def outputPartitioning(): Partitioning =
    // the transforms must resolve against this scan's OUTPUT — a
    // projection that drops a partition column cannot report the
    // grouping (Spark could not match join keys to it anyway)
    if (partCols.forall(required.fieldNames.contains))
      new KeyGroupedPartitioning(transforms.toArray, groups.size)
    else new UnknownPartitioning(groups.size)

  // bucket-layout groups can k-way-MERGE their key-sorted files back
  // into one ordered stream (every bucketed write door sorts by
  // (bucket id, key)); identity groups don't need it (constant key)
  private def mergeKey: Option[(Int, DataType)] =
    if (constantKeys || sortedBy.size != 1) None
    else required.fields.zipWithIndex.collectFirst {
      case (f, i) if f.name == sortedBy.head &&
          MergingGroupReader.comparable(f.dataType) => (i, f.dataType)
    }

  /** SORT ELISION for storage-partitioned joins: each partition's rows
    * arrive ordered on the sort columns — identity groups trivially
    * (one key tuple per group), bucket groups because every file is
    * key-sorted by construction and the reader K-WAY MERGES multi-file
    * groups. A sort-merge join over co-partitioned tables then drops
    * BOTH its per-partition sorts — at 100 TB that's the spill the
    * shuffle-free plan still paid. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (sortedBy.nonEmpty && sortedBy.forall(required.fieldNames.contains) &&
        (constantKeys || mergeKey.isDefined ||
          groups.forall(_._2.size == 1)))
      sortedBy.map(c => Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
        : org.apache.spark.sql.connector.expressions.SortOrder).toArray
    else Array.empty

  override def planInputPartitions(): Array[InputPartition] =
    currentGroups.map { case (key, files) =>
      GraftValueGroupPartition(files, key): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    GraftGroupReaderFactory(
      ManifestTable.dataDirFor(path).toAbsolutePath.toString, required,
      mergeKey)

  override def estimateStatistics(): Statistics = fallback.estimateStatistics()

  override def filterAttributes(): Array[NamedReference] =
    partCols.map(Expressions.column).toArray

  /** Runtime group pruning: IN / = predicates on partition columns drop
    * whole value groups; anything else is ignored (Spark re-evaluates
    * every residual row-level, so ignoring is safe, never wrong). */
  override def filter(predicates: Array[Predicate]): Unit = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        partIdx.get(r.fieldNames.head)
      case _ => None
    }
    def litOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Any] = e match {
      case l: Literal[_] => Some(l.value)
      case _ => None
    }
    var next = allowed
    predicates.foreach { p =>
      val kids = p.children()
      val parsed: Option[(Int, Set[Any])] = p.name() match {
        case "IN" | "=" if kids.nonEmpty =>
          for {
            i <- colOf(kids.head)
            vs <- Some(kids.tail.flatMap(litOf))
            if vs.length == kids.length - 1 && vs.nonEmpty
          } yield i -> vs.toSet
        case _ => None
      }
      parsed.foreach { case (i, vs0) =>
        val vs = vs0.map(keyMappers(i))
        next = next.updated(i, next.get(i).map(_.intersect(vs)).getOrElse(vs))
      }
    }
    allowed = next
  }
}

/** All files of ONE partition-value group. `keyVals` are catalyst-typed
  * (UTF8String for strings) in declared partition-column order. */
final case class GraftValueGroupPartition(files: Seq[String],
    keyVals: Array[Any]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(keyVals)
}

final case class GraftGroupReaderFactory(dataDir: String,
    required: StructType,
    mergeKey: Option[(Int, DataType)] = None) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftValueGroupPartition]
    mergeKey match {
      case Some((idx, dt)) if gp.files.size > 1 =>
        new MergingGroupReader(gp.files.map(f =>
          new GroupFilesReader(Seq(s"$dataDir/$f"), required)), idx, dt)
      case _ =>
        new GroupFilesReader(gp.files.map(f => s"$dataDir/$f"), required)
    }
  }
}

/** K-way merge over one group's key-sorted files: each sub-reader
  * yields its file's rows in key order (row groups chain in write
  * order), and the merge keeps the group globally ordered — so the
  * scan's ordering claim holds at ANY file count and the join above
  * never sorts. Linear head scan per row: a bucket accumulates FEW
  * files between OPTIMIZE passes, a heap would be overhead. Rows are
  * fresh per record ([[RowGroupReader]] allocates), safe to hold as
  * heads across next() calls. */
final class MergingGroupReader(readers: Seq[GroupFilesReader],
    keyIdx: Int, dt: DataType) extends PartitionReader[InternalRow] {

  private val heads = new Array[InternalRow](readers.size)
  private var initialized = false
  private var cur: InternalRow = _

  private def advanceHead(i: Int): Unit =
    heads(i) = if (readers(i).next()) readers(i).get() else null

  private def keyOf(r: InternalRow): Any =
    if (r.isNullAt(keyIdx)) null else r.get(keyIdx, dt)

  // matches Spark's ASC NULLS FIRST total order (NaN sorts greatest,
  // UTF8String binary order) — the contract the ordering claim makes
  private def lt(a: Any, b: Any): Boolean = {
    if (a == null) b != null
    else if (b == null) false
    else (a, b) match {
      case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y) < 0
      case (x: java.lang.Long, y: java.lang.Long)       => x.compareTo(y) < 0
      case (x: java.lang.Float, y: java.lang.Float)     => x.compareTo(y) < 0
      case (x: java.lang.Double, y: java.lang.Double)   => x.compareTo(y) < 0
      case (x: UTF8String, y: UTF8String)               => x.compareTo(y) < 0
      case _ => throw new IllegalStateException(s"unmergeable key type $dt")
    }
  }

  override def next(): Boolean = {
    if (!initialized) { readers.indices.foreach(advanceHead); initialized = true }
    var best = -1
    var i = 0
    while (i < heads.length) {
      if (heads(i) != null &&
          (best < 0 || lt(keyOf(heads(i)), keyOf(heads(best))))) best = i
      i += 1
    }
    if (best < 0) false
    else { cur = heads(best); advanceHead(best); true }
  }

  override def get(): InternalRow = cur
  override def close(): Unit = readers.foreach(_.close())
}

object MergingGroupReader {
  /** Key types [[MergingGroupReader.lt]] orders (a strict subset of
    * [[GraftBucketFunction.supportedKeyType]]). */
  def comparable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | StringType => true
    case _ => false
  }
}

/** Sequential reader over a group's files (all row groups of each,
  * via [[RowGroupReader]]). A file written before an ALTER TABLE ADD
  * COLUMN may lack trailing columns — those positions null-fill, the
  * same semantics the DataFrame path's schema alignment gives. */
final class GroupFilesReader(files: Seq[String], required: StructType)
  extends PartitionReader[InternalRow] {

  private val reqNames = required.fieldNames.toSeq
  private var fileIdx = -1
  private var groupIdx = 0
  private var groupsInFile = 0
  private var present: Seq[String] = Seq.empty
  private var mapping: Array[Int] = _ // required position → present pos | -1
  private var exact = true
  private var cur: RowGroupReader = _
  private var row: InternalRow = _

  private def openFooter(file: String): Unit = {
    val footer = ManifestTable.footerOf(java.nio.file.Paths.get(file))
    groupsInFile = footer.getBlocks.size()
    val have = new scala.collection.mutable.HashSet[String]
    footer.getFileMetaData.getSchema.getFields.forEach(f => have += f.getName)
    present = reqNames.filter(have)
    mapping = reqNames.map(n => present.indexOf(n)).toArray
    exact = present == reqNames
  }

  private def advance(): Boolean = {
    if (cur != null) { cur.close(); cur = null }
    while (true) {
      if (fileIdx >= 0 && groupIdx < groupsInFile) {
        cur = new RowGroupReader(files(fileIdx), groupIdx, present, present,
          Seq.empty)
        groupIdx += 1
        return true
      }
      fileIdx += 1
      if (fileIdx >= files.length) return false
      groupIdx = 0
      openFooter(files(fileIdx))
    }
    false
  }

  override def next(): Boolean = {
    while (true) {
      if (cur == null && !advance()) return false
      if (cur.next()) {
        val inner = cur.get()
        row =
          if (exact) inner
          else {
            val vals = new Array[Any](reqNames.length)
            var i = 0
            while (i < vals.length) {
              val src = mapping(i)
              vals(i) =
                if (src < 0) null
                else inner.get(src, required.fields(i).dataType)
              i += 1
            }
            new GenericInternalRow(vals)
          }
        return true
      }
      cur.close(); cur = null
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

object GraftGroupedScan {

  private val readableTypes: DataType => Boolean = {
    case IntegerType | LongType | FloatType | DoubleType | BooleanType |
         StringType | DateType | TimestampType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Partition-column types whose manifest stats round-trip faithfully
    * through the stringified min/max (what [[parseStat]] inverts). */
  private val keyTypes: DataType => Boolean = {
    case IntegerType | LongType | FloatType | DoubleType | StringType => true
    case _ => false
  }

  private def parseStat(s: String, dt: DataType): Any = dt match {
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case StringType => UTF8String.fromString(s)
    case other => throw new IllegalStateException(s"unsupported key type $other")
  }

  private val BucketFilePrefix = "^b(\\d+)-".r

  private def toCatalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other => other
  }

  /** The grouped scan for this snapshot, or None when any eligibility
    * condition fails (the caller keeps the read-plan scan — correctness never
    * depends on taking this path). */
  def build(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Option[Long], required: StructType, conds: Seq[Condition],
      fallback: GraftScan): Option[GraftGroupedScan] = {
    val layout = GraftCatalog.readDeclaredLayout(Paths.get(path))
    if (layout.isEmpty || required.isEmpty) return None
    val m = ManifestTable.snapshotAt(path, version).getOrElse(return None)
    if (m.deletes.nonEmpty || m.renames.nonEmpty || m.droppedCols.nonEmpty)
      return None
    // every required column must be data-backed (DDL-added columns that
    // no file carries yet null-fill on the read-plan path) with a readable type
    val dataSchema =
      try ManifestTable.schemaAt(spark, path, version)
      catch { case _: Exception => return None }
    val dataFields = dataSchema.fields.map(f => f.name -> f.dataType).toMap
    if (!required.fields.forall(f =>
        dataFields.get(f.name).contains(f.dataType) && readableTypes(f.dataType)))
      return None
    layout match {
      case Seq(GraftCatalog.BucketPart(n, c)) =>
        buildBucketed(path, version, required, conds, m, n, c,
          dataFields.get(c), fallback)
      case idParts =>
        val partCols = idParts.map(_.col)
        buildIdentity(path, version, required, conds, m, partCols,
          partCols.map(dataFields.get), fallback)
    }
  }

  private def buildIdentity(path: String, version: Option[Long],
      required: StructType, conds: Seq[Condition],
      m: ManifestTable.Manifest, partCols: Seq[String],
      keyFields: Seq[Option[DataType]],
      fallback: GraftScan): Option[GraftGroupedScan] = {
    if (!keyFields.forall(_.exists(keyTypes))) return None
    val kts = keyFields.map(_.get)
    // stats-pruned survivors, each single-valued on every partition col
    val survivors = ManifestTable.statsSurvivors(path, conds, version)
    val grouped = new scala.collection.mutable.LinkedHashMap[Seq[Any], List[String]]
    val it = survivors.iterator
    while (it.hasNext) {
      val f = it.next()
      val st = m.stats.getOrElse(f, Map.empty)
      val keyOpts = partCols.zip(kts).map { case (c, dt) =>
        st.get(c) match {
          case Some(cs) if cs.min == cs.max &&
              !cs.unit.contains("allnull") => Some(parseStat(cs.min, dt))
          case _ => None // value-joint or stat-less file → fall back
        }
      }
      if (keyOpts.exists(_.isEmpty)) return None
      grouped.updateWith(keyOpts.map(_.get))(cur => Some(f :: cur.getOrElse(Nil)))
    }
    val groups = grouped.toSeq.map { case (k, fs) =>
      (k.toArray, fs.reverse: Seq[String])
    }
    Some(new GraftGroupedScan(path, version, required, conds, partCols,
      groups, fallback,
      partCols.map(c => Expressions.identity(c)),
      partCols.map(_ => (v: Any) => v),
      // an identity value group holds ONE key tuple — rows are
      // trivially ordered on the partition columns whatever the file
      // count, so a join ON them never sorts
      sortedBy = partCols, constantKeys = true))
  }

  /** Bucket layout: the bucket id rides the FILE NAME (`b<id>-<uuid>`,
    * the flat-file analogue of Hive/Spark bucketed tables' numbered
    * file names) — grouping needs no stats, and a point predicate on
    * the bucket column prunes to ONE bucket's files before the scan
    * plans. A file without the prefix (a pre-bucketing write, a delta
    * file) fails eligibility and the read-plan scan reads the table. */
  private def buildBucketed(path: String, version: Option[Long],
      required: StructType, conds: Seq[Condition],
      m: ManifestTable.Manifest, n: Int, c: String, keyType: Option[DataType],
      fallback: GraftScan): Option[GraftGroupedScan] = {
    val dt = keyType.getOrElse(return None)
    if (!GraftBucketFunction.supportedKeyType(dt)) return None
    // static bucket pruning from pushed Eq/In predicates on the key: a
    // point lookup on a bucketed table reads ONE bucket's files
    val sets: Seq[Set[Int]] = conds.collect {
      case graft.conditions.Condition(f, graft.conditions.Op.Eq, v)
        if f == c =>
        Set(GraftBucketFunction.bucketOf(toCatalyst(v), dt, n))
      case graft.conditions.Condition(f, graft.conditions.Op.In, vs: Seq[_])
        if f == c =>
        vs.map(v => GraftBucketFunction.bucketOf(toCatalyst(v), dt, n)).toSet
    }
    buildBucketedGroups(path, version, required, conds, m, n, c, dt,
      fallback, sets.reduceOption(_ intersect _))
  }

  private def buildBucketedGroups(path: String, version: Option[Long],
      required: StructType, conds: Seq[Condition],
      m: ManifestTable.Manifest, n: Int, c: String, dt: DataType,
      fallback: GraftScan,
      allowedBuckets: Option[Set[Int]]): Option[GraftGroupedScan] = {
    val survivors = ManifestTable.statsSurvivors(path, conds, version)
    val grouped = new scala.collection.mutable.LinkedHashMap[Int, List[String]]
    val it = survivors.iterator
    while (it.hasNext) {
      val f = it.next()
      BucketFilePrefix.findFirstMatchIn(f) match {
        case Some(mm) =>
          val id = mm.group(1).toInt
          if (id >= n) return None // stale prefix from an older layout
          if (allowedBuckets.forall(_.contains(id)))
            grouped.updateWith(id)(cur => Some(f :: cur.getOrElse(Nil)))
        case None => return None // unprefixed file → read-plan scan
      }
    }
    val groups = grouped.toSeq.sortBy(_._1).map { case (id, fs) =>
      (Array[Any](id), fs.reverse: Seq[String])
    }
    Some(new GraftGroupedScan(path, version, required, conds, Seq(c),
      groups, fallback,
      Seq(Expressions.bucket(n, c)),
      Seq((v: Any) => Int.box(GraftBucketFunction.bucketOf(v, dt, n))),
      sortedBy = Seq(c)))
  }
}
