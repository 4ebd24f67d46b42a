package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type => PType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Cursor-aware DataSource V2 connector: `graft-cursor`.
  *
  * The reference's connectors compile the cursor window and WHERE into the
  * ORIGIN's query parameters so the source itself returns only the slice
  * (core/connector.py:209-255, core/utils.py:195-286). This is the Spark-
  * native equivalent: a `TableProvider` whose scan
  *
  *  - synthesizes range predicates from `cursor_field` / `cursor_mode` /
  *    `cursor_start` / `cursor_end` / `cursor_ascending` options (the same
  *    slice semantics as [[graft.cursor.Cursor]]: ascending reads
  *    [start, end], descending swaps the bounds),
  *  - accepts Spark's pushed filters (SupportsPushDownFilters),
  *  - prunes COLUMNS into the parquet projection
  *    (SupportsPushDownRequiredColumns),
  *  - prunes ROW GROUPS on the driver from footer min/max statistics —
  *    planInputPartitions emits one partition per SURVIVING row group, so
  *    a cursor slice over a sorted/partitioned layout schedules only the
  *    row groups that can contain it,
  *  - applies the cursor bounds ROW-LEVEL inside the reader (Spark never
  *    sees the cursor options, so the source owns their exactness; Spark
  *    re-evaluates its own pushed filters as residuals, as with the
  *    built-in parquet source).
  *
  * Scale: the unit of parallelism is the row group (the same granularity
  * Spark's parquet source uses); footers are read once on the driver.
  * Readers construct a fresh Hadoop Configuration — enough for
  * local/posix and default-credential object stores; a cluster deployment
  * would ship the session's serialized conf instead.
  */
class CursorSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cursor"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = new Configuration()
    val files = CursorSource.listParquet(options.get("path"), conf)
    require(files.nonEmpty, s"graft-cursor: no parquet files under ${options.get("path")}")
    CursorSource.toStruct(CursorSource.footerSchema(files.head, conf))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    CursorTable(properties.get("path"), schema)
}

object CursorSource {
  def listParquet(path: String, conf: Configuration): Seq[HPath] = {
    require(path != null, "graft-cursor requires the 'path' option")
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(p)
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Open a parquet file at a user path (any Hadoop filesystem) with
    * read options built on `conf` — `ParquetFileReader.open(InputFile)`
    * alone would build (and XML-parse) a second default conf per open. */
  private[graft] def openReader(file: HPath, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  def footerSchema(file: HPath, conf: Configuration): MessageType = {
    val r = openReader(file, conf)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  private def isString(pt: PrimitiveType): Boolean =
    pt.getLogicalTypeAnnotation != null &&
      pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]

  private def decimalOf(pt: PrimitiveType): Option[DecimalType] =
    pt.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        Some(DecimalType(d.getPrecision, d.getScale))
      case _ => None
    }

  def toStruct(mt: MessageType): StructType = {
    import PrimitiveType.PrimitiveTypeName._
    StructType(mt.getFields.asScala.map { f =>
      require(f.isPrimitive, s"graft-cursor supports flat primitive schemas; got $f")
      val pt = f.asPrimitiveType()
      val dec = decimalOf(pt)
      val dt = pt.getPrimitiveTypeName match {
        // decimals land as INT32/INT64 (small precision) or
        // FIXED_LEN_BYTE_ARRAY/BINARY (big-endian unscaled bytes) —
        // warehouse tables carry them everywhere, so the reader must
        case _ if dec.isDefined => dec.get
        case INT32 if pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
          DateType
        case INT64 if pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
          TimestampType
        case INT96  => TimestampType
        case INT64  => LongType
        case INT32  => IntegerType
        case DOUBLE => DoubleType
        case FLOAT  => FloatType
        case BOOLEAN => BooleanType
        case BINARY if isString(pt) => StringType
        case BINARY => BinaryType
        case other => throw new IllegalArgumentException(
          s"graft-cursor: unsupported parquet type $other for field ${f.getName}")
      }
      StructField(f.getName, dt, nullable = true)
    }.toSeq)
  }

  /** Projection MessageType: the footer's fields restricted to `names`,
    * keeping the original parquet types/annotations and field order. */
  def projectionOf(full: MessageType, names: Seq[String]): MessageType = {
    val keep = names.toSet
    new MessageType(full.getName,
      full.getFields.asScala.filter(f => keep(f.getName)).toList.asJava: util.List[PType])
  }
}

case class CursorTable(dir: String, tableSchema: StructType) extends Table with SupportsRead {
  override def schema(): StructType = tableSchema
  override def name(): String = s"graft-cursor:$dir"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CursorScanBuilder(dir, tableSchema, options)
}

/** One comparison the source evaluates itself: `field op value`, with
  * `value` already coerced to the field's runtime type. */
case class SourcePredicate(field: String, op: String, value: Any) {
  override def toString: String = s"$field $op $value"
}

class CursorScanBuilder(dir: String, fullSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  /** Cursor options → range predicates (Cursor.slice semantics). The
    * comparison type comes from the COLUMN's type; every supported type
    * is coerced explicitly and anything else is rejected loudly — a
    * silently-string-compared numeric bound would return the whole table
    * (the exact-slice contract this source owns). `cursor_mode` is
    * validated against the column type: uid demands a numeric column
    * (Cursor compares uids numerically; a lexicographic fallback would
    * silently diverge). */
  private val cursorPreds: Seq[SourcePredicate] = {
    Option(options.get("cursor_field")).toSeq.flatMap { field =>
      val asc = !"false".equalsIgnoreCase(options.getOrDefault("cursor_ascending", "true"))
      val dt = fullSchema.apply(field).dataType
      val numeric = dt match {
        case LongType | IntegerType | DoubleType | FloatType => true
        case _ => false
      }
      Option(options.get("cursor_mode")).foreach { mode =>
        if (mode.equalsIgnoreCase("uid") && !numeric)
          throw new IllegalArgumentException(
            s"graft-cursor: cursor_mode=uid needs a numeric cursor column; " +
              s"'$field' is ${dt.simpleString}")
      }
      def coerce(s: String): Any = dt match {
        case LongType    => s.toLong
        case IntegerType => s.toInt
        case DoubleType  => s.toDouble
        case FloatType   => s.toDouble // cmp promotes the float row value
        case StringType  => s
        case other => throw new IllegalArgumentException(
          s"graft-cursor: unsupported cursor column type ${other.simpleString} for '$field'")
      }
      val start = Option(options.get("cursor_start")).map(coerce)
      val end = Option(options.get("cursor_end")).map(coerce)
      // ascending: [start, end]; descending: start is the UPPER bound
      start.map(v => SourcePredicate(field, if (asc) ">=" else "<=", v)).toSeq ++
        end.map(v => SourcePredicate(field, if (asc) "<=" else ">=", v)).toSeq
    }
  }

  private def supported(f: Filter): Boolean = f match {
    case EqualTo(c, v) => simple(c, v)
    case GreaterThan(c, v) => simple(c, v)
    case GreaterThanOrEqual(c, v) => simple(c, v)
    case LessThan(c, v) => simple(c, v)
    case LessThanOrEqual(c, v) => simple(c, v)
    case _ => false
  }
  private def simple(c: String, v: Any): Boolean =
    fullSchema.fieldNames.contains(c) && v != null &&
      (v.isInstanceOf[Long] || v.isInstanceOf[Int] || v.isInstanceOf[Double] ||
        v.isInstanceOf[Float] || v.isInstanceOf[String])

  /** Keep supported filters for statistics pruning but return ALL filters
    * as residual: row-group stats are a conservative prune, not an exact
    * row filter, so Spark re-evaluates — the same contract the built-in
    * parquet source uses. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    CursorScan(dir, fullSchema, required, pushed, cursorPreds)
}

case class CursorScan(dir: String, fullSchema: StructType, required: StructType,
    pushed: Array[Filter], cursorPreds: Seq[SourcePredicate])
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftCursorScan path=$dir, cursor=[${cursorPreds.mkString(", ")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}], ReadSchema: ${required.simpleString}"

  /** Spark's pushed filters rephrased as source predicates (for stats
    * pruning only — Spark re-applies them row-level as residuals). */
  private def pushedPreds: Seq[SourcePredicate] = pushed.toSeq.collect {
    case EqualTo(c, v)            => SourcePredicate(c, "=", v)
    case GreaterThan(c, v)        => SourcePredicate(c, ">", v)
    case GreaterThanOrEqual(c, v) => SourcePredicate(c, ">=", v)
    case LessThan(c, v)           => SourcePredicate(c, "<", v)
    case LessThanOrEqual(c, v)    => SourcePredicate(c, "<=", v)
  }

  /** One partition per row group that SURVIVES footer-stats pruning. */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val preds = cursorPreds ++ pushedPreds
    CursorSource.listParquet(dir, conf).flatMap { file =>
      val r = CursorSource.openReader(file, conf)
      try {
        r.getFooter.getBlocks.asScala.zipWithIndex.collect {
          case (block, i) if RowGroupStats.mightMatch(block, preds) =>
            RowGroupPartition(file.toString, i): InputPartition
        }
      } finally r.close()
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // read projection = required columns + cursor fields (the source must
    // evaluate its own cursor bounds row-level even when the query does
    // not project the cursor column). A fully-pruned projection (bare
    // count() with no cursor) still reads one physical column: parquet
    // record assembly needs at least one leaf to drive row iteration.
    val readNames =
      (required.fieldNames ++ cursorPreds.map(_.field)).distinct.toSeq match {
        case Seq() => Seq(fullSchema.fieldNames.head)
        case names => names
      }
    CursorReaderFactory(readNames, required.fieldNames.toSeq, cursorPreds)
  }
}

case class RowGroupPartition(file: String, rowGroup: Int) extends InputPartition

/** Footer min/max statistics vs source predicates (conservative: missing
  * stats keep the row group). */
object RowGroupStats {
  def mightMatch(block: BlockMetaData, preds: Seq[SourcePredicate]): Boolean =
    preds.forall { p =>
      block.getColumns.asScala
        .find(_.getPath.toDotString == p.field)
        .forall { chunk =>
          val st = chunk.getStatistics
          if (st == null || !st.hasNonNullValue) true
          else {
            val (min, max) = (statValue(st.genericGetMin), statValue(st.genericGetMax))
            rangeMightMatch(min, max, p)
          }
        }
    }

  private def statValue(v: Any): Any = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
    case (x: Int, y: Int)       => Integer.compare(x, y)
    case (x: Int, y: Long)      => java.lang.Long.compare(x.toLong, y)
    case (x: Long, y: Int)      => java.lang.Long.compare(x, y.toLong)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => x.compareTo(y)
    case _ => 0 // incomparable: stay conservative
  }

  private def rangeMightMatch(min: Any, max: Any, p: SourcePredicate): Boolean = p.op match {
    case ">=" => cmp(max, p.value) >= 0
    case ">"  => cmp(max, p.value) > 0
    case "<=" => cmp(min, p.value) <= 0
    case "<"  => cmp(min, p.value) < 0
    case "="  => cmp(min, p.value) <= 0 && cmp(max, p.value) >= 0
    case _    => true
  }

  /** Row-level evaluation of the cursor predicates (exact). */
  def rowMatches(value: Any, p: SourcePredicate): Boolean =
    if (value == null) false
    else p.op match {
      case ">=" => cmp(value, p.value) >= 0
      case ">"  => cmp(value, p.value) > 0
      case "<=" => cmp(value, p.value) <= 0
      case "<"  => cmp(value, p.value) < 0
      case "="  => cmp(value, p.value) == 0
      case _    => true
    }
}

case class CursorReaderFactory(readNames: Seq[String], outNames: Seq[String],
    cursorPreds: Seq[SourcePredicate]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RowGroupPartition]
    new RowGroupReader(p.file, p.rowGroup, readNames, outNames, cursorPreds)
  }
}

/** Reads ONE row group of one file with a column projection, converting
  * parquet example Groups to InternalRows and applying the cursor bounds
  * row-level. */
class RowGroupReader(file: String, rowGroup: Int, readNames: Seq[String],
    outNames: Seq[String], cursorPreds: Seq[SourcePredicate])
  extends PartitionReader[InternalRow] {

  private val reader =
    CursorSource.openReader(new HPath(file), new Configuration())
  private val projection =
    CursorSource.projectionOf(reader.getFooter.getFileMetaData.getSchema, readNames)
  reader.setRequestedSchema(projection)
  private val readStruct = CursorSource.toStruct(projection)
  private val outIdx = outNames.map(n => readStruct.fieldIndex(n)).toArray
  private val predIdx = cursorPreds.map(p => readStruct.fieldIndex(p.field)).toArray

  private val pages = reader.readRowGroup(rowGroup)
  private val recordReader = new ColumnIOFactory()
    .getColumnIO(projection)
    .getRecordReader(pages, new GroupRecordConverter(projection))
  private var remaining = pages.getRowCount
  private var row: InternalRow = _

  private def fieldValue(g: Group, i: Int): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else readStruct.fields(i).dataType match {
      case d: org.apache.spark.sql.types.DecimalType =>
        // the unscaled value arrives as INT32/INT64 (small precision)
        // or big-endian bytes (FLBA/BINARY); the parquet example Group
        // exposes all of them through the physical accessors
        val unscaled = projection.getType(i).asPrimitiveType()
          .getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.INT32 =>
            java.math.BigInteger.valueOf(g.getInteger(i, 0).toLong)
          case PrimitiveType.PrimitiveTypeName.INT64 =>
            java.math.BigInteger.valueOf(g.getLong(i, 0))
          case _ => new java.math.BigInteger(g.getBinary(i, 0).getBytes)
        }
        org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(unscaled, d.scale), d.precision, d.scale)
      case LongType    => g.getLong(i, 0)
      case IntegerType => g.getInteger(i, 0)
      case DoubleType  => g.getDouble(i, 0)
      case FloatType   => g.getFloat(i, 0)
      case BooleanType => g.getBoolean(i, 0)
      case StringType  => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
      // DATE is INT32 days since epoch — Catalyst's own representation
      case DateType    => g.getInteger(i, 0)
      case BinaryType  => g.getBinary(i, 0).getBytes
      case TimestampType =>
        // Catalyst wants micros since epoch (UTC). Spark writes INT96
        // (nanos-of-day LE + julian day LE) under the default conf;
        // annotated INT64 carries its unit in the logical type
        projection.getType(i).asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.INT96 =>
            val buf = java.nio.ByteBuffer.wrap(g.getInt96(i, 0).getBytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong
            val julianDay = buf.getInt
            (julianDay - 2440588).toLong * 86400000000L + nanosOfDay / 1000L
          case PrimitiveType.PrimitiveTypeName.INT64 =>
            val raw = g.getLong(i, 0)
            projection.getType(i).asPrimitiveType()
              .getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
                  case LogicalTypeAnnotation.TimeUnit.NANOS  => raw / 1000L
                  case _ => raw // MICROS
                }
              case _ => raw
            }
          case other => throw new IllegalStateException(
            s"unsupported timestamp physical type $other")
        }
      case other => throw new IllegalStateException(s"unsupported read type $other")
    }

  override def next(): Boolean = {
    while (remaining > 0) {
      remaining -= 1
      val g = recordReader.read()
      val values = Array.tabulate(readStruct.length)(i => fieldValue(g, i))
      val keep = cursorPreds.indices.forall { k =>
        val v = values(predIdx(k)) match {
          case s: UTF8String => s.toString
          case other => other
        }
        RowGroupStats.rowMatches(v, cursorPreds(k))
      }
      if (keep) {
        row = new GenericInternalRow(outIdx.map(values))
        return true
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
