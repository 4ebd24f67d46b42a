package graft.sources.v2

import java.nio.file.Paths
import java.util

import graft.sources.ManifestTable
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** STREAMING SOURCE over a manifest table: `graft-table` — the Delta
  * streaming-source shape (`readStream.format("delta")`) on this
  * format. Offsets are TABLE VERSIONS: each micro-batch covers the
  * commits in `(startVersion, endVersion]` and reads exactly the data
  * files those commits added — the manifest's per-file seq map IS the
  * change log, so batch planning is one manifest read, no file-list
  * diffing and no directory listing beyond the version dir.
  *
  * The contract is append-only tailing (Delta's default): a rewrite/
  * overwrite in the range (carried files vanished) or a
  * merge-on-read delete THROWS rather than silently double-counting or
  * never-un-emitting rows; `ignoreChanges=true` opts into adds-only.
  * MAINTENANCE commits (OPTIMIZE / ledger folds, `dataChange=false`)
  * are the exception: they rearrange bytes without changing rows, so
  * the tail SKIPS them — versions plan individually against their own
  * manifests, which is why a compaction mid-stream neither throws nor
  * re-emits the rows it rewrote (Delta's dataChange contract).
  * Restart reads the checkpointed version offset and resumes at the
  * next commit — exactly-once per commit with an idempotent sink.
  *
  * Scale: the unit of read parallelism is the parquet row group (same
  * reader the graft-cursor V2 source uses); a 1000-executor cluster
  * tails a table whose commits add thousands of files with planning
  * cost O(files-in-batch) on the driver, footer opens included.
  */
class TableStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "graft-table requires the 'path' option")
    val file = ManifestTable.anyDataFile(path).getOrElse(
      throw new IllegalArgumentException(
        s"graft-table: no committed version at $path to infer a schema from"))
    val base = CursorSource.toStruct(
      ManifestTable.footerOf(Paths.get(file)).getFileMetaData.getSchema)
    if (options.getBoolean("readchangefeed", false))
      StructType(base.fields :+
        StructField("_change_type", StringType, nullable = false) :+
        StructField("_commit_version", LongType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // properties arrive case-SENSITIVE here (unlike inferSchema's map)
    val opts = new CaseInsensitiveStringMap(properties)
    val maxV = opts.getLong("maxversionspertrigger", 0L)
    val path = opts.get("path")
    // startingTimestamp (Delta's): stream commits whose wall time is AT
    // OR AFTER the given instant — resolved ONCE at stream start to the
    // greatest version strictly before it (epoch millis, ISO-8601
    // instant, or `yyyy-mm-dd hh:mm:ss[.f]` local time)
    val startTs = Option(opts.get("startingtimestamp")).map { raw =>
      val ms =
        if (raw.forall(_.isDigit)) raw.toLong
        else try java.time.Instant.parse(raw).toEpochMilli
        catch { case _: java.time.format.DateTimeParseException =>
          java.sql.Timestamp.valueOf(raw).getTime }
      ManifestTable.versions(path)
        .filter(v => ManifestTable.commitTimeMillis(path, v) < ms)
        .sorted.lastOption.getOrElse(0L)
    }
    val startV = opts.getLong("startingversion", -1L)
    require(startTs.isEmpty || startV < 0,
      "graft-table: set startingVersion OR startingTimestamp, not both")
    TableStreamTable(path, schema,
      opts.getBoolean("ignorechanges", false),
      if (maxV > 0) Some(maxV) else None,
      opts.getBoolean("readchangefeed", false),
      startTs.getOrElse(math.max(0L, startV)))
  }
}

case class TableStreamTable(dir: String, tableSchema: StructType,
    ignoreChanges: Boolean, maxVersions: Option[Long],
    readChangeFeed: Boolean, startingVersion: Long) extends Table with SupportsRead {
  override def schema(): StructType = tableSchema
  override def name(): String = s"graft-table:$dir"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        TableStreamScan(dir, tableSchema, ignoreChanges, maxVersions,
          readChangeFeed, startingVersion)
    }
}

/** Version-valued streaming offset. */
case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

case class TableStreamScan(dir: String, tableSchema: StructType,
    ignoreChanges: Boolean, maxVersions: Option[Long],
    readChangeFeed: Boolean, startingVersion: Long) extends Scan {
  override def readSchema(): StructType = tableSchema
  override def description(): String = s"GraftTableStream path=$dir"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TableMicroBatchStream(dir, tableSchema, ignoreChanges, maxVersions,
      readChangeFeed, startingVersion)
}

class TableMicroBatchStream(dir: String, tableSchema: StructType,
    ignoreChanges: Boolean, maxVersions: Option[Long],
    readChangeFeed: Boolean = false, startingVersion: Long = 0L)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** `startingVersion` (Delta's): a consumer initialized from a
    * snapshot at version K tails `(K, …]` instead of replaying history
    * it already holds. Only consulted on a FRESH checkpoint — a
    * restart resumes from the checkpointed offset. */
  override def initialOffset(): Offset = VersionOffset(startingVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: use latestOffset(start, limit)")

  /** Trigger.AvailableNow fences the run at the version head observed
    * when the query starts: admission-capped batches then drain UP TO
    * the fence (not past commits that land mid-run) and the query
    * terminates — Spark drives the loop through
    * SupportsTriggerAvailableNow once the source declares it. */
  private var availableNowFence: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowFence = Some(ManifestTable.latestVersion(dir))

  /** ADMISSION CONTROL (`maxVersionsPerTrigger`): a fresh start on a
    * long-lived table must not plan its whole history as one giant
    * micro-batch — commits admit in bounded groups, so batch size (and
    * retry cost on failure) is bounded no matter how far behind the
    * consumer is. Delta's maxFilesPerTrigger, in version units. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].v
    val head = ManifestTable.latestVersion(dir)
    val fenced = availableNowFence.map(math.min(head, _)).getOrElse(head)
    VersionOffset(maxVersions.map(k => math.min(fenced, s + k)).getOrElse(fenced))
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** True head of the table regardless of the admission cap — what the
    * progress reporter shows as backlog. */
  override def reportLatestOffset(): Offset =
    VersionOffset(ManifestTable.latestVersion(dir))

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  private def rowGroupsOf(file: String): Seq[Int] =
    ManifestTable.footerOf(Paths.get(file)).getBlocks.asScala.indices.toList

  /** One partition per row group of the files the batch's commits
    * added (driver-side footer opens, the same planning granularity as
    * the batch V2 source). In CHANGE-FEED mode, versions plan
    * individually: an append's added files stream as synthesized
    * `insert` rows; a rewrite/merge version streams its materialized
    * `_change_data` file (commit-time CDC — Delta's model) and FAILS
    * loudly if it was never materialized. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    if (e <= s) return Array.empty
    if (!readChangeFeed) {
      if (s == 0) {
        // initial snapshot: final-state seq semantics against the END
        // manifest — a maintenance rewrite's files ARE the snapshot's
        // rows here, and files a rewrite removed are correctly absent
        ManifestTable.appendSlice(dir, s, e, ignoreChanges).flatMap { file =>
          rowGroupsOf(file)
            .map(i => RowGroupPartition(file, i): InputPartition)
        }.toArray
      } else {
        // tailing: per-version planning (each version's files resolved
        // at ITS OWN manifest) so a MAINTENANCE commit in the range —
        // OPTIMIZE / ledger fold, dataChange=false — is SKIPPED instead
        // of throwing: it rearranges bytes without changing rows, so
        // the tail has nothing to emit for it (Delta's dataChange
        // contract). Real rewrites keep failing loudly through
        // appendSlice's per-version guard.
        ((s + 1) to e).flatMap { v =>
          if (!ManifestTable.dataChangeAt(dir, v)) Seq.empty
          else ManifestTable.appendSlice(dir, v - 1, v, ignoreChanges)
            .flatMap { file =>
              rowGroupsOf(file)
                .map(i => RowGroupPartition(file, i): InputPartition)
            }
        }.toArray
      }
    } else {
      ((s + 1) to e).flatMap { v =>
        val cdf = ManifestTable.cdfFile(dir, v)
        if (!ManifestTable.dataChangeAt(dir, v)) {
          // maintenance commit: no logical change, nothing to emit
          Seq.empty[InputPartition]
        } else if (java.nio.file.Files.exists(cdf)) {
          rowGroupsOf(cdf.toString)
            .map(i => CdfFilePartition(cdf.toString, i): InputPartition)
        } else if (ManifestTable.isAppendOnly(dir, v)) {
          ManifestTable.appendSlice(dir, v - 1, v, ignoreChanges = true)
            .flatMap(f => rowGroupsOf(f)
              .map(i => CdfAppendPartition(f, i, v): InputPartition))
        } else throw new IllegalStateException(
          s"version $v of $dir is not append-only and has no materialized " +
            s"change data - run ManifestTable.materializeCdf(path, $v) " +
            "at (or after) commit time to stream this change")
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (!readChangeFeed)
      CursorReaderFactory(tableSchema.fieldNames.toSeq,
        tableSchema.fieldNames.toSeq, Seq.empty)
    else CdfReaderFactory(tableSchema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One row group of a materialized `_change_data` file — already in the
  * CDF row shape. */
case class CdfFilePartition(file: String, rowGroup: Int) extends InputPartition

/** One row group of a plain data file an APPEND commit added — the
  * reader synthesizes `_change_type='insert'` / `_commit_version`. */
case class CdfAppendPartition(file: String, rowGroup: Int,
    version: Long) extends InputPartition

case class CdfReaderFactory(cdfSchema: org.apache.spark.sql.types.StructType)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = p match {
    case CdfFilePartition(f, g) =>
      val names = cdfSchema.fieldNames.toSeq
      new RowGroupReader(f, g, names, names, Seq.empty)
    case CdfAppendPartition(f, g, v) =>
      val base = cdfSchema.fieldNames.dropRight(2).toSeq
      val inner = new RowGroupReader(f, g, base, base, Seq.empty)
      new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
        private val width = base.length
        override def next(): Boolean = inner.next()
        override def get(): org.apache.spark.sql.catalyst.InternalRow = {
          val r = inner.get()
          val vals = new Array[Any](width + 2)
          var i = 0
          while (i < width) {
            vals(i) = r.get(i, cdfSchema.fields(i).dataType); i += 1
          }
          vals(width) = org.apache.spark.unsafe.types.UTF8String.fromString("insert")
          vals(width + 1) = v
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
        override def close(): Unit = inner.close()
      }
    case other => throw new IllegalStateException(s"unexpected partition $other")
  }
}
