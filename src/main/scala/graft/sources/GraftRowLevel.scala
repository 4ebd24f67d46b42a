package graft.sources

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` on catalog tables —
  * the delta-based [[SupportsDelta]] binding of Spark's row-level
  * operation framework onto the merge-on-read commit protocol.
  *
  * Spark's rewrite rules (RewriteUpdateTable / RewriteMergeIntoTable /
  * RewriteDeleteFromTable) plan the scan, the join, and the per-row
  * operation stream; this module only has to be the two ends:
  *
  *  - the SCAN is the ordinary catalog scan ([[GraftScanBuilder]]):
  *    manifest file skipping on the pushed condition, per-file-scoped
  *    MoR reconcile — an UPDATE's read half prunes exactly like a
  *    SELECT's, so the cost tracks the files the predicate can touch;
  *  - the WRITE receives each task's delete / update / insert rows
  *    imperatively ([[DeltaWriter]]) and streams them STRAIGHT to
  *    parquet in the table's data directory — delete-key files and
  *    upsert files, the exact shape [[ManifestTable.mergeMoR]] stages —
  *    then one driver-side manifest publish makes them live atomically
  *    ([[ManifestTable.commitStagedDelta]]). No file is rewritten: a
  *    k-row UPDATE on a 100-TB table commits O(k) bytes, and files the
  *    predicate never touched are not even read.
  *
  * Row identity is the table's MERGE KEYS (declared via the `merge.keys`
  * table property or inherited from the first keyed merge) — the same
  * equality-delete identity every other writer of the format uses, so
  * SQL updates, API merges, and CDC replication compose on one ledger.
  * Mirroring [[ManifestTable.mergeMoR]], every upsert row also writes
  * its NEW key to the delete file: an UPDATE that moves a row onto an
  * existing key replaces that row instead of duplicating it.
  *
  * Reference anchor: the reference's push-as-upsert loop
  * (core/pipeline.py:83) is this operation arriving over HTTP; here the
  * same row-level mutation arrives as ANSI SQL.
  */
class GraftRowLevelOperation(path: String, tableSchema: StructType,
    keyCols: Seq[String], cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  // the main version the statement reads AND commits against, pinned
  // once: the commit lands on it by the merge-on-read rebase rule, so a
  // row another writer commits for one of the statement's keys between
  // the scan and the commit fails the statement instead of being
  // silently hidden by its delete file
  private lazy val pinned: Option[Long] =
    Some(ManifestTable.latestVersion(path)).filter(_ > 0)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // branch-session DML: the discovery scan resolves the REF's
    // snapshot, so chained corrections see their own earlier branch
    // writes — the commit side (commitStagedDelta) publishes onto the
    // same ref. Conf off (or no such branch here) = main, as before.
    val snap = org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.graft.branch").map(_.trim).filter(_.nonEmpty)
      .flatMap(b => ManifestTable.resolveBranch(path, b))
    new GraftScanBuilder(path, snap.orElse(pinned), tableSchema)
  }

  override def rowId(): Array[NamedReference] =
    keyCols.map(Expressions.column).toArray

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val keySchema = info.rowIdSchema().orElse(
      StructType(keyCols.map(k => tableSchema(k).copy(nullable = false))))
    new GraftDeltaWriteBuilder(path, info.schema(), keySchema, keyCols,
      pinned)
  }
}

class GraftDeltaWriteBuilder(path: String, rowSchema: StructType,
    keySchema: StructType, keyCols: Seq[String],
    baseVersion: Option[Long]) extends DeltaWriteBuilder {
  override def build(): DeltaWrite =
    new GraftDeltaWrite(path, rowSchema, keySchema, keyCols, baseVersion)
}

class GraftDeltaWrite(path: String, rowSchema: StructType,
    keySchema: StructType, keyCols: Seq[String],
    baseVersion: Option[Long]) extends DeltaWrite
  with RequiresDistributionAndOrdering {

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(path, rowSchema, keySchema, keyCols, baseVersion)

  // OPTIMIZED WRITES (Delta's optimizeWrite / Iceberg's distribution
  // mode): cluster the delta rows by merge key before the writers run,
  // so AQE coalesces the shuffle to ~advisory-sized partitions and the
  // commit stages a few right-sized files instead of one (tiny) delete
  // + upsert file PER SCAN TASK — at 1000 executors an un-clustered
  // UPDATE would append thousands of KB-scale files per statement, the
  // small-files death spiral compaction exists to undo
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      keyCols.map(k => Expressions.column(k)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def advisoryPartitionSizeInBytes(): Long = 64L * 1024 * 1024
}

final case class GraftDeltaCommitMessage(upsertFiles: Seq[String],
    deleteFiles: Seq[String]) extends WriterCommitMessage

class GraftDeltaBatchWrite(path: String, rowSchema: StructType,
    keySchema: StructType, keyCols: Seq[String],
    baseVersion: Option[Long]) extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    // logical → physical names (column mapping): the delta files must
    // share the table's frozen physical schema; merge keys are refused
    // from renaming, so the key schema needs no translation
    GraftDeltaWriterFactory(
      ManifestTable.dataDirFor(path).toAbsolutePath.toString,
      ManifestTable.physicalWriteSchema(path, rowSchema), keySchema,
      GraftCatalog.readDeclaredCompression(Paths.get(path)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ups = messages.collect { case m: GraftDeltaCommitMessage => m.upsertFiles }
      .flatten.toSeq.sorted
    val dels = messages.collect { case m: GraftDeltaCommitMessage => m.deleteFiles }
      .flatten.toSeq.sorted
    try ManifestTable.commitStagedDelta(SparkSession.active, path, ups, dels,
      keyCols, baseVersion)
    catch { case e: Throwable => cleanup(ups ++ dels); throw e }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanup(messages.collect { case m: GraftDeltaCommitMessage =>
      m.upsertFiles ++ m.deleteFiles }.flatten.toSeq)

  // a failed/aborted write's files were never referenced by any
  // manifest — deleting them is cosmetic (vacuum would sweep them),
  // done eagerly so a failed UPDATE leaves no residue
  private def cleanup(files: Seq[String]): Unit = {
    val dir = Paths.get(path, "data")
    files.foreach(f => Files.deleteIfExists(dir.resolve(f)))
  }
}

case class GraftDeltaWriterFactory(dataDir: String, rowSchema: StructType,
    keySchema: StructType,
    codec: Option[String] = None) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaTaskWriter(dataDir, rowSchema, keySchema, codec)
}

/** One task's slice of a delta write: rows stream to at most two
  * parquet files (delete keys, upserts), opened lazily — a task whose
  * partition produced no deletes writes no delete file. */
class GraftDeltaTaskWriter(dataDir: String, rowSchema: StructType,
    keySchema: StructType, codec: Option[String] = None) extends DeltaWriter[InternalRow] {

  import org.apache.spark.sql.graft.ParquetRowWriter

  private var upsertName: String = _
  private var deleteName: String = _
  private var upserts: ParquetRowWriter.Writer = _
  private var deletes: ParquetRowWriter.Writer = _
  private var failed = false

  // new-key extraction for upsert rows (the mergeMoR "upsert keys
  // delete their old row" contract): project the key columns out of
  // the full row, in the delete file's column order
  private lazy val keyOfRow: UnsafeProjection = UnsafeProjection.create(
    keySchema.fields.map { f =>
      val i = rowSchema.fieldIndex(f.name)
      BoundReference(i, rowSchema(i).dataType, rowSchema(i).nullable): Expression
    })

  private def upsertWriter(): ParquetRowWriter.Writer = {
    if (upserts == null) {
      upsertName = s"${UUID.randomUUID()}.parquet"
      upserts = ParquetRowWriter.open(s"$dataDir/$upsertName", rowSchema, codec)
    }
    upserts
  }

  private def deleteWriter(): ParquetRowWriter.Writer = {
    if (deletes == null) {
      deleteName = s"del-${UUID.randomUUID()}.parquet"
      deletes = ParquetRowWriter.open(s"$dataDir/$deleteName", keySchema, codec)
    }
    deletes
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deleteWriter().write(id)

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    deleteWriter().write(id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    // the new key's delete entry lands at the same commit seq as the
    // upsert file, so it hides only OLDER rows of that key, never the
    // row being written
    deleteWriter().write(keyOfRow(row))
    upsertWriter().write(row)
  }

  override def commit(): WriterCommitMessage = {
    val msg = GraftDeltaCommitMessage(
      Option(upserts).filter(_.rowCount > 0).map(_ => upsertName).toSeq,
      Option(deletes).filter(_.rowCount > 0).map(_ => deleteName).toSeq)
    closeAll()
    msg
  }

  override def abort(): Unit = {
    failed = true
    closeAll()
    Seq(upsertName, deleteName).filter(_ != null).foreach(n =>
      Files.deleteIfExists(Paths.get(dataDir, n)))
  }

  override def close(): Unit = closeAll()

  private def closeAll(): Unit = {
    if (upserts != null) { upserts.close(); upserts = null }
    if (deletes != null) { deletes.close(); deletes = null }
  }
}
