package org.apache.spark.sql.graft

import java.nio.file.Paths

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** Executor-side parquet writing of [[InternalRow]]s, for writers that
  * receive rows imperatively instead of as a DataFrame action — the SQL
  * row-level delta path ([[org.apache.spark.sql.connector.write
  * .DeltaWriter]] hands each task its delete/update/insert rows one at a
  * time) and every stage-side task writer. Rows go through Spark's own
  * [[ParquetWriteSupport]] (the exact row→parquet codec every DataFrame
  * write uses, so staged files are byte-identical to what Spark's
  * `ParquetOutputWriter` writes: same logical types, same footer stats
  * the manifest harvests), configured the way
  * `ParquetFileFormat.prepareWrite` would. Lives in this bridge package
  * for the `private[sql]` surface.
  *
  * The file is created through java.nio ([[LocalOutputFile]]), not a
  * Hadoop `FileSystem`: graft tables live on the local filesystem (the
  * data dir is a `java.nio.file.Path`, publish is `Files.createLink`),
  * and the Hadoop route cost a defaults-parsing `new Configuration()`
  * plus, without the native hadoop lib, a forked `chmod` per staged
  * file. The conf below is built WITHOUT Hadoop's default resources: it
  * carries only the keys pinned here, all the write support reads.
  * Not used: parquet's `MemoryManager`, which shrinks row groups when
  * the writers of one JVM together exceed 95% of the heap. Staging
  * sizes each task to about one 128 MB row group, and the equivalence
  * spec pins the bytes of files below that size. */
object ParquetRowWriter {

  final class Writer private[ParquetRowWriter] (
      underlying: ParquetWriter[InternalRow]) {
    private var rows = 0L
    def write(row: InternalRow): Unit = { rows += 1; underlying.write(row) }
    def rowCount: Long = rows
    def close(): Unit = underlying.close()
  }

  private final class Builder(file: OutputFile)
    extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration)
        : ParquetWriteSupport = new ParquetWriteSupport
  }

  /** Open a parquet writer at `file` (an absolute local path) for rows
    * of `schema`. The file becomes readable only when closed; callers
    * own cleanup on abort. */
  def open(file: String, schema: StructType,
      codec: Option[String] = None): Writer = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration(false)
    ParquetWriteSupport.setSchema(schema, conf)
    // the write-path session confs ParquetWriteSupport/the schema
    // converter read (they Configuration.get these with no fallback) —
    // pinned to the SQLConf defaults, i.e. exactly what an ordinary
    // DataFrame write under an untouched session produces
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE)
      .foreach(e => conf.set(e.key, e.defaultValueString))
    // FORMAT INVARIANT (the Iceberg choice): graft tables store
    // timestamps as INT64 epoch MICROS, never INT96 — INT96 footer
    // statistics are deprecated/unordered, so created_at/updated_at
    // windows over an INT96 table could never skip a file. Spark's
    // vectorized reader consumes INT64 micros natively.
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    // the table's declared write.compression (resolved driver-side and
    // passed through the writer factory); "none" is parquet UNCOMPRESSED
    val codecName = CompressionCodecName.fromConf(
      codec.map(c => if (c == "none") "uncompressed" else c)
        .getOrElse("snappy"))
    new Writer(new Builder(new LocalOutputFile(Paths.get(file)))
      .withConf(conf)
      .withCompressionCodec(codecName)
      .build())
  }
}
