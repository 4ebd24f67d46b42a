package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** PER-FILE BLOOM-FILTER INDEX for [[ManifestTable]] — the file-skipping
  * companion min/max stats cannot provide: a point predicate on a column
  * whose values are SCATTERED across files (foreign keys, ids, emails —
  * anything not clustered by the layout) survives every min/max range,
  * so a 100 TB point lookup scans the table. A per-(data file, column)
  * Bloom filter answers "might this file contain v?" from KBs of
  * metadata; files whose filter says NO are provably skippable (Bloom
  * filters have no false negatives). This is Delta's Bloom filter index
  * shape, on this manifest format.
  *
  * Layout: sidecar files `<table>/_bloom/<dataFile>.<col>.bloom`, each a
  * tiny header (the column's Catalyst type, so query literals hash the
  * same way) + the filter's serialized bytes. Data files are immutable
  * and uniquely named, so a sidecar stays valid for the file's entire
  * life across any number of versions; files rewritten by merge or
  * compaction get new names and simply read as UNINDEXED (conservative)
  * until the next incremental [[build]]. MoR deletes only REMOVE rows,
  * so "filter says absent" stays a sound skip under any delete ledger.
  *
  * Build is ONE distributed pass per call: partitions fold their rows
  * into partial filters keyed by (file, column) — sized from the
  * manifest's per-file row counts — and the driver merges and writes
  * the KB-scale sidecars. Already-indexed files are skipped, so a
  * nightly build after appends costs O(new files). */
object BloomIndex {

  private def indexDir(path: String): Path = Paths.get(path, "_bloom")

  private def sidecar(path: String, file: String, col: String): Path =
    indexDir(path).resolve(s"$file.$col.bloom")

  /** Columns of `path`'s current version already indexed per file. */
  def indexedFiles(path: String, col: String): Set[String] = {
    val d = indexDir(path)
    if (!Files.isDirectory(d)) Set.empty
    else Using.resource(Files.list(d)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.endsWith(s".$col.bloom") =>
          n.stripSuffix(s".$col.bloom") }
        .toSet
    }
  }

  /** Build missing per-file filters for `cols` over the CURRENT version.
    * Returns the number of (file, column) sidecars written. `fpp` is the
    * false-positive rate at the file's row count (false positives cost a
    * wasted scan, never a wrong result). Large tables build in bounded
    * batches of `filesPerPass` files: driver memory per pass is
    * O(filesPerPass · cols · filterBytes), never O(table files) — a
    * 10,000-file table indexes in ~160 passes of flat memory. */
  def build(spark: SparkSession, path: String, cols: Seq[String],
      fpp: Double = 0.01, filesPerPass: Int = 64): Int = {
    require(cols.nonEmpty, "need at least one column to index")
    require(filesPerPass > 0)
    val files = ManifestTable.dataFiles(path)
    val unindexed = files.filter(f =>
      cols.exists(c => !indexedFiles(path, c).contains(f)))
    if (unindexed.isEmpty) return 0
    unindexed.grouped(filesPerPass)
      .map(batch => buildPass(spark, path, cols, batch, fpp)).sum
  }

  private def buildPass(spark: SparkSession, path: String,
      cols: Seq[String], files: Seq[String], fpp: Double): Int = {
    val rowsByFile: Map[String, Long] = ManifestTable.fileRows(path)
    val missingByCol: Map[String, Set[String]] =
      cols.map(c => c -> files.filterNot(indexedFiles(path, c)).toSet).toMap
    if (missingByCol.values.forall(_.isEmpty)) return 0
    val scan = ManifestTable.footerFrame(spark, path, files)
    val schema = scan.schema
    val colTypes: Map[String, org.apache.spark.sql.types.DataType] =
      cols.map(c => c -> schema(c).dataType).toMap
    // rows carry (file basename, xxhash64 per indexed column) — the
    // filter stores 8-byte hashes, making the index type-agnostic while
    // the stored header pins the type query literals must cast to
    val hashed = scan.select(
      element_at(split(input_file_name(), "/"), -1).as("__f") +:
        cols.map(c => xxhash64(col(c)).as(s"__h_$c")): _*)
    val nCols = cols.length
    val expected = files.map(f => f -> math.max(64L,
      rowsByFile.getOrElse(f, 1000000L))).toMap
    val bExpected = spark.sparkContext.broadcast(expected)
    val bMissing = spark.sparkContext.broadcast(missingByCol)
    val bCols = spark.sparkContext.broadcast(cols)
    // partial filters per partition, merged driver-side: each is
    // O(expected · log(1/fpp)) BITS — KBs for file-sized row counts
    val partials: Array[((String, String), Array[Byte])] = hashed.rdd
      .mapPartitions { it =>
        val acc = scala.collection.mutable.Map[(String, String), BloomFilter]()
        it.foreach { row =>
          if (!row.isNullAt(0)) {
            val f = row.getString(0)
            var i = 0
            while (i < nCols) {
              val c = bCols.value(i)
              if (bMissing.value(c).contains(f) && !row.isNullAt(i + 1)) {
                val bf = acc.getOrElseUpdate((f, c), BloomFilter.create(
                  bExpected.value.getOrElse(f, 1000000L), fpp))
                bf.putLong(row.getLong(i + 1))
              }
              i += 1
            }
          }
        }
        acc.iterator.map { case (k, bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (k, bos.toByteArray)
        }
      }.collect()
    val merged = partials.groupBy(_._1).map { case (k, parts) =>
      val bf = parts.map { case (_, bytes) =>
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
      }.reduce { (a, b) => a.mergeInPlace(b); a }
      k -> bf
    }
    Files.createDirectories(indexDir(path))
    var written = 0
    merged.foreach { case ((f, c), bf) =>
      val t = colTypes(c).json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      dos.writeInt(t.length); dos.write(t)
      bf.writeTo(dos)
      val tmp = indexDir(path).resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, bos.toByteArray)
      Files.move(tmp, sidecar(path, f, c),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      written += 1
    }
    // a file whose missing columns produced NO partial (empty file or
    // all-null column) still gets a sidecar — an empty filter, which
    // prunes it for every probe (sound: it holds no matching row)
    cols.foreach { c =>
      missingByCol(c).foreach { f =>
        if (!merged.contains((f, c)) && !Files.exists(sidecar(path, f, c))) {
          val bf = BloomFilter.create(64, 0.01)
          val t = colTypes(c).json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bos = new java.io.ByteArrayOutputStream()
          val dos = new java.io.DataOutputStream(bos)
          dos.writeInt(t.length); dos.write(t)
          bf.writeTo(dos)
          val tmp = indexDir(path).resolve(s".tmp-${java.util.UUID.randomUUID()}")
          Files.write(tmp, bos.toByteArray)
          Files.move(tmp, sidecar(path, f, c),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          written += 1
        }
      }
    }
    written
  }

  /** "Might `file` contain `value` in `col`?" — false when the sidecar
    * PROVES absence; true when it says maybe, or when no sidecar exists
    * (unindexed = conservative). The probe hashes the literal exactly as
    * the build hashed the column: cast to the stored Catalyst type, then
    * XxHash64 — a type mismatch (Int literal probing a Long column)
    * must not silently miss. */
  def mightContain(path: String, file: String, col: String,
      value: Any): Boolean = {
    val p = sidecar(path, file, col)
    if (!Files.exists(p)) return true
    val bytes = Files.readAllBytes(p)
    val din = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val tLen = din.readInt()
    val tBytes = new Array[Byte](tLen)
    din.readFully(tBytes)
    val dt = org.apache.spark.sql.types.DataType.fromJson(
      new String(tBytes, java.nio.charset.StandardCharsets.UTF_8))
    val bf = BloomFilter.readFrom(din)
    hashAs(value, dt) match {
      case Some(h) => bf.mightContain(h)
      case None    => true // uncastable literal: cannot prove absence
    }
  }

  /** xxhash64 of `value` as Catalyst would hash a `dt`-typed column —
    * evaluated driver-side through the same expression. */
  private def hashAs(value: Any,
      dt: org.apache.spark.sql.types.DataType): Option[Long] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
      val lit = Literal.create(value,
        org.apache.spark.sql.catalyst.expressions.Literal(value).dataType)
      val cast = if (lit.dataType == dt) lit
        else Cast(lit, dt, Some(java.time.ZoneOffset.UTC.getId))
      val v = cast.eval(null)
      if (v == null) None
      else Some(new XxHash64(Seq(Literal.create(v, dt))).eval(null)
        .asInstanceOf[Long])
    } catch { case _: Exception => None }

  /** The files of the current (or given) version a probe for `conds`
    * must scan, after BOTH min/max stats AND Bloom pruning. Only Eq and
    * In conditions consult the filters (range predicates are what the
    * min/max stats are for); a file is dropped only when some condition
    * PROVES it empty. */
  def pruneFiles(path: String, conds: Seq[graft.conditions.Condition],
      version: Option[Long] = None): Seq[String] = {
    import graft.conditions.Op
    val stats = ManifestTable.statsSurvivors(path, conds, version)
    stats.filter { f =>
      conds.forall { c =>
        c.op match {
          case Op.Eq => mightContain(path, f, c.field, c.value)
          case Op.In => c.value match {
            case xs: Iterable[_] =>
              xs.isEmpty || xs.exists(x => mightContain(path, f, c.field, x))
            case x => mightContain(path, f, c.field, x)
          }
          case _ => true
        }
      }
    }
  }

  /** Delete sidecars whose data file no longer exists (vacuumed) —
    * run after [[ManifestTable.vacuum]]. Returns names removed. */
  def vacuum(path: String): Seq[String] = {
    val orphans = orphanSidecars(path, Set.empty)
    orphans.foreach(n => Files.delete(indexDir(path).resolve(n)))
    orphans
  }

  /** The sidecars [[vacuum]] would reap, plus those whose data file is
    * in `dying` (about to be reaped) — the DRY RUN preview's view. */
  private[sources] def orphanSidecars(path: String,
      dying: Set[String]): Seq[String] = {
    val d = indexDir(path)
    if (!Files.isDirectory(d)) return Seq.empty
    val dataDir = Paths.get(path, "data")
    Using.resource(Files.list(d)) { st =>
      st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        // <dataFile>.<col>.bloom → dataFile is everything before the
        // second-to-last dot group; data files contain no further dots
        // after their uuid.parquet prefix, so strip two suffix segments
        val parts = n.split("\\.")
        parts.length >= 3 && {
          val dataFile = parts.dropRight(2).mkString(".")
          dying.contains(dataFile) || !Files.exists(dataDir.resolve(dataFile))
        }
      }.map(_.getFileName.toString).toSeq
    }
  }
}
