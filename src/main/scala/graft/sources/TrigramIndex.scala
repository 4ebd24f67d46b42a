package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** PER-FILE TRIGRAM INDEX for [[ManifestTable]] — file skipping for
  * SUBSTRING predicates, the filter family neither min/max stats nor
  * the value-level [[BloomIndex]] can touch: `contains(col, term)`
  * (SQL `LIKE '%term%'`) matches values no point hash ever saw. This
  * is pg_trgm / ClickHouse `ngrambf_v1` on the manifest format: each
  * sidecar is a Bloom filter over the DISTINCT character TRIGRAMS of a
  * file's column values. A value containing `term` necessarily
  * contains every trigram of `term`, so a file whose filter lacks ANY
  * probe trigram provably holds no match — no false negatives; false
  * positives cost a scanned file, never a wrong row (the residual
  * filter always runs).
  *
  * The win case is file-CLUSTERED text — URLs by crawl shard, logs by
  * service, docs by source — where a rare probe trigram localizes to
  * few files. Hash-scattered short keys are [[BloomIndex]]'s territory
  * (every trigram lands in every file); the two sidecars compose.
  *
  * Same lifecycle as [[BloomIndex]]: sidecars under
  * `<table>/_trigram/`, keyed by immutable data-file name, built
  * incrementally (new files only) in one distributed pass of bounded
  * batches; rewritten files read as unindexed (conservative) until the
  * next build; MoR deletes only remove rows, so a proven absence stays
  * sound. Probes shorter than 3 characters are unprunable and keep
  * every file.
  */
object TrigramIndex {

  private def indexDir(path: String): Path = Paths.get(path, "_trigram")

  private def sidecar(path: String, file: String, col: String): Path =
    indexDir(path).resolve(s"$file.$col.tri")

  /** Sliding 3-char windows of `s` (distinct). */
  def trigrams(s: String): Set[String] =
    if (s == null || s.length < 3) Set.empty
    else (0 to s.length - 3).map(i => s.substring(i, i + 3)).toSet

  /** Files of the current version already indexed for `col`. */
  def indexedFiles(path: String, col: String): Set[String] = {
    val d = indexDir(path)
    if (!Files.isDirectory(d)) Set.empty
    else Using.resource(Files.list(d)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.endsWith(s".$col.tri") =>
          n.stripSuffix(s".$col.tri") }
        .toSet
    }
  }

  /** Build missing per-file trigram filters for `col` over the CURRENT
    * version; returns sidecars written. Incremental and batched like
    * [[BloomIndex.build]]: O(filesPerPass · filterBytes) driver memory
    * per pass. The filter is sized for distinct-trigram counts, which
    * saturate far below rows × value length — `expectedPerRow` caps
    * the estimate. */
  def build(spark: SparkSession, path: String, col: String,
      fpp: Double = 0.01, filesPerPass: Int = 64,
      expectedPerRow: Long = 64L): Int = {
    require(filesPerPass > 0)
    val files = ManifestTable.dataFiles(path)
    val done = indexedFiles(path, col)
    val unindexed = files.filterNot(done)
    if (unindexed.isEmpty) return 0
    unindexed.grouped(filesPerPass)
      .map(batch => buildPass(spark, path, col, batch, fpp, expectedPerRow))
      .sum
  }

  private def buildPass(spark: SparkSession, path: String, col: String,
      files: Seq[String], fpp: Double, expectedPerRow: Long): Int = {
    val rowsByFile = ManifestTable.fileRows(path)
    val scan = ManifestTable.footerFrame(spark, path, files)
      .select(element_at(split(input_file_name(), "/"), -1).as("__f"),
        org.apache.spark.sql.functions.col(col).cast("string").as("__v"))
    val expected = files.map(f => f -> math.min(1L << 22, math.max(1024L,
      rowsByFile.getOrElse(f, 100000L) * expectedPerRow))).toMap
    val bExpected = spark.sparkContext.broadcast(expected)
    val partials: Array[(String, Array[Byte])] = scan.rdd
      .mapPartitions { it =>
        val acc = scala.collection.mutable.Map[String, BloomFilter]()
        it.foreach { row =>
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            val f = row.getString(0)
            val bf = acc.getOrElseUpdate(f, BloomFilter.create(
              bExpected.value.getOrElse(f, 1000000L), fpp))
            trigrams(row.getString(1)).foreach(bf.putString)
          }
        }
        acc.iterator.map { case (f, bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (f, bos.toByteArray)
        }
      }.collect()
    val merged = partials.groupBy(_._1).map { case (f, parts) =>
      f -> parts.map { case (_, bytes) =>
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
      }.reduce { (a, b) => a.mergeInPlace(b); a }
    }
    Files.createDirectories(indexDir(path))
    var written = 0
    files.foreach { f =>
      // empty/all-null files get an empty filter: prunes every probe,
      // soundly (no value, no trigram, no match)
      val bf = merged.getOrElse(f, BloomFilter.create(64, 0.01))
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val tmp = indexDir(path).resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, bos.toByteArray)
      Files.move(tmp, sidecar(path, f, col),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      written += 1
    }
    written
  }

  /** "Might `file` hold a value containing `term`?" — false only when
    * the sidecar proves some trigram of `term` absent. Unindexed files
    * and sub-trigram terms answer true (conservative). */
  def mightContainSubstring(path: String, file: String, col: String,
      term: String): Boolean = {
    val tris = trigrams(term)
    if (tris.isEmpty) return true
    val p = sidecar(path, file, col)
    if (!Files.exists(p)) return true
    val bf = Using.resource(Files.newInputStream(p))(BloomFilter.readFrom)
    tris.forall(bf.mightContainString)
  }

  /** Files of the current version a `contains(col, term)` scan must
    * read. */
  def pruneFiles(path: String, col: String, term: String): Seq[String] =
    ManifestTable.dataFiles(path)
      .filter(f => mightContainSubstring(path, f, col, term))

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
        val parts = p.getFileName.toString.split("\\.")
        parts.length >= 3 && {
          val dataFile = parts.dropRight(2).mkString(".")
          dying.contains(dataFile) || !Files.exists(dataDir.resolve(dataFile))
        }
      }.map(_.getFileName.toString).toSeq
    }
  }
}
