package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Minimal transactional table format — the commit-protocol half of
  * Delta/Iceberg, built from primitives this container has (the format
  * jars are absent; the PROTOCOL is the transferable part):
  *
  *  - data files land under `data/` with unique names and are INVISIBLE
  *    until a manifest names them;
  *  - a commit is the atomic creation of `_manifests/v<N>.json` naming
  *    the table's complete current file set — readers resolve one
  *    manifest and see exactly one version, never a mix, never
  *    uncommitted files;
  *  - `Files.createFile` on the next version is the optimistic
  *    concurrency check (it throws if the version exists): a losing
  *    writer re-reads the new latest and retries on top — Delta's
  *    mutual-exclusion-on-log-entry, verbatim;
  *  - commits carry an optional `commitId`; re-committing an id that
  *    already landed is a NO-OP returning the original version — the
  *    exactly-once contract for replayed streaming micro-batches
  *    (StreamSync's idempotence generalized beyond partition overwrite);
  *  - old manifests stay → time travel by version; `vacuum` deletes
  *    data files no surviving manifest references.
  *
  * Single-filesystem scope: atomicity comes from POSIX create/rename. On
  * an object store the same protocol rides a conditional PUT — the
  * structure of commit/read/retry is unchanged. */
/** [[ManifestTable]] as a [[Warehouse]]: resources are transactional
  * tables under `baseDir/<resource>`, so the SAME pull/push configs that
  * target parquet/csv/json warehouses get versioned atomic commits —
  * `SaveMode.Append` is an append commit, anything else an overwrite
  * commit. */
final case class ManifestWarehouse(name: String, baseDir: String,
    auth: Auth = Auth.None) extends Warehouse with PrunedReads {
  private def path(resource: String) = s"$baseDir/$resource"
  override def read(spark: SparkSession, resource: String): DataFrame =
    ManifestTable.read(spark, path(resource))
  override def readWhere(spark: SparkSession, resource: String,
      conds: Seq[graft.conditions.Condition]): DataFrame =
    ManifestTable.readWhere(spark, path(resource), conds)
  override def write(df: DataFrame, resource: String,
      mode: org.apache.spark.sql.SaveMode): Unit = {
    if (mode == org.apache.spark.sql.SaveMode.Append)
      ManifestTable.append(df, path(resource))
    else ManifestTable.overwrite(df, path(resource))
    ()
  }
}

object ManifestTable {

  private def manifestDir(path: String): Path = Paths.get(path, "_manifests")
  private def dataDir(path: String): Path = Paths.get(path, "data")

  /** Manifest file entries are normally bare names under `data/`;
    * SHALLOW CLONES reference another table's files by ABSOLUTE path
    * (Path.resolve passes absolute entries through untouched). Row-level
    * machinery that matches manifest entries against
    * `input_file_name()` must therefore compare BASENAMES — unique even
    * across tables (UUID-named). */
  private def baseName(f: String): String =
    f.substring(f.lastIndexOf('/') + 1)

  /** Per-file per-column min/max, harvested from the parquet FOOTER the
    * file was written with (metadata-only — no data re-read). `numeric`
    * marks values that compare as numbers; strings compare
    * lexicographically, which matches parquet's UTF8 stat ordering.
    * `unit` names the CANONICAL unit a numeric bound is stored in when
    * the raw footer value needs normalization to compare against
    * predicate values — "us" = epoch micros (TIMESTAMP columns; MILLIS
    * footers scale ×1000 at harvest). DATE bounds store epoch days but
    * predate the field, so they keep unit=None and [[numValue]]'s
    * day normalization (old manifests parse identically). */
  final case class ColStats(min: String, max: String, numeric: Boolean,
      unit: Option[String] = None,
      // per-file NULL count (Iceberg's null_value_counts): lets
      // `IS NULL` prune files with zero nulls. unit="allnull" marks a
      // column that is ENTIRELY null in the file (min/max are empty
      // placeholders, never compared): `IS NOT NULL` and every
      // null-rejecting comparison prune such files outright — the
      // sparse-column scan ("rows missing enrichment") at 100 TB
      nulls: Option[Long] = None)

  /** `seqs`: the commit sequence (= manifest version) each data file was
    * ADDED at; absent (legacy manifests) means 0. `deletes`: merge-on-read
    * delete files — each a small parquet of merge keys staged at commit
    * seq s, hiding matching rows in every data file with seq < s. The
    * pair is the Iceberg equality-delete model: a k-row merge commits
    * O(k) delete bytes and zero rewritten data files; reads reconcile;
    * compaction folds the deletes back into data. */
  /** `constraints`: table-level CHECK expressions (SQL strings) every
    * written row must satisfy — the Delta invariants model. Metadata
    * carried manifest-to-manifest; absent in older manifests = none. */
  /** `commitTs`: commit wall-time, stamped into the manifest at render
    * so it survives copy/restore/rsync (file mtimes do not — the reason
    * Delta records commit times in-file); absent in legacy manifests →
    * timestamp time travel falls back to the file mtime. */
  /** `deleteStats`: per-DELETE-FILE key-column min/max (same footer
    * harvest as `stats`) — what SCOPES each delete file to the data
    * files it can possibly hit. A delete at seq s with key range [a,b]
    * cannot touch a data file whose stats prove its keys lie outside
    * [a,b]; reads of such files skip MoR reconciliation entirely, so the
    * reconcile cost tracks the deletes' key locality, not the ledger
    * size (the Iceberg/Delta per-file DV model at equality-delete
    * granularity). Absent for legacy manifests → every delete
    * conservatively scopes to every older file (the old behavior). */
  /** `rows`: per-file ROW COUNTS (data AND delete files, from the same
    * footer harvest as `stats`) — what lets the scan expose a LIVE-size
    * estimate to join planning: after a MoR merge hides most of a
    * table, physical file bytes wildly overestimate the live data, and
    * a join that should broadcast gets planned as a shuffle. Absent in
    * legacy manifests → no estimate, reads plan exactly as before. */
  /** `bytes`: per-file PHYSICAL SIZES, recorded once at commit render
    * ([[render]] fills any missing entry with one local stat of the
    * just-staged file). Every plan-time size consumer — broadcast
    * hinting, compaction minFill selection, DESCRIBE DETAIL, the
    * maintenance planner — reads these instead of statting the
    * filesystem per file: free locally, but on object storage a
    * per-file stat is a HEAD request, and O(files) HEADs per planning
    * decision is the 100 TB tax this field removes. Absent entries
    * (legacy manifests) fall back to a stat. */
  final case class Manifest(version: Long, files: Seq[String],
      commitId: Option[String], parent: Long,
      stats: Map[String, Map[String, ColStats]] = Map.empty,
      seqs: Map[String, Long] = Map.empty,
      deletes: Seq[(String, Long)] = Seq.empty,
      constraints: Seq[String] = Seq.empty,
      commitTs: Option[Long] = None,
      deleteStats: Map[String, Map[String, ColStats]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      mergeKeys: Seq[String] = Seq.empty,
      // Delta's dataChange flag: false marks a MAINTENANCE commit
      // (compaction / ledger fold) that rearranges bytes without
      // changing the table's logical rows — streaming tails skip it
      dataChange: Boolean = true,
      // GENERATED columns (Delta's): (name, SQL expression) pairs —
      // absent in the source a write computes them, present they must
      // match; table metadata like constraints, surviving every commit
      generated: Seq[(String, String)] = Seq.empty,
      // Delta's setTransaction ledger: appId → highest applied epoch.
      // Carried forward on every commit, so an idempotent streaming
      // writer answers "did epoch N land?" from the LATEST manifest
      // alone — O(1) per commit, where a commit-id replay scan is
      // O(versions) and grows with stream lifetime
      txns: Map[String, Long] = Map.empty,
      // COLUMN MAPPING (Delta's name-mapping mode): a column's PHYSICAL
      // name — what the parquet files carry — is frozen at birth;
      // RENAME COLUMN only changes the logical name (`renames`:
      // logical → physical, entries only where they differ) and DROP
      // COLUMN only hides the physical column (`droppedCols`). Both are
      // metadata-only commits: zero files rewritten, time travel shows
      // each version under its own names. Carried forward like
      // constraints/mergeKeys.
      renames: Map[String, String] = Map.empty,
      droppedCols: Seq[String] = Seq.empty,
      bytes: Map[String, Long] = Map.empty,
      // CONFLICT-REBASE observability: when this commit landed by
      // adopting already-staged work onto a moved head (a lost optimistic
      // claim resolved metadata-only), the version the work was staged
      // against. DESCRIBE HISTORY surfaces it so a 100 TB operator can
      // audit table contention; None = landed first try or re-ran.
      rebasedFrom: Option[Long] = None)

  private def q(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // ── SEGMENTED FILE LISTS ──────────────────────────────────────────
  // A manifest is logically self-contained (one parse yields the whole
  // snapshot — O(1) version resolution, no log replay), but rendering
  // the FULL per-file entry list on every commit is O(table) metadata
  // bytes per commit: at 100 TB / ~10⁶ files a one-row append would
  // rewrite hundreds of MB of JSON. Iceberg's answer is manifest
  // files + a manifest list; the same shape here: per-file entries
  // (name, seq, rows, stats — all IMMUTABLE once the file enters the
  // table) spill into immutable `seg-<uuid>.json` files, and each
  // manifest references parent segments (with a per-segment drop list
  // for removed files) plus a small inline tail. Commit cost becomes
  // O(changes + refs): appends reuse the parent's segments verbatim,
  // the tail spills to a new segment past [[SegSpillThreshold]], and a
  // segment whose drop list passes half dissolves back inline (bounding
  // drop-list growth). Readers resolve segments through an id-keyed
  // cache — segments are immutable, so the cache never goes stale.

  private type Layout = Seq[(String, Seq[String])] // (segId, dropped names)

  private final case class SegEntry(name: String, seq: Option[Long],
      rows: Option[Long], stats: Option[Map[String, ColStats]],
      bytes: Option[Long] = None)
  private final case class SegData(data: Seq[SegEntry], deletes: Seq[SegEntry])

  /** Inline entries (data + delete files) above which a commit folds
    * them into a new segment file. Low enough for specs to exercise the
    * spill; at production file counts any value ≪ table size works —
    * the amortized commit cost is O(threshold + segments). */
  private[sources] val SegSpillThreshold = 24

  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, Layout]()
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, SegData]()

  private def segFile(path: String, id: String): Path =
    manifestDir(path).resolve(s"seg-$id.json")

  private def statsObj(cols: Map[String, ColStats]): String =
    "{" + cols.toSeq.sortBy(_._1).map { case (c, st) =>
      // unit rides as an optional 4th element (string), the null count
      // as an optional 5th (number; slot 4 renders JSON null when a
      // count exists without a unit) — absent for plain bounds, so old
      // manifests parse byte-identical and old parsers skip the tail
      val tail = (st.unit, st.nulls) match {
        case (None, None)       => ""
        case (Some(u), None)    => s",${q(u)}"
        case (u, Some(n))       => s",${u.map(q).getOrElse("null")},$n"
      }
      q(c) + s":[${q(st.min)},${q(st.max)},${st.numeric}$tail]"
    }.mkString(",") + "}"

  private def writeSeg(path: String, data: Seq[SegEntry],
      deletes: Seq[SegEntry]): String = {
    val id = UUID.randomUUID().toString
    def entry(e: SegEntry): String =
      s"""{"f":${q(e.name)},"seq":${e.seq.map(_.toString).getOrElse("null")},""" +
        s""""rows":${e.rows.map(_.toString).getOrElse("null")},""" +
        s""""bytes":${e.bytes.map(_.toString).getOrElse("null")},""" +
        s""""stats":${e.stats.map(statsObj).getOrElse("null")}}"""
    Files.writeString(segFile(path, id),
      s"""{"data":[${data.map(entry).mkString(",")}],""" +
        s""""deletes":[${deletes.map(entry).mkString(",")}]}""")
    id
  }

  private def loadSeg(path: String, id: String): SegData = {
    val p = segFile(path, id).toAbsolutePath.toString
    val hit = segCache.get(p)
    if (hit != null) return hit
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(Paths.get(p)))
    def entries(v: JValue): Seq[SegEntry] = v match {
      case JArray(es) => es.collect { case o: JObject =>
        SegEntry((o \ "f").extract[String],
          (o \ "seq").extractOpt[Long],
          (o \ "rows").extractOpt[Long],
          bytes = (o \ "bytes").extractOpt[Long],
          stats = (o \ "stats") match {
            case JObject(cs) => Some(cs.collect {
              case (c, JArray(mn :: mx :: num :: rest)) =>
                c -> ColStats(mn.extract[String], mx.extract[String],
                  num.extract[Boolean],
                  rest.collectFirst { case JString(u) => u },
                  rest.collectFirst { case JInt(n) => n.toLong
                    case JLong(n) => n })
            }.toMap)
            case _ => None
          })
      }
      case _ => Seq.empty
    }
    val sd = SegData(entries(j \ "data"), entries(j \ "deletes"))
    if (segCache.size > 65536) segCache.clear()
    segCache.put(p, sd)
    sd
  }

  /** The segment layout a version was PUBLISHED with (empty for fully
    * inline manifests) — the successor commit's reuse baseline. */
  private def layoutOf(path: String, version: Long): Layout = {
    val p = manifestDir(path).resolve(f"v$version%08d.json")
    if (!Files.isRegularFile(p)) return Seq.empty
    parse(p) // warms both caches
    val key = cacheKey(p)
    val hit = layoutCache.get(key)
    if (hit != null) hit
    else {
      // a concurrent cache clear can evict the layout between parse's
      // two puts — force a clean re-parse rather than serving "empty"
      // (an empty layout makes every referenced segment look orphaned)
      parseCache.remove(key)
      parse(p)
      layoutCache.getOrDefault(key, Seq.empty)
    }
  }

  private def render(path: String, m0r: Manifest): String =
      CommitProfile.timed("render") {
    // record any missing per-file byte size HERE, once, at commit
    // render: the only point every referenced file is guaranteed local
    // and every commit path flows through. One stat per NEWLY-staged
    // file (carried files arrive with their recorded sizes); a file the
    // stat cannot reach stays absent and consumers fall back.
    val m = m0r.copy(bytes = m0r.bytes ++
      (m0r.files ++ m0r.deletes.map(_._1)).filterNot(m0r.bytes.contains)
        .flatMap(f => scala.util.Try(
          Files.size(dataDir(path).resolve(f))).toOption.map(f -> _)))
    val parentLayout: Layout =
      if (m.parent <= 0) Seq.empty else layoutOf(path, m.parent)
    val dataSet = m.files.toSet
    val delSet = m.deletes.map(_._1).toSet
    val covered = scala.collection.mutable.HashSet[String]()
    val refs = scala.collection.mutable.ArrayBuffer[(String, Seq[String])]()
    parentLayout.foreach { case (id, drop) =>
      val seg = loadSeg(path, id)
      val base = seg.data.map(_.name) ++ seg.deletes.map(_.name)
      val dropSet = drop.toSet
      val active = base.filterNot(dropSet)
      val retained =
        active.filter(n => (dataSet(n) || delSet(n)) && !covered(n))
      if (retained.size == active.size) {
        refs += ((id, drop)); covered ++= retained
      } else if (retained.size * 2 >= active.size && retained.nonEmpty) {
        // widen the drop list; past half the segment dissolves instead
        // (its survivors fall through to the inline tail) so drop lists
        // never dominate the entries they exclude
        val keep = retained.toSet
        refs += ((id, base.filterNot(keep).distinct))
        covered ++= retained
      }
    }
    var inlineData = m.files.filterNot(covered)
    var inlineDeletes = m.deletes.filterNot(d => covered(d._1))
    if (inlineData.size + inlineDeletes.size >= SegSpillThreshold) {
      val id = writeSeg(path,
        inlineData.map(f =>
          SegEntry(f, m.seqs.get(f), m.rows.get(f), m.stats.get(f),
            m.bytes.get(f))),
        inlineDeletes.map { case (f, s) =>
          SegEntry(f, Some(s), m.rows.get(f), m.deleteStats.get(f),
            m.bytes.get(f)) })
      refs += ((id, Seq.empty))
      inlineData = Seq.empty
      inlineDeletes = Seq.empty
    }
    val segsJson = refs.map { case (id, drop) =>
      s"""{"id":${q(id)},"drop":[${drop.map(q).mkString(",")}]}"""
    }.mkString(",")
    renderInline(m.copy(files = inlineData, deletes = inlineDeletes), segsJson)
  }

  /** The JSON body over the manifest's INLINE entries (the pre-segment
    * format, plus the `segs` references). */
  private def renderInline(m: Manifest, segsJson: String): String = {
    def statsJson(files: Seq[String],
        stats: Map[String, Map[String, ColStats]]): String =
      files.flatMap(f => stats.get(f).map(cols => q(f) + ":" + statsObj(cols)))
        .mkString(",")
    val seqsJson = m.files.flatMap(f => m.seqs.get(f).map(s => q(f) + s":$s"))
      .mkString(",")
    val delJson = m.deletes.map { case (f, s) => s"[${q(f)},$s]" }.mkString(",")
    s"""{"version":${m.version},"parent":${m.parent},""" +
      s""""commit_ts":${m.commitTs.getOrElse(System.currentTimeMillis())},""" +
      s""""commit_id":${m.commitId.map(q).getOrElse("null")},""" +
      s""""segs":[$segsJson],""" +
      s""""files":[${m.files.map(q).mkString(",")}],""" +
      s""""stats":{${statsJson(m.files, m.stats)}},""" +
      s""""seqs":{$seqsJson},"deletes":[$delJson],""" +
      s""""delete_stats":{${statsJson(m.deletes.map(_._1), m.deleteStats)}},""" +
      s""""rows":{${(m.files ++ m.deletes.map(_._1)).flatMap(f =>
        m.rows.get(f).map(n => q(f) + s":$n")).mkString(",")}},""" +
      s""""bytes":{${(m.files ++ m.deletes.map(_._1)).flatMap(f =>
        m.bytes.get(f).map(n => q(f) + s":$n")).mkString(",")}},""" +
      s""""constraints":[${m.constraints.map(q).mkString(",")}],""" +
      s""""data_change":${m.dataChange},""" +
      s""""generated":{${m.generated.map { case (c, e) =>
        q(c) + ":" + q(e) }.mkString(",")}},""" +
      s""""txns":{${m.txns.toSeq.sortBy(_._1).map { case (a, e) =>
        q(a) + s":$e" }.mkString(",")}},""" +
      s""""renames":{${m.renames.toSeq.sortBy(_._1).map { case (l, p) =>
        q(l) + ":" + q(p) }.mkString(",")}},""" +
      s""""dropped_cols":[${m.droppedCols.map(q).mkString(",")}],""" +
      m.rebasedFrom.map(v => s""""rebased_from":$v,""").getOrElse("") +
      s""""merge_keys":[${m.mergeKeys.map(q).mkString(",")}]}"""
  }

  // Manifests are immutable once published (atomic link/rename, never
  // rewritten), so parsed forms are cached — the commit replay check
  // scans N manifests per commit, and without the cache an N-batch
  // stream pays O(N^2) JSON parses. The key carries size+mtime so a
  // table dropped OUT-OF-BAND (rm -rf) and re-created at the same path
  // never serves a stale manifest to a long-running service: the
  // re-created v<N>.json has a different mtime and misses the cache.
  private val parseCache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  private def cacheKey(p: Path): String = {
    val abs = p.toAbsolutePath.toString
    s"$abs:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
  }

  private def parse(p: Path): Manifest = {
    // a no-hardlink publish claims the version with an empty placeholder
    // before the atomic content rename ([[publish]] fallback) — a reader
    // landing in that microsecond window waits it out instead of failing
    var spins = 0
    while (Files.size(p) == 0 && spins < 200) { Thread.sleep(5); spins += 1 }
    val key = cacheKey(p)
    val hit = parseCache.get(key)
    if (hit != null) return hit
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(p))
    // stats absent in pre-skipping manifests → empty map, reads stay
    // conservative (every file scanned) — old tables keep working
    def parseStats(v: JValue): Map[String, Map[String, ColStats]] = v match {
      case JObject(files) => files.map { case (f, cols) =>
        f -> (cols match {
          case JObject(cs) => cs.collect {
            case (c, JArray(mn :: mx :: num :: rest)) =>
              c -> ColStats(mn.extract[String], mx.extract[String],
                num.extract[Boolean],
                rest.collectFirst { case JString(u) => u },
                rest.collectFirst { case JInt(n) => n.toLong
                  case JLong(n) => n })
          }.toMap
          case _ => Map.empty[String, ColStats]
        })
      }.toMap
      case _ => Map.empty[String, Map[String, ColStats]]
    }
    val stats = parseStats(j \ "stats")
    // seqs/deletes absent in pre-MoR manifests → empty: every file reads
    // as seq 0 with no delete files, exactly the old behavior
    val seqs = (j \ "seqs") match {
      case JObject(fs) => fs.collect { case (f, JInt(s)) => f -> s.toLong }.toMap
      case _ => Map.empty[String, Long]
    }
    val deletes = (j \ "deletes") match {
      case JArray(ds) => ds.collect {
        case JArray(List(JString(f), JInt(s))) => (f, s.toLong)
      }
      case _ => Seq.empty[(String, Long)]
    }
    // constraints absent in pre-invariant manifests → none enforced,
    // exactly the old behavior
    val constraints = (j \ "constraints") match {
      case JArray(cs) => cs.collect { case JString(c) => c }
      case _ => Seq.empty[String]
    }
    val m0 = Manifest(
      (j \ "version").extract[Long],
      (j \ "files").extract[Seq[String]],
      (j \ "commit_id").extractOpt[String],
      (j \ "parent").extract[Long],
      stats, seqs, deletes, constraints,
      (j \ "commit_ts").extractOpt[Long],
      parseStats(j \ "delete_stats"),
      (j \ "rows") match {
        case JObject(fs) => fs.collect { case (f, JInt(n)) => f -> n.toLong }.toMap
        case _ => Map.empty[String, Long]
      },
      (j \ "merge_keys") match {
        case JArray(ks) => ks.collect { case JString(k) => k }
        case _ => Seq.empty[String]
      },
      // absent in pre-dataChange manifests -> true (every commit was a
      // data change), exactly the old behavior
      (j \ "data_change").extractOpt[Boolean].getOrElse(true),
      (j \ "generated") match {
        case JObject(gs) => gs.collect { case (c, JString(e)) => (c, e) }
        case _ => Seq.empty[(String, String)]
      },
      // absent in pre-txn manifests → no applied transactions recorded
      (j \ "txns") match {
        case JObject(ts) => ts.collect { case (a, JInt(e)) => a -> e.toLong }.toMap
        case _ => Map.empty[String, Long]
      },
      // absent in pre-column-mapping manifests → identity mapping
      (j \ "renames") match {
        case JObject(rs) => rs.collect { case (l, JString(p)) => l -> p }.toMap
        case _ => Map.empty[String, String]
      },
      (j \ "dropped_cols") match {
        case JArray(ds) => ds.collect { case JString(c) => c }
        case _ => Seq.empty[String]
      },
      // absent in pre-bytes manifests → consumers stat the filesystem
      bytes = (j \ "bytes") match {
        case JObject(fs) => fs.collect { case (f, JInt(n)) => f -> n.toLong }.toMap
        case _ => Map.empty[String, Long]
      },
      rebasedFrom = (j \ "rebased_from").extractOpt[Long])
    // segmented file lists: resolve referenced segments (immutable,
    // id-cached) and merge their live entries BEFORE the inline tail —
    // absent in pre-segment manifests, which parse exactly as before
    val layout: Layout = (j \ "segs") match {
      case JArray(ss) => ss.collect { case o: JObject =>
        ((o \ "id").extract[String],
          (o \ "drop") match {
            case JArray(ds) => ds.collect { case JString(s) => s }
            case _ => Seq.empty[String]
          })
      }
      case _ => Seq.empty
    }
    val m = if (layout.isEmpty) m0 else {
      val tablePath = p.toAbsolutePath.getParent.getParent.toString
      val sFiles = Vector.newBuilder[String]
      val sDeletes = Vector.newBuilder[(String, Long)]
      var sStats = Map.empty[String, Map[String, ColStats]]
      var sDelStats = Map.empty[String, Map[String, ColStats]]
      var sSeqs = Map.empty[String, Long]
      var sRows = Map.empty[String, Long]
      var sBytes = Map.empty[String, Long]
      layout.foreach { case (id, drop) =>
        val sd = loadSeg(tablePath, id)
        val dropSet = drop.toSet
        sd.data.filterNot(e => dropSet(e.name)).foreach { e =>
          sFiles += e.name
          e.seq.foreach(s => sSeqs += e.name -> s)
          e.rows.foreach(r => sRows += e.name -> r)
          e.bytes.foreach(b => sBytes += e.name -> b)
          e.stats.foreach(st => sStats += e.name -> st)
        }
        sd.deletes.filterNot(e => dropSet(e.name)).foreach { e =>
          sDeletes += ((e.name, e.seq.getOrElse(0L)))
          e.rows.foreach(r => sRows += e.name -> r)
          e.bytes.foreach(b => sBytes += e.name -> b)
          e.stats.foreach(st => sDelStats += e.name -> st)
        }
      }
      m0.copy(
        files = sFiles.result() ++ m0.files,
        deletes = sDeletes.result() ++ m0.deletes,
        stats = sStats ++ m0.stats,
        deleteStats = sDelStats ++ m0.deleteStats,
        seqs = sSeqs ++ m0.seqs,
        rows = sRows ++ m0.rows,
        bytes = sBytes ++ m0.bytes)
    }
    if (parseCache.size > 65536) { parseCache.clear(); layoutCache.clear() }
    // layout BEFORE manifest: a parseCache hit must imply the layout is
    // readable, or layoutOf() between the two puts reports an empty
    // layout and vacuum's orphan sweep could reap a live segment file
    layoutCache.put(key, layout)
    parseCache.put(key, m)
    m
  }

  /** All committed versions, ascending; empty for a fresh/absent table. */
  def versions(path: String): Seq[Long] = {
    val md = manifestDir(path)
    if (!Files.isDirectory(md)) Seq.empty
    else Using.resource(Files.list(md)) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq.sorted
    }
  }

  private def manifestAt(path: String, version: Long): Manifest =
    // ids past BranchIdBase are branch snapshots, synthesized from the
    // branch ledger (never files in the linear chain — see BRANCH REFS);
    // NEGATIVE ids below BranchAsOfBase are session-local branch-as-of
    // snapshots (branch bids occupy [BranchIdBase, BranchIdBase + 2^62),
    // so the disjoint namespace is the negatives)
    if (version <= BranchAsOfBase)
      Option(asOfRegistry.get(version)).getOrElse(
        throw new IllegalStateException(
          s"branch-as-of snapshot $version expired (session-local id)"))
    else if (version >= BranchIdBase) branchManifest(path, version)
    else parse(manifestDir(path).resolve(f"v$version%08d.json"))

  /** Cache key for per-manifest derived state (schemas): a branch
    * snapshot's identity is its DOC's size+mtime (the doc changes with
    * every branch commit); a chain version's is its manifest file's. */
  private def manifestCacheKey(path: String, m: Manifest): String =
    // branch-as-of ids are session-local and never reused: the id alone
    // identifies the synthesized state
    if (m.version <= BranchAsOfBase) s"branch-asof:$path:${m.version}"
    else if (m.version >= BranchIdBase)
      branches(path).find(_._2.bid == m.version)
        .map(e => cacheKey(branchDocPath(path, e._1)))
        // bids derive from the branch NAME alone, so the fallback must
        // carry the table path — without it, two tables that both just
        // dropped a same-named branch would share one schema-cache slot
        .getOrElse(s"branch-gone:$path:${m.version}")
    else cacheKey(manifestDir(path).resolve(f"v${m.version}%08d.json"))

  private def latest(path: String): Option[Manifest] =
    versions(path).lastOption.map(manifestAt(path, _))

  /** Latest committed version, 0 for an empty/absent table (versions
    * start at 1) — the streaming source's offset domain. */
  private[graft] def latestVersion(path: String): Long =
    versions(path).lastOption.getOrElse(0L)

  /** Absolute path of ONE current data file (schema inference). */
  private[graft] def anyDataFile(path: String): Option[String] =
    latest(path).flatMap(_.files.headOption)
      .map(f => dataDir(path).resolve(f).toAbsolutePath.toString)

  /** Read one committed version (default: latest). Reads FAIL on an
    * empty table rather than inventing an empty frame with no schema. */
  /** Time travel by TIMESTAMP (Delta's `TIMESTAMP AS OF`): the newest
    * VERSION whose commit landed at or before `asOfMillis`. Commit time
    * is the `commit_ts` stamped inside the manifest at commit (survives
    * copy/restore/rsync, which rewrite file mtimes — the reason Delta
    * records commit times in-file); legacy manifests without the field
    * fall back to the manifest file's mtime. Eligibility selects by
    * MAX VERSION, not max timestamp: the version chain is the authority
    * on table history, and a wall-clock step between commits must not
    * resolve a superseded snapshot. Fails loudly when the timestamp
    * predates the first commit — silently returning the oldest version
    * would fabricate history. */
  def versionAt(path: String, asOfMillis: Long): Long = {
    val vs = versions(path)
    require(vs.nonEmpty, s"no committed version at $path")
    val stamped = vs.map(v => v -> commitTimeMillis(path, v))
    val eligible = stamped.filter(_._2 <= asOfMillis)
    require(eligible.nonEmpty,
      s"no version at or before $asOfMillis (earliest commit is " +
        s"${stamped.map(_._2).min})")
    eligible.map(_._1).max
  }

  /** [[read]] at the version [[versionAt]] resolves for `asOfMillis`. */
  def readAsOf(spark: SparkSession, path: String, asOfMillis: Long): DataFrame =
    read(spark, path, Some(versionAt(path, asOfMillis)))

  /** Has a commit with this id already landed? The cheap pre-check for
    * replay-heavy callers (a streaming foreachBatch re-fed its whole
    * history) that want to skip recomputing a batch's derived state
    * before the commit's own idempotence would discard it anyway. */
  def commitLanded(path: String, commitId: String): Boolean =
    versions(path).exists(v =>
      manifestAt(path, v).commitId.contains(commitId))

  /** The LATEST version's commit id (None for an absent table or an
    * id-less commit) — one manifest read. Callers whose commit ids are
    * totally ordered (streaming batch ids: each batch lands exactly one
    * version, in order) can answer "has batch N landed?" from this
    * alone instead of paying [[commitLanded]]'s O(versions) scan per
    * micro-batch. */
  def latestCommitId(path: String): Option[String] =
    latest(path).flatMap(_.commitId)

  /** Commit wall-time of a version: in-manifest `commit_ts`, falling
    * back to the manifest file's mtime for legacy manifests. */
  def commitTimeMillis(path: String, version: Long): Long =
    manifestAt(path, version).commitTs.getOrElse(
      Files.getLastModifiedTime(
        manifestDir(path).resolve(f"v$version%08d.json")).toMillis)

  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    require(m.files.nonEmpty, s"version ${m.version} names no data files")
    // mergeSchema: a version's files may span commits with evolved
    // schemas; picking one footer at random would silently drop columns
    maybeHintBroadcast(spark, m, reconcile(spark, path, m, m.files), path)
  }

  /** Resolved read-schema of a version, cached by manifest identity.
    * `read(...).schema` runs mergeSchema footer inference over every
    * file of the version — O(files) metadata work that a SQL front end
    * would otherwise repeat on EVERY query's analysis (each table
    * resolution asks for the schema). Manifests are immutable once
    * published, so (manifest file size+mtime) keys the cache exactly
    * like [[parse]]'s, including the rm-rf-and-recreate case. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def schemaAt(spark: SparkSession, path: String,
      version: Option[Long] = None): org.apache.spark.sql.types.StructType = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    val key = manifestCacheKey(path, m)
    val hit = schemaCache.get(key)
    if (hit != null) return hit
    val sc = read(spark, path, Some(m.version)).schema
    if (schemaCache.size > 65536) schemaCache.clear()
    schemaCache.put(key, sc)
    sc
  }

  /** LIVE-size estimate from manifest metadata alone: Σ data-file row
    * counts − Σ delete-file key counts (a keyed table hides at most one
    * row per delete key), bytes scaled proportionally from the physical
    * file sizes. None when any row count is missing (legacy manifests).
    * This is the number join planning should see — after a MoR merge
    * hides most of a table, the parquet relation's file-size estimate
    * can be arbitrarily far above the live data. */
  def estimatedLive(path: String,
      version: Option[Long] = None): Option[(Long, Long)] = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    if (!(m.files ++ m.deletes.map(_._1)).forall(m.rows.contains)) None
    else {
      val total = m.files.map(m.rows).sum
      val hidden = m.deletes.map { case (f, _) => m.rows(f) }.sum
      val live = math.max(0L, total - hidden)
      val bytes = m.files.map(f => sizeOf(path, m, f)).sum
      val liveBytes =
        if (total == 0) 0L else (bytes.toDouble * live / total).toLong
      Some((live, liveBytes))
    }
  }

  /** Surface the manifest's live-size estimate to the planner: when a
    * DV-carrying table's LIVE bytes fit the session's auto-broadcast
    * threshold but its PHYSICAL bytes do not (so Spark's file-size
    * estimation would plan a shuffle join), attach the broadcast hint.
    * Scoped tightly: only fires under an active delete ledger — without
    * deletes the file sizes already tell the truth and every plan stays
    * exactly as before. The estimate errs small only when delete keys
    * miss (hide no row) — the standard cost-estimation risk, bounded by
    * the table's pre-delete size. */
  private def maybeHintBroadcast(spark: SparkSession, m: Manifest,
      df: DataFrame, path: String): DataFrame = {
    if (m.deletes.isEmpty) return df
    val thr = org.apache.spark.sql.graft.ColumnBridge.autoBroadcastThreshold(spark)
    if (thr <= 0) return df
    estimatedLive(path, Some(m.version)) match {
      case Some((_, liveBytes)) =>
        val raw = m.files.map(f => sizeOf(path, m, f)).sum
        if (liveBytes <= thr && raw > thr) df.hint("broadcast") else df
      case None => df
    }
  }

  /** PER-FILE DELETE SCOPING: which delete entries can hit each scanned
    * data file? A delete at seq s hits file f only when (a) f's rows
    * landed BEFORE the delete (seq(f) < s) and (b) the delete file's key
    * range ([[Manifest.deleteStats]]) overlaps f's key stats on every
    * shared key column — disjoint ranges on ANY shared column prove no
    * key can match. Missing stats on either side stay conservative
    * (scoped in). Driver-side metadata only, O(files × deletes) range
    * compares. */
  private[graft] def deleteScope(m: Manifest,
      scanFiles: Seq[String]): Map[String, Seq[(String, Long)]] =
    scanFiles.map { f =>
      val fseq = m.seqs.getOrElse(f, 0L)
      f -> m.deletes.filter { case (df, dseq) =>
        dseq > fseq && rangesOverlap(m.deleteStats.get(df), m.stats.get(f))
      }
    }.toMap

  /** (data file → delete files scoped to it) at a version — the
    * observable the per-file-DV gates assert on: a file absent from
    * every value list reads with ZERO reconciliation work. */
  def deleteScopeFiles(path: String,
      version: Option[Long] = None): Map[String, Seq[String]] = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    deleteScope(m, m.files).map { case (f, ds) => f -> ds.map(_._1) }
  }

  private def rangesOverlap(del: Option[Map[String, ColStats]],
      data: Option[Map[String, ColStats]]): Boolean = (del, data) match {
    case (Some(d), Some(s)) =>
      !d.exists { case (c, dst) =>
        s.get(c).exists { fst =>
          // comparing bounds of the SAME column harvested by the same
          // footer pass; a numeric-flag mismatch (schema drift) stays
          // conservative
          dst.numeric == fst.numeric && (
            cmpStat(dst.max, fst.min, dst.numeric) < 0 ||
            cmpStat(dst.min, fst.max, dst.numeric) > 0)
        }
      }
    case _ => true
  }

  /** MERGE-ON-READ reconciliation over a scan of `scanFiles` (⊆
    * `m.files`): drop every row whose merge key appears in a delete file
    * committed AFTER the row's data file. File-local by construction:
    * [[deleteScope]] splits the scan into CLEAN files (no delete can
    * hit — they bypass the anti-join entirely, staying in their own
    * codegen stage) and DIRTY files, which anti-join only the delete
    * entries scoped to them. The delete side is broadcast only while the
    * relevant ledger fits the session's auto-broadcast threshold; a
    * ledger that has outgrown it joins as a shuffle — never a forced
    * driver-melting broadcast of table-scale delete bytes. At 100 TB
    * with key-local merges, reconcile cost ≈ (dirty fraction of the
    * scan) + (recent delete bytes), independent of ledger history. */
  private def reconcile(spark: SparkSession, path: String, m: Manifest,
      scanFiles: Seq[String]): DataFrame =
    applyMapping(reconcileRaw(spark, path, m, scanFiles), m)

  /** Physical → logical view of a frame scanned from `m`'s files: hide
    * dropped physical columns, then alias each renamed physical column
    * to its logical name. Identity (and plan-free) for the common
    * unmapped table. Every read path funnels through [[reconcile]], so
    * this is the ONE scan-boundary translation. */
  private def applyMapping(df: DataFrame, m: Manifest): DataFrame =
    if (m.renames.isEmpty && m.droppedCols.isEmpty) df
    else {
      val inv = m.renames.map(_.swap) // physical -> logical
      val cols = df.columns.filterNot(m.droppedCols.contains)
        .map(c => df.col(c).as(inv.getOrElse(c, c)))
      df.select(cols.toIndexedSeq: _*)
    }

  /** Logical → physical translation for predicates that prune against
    * manifest stats (stats are keyed by the names the FILES carry).
    * Physical names are never logical keys of `renames` (the
    * frozen-name invariant [[renameColumn]] enforces), so applying this
    * twice is identity-safe. */
  private def toPhysicalConds(m: Manifest,
      conds: Seq[graft.conditions.Condition]): Seq[graft.conditions.Condition] =
    if (m.renames.isEmpty) conds
    else conds.map(c => c.copy(field = m.renames.getOrElse(c.field, c.field)))

  /** Merged PHYSICAL schema of a version's data files, cached by
    * manifest identity. Every `spark.read.option("mergeSchema", …)`
    * scan runs a distributed footer-inference job at PLAN time — and
    * one reconcile used to run several (reference schema, dirty branch,
    * clean branch), so a single MoR read cost a handful of Spark jobs
    * before any data moved. The manifest is immutable once published
    * and names its files, so the union schema is a pure function of the
    * manifest: infer once, serve every later scan with an explicit
    * schema (the parquet reader null-fills columns a file lacks — the
    * same semantics mergeSchema produced, minus the per-read jobs). */
  private val physSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private[sources] def physicalSchemaAt(spark: SparkSession, path: String,
      m: Manifest): org.apache.spark.sql.types.StructType = {
    val key = manifestCacheKey(path, m)
    val hit = physSchemaCache.get(key)
    if (hit != null) return hit
    val widen = GraftCatalog.readDeclaredWiden(Paths.get(path))
    val sc =
      if (widen.isEmpty)
        spark.read.option("mergeSchema", "true")
          .parquet(m.files.map(f => dataDir(path).resolve(f).toString): _*)
          .schema
      else widenMergedSchema(spark, path, m.files, widen)
    if (physSchemaCache.size > 65536) physSchemaCache.clear()
    physSchemaCache.put(key, sc)
    sc
  }

  /** A WIDENING ALTER invalidates every cached schema of the table (the
    * caches key by manifest identity, which a metadata-only sidecar
    * write does not change). Wholesale clear: widening is a rare DDL
    * event, re-inference is one cached pass per manifest. */
  private[sources] def invalidateSchemaCaches(path: String): Unit = {
    schemaCache.clear()
    physSchemaCache.clear()
  }

  /** Footer-merged schema of a WIDENED table, driver-side: files may
    * legitimately MIX narrow (pre-ALTER) and wide (post-ALTER) physical
    * types for a column, which Spark's own mergeSchema refuses to
    * merge. Per column the WIDEST representation wins, then the
    * declared overrides apply — so a pruned read keeps the same shape
    * an unpruned one has, whatever era its files are from. One footer
    * open per file, once per manifest (the cache above). */
  private def widenMergedSchema(spark: SparkSession, path: String,
      files: Seq[String],
      widen: Map[String, org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conv = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val hconf = new org.apache.hadoop.conf.Configuration()
    val order = scala.collection.mutable.LinkedHashMap[String, StructField]()
    files.foreach { name =>
      val p = new org.apache.hadoop.fs.Path(
        dataDir(path).resolve(name).toUri)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf))
      val fs =
        try conv.convert(r.getFooter.getFileMetaData.getSchema).fields
        finally r.close()
      fs.foreach { f =>
        order.get(f.name) match {
          case None => order(f.name) = f.copy(nullable = true)
          case Some(cur) if cur.dataType == f.dataType => ()
          case Some(cur) if GraftCatalog.isWidening(cur.dataType, f.dataType) =>
            order(f.name) = cur.copy(dataType = f.dataType)
          case Some(cur) if GraftCatalog.isWidening(f.dataType, cur.dataType) =>
            () // current is already the wider era
          case Some(cur) => throw new IllegalStateException(
            s"column '${f.name}' mixes un-widenable physical types " +
              s"${cur.dataType.simpleString} and ${f.dataType.simpleString} " +
              s"across files of $path")
        }
      }
    }
    widen.foreach { case (c, wide) =>
      order.get(c).foreach { cur =>
        if (cur.dataType != wide) {
          require(GraftCatalog.isWidening(cur.dataType, wide),
            s"declared widening of '$c' to ${wide.simpleString} no longer " +
              s"covers the files' ${cur.dataType.simpleString}")
          order(c) = cur.copy(dataType = wide)
        }
      }
    }
    StructType(order.values.toSeq)
  }

  private def reconcileRaw(spark: SparkSession, path: String, m: Manifest,
      scanFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    // the version-level physical schema also makes a PRUNED scan's shape
    // stable: a predicate that prunes away the only files carrying an
    // evolved column still yields that column (all-null), exactly like
    // an unpruned read
    val refSchema = physicalSchemaAt(spark, path, m)
    def scan(fs: Seq[String]): DataFrame =
      spark.read.schema(refSchema)
        .parquet(fs.map(f => dataDir(path).resolve(f).toString): _*)
    if (m.deletes.isEmpty) return scan(scanFiles)
    val scope = deleteScope(m, scanFiles)
    val dirty = scanFiles.filter(f => scope(f).nonEmpty)
    if (dirty.isEmpty) return scan(scanFiles)
    val clean = scanFiles.filterNot(dirty.toSet)
    val relevant = dirty.flatMap(scope).distinct
    def align(df: DataFrame): DataFrame =
      df.select(refSchema.map(sf =>
        (if (df.columns.contains(sf.name)) col(sf.name)
         else lit(null).cast(sf.dataType)).as(sf.name)): _*)
    val seqByFile: Map[String, Long] =
      dirty.map(f => baseName(f) -> m.seqs.getOrElse(f, 0L)).toMap
    val withSeq = attachSeq(scan(dirty), seqByFile)
    val broadcastable = relevant.map { case (f, _) =>
      sizeOf(path, m, f) }.sum <=
      math.max(0L, org.apache.spark.sql.graft.ColumnBridge
        .autoBroadcastThreshold(spark))
    // delete files may carry different key sets across merges: group by
    // key schema and apply one anti-join per group
    val groups = relevant.groupBy { case (f, _) =>
      deleteKeyCols(spark, path, f)
    }
    val out = groups.values.foldLeft(withSeq) { case (cur, dels) =>
      val delDf = dels.map { case (f, seq) =>
        spark.read.parquet(dataDir(path).resolve(f).toString)
          .withColumn("__graft_dseq", lit(seq))
      }.reduce(_.unionByName(_))
      val keys = delDf.columns.filterNot(_ == "__graft_dseq")
      val cond = keys.map(k => cur(k) === delDf(k)).reduce(_ && _) &&
        delDf("__graft_dseq") > cur("__graft_seq")
      cur.join(if (broadcastable) broadcast(delDf) else delDf, cond, "left_anti")
    }
    val reconciled = align(out.drop("__graft_seq"))
    if (clean.isEmpty) reconciled
    else align(scan(clean)).unionByName(reconciled)
  }

  /** Delete files are immutable once committed, so their key schema is
    * probed (a driver-side footer read) at most once per JVM — a table
    * accumulating hundreds of MoR deletes must not pay a probe per
    * delete file per READ. */
  private val deleteSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def deleteKeyCols(spark: SparkSession, path: String,
      file: String): Seq[String] = {
    val abs = dataDir(path).resolve(file).toAbsolutePath.toString
    val hit = deleteSchemaCache.get(abs)
    if (hit != null) return hit
    val cols = spark.read.parquet(abs).columns.toSeq.sorted
    if (deleteSchemaCache.size > 65536) deleteSchemaCache.clear()
    deleteSchemaCache.put(abs, cols)
    cols
  }

  /** Attach each row's data-file commit seq as `__graft_seq`. Small
    * manifests inline a literal map (zero joins, codegen-friendly); past
    * `AttachSeqLiteralMax` files the literal would bloat the generated
    * code quadratically, so the mapping ships as a broadcast join on the
    * file basename instead — the manifest is driver-held either way, the
    * difference is only how it reaches the executors. */
  private[graft] val AttachSeqLiteralMax = 4096

  private[graft] def attachSeq(df: DataFrame,
      seqByFile: Map[String, Long], forceJoin: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val basename = element_at(split(input_file_name(), "/"), -1)
    if (!forceJoin && seqByFile.size <= AttachSeqLiteralMax)
      df.withColumn("__graft_seq",
        coalesce(element_at(typedLit(seqByFile), basename), lit(0L)))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val mapDf = seqByFile.toSeq.toDF("__graft_file", "__graft_seq_m")
      df.withColumn("__graft_file", basename)
        .join(broadcast(mapDf), Seq("__graft_file"), "left")
        .withColumn("__graft_seq", coalesce(col("__graft_seq_m"), lit(0L)))
        .drop("__graft_file", "__graft_seq_m")
    }
  }

  /** DATA SKIPPING — the stats-pruned read (Delta/Iceberg's file-level
    * min/max skipping): files whose manifest stats PROVE no row can
    * match `conds` are never opened; survivors are scanned with the full
    * predicate applied (pruning is file-granular, the residual filter
    * restores row-level exactness — result is identical to
    * `read().where(conds)` by construction). On a 100 TB table laid out
    * so files carry tight key/date ranges (repartitionByRange before
    * commit, or Compaction's in-file sort), a selective predicate reads
    * a handful of files instead of the table — the scan-cost decision
    * happens in manifest METADATA before Spark plans anything. */
  def readWhere(spark: SparkSession, path: String,
      conds: Seq[graft.conditions.Condition],
      version: Option[Long] = None): DataFrame = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    val phys = toPhysicalConds(m, conds)
    val survivors = m.files.filter(f => fileMightMatch(m.stats.get(f), phys))
    val residual = graft.conditions.Conditions.all(conds)
    if (survivors.isEmpty)
      read(spark, path, Some(m.version)).where(org.apache.spark.sql.functions.lit(false))
    // deletes only REMOVE rows, so stats pruning stays sound under MoR;
    // reconcile before the residual filter so hidden rows never surface
    else reconcile(spark, path, m, survivors).where(residual)
  }

  /** The files a stats-pruned [[readWhere]] would scan at a version —
    * the min/max survivor set, shared with [[BloomIndex.pruneFiles]]
    * (which intersects it with Bloom-provable absence). */
  /** The resolved manifest of a snapshot (latest when `version` is
    * None) — the grouped-scan eligibility check reads delete/mapping
    * state and per-file stats from it without re-parsing per file. */
  private[graft] def snapshotAt(path: String,
      version: Option[Long]): Option[Manifest] =
    version.map(manifestAt(path, _)).orElse(latest(path))

  def statsSurvivors(path: String, conds: Seq[graft.conditions.Condition],
      version: Option[Long] = None): Seq[String] = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    val phys = toPhysicalConds(m, conds)
    m.files.filter(f => fileMightMatch(m.stats.get(f), phys))
  }

  /** Per-file column stats at a version (empty maps for files whose
    * manifests predate the stats harvest) — layout inspection and the
    * grouped-scan specs. */
  def fileStats(path: String,
      version: Option[Long] = None): Map[String, Map[String, ColStats]] =
    snapshotAt(path, version)
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
      .stats

  /** Per-file row counts at a version (entries absent for files whose
    * manifests predate the row harvest). */
  def fileRows(path: String, version: Option[Long] = None): Map[String, Long] = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    m.files.flatMap(f => m.rows.get(f).map(f -> _)).toMap
  }

  /** Recorded row counts for EVERY file a version names — data files
    * and delete files alike (delete-file counts bound how many rows
    * their keys can hide). Catalog/scan cost estimation. */
  def recordedRows(path: String, version: Option[Long] = None): Map[String, Long] = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    m.rows
  }

  /** Physical bytes of a file at a manifest: the RECORDED size when
    * the manifest carries one (zero filesystem calls — on object
    * storage a per-file stat is a HEAD request, and O(files) HEADs per
    * planning decision is the 100 TB tax the recorded sizes remove),
    * else one stat (legacy manifests). */
  private def sizeOf(path: String, m: Manifest, f: String): Long =
    m.bytes.getOrElse(f, Files.size(dataDir(path).resolve(f)))

  /** Physical bytes of the named data files (catalog/scan cost
    * estimation — the same `data/` resolution every reader uses).
    * Served from the latest manifest's recorded sizes where present. */
  def dataFileSizes(path: String, files: Seq[String]): Long = {
    val b = latest(path).map(_.bytes).getOrElse(Map.empty[String, Long])
    files.map(f => b.getOrElse(f, Files.size(dataDir(path).resolve(f)))).sum
  }

  /** [[readWhere]] with per-file BLOOM pruning stacked on the min/max
    * stats ([[BloomIndex]]): point predicates (Eq/In) additionally drop
    * every file whose filter proves the probed value absent — the skip
    * min/max cannot give on columns scattered across files. Result is
    * identical to `read().where(conds)` by construction (Bloom filters
    * have no false negatives; the residual filter restores row-level
    * exactness). */
  def readWhereBloom(spark: SparkSession, path: String,
      conds: Seq[graft.conditions.Condition],
      version: Option[Long] = None): DataFrame = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    val survivors = BloomIndex.pruneFiles(path, toPhysicalConds(m, conds),
      Some(m.version))
    val residual = graft.conditions.Conditions.all(conds)
    if (survivors.isEmpty)
      read(spark, path, Some(m.version)).where(org.apache.spark.sql.functions.lit(false))
    else reconcile(spark, path, m, survivors).where(residual)
  }

  /** Substring-probe read through the [[TrigramIndex]] sidecars: scan
    * only files that might hold a value containing `term` in `col`,
    * with the exact `contains` filter as the residual (trigram pruning
    * is file-granular and sound — no false negatives — so the residual
    * restores row-level exactness). Unindexed files scan. */
  def readWhereContains(spark: SparkSession, path: String, col: String,
      term: String, version: Option[Long] = None): DataFrame = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    val physCol = m.renames.getOrElse(col, col)
    val survivors = m.files.filter(f =>
      TrigramIndex.mightContainSubstring(path, f, physCol, term))
    val residual = org.apache.spark.sql.functions.col(col).contains(term)
    if (survivors.isEmpty)
      read(spark, path, Some(m.version)).where(org.apache.spark.sql.functions.lit(false))
    else reconcile(spark, path, m, survivors).where(residual)
  }

  /** (files a readWhere would scan, total files) at a version — the
    * observable the data-skipping gate asserts on. */
  def pruneCount(path: String, conds: Seq[graft.conditions.Condition],
      version: Option[Long] = None): (Int, Int) = {
    val m = version.map(manifestAt(path, _)).orElse(latest(path))
      .getOrElse(throw new IllegalStateException(s"no committed version at $path"))
    val phys = toPhysicalConds(m, conds)
    (m.files.count(f => fileMightMatch(m.stats.get(f), phys)), m.files.size)
  }

  /** Conservative per-file test: prune ONLY when stats prove emptiness.
    * A file with no stats for the column (unsupported type, pre-stats
    * manifest, stats missing from some row group) always survives. */
  private[graft] def fileMightMatch(stats: Option[Map[String, ColStats]],
      conds: Seq[graft.conditions.Condition]): Boolean = conds.forall { c =>
    stats.flatMap(_.get(c.field)).forall { st =>
      import graft.conditions.Op
      // a column ENTIRELY null in this file: IS NULL always matches,
      // everything else (all comparisons are null-rejecting under
      // three-valued logic, contains/prefix included) proves emptiness
      if (st.unit.contains("allnull")) c.op == Op.IsNull
      else evalBounds(st, c)
    }
  }

  /** Dual of [[fileMightMatch]]: do the stats PROVE that EVERY row of
    * the file satisfies every condition? The yes answer is what lets a
    * partition-aligned DELETE drop the whole file from the manifest
    * without reading it (Delta's metadata-only partition delete). Sound
    * under stat truncation (truncated bounds are strictly wider, and a
    * proof over the wider interval covers the real one). Conservative
    * FALSE whenever stats are missing, the null count is unknown (a
    * NULL row fails every null-rejecting comparison), or the op has no
    * bounds proof (contains). */
  private[graft] def fileMustMatch(stats: Option[Map[String, ColStats]],
      fileRows: Option[Long],
      conds: Seq[graft.conditions.Condition]): Boolean =
    conds.nonEmpty && conds.forall { c =>
      stats.flatMap(_.get(c.field)).exists { st =>
        import graft.conditions.Op
        if (st.unit.contains("allnull"))
          c.op == Op.IsNull // every row null: only IS NULL holds for all
        else if (c.op == Op.IsNull)
          // all-null without the marker: null count == row count
          st.nulls.isDefined && fileRows.isDefined &&
            st.nulls == fileRows && fileRows.get > 0
        else st.nulls.contains(0L) && evalMustMatch(st, c)
      }
    }

  private def evalMustMatch(st: ColStats,
      c: graft.conditions.Condition): Boolean = {
    def cv(v: Any): Option[Any] =
      if (st.numeric) v match {
        case bd: java.math.BigDecimal if st.unit.isEmpty => Some(bd)
        case bd: scala.math.BigDecimal if st.unit.isEmpty =>
          Some(bd.bigDecimal)
        case _ => numValueU(v, st.unit).map(d => d: Number)
      }
      else v match {
        case s: String => Some(s)
        case _ => None
      }
    def lo(v: Any) = cmpStat(st.min, v, st.numeric)
    def hi(v: Any) = cmpStat(st.max, v, st.numeric)
    import graft.conditions.Op
    c.op match {
      // exists-a-proof forms: an unparseable value is NO proof (contrast
      // fileMightMatch, where unparseable must conservatively match)
      case Op.Eq  => cv(c.value).exists(v => lo(v) == 0 && hi(v) == 0)
      case Op.Gt  => cv(c.value).exists(v => lo(v) > 0)
      case Op.Gte => cv(c.value).exists(v => lo(v) >= 0)
      case Op.Lt  => cv(c.value).exists(v => hi(v) < 0)
      case Op.Lte => cv(c.value).exists(v => hi(v) <= 0)
      case Op.In => c.value match {
        // single-valued file whose one value is in the set
        case xs: Iterable[_] =>
          xs.exists(x => cv(x).exists(v => lo(v) == 0 && hi(v) == 0))
        case x => cv(x).exists(v => lo(v) == 0 && hi(v) == 0)
      }
      // byte-ordered bounds sharing the prefix bound every string
      // between them to the same prefix
      case Op.StartsWith => c.value match {
        case p: String if p.nonEmpty && !st.numeric =>
          st.min.startsWith(p) && st.max.startsWith(p)
        case _ => false
      }
      case Op.NotNull => true // zero nulls already required above
      case _ => false // contains and anything unproven: never
    }
  }

  private def evalBounds(st: ColStats,
      c: graft.conditions.Condition): Boolean = {
      def cv(v: Any): Option[Any] =
        if (st.numeric) v match {
          // decimal predicates stay exact — cmpStat compares BigDecimal
          case bd: java.math.BigDecimal if st.unit.isEmpty => Some(bd)
          case bd: scala.math.BigDecimal if st.unit.isEmpty =>
            Some(bd.bigDecimal)
          case _ => numValueU(v, st.unit).map(d => d: Number)
        }
        else v match {
          case s: String => Some(s)
          case _ => None
        }
      def lo(v: Any) = cmpStat(st.min, v, st.numeric)
      def hi(v: Any) = cmpStat(st.max, v, st.numeric)
      import graft.conditions.Op
      c.op match {
        case Op.Eq  => cv(c.value).forall(v => lo(v) <= 0 && hi(v) >= 0)
        case Op.Gt  => cv(c.value).forall(v => hi(v) > 0)
        case Op.Gte => cv(c.value).forall(v => hi(v) >= 0)
        case Op.Lt  => cv(c.value).forall(v => lo(v) < 0)
        case Op.Lte => cv(c.value).forall(v => lo(v) <= 0)
        case Op.In => c.value match {
          case xs: Iterable[_] =>
            xs.exists(x => cv(x).forall(v => lo(v) <= 0 && hi(v) >= 0))
          case x => cv(x).forall(v => lo(v) <= 0 && hi(v) >= 0)
        }
        // prefix match: every matching string sits in
        // [prefix, successor(prefix)) — prune on the UTF-8 bounds
        case Op.StartsWith => c.value match {
          case p: String if p.nonEmpty && !st.numeric =>
            hi(p) >= 0 &&
              prefixSuccessor(p).forall(sc => lo(sc) < 0)
          case _ => true
        }
        // a file with ZERO nulls in the column cannot serve IS NULL
        case Op.IsNull => st.nulls.forall(_ > 0)
        case _ => true // contains / not-null: no min-max pruning
      }
  }

  /** Smallest string strictly greater than every string with prefix
    * `p`, in UTF-8 byte order: increment p's last code point (skipping
    * the surrogate gap — invalid scalar values never occur in real
    * strings), dropping trailing U+10FFFF code points first. None when
    * p is entirely U+10FFFF (no upper bound exists). */
  private[graft] def prefixSuccessor(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      var next = cps(i) + 1
      if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
      Some(new String(cps.take(i) :+ next, 0, i + 1))
    }
  }

  /** Parquet UTF8 footer min/max are ordered by UNSIGNED UTF-8 bytes
    * (code-point order); Java's String.compareTo is UTF-16 code-unit
    * order, and the two diverge once supplementary-plane characters mix
    * with U+E000–U+FFFF — comparing stats with the wrong order can prune
    * a file that actually matches. All string stat comparisons therefore
    * go through the bytes. */
  private def cmpUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** A predicate value as a number comparable against NUMERIC stat
    * bounds. Date-ish values normalize to epoch DAYS — the unit DATE
    * footer stats carry — whether they arrive as java.sql.Date (DSv2
    * pushed filters), LocalDate, or an ISO string (SQL literals through
    * the maintenance door). None = not comparable (stay conservative). */
  private def numValue(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
    case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
    case s: String => s.toDoubleOption.orElse(
      scala.util.Try(
        java.time.LocalDate.parse(s).toEpochDay.toDouble).toOption)
    case _ => None
  }

  /** A predicate value normalized to a stat column's canonical unit.
    * unit "us" = TIMESTAMP bounds in epoch MICROS: instants convert
    * exactly; naive datetime/date strings and LocalDate interpret in the
    * JVM default zone (= Spark's default session time zone — callers
    * needing a different zone pass typed instants, as the DSv2 filter
    * path does). Epoch micros stay under 2^53 for all representable
    * wall times, so the Double comparison is EXACT. LocalDateTime keeps
    * local-as-UTC semantics — the form parquet NTZ stats store.
    * Unknown forms → None (conservative: the file survives). */
  private def numValueU(v: Any, unit: Option[String]): Option[Double] =
    if (!unit.contains("us")) numValue(v) else {
      def us(sec: Long, nano: Int): Double =
        sec.toDouble * 1e6 + (nano / 1000).toDouble
      v match {
        case n: Number => Some(n.doubleValue()) // already micros
        case t: java.sql.Timestamp =>
          Some(us(Math.floorDiv(t.getTime, 1000L), t.getNanos))
        case i: java.time.Instant => Some(us(i.getEpochSecond, i.getNano))
        case l: java.time.LocalDateTime =>
          Some(us(l.toEpochSecond(java.time.ZoneOffset.UTC), l.getNano))
        case d: java.sql.Date => numValueU(d.toLocalDate, unit)
        case d: java.time.LocalDate => numValueU(d.atStartOfDay(
          java.time.ZoneId.systemDefault()).toInstant, unit)
        case s: String => scala.util.Try[Double] {
          val t = s.trim
          if (t.contains('T') || t.contains(' ') || t.contains(':')) {
            val norm = t.replace(' ', 'T')
            scala.util.Try(java.time.Instant.parse(norm))
              .map(i => us(i.getEpochSecond, i.getNano))
              .getOrElse {
                val l = java.time.LocalDateTime.parse(norm)
                val i = l.atZone(java.time.ZoneId.systemDefault()).toInstant
                us(i.getEpochSecond, i.getNano)
              }
          } else t.toDoubleOption.getOrElse {
            val i = java.time.LocalDate.parse(t)
              .atStartOfDay(java.time.ZoneId.systemDefault()).toInstant
            us(i.getEpochSecond, i.getNano)
          }
        }.toOption
        case _ => None
      }
    }

  /** compare a stored stat bound against a predicate value: <0 means
    * stat < value. Unparseable numerics stay conservative (0 = overlap).
    * Numeric compares go through EXACT BigDecimal arithmetic: decimal
    * bounds can sit within half a double-ULP of a predicate value, and
    * a round-to-nearest double compare there prunes a file that matches
    * (e.g. min = 99.99999999999999999, predicate < 100 — both round to
    * 100.0, the strict compare fails, the file wrongly drops). Every
    * stored bound form is BigDecimal-parseable except float NaN /
    * Infinity strings, which keep the old double compare. */
  private def cmpStat(stat: String, value: Any, numeric: Boolean): Int =
    if (numeric) {
      val sv = scala.util.Try(new java.math.BigDecimal(stat)).toOption
      val vv: Option[java.math.BigDecimal] = value match {
        case bd: java.math.BigDecimal => Some(bd)
        case bd: scala.math.BigDecimal => Some(bd.bigDecimal)
        case n: Number =>
          scala.util.Try(new java.math.BigDecimal(n.toString)).toOption
        // stat-vs-stat compares (delete/data overlap) and SQL-door
        // literals arrive as strings; ISO dates fail the parse and keep
        // numValue's day normalization below
        case s: String =>
          scala.util.Try(new java.math.BigDecimal(s.trim)).toOption
        case _ => None
      }
      (sv, vv) match {
        case (Some(a), Some(b)) => a.compareTo(b)
        case _ => (stat.toDoubleOption, numValue(value)) match {
          case (Some(a), Some(b)) => java.lang.Double.compare(a, b)
          case _ => 0
        }
      }
    }
    else cmpUtf8(stat, value.toString)

  /** Stage df's rows as new data files (invisible until committed);
    * returns their table-relative names. */
  /** CHECK-constraint enforcement FUSED into the write scan (the Delta
    * invariants model): every row evaluates `assert_true(expr)` inside
    * the writing plan, so a violating row aborts the write mid-scan with
    * the constraint text — zero extra passes, codegen'd, and nothing
    * lands (staged files of an aborted write are never committed; vacuum
    * reclaims them). */
  private def enforceConstraints(df: DataFrame,
      cons: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, expr, lit}
    cons.foldLeft(df) { (d, c) =>
      d.where(gated(assert_true(expr(c),
        lit(s"CHECK constraint violated: $c")).isNull))
    }
  }

  /** Wrap an enforcement predicate in [[graft.plans.EnforcementGate]]
    * so the optimizer can neither push it into scans it does not belong
    * to nor INFER it across the reconcile anti-join onto delete-key
    * files (whose keys legitimately violate constraints being
    * declared — see EnforcementGate's scaladoc). */
  private def gated(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.EnforcementGate(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** The table's declared CHECK constraints (empty if none/absent). */
  def constraints(path: String): Seq[String] =
    latest(path).map(_.constraints)
      .getOrElse(GraftCatalog.readDeclaredConstraints(Paths.get(path)))

  /** The table's declared generated columns (empty if none/absent):
    * manifest metadata once any commit landed, the CREATE-time DDL
    * declaration before. */
  def generatedColumns(path: String): Seq[(String, String)] =
    latest(path).map(_.generated)
      .getOrElse(GraftCatalog.readDeclaredGenerated(Paths.get(path)))

  /** Declare GENERATED columns — a metadata-only commit, the
    * [[setConstraints]] shape: existing rows must already satisfy every
    * expression (validated fail-fast against the exact version the
    * commit lands on); afterwards every write through any surface
    * computes absent columns and validates supplied ones. Merges
    * validate (their sources carry the table schema); appends and
    * overwrites compute. An empty list drops all definitions. */
  def setGeneratedColumns(spark: SparkSession, path: String,
      gens: Seq[(String, String)]): Long =
    commitContract(spark, path, Seq.empty, gens,
      Change(generated = Some(gens), dataChange = false)) { m =>
        val df = read(spark, path, Some(m.version))
        gens.foreach { case (c, _) =>
          require(df.columns.contains(c),
            s"generated column '$c' does not exist in the table — " +
              "declare it over a table that already carries the column") }
        applyGenerated(df, gens).count() // fail-fast mismatch scan
      }

  /** Declare table CHECK constraints — a metadata-only commit (same
    * files, stats, seqs, deletes). Existing rows validate FIRST (one
    * fail-fast scan — the ALTER TABLE ADD CONSTRAINT rule); every
    * subsequent append/overwrite/merge enforces in-scan. Replaces the
    * previous constraint set; pass Seq.empty to drop all constraints. */
  def setConstraints(spark: SparkSession, path: String,
      cons: Seq[String]): Long =
    commitContract(spark, path, cons, Seq.empty,
      Change(constraints = Some(cons), dataChange = false)) { m =>
        enforceConstraints(read(spark, path, Some(m.version)), cons).count()
      }

  /** Land a contract commit (`c` re-declares constraints or generated
    * columns) only once every live row satisfies `cons` and `gens`:
    * `fullCheck` scans the reconciled version the claim lands on. The
    * FIRST check is the full scan at the base; a lost claim re-proves
    * ONLY the files added since (deletes can't introduce violations), so
    * a nightly constraint pass racing the ingest cadence costs O(delta)
    * per retry, not O(table) — the metadata×data conflict scope. A raw
    * delta file may carry MoR-hidden rows, so a delta refusal falls back
    * to the full scan at that head before failing. Without this, the
    * table could assert an invariant a racing write's rows were never
    * checked against (the ALTER TABLE ADD CONSTRAINT race). */
  private def commitContract(spark: SparkSession, path: String,
      cons: Seq[String], gens: Seq[(String, String)], c: Change)(
      fullCheck: Manifest => Unit): Long = {
    val base = latest(path)
    require(base.isDefined, s"no table at $path")
    val checks = cons.nonEmpty || gens.nonEmpty
    if (checks) fullCheck(base.get)
    var proven = base.get.files.toSet
    claim(path, base, c, Rebase(None, (head, _) => {
      if (checks && !filesSatisfy(spark, path,
          head.files.filterNot(proven), cons, gens, head.renames,
          head.droppedCols)) fullCheck(head)
      proven = head.files.toSet
      None
    }))
  }

  // ───────────────────────── column mapping ─────────────────────────
  //
  // Delta's name-mapping mode on this manifest format: a column's
  // PHYSICAL name — what the parquet files carry — is frozen at birth.
  // RENAME/DROP COLUMN are metadata-only commits (zero files touched,
  // dataChange = false); reads translate physical → logical at the ONE
  // scan boundary ([[reconcile]]) and writes translate logical →
  // physical at the ONE staging boundary ([[stage]] and the delta /
  // streaming writer schemas), so the path API, the SQL catalog, and
  // streams agree on the logical schema while every file of the table
  // keeps one physical schema. Time travel shows each version under its
  // own names (the mapping is versioned manifest state).

  /** Columns the table's CONTRACT references must keep their names —
    * renaming/dropping them would silently break key matching,
    * constraint validation, or generated-column recompute. Refused
    * loudly, never faked (the conservative word-boundary match may
    * over-refuse a constraint mentioning the name in a string literal;
    * that costs a refusal, not correctness). */
  private def requireUnreferenced(m: Manifest, colName: String,
      verb: String): Unit = {
    require(!m.mergeKeys.exists(_.equalsIgnoreCase(colName)),
      s"cannot $verb merge-key column '$colName'")
    val ref = java.util.regex.Pattern.compile(
      "(?i)\\b" + java.util.regex.Pattern.quote(colName) + "\\b")
    require(!m.constraints.exists(c => ref.matcher(c).find()),
      s"cannot $verb '$colName': a CHECK constraint references it")
    require(!m.generated.exists { case (g, e) =>
      g.equalsIgnoreCase(colName) || ref.matcher(e).find() },
      s"cannot $verb '$colName': a generated column or its expression references it")
  }

  /** RENAME COLUMN as a metadata-only commit. The new logical name must
    * not collide with any LIVE OR HISTORICAL physical name — that
    * frozen-name invariant is what keeps the write-side translation
    * collision-free forever (renaming back to the column's own physical
    * name is the one allowed re-use: it just erases the map entry).
    *
    * Change-feed note: the rename commit itself is dataChange=false and
    * touches no files, so per-version feeds skip it; a feed WINDOW that
    * spans a rename compares frames under different logical names and
    * fails loudly at analysis — drain up to the rename, then from it. */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = rerun {
    val base = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val logical = schemaAt(spark, path, Some(base.version)).fieldNames.toSeq
    require(logical.contains(from), s"no column '$from' at $path")
    require(!logical.exists(_.equalsIgnoreCase(to)),
      s"column '$to' already exists")
    requireUnreferenced(base, from, "rename")
    val physical = base.renames.getOrElse(from, from)
    val frozen = logical.map(n => base.renames.getOrElse(n, n)).toSet ++
      base.droppedCols ++ base.renames.values
    require(physical == to || !frozen.exists(_.equalsIgnoreCase(to)),
      s"'$to' collides with a live or historical physical column name")
    val nr =
      if (physical == to) base.renames - from
      else base.renames - from + (to -> physical)
    // the mapping is computed from this exact base: a moved head re-runs
    // the checks against the new one
    claim(path, Some(base), Change(mapping = Some((nr, base.droppedCols)),
      dataChange = false), Rebase.Strict)
  }

  /** DROP COLUMN as a metadata-only commit: the physical column is
    * hidden, not rewritten (vacuum-by-rewrite is OPTIMIZE's job if the
    * bytes must go). The dropped physical name stays frozen — a later
    * ADD COLUMN may not re-use it, or the hidden bytes would resurface
    * under the new column. */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
      rerun {
    val base = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val logical = schemaAt(spark, path, Some(base.version)).fieldNames.toSeq
    require(logical.contains(name), s"no column '$name' at $path")
    require(logical.size > 1, "cannot drop a table's only column")
    requireUnreferenced(base, name, "drop")
    val physical = base.renames.getOrElse(name, name)
    claim(path, Some(base), Change(mapping = Some((base.renames - name,
      (base.droppedCols :+ physical).distinct)), dataChange = false),
      Rebase.Strict)
  }

  /** Frozen physical names that may never be (re-)introduced as new
    * columns: live physicals, renamed-away originals, dropped columns.
    * ADD COLUMN paths check against this. */
  def reservedPhysicalNames(spark: SparkSession, path: String): Set[String] =
    latest(path) match {
      case None => Set.empty
      case Some(m) =>
        schemaAt(spark, path, Some(m.version)).fieldNames
          .map(n => m.renames.getOrElse(n, n)).toSet ++
          m.droppedCols ++ m.renames.values
    }

  /** Logical → physical field-name translation for writers that stream
    * rows straight to parquet (the SQL delta writes, the catalog
    * streaming sink) — the same translation [[stage]] applies to
    * DataFrame writes. */
  def physicalWriteSchema(path: String,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    latest(path).filter(_.renames.nonEmpty).map { m =>
      org.apache.spark.sql.types.StructType(schema.map(f =>
        f.copy(name = m.renames.getOrElse(f.name, f.name))))
    }.getOrElse(schema)

  /** The column-mapping state of the latest version — (logical →
    * physical renames, dropped physical columns); observability for
    * gates and DESCRIBE. */
  def columnMapping(path: String): (Map[String, String], Seq[String]) =
    latest(path).map(m => (m.renames, m.droppedCols))
      .getOrElse((Map.empty, Seq.empty))

  /** GENERATED-column application/validation (Delta's): a write absent
    * the column COMPUTES it; a write carrying it must MATCH the stored
    * expression row-for-row (null-safe) or it aborts mid-scan like a
    * CHECK violation. Runs before constraint enforcement so a
    * constraint may reference a generated column. */
  private def applyGenerated(df: DataFrame,
      gens: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, coalesce, col, expr, lit}
    gens.foldLeft(df) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d.withColumn(c, expr(e))
      else {
        // a NULL in a supplied generated column means "compute it" — a
        // SQL `INSERT INTO t (cols-without-c)` arrives with c
        // null-padded by the analyzer, indistinguishable from an
        // explicit NULL; supplied NON-null values must match the
        // expression exactly (the Delta generated-column contract)
        d.where(gated(assert_true(col(c).isNull || (col(c) <=> expr(e)),
          lit(s"generated column '$c' does not match its expression $e"))
          .isNull))
          .withColumn(c, coalesce(col(c), expr(e)))
      }
    }
  }

  /** Logical → physical write translation: generated columns and CHECK
    * constraints speak LOGICAL names and run first; the parquet bytes
    * carry the frozen physical names so every file of the table shares
    * one physical schema regardless of renames. */
  private def toPhysical(df: DataFrame, path: String): DataFrame =
    latest(path) match {
      case Some(m) if m.renames.nonEmpty =>
        df.select(df.columns.map(c =>
          df.col(c).as(m.renames.getOrElse(c, c))).toIndexedSeq: _*)
      case _ => df
    }

  // (Timestamps store as INT64 MICROS — graft's storage form, pinned by
  // [[org.apache.spark.sql.graft.ParquetRowWriter.open]] on EVERY write
  // path now that staging is committer-free: INT96 carries no ordered
  // footer statistics, so time-window predicates over an INT96 table
  // could never skip a file.)

  /** One-job dup-key guard over both merge splits. Grouping includes the
    * side tag, so a delete-then-reinsert key (once per side — the
    * legitimate CDC shape) passes while a duplicate WITHIN either side
    * fails: the same semantics as the two per-side guard jobs this
    * replaces, at half the action count (the guard runs on EVERY merge,
    * so the saved job is paid dozens of times per pipeline run). */
  private def requireKeyedSplits(upserts: DataFrame, tombstones: DataFrame,
      keyCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val dup = upserts
      .select(lit("upsert").as("__side") +: keyCols.map(col): _*)
      .unionByName(tombstones
        .select(lit("tombstone").as("__side") +: keyCols.map(col): _*))
      .groupBy(("__side" +: keyCols).map(col): _*).count()
      .where(col("count") > 1).limit(1).collect()
    require(dup.isEmpty, s"source has duplicate " +
      s"${dup.headOption.map(_.getString(0)).getOrElse("")} merge key " +
      s"${dup.headOption.map(_.get(1))}")
  }

  /** Staging parallelism sized by DATA, not cores: ceil(estimated bytes /
    * target file size) write tasks. Frames entering stage() default to
    * `spark.sql.shuffle.partitions` (= core count) partitions, so without
    * this every commit writes one near-empty file PER CORE — the file
    * count, footer harvest, downstream listing and compaction work then
    * scale with the cluster size instead of the delta size (guide §6
    * small-files / §2 partition sizing; at 32 cores the staging bucket
    * measured 2.5× its 8-core cost on identical data). The estimate comes
    * from the optimizer's size stats: exact for local/checkpointed frames
    * (the common commit shapes), conservative (huge ⇒ no coalesce, i.e.
    * current behavior) for frames it cannot size. Coalesce never raises
    * the partition count, so a big frame keeps its parallelism. */
  private[sources] def stageTasks(df: DataFrame): Int =
    stageTasks(df.sparkSession, df.queryExecution.optimizedPlan.stats.sizeInBytes)

  private def stageTasks(spark: SparkSession, est: BigInt): Int = {
    val target = spark.conf.getOption(
      "spark.graft.stage.targetFileBytes").map(_.toLong)
      .getOrElse(128L * 1024 * 1024)
    val n = (est + BigInt(target) - 1) / BigInt(target)
    if (n < 1) 1 else if (n > (1 << 20)) 1 << 20 else n.toInt
  }

  /** True when the CALLER deliberately partitioned the frame it is
    * staging (repartition / repartitionByRange / coalesce at the top of
    * the plan, under projections/filters/sorts): the partition count is
    * then the caller's intended FILE LAYOUT — e.g. range-clustering a
    * table so per-file min/max stats prune reads — and stage() must not
    * fold it away. */
  private def callerSized(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: RepartitionOperation => true
      case p: Project => callerSized(p.child)
      case f: Filter => callerSized(f.child)
      case s: Sort => callerSized(s.child)
      case _ => false
    }
  }

  /** The execution RDD of `frame`, coalesced to [[stageTasks]] writers
    * unless the caller sized the layout itself. Works on the SAME
    * QueryExecution the stats came from, so the plan is analyzed and
    * optimized exactly once per staging action (a DataFrame-level
    * coalesce would replan the whole tree — measured ~40% on the
    * per-action staging floor). */
  private def sizedRdd(frame: DataFrame, keepLayout: Boolean)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
      CommitProfile.timed("stagePlan") {
    val qe = frame.queryExecution
    val rdd = qe.toRdd
    if (keepLayout) rdd
    else {
      val want = stageTasks(frame.sparkSession,
        qe.optimizedPlan.stats.sizeInBytes)
      if (want < rdd.getNumPartitions) rdd.coalesce(want) else rdd
    }
  }

  private def stage(df: DataFrame, path: String): Seq[String] =
      CommitProfile.timed("stage") {
    Files.createDirectories(dataDir(path))
    val keepLayout = callerSized(df.queryExecution.analyzed)
    val processed = toPhysical(enforceConstraints(
      applyGenerated(df, generatedColumns(path)), constraints(path)), path)
    // PARTITIONED BY tables stage through the rolling task writer: a
    // cheap in-task sort on the partition columns, then a new file
    // whenever the value tuple changes — every staged file carries
    // exactly ONE partition value (the invariant the read side needs to
    // report a KeyGroupedPartitioning for storage-partitioned joins).
    // Files land directly in the data dir (invisible until the manifest
    // commit references them, same as the DSv2 write paths); a task
    // failure deletes its own files before rethrowing.
    // bucket layouts route rows by floorMod(xxhash64(col), n) — the
    // exact function the catalog serves for SPJ matching — and name
    // each rolled file b<id>-<uuid>.parquet (Hive/Spark bucketed tables
    // carry the bucket id in numbered file names the same way)
    GraftCatalog.readDeclaredLayout(Paths.get(path)) match {
      case Seq(GraftCatalog.BucketPart(n, c))
          if processed.columns.contains(c) =>
        return stageBucketed(processed, path, n, c)
      case _ => ()
    }
    val declaredParts = GraftCatalog.readDeclaredParts(Paths.get(path))
    if (declaredParts.nonEmpty &&
        declaredParts.forall(processed.columns.contains)) {
      val dd = dataDir(path).toAbsolutePath.toString
      val sorted = processed.sortWithinPartitions(
        declaredParts.map(processed.col): _*)
      val schema = sorted.schema
      val codec = GraftCatalog.readDeclaredCompression(Paths.get(path))
      // sizing note: RDD-level coalesce concatenates the in-task-sorted
      // runs; the roll writer still emits one partition value per file
      // (it rolls on value change), only the file count shrinks
      val rdd = sizedRdd(sorted, keepLayout).mapPartitions { rows =>
        val w = new GraftAppendTaskWriter(dd, schema, declaredParts, None, codec)
        try { rows.foreach(w.write); val fs = w.files; w.close(); fs.iterator }
        catch { case e: Throwable => w.abort(); throw e }
      }
      return CommitProfile.timed("stageJob") { rdd.collect().toSeq.sorted }
    }
    // committer-free staging (the partitioned/bucketed paths' rolling
    // task writer, with no roll key): each non-empty task streams its
    // rows straight to ONE UUID-named file in the data dir — invisible
    // until the manifest commit references it, a failed task deletes its
    // own files. This replaces the DataFrameWriter round trip (staging
    // dir + Hadoop committer + _SUCCESS + per-file ATOMIC_MOVE), which
    // profiled as the single largest term of the local commit floor
    // (~0.3 s/action — see CommitFloorSpec); ParquetRowWriter pins the
    // same TIMESTAMP_MICROS format invariant the old path set via
    // session conf.
    val dd = dataDir(path).toAbsolutePath.toString
    val schema = processed.schema
    val codec = GraftCatalog.readDeclaredCompression(Paths.get(path))
    val stagedRdd = sizedRdd(processed, keepLayout).mapPartitions { rows =>
      val w = new GraftAppendTaskWriter(dd, schema, Seq.empty, None, codec)
      try { rows.foreach(w.write); val fs = w.files; w.close(); fs.iterator }
      catch { case e: Throwable => w.abort(); throw e }
    }
    val staged = CommitProfile.timed("stageJob") {
      stagedRdd.collect().toSeq.sorted }
    if (staged.nonEmpty) staged
    else {
      // an EMPTY frame still stages ONE zero-row file (the old
      // DataFrameWriter contract): the table's schema lives in parquet
      // footers, so a TRUNCATE/empty-overwrite version must name a file
      val name = s"${UUID.randomUUID()}.parquet"
      org.apache.spark.sql.graft.ParquetRowWriter
        .open(s"$dd/$name", schema, codec).close()
      Seq(name)
    }
  }

  /** Bucket-layout staging: shuffle rows by bucket id, sort within
    * tasks, roll a new file per bucket, and PROJECT the derived bucket
    * column back out before writing — files keep the table schema, the
    * bucket id rides the file name. */
  private def stageBucketed(processed: DataFrame, path: String,
      n: Int, c: String): Seq[String] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val dd = dataDir(path).toAbsolutePath.toString
    val codec = GraftCatalog.readDeclaredCompression(Paths.get(path))
    val withB = processed.withColumn("__graft_bucket",
      pmod(xxhash64(processed.col(c)), lit(n.toLong)).cast("int"))
    val sorted = withB.repartition(n, withB.col("__graft_bucket"))
      .sortWithinPartitions(withB.col("__graft_bucket"), withB.col(c))
    val schema = sorted.schema
    val bIdx = schema.fieldIndex("__graft_bucket")
    val baseSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == "__graft_bucket"))
    val types = baseSchema.fields.map(_.dataType)
    sorted.queryExecution.toRdd.mapPartitions { rows =>
      import org.apache.spark.sql.graft.ParquetRowWriter
      var out: ParquetRowWriter.Writer = null
      var cur = Int.MinValue
      var names = List.empty[String]
      def closeOut(): Unit = if (out != null) { out.close(); out = null }
      try {
        rows.foreach { r =>
          val b = r.getInt(bIdx)
          if (out == null || b != cur) {
            closeOut()
            cur = b
            val nm = s"b$b-${UUID.randomUUID()}.parquet"
            names = nm :: names
            out = ParquetRowWriter.open(s"$dd/$nm", baseSchema, codec)
          }
          val vals = new Array[Any](types.length)
          var i = 0; var j = 0
          while (i < r.numFields) {
            if (i != bIdx) { vals(j) = r.get(i, types(j)); j += 1 }
            i += 1
          }
          out.write(
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              vals))
        }
        closeOut()
        names.reverse.iterator
      } catch {
        case e: Throwable =>
          closeOut()
          names.foreach(nm => Files.deleteIfExists(Paths.get(dd, nm)))
          throw e
      }
    }.collect().toSeq.sorted
  }

  /** Per-file column stats from the parquet footers of freshly staged
    * files — the Delta/Iceberg add-file stats, harvested from metadata
    * the write already produced (no data re-read; one footer open per
    * file, driver-side, KBs each). Only types whose footer stats compare
    * faithfully are recorded: plain int32/int64, float/double, and
    * UTF8-annotated binary. Annotated physical types (decimal-as-binary,
    * date, timestamp) are SKIPPED — a missing stat means "never prune",
    * so unsupported columns cost selectivity, not correctness. */
  /** Per-file row counts (one footer open per file — prefer
    * [[footerHarvest]] when stats are needed too: same open serves both). */
  private def footerRows(path: String, files: Seq[String]): Map[String, Long] =
    footerHarvest(path, files)._2

  private def footerStats(path: String,
      files: Seq[String]): Map[String, Map[String, ColStats]] =
    footerHarvest(path, files)._1

  /** ONE footer open per file, PARALLEL across files: per-column
    * min/max/null stats AND the row count from the same open. Every
    * commit path harvests freshly-staged files through here; the two
    * properties matter independently at 100 TB — a serial loop costs
    * O(files) round-trips per commit on object storage (each footer
    * open is a ranged GET), and separate stats/rows passes doubled the
    * opens. KB-scale reads, driver-side, ~#cores concurrent. */
  private def footerHarvest(path: String, files: Seq[String])
      : (Map[String, Map[String, ColStats]], Map[String, Long]) =
      CommitProfile.timed("footerHarvest") {
    val harvested: Seq[(String, Map[String, ColStats], Long)] =
      if (files.lengthCompare(2) < 0) files.map(n => harvestOne(path, n))
      else {
        import scala.collection.parallel.CollectionConverters._
        files.par.map(n => harvestOne(path, n)).seq
      }
    (harvested.map(h => h._1 -> h._2).toMap,
      harvested.map(h => h._1 -> h._3).toMap)
  }

  private def harvestOne(path: String,
      name: String): (String, Map[String, ColStats], Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(dataDir(path).resolve(name).toUri)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
        val schema = r.getFooter.getFileMetaData.getSchema
        // per-column: (numeric?, micros multiplier for TIMESTAMP bounds,
        // canonical-unit tag persisted alongside the bound)
        final case class StatKind(numeric: Boolean, mult: Long,
          unit: Option[String], decScale: Option[Int] = None)
        val eligible: Map[String, StatKind] = schema.getFields.asScala.collect {
          case f if f.isPrimitive =>
            val pt = f.asPrimitiveType()
            val ann = pt.getLogicalTypeAnnotation
            val prim = pt.getPrimitiveTypeName
            import PrimitiveType.PrimitiveTypeName._
            val numericOk = (prim == INT32 || prim == INT64 ||
              prim == FLOAT || prim == DOUBLE) &&
              (ann == null || ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation])
            // DATE = INT32 epoch days: harvested as a numeric bound, so
            // the canonical 100 TB scope dimension prunes files like any
            // integer (predicate values normalize to days in numValue)
            val dateOk = prim == INT32 &&
              ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
            // TIMESTAMP = INT64 epoch millis/micros (both TZ-adjusted
            // instants and NTZ "local" micros — one unit either way):
            // normalized to MICROS at harvest so created_at/updated_at
            // windows — the reference's two incremental cursor modes —
            // prune files exactly like q170's DATE recipe. NANOS (never
            // Spark-written, foreign writers only) would need a
            // direction-aware rounding to stay sound on truncation, so
            // it stays un-harvested (conservative full scan). INT96
            // timestamps carry deprecated/unordered stats; graft writes
            // INT64 micros as a FORMAT INVARIANT (the Iceberg choice).
            val tsMult: Option[Long] = ann match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if prim == INT64 =>
                t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
                  case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
                  case _ => None
                }
              case _ => None
            }
            val stringOk = prim == BINARY &&
              ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            // DECIMAL = unscaled int (INT32/INT64 for p<=18, byte arrays
            // above): footer bounds rescale to EXACT plain-decimal
            // strings — money columns (the other predicate real
            // pipelines cut on) prune files without the half-ULP
            // unsoundness a double round-trip would smuggle in (all
            // numeric stat compares go through BigDecimal, see cmpStat)
            val decScale: Option[Int] = ann match {
              case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
                  if prim == INT32 || prim == INT64 || prim == BINARY ||
                     prim == FIXED_LEN_BYTE_ARRAY =>
                Some(d.getScale)
              case _ => None
            }
            if (numericOk || dateOk)
              Some(f.getName -> StatKind(numeric = true, 1L, None))
            else if (tsMult.isDefined)
              Some(f.getName -> StatKind(numeric = true, tsMult.get, Some("us")))
            else if (decScale.isDefined)
              Some(f.getName -> StatKind(numeric = true, 1L, None, decScale))
            else if (stringOk)
              Some(f.getName -> StatKind(numeric = false, 1L, None))
            else None
        }.flatten.toMap
        // fold row-group chunk stats into one per-column file min/max;
        // null counts fold on their own track (they exist even for
        // chunks with NO non-null value — the all-null case bounds
        // cannot represent)
        val acc = scala.collection.mutable.Map[String, (Any, Any)]()
        val nullsAcc = scala.collection.mutable.Map[String, Long]()
        var complete = Set.empty[String] // columns with stats in EVERY group
        var nullsComplete = Set.empty[String] // numNulls set in EVERY group
        var sawValue = Set.empty[String] // >=1 non-null value anywhere
        var first = true
        var rowCount = 0L
        r.getFooter.getBlocks.asScala.foreach { block =>
          rowCount += block.getRowCount
          val present = scala.collection.mutable.Set[String]()
          val nPresent = scala.collection.mutable.Set[String]()
          block.getColumns.asScala.foreach { chunk =>
            val cname = chunk.getPath.toDotString
            if (eligible.contains(cname)) {
              val st = chunk.getStatistics
              if (st != null && st.isNumNullsSet) {
                nPresent += cname
                nullsAcc(cname) = nullsAcc.getOrElse(cname, 0L) + st.getNumNulls
              }
              if (st != null && st.hasNonNullValue) {
                present += cname
                sawValue += cname
                val kind = eligible(cname)
                def decode(v: Any): Any = kind.decScale match {
                  case Some(sc) => decimalValue(v, sc)
                  case None => statValue(v, kind.mult)
                }
                val mn = decode(st.genericGetMin)
                val mx = decode(st.genericGetMax)
                acc.get(cname) match {
                  case Some((curMn, curMx)) =>
                    acc(cname) = (
                      if (cmpVals(mn, curMn) < 0) mn else curMn,
                      if (cmpVals(mx, curMx) > 0) mx else curMx)
                  case None => acc(cname) = (mn, mx)
                }
              }
            }
          }
          complete = if (first) present.toSet else complete.intersect(present.toSet)
          nullsComplete =
            if (first) nPresent.toSet else nullsComplete.intersect(nPresent.toSet)
          first = false
        }
        val bounded = complete.map { c =>
          val (mn, mx) = acc(c)
          val k = eligible(c)
          // decimals render toPlainString (no E-notation: the bound must
          // re-parse exactly wherever the manifest is read)
          def render(v: Any): String = v match {
            case d: java.math.BigDecimal => d.toPlainString
            case other => other.toString
          }
          c -> ColStats(render(mn), render(mx), k.numeric, k.unit,
            if (nullsComplete(c)) Some(nullsAcc(c)) else None)
        }.toMap
        // ENTIRELY-NULL columns carry no bounds but a complete null
        // count and zero observed values anywhere: tag them so every
        // null-rejecting predicate (and IS NOT NULL) prunes the file
        // without any bound ever being compared
        val allNull = nullsComplete.filterNot(sawValue).filterNot(complete)
          .map(c => c -> ColStats("", "", numeric = false,
            unit = Some("allnull"), nulls = Some(nullsAcc(c)))).toMap
        (name, bounded ++ allNull, rowCount)
    } finally r.close()
  }

  /** A parquet DECIMAL footer bound (unscaled int / two's-complement
    * byte array) rescaled to its exact decimal value. */
  private def decimalValue(v: Any, scale: Int): Any = v match {
    case n: java.lang.Integer =>
      new java.math.BigDecimal(java.math.BigInteger.valueOf(n.longValue()), scale)
    case n: java.lang.Long =>
      new java.math.BigDecimal(java.math.BigInteger.valueOf(n.longValue()), scale)
    case b: org.apache.parquet.io.api.Binary =>
      new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), scale)
    case other => other
  }

  private def statValue(v: Any, mult: Long = 1L): Any = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case n: java.lang.Long if mult != 1L =>
      java.lang.Long.valueOf(Math.multiplyExact(n.longValue(), mult))
    case other => other
  }

  private def cmpVals(a: Any, b: Any): Int = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: Number, y: Number) =>
      java.math.BigDecimal.valueOf(x.doubleValue())
        .compareTo(java.math.BigDecimal.valueOf(y.doubleValue()))
    case (x: String, y: String) => cmpUtf8(x, y)
    case _ => 0
  }

  /** Atomic manifest publication with mutual exclusion. The JSON is
    * rendered to a hidden temp file, then HARD-LINKED to the version
    * name: link(2) fails with EEXIST atomically if the version already
    * landed (the optimistic lock, same as createFile), and the target
    * appears with its complete content — a concurrent reader can never
    * observe an empty/partial manifest, and a writer crash between the
    * two steps of create-then-write can no longer strand a permanently
    * empty version. Where the filesystem has no hard links, exclusion
    * must be its own primitive: `Files.createFile(target)` claims the
    * version atomically (EEXIST ⇒ lost the race), and only the claim
    * winner replaces the placeholder with the rendered content via an
    * atomic rename — a bare ATOMIC_MOVE here would be rename(2), which
    * on POSIX silently REPLACES an existing target and lets two racing
    * committers both "win" the same version. Readers tolerate the
    * claim-to-content window via the empty-manifest retry in [[parse]]. */
  // ── COMMIT-FLOOR PROFILING ──────────────────────────────────────────
  // Per-phase wall-clock accounting for the transactional write path —
  // the observability behind "where does the ~1 s/commit go locally?".
  // Always on: one ConcurrentHashMap update per phase per commit
  // (nanoseconds against a floor measured in hundreds of milliseconds).
  private[graft] object CommitProfile {
    import java.util.concurrent.atomic.AtomicLong
    private val cells = new java.util.concurrent.ConcurrentHashMap[
      String, (AtomicLong, AtomicLong)]()
    def timed[A](phase: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally {
        val c = cells.computeIfAbsent(phase,
          _ => (new AtomicLong, new AtomicLong))
        c._1.incrementAndGet()
        c._2.addAndGet(System.nanoTime() - t0)
      }
    }
    /** phase → (calls, total seconds). */
    def snapshot: Map[String, (Long, Double)] =
      cells.asScala.map { case (k, (n, ns)) =>
        k -> ((n.get, ns.get / 1e9)) }.toMap
    def reset(): Unit = cells.clear()
  }

  private def publish(target: Path, content: String): Unit =
      CommitProfile.timed("publish") {
    val tmp = target.resolveSibling(s".tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, content)
    try Files.createLink(target, tmp)
    catch {
      case _: UnsupportedOperationException =>
        Files.createFile(target) // the lock: throws FileAlreadyExistsException
        try Files.move(tmp, target,
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.AtomicMoveNotSupportedException =>
            Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
        }
    } finally Files.deleteIfExists(tmp)
  }

  // ── LOGICAL COMMIT-CONFLICT RESOLUTION: THE ONE COMMIT LOOP ──────
  //
  // Every single-table commit is a [[Change]] — the files it adds (with
  // their seqs), the files it removes, the delete files it adds, the
  // table metadata it re-declares, its dataChange flag — landed by ONE
  // loop, [[claim]]: read the head, build its [[successor]], fire
  // [[beforePublishHook]], and claim `v<head+1>.json` through
  // [[publish]] (the atomic create: whoever links the version first
  // wins). A lost claim re-reads the head and either REBASES — the same
  // change applied to the new head, zero bytes re-staged — or reports a
  // [[CommitConflict]] to the caller, which re-plans through [[rerun]]
  // or refuses loudly (a user's [[TableTxn]], a DML fast-forward).
  //
  // The rebase rule is exact, not heuristic. Against the base the
  // change was planned on, a moved head is adopted iff:
  //
  //   1. a REWRITE's inputs (the files it consumed) are still live at
  //      the head — the winner didn't rewrite/remove what we read;
  //   2. for a rewrite, the MoR delete ledger and the merge keys are
  //      unchanged — a delete landing mid-rewrite would be folded away
  //      by our staged files' fresh seq, silently resurrecting the
  //      winner's deleted rows;
  //   3. staged rows re-prove against a drifted contract (constraints,
  //      generated columns) with one O(staged) scan — the metadata
  //      commit validated every other row at its own version; column
  //      mapping drift is free (physical names are frozen at birth);
  //   4. the change's own check ([[Rebase.admits]]) accepts the files
  //      the winner ADDED: a predicate-scoped rewrite proves none holds
  //      an in-scope row, a keyed write that none holds one of its keys
  //      — scans over only the winner's delta, O(winner's commit).
  //
  // Appends and overwrites are BLIND (their staged files are
  // head-independent: only rule 3 applies); metadata-only commits re-run
  // their own proof on the winner's delta; commits whose change is
  // computed from the exact base (column mapping, restore, a DML
  // fast-forward's pinned seqs) are STRICT — any moved head conflicts.
  // Rebase is an optimization, never a semantics change: a refused
  // rebase re-runs, and a re-run is what the claim race always was.

  /** One commit's change, independent of the head it lands on. */
  private final case class Change(
      // data files added; each lands at the claimed version's seq unless
      // `seqs` pins it (a branch fast-forward keeps its commits' order)
      added: Seq[String] = Seq.empty,
      seqs: Map[String, Long] = Map.empty,
      // footer stats of the added data files; row counts and recorded
      // sizes of every added file, delete files included
      stats: Map[String, Map[String, ColStats]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      bytes: Map[String, Long] = Map.empty,
      // head files the commit drops — a rewrite's consumed inputs
      removed: Set[String] = Set.empty,
      // overwrite: every head file and the whole delete ledger go
      replace: Boolean = false,
      // merge-on-read delete files added, each with its seq
      deletes: Seq[(String, Long)] = Seq.empty,
      deleteStats: Map[String, Map[String, ColStats]] = Map.empty,
      // the rewrite carries the ledger's effect in data: drop the ledger
      foldDeletes: Boolean = false,
      // table metadata the commit re-declares; None carries the head's
      constraints: Option[Seq[String]] = None,
      generated: Option[Seq[(String, String)]] = None,
      mapping: Option[(Map[String, String], Seq[String])] = None,
      mergeKeys: Option[Seq[String]] = None,
      txn: Option[(String, Long)] = None,
      commitId: Option[String] = None,
      dataChange: Boolean = true)

  /** The manifest `c` makes of `head` at version `next` — the one place
    * a next manifest is built. Kept files carry their seq, stats, row
    * count and recorded size (render's one stat per file fills the new
    * sizes); added files land at `next` unless pinned. The FIRST commit
    * (no head) seeds the contract from the CREATE-time DDL declaration.
    * dataChange and rebasedFrom are always this commit's own, never
    * inherited. */
  private def successor(path: String, head: Option[Manifest], next: Long,
      c: Change, rebasedFrom: Option[Long] = None): Manifest = {
    val h = head.getOrElse(Manifest(0L, Seq.empty, None, 0L,
      constraints = GraftCatalog.readDeclaredConstraints(Paths.get(path)),
      generated = GraftCatalog.readDeclaredGenerated(Paths.get(path))))
    // per-file maps update by the change alone — O(change), not
    // O(table): render writes entries for live files only
    def carry[V](m: Map[String, V]) = if (c.replace) Map.empty[String, V]
      else m -- c.removed
    val clearLedger = c.replace || c.foldDeletes
    Manifest(next,
      (if (c.replace) Seq.empty else h.files.filterNot(c.removed)) ++ c.added,
      c.commitId, h.version,
      stats = carry(h.stats) ++ c.stats,
      seqs = carry(h.seqs) ++ c.added.map(f => f -> c.seqs.getOrElse(f, next)),
      deletes = (if (clearLedger) Seq.empty else h.deletes) ++ c.deletes,
      constraints = c.constraints.getOrElse(h.constraints),
      deleteStats =
        if (clearLedger) c.deleteStats else h.deleteStats ++ c.deleteStats,
      rows = carry(h.rows) ++ c.rows,
      mergeKeys = c.mergeKeys.getOrElse(h.mergeKeys),
      dataChange = c.dataChange,
      generated = c.generated.getOrElse(h.generated),
      // the txn ledger carries forward (overwrite included: replay
      // protection must survive a Complete-mode epoch replacing the data)
      txns = h.txns ++ c.txn,
      renames = c.mapping.fold(h.renames)(_._1),
      droppedCols = c.mapping.fold(h.droppedCols)(_._2),
      bytes = carry(h.bytes) ++ c.bytes,
      rebasedFrom = rebasedFrom)
  }

  /** How a claim resolves against a head that moved past its base.
    * `inputs` marks a REWRITE: those files must still be live and the
    * delete ledger and merge keys unmoved. `admits` receives the head
    * and the files it added since the base; Some(reason) is a conflict. */
  private final case class Rebase(inputs: Option[Set[String]],
      admits: (Manifest, Seq[String]) => Option[String])

  private object Rebase {
    val Blind = Rebase(None, (_, _) => None)
    val Strict = Rebase(None, (_, _) => Some("a concurrent commit landed first"))
    def rewrite(inputs: Set[String],
        admits: (Manifest, Seq[String]) => Option[String] = (_, _) => None) =
      Rebase(Some(inputs), admits)
  }

  /** A lost claim the change cannot rebase across: nothing landed. An
    * IllegalArgumentException — the type bundle refusals always had —
    * so [[rerun]] tells it from every other failure by type. */
  private[graft] final class CommitConflict(msg: String)
    extends IllegalArgumentException(msg)

  /** TEST SEAM: invoked before every claim of a next version — lets
    * specs and gates inject a racing commit at the exact point where
    * the optimistic claim will be lost. Reset it in the injected body
    * (one-shot) or the racing commit recurses. */
  private[graft] var beforePublishHook: () => Unit = () => ()

  private val ClaimAttempts = 64
  private val RerunAttempts = 8

  /** Land `c` as the next version of `path`; returns that version (or,
    * with `replay`, the version an earlier landing of the same txn
    * epoch / commit id took). `base` is the manifest the change was
    * planned against: the first claim goes straight for its successor
    * and a moved head is judged by `rebase`. Without a base the commit
    * is blind and reads the head on every attempt. `stagedUnder` is the
    * contract the staged rows validated against when it is not the
    * base's (None without a base: no re-validation context). */
  private def claim(path: String, base: Option[Manifest], c: Change,
      rebase: Rebase = Rebase.Blind, stagedUnder: Option[Manifest] = None,
      replay: Boolean = false): Long = {
    if (base.isEmpty) Files.createDirectories(manifestDir(path))
    val under = stagedUnder.orElse(base)
    val baseFiles = base.map(_.files.toSet).getOrElse(Set.empty[String])
    def conflict(why: String) =
      throw new CommitConflict(s"commit conflict at $path: $why")
    // contracts the staged rows were already proven against
    var proven = Set.empty[(Seq[String], Seq[(String, String)])]
    var attempts = 0
    while (attempts < ClaimAttempts) {
      attempts += 1
      val head = if (attempts == 1 && base.isDefined) base else latest(path)
      if (replay) {
        // O(1) idempotent replay for transactional writers from the
        // head's txn ledger; otherwise the O(versions) commit-id scan
        for ((app, epoch) <- c.txn; h <- head if h.txns.get(app).exists(_ >= epoch))
          return h.version
        CommitProfile.timed("replayScan") {
          if (c.txn.isDefined) None else c.commitId.flatMap(id =>
            versions(path).map(manifestAt(path, _)).find(_.commitId.contains(id)))
        }.foreach(m => return m.version)
      }
      val rebasedFrom = for (b <- base; h <- head if h.version != b.version)
        yield {
          rebase.inputs.foreach { in =>
            val live = h.files.toSet
            if (!in.forall(live)) conflict(
              "a concurrent commit rewrote files this commit consumed")
            if (h.deletes != b.deletes || h.deleteStats != b.deleteStats ||
                h.mergeKeys != b.mergeKeys) conflict(
              "the delete ledger or merge keys moved under this commit")
          }
          rebase.admits(h, h.files.filterNot(baseFiles)).foreach(conflict)
          b.version
        }
      for {
        u <- under
        h <- head
        contract = (h.constraints, h.generated)
        if c.added.nonEmpty && contract != ((u.constraints, u.generated)) &&
          !proven(contract)
      } {
        // drift with rows staged: validation is mandatory — a missing
        // session must fail the commit, not skip the exact check
        val spark = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
          .getOrElse(throw new IllegalStateException(
            s"a contract commit landed at $path while this write was " +
              "staging and no SparkSession is available to re-validate " +
              "the staged rows - refusing to commit unvalidated"))
        if (!filesSatisfy(spark, path, c.added, h.constraints, h.generated,
            h.renames, h.droppedCols))
          conflict("a constraint/generated-column commit landed while " +
            "this write was staging, and the staged rows do not satisfy " +
            "the new contract " + h.constraints.mkString("[", "; ", "]"))
        proven += contract
      }
      val next = head.fold(1L)(_.version + 1)
      beforePublishHook() // race-injection seam (specs/gates; no-op live)
      try {
        publish(manifestDir(path).resolve(f"v$next%08d.json"),
          render(path, successor(path, head, next, c, rebasedFrom)))
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => () // lost the claim
      }
    }
    throw new IllegalStateException(
      s"commit contention at $path: gave up after $attempts attempts")
  }

  /** Re-run `attempt` — re-plan, re-stage, re-claim from a fresh base —
    * while its claim reports a [[CommitConflict]]: the one retry for
    * commits whose staged work cannot rebase onto the winner (the
    * abandoned files are vacuum's). Any other failure propagates. */
  private def rerun[A](attempt: => A, left: Int = RerunAttempts): A =
    try attempt catch {
      case _: CommitConflict if left > 1 => rerun(attempt, left - 1)
    }

  /** Append (or, `replace`, overwrite) staged files: a blind claim,
    * re-checking replay on every attempt. `stagedUnder` is the manifest
    * whose contract the staging validated against — a head carrying a
    * DIFFERENT contract (a metadata commit raced us) re-validates the
    * staged files before adoption, so an append racing ADD CONSTRAINT
    * can never land rows the invariant never checked. None = no
    * staged-validation context. `resetMapping` is REPLACE TABLE AS
    * SELECT: its files carry the query's own names as fresh physical
    * names. */
  private def commit(path: String, newFiles: Seq[String], replace: Boolean,
      commitId: Option[String],
      appTxn: Option[(String, Long)] = None,
      resetMapping: Boolean = false,
      stagedUnder: Option[Manifest] = None): Long =
      CommitProfile.timed("commit") {
    val (newStats, newRows) = footerHarvest(path, newFiles)
    claim(path, None, Change(added = newFiles, stats = newStats,
        rows = newRows, replace = replace, txn = appTxn, commitId = commitId,
        mapping = if (resetMapping) Some((Map.empty, Seq.empty)) else None),
      stagedUnder = stagedUnder, replay = true)
  }

  /** Append-commit: new version = old files + df's files. */
  def append(df: DataFrame, path: String, commitId: Option[String] = None,
      appTxn: Option[(String, Long)] = None): Long = {
    requireNoWapSession(df.sparkSession, "append")
    if (txnLanded(path, appTxn)) // O(1) ledger replay: skip the staging
      return commit(path, Seq.empty, replace = false, commitId, appTxn)
    if (appTxn.isEmpty && commitId.exists(id =>
        versions(path).map(manifestAt(path, _)).exists(_.commitId.contains(id))))
      return commit(path, Seq.empty, replace = false, commitId) // replay fast-path
    val under = latest(path) // contract the in-scan staging validates against
    commit(path, stage(df, path), replace = false, commitId, appTxn,
      stagedUnder = under)
  }

  /** Overwrite-commit: new version = exactly df's files. */
  def overwrite(df: DataFrame, path: String, commitId: Option[String] = None,
      appTxn: Option[(String, Long)] = None): Long = {
    requireNoWapSession(df.sparkSession, "overwrite")
    if (txnLanded(path, appTxn))
      return commit(path, Seq.empty, replace = true, commitId, appTxn)
    if (appTxn.isEmpty && commitId.exists(id =>
        versions(path).map(manifestAt(path, _)).exists(_.commitId.contains(id))))
      return commit(path, Seq.empty, replace = true, commitId)
    val under = latest(path)
    commit(path, stage(df, path), replace = true, commitId, appTxn,
      stagedUnder = under)
  }

  /** O(1) per-commit replay answer from the latest manifest's txn
    * ledger — the check that replaces O(versions) commit-id scans on
    * transactional write paths (append/overwrite/merge/mergeMoR with
    * `appTxn`, the catalog streaming sink's epochs). */
  private def txnLanded(path: String, appTxn: Option[(String, Long)]): Boolean =
    appTxn.exists { case (app, epoch) =>
      latest(path).exists(_.txns.get(app).exists(_ >= epoch)) }

  // ──────────────────── multi-table transactions ────────────────────
  //
  // Delta has no multi-table transaction; Iceberg needs a REST catalog
  // for one. On this format it is a marker-decided two-phase commit
  // over the same atomic-create primitive the single-table log uses:
  //
  //   1. STAGE   — data files for every table (slow, invisible);
  //   2. CLAIM   — create each table's next `v<N>.json` EMPTY, in
  //                canonical path order (the existing optimistic lock:
  //                single-table committers lose the slot and retry on
  //                top; readers spin out the claim-to-content window
  //                exactly as they already do for the no-hardlink
  //                publish path). A lost claim rolls back the others
  //                and retries the whole claim set on fresh versions;
  //   3. DECIDE  — atomically create ONE marker file (in the first
  //                table's log) naming every (table, version, staged
  //                manifest). The marker's existence IS the commit:
  //                before it, recovery rolls everything back; after
  //                it, recovery rolls everything forward;
  //   4. PUBLISH — move each staged manifest onto its claimed slot
  //                (idempotent), then delete the marker.
  //
  // A crash leaves claims that BLOCK the affected tables (readers and
  // writers fail loudly on the empty manifest) until [[recoverTxn]] —
  // blocked-until-recovered is the correct failure mode; silently
  // readable half-transactions are the bug this protocol exists to
  // prevent. recoverTxn must only run while no writer is active on the
  // named tables (startup/admin context — the same contract as vacuum).

  /** One table's write inside a [[commitTxn]]. */
  final case class TxnWrite(df: DataFrame, path: String,
      replace: Boolean = false)

  /** Injected crash for recovery gates ([[commitTxn]]'s `crashPoint`). */
  private[graft] final class TxnCrash(val point: Int)
    extends RuntimeException(s"injected txn crash at point $point")

  private def jq(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Commit every write in `writes` atomically: readers of ANY involved
    * table see all of the txn's versions or none of them. Returns the
    * new versions in `writes` order. `commitId` gives the whole txn
    * exactly-once replay (landed = landed on every table).
    *
    * `crashPoint` is a test seam (fault injection, Delta-style): 1 dies
    * after data staging (invisible garbage), 2 after slot claims but
    * before the marker (recovery rolls back), 3 after the marker but
    * before publish (recovery rolls forward). */
  def commitTxn(writes: Seq[TxnWrite], commitId: Option[String] = None,
      crashPoint: Int = 0): Seq[Long] = {
    require(writes.nonEmpty, "empty transaction")
    val roots = writes.map(w => Paths.get(w.path).toAbsolutePath.toString)
    require(roots.distinct.size == roots.size,
      "one TxnWrite per table: duplicate paths cannot claim one slot twice")
    writes.foreach(w => Files.createDirectories(manifestDir(w.path)))
    commitId.foreach { id =>
      val landed = writes.map(w =>
        versions(w.path).map(manifestAt(w.path, _)).find(_.commitId.contains(id)))
      if (landed.forall(_.isDefined)) return landed.map(_.get.version)
      require(landed.forall(_.isEmpty),
        s"txn $id landed on a strict subset of its tables - run recoverTxn first")
    }
    val stagedData = writes.map(w => stage(w.df, w.path))
    val statsRows = writes.zip(stagedData).map { case (w, fs) =>
      footerHarvest(w.path, fs) }
    if (crashPoint == 1) throw new TxnCrash(1)
    val txnId = UUID.randomUUID().toString
    val markerPath = manifestDir(writes.head.path).resolve(s"txn-$txnId.json")
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      val curs = writes.map(w => latest(w.path))
      val nexts = curs.map(_.map(_.version + 1).getOrElse(1L))
      val targets = writes.indices.map(i =>
        manifestDir(writes(i).path).resolve(f"v${nexts(i)}%08d.json"))
      val order = writes.indices.sortBy(roots)
      val claimed = scala.collection.mutable.ArrayBuffer.empty[Path]
      var lost = false
      for (i <- order if !lost) {
        try { Files.createFile(targets(i)); claimed += targets(i) }
        catch { case _: java.nio.file.FileAlreadyExistsException => lost = true }
      }
      if (lost) {
        // nothing is visible yet: release the claims and retry on the
        // concurrent winner's new latest
        claimed.foreach(Files.deleteIfExists(_))
      } else {
        val stagedNames = writes.indices.map(i => s".staged-$txnId-v${nexts(i)}.json")
        writes.indices.foreach { i =>
          val md = manifestDir(writes(i).path)
          Files.writeString(md.resolve(stagedNames(i)),
            render(writes(i).path, successor(writes(i).path, curs(i), nexts(i),
              Change(added = stagedData(i), replace = writes(i).replace,
                stats = statsRows(i)._1, rows = statsRows(i)._2,
                commitId = commitId))))
          // non-coordinator tables get a pointer so recovery starting
          // from ANY table of the txn finds the one decision marker
          if (i != 0)
            Files.writeString(md.resolve(s".txn-$txnId.ptr"),
              markerPath.toAbsolutePath.toString)
        }
        if (crashPoint == 2) throw new TxnCrash(2)
        // DECIDE: the marker's atomic creation commits the transaction
        publish(markerPath, s"""{"txn":${jq(txnId)},"entries":[""" +
          writes.indices.map(i =>
            s"""{"dir":${jq(Paths.get(writes(i).path).toAbsolutePath.toString)},""" +
            s""""version":${nexts(i)},"staged":${jq(stagedNames(i))}}""")
            .mkString(",") + "]}")
        if (crashPoint == 3) throw new TxnCrash(3)
        finalizeTxn(markerPath)
        return nexts
      }
    }
    throw new IllegalStateException(
      s"txn contention: gave up after $attempts claim rounds")
  }

  /** The APPEND SLICE of versions (fromV, toV]: absolute paths of the
    * data files those commits added, for the streaming table source —
    * the seq map records each file's commit version, so the slice is
    * one manifest read, no diffing of file lists.
    *
    * Unless `ignoreChanges`, enforces the append-only contract a
    * streaming tail depends on (Delta source semantics): every file of
    * the start version must still be present at `toV` (no rewrite/
    * OPTIMIZE/overwrite in the range — re-emitting rewritten files
    * would double-count) and no MoR delete rows may appear (hidden
    * rows cannot be un-emitted). Violations throw loudly. */
  private[graft] def appendSlice(path: String, fromV: Long, toV: Long,
      ignoreChanges: Boolean = false): Seq[String] = {
    val m = manifestAt(path, toV)
    if (!ignoreChanges) {
      if (fromV > 0) {
        val base = manifestAt(path, fromV)
        val kept = m.files.toSet
        require(base.files.forall(kept),
          s"non-append change between v$fromV and v$toV of $path " +
            "(files removed/rewritten) - a streaming tail cannot replay it; " +
            "set ignoreChanges to stream adds anyway")
        require(m.deletes.size == base.deletes.size,
          s"merge-on-read deletes appeared between v$fromV and v$toV of " +
            s"$path - hidden rows cannot be un-emitted; set ignoreChanges " +
            "to stream adds anyway")
      } else require(m.deletes.isEmpty,
        s"table at $path carries merge-on-read deletes - a streaming " +
          "tail cannot represent them; set ignoreChanges to stream adds anyway")
    }
    m.files.filter(f => m.seqs.get(f).exists(sq => sq > fromV && sq <= toV))
      .map(f => dataDir(path).resolve(f).toAbsolutePath.toString)
  }

  /** Roll a DECIDED txn forward: move each staged manifest onto its
    * claimed slot (idempotent — finalized slots are skipped), drop the
    * pointers, then the marker. Safe to re-run after any partial
    * publish. */
  private def finalizeTxn(marker: Path): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(marker))
    val txnId = (j \ "txn").extract[String]
    val entries = (j \ "entries") match {
      case JArray(es) => es.map(e => ((e \ "dir").extract[String],
        (e \ "version").extract[Long], (e \ "staged").extract[String]))
      case _ => Seq.empty
    }
    entries.foreach { case (dir, ver, stagedName) =>
      val md = manifestDir(dir)
      val target = md.resolve(f"v$ver%08d.json")
      val staged = md.resolve(stagedName)
      if (Files.exists(staged)) {
        if (!Files.exists(target) || Files.size(target) == 0L)
          Files.move(staged, target, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        else Files.deleteIfExists(staged) // already published by a re-run
      }
      Files.deleteIfExists(md.resolve(s".txn-$txnId.ptr"))
    }
    Files.deleteIfExists(marker)
  }

  /** Recover the named tables from an interrupted [[commitTxn]]:
    * decided txns (marker exists, found locally or via a pointer) roll
    * FORWARD — the marker names every participant, so recovery from
    * ANY one table completes all of them; everything else — undecided
    * staged manifests, orphan pointers, empty version claims — rolls
    * BACK, and because an UNDECIDED txn has no marker there is nothing
    * to discover its participants from: name every table that may have
    * participated, or the un-named ones stay blocked on their claims.
    * MUST only run while no writer is active on these tables
    * (admin/startup context): an empty claim is indistinguishable from
    * a live writer's in-flight claim, and recovery presumes it dead. */
  def recoverTxn(paths: Seq[String]): Unit = {
    def ls(md: Path): Seq[Path] =
      if (!Files.isDirectory(md)) Seq.empty
      else Using.resource(Files.list(md))(_.iterator().asScala.toSeq)
    // pass 1: roll forward every decided txn discoverable from here
    paths.foreach { p =>
      val md = manifestDir(p)
      ls(md).foreach { f =>
        val n = f.getFileName.toString
        if (n.startsWith("txn-") && n.endsWith(".json")) finalizeTxn(f)
        else if (n.startsWith(".txn-") && n.endsWith(".ptr")) {
          val marker = Paths.get(Files.readString(f).trim)
          if (Files.exists(marker)) finalizeTxn(marker)
        }
      }
    }
    // pass 2: roll back the undecided leftovers
    paths.foreach { p =>
      val md = manifestDir(p)
      ls(md).foreach { f =>
        val n = f.getFileName.toString
        val undecided = n.startsWith(".staged-") ||
          (n.startsWith(".txn-") && n.endsWith(".ptr")) ||
          (n.startsWith("v") && n.endsWith(".json") && Files.size(f) == 0L)
        if (undecided) Files.deleteIfExists(f)
      }
    }
  }

  // ─────────────── single-table multi-action transactions ───────────
  //
  // Iceberg's `table.newTransaction()` (public API; Delta has no
  // analogue): stage N actions against a PENDING snapshot — each action
  // sees every earlier action's effects, its data files land on disk
  // immediately (invisible until publish), the manifest mutation stays
  // in memory — then publish ONE version. A pipeline step that deletes
  // a scope, appends the correction batch and tightens the contract
  // pays one commit (claim + render + publish + one history row), not
  // N: §5b's floor breakdown shows per-version machinery is the
  // irreducible term of q147/q153-class gates, so folding actions is
  // the remaining wall-time lever — and the reader-visible semantics a
  // pipeline actually wants (no intermediate version where the scope is
  // deleted but the correction has not landed).
  //
  // Conflict handling is WHOLE-BUNDLE: a winner landing between the
  // txn's open and its commit triggers ONE rebase decision for the
  // entire bundle — adopted metadata-only iff the winner provably
  // touched nothing the txn consumed (txn-removed inputs still live at
  // the head, delete ledger / merge keys untouched, no winner-added row
  // inside any txn rewrite scope, staged rows re-proven against a
  // drifted contract). Any doubt = refuse loudly; the caller re-runs
  // the bundle. Replay is bundle-level through `commitId`.

  /** Open a transaction on `path`. Actions stage immediately; nothing
    * is visible until [[TableTxn.commit]]. Actions after commit throw.
    * V1 scope: append / deleteWhere / updateWhere / replaceWhere /
    * setConstraints — no schema evolution, no MoR merge, no branch
    * routing inside a bundle (each of those is its own versioned
    * commit with its own conflict rules). */
  def newTransaction(spark: SparkSession, path: String,
      commitId: Option[String] = None): TableTxn = {
    requireNoWapSession(spark, "newTransaction")
    new TableTxn(spark, path, commitId)
  }

  final class TableTxn private[ManifestTable] (spark: SparkSession,
      path: String, commitId: Option[String],
      // re-check the commit id at commit (a bundle may stay open long);
      // a one-action standalone rewrite checks once, at open
      replayAtCommit: Boolean = true) {
    import org.apache.spark.sql.functions.{assert_true, coalesce, col, lit, when}

    private val base: Manifest = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    private var pending: Manifest = base
    // replay detected at OPEN: every action no-ops (zero re-staged
    // bytes — the single-op replay fast paths' economy, bundle-level)
    private val replayedAtOpen: Option[Long] = commitId.flatMap(id =>
      versions(path).map(manifestAt(path, _))
        .find(_.commitId.contains(id)).map(_.version))
    private var committed: Option[Long] = replayedAtOpen
    // every rewrite action's predicate: the bundle-level delta-safety
    // scan at rebase must prove the winner added no row in ANY of them
    private val rewriteScopes =
      scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Column]
    private var consChanged = false
    // a keyed merge's scope is a KEY SET, not a predicate — the rebase
    // delta-safety scan cannot prove a winner's rows key-disjoint
    // against it, so a merge-carrying bundle refuses rebase across any
    // winner data addition (conservative; the caller re-runs)
    private var hasMerge = false
    private var keysSet: Option[Seq[String]] = None

    /** True = this action should silently no-op (replayed bundle);
      * throws when the CALLER's own commit() already ran (re-use of a
      * spent handle is a bug, a replayed bundle is not). */
    private def skipAction(): Boolean = {
      if (replayedAtOpen.isDefined) return true
      require(committed.isEmpty,
        s"transaction on $path already committed (v${committed.get})")
      false
    }

    /** The PENDING snapshot's rows — base plus every action so far.
      * What the next action (and the caller's own validation) sees. */
    def read(): DataFrame = reconcile(spark, path, pending, pending.files)

    /** Pre-apply the PENDING contract (the txn may have tightened it
      * after open — [[stage]] only knows the committed head's), then
      * stage through the shared layout-aware writer. */
    private def stagePending(df: DataFrame): Seq[String] =
      stage(enforceConstraints(
        applyGenerated(df, pending.generated), pending.constraints), path)

    private def fold(untouched: Seq[String], staged: Seq[String]): Unit = {
      val (st, rws) = footerHarvest(path, staged)
      val nextSeq = base.version + 1 // retargeted at publish if the slot moves
      pending = pending.copy(
        files = untouched ++ staged,
        stats = untouched.flatMap(f =>
          pending.stats.get(f).map(f -> _)).toMap ++ st,
        seqs = untouched.map(f =>
          f -> pending.seqs.getOrElse(f, 0L)).toMap ++
          staged.map(_ -> nextSeq),
        rows = pending.rows ++ rws)
    }

    def append(df: DataFrame): this.type = { if (skipAction()) return this
      fold(pending.files, stagePending(df)); this }

    def deleteWhere(cond: org.apache.spark.sql.Column,
        scopeConds: Seq[graft.conditions.Condition] = Seq.empty): this.type =
      rewriteWhere(cond, None, None, scopeConds)

    def updateWhere(cond: org.apache.spark.sql.Column,
        set: Map[String, org.apache.spark.sql.Column]): this.type = {
      require(set.nonEmpty, "updateWhere needs at least one SET column")
      rewriteWhere(cond, Some(set), None, Seq.empty)
    }

    def replaceWhere(cond: org.apache.spark.sql.Column, data: DataFrame,
        scopeConds: Seq[graft.conditions.Condition] = Seq.empty): this.type =
      rewriteWhere(cond, None, Some(data), scopeConds)

    /** Keyed MERGE inside the bundle — [[mergeMoR]]'s relational
      * outcome (upsert by key, delete where) expressed COPY-ON-WRITE
      * against the PENDING snapshot. Why not a ledger commit: the whole
      * bundle lands ONE version, so every action's files and delete
      * entries would share one seq — a second merge's deletes could
      * never outrank the first's upserts (MoR hiding is strictly
      * dseq > fseq). The CoW shape sidesteps the ordering entirely:
      * files holding a source key (found by ONE exact semi-probe scan,
      * names only) rewrite with those keys folded out, upserts stage on
      * top, and the pending ledger keeps covering the untouched files.
      * Correction-batch economics: touched files are bounded by the
      * source's key spread, everything else carries byte-identical. */
    def merge(source: DataFrame, keyCols: Seq[String],
        deleteWhen: Option[org.apache.spark.sql.Column] = None): this.type = {
      if (skipAction()) return this
      import org.apache.spark.sql.functions.{broadcast, input_file_name}
      require(keyCols.nonEmpty, "merge needs at least one key column")
      require(pending.mergeKeys.isEmpty || pending.mergeKeys == keyCols,
        s"table is keyed on ${pending.mergeKeys.mkString("(", ",", ")")}; " +
          s"merge on ${keyCols.mkString("(", ",", ")")} rejected")
      val target = read()
      val cols = target.columns.toSeq
      require(keyCols.forall(cols.contains), s"key not in target: $keyCols")
      require(cols.forall(source.columns.contains),
        s"source is missing target columns: ${cols.diff(source.columns.toSeq)}")
      val raw = source.localCheckpoint()
      try {
        val tombstones = deleteWhen.map(raw.where(_)).getOrElse(raw.limit(0))
          .select(cols.map(col): _*)
        val upserts = deleteWhen.map(c => raw.where(!coalesce(c, lit(false))))
          .getOrElse(raw).select(cols.map(col): _*)
        requireKeyedSplits(upserts, tombstones, keyCols)
        val keys = tombstones.select(keyCols.map(col): _*)
          .unionByName(upserts.select(keyCols.map(col): _*)).distinct()
        // sized by the key set's bytes (the CDF pin's rule): a few
        // blocks for a correction batch, never one serial task at scale
        val srcKeys = keys.coalesce(stageTasks(keys)).localCheckpoint()
        try {
        val touched =
          if (pending.files.isEmpty) Set.empty[String]
          else spark.read.schema(physicalSchemaAt(spark, path, base))
            .parquet(pending.files.map(f =>
              dataDir(path).resolve(f).toString): _*)
            .withColumn("__file", input_file_name())
            .join(broadcast(srcKeys), keyCols, "left_semi")
            .select(col("__file")).distinct().collect()
            .map(r => baseName(r.getString(0))).toSet
        val untouched = pending.files.filterNot(f => touched(baseName(f)))
        val rewriteStaged =
          if (touched.isEmpty) Seq.empty[String]
          else stagePending(reconcile(spark, path, pending,
              pending.files.filter(f => touched(baseName(f))))
            .join(broadcast(srcKeys), keyCols, "left_anti"))
        val upsertStaged = stagePending(upserts)
        fold(untouched, rewriteStaged ++ upsertStaged)
        if (pending.mergeKeys != keyCols) {
          pending = pending.copy(mergeKeys = keyCols)
          keysSet = Some(keyCols)
        }
        hasMerge = true
        this
        } finally graft.operators.IndexScope.release(srcKeys)
      } finally graft.operators.IndexScope.release(raw)
    }

    /** Tighten/replace the table contract inside the bundle: every
      * PENDING row validates against the new constraints NOW (same
      * enforcement semantics as the standalone setConstraints, against
      * the exact snapshot the constraint will land with), and every
      * LATER action in this txn stages under the new contract. */
    def setConstraints(cons: Seq[String]): this.type = {
      if (skipAction()) return this
      if (cons.nonEmpty) enforceConstraints(read(), cons).count()
      pending = pending.copy(constraints = cons)
      consChanged = true
      this
    }

    /** The copy-on-write rewrite against the PENDING snapshot — also
      * the whole of the standalone [[ManifestTable.deleteWhere]] /
      * [[ManifestTable.updateWhere]] / [[ManifestTable.replaceWhere]],
      * which run as one-action transactions. Stats fast paths when the
      * predicate rides the Condition algebra: (a) files whose stats
      * prove NO row matches never join the discovery scan; (b) for
      * DELETE/REPLACE, files whose stats prove EVERY row matches drop
      * from the manifest WITHOUT being read (MoR-safe: hidden rows are a
      * subset of the physical rows the proof covers). UPDATE rewrites
      * its full-match files (values change). replaceWhere's inserted
      * rows are gated in-scan to SATISFY the replaced predicate — a
      * stray row outside the scope would survive the next replace. */
    private def rewriteWhere(cond: org.apache.spark.sql.Column,
        set: Option[Map[String, org.apache.spark.sql.Column]],
        insert: Option[DataFrame],
        scopeConds: Seq[graft.conditions.Condition]): this.type = {
      if (skipAction()) return this
      set.foreach(m => m.keys.foreach(c =>
        require(read().columns.contains(c), s"SET column '$c' not in table")))
      val effConds =
        if (scopeConds.nonEmpty) scopeConds
        else columnToConditions(spark,
          schemaAt(spark, path, Some(base.version)), cond)
      val physConds = toPhysicalConds(pending, effConds)
      val candidates =
        if (physConds.isEmpty) pending.files
        else pending.files.filter(f =>
          fileMightMatch(pending.stats.get(f), physConds))
      val dropped: Set[String] =
        if (set.isDefined || physConds.isEmpty) Set.empty
        else candidates.filter(f => fileMustMatch(pending.stats.get(f),
          pending.rows.get(f), physConds)).toSet
      val scanFiles = candidates.filterNot(dropped)
      val touched =
        if (scanFiles.isEmpty) Set.empty[String]
        else spark.read.schema(physicalSchemaAt(spark, path, base))
          .parquet(scanFiles.map(f => dataDir(path).resolve(f).toString): _*)
          .withColumn("__file",
            org.apache.spark.sql.functions.input_file_name())
          .where(cond)
          .select(col("__file")).distinct().collect()
          .map(r => baseName(r.getString(0))).toSet
      rewriteScopes += cond
      if (touched.isEmpty && dropped.isEmpty && insert.isEmpty) return this
      val untouched = pending.files.filterNot(f =>
        touched(baseName(f)) || dropped(f))
      val matches = coalesce(cond, lit(false))
      val rewriteStaged =
        if (touched.isEmpty) Seq.empty[String]
        else {
          val rows = reconcile(spark, path, pending,
            pending.files.filter(f => touched(baseName(f))))
          val rewritten = set match {
            case None => rows.where(!matches)
            case Some(m) => rows.select(rows.columns.map(c =>
              m.get(c).map(nc => when(matches, nc).otherwise(col(c)).as(c))
                .getOrElse(col(c))).toIndexedSeq: _*)
          }
          stagePending(rewritten)
        }
      val insertStaged = insert.map { ins =>
        stagePending(ins.where(gated(assert_true(matches,
          lit("replaceWhere: an inserted row does not satisfy the " +
            "replaced predicate")).isNull)))
      }.getOrElse(Seq.empty)
      fold(untouched, rewriteStaged ++ insertStaged)
      this
    }

    /** Publish the whole bundle as ONE version. Idempotent through
      * `commitId`; a moved head triggers the whole-bundle rebase or a
      * loud refusal ([[CommitConflict]]) — never a partial landing. */
    def commit(): Long = {
      committed.foreach(v => return v)
      if (pending == base) { // every action no-opped: nothing to commit
        committed = Some(base.version); return base.version
      }
      val baseFiles = base.files.toSet
      val removedByTxn = baseFiles -- pending.files
      val addedByTxn = pending.files.filterNot(baseFiles)
      // WHOLE-BUNDLE REBASE: one decision for all N actions, on top of
      // the loop's input/ledger/contract rules
      val admits = (head: Manifest, winnerAdded: Seq[String]) =>
        if (consChanged && (head.constraints != base.constraints ||
            head.generated != base.generated))
          Some("both this bundle and a concurrent commit changed the " +
            "table contract")
        else if (hasMerge && winnerAdded.nonEmpty)
          Some("the bundle carries a keyed merge and a concurrent commit " +
            "added rows - their keys cannot be proven disjoint; re-run " +
            "the bundle")
        else if (rewriteScopes.nonEmpty && winnerAdded.nonEmpty &&
            spark.read.schema(physicalSchemaAt(spark, path, head))
              .parquet(winnerAdded.map(f =>
                dataDir(path).resolve(f).toString): _*)
              .where(rewriteScopes.map(c => coalesce(c, lit(false)))
                .reduce(_ || _)).limit(1).collect().nonEmpty)
          Some("a concurrent commit added rows inside this bundle's " +
            "rewrite scope - re-run the bundle")
        // drift in the OTHER direction too: the bundle's new contract
        // must hold for rows the winner added — the delta proof the
        // standalone setConstraints runs on a lost race
        else if (consChanged && winnerAdded.nonEmpty &&
            !filesSatisfy(spark, path, winnerAdded, pending.constraints,
              pending.generated, head.renames, head.droppedCols))
          Some("rows a concurrent commit added violate this bundle's new " +
            "contract " + pending.constraints.mkString("[", "; ", "]"))
        else None
      val v = claim(path, Some(base), Change(added = addedByTxn,
          stats = addedByTxn.flatMap(f => pending.stats.get(f).map(f -> _)).toMap,
          rows = addedByTxn.flatMap(f => pending.rows.get(f).map(f -> _)).toMap,
          removed = removedByTxn,
          constraints = if (consChanged) Some(pending.constraints) else None,
          mergeKeys = keysSet, commitId = commitId),
        Rebase.rewrite(removedByTxn, admits), replay = replayAtCommit)
      committed = Some(v)
      v
    }
  }

  /** Run a one-action [[TableTxn]] — the standalone row-level rewrites —
    * reopened on the head and re-run while its claim conflicts. */
  private def rewriteTxn(spark: SparkSession, path: String,
      commitId: Option[String])(action: TableTxn => Unit): Long = rerun {
    val txn = new TableTxn(spark, path, commitId, replayAtCommit = false)
    action(txn)
    txn.commit()
  }

  /** The file layout a compaction rewrites `df` (about `bytes` of input)
    * into — ~targetBytes files. ZORDER BY lays the rows along the curve,
    * so freshly harvested stats prune on every z-ordered column. A
    * DECLARED layout (the SQL catalog's PARTITIONED BY sidecar)
    * range-clusters on the partition columns + row hash: the staging
    * writer cuts one file per partition value per task, and the blind
    * repartition would smear every value across every task — nFiles ×
    * values files. */
  private def compactionLayout(df: DataFrame, path: String, bytes: Long,
      targetBytes: Long, zorderBy: Seq[String]): DataFrame = {
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    lazy val declared = GraftCatalog.readDeclaredParts(Paths.get(path))
      .filter(df.columns.contains)
    if (zorderBy.nonEmpty) graft.operators.ZOrder.layout(df, zorderBy, nFiles)
    else if (declared.nonEmpty) df.repartitionByRange(nFiles,
      declared.map(df.col) :+ org.apache.spark.sql.functions.xxhash64(
        df.columns.map(df.col): _*): _*)
    else df.repartition(nFiles)
  }

  /** Land a compaction: `staged` replaces `inputs` in a dataChange=false
    * commit (streams skip it). Its scope is exactly its inputs, so a
    * winner that touched none of them (an append, a disjoint backfill)
    * rebases metadata-only — its files carry, ours adopt, zero bytes
    * re-staged; the folded ledger stays sound because winner-added
    * files' seqs exceed every base delete's. Overlap re-plans. */
  private def landCompaction(path: String, base: Manifest,
      inputs: Seq[String], staged: Seq[String], foldDeletes: Boolean,
      id: String): Long = {
    val (stats, rows) = footerHarvest(path, staged)
    claim(path, Some(base), Change(added = staged, stats = stats,
        rows = rows, removed = inputs.toSet, foldDeletes = foldDeletes,
        commitId = Some(id), dataChange = false),
      Rebase.rewrite(inputs.toSet))
  }

  /** OPTIMIZE: rewrite the CURRENT version's rows into ~targetBytes
    * files and commit the compacted file set as a new version — old
    * versions keep their files, so time travel is intact (vacuum after
    * retention reclaims them). Conflict-safe: a commit landing between
    * reading the base version and the claim is never clobbered — a
    * winner that left the inputs and the ledger alone is rebased over
    * ([[landCompaction]]), any other makes the compaction re-plan
    * against the new head (Delta's OPTIMIZE conflict rule, with the
    * retry lifted into the operation). */
  def compactCommit(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty): Long = rerun {
    val base = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val staged = stage(compactionLayout(read(spark, path, Some(base.version)),
      path, base.files.map(f => sizeOf(path, base, f)).sum, targetBytes,
      zorderBy), path)
    // the rewrite read was MoR-reconciled, so the compacted files carry
    // the deletes' effect in data — the new manifest folds them away
    landCompaction(path, base, base.files, staged, foldDeletes = true,
      s"compact-of-v${base.version}")
  }

  /** SCOPED compaction — `OPTIMIZE t WHERE <pred>`: rewrite ONLY the
    * files whose manifest stats-range intersects the predicate (the
    * same pruning [[statsSurvivors]] serves reads with), leaving every
    * other file byte-identical. The operational shape at 100 TB:
    * compact yesterday's partition after the day's stream, not the
    * table. Files rewrite WHOLE (a value-joint file's non-matching rows
    * ride along — rows never change, only layout), MoR deletes fold
    * away for rewritten files exactly like [[compactIncremental]]
    * (their fresh seq outruns every delete), and the commit is
    * dataChange=false so streams skip it. Returns the base version
    * untouched when nothing matches. */
  def compactWhere(spark: SparkSession, path: String,
      conds: Seq[graft.conditions.Condition],
      targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty,
      minFill: Option[Double] = None): Long = rerun {
    require(conds.nonEmpty, "compactWhere needs at least one condition " +
      "(use compactCommit for the whole table)")
    // a predicate on a column the table does not carry matches EVERY
    // file conservatively — a typo would silently compact the whole
    // table; refuse it instead
    val fields = schemaAt(spark, path).fieldNames.toSet
    val unknown = conds.map(_.field).distinct.filterNot(fields)
    require(unknown.isEmpty,
      s"OPTIMIZE WHERE references unknown column(s): ${unknown.mkString(", ")}")
    val base = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    // every referenced column must be stats-prunable in at least one
    // live file — a column no file carries stats for (unsupported stats
    // type like DATE/DECIMAL, or an all-null column) matches EVERY file
    // conservatively, and the "scoped" rewrite would silently become a
    // whole-table compaction
    val unprunable = conds.map(_.field).distinct.filterNot { n =>
      val phys = base.renames.getOrElse(n, n)
      base.files.exists(f =>
        base.stats.getOrElse(f, Map.empty).contains(phys))
    }
    require(unprunable.isEmpty,
      s"no file statistics on column(s) ${unprunable.mkString(", ")} — " +
        "the predicate cannot scope the rewrite (unsupported stats " +
        "type, or never-populated values); run a parameter-less " +
        "OPTIMIZE for a full compaction instead")
    // minFill = the INCREMENTAL form: fold only the matching files that
    // are under-filled (appends since the last scoped optimize);
    // already-at-target files inside the predicate carry untouched, so
    // the nightly job costs O(new data in the partition)
    val scope0 = statsSurvivors(path, conds, Some(base.version))
    val scope = minFill match {
      case Some(fill) => scope0.filter(f =>
        sizeOf(path, base, f) < (targetBytes * fill).toLong)
      case None => scope0
    }
    if (scope.isEmpty || (minFill.isDefined && scope.size <= 1))
      return base.version
    val staged = stage(compactionLayout(reconcile(spark, path, base, scope),
      path, scope.map(f => sizeOf(path, base, f)).sum, targetBytes,
      zorderBy), path)
    landCompaction(path, base, scope, staged, foldDeletes = false,
      s"compact-where-of-v${base.version}")
  }

  /** INCREMENTAL OPTIMIZE: fold only the files that need it — files
    * under `minFill · targetBytes` (appended since the last optimize, or
    * leftovers of small commits) are bin-packed into ~targetBytes files;
    * every file already at target size is CARRIED untouched. A second
    * OPTIMIZE after a small append therefore rewrites O(append), not the
    * table — the difference between a nightly maintenance job that costs
    * minutes and one that rewrites 100 TB. With `zorderBy`, the rewritten
    * subset is laid along the curve (fresh stats prune on those dims);
    * already-compacted files keep their existing clustering and stats.
    * MoR delete files are folded INTO the rewritten rows (they re-land at
    * the new commit seq, above every delete) and stay in force for the
    * carried files. Returns the new version, or the current one when
    * fewer than two files qualify (idempotence: re-running is a no-op). */
  def compactIncremental(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty,
      minFill: Double = 0.5,
      maxOverlap: Int = 4): Long = rerun {
    val base = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val sized = base.files.map(f => f -> sizeOf(path, base, f))
    val small = sized.filter(_._2 < (targetBytes * minFill).toLong).map(_._1)
    // curve-violation selection: with a zorder spec, a file whose stats
    // BOX overlaps more than `maxOverlap` other files on the z-dims has
    // lost its clustering (a well-laid file overlaps a handful of curve
    // neighbors; a fresh full-range append overlaps everything) — fold
    // it back onto the curve even if it is size-compliant. Driver-side
    // O(F²) over manifest metadata; at very large file counts plan per
    // partition or sample, the manifest is already driver-held either way.
    val violating: Seq[String] =
      if (zorderBy.isEmpty || base.files.size < 2) Seq.empty
      else {
        def box(f: String): Option[Seq[(String, ColStats)]] = {
          val st = base.stats.getOrElse(f, Map.empty)
          val dims = zorderBy.flatMap(c =>
            st.get(c).filterNot(_.unit.contains("allnull")).map(c -> _))
          if (dims.size == zorderBy.size) Some(dims) else None
        }
        val boxes = base.files.flatMap(f => box(f).map(f -> _))
        def overlaps(a: Seq[(String, ColStats)],
            b: Seq[(String, ColStats)]): Boolean =
          a.zip(b).forall { case ((_, x), (_, y)) =>
            cmpStat(x.min, y.max, x.numeric) <= 0 &&
              cmpStat(x.max, y.min, x.numeric) >= 0 }
        boxes.filter { case (f, bx) =>
          boxes.count { case (g, by) => g != f && overlaps(bx, by) } > maxOverlap
        }.map(_._1)
      }
    val toFold = (small ++ violating).distinct
    // a lone small file is not worth a commit; a lone VIOLATING file is —
    // re-laying it along the curve splits it into z-range pieces whose
    // boxes are small, restoring pruning without touching its neighbors
    if (toFold.size <= 1 && violating.isEmpty)
      return base.version // nothing worth folding
    val staged = stage(compactionLayout(reconcile(spark, path, base, toFold),
      path, sized.filter(p => toFold.contains(p._1)).map(_._2).sum,
      targetBytes, zorderBy), path)
    landCompaction(path, base, toFold, staged, foldDeletes = false,
      s"compact-incr-of-v${base.version}")
  }

  /** Fold the MoR delete ledger WITHOUT a full rewrite: rewrite only the
    * data files that can actually hold a DV-hidden row — files whose
    * commit seq precedes a delete file's AND whose stats overlap that
    * delete's key range (metadata-only pruning, same conservatism as
    * data skipping: a file without stats on a key column must rewrite).
    * Every other file carries; the new manifest's ledger is EMPTY. This
    * is the targeted half of DV maintenance — a merge loop that touched
    * 0.1% of the keyspace folds ~0.1% of files, where [[compactCommit]]
    * would rewrite the table. Returns the new version (unchanged when
    * the ledger is already empty). */
  def compactDeletes(spark: SparkSession, path: String): Long = rerun {
    import org.apache.spark.sql.functions._
    val base = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    if (base.deletes.isEmpty) return base.version
    // fast path: manifests that carry per-delete-file key stats decide
    // `affected` from METADATA alone ([[deleteScope]] — all key columns,
    // zero jobs); legacy ledgers fall back to the runtime range probe
    if (base.deletes.forall { case (f, _) => base.deleteStats.contains(f) }) {
      val scope = deleteScope(base, base.files)
      return compactDeletesOf(spark, path, base,
        base.files.filter(f => scope(f).nonEmpty))
    }
    // per delete-file key-range (first key column) for stats pruning.
    // The key column comes from the parquet FOOTER (driver-side, one
    // KB-scale metadata open per file — no job), and the min/max for ALL
    // files of a key schema come from ONE Spark job keyed by
    // input_file_name — a ledger of hundreds of delete files plans in
    // O(schemas) jobs, not O(files) sequential driver-blocking jobs.
    val firstColOf: Map[String, String] = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = new org.apache.hadoop.conf.Configuration()
      base.deletes.map { case (f, _) =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dataDir(path).resolve(f).toUri), conf))
        try f -> r.getFooter.getFileMetaData.getSchema.getFields.get(0).getName
        finally r.close()
      }.toMap
    }
    val ranges: Seq[(Long, String, Option[(Any, Any)])] =
      base.deletes.groupBy { case (f, _) => firstColOf(f) }.toSeq.flatMap {
        case (k0, group) =>
          val byName = spark.read
            .parquet(group.map(g => dataDir(path).resolve(g._1).toString): _*)
            .groupBy(input_file_name().as("__f"))
            .agg(min(col(k0)), max(col(k0)))
            .collect()
            .flatMap { r =>
              val uri = r.getString(0)
              group.collect { case (f, _) if uri.endsWith(s"/$f") =>
                f -> (if (r.isNullAt(1)) None else Some((r.get(1), r.get(2))))
              }
            }.toMap
          // a file absent from the scan output (empty file) gets None —
          // no pruning for its deletes, which is the conservative side
          group.map { case (f, seq) => (seq, k0, byName.get(f).flatten) }
      }
    val affected = base.files.filter { f =>
      val fseq = base.seqs.getOrElse(f, 0L)
      ranges.exists { case (dseq, k0, mm) =>
        fseq < dseq && mm.forall { case (lo, hi) =>
          import graft.conditions.{Condition, Op}
          fileMightMatch(base.stats.get(f),
            Seq(Condition(k0, Op.Gte, lo), Condition(k0, Op.Lte, hi)))
        }
      }
    }
    compactDeletesOf(spark, path, base, affected)
  }

  /** The fold itself: rewrite `affected` (MoR-reconciled), carry the
    * rest, land a delete-free manifest — rebasing across a winner that
    * left the affected files and the ledger alone. */
  private def compactDeletesOf(spark: SparkSession, path: String,
      base: Manifest, affected: Seq[String]): Long =
    landCompaction(path, base, affected,
      if (affected.isEmpty) Seq.empty
      else stage(reconcile(spark, path, base, affected), path),
      foldDeletes = true, s"fold-deletes-of-v${base.version}")

  /** MERGE INTO — the upsert/delete commit every sync loop needs once a
    * target is a versioned table, with Delta/Iceberg's copy-on-write
    * cost model at FILE granularity: only data files that CONTAIN a
    * source key are rewritten; every other file is carried into the new
    * manifest untouched. At 100 TB a merge touching 0.1% of keys
    * rewrites ~0.1% of files — the file-pruning semi-join below is the
    * whole reason MERGE scales.
    *
    * Semantics (keyed upsert, reference core/pipeline.py push-as-upsert
    * generalized):
    *  - source row matches a target row on `keyCols` → target row is
    *    REPLACED by the source row (whole-row update);
    *  - source row matches nothing → INSERT;
    *  - source row satisfying `deleteWhen` is a tombstone: its match is
    *    DELETED from the target, and it never inserts.
    * The source must be unique on `keyCols` after the tombstone split —
    * a duplicate key would make "the" update ambiguous (checked, loud).
    *
    * Steps: (1) semi-join target×source finds touched files — only file
    * NAMES reach the driver; (2) touched files are re-read (a scan of
    * just those files), tombstone keys anti-joined away, upserts
    * left-joined in (source wins); (3) inserts = source rows matching no
    * touched row — by construction untouched files hold no source key,
    * so this equals an anti-join against the whole target; (4) rewritten
    * + inserted rows stage as new files; the new manifest = untouched
    * files + staged files, published with the same optimistic lock
    * (conflict ⇒ throw, staged files become vacuum-able orphans).
    *
    * Returns the new version. */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      commitId: Option[String] = None,
      // SCHEMA EVOLUTION (Delta's merge mergeSchema): extra source
      // columns become table columns — untouched files keep their old
      // schema (mergeSchema reads fill nulls), rewritten+inserted rows
      // carry the new columns. Columns referenced only by `deleteWhen`
      // (op markers) are NOT evolved into the table.
      evolveSchema: Boolean = false,
      appTxn: Option[(String, Long)] = None): Long = {
    requireNoWapSession(spark, "merge")
    rerun(mergeAttempt(spark, path, source, keyCols,
      deleteWhen, commitId, evolveSchema, appTxn))
  }

  /** Do `files`' rows satisfy `cons` and `gens` (the head's contract)?
    * ONE scan over only the named files — the metadata commit already
    * validated every other row at its own version, so proving the
    * staged delta is all a rebase across metadata drift needs. Files
    * are read physically and translated to the head's LOGICAL names
    * (constraint/generated expressions reference logical columns). A
    * generated column a file does not carry cannot be recomputed here
    * → false (conservative: the caller re-runs). */
  private def filesSatisfy(spark: SparkSession, path: String,
      files: Seq[String], cons: Seq[String],
      gens: Seq[(String, String)],
      renames: Map[String, String], droppedCols: Seq[String]): Boolean = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty || (cons.isEmpty && gens.isEmpty)) return true
    var df = spark.read.parquet(
      files.map(f => dataDir(path).resolve(f).toString): _*)
    renames.foreach { case (logical, physical) =>
      if (df.columns.contains(physical) && logical != physical)
        df = df.withColumnRenamed(physical, logical) }
    val hidden = droppedCols.filter(df.columns.contains)
    if (hidden.nonEmpty) df = df.drop(hidden: _*)
    // null-is-violation, matching enforceConstraints' assert_true
    // semantics (which throws on NULL): a row violates unless every
    // constraint evaluates to exactly TRUE, so `NOT (c <=> true)`
    // catches NULL results that `NOT c` would filter out
    val consOk = cons.isEmpty || df.where(
      !cons.map(c => gated(expr(c) <=> lit(true))).reduce(_ && _))
      .limit(1).collect().isEmpty
    if (!consOk) return false
    if (gens.isEmpty) return true
    if (!gens.forall { case (c, _) => df.columns.contains(c) }) return false
    df.where(!gens.map { case (c, e) => col(c) <=> expr(e) }
      .reduce(_ && _)).limit(1).collect().isEmpty
  }

  /** A keyed write's rebase check: the files a winner ADDED hold none of
    * `keys` — one pushed-down semi-join over only the delta. A key
    * overlap conflicts (the winner's row may be a new match). */
  private def keyFree(spark: SparkSession, path: String, keys: => DataFrame,
      keyCols: Seq[String]): (Manifest, Seq[String]) => Option[String] =
    (head, added) =>
      if (added.isEmpty || spark.read.schema(physicalSchemaAt(spark, path, head))
          .parquet(added.map(f => dataDir(path).resolve(f).toString): _*)
          .join(keys, keyCols, "left_semi").limit(1).collect().isEmpty) None
      else Some("a concurrent commit added rows with keys this write touches")

  /** Land a merge-on-read commit — `upserts` as new data files, `delFiles`
    * holding every written key — on `base`. The ledger entry pins its seq
    * at base.version+1, so a rebase across a winner that ONLY ADDED
    * key-disjoint files stays exact: the winner's first file sits at that
    * same seq, not below it, and keeps its rows only because reconcile's
    * hide rule is STRICTLY dseq > fseq (relaxing it to >= would hide
    * winner rows the key check proved disjoint); the key check is the
    * second, independent guard. Anything else — a delete landed, files
    * removed, key overlap, unproven contract drift — conflicts. */
  private def landMoR(spark: SparkSession, path: String,
      base: Option[Manifest], upserts: Seq[String], delFiles: Seq[String],
      delKeys: => DataFrame, keyCols: Seq[String],
      appTxn: Option[(String, Long)], commitId: Option[String]): Long = {
    val (upStats, upRows) = footerHarvest(path, upserts)
    val (delStats, delRows) = footerHarvest(path, delFiles)
    val dseq = base.fold(0L)(_.version) + 1
    claim(path, base, Change(added = upserts, stats = upStats,
        rows = upRows ++ delRows, deletes = delFiles.map(_ -> dseq),
        deleteStats = delStats, mergeKeys = Some(keyCols), txn = appTxn,
        commitId = commitId),
      Rebase.rewrite(base.fold(Set.empty[String])(_.files.toSet),
        if (delFiles.isEmpty) (_, _) => None
        else keyFree(spark, path, delKeys, keyCols)))
  }

  /** Column names a predicate references, resolved against `df` —
    * Spark 4 Columns are lazy sql-api nodes whose `references` are
    * empty until analysis, so the names come from an analyzed
    * throwaway Filter over the actual frame. */
  private def refNames(df: DataFrame,
      c: org.apache.spark.sql.Column): Set[String] =
    df.where(c).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name).toSet
    }.getOrElse(Set.empty)

  private def mergeAttempt(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column],
      commitId: Option[String], evolveSchema: Boolean = false,
      appTxn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    // idempotent replay (same contract as append/overwrite): a replayed
    // streaming micro-batch must not re-run the merge — re-merging is
    // semantically idempotent for pure upserts but NOT for a
    // delete-then-reinsert batch, and every re-run burns a version
    // replay detection: the txn ledger answers O(1) from the latest
    // manifest; without one, the commit-id scan stays the O(versions)
    // fallback for one-shot jobs. A ledger hit whose version has been
    // expired returns the latest version rather than re-merging.
    if (txnLanded(path, appTxn))
      return commitId.flatMap(id => versions(path).map(manifestAt(path, _))
          .find(_.commitId.contains(id)).map(_.version))
        .getOrElse(latestVersion(path))
    val landed = if (appTxn.isDefined) None else commitId.flatMap(id =>
      versions(path).map(manifestAt(path, _)).find(_.commitId.contains(id)))
    if (landed.isDefined) return landed.get.version
    val base = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val target = read(spark, path, Some(base.version))
    val cols = target.columns.toSeq
    require(keyCols.forall(cols.contains), s"key not in target: $keyCols")
    require(cols.forall(source.columns.contains),
      s"source is missing target columns: ${cols.diff(source.columns.toSeq)}")
    // a table keyed by an earlier merge stays keyed on THE SAME columns:
    // silently re-keying would orphan every delete file's semantics and
    // break the CDC path's keyed contract
    require(base.mergeKeys.isEmpty || base.mergeKeys == keyCols,
      s"table is keyed on ${base.mergeKeys.mkString("(", ",", ")")}; " +
        s"merge on ${keyCols.mkString("(", ",", ")")} rejected")
    // schema evolution: extra source columns join the table; columns
    // the tombstone predicate references (op markers) stay out
    val delRefs: Set[String] =
      deleteWhen.map(refNames(source, _)).getOrElse(Set.empty)
    val extCols: Seq[String] =
      if (!evolveSchema) Seq.empty
      else source.columns.toSeq.filterNot(cols.contains)
        .filterNot(delRefs.contains)
    val allCols = cols ++ extCols
    def pad(df: DataFrame): DataFrame = df.select(allCols.map(c =>
      (if (df.columns.contains(c)) col(c)
       else lit(null).cast(source.schema(c).dataType)).as(c)): _*)
    // the tombstone split runs on the RAW source — deleteWhen may
    // reference columns (an op marker) that are not part of the table.
    // The checkpoint pins the source for its several consumers below and
    // is RELEASED before returning (a long-running service doing many
    // merges must not accumulate checkpoint blocks until GC).
    val raw = source.localCheckpoint()
    try {
    val tombstones = deleteWhen.map(raw.where(_)).getOrElse(raw.limit(0))
      .select(allCols.map(col): _*)
    val upserts = deleteWhen.map(c => raw.where(!coalesce(c, lit(false))))
      .getOrElse(raw).select(allCols.map(col): _*)
    // the keyed contract holds AFTER the tombstone split: a delete and a
    // re-insert of the same key in one batch is the legitimate CDC shape
    // and processes unambiguously (delete first, then upsert-as-insert);
    // a duplicate WITHIN either split would make "the" update ambiguous
    requireKeyedSplits(upserts, tombstones, keyCols)
    val src = raw.select(allCols.map(col): _*)

    // (1) which files contain a source key? (file names only — the
    // driver never holds data rows)
    val withFile = spark.read.schema(physicalSchemaAt(spark, path, base))
      .parquet(base.files.map(f => dataDir(path).resolve(f).toString): _*)
      .withColumn("__file", input_file_name())
    val touched = withFile
      .join(src.select(keyCols.map(col): _*), keyCols, "left_semi")
      .select(col("__file")).distinct().collect()
      .map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1))
      .toSet

    // (2) rewrite ONLY the touched files
    // reconcile: a DV-hidden row in a touched file must not resurrect
    // through the rewrite
    val touchedRows =
      if (touched.isEmpty) pad(target.limit(0))
      else pad(reconcile(spark, path, base,
        base.files.filter(f => touched(baseName(f)))))
    val afterDelete = touchedRows.join(
      tombstones.select(keyCols.map(col): _*), keyCols, "left_anti")
    val u = upserts.select(
      keyCols.map(col) :+ struct(allCols.map(col): _*).as("__u"): _*)
    // (3) updates AND inserts from ONE full-outer join: a key on both
    // sides takes the upsert's values (update), a key only in the
    // target survives unchanged, a key only in the source is an insert
    // — one SURVIVING-row row set in one pass where the old
    // left_outer(rewrites) + left_anti(inserts) pair referenced (and so
    // re-executed) the touched-file read twice. Semantics unchanged: a
    // key deleted and re-inserted in the same batch really re-inserts
    // (its row left afterDelete via the tombstone anti-join, so the
    // source side is unmatched), and untouched files hold no source key
    // by construction of `touched`.
    val rewritten = afterDelete.join(u, keyCols, "full_outer")
      .select(allCols.map(c =>
        when(col("__u").isNotNull, col(s"__u.$c")).otherwise(col(c)).as(c)): _*)

    // (4) stage + claim: untouched files CARRY their stats, seqs, and
    // any delete files that apply to them; rewritten files sit at the
    // claimed seq, above every existing delete, so old deletes can never
    // re-hide rewritten rows. A merge's scope is its touched files PLUS
    // its source keys: a winner that touched none of our files, landed
    // no delete, and added no source key cannot change this merge's
    // result under either ordering — the staged rewrite adopts
    // metadata-only.
    val staged = stage(rewritten, path)
    val (stagedStats, stagedRows) = footerHarvest(path, staged)
    val consumed = base.files.filter(f => touched(baseName(f))).toSet
    claim(path, Some(base), Change(added = staged, stats = stagedStats,
        rows = stagedRows, removed = consumed, mergeKeys = Some(keyCols),
        txn = appTxn, commitId = commitId),
      Rebase.rewrite(consumed,
        keyFree(spark, path, src.select(keyCols.map(col): _*), keyCols)))
    } finally graft.operators.IndexScope.release(raw)
  }

  /** MERGE-ON-READ MERGE — same semantics as [[merge]] (keyed upsert +
    * tombstones, source wins), different cost model: instead of
    * rewriting every data file containing a touched key, the commit
    * writes (a) the upsert rows as NEW data files and (b) one small
    * DELETE file holding every source key. Reads hide a key's old rows
    * because the delete file's seq exceeds their data files' seq
    * ([[reconcile]]); the fresh upsert rows sit at the same seq as the
    * delete and survive. A k-row merge therefore writes O(k) bytes and
    * rewrites ZERO data files — the write-amplification fix for a
    * frequent push-as-upsert loop against a 100 TB sink (reference
    * core/pipeline.py:83), exactly Iceberg's equality-delete shape.
    * Read cost grows with accumulated delete files; [[compactCommit]]
    * folds them back into data and resets the ledger.
    *
    * Returns the new version. */
  def mergeMoR(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      commitId: Option[String] = None,
      // schema evolution, [[merge]]'s contract: extra source columns
      // (minus deleteWhen's references) land on the staged upsert rows;
      // mergeSchema reads null-fill every older file
      evolveSchema: Boolean = false,
      appTxn: Option[(String, Long)] = None): Long = {
    branchSession(spark).foreach { name =>
      requireNoWap(spark, "mergeMoR")
      require(appTxn.isEmpty && !evolveSchema, "transactional-epoch and " +
        "schema-evolving merges cannot route to a branch session - " +
        "unset spark.graft.branch or use mergeMoRBranch directly")
      return mergeMoRBranch(spark, path, name, source, keyCols,
        deleteWhen, commitId).toLong
    }
    requireNoWapSession(spark, "mergeMoR")
    rerun(mergeMoRAttempt(spark, path, source, keyCols,
      deleteWhen, commitId, evolveSchema, appTxn))
  }

  private def mergeMoRAttempt(spark: SparkSession, path: String,
      source: DataFrame, keyCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column],
      commitId: Option[String], evolveSchema: Boolean = false,
      appTxn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    // replay detection: the txn ledger answers O(1) from the latest
    // manifest; without one, the commit-id scan stays the O(versions)
    // fallback for one-shot jobs. A ledger hit whose version has been
    // expired returns the latest version rather than re-merging.
    if (txnLanded(path, appTxn))
      return commitId.flatMap(id => versions(path).map(manifestAt(path, _))
          .find(_.commitId.contains(id)).map(_.version))
        .getOrElse(latestVersion(path))
    val landed = if (appTxn.isDefined) None else commitId.flatMap(id =>
      versions(path).map(manifestAt(path, _)).find(_.commitId.contains(id)))
    if (landed.isDefined) return landed.get.version
    val base = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val target = read(spark, path, Some(base.version))
    val cols = target.columns.toSeq
    require(keyCols.forall(cols.contains), s"key not in target: $keyCols")
    require(cols.forall(source.columns.contains),
      s"source is missing target columns: ${cols.diff(source.columns.toSeq)}")
    // a table keyed by an earlier merge stays keyed on THE SAME columns:
    // silently re-keying would orphan every delete file's semantics and
    // break the CDC path's keyed contract
    require(base.mergeKeys.isEmpty || base.mergeKeys == keyCols,
      s"table is keyed on ${base.mergeKeys.mkString("(", ",", ")")}; " +
        s"merge on ${keyCols.mkString("(", ",", ")")} rejected")
    val delRefs: Set[String] =
      deleteWhen.map(refNames(source, _)).getOrElse(Set.empty)
    val allCols = cols ++ (if (!evolveSchema) Seq.empty
      else source.columns.toSeq.filterNot(cols.contains)
        .filterNot(delRefs.contains))
    val raw = source.localCheckpoint()
    try {
      val tombstones = deleteWhen.map(raw.where(_)).getOrElse(raw.limit(0))
        .select(allCols.map(col): _*)
      val upserts = deleteWhen.map(c => raw.where(!coalesce(c, lit(false))))
        .getOrElse(raw).select(allCols.map(col): _*)
      requireKeyedSplits(upserts, tombstones, keyCols)
      // ONE delete file: every source key (upsert keys delete their old
      // row before the new one lands; a key absent from the table deletes
      // nothing — the anti-join just misses). distinct: a
      // delete-then-reinsert batch repeats its key across the two splits.
      val delKeys = tombstones.select(keyCols.map(col): _*)
        .unionByName(upserts.select(keyCols.map(col): _*)).distinct()
      val delFiles = stageDeletes(delKeys, path)
      landMoR(spark, path, Some(base), stage(upserts, path), delFiles,
        delKeys, keyCols, appTxn, commitId)
    } finally graft.operators.IndexScope.release(raw)
  }

  /** Stage merge keys as delete files (named `del-*` so a listing reads
    * as intent, but tracked ONLY via the manifest like any data file).
    * Coalesced to one part — a delete file is O(merge batch), KBs to MBs. */
  private def stageDeletes(keys: DataFrame, path: String): Seq[String] =
      CommitProfile.timed("stageDeletes") {
    Files.createDirectories(dataDir(path))
    // committer-free like stage(): one coalesced task streams the key
    // frame to one file; the driver then stamps the `del-` name (a
    // same-directory atomic move — the name is intent documentation,
    // the manifest ledger is the real tracking)
    val dd = dataDir(path).toAbsolutePath.toString
    val one = keys.coalesce(1)
    val schema = one.schema
    val codec = GraftCatalog.readDeclaredCompression(Paths.get(path))
    val raw = one.queryExecution.toRdd.mapPartitions { rows =>
      val w = new GraftAppendTaskWriter(dd, schema, Seq.empty, None, codec)
      try { rows.foreach(w.write); val fs = w.files; w.close(); fs.iterator }
      catch { case e: Throwable => w.abort(); throw e }
    }.collect().toSeq.sorted
    raw.map { n =>
      val named = s"del-$n"
      Files.move(dataDir(path).resolve(n), dataDir(path).resolve(named),
        StandardCopyOption.ATOMIC_MOVE)
      named
    }
  }

  /** The merge-key columns the table is keyed on (empty = unkeyed).
    * Set by the first keyed merge — or declared up front via the SQL
    * catalog's `merge.keys` table property — and immutable thereafter. */
  def tableMergeKeys(path: String): Seq[String] =
    latest(path).map(_.mergeKeys).getOrElse(Seq.empty)

  /** Where a table's data files live — for writers that stream files
    * directly into place (the SQL row-level delta path) and make them
    * live only via [[commitStagedDelta]]'s manifest publish. An
    * unreferenced file is invisible to every reader and vacuum-able. */
  private[sources] def dataDirFor(path: String): Path = {
    Files.createDirectories(dataDir(path))
    dataDir(path)
  }

  /** CHECK-constraint validation over freshly staged files only —
    * O(delta), never the table. Throws on the first violating row. */
  private def validateStagedConstraints(spark: SparkSession, path: String,
      files: Seq[String]): Unit = CommitProfile.timed("validateStaged") {
    import org.apache.spark.sql.functions._
    val cons = constraints(path)
    val gens = generatedColumns(path)
    if (files.isEmpty || (cons.isEmpty && gens.isEmpty)) return
    val staged = spark.read.parquet(
      files.map(f => dataDir(path).resolve(f).toString): _*)
    if (cons.nonEmpty) {
      val bad = staged.where(!cons.map(c => gated(expr(c))).reduce(_ && _))
        .limit(1).collect()
      require(bad.isEmpty,
        s"row ${bad.headOption.orNull} violates table constraints " +
          cons.mkString("[", "; ", "]"))
    }
    // GENERATED columns on directly-staged files (SQL UPDATE/MERGE delta
    // writes, the streaming sink): the bytes are already on disk, so a
    // stale or absent value cannot be recomputed here — mismatches are
    // REJECTED loudly (assign the generated column its expression in the
    // statement). stage()-routed writes never hit this: applyGenerated
    // computed/validated before the bytes were written.
    val present = gens.filter { case (c, _) => staged.columns.contains(c) }
    if (present.nonEmpty) {
      val badG = staged.where(!present.map { case (c, e) =>
        col(c) <=> expr(e) }.reduce(_ && _)).limit(1).collect()
      require(badG.isEmpty,
        s"row ${badG.headOption.orNull} violates generated columns " +
          present.map { case (c, e) => s"$c = $e" }.mkString("[", "; ", "]") +
          " (delta writes cannot recompute them — assign the expression explicitly)")
    }
  }

  /** Land ALREADY-WRITTEN data files as one append (or replace) commit —
    * the commit half of [[append]]/[[overwrite]] for writers that
    * streamed their files directly (the catalog's native streaming
    * sink): per-epoch idempotence rides the ordinary `commitId` replay
    * check, constraints validate O(new files) first. Returns the landed
    * version; a REPLAYED commit id returns the original version and the
    * caller owns deleting its redundant staged files. */
  private[sources] def commitStagedFiles(spark: SparkSession, path: String,
      files: Seq[String], replace: Boolean, commitId: Option[String],
      appTxn: Option[(String, Long)] = None,
      resetMapping: Boolean = false): Long = {
    // streaming epochs and RTAS replace data directly; neither can be
    // WAP-isolated (epoch idempotence rides the COMMIT txn ledger)
    requireNoWapSession(spark, "a streaming epoch / CTAS commit")
    val under = latest(path) // head the validation below runs against
    validateStagedConstraints(spark, path, files)
    commit(path, files, replace, commitId, appTxn, resetMapping,
      stagedUnder = under)
  }

  /** The highest epoch `app` has applied to this table (Delta's
    * txn-ledger read): ONE manifest read, the O(1) half of per-epoch
    * idempotence for streaming writers. */
  def lastTxn(path: String, app: String): Option[Long] =
    latest(path).flatMap(_.txns.get(app))

  /** Land ALREADY-WRITTEN upsert + delete files as one merge-on-read
    * commit — the commit half of [[mergeMoR]] for writers that produced
    * their files outside a DataFrame action (SQL UPDATE/MERGE arrive as
    * a [[org.apache.spark.sql.connector.write.DeltaBatchWrite]]: each
    * task streamed its rows straight to parquet; only the manifest
    * publish is left). The files are in `data/` but unreferenced, so
    * nothing is visible until the publish; on ANY failure the caller
    * owns cleanup (the files simply stay orphans for vacuum otherwise).
    *
    * `baseVersion` is the version the statement's scan read: the commit
    * lands on it with [[mergeMoR]]'s rebase rule (delete seq pinned at
    * base+1, ledger unmoved, no winner-added row with a written key,
    * contract drift re-proven) — a row another writer committed for one
    * of the statement's keys after the scan fails the statement loudly
    * instead of being hidden by its delete file. None (an empty table
    * at scan time) lands on the head.
    *
    * Validation is O(delta), reading ONLY the staged files: CHECK
    * constraints and duplicate-upsert-key probes run as one scan over
    * the new upserts — never the table. */
  private[sources] def commitStagedDelta(spark: SparkSession, path: String,
      upsertFiles: Seq[String], deleteFiles: Seq[String],
      keyCols: Seq[String], baseVersion: Option[Long]): Long = {
    import org.apache.spark.sql.functions._
    requireNoWap(spark, "a row-level DML commit")
    require(keyCols.nonEmpty, "delta commit needs the table's merge keys")
    if (upsertFiles.isEmpty && deleteFiles.isEmpty)
      return latest(path).map(_.version).getOrElse(0L)
    validateStagedConstraints(spark, path, upsertFiles)
    // write-to-branch session: the SQL UPDATE/MERGE's discovery scan
    // already resolved the BRANCH snapshot (the catalog's read door),
    // and its staged delta files ARE the branch-DML commit shape —
    // publish them as ONE branch commit instead of claiming a version
    branchSession(spark).foreach { name =>
      val ks = branchDmlKeys(path, name)
      require(ks == keyCols, s"branch '$name' DML is keyed on " +
        s"${ks.mkString(",")}; delta write on ${keyCols.mkString(",")}")
      return publishBranchCommit(path, name, upsertFiles, deleteFiles,
        keyCols, None).toLong
    }
    if (upsertFiles.nonEmpty) {
      val staged = spark.read.parquet(
        upsertFiles.map(f => dataDir(path).resolve(f).toString): _*)
      val dup = staged.groupBy(keyCols.map(col): _*).count()
        .where(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"write produces duplicate merge key ${dup.headOption.map(_.get(0))}")
    }
    val base = baseVersion.fold(latest(path))(v => Some(manifestAt(path, v)))
    require(base.forall(b => b.mergeKeys.isEmpty || b.mergeKeys == keyCols),
      s"table is keyed on ${base.map(_.mergeKeys).getOrElse(Seq.empty)
        .mkString("(", ",", ")")}; delta write on ${keyCols
        .mkString("(", ",", ")")} rejected")
    landMoR(spark, path, base, upsertFiles, deleteFiles,
      spark.read.parquet(
        deleteFiles.map(f => dataDir(path).resolve(f).toString): _*),
      keyCols, None, None)
  }

  /** Whether a version is a DATA change (true) or a maintenance commit
    * (compaction / ledger fold / metadata) streams skip (false). */
  def isDataChange(path: String, version: Long): Boolean =
    manifestAt(path, version).dataChange

  /** Data / delete file names at a version — the observable the MoR gate
    * asserts on (q76: a merge must ADD files, never drop or rewrite one). */
  def dataFiles(path: String, version: Option[Long] = None): Seq[String] =
    version.map(manifestAt(path, _)).orElse(latest(path))
      .map(_.files).getOrElse(Seq.empty)

  def deleteFiles(path: String, version: Option[Long] = None): Seq[String] =
    version.map(manifestAt(path, _)).orElse(latest(path))
      .map(_.deletes.map(_._1)).getOrElse(Seq.empty)

  /** The two versions' rows restricted to files that DIFFER between the
    * manifests. Data files are immutable and uniquely named, so a file
    * present in both versions holds identical rows in both — those rows
    * cancel out of any keyed diff and are never read. With file-granular
    * copy-on-write (merge), the feed between adjacent versions scans the
    * files the commit touched, not the table: at 100 TB a merge of 0.1%
    * of keys yields a change feed that reads ~0.2% of the data.
    * Keyed-table contract (same as [[merge]]): a key lives in one row;
    * append-created duplicate keys make any keyed diff meaningless. */
  private def differingSlices(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val mf = manifestAt(path, fromVersion)
    val mt = manifestAt(path, toVersion)
    val shared = mf.files.toSet.intersect(mt.files.toSet)
    // reconcile each slice against ITS manifest: rows DV-hidden at a
    // version must not surface in that version's side of the diff
    def slice(m: Manifest): DataFrame = {
      val own = m.files.filterNot(shared)
      if (own.isEmpty)
        read(spark, path, Some(m.version))
          .where(org.apache.spark.sql.functions.lit(false))
      else reconcile(spark, path, m, own)
    }
    val before = slice(mf)
    // MoR: a delete file landed in (from, to] hides rows in SHARED files
    // — those rows left the table without any file changing. Surface
    // them on the before side by scanning shared files (stats-pruned to
    // the delete keys' range) and keeping rows matching a new delete
    // key. Every shared file has seq <= fromVersion < the new delete's
    // seq, so key match alone decides. The after side needs nothing:
    // re-inserted keys live in `to`-only files, already in slice(mt).
    val newDeletes = mt.deletes.filterNot(mf.deletes.toSet)
    if (newDeletes.isEmpty || shared.isEmpty) (before, slice(mt))
    else {
      val groups = newDeletes.groupBy { case (f, _) =>
        deleteKeyCols(spark, path, f)
      }.values.toSeq
      // each group's distinct key set is built ONCE and shared between
      // its own semi-join and every later group's anti-join fold —
      // otherwise group gi would re-read and re-distinct all earlier
      // groups' files (quadratic repeated I/O). Multi-schema ledgers
      // (rare) pin the KB-scale key frames via localCheckpoint so the
      // folds don't re-execute the union lineage per join.
      val groupKeys: Seq[DataFrame] = groups.map { dels =>
        val k = dels.map { case (f, _) =>
          spark.read.parquet(dataDir(path).resolve(f).toString)
        }.reduce(_.unionByName(_)).distinct()
        if (groups.size > 1) k.localCheckpoint() else k
      }
      // per key-schema group: semi-join shared rows on the group's keys,
      // anti-joining away earlier groups' matches so a row hidden under
      // two key schemas is surfaced exactly once
      val extras = groups.zipWithIndex.map { case (dels, gi) =>
        val keysDf = groupKeys(gi)
        val keyCols = keysDf.columns.toSeq
        // prune shared files by the delete keys' [min,max] on the first
        // key column — one tiny agg, then metadata-only file skipping
        val k0 = keyCols.head
        val mm = keysDf.agg(min(col(k0)), max(col(k0))).collect()(0)
        val scanFiles =
          if (mm.isNullAt(0)) Seq.empty
          else {
            import graft.conditions.{Condition, Op}
            val range = Seq(Condition(k0, Op.Gte, mm.get(0)),
              Condition(k0, Op.Lte, mm.get(1)))
            mf.files.filter(shared)
              .filter(f => fileMightMatch(mf.stats.get(f), range))
          }
        if (scanFiles.isEmpty) before.limit(0)
        else {
          val cand = reconcile(spark, path, mf, scanFiles)
          val hit = cand.join(broadcast(keysDf), keyCols, "left_semi")
          groupKeys.take(gi).foldLeft(hit) { (acc, prevKeys) =>
            acc.join(broadcast(prevKeys), prevKeys.columns.toSeq, "left_anti")
          }
        }
      }
      (extras.foldLeft(before)(_.unionByName(_)), slice(mt))
    }
  }

  /** Change data feed between two committed versions: keyed row-level
    * diff (added / removed / changed + column attribution) computed from
    * the versions' DIFFERING files only ([[differingSlices]]) — what a
    * downstream incremental consumer reads instead of re-scanning the
    * table. One full-outer join on the key
    * ([[graft.operators.SnapshotDiff]]); the output is the small diff. */
  /** The CDC path ENFORCES the keyed contract instead of assuming it
    * (the diff's full-outer join silently fans out on a duplicated key):
    * (a) a table whose manifests carry merge-key metadata rejects a feed
    * request on ANY OTHER key loudly; (b) both slices get a uniqueness
    * probe — the slices are O(changed files), so the probe cost tracks
    * the change, never the table. */
  private def enforceKeyed(spark: SparkSession, path: String,
      toVersion: Long, keyCols: Seq[String],
      before: DataFrame, after: DataFrame): Unit = {
    val declared = manifestAt(path, toVersion).mergeKeys
    require(declared.isEmpty || declared == keyCols,
      s"table at $path is keyed on ${declared.mkString("(", ",", ")")} " +
        s"(merge-key metadata); a change feed on " +
        s"${keyCols.mkString("(", ",", ")")} would not be a keyed diff")
    graft.operators.SnapshotDiff.assertKeyedBoth(before, after, keyCols)
  }

  def changes(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, keyCol: String): DataFrame = {
    val (before, after) = differingSlices(spark, path, fromVersion, toVersion)
    enforceKeyed(spark, path, toVersion, Seq(keyCol), before, after)
    graft.operators.SnapshotDiff.diff(before, after, keyCol,
      before.columns.toSeq.filterNot(_ == keyCol))
  }

  /** [[changes]] carrying row values (`before`/`after` structs) — the
    * feed shape that lets a consumer APPLY the change downstream, e.g.
    * incremental materialized-view maintenance
    * ([[graft.operators.IncrementalAgg]]). */
  def changesWithValues(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, keyCol: String): DataFrame =
    changesWithValues(spark, path, fromVersion, toVersion, Seq(keyCol))

  /** Composite-key [[changesWithValues]]. */
  def changesWithValues(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame = {
    val (before, after) = differingSlices(spark, path, fromVersion, toVersion)
    enforceKeyed(spark, path, toVersion, keyCols, before, after)
    graft.operators.SnapshotDiff.diffWithValues(before, after, keyCols,
      before.columns.toSeq.filterNot(keyCols.contains))
  }

  /** Is version `v` an APPEND relative to its parent — every parent
    * data file still present, no new MoR delete rows? Append versions
    * stream as-is (their added files ARE the change); anything else
    * needs materialized change data to stream. */
  /** Whether version `v` changed the table's logical rows (true for
    * every commit of a pre-dataChange table). */
  private[graft] def dataChangeAt(path: String, v: Long): Boolean =
    manifestAt(path, v).dataChange

  private[graft] def isAppendOnly(path: String, v: Long): Boolean = {
    val m = manifestAt(path, v)
    if (m.parent == 0L) m.deletes.isEmpty
    else {
      val p = manifestAt(path, m.parent)
      val kept = m.files.toSet
      p.files.forall(kept) && m.deletes.size == p.deletes.size
    }
  }

  /** IDENTITY COLUMN append — warehouse surrogate keys (the dimension
    * sync's `id` the reference's warehouses assign on insert): each
    * appended row receives the next value of a monotonically increasing
    * id, contiguous within a commit and continuing across commits.
    *
    * The high-water mark is read from METADATA: the per-file max stats
    * of `idCol` across the current version (no scan; a stats-less
    * legacy file falls back to one max() aggregate). Assignment is
    * DETERMINISTIC: rows are sorted by `orderBy` and numbered by a
    * sorted `zipWithIndex` (range-partitioned sort, one extra count
    * job — the standard distributed contiguous-numbering scheme; a
    * global window would single-task the write).
    *
    * Contract: ONE identity writer per table at a time (Delta's
    * identity columns reserve ranges through the log for the same
    * reason) — two concurrent identity appends could both read the same
    * high-water mark; the version lock serializes the commits but not
    * the id draws. Returns the committed version. */
  def appendIdentity(spark: SparkSession, df: DataFrame, path: String,
      idCol: String, orderBy: Seq[String],
      commitId: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, max => mx}
    require(orderBy.nonEmpty,
      "appendIdentity needs a deterministic ordering for assignment")
    require(!df.columns.contains(idCol),
      s"source already carries '$idCol' — identity values are assigned, " +
        "never supplied")
    val hwm: Long = latest(path) match {
      case None => 0L
      case Some(m) =>
        val fromStats = m.files.flatMap(f =>
          m.stats.getOrElse(f, Map.empty).get(idCol))
        if (fromStats.nonEmpty && fromStats.forall(_.numeric) &&
          fromStats.size == m.files.size)
          fromStats.map(_.max.toDouble.toLong).max
        else { // legacy/stats-less files: one aggregate, not a failure
          val r = read(spark, path).agg(mx(col(idCol))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
    }
    val sorted = df.orderBy(orderBy.map(col): _*)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = false) +:
        sorted.schema.fields)
    val numbered = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq((hwm + 1L + i) +: r.toSeq)
      }, schema)
    append(numbered, path, commitId)
  }

  /** ATTRIBUTE REDACTION across the persisted change feed — the
    * compliance gap [[materializeCdf]] opens: a merge commit's
    * `_change_data` file carries FULL before/after images (delete rows
    * included), so a subject's attributes survive under `_change_data`
    * after the q88-style table-side erasure has scrubbed `data/`.
    * Dropping the rows would break feed replay (consumers must still
    * see the tombstones and version structure), so redaction NULLs the
    * attribute columns of the subject's change rows in place and keeps
    * key, `_change_type`, and `_commit_version` intact: replay
    * row-counts and reconstruction of every OTHER key are unchanged by
    * construction. Files are rewritten via stage + atomic replace;
    * the operation is idempotent (already-null rows don't count).
    *
    * Scope: this redacts the FEED. Full erasure composes three
    * existing pieces — table-side hard delete (merge + compactDeletes
    * + vacuum, the q88 pipeline) for current data, version expiry for
    * historical data files, and this for the change feed. Checkpointed
    * consumers that already drained the rows hold their own copies —
    * redaction cannot reach those, which is exactly why it must run at
    * the source. Returns the number of change rows redacted. */
  def redactCdf(spark: SparkSession, path: String, keyCol: String,
      keys: Seq[Any], attrCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keys.nonEmpty, "redactCdf needs the subject's keys")
    require(attrCols.nonEmpty, "redactCdf needs the attribute columns")
    val cdfDir = Paths.get(path, "_change_data")
    if (!Files.isDirectory(cdfDir)) return 0L
    val files = Using.resource(Files.list(cdfDir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.matches("v\\d+\\.parquet")).toSeq
    }
    var redacted = 0L
    files.foreach { p =>
      val df = spark.read.parquet(p.toString)
      val cols = df.columns.toSet
      if (cols.contains(keyCol) && attrCols.forall(cols.contains)) {
        val hit = col(keyCol).isin(keys: _*)
        val dirty = df.where(hit &&
          attrCols.map(col(_).isNotNull).reduce(_ || _)).count()
        if (dirty > 0) {
          val out = df.select(df.columns.map { c =>
            if (attrCols.contains(c)) when(hit, lit(null)).otherwise(col(c)).as(c)
            else col(c)
          }.toSeq: _*)
          val stageRoot = Files.createTempDirectory(cdfDir, ".redact-stage-")
          try {
            val stage = stageRoot.resolve("out")
            val ow = out.coalesce(1).write
            GraftCatalog.readDeclaredCompression(Paths.get(path))
              .foreach(c => ow.option("compression", c))
            ow.parquet(stage.toString)
            val part = Using.resource(Files.list(stage)) { st =>
              st.iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet"))
            }.getOrElse(throw new IllegalStateException(
              "redaction rewrite produced no file"))
            Files.move(part, p, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            redacted += dirty
          } finally {
            Using.resource(Files.walk(stageRoot)) { st =>
              st.iterator().asScala.toSeq.reverse.foreach(q =>
                try { Files.deleteIfExists(q); () } catch { case _: Throwable => () })
            }
          }
        }
      }
    }
    redacted
  }

  private[graft] def cdfFile(path: String, v: Long): Path =
    Paths.get(path, "_change_data").resolve(f"v$v%08d.parquet")

  /** COMMIT-TIME CHANGE-DATA materialization — Delta's `_change_data`
    * directory on this format: the keyed row-level diff of version `v`
    * against its parent, flattened to Delta's CDF row shape (plain
    * table columns + `_change_type` ∈ insert / delete /
    * update_preimage / update_postimage + `_commit_version`), written
    * as one parquet file keyed by version. Idempotent (an existing
    * file wins — content is a pure function of the two versions); the
    * diff runs on the O(changed-files) slices, so the cost tracks the
    * change, not the table. `keyCols` defaults to the table's
    * merge-key metadata. A version-1 (or parentless) commit emits all
    * rows as inserts. The streaming change feed
    * (`readChangeFeed=true`) consumes these for non-append commits. */
  /** Batch CHANGE FEED over `(fromVersion, toVersion]` — the SQL/
    * DataFrame door to the same per-version contract the streaming CDF
    * source enforces: maintenance (dataChange=false) commits emit
    * nothing, a commit with materialized `_change_data` reads its exact
    * row diffs, an append-only commit synthesizes `insert` rows from
    * its own files, and anything else fails loudly asking for
    * [[materializeCdf]] at commit time. Output = the table columns +
    * `_change_type` (insert / delete / update_preimage /
    * update_postimage) + `_commit_version`, Delta's
    * `table_changes` shape. Cost is change-proportional: only touched
    * files and change-sized diffs are read, never the table. */
  def changeFeed(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val vs = versions(path).filter(v => v > fromVersion && v <= toVersion)
    require(vs.nonEmpty,
      s"no committed versions in ($fromVersion, $toVersion] at $path")
    val slices = vs.flatMap { v =>
      if (!dataChangeAt(path, v)) None
      else {
        val cdf = cdfFile(path, v)
        if (Files.exists(cdf))
          Some(spark.read.parquet(cdf.toString))
        else if (isAppendOnly(path, v)) {
          // the version's OWN files, read through reconcile so clone
          // initials (carried seqs), inherited delete ledgers, and
          // column mapping all resolve exactly like a table read
          val m = manifestAt(path, v)
          val own =
            if (m.parent == 0L) m.files
            else m.files.filter(f => m.seqs.get(f).exists(_ == v))
          if (own.isEmpty) None
          else Some(reconcile(spark, path, m, own)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        } else throw new IllegalStateException(
          s"version $v of $path is not append-only and has no materialized " +
            s"change data - run ManifestTable.materializeCdf(path, $v) " +
            "at (or after) commit time to read this change")
      }
    }
    if (slices.isEmpty)
      // every version in range was maintenance: an empty feed in the
      // CDF shape (schema from the endpoint snapshot)
      read(spark, path, Some(toVersion))
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
        .where(lit(false))
    else slices.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def materializeCdf(spark: SparkSession, path: String, version: Long,
      keyCols: Seq[String] = Seq.empty): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val target = cdfFile(path, version)
    if (Files.exists(target)) return
    Files.createDirectories(target.getParent)
    val m = manifestAt(path, version)
    val tableCols = read(spark, path, Some(version)).columns.toSeq
    // pinned two-version diff (else None): released after the write below
    // — merge()'s try/finally discipline; without the release a
    // long-lived session accumulates one change-sized block set PER
    // materialized commit in the shared block manager
    var pinnedDiff: Option[DataFrame] = None
    try {
    val out: DataFrame =
      if (m.parent == 0L) {
        read(spark, path, Some(version))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(version))
      } else {
        val keys = if (keyCols.nonEmpty) keyCols else m.mergeKeys
        require(keys.nonEmpty,
          s"materializeCdf needs key columns (no merge-key metadata at $path)")
        // pin the two-version diff ONCE: the four change-type projections
        // below reference it in one union plan, which would otherwise
        // re-execute the before/after outer join four times. The diff is
        // change-sized by construction, so the checkpoint is small —
        // coalesced to size so the pin is a handful of blocks, not one
        // near-empty block per core.
        val raw = changesWithValues(spark, path, version - 1, version, keys)
        val diff = raw.coalesce(stageTasks(raw)).localCheckpoint()
        pinnedDiff = Some(diff)
        def side(changeType: String, sideCol: String, flag: String) = diff
          .where(col("change_type") === changeType)
          .select(tableCols.map(c =>
            (if (keys.contains(c)) col(c) else col(s"$sideCol.$c")).as(c)) :+
            lit(flag).as("_change_type") :+
            lit(version).as("_commit_version"): _*)
        side("added", "after", "insert")
          .unionByName(side("removed", "before", "delete"))
          .unionByName(side("changed", "before", "update_preimage"))
          .unionByName(side("changed", "after", "update_postimage"))
      }
    // one file per commit (the diff is change-sized): stage + atomic move
    val stageRoot = Files.createTempDirectory(target.getParent, ".cdf-stage-")
    val stage = stageRoot.resolve("out")
    val ow = out.coalesce(1).write
    GraftCatalog.readDeclaredCompression(Paths.get(path))
      .foreach(c => ow.option("compression", c))
    ow.parquet(stage.toString)
    val part = Using.resource(Files.list(stage)) { st =>
      st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
    }.getOrElse(throw new IllegalStateException("cdf write produced no file"))
    try Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileAlreadyExistsException => () } // lost a benign race
    Using.resource(Files.walk(stageRoot)) { st =>
      st.iterator().asScala.toSeq.reverse.foreach(p =>
        try Files.deleteIfExists(p) catch { case _: Throwable => () })
    }
    } finally pinnedDiff.foreach(graft.operators.IndexScope.release)
  }

  /** DELETE FROM … WHERE (Delta's predicate delete), copy-on-write at
    * file granularity: only files CONTAINING a matching row are
    * rewritten (found by one predicate-pushed scan that returns file
    * names, never rows); everything else carries. Rows where the
    * predicate is NULL are kept (SQL three-valued DELETE). A predicate
    * matching nothing commits nothing. Optimistic-retry; `commitId`
    * replays idempotently. */
  def deleteWhere(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column,
      commitId: Option[String] = None,
      // `cond` in the manifest-skippable Condition algebra, when the
      // caller has it (the SQL door converts its Filters; the API caller
      // may pass its own). MUST be equivalent to `cond` in conjunction —
      // it drives two stats-only fast paths: files provably without a
      // match never scan, and files where EVERY row provably matches
      // drop from the manifest without being read (Delta's
      // partition-aligned metadata delete). Empty = no fast path.
      scopeConds: Seq[graft.conditions.Condition] = Seq.empty): Long = {
    // write-to-branch session: the DELETE stages as a keyed ledger
    // commit on the ref (audit-then-fast-forward), never on main — the
    // SQL door's DELETE routes here too, so the whole DML family
    // honors the branch conf the INSERT door already did
    branchSession(spark).foreach { name =>
      requireNoWap(spark, "deleteWhere")
      return deleteBranchWhere(spark, path, name, cond,
        branchDmlKeys(path, name), commitId).toLong
    }
    requireNoWapSession(spark, "deleteWhere")
    rewriteTxn(spark, path, commitId)(_.deleteWhere(cond, scopeConds))
  }

  /** UPDATE … SET … WHERE — same copy-on-write shape as [[deleteWhere]]:
    * matching rows get each `set` column replaced (expressions may read
    * the old row), everything else carries byte-identical. Table CHECK
    * constraints re-validate in-scan on the rewritten rows. */
  def updateWhere(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      commitId: Option[String] = None): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    branchSession(spark).foreach { name =>
      requireNoWap(spark, "updateWhere")
      return updateBranchWhere(spark, path, name, cond, set,
        branchDmlKeys(path, name), commitId).toLong
    }
    requireNoWapSession(spark, "updateWhere")
    rewriteTxn(spark, path, commitId)(_.updateWhere(cond, set))
  }

  /** REPLACE WHERE (Delta's replaceWhere, the canonical backfill):
    * atomically DELETE every row matching `cond` and INSERT `data` in
    * ONE commit — copy-on-write at file granularity (only files
    * containing a matching row rewrite; everything else carries
    * byte-identical), with every inserted row gated IN-SCAN to satisfy
    * the predicate. Re-running a day's corrected batch can therefore
    * never duplicate: the scope's old rows leave exactly as the new
    * ones land, and no reader ever sees the gap. DSv2 door:
    * `df.writeTo("graft.t").overwrite(cond)`. */
  def replaceWhere(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column, data: DataFrame,
      commitId: Option[String] = None,
      scopeConds: Seq[graft.conditions.Condition] = Seq.empty): Long = {
    requireNoWapSession(spark, "replaceWhere")
    rewriteTxn(spark, path, commitId)(_.replaceWhere(cond, data, scopeConds))
  }

  /** Best-effort STRICT translation of a Column predicate into the
    * manifest-skippable Condition algebra — what arms the stats fast
    * paths for API callers that pass only a Column (the SQL doors
    * translate their Filters directly). Analysis runs over an EMPTY
    * frame of the version's logical schema, so no engine-internal
    * conjunct can leak in (an extra conjunct would narrow might-match
    * pruning below the user's predicate — unsound). Strict: ANY
    * unconvertible part yields Seq.empty (no fast path), never a
    * partial translation. Value sides accept any foldable expression
    * (analysis wraps literals in casts); evaluation externalizes the
    * Catalyst-internal forms the stats comparators expect. */
  private def columnToConditions(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      c: org.apache.spark.sql.Column): Seq[graft.conditions.Condition] = try {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    import graft.conditions.{Condition, Op}
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val cond = probe.where(c).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(return Seq.empty)
    def externalize(v: Any, dt: DataType): Any = dt match {
      case StringType => String.valueOf(v)
      case _: DecimalType => v match {
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case x => x
      }
      // DATE stays epoch-day Int, TIMESTAMP epoch-micros Long — the
      // numeric forms the stat comparators normalize to anyway
      case _ => v
    }
    def value(e: Expression): Option[Any] = e match {
      case l if l.foldable =>
        Option(l.eval()).map(externalize(_, l.dataType)) // null lit: None
      case _ => None
    }
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def one(n: String, op: Op, v: Any) = Some(Seq(Condition(n, op, v)))
    def conv(e: Expression): Option[Seq[Condition]] = e match {
      case And(l, r) => for (a <- conv(l); b <- conv(r)) yield a ++ b
      case EqualTo(a, v) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Eq, x)) yield r
      case EqualTo(v, a) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Eq, x)) yield r
      case GreaterThan(a, v) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Gt, x)) yield r
      case GreaterThan(v, a) if attr(a).isDefined => // v > col ⇔ col < v
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Lt, x)) yield r
      case GreaterThanOrEqual(a, v) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Gte, x)) yield r
      case GreaterThanOrEqual(v, a) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Lte, x)) yield r
      case LessThan(a, v) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Lt, x)) yield r
      case LessThan(v, a) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Gt, x)) yield r
      case LessThanOrEqual(a, v) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Lte, x)) yield r
      case LessThanOrEqual(v, a) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.Gte, x)) yield r
      case In(a, vs) if attr(a).isDefined =>
        val xs = vs.map(value)
        if (xs.forall(_.isDefined))
          attr(a).map(n => Seq(Condition(n, Op.In, xs.map(_.get))))
        else None
      case IsNull(a) => attr(a).map(n => Seq(Condition(n, Op.IsNull, null)))
      case IsNotNull(a) => attr(a).map(n => Seq(Condition(n, Op.NotNull, null)))
      case StartsWith(a, v) if attr(a).isDefined =>
        for (n <- attr(a); x <- value(v); r <- one(n, Op.StartsWith, x)) yield r
      case _ => None
    }
    conv(cond).getOrElse(Seq.empty)
  } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** DESCRIBE HISTORY: one row per committed version — commit time/id,
    * file and delete-file counts, recorded row totals, and what changed
    * vs the parent (files added/removed) — the audit surface every
    * table format exposes. Metadata-only (manifests + file sizes). */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val ms = versions(path).map(manifestAt(path, _))
    val byVersion = ms.map(m => m.version -> m).toMap
    ms.map { m =>
      val parent = byVersion.get(m.parent)
      val parentFiles = parent.map(_.files.toSet).getOrElse(Set.empty)
      val added = m.files.count(f => !parentFiles.contains(f))
      val removed = parentFiles.count(f => !m.files.contains(f))
      // the OPERATION each version performed, recovered from the commit
      // id's well-known prefixes plus commit structure — what DESCRIBE
      // HISTORY answers first when an operator audits an unfamiliar
      // table ("what rewrote half my files last night?")
      val deletesAdded = m.deletes.size -
        parent.map(_.deletes.size).getOrElse(0)
      val id = m.commitId.getOrElse("")
      val op =
        if (id.startsWith("compact-where-of-")) "OPTIMIZE WHERE"
        else if (id.startsWith("compact-incr-of-")) "OPTIMIZE INCREMENTAL"
        else if (id.startsWith("compact-of-")) "OPTIMIZE"
        else if (id.startsWith("fold-deletes-of-")) "FOLD DELETES"
        else if (id.startsWith("branch:")) "FAST FORWARD"
        else if (id.startsWith("wap:")) "PUBLISH WAP"
        else if (id.startsWith("st-")) "STREAMING EPOCH"
        else if (deletesAdded > 0) "MERGE"
        else if (parent.isEmpty && m.parent <= 0) "CREATE"
        else if (removed > 0 && removed == parentFiles.size && added > 0 &&
          m.files.forall(f => !parentFiles.contains(f))) "OVERWRITE"
        else if (removed > 0) "REWRITE"
        else "APPEND"
      (m.version, commitTimeMillis(path, m.version),
        m.commitId.orNull,
        m.files.size, m.deletes.size,
        m.files.flatMap(m.rows.get).sum,
        added, removed,
        m.constraints.size,
        m.mergeKeys.mkString(","),
        op,
        // contention audit: non-null when this commit landed by adopting
        // already-staged work across a lost optimistic claim — the value
        // is the version the work was staged against, so (parent -
        // rebased_from) counts the commits it rebased across
        m.rebasedFrom.map(java.lang.Long.valueOf).orNull)
    }.toDF("version", "commit_ts", "commit_id", "n_files", "n_delete_files",
      "recorded_rows", "files_added", "files_removed", "n_constraints",
      "merge_keys", "operation", "rebased_from")
  }

  /** DESCRIBE DETAIL (Delta's): the CURRENT version's summary as one
    * row — the operator's first look at an unfamiliar table. Row
    * counts come from manifest metadata ([[estimatedLive]]'s exact
    * inputs); `size_bytes` is the physical data-file footprint
    * (encoding-dependent — an observability number, not a contract). */
  def detail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val m = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val sizeBytes = m.files.map(f => sizeOf(path, m, f)).sum
    val recorded = m.files.flatMap(m.rows.get).sum
    val live = estimatedLive(path).map(_._1).getOrElse(recorded)
    // operator-facing lifecycle state: named version pins, staged
    // (unpublished) WAP batches awaiting a publish/abort decision, and
    // metadata-widened column types
    val tagsStr = tags(path).toSeq.sortBy(_._1)
      .map { case (n, v) => s"$n=v$v" }.mkString(",")
    val wapsStr = stagedWaps(path).mkString(",")
    val branchesStr = branches(path).toSeq.sortBy(_._1)
      .map { case (n, b) => s"$n@v${b.parent}+${b.commits.size}" }
      .mkString(",")
    val widenStr = GraftCatalog.readDeclaredWiden(Paths.get(path))
      .toSeq.sortBy(_._1)
      .map { case (c, t) => s"$c:${t.simpleString}" }.mkString(",")
    Seq((m.version, m.files.size, m.deletes.size, sizeBytes, recorded,
      live, m.constraints.size, m.generated.size,
      m.mergeKeys.mkString(","), tagsStr, wapsStr, branchesStr, widenStr))
      .toDF("version", "n_files", "n_delete_files", "size_bytes",
        "recorded_rows", "live_rows", "n_constraints", "n_generated",
        "merge_keys", "tags", "staged_waps", "branches", "widened_columns")
  }

  /** MAINTENANCE ADVISOR: what a nightly job should run against this
    * table, decided from METADATA alone (manifest + sidecar listings —
    * no data scan). One row per known maintenance action with its
    * driving metric and a recommendation:
    *
    *  - `compact_incremental` — files under `minFill · targetBytes`
    *    (the exact set [[compactIncremental]] would fold);
    *  - `fold_deletes` — MoR delete-ledger files awaiting
    *    [[compactDeletes]];
    *  - `expire` — versions beyond the `keepLast` retention horizon;
    *  - `reindex_bloom` / `reindex_trigram` — files the existing
    *    sidecar indexes have not covered yet (new appends/rewrites),
    *    per indexed column. Emitted only for indexes that exist —
    *    advising an index the operator never built is policy, not
    *    maintenance.
    *
    * The advisor RECOMMENDS; it runs nothing. */
  def maintenancePlan(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024, minFill: Double = 0.5,
      keepLast: Int = 1): DataFrame = {
    import spark.implicits._
    val m = latest(path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val under = m.files.count(f =>
      sizeOf(path, m, f) < (minFill * targetBytes).toLong)
    val nDel = m.deletes.size
    val nExpired = math.max(0, versions(path).size - keepLast)
    def sidecarCols(dirName: String, suffix: String): Seq[String] = {
      val d = Paths.get(path, dirName)
      if (!Files.isDirectory(d)) Seq.empty
      else Using.resource(Files.list(d)) { st =>
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(suffix))
          .map(_.stripSuffix(suffix).split("\\.").last)
          .toSeq.distinct.sorted
      }
    }
    val bloomMissing = sidecarCols("_bloom", ".bloom").map(c =>
      c -> m.files.count(f => !BloomIndex.indexedFiles(path, c).contains(f)))
    val triMissing = sidecarCols("_trigram", ".tri").map(c =>
      c -> m.files.count(f =>
        !TrigramIndex.indexedFiles(path, c).contains(f)))
    (Seq(
      ("compact_incremental", under.toLong, under >= 2),
      ("fold_deletes", nDel.toLong, nDel > 0),
      ("expire", nExpired.toLong, nExpired > 0)) ++
      bloomMissing.map { case (c, n) =>
        (s"reindex_bloom:$c", n.toLong, n > 0) } ++
      triMissing.map { case (c, n) =>
        (s"reindex_trigram:$c", n.toLong, n > 0) })
      .toDF("action", "metric", "recommended")
  }

  /** RUN MAINTENANCE: execute [[maintenancePlan]]'s recommended rows —
    * the advisor becomes the nightly job a 100 TB table actually runs.
    * Ledger folding runs BEFORE compaction (a fold rewrites exactly the
    * delete-covered files, so the compactor then sees their true
    * sizes); each action rides its own conflict-safe machinery
    * (compactions rebase/retry against racing commits, expire is
    * pin-aware, index builds are sidecar-only), so the pass can race
    * ingest without serializing against it. Returns one row per plan
    * action: what ran and what it did. */
  def runMaintenance(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024, minFill: Double = 0.5,
      keepLast: Int = 1): DataFrame = {
    import spark.implicits._
    val plan = maintenancePlan(spark, path, targetBytes, minFill, keepLast)
      .collect() // metadata-sized: one row per known action
    val order = Map("fold_deletes" -> 0, "compact_incremental" -> 1,
      "expire" -> 3) // indexes at 2 (rebuilt before old files expire)
    val report = plan.sortBy(r => order.getOrElse(
        r.getString(0).split(":").head, 2)).map { r =>
      val action = r.getString(0)
      val metric = r.getLong(1)
      val rec = r.getBoolean(2)
      val result: String =
        if (!rec) "skipped"
        else action match {
          case "fold_deletes" =>
            s"committed v${compactDeletes(spark, path)}"
          case "compact_incremental" =>
            s"committed v${compactIncremental(spark, path, targetBytes,
              Seq.empty, minFill)}"
          case "expire" =>
            val (dropped, swept) = expire(path, keepLast)
            s"expired ${dropped.size} versions, swept ${swept.size} files"
          case a if a.startsWith("reindex_bloom:") =>
            val c = a.stripPrefix("reindex_bloom:")
            s"indexed ${BloomIndex.build(spark, path, Seq(c))} files"
          case a if a.startsWith("reindex_trigram:") =>
            val c = a.stripPrefix("reindex_trigram:")
            s"indexed ${TrigramIndex.build(spark, path, c)} files"
          case other => s"unknown action '$other'" // report, never throw
        }
      (action, metric, rec, result)
    }
    report.toSeq.toDF("action", "metric", "recommended", "result")
  }

  /** RESTORE (Delta's RESTORE TABLE … TO VERSION): re-commit version
    * K's complete state — files, stats, seqs, delete ledger, scoping
    * stats, row counts — as a NEW version on top of the current chain.
    * Time travel that moves the table FORWARD: history is never
    * rewritten (every intermediate version stays readable, a second
    * restore can undo the undo), which is what separates RESTORE from a
    * reset. Constraints, merge keys and the txn ledger keep the CURRENT
    * values — they are table contract and writer progress, not data
    * state. The restore is a data change of its own (never K's flag or
    * rebase mark). Optimistic-retry like any
    * commit; `commitId` gives replayed callers exactly-once. Fails
    * loudly if version K was expired. */
  def restore(path: String, toVersion: Long,
      commitId: Option[String] = None): Long = {
    val k = manifestAt(path, toVersion)
    rerun {
      val base = latest(path).getOrElse(
        throw new IllegalStateException(s"no committed version at $path"))
      commitId.flatMap(id => versions(path).map(manifestAt(path, _))
        .find(_.commitId.contains(id))).foreach(m => return m.version)
      // K's data state replaces the head's; the contract (constraints,
      // merge keys) and the txn ledger stay the head's. The label names
      // the slot, so a moved head re-runs (Strict) rather than rebases.
      claim(path, Some(base), Change(replace = true, added = k.files,
          seqs = k.files.map(f => f -> k.seqs.getOrElse(f, 0L)).toMap,
          stats = k.stats, rows = k.rows, bytes = k.bytes,
          deletes = k.deletes, deleteStats = k.deleteStats,
          generated = Some(k.generated),
          mapping = Some((k.renames, k.droppedCols)),
          commitId = commitId.orElse(
            Some(s"restore-to-v$toVersion@${base.version + 1}"))),
        Rebase.Strict)
    }
  }

  /** SHALLOW CLONE (Delta's SHALLOW CLONE, on this manifest format):
    * `dst` becomes an independent table whose v1 manifest REFERENCES
    * `src`'s current data and delete files by absolute path — zero
    * bytes copied, O(metadata) cost at any table size. The clone
    * carries the source's stats, seqs, delete ledger + scoping stats,
    * row counts, constraints, and merge keys, so skipping, MoR
    * reconciliation, and the keyed contract all work immediately.
    * Versions diverge independently from there: writes to the clone
    * stage NEW files under the clone's own `data/` and never touch the
    * source; the source never sees the clone.
    *
    * Retention safety: the clone REGISTERS itself at the source (a
    * `_clones/<id>.json` breadcrumb) and the source's [[vacuum]]
    * RETAINS every file a registered clone still references — so
    * expiring the source past the cloned version no longer reaps bytes
    * out from under the clone (the data-loss hazard Delta documents
    * and leaves to the operator). The retention releases itself: once
    * the clone compacts (its own files) and expires its early
    * versions — or is deleted outright — the source's next vacuum
    * frees the bytes. `vacuum(ignoreClones = true)` is the explicit
    * force for operators who accept breaking clones. */
  def cloneShallow(src: String, dst: String,
      srcVersion: Option[Long] = None): Long = {
    val m = snapshotAt(src, srcVersion).getOrElse(
      throw new IllegalStateException(s"no committed version at $src"))
    require(versions(dst).isEmpty, s"clone target $dst already has commits")
    val srcData = dataDir(src).toAbsolutePath
    def abs(f: String): String =
      if (f.startsWith("/")) f else srcData.resolve(f).toString
    Files.createDirectories(manifestDir(dst))
    Files.createDirectories(dataDir(dst))
    val cm = Manifest(1L, m.files.map(abs),
      Some(s"clone-of-$src@v${m.version}"), 0L,
      m.stats.map { case (f, v) => abs(f) -> v },
      m.seqs.map { case (f, v) => abs(f) -> v },
      m.deletes.map { case (f, sq) => (abs(f), sq) },
      m.constraints, None,
      m.deleteStats.map { case (f, v) => abs(f) -> v },
      m.rows.map { case (f, v) => abs(f) -> v },
      m.mergeKeys, generated = m.generated, txns = m.txns,
      renames = m.renames, droppedCols = m.droppedCols,
      bytes = m.bytes.map { case (f, v) => abs(f) -> v })
    publish(manifestDir(dst).resolve(f"v${1L}%08d.json"), render(dst, cm))
    // the breadcrumb the source's vacuum consults; written AFTER the
    // clone's manifest so a registered clone is always readable
    val bcDir = Paths.get(src, "_clones")
    Files.createDirectories(bcDir)
    Files.writeString(bcDir.resolve(s"${UUID.randomUUID()}.json"),
      s"""{"dst":${q(Paths.get(dst).toAbsolutePath.toString)},""" +
        s""""srcVersion":${m.version}}""")
    1L
  }

  /** The source-data files registered clones still reference — what
    * [[vacuum]] must RETAIN beyond the source's own manifests. Reads
    * each registered clone's CURRENT manifest chain, so the retention
    * releases itself as the clone compacts/expires its references. A
    * breadcrumb whose clone directory no longer exists is garbage-
    * collected; a clone that EXISTS but cannot be read refuses the
    * sweep loudly (reaping on a guess is the data-loss path). */
  private def cloneRetained(path: String, gc: Boolean = true): Set[String] = {
    val bcDir = Paths.get(path, "_clones")
    if (!Files.isDirectory(bcDir)) return Set.empty
    val srcData = dataDir(path).toAbsolutePath.toString
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val crumbs = Using.resource(Files.list(bcDir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json")).toSeq
    }
    crumbs.flatMap { bc =>
      val dst = scala.util.Try(
        (JsonMethods.parse(Files.readString(bc)) \ "dst").extract[String])
        .getOrElse(throw new IllegalStateException(
          s"unreadable clone breadcrumb $bc — refusing to vacuum " +
            "(pass ignoreClones=true to force, breaking the clone)"))
      if (!Files.isDirectory(manifestDir(dst))) {
        if (gc) Files.deleteIfExists(bc) // clone deleted: released
        Seq.empty
      } else scala.util.Try {
        versions(dst).map(manifestAt(dst, _))
          .flatMap(m => m.files ++ m.deletes.map(_._1))
          .filter(f => f.startsWith("/") &&
            Paths.get(f).getParent.toString == srcData)
          .map(f => Paths.get(f).getFileName.toString)
      }.getOrElse(throw new IllegalStateException(
        s"clone $dst exists but its manifests are unreadable — " +
          "refusing to vacuum the source (pass ignoreClones=true to " +
          "force, breaking the clone)"))
    }.toSet
  }

  /** Retention: drop all but the newest `keepLast` manifests (time
    * travel horizon), then [[vacuum]] the data files only the dropped
    * versions referenced. The latest version is always kept. Returns
    * (expired versions, deleted data files). */
  def expire(path: String, keepLast: Int,
      vacuumMinAgeMs: Long = 3600000L): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "must retain at least the latest version")
    val vs = versions(path)
    val pinned = tags(path).values.toSet ++ // tagged versions never expire
      branchPinned(path) // nor versions a live branch forks from
    val dropped = vs.dropRight(keepLast).filterNot(pinned)
    dropped.foreach { v =>
      val p = manifestDir(path).resolve(f"v$v%08d.json")
      parseCache.remove(cacheKey(p))
      Files.delete(p)
    }
    (dropped, vacuum(path, vacuumMinAgeMs))
  }

  /** What [[expire]] WOULD do, touching nothing: the versions past the
    * retention horizon and the data files only those versions reference
    * (plus already-orphaned files past the age cutoff) — the operator's
    * look-before-you-leap on an irreversible sweep. */
  def expireDryRun(path: String, keepLast: Int,
      vacuumMinAgeMs: Long = 3600000L): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "must retain at least the latest version")
    val vs = versions(path)
    val pinned = tags(path).values.toSet ++ branchPinned(path)
    val dropped = vs.dropRight(keepLast).filterNot(pinned)
    (dropped, sweepPreview(path, vs.filterNot(dropped.toSet), vacuumMinAgeMs))
  }

  /** EVERYTHING the sweep would reap once only `kept` versions remain —
    * data-dir orphans, version-keyed CDF files, orphaned segment files,
    * and bloom/trigram sidecars, enumerated with the SAME rules
    * [[vacuum]] applies, so a DRY RUN's deleted_files never under-
    * reports the real sweep. Touches nothing. */
  private def sweepPreview(path: String, kept: Seq[Long],
      vacuumMinAgeMs: Long): Seq[String] = {
    val live = kept.map(manifestAt(path, _))
      .flatMap(m => m.files ++ m.deletes.map(_._1)).toSet ++
      cloneRetained(path, gc = false) ++ // preview touches NOTHING
      wapRetained(path) ++ branchRetained(path)
    val cutoff = System.currentTimeMillis() - vacuumMinAgeMs
    def aged(p: Path): Boolean = Files.getLastModifiedTime(p).toMillis <= cutoff
    val dataOrphans =
      if (!Files.isDirectory(dataDir(path))) Seq.empty[String]
      else Using.resource(Files.list(dataDir(path))) { st =>
        st.iterator().asScala
          .filter(p => !live.contains(p.getFileName.toString))
          .filter(aged).map(_.getFileName.toString).toSeq
      }
    // version-keyed CDF files of versions that will NOT survive, plus
    // aged-out crashed materialization stages — vacuum's exact rule
    val keptSet = kept.toSet
    val cdfDir = Paths.get(path, "_change_data")
    val cdfOrphans =
      if (!Files.isDirectory(cdfDir)) Seq.empty[String]
      else Using.resource(Files.list(cdfDir)) { st =>
        st.iterator().asScala.filter { p =>
          val nm = p.getFileName.toString
          val expired = nm.startsWith("v") && nm.endsWith(".parquet") &&
            nm.stripPrefix("v").stripSuffix(".parquet").toLongOption
              .exists(v => !keptSet.contains(v))
          (expired || nm.startsWith(".cdf-stage-")) && aged(p)
        }.map(_.getFileName.toString).toSeq
      }
    // segment files referenced by NO surviving manifest
    val segOrphans =
      if (!Files.isDirectory(manifestDir(path))) Seq.empty[String]
      else {
        val referenced = kept.flatMap(v => layoutOf(path, v)).map(_._1).toSet
        Using.resource(Files.list(manifestDir(path))) { st =>
          st.iterator().asScala.filter { p =>
            val nm = p.getFileName.toString
            nm.startsWith("seg-") && nm.endsWith(".json") &&
              !referenced.contains(
                nm.stripPrefix("seg-").stripSuffix(".json")) && aged(p)
          }.map(_.getFileName.toString).toSeq
        }
      }
    // sidecars of data files that are already gone or about to be
    val dying = dataOrphans.toSet
    dataOrphans ++ cdfOrphans ++ segOrphans ++
      BloomIndex.orphanSidecars(path, dying) ++
      TrigramIndex.orphanSidecars(path, dying)
  }

  /** TIME-BASED retention (Delta's `RETAIN n HOURS` model): expire every
    * version whose COMMIT TIME is past the age horizon — the latest
    * version always survives, whatever its age (a quiet table must stay
    * readable). Versions commit in time order, so the dropped set is a
    * prefix of the history exactly like [[expire]]'s. */
  def expireOlderThan(path: String, maxAgeMs: Long,
      vacuumMinAgeMs: Long = 3600000L,
      dryRun: Boolean = false): (Seq[Long], Seq[String]) = {
    val vs = versions(path)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val pinned = tags(path).values.toSet ++ // tagged versions never expire
      branchPinned(path) // nor versions a live branch forks from
    val dropped = vs.dropRight(1)
      .filter(v => commitTimeMillis(path, v) <= cutoff)
      .filterNot(pinned)
    if (dryRun)
      return (dropped, sweepPreview(path, vs.filterNot(dropped.toSet),
        vacuumMinAgeMs))
    dropped.foreach { v =>
      val p = manifestDir(path).resolve(f"v$v%08d.json")
      parseCache.remove(cacheKey(p))
      Files.delete(p)
    }
    (dropped, vacuum(path, vacuumMinAgeMs))
  }

  /** Delete data files referenced by NO committed manifest (crash-leaked
    * staging output, files whose commit lost the race and was never
    * retried). `minAgeMs` is the concurrency guard every real table
    * format's vacuum carries: a file staged by an IN-FLIGHT commit is
    * unreferenced until its manifest publishes, so only files older than
    * the window are eligible (pass 0 only when no writer can be active).
    * Returns the deleted names. */
  // ── VERSION TAGS ──────────────────────────────────────────────────
  // Named, immutable version pins (Iceberg tags): `training-set-v2`
  // names the EXACT snapshot a model was trained on, forever — reads
  // resolve the name, and RETENTION REFUSES to expire a tagged version
  // (an untagged one ages out normally). At 100 TB this is what makes
  // a dataset release reproducible without freezing the whole table's
  // history horizon.

  private def tagsFile(path: String): Path =
    Paths.get(path, "_tags.json")

  private val tagLock = new Object

  /** All tags of a table: name → pinned version. */
  def tags(path: String): Map[String, Long] = {
    val f = tagsFile(path)
    if (!Files.isRegularFile(f)) return Map.empty
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(Files.readString(f)) match {
      case JObject(fields) => fields.collect {
        case (n, JInt(v))  => n -> v.toLong
        case (n, JLong(v)) => n -> v
      }.toMap
      case _ => Map.empty
    }
  }

  private def writeTags(path: String, m: Map[String, Long]): Unit = {
    val f = tagsFile(path)
    val json = "{" + m.toSeq.sortBy(_._1)
      .map { case (n, v) => s"${q(n)}:$v" }.mkString(",") + "}"
    val tmp = f.resolveSibling(s".tmp-tags-${UUID.randomUUID()}.json")
    Files.writeString(tmp, json)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Pin `name` to a version (default: the current head). Tag names are
    * immutable once created — re-pointing a released dataset name is
    * the reproducibility bug tags exist to prevent; DROP then CREATE
    * to deliberately reuse one. */
  def createTag(path: String, name: String,
      version: Option[Long] = None): Long = tagLock.synchronized {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag name '$name' must be non-empty and non-numeric " +
        "(numeric strings read as literal versions)")
    val cur = tags(path)
    require(!cur.contains(name),
      s"tag '$name' already pins v${cur(name)} at $path - DROP it first")
    val vs = versions(path)
    require(vs.nonEmpty, s"no committed version at $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"cannot tag v$v at $path: no such committed version")
    writeTags(path, cur + (name -> v))
    v
  }

  /** Release a tag (the version becomes expirable again). */
  def dropTag(path: String, name: String): Long = tagLock.synchronized {
    val cur = tags(path)
    require(cur.contains(name), s"no tag '$name' at $path")
    writeTags(path, cur - name)
    cur(name)
  }

  /** The version a tag pins, if the tag exists. */
  def resolveTag(path: String, name: String): Option[Long] =
    tags(path).get(name)

  // ── WRITE-AUDIT-PUBLISH ───────────────────────────────────────────
  // The WAP staging pattern (Iceberg's wap.id, Netflix write-audit-
  // publish): a pipeline STAGES a batch against the table — data files
  // land in the data dir and CHECK constraints / generated columns
  // enforce exactly as a commit would — but the version chain does not
  // move, so every reader, stream, MV and clone keeps seeing the
  // pre-batch table. The staged batch is readable AS IF published
  // ([[readWap]]) for audit queries; [[publishWap]] adopts the staged
  // files in ONE normal commit (conflict-retried against concurrent
  // writers, idempotent via its commit id); [[abortWap]] releases them
  // to the age-gated vacuum. Staged docs live at `_wap/<id>.json`
  // OUTSIDE the `_manifests` version chain — version resolution,
  // streaming offsets, CDF, time travel and every optimistic-commit
  // loop are untouched by construction — and [[vacuum]] + both DRY RUN
  // previews RETAIN doc-referenced files like clone breadcrumbs, so a
  // staged batch can never be swept mid-audit. At 100 TB this is the
  // ingest shape that makes bad batches FREE to reject: audit reads
  // prune on the staged files' footer stats like any other read, and a
  // rejected day of data never perturbs a single downstream consumer.
  private def wapDir(path: String): Path = Paths.get(path, "_wap")

  private def validWapId(wapId: String): String = {
    require(wapId.nonEmpty && !wapId.contains('/') &&
      !wapId.contains('\\') && wapId != "." && wapId != "..",
      s"invalid wap id: '$wapId'")
    wapId
  }

  /** Stage df as a batch of WAP id `wapId`: files land (constraints
    * enforced, declared layouts honored), NO version commits. Several
    * batches may accumulate under one id (a day of hourly inserts
    * audited once) — each stage writes its own doc; publish adopts them
    * all in one commit. Returns the staged file names. */
  def stageWap(df: DataFrame, path: String, wapId: String): Seq[String] = {
    validWapId(wapId)
    val head = latest(path).getOrElse(throw new IllegalStateException(
      s"no committed version at $path - commit the table before staging"))
    val staged = stage(df, path)
    Files.createDirectories(wapDir(path))
    val json = s"""{"wapId":${q(wapId)},"parent":${head.version},""" +
      s""""files":[${staged.map(q).mkString(",")}]}"""
    publish(wapDir(path).resolve(s"wap-${UUID.randomUUID()}.json"), json)
    staged
  }

  /** Direct-commit write doors REFUSE under an active wap session
    * rather than half-isolating: with `spark.graft.wap.id` set, only
    * catalog `INSERT INTO` (which stages) and explicit [[stageWap]]
    * write; a merge/delete/update/overwrite slipping a direct commit
    * past the audit would defeat the isolation the conf promises. */
  private[sources] def requireNoWapSession(spark: SparkSession,
      op: String): Unit = {
    spark.conf.getOption("spark.graft.wap.id").map(_.trim)
      .filter(_.nonEmpty).foreach { id =>
        throw new IllegalStateException(
          s"$op commits directly and cannot be WAP-isolated - unset " +
            s"spark.graft.wap.id (currently '$id') or publish/abort " +
            "the wap first, or use ManifestTable.stageWap for appends")
      }
    // same contract for branch sessions: a direct commit slipping past
    // an active write-to-branch session would defeat the isolation
    spark.conf.getOption("spark.graft.branch").map(_.trim)
      .filter(_.nonEmpty).foreach { name =>
        throw new IllegalStateException(
          s"$op commits directly and cannot be branch-isolated - unset " +
            s"spark.graft.branch (currently '$name') or fast-forward/" +
            "drop the branch first, or use ManifestTable.appendBranch")
      }
  }

  /** Every staged doc of one WAP id: (doc path, its staged files). */
  private def wapDocs(path: String, wapId: String): Seq[(Path, Seq[String])] = {
    validWapId(wapId)
    val d = wapDir(path)
    if (!Files.isDirectory(d)) return Seq.empty
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val docs = Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json")).toSeq
        .sortBy(_.getFileName.toString)
    }
    docs.flatMap { doc =>
      val j = JsonMethods.parse(Files.readString(doc))
      if ((j \ "wapId").extractOpt[String].contains(wapId))
        Some(doc -> ((j \ "files") match {
          case JArray(fs) => fs.map(_.extract[String])
          case _ => Seq.empty[String]
        }))
      else None
    }
  }

  /** The staged file names of one WAP id (loud when nothing staged). */
  private def wapFiles(path: String, wapId: String): Seq[String] = {
    val docs = wapDocs(path, wapId)
    require(docs.nonEmpty, s"no staged wap batch '$wapId' at $path")
    docs.flatMap(_._2)
  }

  /** Staged-but-unpublished WAP ids at a table (operator visibility). */
  def stagedWaps(path: String): Seq[String] = {
    val d = wapDir(path)
    if (!Files.isDirectory(d)) return Seq.empty
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .flatMap(doc => scala.util.Try(
          (JsonMethods.parse(Files.readString(doc)) \ "wapId")
            .extractOpt[String]).toOption.flatten)
        .toSeq.distinct.sorted
    }
  }

  /** The table AS IF batch `wapId` were published: current head plus
    * the staged files, through the one shared read path (schema merge,
    * column mapping, MoR reconcile — staged rows ride ABOVE the head's
    * delete ledger, as they would after publish). This is the audit
    * query's input. */
  def readWap(spark: SparkSession, path: String, wapId: String): DataFrame = {
    val head = latest(path).getOrElse(throw new IllegalStateException(
      s"no committed version at $path"))
    val staged = wapFiles(path, wapId)
    val (stagedStats, stagedRows) = footerHarvest(path, staged)
    val synth = head.copy(
      files = head.files ++ staged,
      seqs = head.seqs ++ staged.map(_ -> (head.version + 1)).toMap,
      stats = head.stats ++ stagedStats,
      rows = head.rows ++ stagedRows)
    reconcile(spark, path, synth, synth.files)
  }

  /** Adopt batch `wapId`'s staged files in one normal append commit and
    * drop the doc. Concurrent-writer safe (the commit loop retries on
    * top of whatever landed meanwhile) and idempotent: a crash between
    * the commit and the doc removal replays to the SAME version via the
    * commit id. Returns the published version. */
  def publishWap(path: String, wapId: String): Long = {
    val docs = wapDocs(path, wapId)
    require(docs.nonEmpty, s"no staged wap batch '$wapId' at $path")
    val staged = docs.flatMap(_._2)
    // the commit id fingerprints the FILE SET, not just the id: a crash
    // between commit and doc removal replays to the same version, while
    // re-using an id for NEW batches later still commits them
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(staged.sorted.mkString(",").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    // wap batches validated in-scan at STAGING time, and a constraint
    // commit's own full-table scan never sees out-of-chain staged files —
    // so any contract on the head must re-prove the batch at publish.
    // The empty-contract stagedUnder makes commit() validate whenever
    // the head carries constraints/generated at all: O(staged), and the
    // only point the batch and the live contract provably meet.
    val v = commit(path, staged, replace = false,
      Some(s"wap:$wapId:$digest"),
      stagedUnder = latest(path).map(_.copy(
        constraints = Seq.empty, generated = Seq.empty)))
    docs.foreach { case (doc, _) => Files.deleteIfExists(doc) }
    v
  }

  /** Drop batch `wapId` unpublished. The staged files become orphans;
    * the age-gated [[vacuum]] reclaims them (nothing ever referenced
    * them, so no reader can be holding the listing). Returns the
    * released file names. */
  def abortWap(path: String, wapId: String): Seq[String] = {
    val docs = wapDocs(path, wapId)
    require(docs.nonEmpty, s"no staged wap batch '$wapId' at $path")
    docs.foreach { case (doc, _) => Files.deleteIfExists(doc) }
    docs.flatMap(_._2)
  }

  /** Files referenced by LIVE wap docs — retained by [[vacuum]] and the
    * previews exactly like clone-referenced files. An unreadable doc
    * refuses the sweep loudly (reaping a batch mid-audit on a guess is
    * the data-loss path; abort the wap to force). */
  private def wapRetained(path: String): Set[String] = {
    val d = wapDir(path)
    if (!Files.isDirectory(d)) return Set.empty
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val docs = Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json")).toSeq
    }
    docs.flatMap { doc =>
      scala.util.Try {
        (JsonMethods.parse(Files.readString(doc)) \ "files") match {
          case JArray(fs) => fs.map(_.extract[String])
          case _ => Seq.empty[String]
        }
      }.getOrElse(throw new IllegalStateException(
        s"unreadable wap doc $doc - refusing to vacuum (abort the wap " +
          "or remove the doc to force)"))
    }.toSet
  }

  // ── BRANCH REFS ───────────────────────────────────────────────────
  // Writable branches (Iceberg branch refs): a ref forks from a main
  // version, accumulates APPEND commits that main's readers never see,
  // is readable as a first-class snapshot (`VERSION AS OF '<name>'`,
  // [[readBranch]] — full stats pruning, MoR reconcile, schema merge),
  // and FAST FORWARD publishes every branch commit onto main in ONE
  // atomic, idempotent commit. This is the door q174's WAP cannot be:
  // WAP audits ONE batch; a branch audits a CHAIN (a multi-day backfill
  // validated as a unit before any of it goes live). Branch state lives
  // at `_branch/<name>.json` OUTSIDE the `_manifests` version chain —
  // version resolution, streaming offsets, CDF and the optimistic
  // commit loop are untouched by construction. Reads resolve through a
  // SYNTHESIZED manifest carrying a reserved version id (>=
  // [[BranchIdBase]], never present in the linear chain), so every
  // existing read surface — data skipping, meta-agg, time travel
  // machinery — serves branch snapshots without a parallel code path.
  // Retention pins branch parents like tags; vacuum retains branch
  // files like WAP docs. Branches are append-shaped by design: a
  // rewrite on a branch would need copy-on-write against files main
  // still owns — stage corrected data as new commits instead, or fork
  // a shallow clone for a divergent-history experiment.

  /** Version ids at/above this mark are BRANCH snapshot ids — resolved
    * from the branch ledger, never filenames in the linear chain. */
  private[sources] val BranchIdBase = 1000000000000L

  private def branchDir(path: String): Path = Paths.get(path, "_branch")

  /** `deletes`: MoR delete-key files this commit carries — the branch
    * DML door ([[mergeMoRBranch]]) stages corrections as keyed delete
    * ledgers + upsert files, exactly the main-chain merge shape. */
  final case class BranchCommit(files: Seq[String], ts: Long,
      commitId: Option[String], deletes: Seq[String] = Seq.empty)
  /** `isSealed`: the ref is being consumed by fast-forward — the seal is
    * itself a doc published at the next slot through the create-exclusive
    * chain, so a racing [[appendBranch]] LOSES the slot and fails loudly
    * instead of publishing a commit the ref removal would silently erase.
    * `keys`: the merge keys the branch's DML commits are ledgered on —
    * set by the first [[mergeMoRBranch]] when the table itself is not
    * yet keyed, so branch readers and the fast-forward publish resolve
    * the ledger identically. */
  final case class BranchState(bid: Long, parent: Long,
      commits: Seq[BranchCommit], isSealed: Boolean = false,
      keys: Seq[String] = Seq.empty) {
    def files: Seq[String] = commits.flatMap(_.files)
    def deleteFiles: Seq[String] = commits.flatMap(_.deletes)
  }

  private val branchManifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  private def validBranchName(name: String): String = {
    require(name.nonEmpty && !name.contains('/') && !name.contains('\\') &&
      name != "." && name != ".." && !name.forall(_.isDigit),
      s"invalid branch name: '$name' (non-empty, non-numeric, no slashes)")
    name
  }

  // Branch state is its own optimistic version chain,
  // `_branch/<name>/b%08d.json`, published through the SAME
  // create-exclusive primitive the manifest log uses — two processes
  // appending to one branch serialize on the next slot and the loser
  // re-reads and retries METADATA-ONLY (its staged files are state-
  // independent). A single mutable doc would be read-modify-write:
  // cross-process last-writer-wins, silently dropping a commit.

  private def branchRefDir(path: String, name: String): Path =
    branchDir(path).resolve(validBranchName(name))

  /** The branch's snapshot id, derived from the NAME (SHA-256 truncated
    * into the reserved range): unique per name by construction, so two
    * racing creates of DIFFERENT branches can never collide on an id —
    * no counter to coordinate. */
  private def branchBid(name: String): Long = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(name.getBytes("UTF-8"))
    BranchIdBase + (java.nio.ByteBuffer.wrap(h).getLong &
      0x3FFFFFFFFFFFFFFFL)
  }

  private def branchDocVersions(path: String, name: String): Seq[Long] = {
    val d = branchRefDir(path, name)
    if (!Files.isDirectory(d)) return Seq.empty
    Using.resource(Files.list(d)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .collect { case s if s.startsWith("b") && s.endsWith(".json") =>
          s.stripPrefix("b").stripSuffix(".json").toLong }
        .toSeq.sorted
    }
  }

  private def branchDocPath(path: String, name: String): Path = {
    val ks = branchDocVersions(path, name)
    require(ks.nonEmpty, s"no branch '$name' at $path")
    branchRefDir(path, name).resolve(f"b${ks.last}%08d.json")
  }

  private def parseBranchDoc(doc: Path): BranchState = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // claim-to-content window of the no-hardlink publish fallback: an
    // empty just-claimed doc resolves in milliseconds — spin like parse()
    var spins = 0
    while (Files.size(doc) == 0 && spins < 200) { Thread.sleep(5); spins += 1 }
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(doc))
    BranchState(
      (j \ "bid").extract[Long],
      (j \ "parent").extract[Long],
      (j \ "commits") match {
        case JArray(cs) => cs.map { c =>
          BranchCommit(
            (c \ "files") match {
              case JArray(fs) => fs.map(_.extract[String])
              case _ => Seq.empty
            },
            (c \ "ts").extract[Long],
            (c \ "commitId").extractOpt[String],
            // pre-DML docs carry no deletes field
            (c \ "deletes") match {
              case JArray(ds) => ds.map(_.extract[String])
              case _ => Seq.empty
            })
        }
        case _ => Seq.empty
      },
      (j \ "sealed").extractOpt[Boolean].getOrElse(false),
      (j \ "keys") match {
        case JArray(ks) => ks.map(_.extract[String])
        case _ => Seq.empty
      })
  }

  private def branchHead(path: String, name: String): Option[BranchState] = {
    val ks = branchDocVersions(path, name)
    if (ks.isEmpty) return None
    val doc = branchRefDir(path, name).resolve(f"b${ks.last}%08d.json")
    try Some(parseBranchDoc(doc))
    catch { case e: Exception => throw new IllegalStateException(
      s"unreadable branch doc $doc: $e - DROP BRANCH or remove it to force") }
  }

  /** All branches of a table: name → state (each name's LATEST doc).
    * An unreadable doc throws — branches pin retention and vacuum, and
    * guessing over a corrupt ref is the data-loss path. */
  def branches(path: String): Map[String, BranchState] = {
    val d = branchDir(path)
    if (!Files.isDirectory(d)) return Map.empty
    Using.resource(Files.list(d)) { st =>
      st.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq
    }.flatMap(name => branchHead(path, name).map(name -> _)).toMap
  }

  private def renderBranchDoc(b: BranchState): String = {
    val commits = b.commits.map { c =>
      s"""{"files":[${c.files.map(q).mkString(",")}],"ts":${c.ts},""" +
        s""""commitId":${c.commitId.map(q).getOrElse("null")},""" +
        s""""deletes":[${c.deletes.map(q).mkString(",")}]}"""
    }.mkString("[", ",", "]")
    s"""{"bid":${b.bid},"parent":${b.parent},"sealed":${b.isSealed},""" +
      s""""keys":[${b.keys.map(q).mkString(",")}],"commits":$commits}"""
  }

  /** Fork branch `name` from a main version (default: the current
    * head). The name must not shadow a tag — both resolve through
    * `VERSION AS OF '<name>'`. Returns the parent version pinned. */
  def createBranch(path: String, name: String,
      from: Option[Long] = None): Long = {
    validBranchName(name)
    require(!tags(path).contains(name),
      s"'$name' is a tag at $path - tags and branches share the " +
        "VERSION AS OF namespace")
    val vs = versions(path)
    require(vs.nonEmpty, s"no committed version at $path")
    val parent = from.getOrElse(vs.last)
    require(vs.contains(parent),
      s"cannot branch from v$parent at $path: no such committed version")
    Files.createDirectories(branchRefDir(path, name))
    val doc = branchRefDir(path, name).resolve(f"b${1L}%08d.json")
    try publish(doc, renderBranchDoc(
      BranchState(branchBid(name), parent, Seq.empty)))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"branch '$name' already exists at $path - DROP it first")
    }
    parent
  }

  /** Append `df` as one branch commit: files land in the data dir
    * (constraints and declared layouts enforced exactly like a main
    * commit — same [[stage]]), main's version chain does not move.
    * `commitId` gives the branch commit exactly-once replay. Racing
    * appenders serialize on the ref's next doc slot; the loser retries
    * metadata-only (its staged files are state-independent). Returns
    * the 1-based branch commit ordinal. */
  def appendBranch(df: DataFrame, path: String, name: String,
      commitId: Option[String] = None): Int = {
    def replayOf(b: BranchState): Option[Int] = commitId.flatMap(id =>
      b.commits.zipWithIndex.find(_._1.commitId.contains(id)))
      .map(_._2 + 1)
    val b0 = branchHead(path, name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' at $path - CREATE BRANCH first"))
    val pre = replayOf(b0)
    if (pre.isDefined) return pre.get
    val staged = stage(df, path)
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      val ks = branchDocVersions(path, name)
      require(ks.nonEmpty, s"no branch '$name' at $path - dropped mid-write")
      val b = branchHead(path, name).get
      val replayed = replayOf(b)
      if (replayed.isDefined) return replayed.get
      if (b.isSealed) throw new IllegalStateException(
        s"branch '$name' at $path is sealed for fast-forward - " +
          "its commits are being published to main; re-run this append " +
          "against main (or a new branch) once the publish resolves")
      val c = BranchCommit(staged, System.currentTimeMillis(), commitId)
      val doc = branchRefDir(path, name).resolve(f"b${ks.last + 1}%08d.json")
      try {
        publish(doc, renderBranchDoc(b.copy(commits = b.commits :+ c)))
        return b.commits.size + 1
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          () // another appender won the slot: re-read, retry on top
      }
    }
    throw new IllegalStateException(
      s"branch contention on '$name': gave up after $attempts attempts")
  }

  /** BRANCH DML — the keyed MoR merge routed onto a ref: corrections
    * (UPDATE-shaped upserts, DELETE-shaped tombstones) stage as delete
    * ledgers + upsert files, exactly the main-chain [[mergeMoR]] shape,
    * and publish as ONE branch commit. Main never moves; the branch
    * snapshot reconciles them through the ONE shared read path (the
    * commit's ledger rides one seq above the last, so parent rows and
    * earlier branch commits with matching keys hide while the commit's
    * own upserts survive). Fast-forward publishes data AND ledger in one
    * STRICT main commit. This is the audit-a-CORRECTION flow: stage the
    * fix on a branch, audit `VERSION AS OF '<name>'`, publish or drop.
    * Returns the 1-based branch commit ordinal. */
  def mergeMoRBranch(spark: SparkSession, path: String, name: String,
      source: DataFrame, keyCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      commitId: Option[String] = None): Int = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "branch merge needs at least one key column")
    def replayOf(b: BranchState): Option[Int] = commitId.flatMap(id =>
      b.commits.zipWithIndex.find(_._1.commitId.contains(id)))
      .map(_._2 + 1)
    val b0 = branchHead(path, name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' at $path - CREATE BRANCH first"))
    replayOf(b0).foreach(return _)
    val parentM = manifestAt(path, b0.parent)
    require(parentM.mergeKeys.isEmpty || parentM.mergeKeys == keyCols,
      s"table is keyed on ${parentM.mergeKeys.mkString("(", ",", ")")}; " +
        s"branch merge on ${keyCols.mkString("(", ",", ")")} rejected")
    require(b0.keys.isEmpty || b0.keys == keyCols,
      s"branch '$name' is keyed on ${b0.keys.mkString("(", ",", ")")}; " +
        s"merge on ${keyCols.mkString("(", ",", ")")} rejected")
    val target = readBranch(spark, path, name)
    val cols = target.columns.toSeq
    require(keyCols.forall(cols.contains), s"key not in target: $keyCols")
    require(cols.forall(source.columns.contains),
      s"source is missing target columns: ${cols.diff(source.columns.toSeq)}")
    val raw = source.localCheckpoint()
    try {
      val tombstones = deleteWhen.map(raw.where(_)).getOrElse(raw.limit(0))
        .select(cols.map(col): _*)
      val upserts = deleteWhen.map(c => raw.where(!coalesce(c, lit(false))))
        .getOrElse(raw).select(cols.map(col): _*)
      requireKeyedSplits(upserts, tombstones, keyCols)
      val delKeys = tombstones.select(keyCols.map(col): _*)
        .unionByName(upserts.select(keyCols.map(col): _*)).distinct()
      val delFiles = stageDeletes(delKeys, path)
      val staged = stage(upserts, path)
      publishBranchCommit(path, name, staged, delFiles, keyCols, commitId)
    } finally graft.operators.IndexScope.release(raw)
  }

  /** The session's write-to-branch routing target, when set. */
  private def branchSession(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.branch").map(_.trim).filter(_.nonEmpty)

  /** WAP-only refusal — for write paths that ROUTE under a branch
    * session instead of refusing (branch DML), where the full
    * [[requireNoWapSession]] would wrongly reject the branch conf. */
  private def requireNoWap(spark: SparkSession, op: String): Unit =
    spark.conf.getOption("spark.graft.wap.id").map(_.trim)
      .filter(_.nonEmpty).foreach { id =>
        throw new IllegalStateException(
          s"$op cannot be WAP-isolated - unset spark.graft.wap.id " +
            s"(currently '$id') or publish/abort the wap first")
      }

  /** The merge keys a branch-session DML must ledger on: the ref's own
    * keys (an earlier branch DML set them), else the table's, else the
    * DDL declaration — refusing loudly when the table is unkeyed. */
  private def branchDmlKeys(path: String, name: String): Seq[String] = {
    val b = branchHead(path, name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' at $path - CREATE BRANCH first"))
    val ks =
      if (b.keys.nonEmpty) b.keys
      else manifestAt(path, b.parent).mergeKeys match {
        case mk if mk.nonEmpty => mk
        case _ => GraftCatalog.readDeclaredKeys(Paths.get(path))
      }
    require(ks.nonEmpty, s"branch DML on '$name' needs the table keyed: " +
      "declare PRIMARY KEY / merge.keys, or run a keyed merge first")
    ks
  }

  /** Publish ONE keyed-DML branch commit (data + ledger files, already
    * staged) onto the ref's doc chain — the shared tail of
    * [[mergeMoRBranch]] and the SQL delta-write route. Returns the
    * 1-based branch commit ordinal. */
  private def publishBranchCommit(path: String, name: String,
      staged: Seq[String], delFiles: Seq[String], keyCols: Seq[String],
      commitId: Option[String]): Int = {
    def replayOf(b: BranchState): Option[Int] = commitId.flatMap(id =>
      b.commits.zipWithIndex.find(_._1.commitId.contains(id)))
      .map(_._2 + 1)
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      val ks = branchDocVersions(path, name)
      require(ks.nonEmpty, s"no branch '$name' at $path - dropped mid-write")
      val b = branchHead(path, name).get
      replayOf(b).foreach(return _)
      if (b.isSealed) throw new IllegalStateException(
        s"branch '$name' at $path is sealed for fast-forward - " +
          "re-run this merge once the publish resolves")
      require(b.keys.isEmpty || b.keys == keyCols,
        s"branch '$name' keyed on ${b.keys.mkString(",")} mid-write")
      val c = BranchCommit(staged, System.currentTimeMillis(), commitId,
        delFiles)
      val doc = branchRefDir(path, name).resolve(f"b${ks.last + 1}%08d.json")
      try {
        publish(doc, renderBranchDoc(
          b.copy(commits = b.commits :+ c, keys = keyCols)))
        return b.commits.size + 1
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => () // retry on top
      }
    }
    throw new IllegalStateException(
      s"branch contention on '$name': gave up after $attempts attempts")
  }

  /** UPDATE … SET … WHERE on a branch: matching branch-snapshot rows
    * re-land with each `set` column replaced (expressions read the old
    * row), as one keyed branch commit. */
  def updateBranchWhere(spark: SparkSession, path: String, name: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      keyCols: Seq[String], commitId: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "updateBranchWhere needs at least one SET column")
    val snap = readBranch(spark, path, name)
    set.keys.foreach(c => require(snap.columns.contains(c),
      s"SET column '$c' not in table"))
    val updated = snap.where(cond).select(snap.columns.map(c =>
      set.get(c).map(_.as(c)).getOrElse(col(c))).toIndexedSeq: _*)
    mergeMoRBranch(spark, path, name, updated, keyCols, None, commitId)
  }

  /** DELETE … WHERE on a branch: matching branch-snapshot rows leave
    * the ref's view as one keyed ledger commit (main untouched). */
  def deleteBranchWhere(spark: SparkSession, path: String, name: String,
      cond: org.apache.spark.sql.Column, keyCols: Seq[String],
      commitId: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = readBranch(spark, path, name)
    val doomed = snap.where(cond)
      .withColumn("__graft_del", lit(true))
    mergeMoRBranch(spark, path, name, doomed, keyCols,
      Some(col("__graft_del")), commitId)
  }

  /** Resolve a branch name to its synthetic snapshot id (what
    * `VERSION AS OF '<name>'` reads through). */
  def resolveBranch(path: String, name: String): Option[Long] =
    if (branchDocVersions(path, name).isEmpty) None
    else branchHead(path, name).map(_.bid)

  /** The synthesized manifest behind a branch snapshot id: the parent
    * version's manifest plus every branch commit's files, each commit
    * riding one seq above the last (so branch rows sit ABOVE the
    * parent's MoR delete ledger, exactly as they will after fast
    * forward). Footer stats/rows are harvested once per branch state
    * (cache keyed by the doc's size+mtime), so branch reads prune like
    * any other snapshot. */
  private def branchManifest(path: String, bid: Long): Manifest = {
    val entry = branches(path).find(_._2.bid == bid).getOrElse(
      throw new IllegalStateException(
        s"no branch with snapshot id $bid at $path (dropped or published?)"))
    val (name, b) = entry
    val key = cacheKey(branchDocPath(path, name))
    val hit = branchManifestCache.get(key)
    if (hit != null) return hit
    val parent = manifestAt(path, b.parent)
    val (branchStats, branchRows) = footerHarvest(path, b.files)
    val (delStats, delRows) = footerHarvest(path, b.deleteFiles)
    val m = parent.copy(
      version = bid,
      parent = b.parent,
      files = parent.files ++ b.files,
      seqs = parent.seqs ++ b.commits.zipWithIndex.flatMap {
        case (c, i) => c.files.map(_ -> (parent.version + i + 1)) },
      stats = parent.stats ++ branchStats,
      rows = parent.rows ++ branchRows ++ delRows,
      // branch DML: each commit's delete ledger rides one seq above the
      // last, exactly as it will after fast-forward — parent rows and
      // earlier branch commits with matching keys reconcile away, the
      // commit's own upserts survive (strict dseq > fseq)
      deletes = parent.deletes ++ b.commits.zipWithIndex.flatMap {
        case (c, i) => c.deletes.map(_ -> (parent.version + i + 1)) },
      deleteStats = parent.deleteStats ++ delStats,
      mergeKeys = if (parent.mergeKeys.nonEmpty) parent.mergeKeys else b.keys,
      commitId = Some(s"branch:$name"))
    if (branchManifestCache.size > 4096) branchManifestCache.clear()
    branchManifestCache.put(key, m)
    m
  }

  /** The branch AS A TABLE: parent snapshot + every branch commit,
    * through the one shared read path. This is the audit query's input
    * (same frame `VERSION AS OF '<name>'` serves in SQL). */
  def readBranch(spark: SparkSession, path: String, name: String): DataFrame =
    read(spark, path, Some(resolveBranch(path, name).getOrElse(
      throw new IllegalStateException(s"no branch '$name' at $path"))))

  // branch-as-of snapshots: session-local synthetic ids in their own
  // reserved range — NEGATIVE, because branch bids cover most of the
  // positive space above BranchIdBase — registered at resolve time and
  // served by manifestAt through the one shared read path (stats
  // pruning, MoR reconcile). Ephemeral by design — the id is resolved
  // and read within a session; persisting it would mean persisting a
  // wall-clock query.
  private[sources] val BranchAsOfBase = -1000000000000L
  private val asOfIds = new java.util.concurrent.atomic.AtomicLong(0)
  private val asOfRegistry =
    new java.util.concurrent.ConcurrentHashMap[Long, Manifest]()

  /** Evict the OLDEST branch-as-of snapshots down to 3/4 of `max`,
    * never clear(): a wholesale clear would expire a concurrent
    * reader's snapshot between resolveBranchAsOf and manifestAt
    * mid-query. Ids DESCEND from [[BranchAsOfBase]], so the smallest
    * keys are the newest registrations — those are kept. */
  private[graft] def trimAsOfRegistry(max: Int): Unit =
    if (asOfRegistry.size > max) {
      asOfRegistry.keySet().asScala.toSeq.sorted
        .drop(max * 3 / 4).foreach(asOfRegistry.remove)
    }

  private[graft] def asOfRegistered(id: Long): Boolean =
    asOfRegistry.containsKey(id)

  /** Resolve branch `name` AS OF `tsMillis` on the BRANCH'S OWN commit
    * clock (every branch commit stamps its publish wall time): the
    * parent snapshot plus each branch commit at or before the instant —
    * the wall-clock resolution main-chain consumers already get from
    * `TIMESTAMP AS OF`, extended to refs. Returns a session-local
    * snapshot id readable through the shared path. */
  def resolveBranchAsOf(path: String, name: String, tsMillis: Long): Long = {
    val b = branches(path).getOrElse(name, throw new IllegalStateException(
      s"no branch '$name' at $path"))
    val upTo = b.commits.filter(_.ts <= tsMillis)
    val parent = manifestAt(path, b.parent)
    val (st, rws) = footerHarvest(path, upTo.flatMap(_.files))
    val (dst, drws) = footerHarvest(path, upTo.flatMap(_.deletes))
    val id = BranchAsOfBase - asOfIds.incrementAndGet()
    val m = parent.copy(version = id, parent = b.parent,
      files = parent.files ++ upTo.flatMap(_.files),
      seqs = parent.seqs ++ upTo.zipWithIndex.flatMap { case (c, i) =>
        c.files.map(_ -> (parent.version + i + 1)) },
      stats = parent.stats ++ st, rows = parent.rows ++ rws ++ drws,
      deletes = parent.deletes ++ upTo.zipWithIndex.flatMap { case (c, i) =>
        c.deletes.map(_ -> (parent.version + i + 1)) },
      deleteStats = parent.deleteStats ++ dst,
      mergeKeys = if (parent.mergeKeys.nonEmpty) parent.mergeKeys else b.keys,
      commitId = Some(s"branch:$name@$tsMillis"))
    trimAsOfRegistry(4096)
    asOfRegistry.put(id, m)
    id
  }

  /** The branch as it stood at wall-clock `tsMillis` — [[readBranch]]'s
    * time-travel twin, resolved on the branch's commit clock. */
  def readBranchAsOf(spark: SparkSession, path: String, name: String,
      tsMillis: Long): DataFrame =
    read(spark, path, Some(resolveBranchAsOf(path, name, tsMillis)))

  /** Publish every branch commit onto main in ONE atomic commit and
    * drop the ref — the Iceberg fast-forward: readers see none of the
    * branch or all of it, never a prefix. STRICT: refuses when main
    * moved past the fork point (the audit validated the chain against
    * that exact base — [[rebaseBranch]] to re-point and re-audit).
    * Idempotent: a crash between the commit and the ref removal
    * replays to the same version via the file-set-fingerprint commit
    * id. Returns the published main version. */
  def fastForward(path: String, name: String): Long = {
    var b = branches(path).getOrElse(name, throw new IllegalStateException(
      s"no branch '$name' at $path"))
    require(b.commits.nonEmpty || b.isSealed,
      s"branch '$name' has no commits to publish - DROP it instead")
    def ffId(st: BranchState): String = {
      // delete-ledger files join the fingerprint with a marker prefix so
      // a DML branch and an append branch over the same data files can
      // never replay to each other's commit; pure-append branches keep
      // the historical digest (crash-replay compatibility)
      val parts = st.files.sorted ++ st.deleteFiles.sorted.map("D:" + _)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(parts.mkString(",").getBytes("UTF-8"))
        .take(8).map(x => f"$x%02x").mkString
      s"branch:$name:$digest"
    }
    def landed(id: String): Option[Long] =
      versions(path).map(manifestAt(path, _))
        .find(_.commitId.contains(id)).map(_.version)
    // UNSEAL the ref through the slot chain (recovery from a refused or
    // contended publish); Some(v) when a concurrent fast-forward landed
    // meanwhile — that version IS the answer and the ref is consumed.
    def unsealRef(cur0: BranchState): Option[Long] = {
      var unsealAttempts = 0
      var cur = cur0
      while (cur.isSealed) {
        unsealAttempts += 1
        require(unsealAttempts <= 64, s"branch contention unsealing " +
          s"'$name': gave up after $unsealAttempts attempts")
        landed(ffId(cur)).foreach { v =>
          removeBranchRef(path, name); return Some(v) }
        val uks = branchDocVersions(path, name)
        require(uks.nonEmpty,
          s"no branch '$name' at $path - dropped mid-publish")
        cur = branchHead(path, name).get
        if (cur.isSealed) {
          val doc =
            branchRefDir(path, name).resolve(f"b${uks.last + 1}%08d.json")
          try { publish(doc, renderBranchDoc(cur.copy(isSealed = false)))
                cur = cur.copy(isSealed = false) }
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        }
      }
      None
    }
    // crash replay FIRST (before strictness or sealing): a leftover ref —
    // sealed by the new publish flow or unsealed from an older one —
    // whose commit already landed resolves idempotently to that version
    landed(ffId(b)).foreach { v => removeBranchRef(path, name); return v }
    // strictness BEFORE the seal: a branch whose base main outran must
    // refuse WITHOUT sealing, or the refusal would leave a ref that can
    // neither append nor rebase. (A sealed ref skips this: it is either
    // a crash replay — resolved below post-seal — or mid-publish.)
    if (!b.isSealed) {
      val head0 = latestVersion(path)
      require(head0 == b.parent,
        s"main moved since branch '$name' forked (v${b.parent} -> " +
          s"v$head0): rebaseBranch + re-audit, or DROP the branch")
    }
    // SEAL before consuming: the ref is about to be snapshotted, committed
    // to main, and deleted. An appendBranch racing that window would
    // publish a doc slot our snapshot never saw and removeBranchRef would
    // erase it — success returned, rows gone, staged files orphaned. The
    // seal is a doc at the NEXT slot through the same create-exclusive
    // chain, so the race is decided by the filesystem: either the appender
    // wins the slot (we re-read and seal over its commit, including it in
    // the publish) or we win and the appender fails loudly.
    var attempts = 0
    while (!b.isSealed) {
      attempts += 1
      require(attempts <= 64,
        s"branch contention sealing '$name': gave up after $attempts attempts")
      val ks = branchDocVersions(path, name)
      require(ks.nonEmpty, s"no branch '$name' at $path - dropped mid-publish")
      b = branchHead(path, name).get
      if (!b.isSealed) {
        val doc = branchRefDir(path, name).resolve(f"b${ks.last + 1}%08d.json")
        try { publish(doc, renderBranchDoc(b.copy(isSealed = true)))
              b = b.copy(isSealed = true) }
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
    }
    require(b.commits.nonEmpty,
      s"branch '$name' has no commits to publish - DROP it instead")
    val files = b.files
    val id = ffId(b)
    // crash replay, post-seal state: the commit landed but the ref
    // survived (the seal may have folded in commits the pre-seal check
    // never saw, so the id is recomputed)
    landed(id).foreach { v => removeBranchRef(path, name); return v }
    val head = latestVersion(path)
    if (head != b.parent) {
      // main moved inside the seal window: UNSEAL before refusing, or
      // the ref is stuck — appendBranch and rebaseBranch both refuse
      // sealed refs and every fastForward retry re-fails this same
      // check, leaving the commits recoverable only by DROP. The unseal
      // rides the same create-exclusive slot chain as the seal; losing
      // a slot race re-reads (a concurrent fastForward may have
      // published meanwhile — then ITS landed commit is the answer).
      unsealRef(b).foreach(v => return v)
      throw new IllegalStateException(
        s"main moved since branch '$name' forked (v${b.parent} -> " +
          s"v$head) during the fast-forward seal window; the ref has " +
          "been unsealed - rebaseBranch + re-audit, or DROP the branch")
    }
    if (b.deleteFiles.nonEmpty) {
      // DML branch: the ledger's seqs are computed against the parent
      // chain, and a racing commit's files could land BELOW a branch
      // delete seq — an append-style rebase would be UNSOUND here, so
      // the claim is STRICT: exactly the parent's successor, each branch
      // commit at its own seq, or unseal + refuse.
      val parentM = manifestAt(path, b.parent)
      val (st, rws) = footerHarvest(path, files)
      val (dst, drws) = footerHarvest(path, b.deleteFiles)
      def bySeq(of: BranchCommit => Seq[String]) =
        b.commits.zipWithIndex.flatMap { case (c, i) =>
          of(c).map(_ -> (b.parent + i + 1)) }
      val v = try claim(path, Some(parentM), Change(added = files,
          seqs = bySeq(_.files).toMap, stats = st, rows = rws ++ drws,
          deletes = bySeq(_.deletes), deleteStats = dst,
          mergeKeys = if (parentM.mergeKeys.nonEmpty) None else Some(b.keys),
          commitId = Some(id)), Rebase.Strict)
      catch {
        case _: CommitConflict =>
          landed(id).foreach { v => removeBranchRef(path, name); return v }
          unsealRef(b).foreach(v => return v)
          throw new IllegalStateException(
            s"main moved during the fast-forward publish of DML branch " +
              s"'$name' at $path; the ref has been unsealed - re-audit " +
              "(rebase is refused for keyed-DML branches), or DROP it")
      }
      removeBranchRef(path, name)
      return v
    }
    // (commit() fires beforePublishHook in the sealed-not-yet-committed
    // window — the race-injection seam BranchSpec's seal test drives)
    // branch appends validated in-scan against the parent-era contract
    // (strictness pins head == parent, so no other contract can apply);
    // a contract commit racing THIS window re-validates inside commit()
    val v = commit(path, files, replace = false, Some(id),
      stagedUnder = Some(manifestAt(path, b.parent)))
    removeBranchRef(path, name)
    v
  }

  /** Remove a ref's whole doc chain (publish/abort resolution). A
    * concurrent reader listing mid-removal sees a dir with no docs =
    * no branch ([[branches]]/[[branchHead]] tolerate that). */
  private def removeBranchRef(path: String, name: String): Unit = {
    val d = branchRefDir(path, name)
    if (!Files.isDirectory(d)) return
    Using.resource(Files.list(d))(
      _.iterator().asScala.toSeq).foreach(Files.deleteIfExists(_))
    Files.deleteIfExists(d)
  }

  /** Re-point a branch's fork base at the current head. Sound for
    * append-shaped branches (the staged files are base-independent);
    * the audit contract is the caller's: branch reads now include
    * everything main gained since the old base, so re-audit before
    * fast-forwarding. Returns the new parent version. */
  def rebaseBranch(path: String, name: String): Long = {
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      val ks = branchDocVersions(path, name)
      require(ks.nonEmpty, s"no branch '$name' at $path")
      val b = branchHead(path, name).get
      if (b.isSealed) throw new IllegalStateException(
        s"branch '$name' at $path is sealed for fast-forward - cannot rebase")
      if (b.deleteFiles.nonEmpty) throw new IllegalStateException(
        s"branch '$name' at $path carries keyed DML commits - a rebase " +
          "would re-aim its delete ledger at rows the audit never saw " +
          "(sound only for append-shaped branches); re-stage the " +
          "correction on a fresh branch, or DROP this one")
      val head = latestVersion(path)
      val doc = branchRefDir(path, name).resolve(f"b${ks.last + 1}%08d.json")
      try {
        publish(doc, renderBranchDoc(b.copy(parent = head)))
        return head
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => () // retry on top
      }
    }
    throw new IllegalStateException(s"branch contention on '$name' rebase")
  }

  /** Drop branch `name` unpublished. Its staged files become orphans;
    * the age-gated [[vacuum]] reclaims them. Returns the released
    * file names. */
  def dropBranch(path: String, name: String): Seq[String] = {
    val b = branchHead(path, name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' at $path"))
    removeBranchRef(path, name)
    b.files ++ b.deleteFiles
  }

  /** Files referenced by live branch refs — retained by [[vacuum]] and
    * the previews exactly like WAP docs and clone breadcrumbs (and,
    * like them, loud on an unreadable ref: [[branches]] throws). */
  private def branchRetained(path: String): Set[String] =
    branches(path).values.flatMap(b => b.files ++ b.deleteFiles).toSet

  /** Main versions pinned by branch fork points — retention never
    * expires a version a live branch still reads through. */
  private def branchPinned(path: String): Set[Long] =
    branches(path).values.map(_.parent).toSet

  def vacuum(path: String, minAgeMs: Long = 3600000L,
      ignoreClones: Boolean = false): Seq[String] = {
    // delete files are manifest-referenced state exactly like data files;
    // files REGISTERED CLONES still reference are live too (the shallow-
    // clone safety contract — see cloneShallow), unless explicitly forced
    val live = versions(path).map(manifestAt(path, _))
      .flatMap(m => m.files ++ m.deletes.map(_._1)).toSet ++
      (if (ignoreClones) Set.empty[String] else cloneRetained(path)) ++
      wapRetained(path) ++ // staged-unpublished batches stay readable
      branchRetained(path) // live branch refs stay readable
    if (!Files.isDirectory(dataDir(path))) return Seq.empty
    val cutoff = System.currentTimeMillis() - minAgeMs
    val orphans = Using.resource(Files.list(dataDir(path))) { st =>
      st.iterator().asScala
        .filter(p => !live.contains(p.getFileName.toString))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .toSeq
    }
    orphans.foreach(Files.delete)
    // Bloom/trigram sidecars are keyed by data-file name: drop the ones
    // whose file just died (or died in an earlier vacuum)
    BloomIndex.vacuum(path)
    TrigramIndex.vacuum(path)
    // change-data files are keyed by VERSION: once a version's manifest
    // expired it can never be planned by the change feed again — sweep
    // its CDF (and any aged-out crashed materialization stage) under
    // the same age guard
    val cdfDir = Paths.get(path, "_change_data")
    val liveVersions = versions(path).toSet
    val cdfOrphans =
      if (!Files.isDirectory(cdfDir)) Seq.empty[Path]
      else Using.resource(Files.list(cdfDir)) { st =>
        st.iterator().asScala.filter { p =>
          val nm = p.getFileName.toString
          val expired = nm.startsWith("v") && nm.endsWith(".parquet") &&
            nm.stripPrefix("v").stripSuffix(".parquet").toLongOption
              .exists(v => !liveVersions.contains(v))
          (expired || nm.startsWith(".cdf-stage-")) &&
            Files.getLastModifiedTime(p).toMillis <= cutoff
        }.toSeq
      }
    cdfOrphans.foreach { p =>
      if (Files.isDirectory(p))
        Using.resource(Files.walk(p)) { st =>
          st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        }
      else Files.deleteIfExists(p)
    }
    // segment files referenced by NO retained manifest (their versions
    // expired, their segments dissolved, or their commit lost the race)
    // — same age guard: an in-flight commit writes its segment before
    // publishing the manifest that references it
    val segOrphans =
      if (!Files.isDirectory(manifestDir(path))) Seq.empty[Path]
      else {
        val referenced = versions(path)
          .flatMap(v => layoutOf(path, v)).map(_._1).toSet
        Using.resource(Files.list(manifestDir(path))) { st =>
          st.iterator().asScala.filter { p =>
            val nm = p.getFileName.toString
            nm.startsWith("seg-") && nm.endsWith(".json") &&
              !referenced.contains(
                nm.stripPrefix("seg-").stripSuffix(".json")) &&
              Files.getLastModifiedTime(p).toMillis <= cutoff
          }.toSeq
        }
      }
    segOrphans.foreach { p =>
      segCache.remove(p.toAbsolutePath.toString)
      Files.delete(p)
    }
    (orphans ++ cdfOrphans ++ segOrphans).map(_.getFileName.toString)
  }
}
