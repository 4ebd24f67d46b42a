package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.conditions.{Condition, Op}

/** DataSource V2 CATALOG over manifest tables — the `spark.sql`-native
  * front door (the reference exposes its warehouses by NAME through a
  * config registry, core/storing/naming.py:24; here the same naming is
  * a first-class Spark catalog):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/wh")
  *   spark.sql("CREATE TABLE graft.crm.orders (k BIGINT, v STRING)")
  *   spark.sql("INSERT INTO graft.crm.orders SELECT ...")
  *   spark.sql("SELECT * FROM graft.crm.orders VERSION AS OF 3 WHERE k = 7")
  * }}}
  *
  * Identifiers map to paths (`<warehouse>/<ns...>/<name>`), so every
  * table remains readable by the path API (`ManifestTable.read`) and
  * the `graft_table` TVF — one format, three doors.
  *
  * Reads plan as [[ManifestTable.readWhere]]'s own plan: the scan
  * ([[GraftScan]]) collects the pushed predicates and columns, and at
  * physical planning [[graft.plans.GraftReadStrategy]] inlines the
  * optimized read plan in its place — manifest min/max FILE SKIPPING,
  * per-file-scoped MoR delete reconciliation, and merged-footer schema
  * evolution apply to SQL identically to the DataFrame API, as one
  * Spark plan over the parquet files. Pushed filters are also kept as
  * Spark-side residuals, so pruning can only ever skip whole
  * provably-dead files, never change results. The scan reports LIVE
  * row/byte statistics (manifest row counts minus scoped delete
  * bounds, scaled to the pruned column set) and ANALYZE column
  * statistics, so join planning and CBO see through both pruning and a
  * delete ledger — a post-delete table broadcasts when its live size
  * says it should, where raw file-size estimation would shuffle.
  *
  * Writes implement [[V1Write]]: `INSERT INTO` → [[ManifestTable.append]],
  * `INSERT OVERWRITE` → [[ManifestTable.overwrite]] — the same staged
  * commit protocol as every other writer, so SQL inserts inherit CHECK
  * constraints, generated columns, stats harvest, and optimistic
  * version locking; SQL and API writers can race the same table safely.
  *
  * Time travel uses Spark's native syntax: `VERSION AS OF n` resolves
  * an exact version, `TIMESTAMP AS OF t` resolves [[ManifestTable
  * .versionAt]] (micros from Spark, at-or-before semantics). Version
  * reads are snapshots — writes through a time-travel relation are
  * rejected.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  // ── FunctionCatalog: the bucket transform's identity ──────────────
  // Storage-partitioned joins over bucket layouts need BOTH scans'
  // bucket transforms to resolve to the SAME bound function (Spark
  // compares TransformExpressions by the bound function's canonical
  // name) — the catalog serves it, exactly Iceberg's model.
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] = {
    if (!(namespace.isEmpty || namespaceExists(namespace)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name.toLowerCase(java.util.Locale.ROOT) match {
      case "bucket" => GraftBucketFunction
      case other => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = Paths.get(wh)
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  // ─────────────────────────── layout ───────────────────────────

  private def checkSegment(s: String): String = {
    require(s.nonEmpty && s != "." && s != ".." && !s.contains("/") &&
      !s.startsWith("_") && !s.startsWith("."),
      s"illegal identifier segment '$s'")
    s
  }

  private def tableDir(ident: Identifier): Path =
    (ident.namespace.toSeq :+ ident.name)
      .foldLeft(warehouse)((p, s) => p.resolve(checkSegment(s)))

  /** Identifier → table path, for maintenance commands (SQL OPTIMIZE /
    * VACUUM) that resolve a catalog name to the manifest API's path. */
  def pathOf(ident: Identifier): String = {
    if (!isTable(tableDir(ident))) throw new NoSuchTableException(ident)
    tableDir(ident).toString
  }

  /** The directory a not-yet-created table would live at — the SQL
    * SHALLOW CLONE door resolves its TARGET through this. */
  def newTablePath(ident: Identifier): String = {
    val dir = tableDir(ident)
    require(!isTable(dir), s"table $ident already exists")
    dir.toString
  }

  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, s) => p.resolve(checkSegment(s)))

  /** A table dir is marked by a manifest log or a CREATE-time schema —
    * any other directory is namespace space. */
  private def isTable(dir: Path): Boolean =
    Files.isDirectory(dir.resolve("_manifests")) ||
      Files.isRegularFile(dir.resolve(GraftCatalog.SchemaFile))

  override def tableExists(ident: Identifier): Boolean = isTable(tableDir(ident))

  // ─────────────────────────── tables ───────────────────────────

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .filter(p => Files.isDirectory(p) && isTable(p))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray.sortBy(_.name)
    }
  }

  override def loadTable(ident: Identifier): Table = {
    // BRANCH session door, plain reads: with `spark.graft.branch` set,
    // a table that HAS the named ref resolves to the ref's snapshot —
    // Iceberg's wap.branch semantics (see-your-own-writes for the
    // staged-correction session); tables without the ref, and every
    // conf-free session, read main exactly as before. Writes stay legal
    // on the branch snapshot: the write doors route them onto the ref.
    val snap = org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.branch")).map(_.trim)
      .filter(_.nonEmpty)
      .flatMap(b => ManifestTable.resolveBranch(tableDir(ident).toString, b))
    loadAt(ident, snap)
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    // `VERSION AS OF 3` reads a literal version; `VERSION AS OF 'name'`
    // resolves a named ref — a tag (Iceberg's immutable pins:
    // `training-set-v2` names the exact snapshot a model was trained
    // on) or a BRANCH (the ref's synthetic snapshot id: fork point plus
    // every branch commit, stats-pruned like any other version)
    val path = tableDir(ident).toString
    val v = version.toLongOption
      .orElse(ManifestTable.resolveTag(path, version))
      .orElse(ManifestTable.resolveBranch(path, version))
      .getOrElse(throw new IllegalArgumentException(
        s"'$version' is neither a version number, a tag, nor a branch " +
          s"of ${ident.name} (tags: ${ManifestTable.tags(path)
            .keys.toSeq.sorted.mkString(", ")}; branches: ${ManifestTable
            .branches(path).keys.toSeq.sorted.mkString(", ")})"))
    loadAt(ident, Some(v))
  }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = tableDir(ident).toString
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // BRANCH session door, read side: with `spark.graft.branch` set,
    // `TIMESTAMP AS OF` resolves on the BRANCH's own commit clock (the
    // parent snapshot plus every branch commit at or before the instant)
    // — wall-clock time travel for ref consumers, not just version
    // ordinals. Main-chain resolution is untouched when the conf is off.
    val branch = org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.graft.branch").map(_.trim).filter(_.nonEmpty)
    val v = branch match {
      case Some(b) =>
        ManifestTable.resolveBranchAsOf(path, b, timestampMicros / 1000L)
      case None => ManifestTable.versionAt(path, timestampMicros / 1000L)
    }
    loadAt(ident, Some(v))
  }

  private def loadAt(ident: Identifier, version: Option[Long]): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val path = dir.toString
    val schema = GraftCatalog.fullSchema(dir, version).getOrElse(
      throw new NoSuchTableException(ident))
    // merge keys make the table row-level-operable (SQL UPDATE / MERGE
    // INTO / arbitrary-predicate DELETE): manifest metadata wins, the
    // CREATE-time `merge.keys` property covers the not-yet-keyed table
    val keys = ManifestTable.tableMergeKeys(path) match {
      case ks if ks.nonEmpty => ks
      case _ => GraftCatalog.readDeclaredKeys(dir)
    }
    val layout = GraftCatalog.readDeclaredLayout(dir)
    val parts = layout.collect { case GraftCatalog.IdentityPart(c) => c }
    // identity layouts additionally expose SHOW PARTITIONS (read-only
    // partition listing, derived from data — never materialized dirs)
    val listable = parts.nonEmpty &&
      layout.forall(_.isInstanceOf[GraftCatalog.IdentityPart])
    if (keys.nonEmpty && keys.forall(schema.fieldNames.contains)) {
      // Spark rejects nullable row-id attributes, and a merge key IS
      // non-null by the keyed-table contract — declare it
      val keyed = StructType(schema.map(f =>
        if (keys.contains(f.name)) f.copy(nullable = false) else f))
      if (listable)
        new GraftKeyedSqlTable(ident.toString, path, version, keyed, keys,
          parts) with GraftPartitionListing
      else new GraftKeyedSqlTable(ident.toString, path, version, keyed, keys,
        parts)
    } else if (listable)
      new GraftSqlTable(ident.toString, path, version, schema, parts)
        with GraftPartitionListing
    else new GraftSqlTable(ident.toString, path, version, schema, parts)
  }

  // CREATE-time capabilities the analyzer gates on: generated columns
  // in the column list and table constraints (CHECK / PRIMARY KEY) in
  // the DDL — both land as the same table metadata the API surface
  // writes (ManifestTable generated/constraints, merge.keys)
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    createImpl(ident, schema, partitions, properties, Seq.empty, Seq.empty,
      Seq.empty)

  /** `CREATE TABLE` with the FULL column/constraint DDL: `GENERATED
    * ALWAYS AS (expr)` columns become the manifest's generated-column
    * metadata (every write computes absent ones, validates supplied
    * ones), `CONSTRAINT … CHECK (expr)` becomes the CHECK-constraint
    * set (enforced in-scan on every commit), and `PRIMARY KEY (cols)`
    * declares the merge keys (the table is row-level-operable at
    * birth — graft's key semantics: merges upsert by key). DEFAULT
    * values and declared IDENTITY columns are refused loudly (the
    * format carries neither; [[ManifestTable.appendIdentity]] covers
    * identity on the write side). */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val gens = info.columns.toSeq.flatMap { c =>
      require(c.defaultValue == null,
        s"DEFAULT values are not supported (column '${c.name}')")
      require(c.identityColumnSpec == null,
        s"declared IDENTITY columns are not supported (column '${c.name}'; " +
          "ManifestTable.appendIdentity covers write-side identity)")
      Option(c.generationExpression).map(e => c.name -> e)
    }
    var checks = Seq.empty[String]
    var pk = Seq.empty[String]
    info.constraints.foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced,
          s"NOT ENFORCED constraints are refused (graft enforces in-scan): ${c.toDDL}")
        checks :+= c.predicateSql
      case p: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey =>
        require(pk.isEmpty, "at most one PRIMARY KEY")
        pk = p.columns.toSeq.map(_.fieldNames.mkString("."))
      case other => throw new UnsupportedOperationException(
        s"unsupported constraint '${other.toDDL}' (CHECK and PRIMARY KEY only)")
    }
    createImpl(ident, info.schema, info.partitions, info.properties,
      gens, checks, pk)
  }

  private def createImpl(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String],
      gens: Seq[(String, String)], checks: Seq[String],
      pk: Seq[String]): Table = {
    val layout = GraftCatalog.declaredLayout(partitions, schema)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // validate EVERYTHING before the first byte lands: a refused
    // declaration must leave no half-created table directory behind
    val GraftCatalog.DeclaredProps(propKeys, zorder, propChecks, codec) =
      GraftCatalog.declaredProps(properties, schema, layout)
    // TBLPROPERTIES('merge.keys'='a,b') keys the table at birth, so SQL
    // UPDATE/MERGE work before any API merge has declared identity;
    // PRIMARY KEY (cols) is the same declaration in standard DDL
    require(propKeys.isEmpty || pk.isEmpty || propKeys == pk,
      s"merge.keys ${propKeys.mkString(",")} conflicts with PRIMARY KEY ${pk.mkString(",")}")
    val ks = if (pk.nonEmpty) pk else propKeys
    require(ks.forall(schema.fieldNames.contains),
      s"merge keys ${ks.mkString(",")} must name columns of the table schema")
    require(gens.forall { case (n, _) => schema.fieldNames.contains(n) },
      "generated columns must name columns of the table schema")
    val dir = tableDir(ident)
    Files.createDirectories(dir)
    if (layout.nonEmpty)
      Files.writeString(dir.resolve(GraftCatalog.PartsFile),
        GraftCatalog.encodeLayout(layout))
    Files.write(dir.resolve(GraftCatalog.SchemaFile),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (gens.nonEmpty)
      GraftCatalog.writeDeclaredGenerated(dir, gens)
    // .distinct: DDL that carries a constraint BOTH as a CONSTRAINT
    // clause and as a check.* property (Spark's own SHOW CREATE TABLE
    // rendering does) declares it once, not twice
    if (checks.nonEmpty || propChecks.nonEmpty)
      GraftCatalog.writeDeclaredConstraints(dir, (checks ++ propChecks).distinct)
    if (zorder.nonEmpty)
      Files.writeString(dir.resolve(GraftCatalog.ZOrderFile),
        zorder.mkString(","))
    codec.foreach(c =>
      Files.writeString(dir.resolve(GraftCatalog.CompressionFile), c))
    if (ks.nonEmpty)
      Files.writeString(dir.resolve(GraftCatalog.KeysFile), ks.mkString(","))
    loadTable(ident)
  }

  // ────────────────── atomic CTAS / RTAS (staging) ──────────────────
  //
  // CREATE/REPLACE TABLE AS SELECT stage their data files invisibly
  // (written into the table's data dir but referenced by no manifest)
  // and become real in ONE commit at commitStagedChanges — a failed or
  // aborted RTAS leaves the old table byte-identical, a failed CTAS
  // leaves no table. The non-atomic create-then-write-then-drop
  // fallback Spark uses on plain TableCatalogs never runs here.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stageImpl(ident, schema, partitions, properties, created = true)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stageImpl(ident, schema, partitions, properties, created = false)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    stageImpl(ident, schema, partitions, properties,
      created = !tableExists(ident))

  // the TableInfo staging variants carry CONSTRAINTS — the default
  // interface methods silently drop them, so a constrained CTAS/RTAS
  // must land here (CHECK / PRIMARY KEY, same mapping as createTable)
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stageInfo(ident, info, created = true)
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stageInfo(ident, info, created = false)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable =
    stageInfo(ident, info, created = !tableExists(ident))

  private def stageInfo(ident: Identifier, info: TableInfo,
      created: Boolean): StagedTable = {
    require(info.columns.forall(c =>
      c.defaultValue == null && c.identityColumnSpec == null &&
        c.generationExpression == null),
      "CTAS/RTAS columns take no DEFAULT/IDENTITY/GENERATED metadata")
    var checks = Seq.empty[String]
    var pk = Seq.empty[String]
    info.constraints.foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced,
          s"NOT ENFORCED constraints are refused (graft enforces in-scan): ${c.toDDL}")
        checks :+= c.predicateSql
      case p: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey =>
        require(pk.isEmpty, "at most one PRIMARY KEY")
        pk = p.columns.toSeq.map(_.fieldNames.mkString("."))
      case other => throw new UnsupportedOperationException(
        s"unsupported constraint '${other.toDDL}' (CHECK and PRIMARY KEY only)")
    }
    stageImpl(ident, info.schema, info.partitions, info.properties, created,
      checks, pk)
  }

  private def stageImpl(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String],
      created: Boolean,
      checks: Seq[String] = Seq.empty,
      pk: Seq[String] = Seq.empty): StagedTable = {
    val stagedLayout = GraftCatalog.declaredLayout(partitions, schema)
    val parts = stagedLayout.collect { case GraftCatalog.IdentityPart(c) => c }
    val GraftCatalog.DeclaredProps(propKeys, zorder, propChecks, codec) =
      GraftCatalog.declaredProps(properties, schema, stagedLayout)
    require(propKeys.isEmpty || pk.isEmpty || propKeys == pk,
      s"merge.keys ${propKeys.mkString(",")} conflicts with PRIMARY KEY ${pk.mkString(",")}")
    val keys = if (pk.nonEmpty) pk else propKeys
    require(keys.forall(schema.fieldNames.contains),
      s"merge.keys must name columns of the table schema")
    val dir = tableDir(ident)
    Files.createDirectories(dir)
    new GraftStagedTable(ident.toString, dir, schema, keys, created, parts,
      (checks ++ propChecks).distinct, stagedLayout.collectFirst {
        case GraftCatalog.BucketPart(n, c) => (n, c) }, zorder, codec)
  }

  /** `ALTER TABLE` over manifest metadata: ADD COLUMN extends the
    * declared schema (existing files null-fill on read — the same
    * mergeSchema semantics write-side evolution already has), `SET
    * TBLPROPERTIES('merge.keys'=…)` keys an unkeyed table, and
    * `('check.<name>'='<expr>')` lands a CHECK-constraint commit
    * (existing rows validated, the ALTER TABLE ADD CONSTRAINT model).
    * Renames/drops/retypes need column-mapping metadata the format does
    * not carry — refused loudly, never faked. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val path = dir.toString
    changes.foreach {
      case sp: TableChange.SetProperty if sp.property == "merge.keys" =>
        val ks = sp.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val schema = GraftCatalog.fullSchema(dir, None).get
        require(ks.nonEmpty && ks.forall(schema.fieldNames.contains),
          s"merge.keys '${sp.value}' must name columns of the table schema")
        val cur = ManifestTable.tableMergeKeys(path)
        require(cur.isEmpty || cur == ks,
          s"table is already keyed on ${cur.mkString("(", ",", ")")}")
        Files.writeString(dir.resolve(GraftCatalog.KeysFile), ks.mkString(","))
      case sp: TableChange.SetProperty if sp.property.startsWith("check.") =>
        ManifestTable.setConstraints(SparkSession.active, path,
          ManifestTable.constraints(path) :+ sp.value)
      case sp: TableChange.SetProperty if sp.property == "write.compression" =>
        val c = sp.value.trim.toLowerCase(java.util.Locale.ROOT)
        require(GraftCatalog.Codecs(c),
          s"unsupported write.compression '${sp.value}' " +
            s"(supported: ${GraftCatalog.Codecs.toSeq.sorted.mkString(", ")})")
        // metadata-only: files written from now on use the codec;
        // existing files stay as-written (parquet is self-describing)
        // until an OPTIMIZE rewrite converges them
        Files.writeString(dir.resolve(GraftCatalog.CompressionFile), c)
      case sp: TableChange.SetProperty if sp.property == "zorder.cols" =>
        val zs = sp.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val schema = GraftCatalog.fullSchema(dir, None).get
        require(zs.nonEmpty && zs.forall(schema.fieldNames.contains),
          s"zorder.cols '${sp.value}' must name columns of the table schema")
        require(GraftCatalog.readDeclaredLayout(dir).isEmpty,
          "zorder.cols and PARTITIONED BY are mutually exclusive " +
            "(a z-order rewrite would smear the partition ranges)")
        Files.writeString(dir.resolve(GraftCatalog.ZOrderFile), zs.mkString(","))
      case sp: TableChange.SetProperty =>
        throw new UnsupportedOperationException(
          s"unsupported table property '${sp.property}' " +
            "(supported: merge.keys, zorder.cols, write.compression, check.<name>)")
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames.length == 1,
          "ADD COLUMN supports top-level columns only")
        require(ac.isNullable,
          "ADD COLUMN must be nullable: existing rows null-fill")
        require(ac.position == null && ac.defaultValue == null,
          "ADD COLUMN takes no FIRST/AFTER position and no DEFAULT")
        val name = ac.fieldNames.head
        val cur = GraftCatalog.fullSchema(dir, None).getOrElse(
          throw new NoSuchTableException(ident))
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column '$name' already exists")
        // frozen-name invariant: a renamed-away or dropped physical name
        // may never return as a new column, or hidden bytes resurface
        require(!ManifestTable.reservedPhysicalNames(SparkSession.active, path)
            .exists(_.equalsIgnoreCase(name)),
          s"column name '$name' is frozen by column mapping " +
            "(a renamed or dropped column's physical name)")
        Files.write(dir.resolve(GraftCatalog.SchemaFile),
          cur.add(StructField(name, ac.dataType, nullable = true)).json
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // RENAME / DROP COLUMN: metadata-only commits via the manifest's
      // column mapping (frozen physical names). Partition-layout columns
      // are immutable — the declared layout is a physical contract.
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames.length == 1,
          "RENAME COLUMN supports top-level columns only")
        val from = rc.fieldNames.head
        val to = rc.newName
        require(!GraftCatalog.readDeclaredLayout(dir).map(_.col)
            .exists(_.equalsIgnoreCase(from)),
          s"cannot rename partition column '$from' (declared layout)")
        val cur = GraftCatalog.fullSchema(dir, None).getOrElse(
          throw new NoSuchTableException(ident))
        require(cur.fieldNames.contains(from), s"no column '$from'")
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column '$to' already exists")
        val dataBacked = ManifestTable.versions(path).nonEmpty &&
          ManifestTable.schemaAt(SparkSession.active, path)
            .fieldNames.contains(from)
        if (dataBacked)
          ManifestTable.renameColumn(SparkSession.active, path, from, to)
        // keep the CREATE-time DDL view in sync wherever it names the
        // column (fullSchema merges it; a stale entry would re-add a
        // phantom column under the old name)
        GraftCatalog.readDdlSchema(dir).foreach { s =>
          if (s.fieldNames.contains(from))
            Files.write(dir.resolve(GraftCatalog.SchemaFile),
              StructType(s.map(f =>
                if (f.name == from) f.copy(name = to) else f)).json
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "DROP COLUMN supports top-level columns only")
        val name = dc.fieldNames.head
        require(!GraftCatalog.readDeclaredLayout(dir).map(_.col)
            .exists(_.equalsIgnoreCase(name)),
          s"cannot drop partition column '$name' (declared layout)")
        val cur = GraftCatalog.fullSchema(dir, None).getOrElse(
          throw new NoSuchTableException(ident))
        require(cur.fieldNames.contains(name), s"no column '$name'")
        require(cur.fields.length > 1, "cannot drop a table's only column")
        val dataBacked = ManifestTable.versions(path).nonEmpty &&
          ManifestTable.schemaAt(SparkSession.active, path)
            .fieldNames.contains(name)
        if (dataBacked)
          ManifestTable.dropColumn(SparkSession.active, path, name)
        GraftCatalog.readDdlSchema(dir).foreach { s =>
          if (s.fieldNames.contains(name))
            Files.write(dir.resolve(GraftCatalog.SchemaFile),
              StructType(s.filterNot(_.name == name)).json
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      // ALTER TABLE ADD CONSTRAINT — standard DDL for what check.*
      // properties already do: existing rows validate first, then the
      // constraint set commits (CHECK) or the table keys (PRIMARY KEY)
      case acs: TableChange.AddConstraint => acs.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          require(c.enforced,
            s"NOT ENFORCED constraints are refused (graft enforces in-scan): ${c.toDDL}")
          if (ManifestTable.versions(path).nonEmpty)
            ManifestTable.setConstraints(SparkSession.active, path,
              ManifestTable.constraints(path) :+ c.predicateSql)
          else GraftCatalog.writeDeclaredConstraints(dir,
            GraftCatalog.readDeclaredConstraints(dir) :+ c.predicateSql)
        case p: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey =>
          val ks = p.columns.toSeq.map(_.fieldNames.mkString("."))
          val schema = GraftCatalog.fullSchema(dir, None).get
          require(ks.nonEmpty && ks.forall(schema.fieldNames.contains),
            s"PRIMARY KEY ${ks.mkString(",")} must name columns of the table schema")
          val curKeys = ManifestTable.tableMergeKeys(path)
          require(curKeys.isEmpty || curKeys == ks,
            s"table is already keyed on ${curKeys.mkString("(", ",", ")")}")
          Files.writeString(dir.resolve(GraftCatalog.KeysFile), ks.mkString(","))
        case other => throw new UnsupportedOperationException(
          s"unsupported constraint '${other.toDDL}' (CHECK and PRIMARY KEY only)")
      }
      case _: TableChange.DropConstraint =>
        throw new UnsupportedOperationException(
          "constraints are not name-addressed on this format; replace the " +
            "set with SET TBLPROPERTIES('check.<name>'=…) / setConstraints")
      // METADATA-ONLY TYPE WIDENING: record the wide type, rewrite
      // nothing — scans upcast narrower physical values per file
      case uc: TableChange.UpdateColumnType =>
        require(uc.fieldNames.length == 1,
          "ALTER COLUMN TYPE supports top-level columns only")
        GraftCatalog.widenColumnAt(dir, uc.fieldNames.head, uc.newDataType)
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change ${other.getClass.getSimpleName}")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) return false
    // a dropped table may be an MV (or a registered MV's base) —
    // dangling rewrite registrations would redirect onto deleted files
    graft.plans.MvRewrite.purgeForPath(dir.toString)
    deleteTree(dir)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    graft.plans.MvRewrite.purgeForPath(tableDir(oldIdent).toString)
    val to = tableDir(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(tableDir(oldIdent), to)
  }

  private def deleteTree(dir: Path): Unit =
    Using.resource(Files.walk(dir)) { st =>
      st.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
    }

  // ───────────────────────── namespaces ─────────────────────────

  override def listNamespaces(): Array[Array[String]] =
    Using.resource(Files.list(warehouse)) { st =>
      st.iterator().asScala
        .filter(p => Files.isDirectory(p) && !isTable(p) &&
          !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_"))
        .map(p => Array(p.getFileName.toString))
        .toArray.sortBy(_.head)
    }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = nsDir(namespace)
      Files.isDirectory(dir) && !isTable(dir)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsDir(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    val dir = nsDir(namespace)
    val empty = Using.resource(Files.list(dir))(!_.iterator().hasNext)
    if (!empty && !cascade) throw new NonEmptyNamespaceException(namespace)
    deleteTree(dir)
    true
  }
}

object GraftCatalog {
  private[graft] val SchemaFile = "_schema.json"
  private[graft] val KeysFile = "_keys"
  private[graft] val PartsFile = "_partition_cols"

  /** A manifest stat bound parsed into the EXTERNAL Row value of the
    * column's logical type (metadata-only aggregates emit external
    * Rows): DATE bounds store epoch days, TIMESTAMP bounds epoch
    * micros (instant → java.sql.Timestamp; NTZ → LocalDateTime with the
    * same local-as-UTC micros parquet NTZ stats use). */
  private[sources] def parseStatBound(s: String,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType => s.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case StringType => s
      case DateType => java.sql.Date.valueOf( // external-Row DATE form
        java.time.LocalDate.ofEpochDay(s.toLong))
      case TimestampType =>
        val us = s.toLong
        val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        t
      case TimestampNTZType =>
        val us = s.toLong
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case d: DecimalType =>
        // manifest DECIMAL bounds are exact plain strings at the file's
        // write scale; re-scale to the column's declared scale (always
        // widening — the bound came from files of this column)
        new java.math.BigDecimal(s).setScale(d.scale)
      case other => throw new IllegalStateException(s"$other")
    }
  }

  /** Ordering over [[parseStatBound]] outputs (0 = incomparable forms,
    * callers treat equal-compare conservatively). */
  private[sources] def cmpStatValue(a: Any, b: Any): Int = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: Int, y: Int) => x.compareTo(y)
    case (x: Long, y: Long) => x.compareTo(y)
    case (x: Float, y: Float) => x.compareTo(y)
    case (x: Double, y: Double) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.time.LocalDateTime, y: java.time.LocalDateTime) =>
      x.compareTo(y)
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
    case _ => 0
  }

  /** A declared partition layout entry: identity column, or a hash
    * bucket over a column (the HIGH-cardinality co-location story —
    * identity layouts cap out where value counts explode; bucket(n, k)
    * keeps file counts at n while still proving each file
    * single-bucket, so two same-bucketed tables storage-partition-join
    * on k with no shuffle). */
  sealed trait PartTransform { def col: String }
  final case class IdentityPart(col: String) extends PartTransform
  final case class BucketPart(n: Int, col: String) extends PartTransform

  /** `PARTITIONED BY` declaration → layout. Identity transforms and a
    * SINGLE bucket(n, col) are accepted (bucket does not mix with other
    * entries — a composite layout would need per-file tuple metadata);
    * days/years/etc. refused loudly, never approximated. */
  private[sources] def declaredLayout(partitions: Array[Transform],
      schema: StructType): Seq[PartTransform] = {
    val parts: Seq[PartTransform] = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        IdentityPart(t.references.head.fieldNames.head)
      case t if t.name == "bucket" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        val ns = t.arguments.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value match {
              case i: Integer => i.intValue()
              case i: java.lang.Long => i.intValue()
              case other => throw new UnsupportedOperationException(
                s"bucket count must be an integer literal, got $other")
            }
        }
        require(ns.length == 1 && ns.head > 0,
          s"bucket transform needs one positive bucket count: $t")
        BucketPart(ns.head, t.references.head.fieldNames.head)
      case t => throw new UnsupportedOperationException(
        s"unsupported partition transform '$t' " +
          "(graft tables take identity columns or one bucket(n, col))")
    }
    require(parts.forall(p => schema.fieldNames.contains(p.col)),
      s"PARTITIONED BY columns ${parts.map(_.col).mkString(",")} must name " +
        "columns of the table schema")
    require(parts.map(_.col).distinct == parts.map(_.col),
      "duplicate PARTITIONED BY column")
    require(!parts.exists(_.isInstanceOf[BucketPart]) || parts.length == 1,
      "bucket(n, col) must be the only partition transform")
    parts
  }

  private[graft] def encodeLayout(parts: Seq[PartTransform]): String =
    parts.map {
      case IdentityPart(c) => c
      case BucketPart(n, c) => s"bucket:$n:$c"
    }.mkString(",")

  /** Declared layout ([[PartsFile]] sidecar): plain entries are
    * identity columns (the original format), `bucket:n:col` entries the
    * bucket transform. */
  private[graft] def readDeclaredLayout(dir: Path): Seq[PartTransform] = {
    val f = dir.resolve(PartsFile)
    if (!Files.isRegularFile(f)) Seq.empty
    else Files.readString(f).split(",").map(_.trim).filter(_.nonEmpty)
      .toSeq.map {
        case s if s.startsWith("bucket:") =>
          val Array(_, n, c) = s.split(":", 3)
          BucketPart(n.toInt, c)
        case c => IdentityPart(c)
      }
  }

  /** Declared IDENTITY partition columns only — every pre-bucket
    * consumer (value-aligned staging, identity grouped scans, layout
    * preservation) keys on these; bucket layouts surface through
    * [[readDeclaredLayout]]. */
  private[sources] def readDeclaredParts(dir: Path): Seq[String] =
    readDeclaredLayout(dir).collect { case IdentityPart(c) => c }

  private[sources] val GeneratedFile = "_generated"
  private[sources] val ConstraintsFile = "_constraints"

  /** CREATE-time GENERATED ALWAYS AS declarations (pre-first-commit;
    * the manifest's `generated` metadata takes over once a commit
    * lands — [[ManifestTable]]'s first commit seeds from this file). */
  private[sources] def writeDeclaredGenerated(dir: Path,
      gens: Seq[(String, String)]): Unit = {
    require(gens.forall { case (n, e) =>
      !n.contains("\t") && !n.contains("\n") && !e.contains("\n") },
      "generated-column expressions must be single-line")
    Files.writeString(dir.resolve(GeneratedFile),
      gens.map { case (n, e) => s"$n\t$e" }.mkString("\n"))
  }

  private[sources] def readDeclaredGenerated(dir: Path): Seq[(String, String)] = {
    val f = dir.resolve(GeneratedFile)
    if (!Files.isRegularFile(f)) Seq.empty
    else Files.readString(f).split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      (l.substring(0, i), l.substring(i + 1))
    }
  }

  private[graft] val ZOrderFile = "_zorder"

  private[graft] val CompressionFile = "_compression"

  private[graft] val WidenFile = "_widen.json"

  /** TYPE-WIDENING metadata (`ALTER TABLE t ALTER COLUMN c TYPE
    * BIGINT`, Delta 3.2 / Iceberg V2 semantics): the declared WIDE type
    * per physical column. Files are NEVER rewritten — Spark 4\'s parquet
    * readers (vectorized and row-based) upcast narrower physical values
    * at scan time (int32→long/double/decimal, float→double, decimal
    * precision/scale growth, date→timestamp_ntz), so at 100 TB an
    * int-that-overflowed emergency is one metadata write, not a
    * petabyte rewrite. */
  private[graft] def readDeclaredWiden(
      dir: Path): Map[String, org.apache.spark.sql.types.DataType] = {
    val f = dir.resolve(WidenFile)
    if (!Files.isRegularFile(f)) Map.empty
    else org.apache.spark.sql.types.DataType.fromJson(Files.readString(f))
      .asInstanceOf[StructType].fields
      .map(sf => sf.name -> sf.dataType).toMap
  }

  private[sources] def writeDeclaredWiden(dir: Path,
      m: Map[String, org.apache.spark.sql.types.DataType]): Unit =
    Files.writeString(dir.resolve(WidenFile), StructType(
      m.toSeq.sortBy(_._1).map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) }).json)

  /** Validate + record a widening (shared by ALTER COLUMN TYPE and the
    * HTTP door): refuses non-widenings and bucket columns, resolves the
    * frozen physical name, writes the sidecar, drops schema caches. */
  private[graft] def widenColumnAt(dir: Path, name: String,
      wide: org.apache.spark.sql.types.DataType): Unit = {
    val path = dir.toString
    val cur = fullSchema(dir, None).getOrElse(
      throw new IllegalArgumentException(s"no table at $path"))
    val field = cur.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column '$name'"))
    require(isWidening(field.dataType, wide),
      s"ALTER COLUMN TYPE only WIDENS (every value stays exactly " +
        s"representable): ${field.dataType.simpleString} -> " +
        s"${wide.simpleString} is not a safe widening")
    require(!readDeclaredLayout(dir).exists {
        case BucketPart(_, c) => c.equalsIgnoreCase(name)
        case _ => false
      },
      s"cannot widen bucket column '$name': bucket routing hashes " +
        "the physical value, and int/long hashes differ")
    val phys = ManifestTable.snapshotAt(path, None)
      .map(_.renames.getOrElse(name, name)).getOrElse(name)
    writeDeclaredWiden(dir, readDeclaredWiden(dir) + (phys -> wide))
    ManifestTable.invalidateSchemaCaches(path)
    readDdlSchema(dir).foreach { s =>
      if (s.fieldNames.contains(name))
        Files.write(dir.resolve(SchemaFile),
          StructType(s.map(f =>
            if (f.name == name) f.copy(dataType = wide) else f)).json
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Is `to` a SAFE widening of `from` — every value representable
    * exactly, parquet readers upcast at scan time? The Delta/Iceberg
    * matrix, restricted to what the Spark 4 readers demonstrably
    * support (spec-pinned in WidenSpec). */
  private[graft] def isWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intRank(t: DataType): Int = t match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => 0
    }
    def intDigits(t: DataType): Int = t match {
      case ByteType => 3
      case ShortType => 5
      case IntegerType => 10
      case LongType => 20
      case _ => 0
    }
    (from, to) match {
      case (a, b) if a == b => false // not a change
      case (a, b) if intRank(a) > 0 && intRank(b) >= intRank(a) => true
      case (a, DoubleType) if intRank(a) > 0 && intRank(a) <= 3 => true
      case (FloatType, DoubleType) => true
      case (a, d: DecimalType) if intRank(a) > 0 =>
        d.precision - d.scale >= intDigits(a)
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }


  /** Codecs every Spark 4 classpath carries; "none" normalizes to
    * parquet's UNCOMPRESSED. */
  private[sources] val Codecs =
    Set("snappy", "zstd", "gzip", "lz4", "none", "uncompressed")

  /** Declared write codec (`TBLPROPERTIES('write.compression'='zstd')`):
    * every data/delete file written AFTER the declaration uses it —
    * existing files stay as-written (parquet is per-file self-
    * describing; OPTIMIZE rewrites converge the table). At 100 TB the
    * snappy→zstd delta is ~30-40% of the storage and scan-IO bill. */
  private[graft] def readDeclaredCompression(dir: Path): Option[String] = {
    val f = dir.resolve(CompressionFile)
    if (!Files.isRegularFile(f)) None
    else Some(Files.readString(f).trim).filter(_.nonEmpty)
  }

  /** Declared OPTIMIZE clustering (`TBLPROPERTIES('zorder.cols'='a,b')`):
    * a parameter-free `OPTIMIZE t` re-clusters on these columns, the
    * Delta table-property model. Mutually exclusive with PARTITIONED BY
    * (a z-order rewrite would smear the partition ranges). */
  private[graft] def readDeclaredZOrder(dir: Path): Seq[String] = {
    val f = dir.resolve(ZOrderFile)
    if (!Files.isRegularFile(f)) Seq.empty
    else Files.readString(f).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** CREATE-time TBLPROPERTIES — the SAME declaration surface ALTER's
    * `SET TBLPROPERTIES` supports (`merge.keys` / `zorder.cols` /
    * `check.<name>`), so a declaration works identically at birth and
    * after. Spark-managed bookkeeping keys (owner/provider/location/
    * comment/external/option.*) pass through untouched; anything else
    * is refused loudly — a silently dropped property is a lost user
    * declaration. Returns (mergeKeys, zorderCols, checkExprs). */
  private[sources] case class DeclaredProps(keys: Seq[String],
      zorder: Seq[String], checks: Seq[String], codec: Option[String])

  private[sources] def declaredProps(
      properties: java.util.Map[String, String], schema: StructType,
      layout: Seq[PartTransform]): DeclaredProps = {
    import scala.jdk.CollectionConverters._
    val sparkManaged = Set("owner", "provider", "location", "comment",
      "external", "is_managed_location")
    var keys, zorder, checks = Seq.empty[String]
    var codec: Option[String] = None
    properties.asScala.toSeq.sortBy(_._1).foreach {
      case ("merge.keys", v) =>
        keys = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
          s"merge.keys '$v' must name columns of the table schema")
      case ("zorder.cols", v) =>
        zorder = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(zorder.nonEmpty && zorder.forall(schema.fieldNames.contains),
          s"zorder.cols '$v' must name columns of the table schema")
        require(layout.isEmpty,
          "zorder.cols and PARTITIONED BY are mutually exclusive " +
            "(a z-order rewrite would smear the partition ranges)")
      case ("write.compression", v) =>
        val c = v.trim.toLowerCase(java.util.Locale.ROOT)
        require(Codecs(c), s"unsupported write.compression '$v' " +
          s"(supported: ${Codecs.toSeq.sorted.mkString(", ")})")
        codec = Some(c)
      case (k, v) if k.startsWith("check.") =>
        require(v.trim.nonEmpty, s"empty CHECK expression for '$k'")
        checks :+= v
      case (k, _) if sparkManaged(k) || k.startsWith("option.") => ()
      case (k, _) => throw new UnsupportedOperationException(
        s"unsupported table property '$k' " +
          "(supported: merge.keys, zorder.cols, write.compression, check.<name>)")
    }
    DeclaredProps(keys, zorder, checks, codec)
  }

  /** CREATE-time CHECK constraints (same pre-first-commit lifecycle). */
  private[sources] def writeDeclaredConstraints(dir: Path,
      checks: Seq[String]): Unit = {
    require(checks.forall(!_.contains("\n")),
      "CHECK constraint expressions must be single-line")
    Files.writeString(dir.resolve(ConstraintsFile), checks.mkString("\n"))
  }

  private[sources] def readDeclaredConstraints(dir: Path): Seq[String] = {
    val f = dir.resolve(ConstraintsFile)
    if (!Files.isRegularFile(f)) Seq.empty
    else Files.readString(f).split("\n").toSeq.filter(_.nonEmpty)
  }

  private[sources] def readDdlSchema(dir: Path): Option[StructType] = {
    val f = dir.resolve(SchemaFile)
    if (!Files.isRegularFile(f)) None
    else Some(DataType.fromJson(
      new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[StructType])
  }

  /** CREATE-time `merge.keys` declaration (pre-first-commit identity;
    * the manifest's mergeKeys take over once any keyed commit lands). */
  private[graft] def readDeclaredKeys(dir: Path): Seq[String] = {
    val f = dir.resolve(KeysFile)
    if (!Files.isRegularFile(f)) Seq.empty
    else Files.readString(f).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** The table's visible schema: committed data speaks first (merged
    * footers — write-side evolution included); DDL-declared columns not
    * yet backed by data (CREATE on an empty table, ALTER TABLE ADD
    * COLUMN) append after, null-filled by the scan. Time-travel reads
    * keep the data schema of their snapshot. */
  private[sources] def fullSchema(dir: Path,
      version: Option[Long]): Option[StructType] = {
    val path = dir.toString
    val data =
      if (ManifestTable.versions(path).nonEmpty)
        Some(ManifestTable.schemaAt(SparkSession.active, path, version))
      else None
    val ddl = readDdlSchema(dir)
    (data, ddl) match {
      case (Some(d), Some(s)) if version.isEmpty =>
        val have = d.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        Some(StructType(d.fields ++ s.fields.filterNot(f =>
          have(f.name.toLowerCase(java.util.Locale.ROOT)))))
      case (Some(d), _) => Some(d)
      case (None, s) => s
    }
  }

  /** Spark [[Filter]] → Catalyst [[org.apache.spark.sql.Column]], for
    * `DELETE FROM` conditions. Complete over the Filter algebra Spark
    * can translate a DELETE condition into; None = not expressible →
    * `canDeleteWhere` refuses and Spark reports the unsupported delete
    * instead of silently deleting the wrong rows. */
  private[sources] def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case sources.EqualTo(a, v)            => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v)        => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v)           => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case sources.In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
      case sources.IsNull(a)                => Some(col(a).isNull)
      case sources.IsNotNull(a)             => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case sources.StringContains(a, v)     => Some(col(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case sources.Not(c)                   => filterToColumn(c).map(not)
      case sources.AlwaysTrue()             => Some(lit(true))
      case sources.AlwaysFalse()            => Some(lit(false))
      case _                                => None
    }
  }

  /** STRICT [[Filter]] → [[Condition]] conversion: Some only when the
    * WHOLE filter is representable (every conjunct converts). The
    * lossless form is what [[ManifestTable.fileMustMatch]]'s
    * metadata-only delete needs — a silently dropped conjunct would
    * prove "every row matches" for a predicate narrower than the one
    * the user wrote. (The lossy [[toConditions]] stays correct for
    * might-match pruning, where dropping a conjunct only widens.) */
  private[sources] def toConditionsStrict(f: Filter): Option[Seq[Condition]] =
    f match {
      case sources.And(l, r) =>
        for (a <- toConditionsStrict(l); b <- toConditionsStrict(r))
          yield a ++ b
      case sources.AlwaysTrue() => Some(Seq.empty)
      case other => Some(toConditions(other)).filter(_.nonEmpty)
    }

  /** Spark [[Filter]] → manifest-skippable [[Condition]]s. Top-level
    * columns only; anything richer simply does not prune (it still
    * filters — Spark keeps every filter as a residual). AND splits into
    * both sides (sound: a file must satisfy each conjunct); OR/NOT stay
    * un-pruned (min/max can prove a single range dead, not a union). */
  private[graft] def toConditions(f: Filter): Seq[Condition] = f match {
    case sources.EqualTo(a, v) if flat(a)            => Seq(Condition(a, Op.Eq, v))
    case sources.GreaterThan(a, v) if flat(a)        => Seq(Condition(a, Op.Gt, v))
    case sources.GreaterThanOrEqual(a, v) if flat(a) => Seq(Condition(a, Op.Gte, v))
    case sources.LessThan(a, v) if flat(a)           => Seq(Condition(a, Op.Lt, v))
    case sources.LessThanOrEqual(a, v) if flat(a)    => Seq(Condition(a, Op.Lte, v))
    case sources.In(a, vs) if flat(a)                => Seq(Condition(a, Op.In, vs.toSeq))
    case sources.StringContains(a, v) if flat(a)     => Seq(Condition(a, Op.Contains, v))
    case sources.StringStartsWith(a, v) if flat(a)   => Seq(Condition(a, Op.StartsWith, v))
    case sources.IsNull(a) if flat(a)                => Seq(Condition(a, Op.IsNull, null))
    case sources.IsNotNull(a) if flat(a)             => Seq(Condition(a, Op.NotNull, null))
    case sources.And(l, r)                           => toConditions(l) ++ toConditions(r)
    case _                                           => Seq.empty
  }

  private def flat(attr: String): Boolean = !attr.contains(".")
}

/** One named manifest table as seen by SQL. `version` set = a
  * time-travel snapshot (read-only). */
class GraftSqlTable(val ident: String, val path: String,
    val snapshot: Option[Long], val tableSchema: StructType,
    val partCols: Seq[String] = Seq.empty)
  extends Table with SupportsRead with SupportsWrite
  with SupportsDelete {

  override def name(): String = ident
  override def schema(): StructType = tableSchema

  // PARTITIONED BY (identity columns): declared layout, honored by every
  // batch write (range-clustered so files carry single-value or tight
  // ranges on the partition columns — the manifest min/max stats then
  // make partition-predicate scans file-pruned, Iceberg's hidden-
  // partitioning-as-stats model rather than Hive directory trees)
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    GraftCatalog.readDeclaredLayout(java.nio.file.Paths.get(path)).map {
      case GraftCatalog.IdentityPart(c) =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)
      case GraftCatalog.BucketPart(n, c) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
    }.toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, // replaceWhere
      TableCapability.STREAMING_WRITE)

  // DESCRIBE TABLE EXTENDED / SHOW TBLPROPERTIES surface the table's
  // contract: its CHECK constraints (and, on keyed tables, merge.keys)
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    ManifestTable.constraints(path).zipWithIndex.foreach { case (c, i) =>
      m.put(s"check.$i", c) }
    val zs = GraftCatalog.readDeclaredZOrder(java.nio.file.Paths.get(path))
    if (zs.nonEmpty) m.put("zorder.cols", zs.mkString(","))
    GraftCatalog.readDeclaredCompression(java.nio.file.Paths.get(path))
      .foreach(c => m.put("write.compression", c))
    m
  }

  // SHOW CREATE TABLE fidelity: the rendered DDL must recreate the
  // CONTRACT, not just the shape — generated columns come back on the
  // column list (`GENERATED ALWAYS AS`), CHECK constraints as enforced
  // table constraints. Spark's V2 ShowCreateTableExec reads both from
  // here; DESCRIBE and the write-path analyzer see the same declaration
  // the commit protocol already enforces in-scan.
  override def columns(): Array[org.apache.spark.sql.connector.catalog.Column] = {
    val gens = ManifestTable.generatedColumns(path).toMap
    tableSchema.fields.map { f =>
      org.apache.spark.sql.connector.catalog.Column.create(
        f.name, f.dataType, f.nullable, null,
        gens.get(f.name).orNull, null)
    }
  }

  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    ManifestTable.constraints(path).zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(s"check_$i").predicateSql(c).enforced(true).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // stream options (startingVersion, maxVersionsPerTrigger, …) ride
    // the reader options into toMicroBatchStream; batch scans ignore them
    val opts = options.entrySet().asScala
      .map(e => e.getKey.toLowerCase(java.util.Locale.ROOT) -> e.getValue).toMap
    new GraftScanBuilder(path, snapshot, tableSchema, opts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // a BRANCH snapshot (bid range) stays writable — the write doors
    // below route the write onto the ref; only true time-travel
    // (a historical main version) refuses writes
    require(snapshot.isEmpty ||
        snapshot.get >= graft.sources.ManifestTable.BranchIdBase,
      s"cannot write to a time-travel snapshot of $ident (VERSION AS OF ${snapshot.get})")
    // per-write branch routing (`df.writeTo(t).option("branch", name)`):
    // scoped to THIS write where the session conf is scoped to the
    // session — the safer door when one job writes main and a ref
    val branchOpt = Option(info.options.get("branch"))
      .map(_.trim).filter(_.nonEmpty)
    new GraftWriteBuilder(path, info.schema(), info.queryId(), partCols,
      branchOpt)
  }

  // `DELETE FROM <t> WHERE <cond>` → the copy-on-write rewrite commit
  // ([[ManifestTable.deleteWhere]]): touched files rewritten without
  // their matching rows, untouched files carry byte-identical, CHECK
  // constraints re-validated in-scan. Refused (not silently narrowed)
  // when any conjunct is outside the translatable Filter algebra.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    snapshot.isEmpty && filters.forall(f => GraftCatalog.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    if (ManifestTable.versions(path).isEmpty) return // empty table: nothing to delete
    val cond = filters.flatMap(GraftCatalog.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // lossless Condition form (when the whole predicate converts) arms
    // the stats fast paths: scan only might-match files, and drop
    // provably-all-matching files metadata-only
    val strict = filters.toSeq.map(GraftCatalog.toConditionsStrict)
    val scope =
      if (strict.nonEmpty && strict.forall(_.isDefined)) strict.flatten.flatten
      else Seq.empty
    ManifestTable.deleteWhere(SparkSession.active, path, cond,
      scopeConds = scope)
  }

  override def truncateTable(): Boolean = {
    // overwrite-with-empty, NOT deleteWhere(true): the old path scanned
    // the whole table to discover that every file matches and rewrote
    // it; the replace commit stages one schema-carrying empty file and
    // drops everything else metadata-only — TRUNCATE at 100 TB is a
    // manifest edit. Table contract (constraints/mapping/keys/txns)
    // survives replace exactly as any overwrite.
    if (ManifestTable.versions(path).nonEmpty) {
      val s = SparkSession.active
      ManifestTable.overwrite(ManifestTable.read(s, path).limit(0), path)
    }
    true
  }
}

/** A table with declared MERGE KEYS: additionally row-level-operable —
  * SQL `UPDATE` / `MERGE INTO` / arbitrary-predicate `DELETE` plan as
  * delta writes ([[GraftRowLevelOperation]]) that land merge-on-read
  * commits: O(changed rows) staged bytes, zero rewritten files.
  * (Translatable DELETEs still take the metadata path — Spark's
  * metadata-only optimization picks [[SupportsDelete]] when it can.) */
class GraftKeyedSqlTable(ident0: String, path0: String,
    snapshot0: Option[Long], schema0: StructType, val keyCols: Seq[String],
    partCols0: Seq[String] = Seq.empty)
  extends GraftSqlTable(ident0, path0, snapshot0, schema0, partCols0)
  with SupportsRowLevelOperations {

  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String](super.properties())
    m.put("merge.keys", keyCols.mkString(","))
    m
  }

  // the declared merge keys ARE the primary key — informational (merges
  // upsert by key; plain appends are not uniqueness-gated), so NOT
  // ENFORCED NORELY, the honest rendering
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    super.constraints() :+
      (org.apache.spark.sql.connector.catalog.constraints.Constraint
        .primaryKey("pk", keyCols.map(
          org.apache.spark.sql.connector.expressions.Expressions.column).toArray)
        .enforced(false)
        .build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    // a BRANCH snapshot stays DML-able: the operation's own scan and
    // commit both resolve the ref (branch-session routing); only true
    // time-travel refuses
    require(snapshot.isEmpty ||
        snapshot.get >= ManifestTable.BranchIdBase,
      s"cannot run ${info.command} against a time-travel snapshot of $ident")
    () => new GraftRowLevelOperation(path, tableSchema, keyCols, info.command)
  }
}

class GraftScanBuilder(path: String, version: Option[Long], fullSchema: StructType,
    streamOpts: Map[String, String] = Map.empty)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var conds: Seq[Condition] = Seq.empty
  private var metaAgg: Option[(StructType, Seq[Seq[Any]])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val converted = filters.map(f => f -> GraftCatalog.toConditions(f))
    pushed = converted.collect { case (f, cs) if cs.nonEmpty => f }
    conds = converted.flatMap(_._2).toSeq
    // every filter stays a Spark-side residual: pushdown here prunes
    // FILES (manifest min/max), it never assumes row-level exactness
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  // ── METADATA-ONLY AGGREGATES ──────────────────────────────────────
  // COUNT(*) / MIN / MAX over a clean snapshot answer from the manifest
  // alone (per-file recorded rows + footer-harvested min/max) — the
  // Delta "count from the log" move: at 100 TB a row count or column
  // extremum costs one manifest parse, zero file reads. Strictly
  // conservative: any MoR delete ledger, column mapping, incomplete
  // per-file stats/rows, unsupported type, grouping, or residual filter
  // refuses the pushdown and the scan runs normally. Spark only offers
  // an aggregate here when no post-scan filters remain, and every graft
  // filter stays residual — so a filtered query can never take this
  // door by construction (the conds check is defense in depth).
  private def computeMetaAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (conds.nonEmpty || streamOpts.nonEmpty) return None
    val m = ManifestTable.snapshotAt(path, version).getOrElse(return None)
    if (m.deletes.nonEmpty || m.renames.nonEmpty || m.droppedCols.nonEmpty)
      return None
    if (!m.files.forall(m.rows.contains)) return None
    if (agg.groupByExpressions.nonEmpty)
      return computeGroupedMetaAgg(agg, m)
    val statTypes: DataType => Boolean = {
      case IntegerType | LongType | FloatType | DoubleType | StringType
         | DateType // DATE bounds ride the manifest as epoch days
         | TimestampType | TimestampNTZType // TIMESTAMP: epoch micros
         | _: DecimalType => true // DECIMAL: exact plain-decimal strings
      case _ => false
    }
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
        if r.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name == r.fieldNames.head)
          .filter(f => statTypes(f.dataType))
      case _ => None
    }
    val parse = GraftCatalog.parseStatBound _
    val cmp = GraftCatalog.cmpStatValue _
    def extremum(f: StructField, wantMin: Boolean): Option[Any] = {
      if (m.files.isEmpty) return Some(null) // empty table → NULL
      val vals = m.files.flatMap { file =>
        m.stats.getOrElse(file, Map.empty).get(f.name) match {
          // an entirely-null file contributes NO non-null value to
          // MIN/MAX (SQL extremes ignore nulls) — skip, don't refuse
          case Some(cs) if cs.unit.contains("allnull") => None
          case Some(cs) =>
            Some(parse(if (wantMin) cs.min else cs.max, f.dataType))
          case None => return None // stat-less file (nulls?) → refuse
        }
      }
      if (vals.isEmpty) return Some(null) // every file all-null → NULL
      // NaN-poisoned bounds (externally written files; parquet-mr drops
      // stats on NaN, but older/foreign writers may not) — refuse
      if (nanPoisoned(vals)) return None
      Some(vals.reduce((a, b) =>
        if ((cmp(a, b) <= 0) == wantMin) a else b))
    }
    val out = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        (StructField("count", LongType, nullable = false),
          m.files.map(m.rows).sum: Any)
      case mn: Min =>
        val f = colOf(mn.column).getOrElse(return None)
        (f.copy(name = s"min_${f.name}"),
          extremum(f, wantMin = true).getOrElse(return None))
      case mx: Max =>
        val f = colOf(mx.column).getOrElse(return None)
        (f.copy(name = s"max_${f.name}"),
          extremum(f, wantMin = false).getOrElse(return None))
      // COUNT(col) counts NON-NULL values: per-file row counts minus
      // the harvested null counts answer it from metadata alone (any
      // file without a null count for the column refuses)
      case cnt: Count if !cnt.isDistinct =>
        val name = cnt.column match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 => r.fieldNames.head
          case _ => return None
        }
        if (!fullSchema.fields.exists(_.name == name)) return None
        val nonNull = m.files.map { file =>
          m.stats.getOrElse(file, Map.empty).get(name) match {
            case Some(cs) if cs.nulls.isDefined =>
              m.rows(file) - cs.nulls.get
            case _ => return None
          }
        }.sum
        (StructField(s"count_$name", LongType, nullable = false),
          nonNull: Any)
      case _ => return None // SUM/AVG/COUNT(DISTINCT) need data
    }
    Some((StructType(out.map(_._1)), Seq(out.map(_._2))))
  }

  /** NaN-poisoned float/double bounds can't answer Spark's
    * NaN-is-greatest MIN/MAX semantics from metadata. */
  private def nanPoisoned(vs: Seq[Any]): Boolean = vs.exists {
    case d: Double => d.isNaN
    case f: Float  => f.isNaN
    case _         => false
  }

  /** GROUP BY over identity partition columns: every file is
    * single-valued on them (the rolling writer's invariant), so groups
    * are unions of whole files — per-group COUNT(*) sums recorded rows
    * and per-group MIN/MAX fold the group's file stats. The
    * partition-rollup query (`SELECT g, count(*) … GROUP BY g`) becomes
    * a metadata parse. */
  private def computeGroupedMetaAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      m: ManifestTable.Manifest)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types._
    val gcols = agg.groupByExpressions.toSeq.map {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
        if r.fieldNames.length == 1 => r.fieldNames.head
      case _ => return None
    }
    val layout = GraftCatalog.readDeclaredLayout(java.nio.file.Paths.get(path))
    val idCols = layout.collect { case GraftCatalog.IdentityPart(c) => c }
    if (gcols.isEmpty || !gcols.forall(idCols.contains)) return None
    val statTypes: DataType => Boolean = {
      case IntegerType | LongType | FloatType | DoubleType | StringType
         | DateType | TimestampType | TimestampNTZType
         | _: DecimalType => true
      case _ => false
    }
    def fieldOf(c: String): Option[StructField] =
      fullSchema.fields.find(_.name == c).filter(f => statTypes(f.dataType))
    val parse = GraftCatalog.parseStatBound _
    val cmp = GraftCatalog.cmpStatValue _
    val gFields = gcols.map(c => fieldOf(c).getOrElse(return None))
    // group files by their single-value tuple on the group-by columns
    val grouped = new scala.collection.mutable.LinkedHashMap[Seq[Any], List[String]]
    val fit = m.files.iterator
    while (fit.hasNext) {
      val f = fit.next()
      val st = m.stats.getOrElse(f, Map.empty)
      val key = gcols.zip(gFields).map { case (c, fld) =>
        st.get(c) match {
          case Some(cs) if cs.min == cs.max &&
              !cs.unit.contains("allnull") => parse(cs.min, fld.dataType)
          case _ => return None // joint/stat-less/all-null file → scan normally
        }
      }
      grouped.updateWith(key)(cur => Some(f :: cur.getOrElse(Nil)))
    }
    val aggFields = scala.collection.mutable.ArrayBuffer[StructField]()
    val aggFns = scala.collection.mutable.ArrayBuffer[Seq[String] => Any]()
    agg.aggregateExpressions.toSeq.foreach {
      case _: CountStar =>
        aggFields += StructField("count", LongType, nullable = false)
        aggFns += ((files: Seq[String]) => files.map(m.rows).sum: Any)
      case mn: Min =>
        val f = (mn.column match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 => fieldOf(r.fieldNames.head)
          case _ => None
        }).getOrElse(return None)
        aggFields += f.copy(name = s"min_${f.name}")
        aggFns += ((files: Seq[String]) => {
          val vs = files.map(file =>
            m.stats.getOrElse(file, Map.empty).get(f.name) match {
              case Some(cs) if !cs.unit.contains("allnull") =>
                parse(cs.min, f.dataType)
              case _ => return None
            })
          if (nanPoisoned(vs)) return None
          vs.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
        })
      case mx: Max =>
        val f = (mx.column match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 => fieldOf(r.fieldNames.head)
          case _ => None
        }).getOrElse(return None)
        aggFields += f.copy(name = s"max_${f.name}")
        aggFns += ((files: Seq[String]) => {
          val vs = files.map(file =>
            m.stats.getOrElse(file, Map.empty).get(f.name) match {
              case Some(cs) if !cs.unit.contains("allnull") =>
                parse(cs.max, f.dataType)
              case _ => return None
            })
          if (nanPoisoned(vs)) return None
          vs.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
        })
      // per-group COUNT(col) = group rows minus harvested null counts
      case cnt: Count if !cnt.isDistinct =>
        val name = (cnt.column match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 => Some(r.fieldNames.head)
          case _ => None
        }).getOrElse(return None)
        if (!fullSchema.fields.exists(_.name == name)) return None
        aggFields += StructField(s"count_$name", LongType, nullable = false)
        aggFns += ((files: Seq[String]) => files.map(file =>
          m.stats.getOrElse(file, Map.empty).get(name) match {
            case Some(cs) if cs.nulls.isDefined => m.rows(file) - cs.nulls.get
            case _ => return None
          }).sum: Any)
      case _ => return None
    }
    val schema = StructType(gFields ++ aggFields)
    val rows = grouped.toSeq.map { case (key, files) =>
      key ++ aggFns.map(_(files.reverse))
    }
    Some((schema, rows))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = computeMetaAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    metaAgg = computeMetaAgg(agg)
    metaAgg.isDefined
  }

  override def build(): Scan = {
    // a session configured with the catalog alone (no GraftExtensions)
    // still needs the strategy that plans these scans
    val spark = SparkSession.active
    graft.plans.GraftReadStrategy.install(spark)
    metaAgg.foreach { case (schema, rows) =>
      return new GraftMetaAggScan(path, schema, rows)
    }
    val scan = GraftScan(path, version, required, conds, streamOpts)
    // STORAGE-PARTITIONED JOIN door: strictly opt-in via Spark's own v2
    // bucketing conf, and only when the snapshot proves eligible — the
    // read-plan scan stays the universal fallback (MoR reconcile,
    // column mapping, DDL null-fill, arbitrary types)
    val spjOn = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    if (!spjOn) scan
    else GraftGroupedScan
      .build(spark, path, version, required, conds, scan).getOrElse(scan)
  }
}

/** The scan: file pruning + MoR reconcile via the ONE shared read path
  * ([[ManifestTable.readWhere]]), planned by
  * [[graft.plans.GraftReadStrategy]] as that path's own plan
  * ([[readPlan]]), with live statistics for join planning and CBO. */
case class GraftScan(path: String, version: Option[Long],
    required: StructType, conds: Seq[Condition],
    streamOpts: Map[String, String] = Map.empty)
  extends Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** `readWhere` over the pushed conditions, projected to `required`
    * (DDL-declared columns no data file carries yet — ALTER TABLE ADD
    * COLUMN — null-fill, the semantics a written file would get from
    * mergeSchema one commit earlier), optimized once per scan: adaptive
    * re-planning then meets the same plan. None for a table with no
    * committed version. */
  @transient private lazy val optimizedRead
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    if (ManifestTable.versions(path).isEmpty) None
    else {
      import org.apache.spark.sql.functions.{col, lit}
      val df = ManifestTable.readWhere(SparkSession.active, path, conds, version)
      Some(df.select(required.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
        .queryExecution.optimizedPlan)
    }

  /** The logical plan this scan stands for, re-aliased to the scan
    * relation's `output` attributes (the catalog's schema is the read
    * schema, so names and types line up by position); an empty relation
    * when the table has no version yet. */
  private[graft] def readPlan(
      output: Seq[org.apache.spark.sql.catalyst.expressions.AttributeReference])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    optimizedRead.fold[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan](
        LocalRelation(output)) { p =>
      Project(output.zip(p.output).map { case (a, f) =>
        Alias(f, a.name)(exprId = a.exprId) }, p)
    }
  }

  /** `spark.readStream.table("graft.t")`: the catalog table is ALSO the
    * streaming source — delegates to the graft-table micro-batch stream
    * (version offsets, admission control, AvailableNow), so a named
    * table tails with the same semantics as format("graft-table"). The
    * change-feed shape carries extra columns the catalog relation does
    * not declare — readChangeFeed stays on the format("graft-table")
    * door, refused loudly here. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(version.isEmpty,
      s"cannot stream a time-travel snapshot of $path")
    require(!streamOpts.get("readchangefeed").exists(_.toBoolean),
      "readChangeFeed is not available through the catalog (its schema adds " +
        "_change_type/_commit_version); use spark.readStream.format(\"graft-table\")")
    val maxV = streamOpts.get("maxversionspertrigger").map(_.toLong).filter(_ > 0)
    val startTs = streamOpts.get("startingtimestamp").map { raw =>
      val ms =
        if (raw.forall(_.isDigit)) raw.toLong
        else try java.time.Instant.parse(raw).toEpochMilli
        catch { case _: java.time.format.DateTimeParseException =>
          java.sql.Timestamp.valueOf(raw).getTime }
      ManifestTable.versions(path)
        .filter(v => ManifestTable.commitTimeMillis(path, v) < ms)
        .sorted.lastOption.getOrElse(0L)
    }
    val startV = streamOpts.get("startingversion").map(_.toLong).getOrElse(-1L)
    require(startTs.isEmpty || startV < 0,
      "set startingVersion OR startingTimestamp, not both")
    new graft.sources.v2.TableMicroBatchStream(path, required,
      streamOpts.get("ignorechanges").exists(_.toBoolean), maxV,
      readChangeFeed = false, startingVersion = startTs.getOrElse(math.max(0L, startV)))
  }

  /** ANALYZE-computed column statistics for the columns this scan
    * emits, keyed the way `DataSourceV2Relation.transformV2Stats`
    * resolves them. Feeds CBO filter estimation and join reorder. */
  private def analyzedColumnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import java.util.OptionalLong
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      ColumnStatistics]()
    ColumnStats.load(path).foreach { stats =>
      required.fields.foreach { f =>
        stats.cols.get(f.name).foreach { cs =>
          m.put(Expressions.column(f.name), new ColumnStatistics {
            override def distinctCount(): OptionalLong =
              OptionalLong.of(cs.distinct)
            override def nullCount(): OptionalLong = OptionalLong.of(cs.nulls)
            override def min(): java.util.Optional[Object] =
              cs.min.flatMap(ColumnStats.typedBound(_, f.dataType)) match {
                case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
                case None    => java.util.Optional.empty()
              }
            override def max(): java.util.Optional[Object] =
              cs.max.flatMap(ColumnStats.typedBound(_, f.dataType)) match {
                case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
                case None    => java.util.Optional.empty()
              }
            override def avgLen(): OptionalLong =
              cs.avgLen.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            override def maxLen(): OptionalLong =
              cs.maxLen.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats.Histogram] =
              (cs.histHeight, cs.histBins) match {
                case (Some(h), Some(storedBins)) => java.util.Optional.of(
                  new org.apache.spark.sql.connector.read.colstats.Histogram {
                    override def height(): Double = h
                    override def bins(): Array[
                        org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                      storedBins.map(b =>
                        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                          override def lo(): Double = b.lo
                          override def hi(): Double = b.hi
                          override def ndv(): Long = b.ndv
                        }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                      ).toArray
                  })
                case _ => java.util.Optional.empty()
              }
          })
        }
      }
    }
    m
  }

  // computed once per scan: the optimizer and the planner ask each
  // relation for its statistics many times
  @transient private lazy val statistics: Statistics = liveStatistics()

  override def estimateStatistics(): Statistics = statistics

  private def liveStatistics(): Statistics = {
    import java.util.OptionalLong
    if (ManifestTable.versions(path).isEmpty)
      return new Statistics {
        override def sizeInBytes(): OptionalLong = OptionalLong.of(0L)
        override def numRows(): OptionalLong = OptionalLong.of(0L)
      }
    val survivors = ManifestTable.statsSurvivors(path, conds, version)
    val recorded = ManifestTable.recordedRows(path, version)
    val known = survivors.forall(recorded.contains)
    if (!known)
      return new Statistics {
        override def sizeInBytes(): OptionalLong =
          OptionalLong.of(ManifestTable.dataFileSizes(path, survivors))
        override def numRows(): OptionalLong = OptionalLong.empty()
      }
    // live rows = surviving files' recorded rows − the delete keys
    // scoped to them (each key hides ≤ 1 row on a keyed table)
    val scope = ManifestTable.deleteScopeFiles(path, version)
    val hidden = survivors.flatMap(scope.getOrElse(_, Seq.empty)).distinct
      .flatMap(recorded.get).sum
    val rows = math.max(0L, survivors.flatMap(recorded.get).sum - hidden)
    // bytes scaled to the PRUNED column set: the planner should see the
    // cost of what this scan emits, not of columns it never reads
    val rowBytes = math.max(1, required.defaultSize)
    val colStats = analyzedColumnStats()
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * rowBytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }
}

class GraftWriteBuilder(path: String, schema: StructType, queryId: String,
    partCols: Seq[String] = Seq.empty,
    branchOpt: Option[String] = None)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var replace = false
  // REPLACE WHERE (`df.writeTo(t).overwrite(cond)`): the predicate of a
  // scoped overwrite — delete-matching + insert in ONE commit
  private var overwriteCond: Option[org.apache.spark.sql.Column] = None
  // the same predicate in lossless Condition form (when convertible):
  // arms replaceWhere's stats fast paths (scan-prune + whole-file drop)
  private var overwriteConds: Seq[Condition] = Seq.empty

  // bucket layouts ride the declared sidecar (the table object carries
  // identity partCols only): streamed epochs cluster + sort on the
  // bucket transform and the epoch writer rolls per computed bucket id
  private val declaredBucket: Option[(Int, String)] =
    GraftCatalog.readDeclaredLayout(Paths.get(path)).collectFirst {
      case GraftCatalog.BucketPart(n, c) => (n, c) }

  override def truncate(): WriteBuilder = { replace = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_ == sources.AlwaysTrue)) { replace = true; return this }
    val cols = filters.toSeq.map(f => GraftCatalog.filterToColumn(f)
      .getOrElse(throw new UnsupportedOperationException(
        s"overwrite predicate not expressible for replaceWhere: $f")))
    overwriteCond = Some(cols.reduce(_ && _))
    val strict = filters.toSeq.map(GraftCatalog.toConditionsStrict)
    overwriteConds =
      if (strict.forall(_.isDefined)) strict.flatten.flatten else Seq.empty
    this
  }

  override def build(): Write = {
    class GraftV1Write extends V1Write {
      override def toInsertableRelation: InsertableRelation = new InsertableRelation {
        // the V1 fallback exec does not thread the overwrite intent
        // through this boolean — the builder's truncate() call carries it.
        // PARTITIONED BY tables range-cluster on the partition columns
        // first, so every staged file carries a tight (usually single-
        // value) range and the manifest stats prune partition predicates.
        // The row-hash tiebreaker keeps a HOT partition value splittable
        // across range partitions (Hive identity partitioning pins a
        // value to one task; here only value JOINTS can share a file)
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          import org.apache.spark.sql.functions.xxhash64
          // tiebreaker over the HASHABLE columns only (xxhash64 refuses
          // MapType); partition columns are atomic by construction
          import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType => ST}
          def hasMap(dt: DataType): Boolean = dt match {
            case _: MapType => true
            case a: ArrayType => hasMap(a.elementType)
            case s: ST => s.fields.exists(f => hasMap(f.dataType))
            case _ => false
          }
          val hashable = data.schema.fields.filterNot(f => hasMap(f.dataType))
            .map(f => data.col(f.name)).toSeq
          val clustered =
            if (partCols.isEmpty) data
            else data.repartitionByRange(
              partCols.map(data.col) :+ xxhash64(
                (if (hashable.nonEmpty) hashable
                 else partCols.map(data.col)): _*): _*)
          // WRITE-AUDIT-PUBLISH session door (Iceberg's spark.wap.id):
          // with `spark.graft.wap.id` set, INSERT INTO stages instead
          // of committing — readers keep the pre-batch table until
          // `ALTER TABLE … PUBLISH WAP`. Append-shaped by design:
          // OVERWRITE under a wap id refuses rather than half-isolating
          val wapId = data.sparkSession.conf.getOption("spark.graft.wap.id")
            .map(_.trim).filter(_.nonEmpty)
          // BRANCH doors (Iceberg's write-to-branch): the per-write
          // `writeTo(t).option("branch", name)` wins over the session
          // conf `spark.graft.branch` (a write that NAMES its ref is
          // more specific than ambient session state; naming BOTH with
          // different refs is a caller bug and refuses). Either way,
          // the write appends to the ref — main's readers keep the
          // fork-point table until `ALTER TABLE … FAST FORWARD BRANCH`.
          val confBranch = data.sparkSession.conf
            .getOption("spark.graft.branch").map(_.trim).filter(_.nonEmpty)
          require(branchOpt.isEmpty || confBranch.isEmpty ||
              branchOpt == confBranch,
            s"write option branch=${branchOpt.get} conflicts with session " +
              s"conf spark.graft.branch=${confBranch.get}")
          val branch = branchOpt.orElse(confBranch)
          require(wapId.isEmpty || branch.isEmpty,
            "spark.graft.wap.id and spark.graft.branch are both set - " +
              "one isolation door at a time")
          if (wapId.isDefined) {
            require(!(replace || overwrite) && overwriteCond.isEmpty,
              "INSERT OVERWRITE / replaceWhere is not WAP-stageable " +
                "(staging is append-shaped); unset spark.graft.wap.id " +
                "or publish/abort the wap first")
            ManifestTable.stageWap(clustered, path, wapId.get)
          }
          else if (branch.isDefined) {
            require(!(replace || overwrite) && overwriteCond.isEmpty,
              "INSERT OVERWRITE / replaceWhere cannot target a branch " +
                "(branches are append-shaped); unset spark.graft.branch " +
                "or fast-forward/drop the branch first")
            ManifestTable.appendBranch(clustered, path, branch.get)
          }
          else if (overwriteCond.isDefined)
            ManifestTable.replaceWhere(data.sparkSession, path,
              overwriteCond.get, clustered, scopeConds = overwriteConds)
          else if (replace || overwrite) ManifestTable.overwrite(clustered, path)
          else ManifestTable.append(clustered, path)
        }
      }

      // `df.writeStream.toTable("graft.t")` — the NATIVE streaming sink:
      // each micro-batch's tasks stream rows straight to parquet in the
      // table's data dir, the epoch commit publishes ONE manifest version
      // carrying commitId "st-<queryId>-<epoch>", so a replayed epoch
      // (at-least-once foreachBatch-free restart) lands exactly once and
      // its redundant staged files are deleted, not committed. Append
      // mode appends; Complete mode (truncate()) replaces per epoch.
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new GraftStreamingWrite(path, schema, queryId, replace, partCols,
          declaredBucket)
    }
    if (partCols.isEmpty && declaredBucket.isDefined) {
      // streamed epochs into a BUCKETED table: cluster + sort on the
      // bucket transform (resolved through the catalog's function) so
      // each epoch task rolls single-bucket files
      import org.apache.spark.sql.connector.distributions.Distributions
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      val (n, c) = declaredBucket.get
      val expr = Expressions.bucket(n, c)
      // bucket id THEN key: each rolled file is key-sorted, the
      // invariant the grouped scan's ordering report stands on
      val orders = Array(Expressions.sort(expr, SortDirection.ASCENDING),
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      new GraftV1Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        override def requiredDistribution() = Distributions.clustered(Array(expr))
        override def requiredOrdering() = orders
      }
    } else if (partCols.isEmpty) new GraftV1Write
    else {
      // PARTITIONED BY reaches the STREAMING plan through the declared
      // distribution (the micro-batch planner applies it per epoch):
      // each epoch's staged files then carry prunable partition-column
      // ranges like every batch write. The V1 batch path above keeps
      // its own richer clustering (hash tiebreaker for hot values) —
      // V1 fallback plans bypass this interface.
      import org.apache.spark.sql.connector.distributions.Distributions
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      val orders = partCols.map(c => Expressions.sort(
        Expressions.column(c), SortDirection.ASCENDING)).toArray
      new GraftV1Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        override def requiredDistribution() = Distributions.ordered(orders)
        override def requiredOrdering() = orders
      }
    }
  }
}

class GraftStreamingWrite(path: String, schema: StructType, queryId: String,
    replace: Boolean, partCols: Seq[String] = Seq.empty,
    bucket: Option[(Int, String)] = None)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    // logical → physical names, same translation stage() applies: a
    // renamed table's streamed epochs share the files' frozen schema
    // (partition columns are rename-refused, so their names are stable)
    GraftStreamWriterFactory(
      ManifestTable.dataDirFor(path).toAbsolutePath.toString,
      ManifestTable.physicalWriteSchema(path, schema), partCols, bucket,
      GraftCatalog.readDeclaredCompression(Paths.get(path)))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case m: GraftDeltaCommitMessage =>
      m.upsertFiles }.flatten.toSeq.sorted
    val app = s"st-$queryId"
    val spark = SparkSession.active
    // replay check is the manifest's txn ledger: ONE latest-manifest
    // read per epoch, not an O(versions) commit-id scan that would grow
    // with stream lifetime (the commit retry loop rechecks under race)
    if (ManifestTable.lastTxn(path, app).exists(_ >= epochId)) {
      cleanup(files); return
    }
    if (files.isEmpty && !replace) return // empty batch: no version
    try ManifestTable.commitStagedFiles(spark, path, files, replace,
      Some(s"$app-$epochId"), appTxn = Some(app -> epochId))
    catch { case e: Throwable => cleanup(files); throw e }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    cleanup(messages.collect { case m: GraftDeltaCommitMessage =>
      m.upsertFiles }.flatten.toSeq)

  private def cleanup(files: Seq[String]): Unit = {
    val dir = Paths.get(path, "data")
    files.foreach(f => Files.deleteIfExists(dir.resolve(f)))
  }
}

/** A CTAS/RTAS in flight: its write lands files in the table's data
  * dir (invisible — no manifest references them) and
  * [[commitStagedChanges]] makes table + data real in one overwrite
  * commit. Abort deletes the staged files (and, for a CREATE, the
  * table skeleton), leaving what existed before untouched. */
class GraftStagedTable(ident: String, dir: Path, tableSchema: StructType,
    keys: Seq[String], created: Boolean, parts: Seq[String] = Seq.empty,
    checks: Seq[String] = Seq.empty,
    bucket: Option[(Int, String)] = None,
    zorder: Seq[String] = Seq.empty,
    codec: Option[String] = None)
  extends Table with SupportsWrite with StagedTable {

  private val path = dir.toString
  @volatile private var staged: Seq[String] = Seq.empty

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // staged IS a replace
      override def build(): Write =
        // a partitioned CTAS/RTAS asks Spark for an ORDERED distribution
        // on the partition columns (DSv2 RequiresDistributionAndOrdering
        // — the planner inserts the range shuffle + local sort), so the
        // staged files carry prunable single-value/tight ranges exactly
        // like the V1 insert path's repartitionByRange. A BUCKET layout
        // asks for a CLUSTERED distribution + sort on the bucket
        // transform instead — Spark resolves the transform through the
        // catalog's own bucket function, and the task writer rolls a
        // file per computed bucket id
        if (parts.isEmpty && bucket.isEmpty)
          new GraftStagedWrite(path, info.schema())
        else {
          import org.apache.spark.sql.connector.distributions.Distributions
          import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
          bucket match {
            case Some((n, c)) =>
              val expr = Expressions.bucket(n, c)
              // bucket id THEN key: staged files land key-sorted
              val orders = Array(Expressions.sort(expr, SortDirection.ASCENDING),
                Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
              new GraftStagedWrite(path, info.schema())
                with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
                override def requiredDistribution() =
                  Distributions.clustered(Array(expr))
                override def requiredOrdering() = orders
              }
            case None =>
              val orders = parts.map(c => Expressions.sort(
                Expressions.column(c), SortDirection.ASCENDING)).toArray
              new GraftStagedWrite(path, info.schema())
                with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
                override def requiredDistribution() = Distributions.ordered(orders)
                override def requiredOrdering() = orders
              }
          }
        }

      class GraftStagedWrite(path: String, writeSchema: StructType) extends Write {
        override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
          new org.apache.spark.sql.connector.write.BatchWrite {
            override def createBatchWriterFactory(
                pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
                : org.apache.spark.sql.connector.write.DataWriterFactory =
              GraftBatchWriterFactory(
                ManifestTable.dataDirFor(path).toAbsolutePath.toString,
                writeSchema, parts, bucket,
                // this CTAS/RTAS's declared codec, else the (RTAS-
                // surviving) existing declaration
                codec.orElse(GraftCatalog.readDeclaredCompression(dir)))
            override def commit(messages: Array[
                org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
              staged = messages.collect { case m: GraftDeltaCommitMessage =>
                m.upsertFiles }.flatten.toSeq.sorted
            override def abort(messages: Array[
                org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
              messages.collect { case m: GraftDeltaCommitMessage =>
                m.upsertFiles }.flatten
                .foreach(f => Files.deleteIfExists(Paths.get(path, "data", f)))
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    Files.write(dir.resolve(GraftCatalog.SchemaFile),
      tableSchema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (keys.nonEmpty)
      Files.writeString(dir.resolve(GraftCatalog.KeysFile), keys.mkString(","))
    val stagedLayout: Seq[GraftCatalog.PartTransform] =
      bucket.map { case (n, c) => GraftCatalog.BucketPart(n, c) }.toSeq ++
        parts.map(GraftCatalog.IdentityPart)
    if (stagedLayout.nonEmpty) {
      Files.writeString(dir.resolve(GraftCatalog.PartsFile),
        GraftCatalog.encodeLayout(stagedLayout))
      // a re-layout supersedes a declared z-order (mutually exclusive)
      Files.deleteIfExists(dir.resolve(GraftCatalog.ZOrderFile))
    } else Files.deleteIfExists(dir.resolve(GraftCatalog.PartsFile)) // RTAS re-layout
    if (zorder.nonEmpty)
      Files.writeString(dir.resolve(GraftCatalog.ZOrderFile),
        zorder.mkString(","))
    codec.foreach(c =>
      Files.writeString(dir.resolve(GraftCatalog.CompressionFile), c))
    if (checks.nonEmpty)
      GraftCatalog.writeDeclaredConstraints(dir, checks)
    // ONE overwrite commit: the staged files become the table's data
    // atomically; on RTAS the previous versions stay time-travelable
    // and table-level constraints (the contract) survive the replace.
    // resetMapping: the replacement's files carry the new query's own
    // names as fresh physical names — the old column mapping is void
    ManifestTable.commitStagedFiles(SparkSession.active, path, staged,
      replace = true, commitId = None, resetMapping = true)
    // a wholesale replace voids any ANALYZE estimates (absent beats wrong)
    if (!created) ColumnStats.invalidate(path)
    // DDL-declared CHECKs on the RTAS itself REDEFINE the contract (a
    // created table already picked them up from the sidecar at the
    // commit above; a replace swaps the inherited set in one more
    // metadata commit, validated against the fresh data)
    if (checks.nonEmpty && ManifestTable.constraints(path) != checks)
      ManifestTable.setConstraints(SparkSession.active, path, checks)
  }

  override def abortStagedChanges(): Unit = {
    staged.foreach(f => Files.deleteIfExists(Paths.get(path, "data", f)))
    if (created) {
      Files.deleteIfExists(dir.resolve(GraftCatalog.SchemaFile))
      Files.deleteIfExists(dir.resolve(GraftCatalog.KeysFile))
      Files.deleteIfExists(dir.resolve(GraftCatalog.PartsFile))
      Files.deleteIfExists(dir.resolve(GraftCatalog.GeneratedFile))
      Files.deleteIfExists(dir.resolve(GraftCatalog.ConstraintsFile))
      if (ManifestTable.versions(path).isEmpty) {
        val dd = Paths.get(path, "data")
        if (Files.isDirectory(dd) &&
            Using.resource(Files.list(dd))(!_.iterator().hasNext))
          Files.delete(dd)
        if (Using.resource(Files.list(dir))(!_.iterator().hasNext))
          Files.delete(dir)
      }
    }
  }
}

case class GraftBatchWriterFactory(dataDir: String, schema: StructType,
    partCols: Seq[String] = Seq.empty,
    bucket: Option[(Int, String)] = None,
    codec: Option[String] = None)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    new GraftAppendTaskWriter(dataDir, schema, partCols, bucket, codec)
}

case class GraftStreamWriterFactory(dataDir: String, schema: StructType,
    partCols: Seq[String] = Seq.empty,
    bucket: Option[(Int, String)] = None,
    codec: Option[String] = None)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    new GraftAppendTaskWriter(dataDir, schema, partCols, bucket, codec)
}

/** One task's rows → parquet files (lazily opened: an empty partition
  * writes nothing). On a PARTITIONED BY table (`partCols` non-empty,
  * rows arrive sorted on them — the plan's required ordering / the
  * stage-side local sort) the writer ROLLS to a new file whenever the
  * partition-value tuple changes, so every data file carries exactly
  * ONE partition value (min == max in its footer stats). That
  * single-value invariant is what turns the declared layout into a
  * reported [[org.apache.spark.sql.connector.read.partitioning
  * .KeyGroupedPartitioning]] on the read side: a value-joint file
  * would make the value→files grouping unsound (a value strictly
  * inside a file's [min,max] range is invisible to the manifest). */
class GraftAppendTaskWriter(dataDir: String, schema: StructType,
    partCols: Seq[String] = Seq.empty,
    bucket: Option[(Int, String)] = None,
    codec: Option[String] = None)
  extends org.apache.spark.sql.connector.write.DataWriter[
    org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.graft.ParquetRowWriter

  private val partIdx = partCols.map(schema.fieldIndex).toArray
  private val partTypes = partIdx.map(schema.fields(_).dataType)
  // bucket layout: (numBuckets, key index, key type) — the writer
  // computes each row's bucket id with the catalog-served function and
  // rolls on changes (rows arrive bucket-sorted via requiredOrdering),
  // naming files b<id>-<uuid> like the stage-side bucket path
  private val bucketSpec = bucket.map { case (n, c) =>
    (n, schema.fieldIndex(c), schema(c).dataType) }
  private var names: List[String] = Nil
  private var out: ParquetRowWriter.Writer = _
  private var curKey: Array[Any] = _
  private var curBucket: Int = Int.MinValue

  private def keyOf(row: org.apache.spark.sql.catalyst.InternalRow): Array[Any] =
    Array.tabulate(partIdx.length) { i =>
      row.get(partIdx(i), partTypes(i)) match {
        // rows are REUSED buffers upstream: copy buffer-backed values
        case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
        case other => other
      }
    }

  private def open(prefix: String = ""): Unit = {
    val name = s"$prefix${java.util.UUID.randomUUID()}.parquet"
    names = name :: names
    out = ParquetRowWriter.open(s"$dataDir/$name", schema, codec)
  }

  override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    bucketSpec match {
      case Some((n, idx, dt)) =>
        val id = GraftBucketFunction.bucketOf(row.get(idx, dt), dt, n)
        if (out == null || id != curBucket) {
          if (out != null) out.close()
          curBucket = id
          open(s"b$id-")
        }
      case None if partIdx.nonEmpty =>
        val k = keyOf(row)
        if (out == null) { curKey = k; open() }
        else if (!java.util.Arrays.equals(curKey.asInstanceOf[Array[AnyRef]],
            k.asInstanceOf[Array[AnyRef]])) {
          out.close(); curKey = k; open()
        }
      case None => if (out == null) open()
    }
    out.write(row)
  }

  /** Files written so far (used by [[StageTask]], which drives this
    * writer from a staging job instead of a DSv2 task). */
  def files: Seq[String] = names.reverse

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val msg = GraftDeltaCommitMessage(files, Seq.empty)
    close()
    msg
  }

  override def abort(): Unit = {
    close()
    names.foreach(n => Files.deleteIfExists(Paths.get(dataDir, n)))
  }

  override def close(): Unit =
    if (out != null) { out.close(); out = null }
}

/** The ONE bucket definition every surface shares — write routing
  * ([[ManifestTable]]'s bucket staging), scan grouping and point-lookup
  * pruning ([[GraftGroupedScan]]), and the SPJ-bound V2 function this
  * object serves through the catalog: `floorMod(xxhash64(col), n)`,
  * evaluated by the exact interpreter SQL `xxhash64` uses (seed 42), so
  * a bucket id computed in a plan expression and one computed here can
  * never drift. */
object GraftBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {

  val Seed = 42L

  private[sources] def supportedKeyType(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** Catalyst-typed key value (UTF8String for strings) → bucket id. */
  def bucketOf(value: Any, dt: DataType, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(value, dt, Seed)
    java.lang.Math.floorMod(h, n.toLong).toInt
  }

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): floorMod(xxhash64(col, seed=42), n)"

  override def bind(input: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(input.fields.length == 2,
      s"bucket takes (numBuckets, key); got ${input.catalogString}")
    val keyType = input.fields(1).dataType
    require(supportedKeyType(keyType),
      s"bucket key type ${keyType.catalogString} unsupported " +
        "(int, bigint, string)")
    new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(org.apache.spark.sql.types.IntegerType, keyType)
      override def resultType(): DataType =
        org.apache.spark.sql.types.IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket(xxhash64:42)"
      override def isResultNullable: Boolean = false
      override def produceResult(
          row: org.apache.spark.sql.catalyst.InternalRow): Integer =
        bucketOf(row.get(1, keyType), keyType, row.getInt(0))
    }
  }
}

/** Read-only `SHOW PARTITIONS` over identity-layout tables
  * ([[org.apache.spark.sql.connector.catalog.SupportsPartitionManagement]]).
  * Partitions here are DERIVED from data — stats-backed single-value
  * files enumerate them without a scan; a snapshot holding any
  * value-joint or stat-less file falls back to a distinct scan so the
  * listing is always exact. Partition DDL (ADD/DROP PARTITION) is
  * refused: the layout owns file boundaries, there is nothing to
  * pre-create and dropping data by partition is `DELETE WHERE`. */
trait GraftPartitionListing
  extends org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  self: GraftSqlTable =>

  override def partitionSchema(): StructType =
    StructType(partCols.map(c => schema()(c)))

  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    val nameIdx = names.map(ps.fieldIndex)
    def matches(row: Seq[Any]): Boolean =
      nameIdx.zipWithIndex.forall { case (pi, ai) =>
        val want = ident.get(ai, ps.fields(pi).dataType)
        val got = row(pi)
        if (want == null) got == null else want == got
      }
    val fromStats: Option[Seq[Seq[Any]]] = {
      if (ManifestTable.versions(path).isEmpty) Some(Seq.empty)
      // a MoR delete ledger can fully empty a partition while its data
      // file stays live — the stats path would list a ghost partition;
      // exactness demands the reconciled distinct scan
      else if (ManifestTable.snapshotAt(path, snapshot)
          .exists(_.deletes.nonEmpty)) None
      else {
        val stats = ManifestTable.fileStats(path, snapshot)
        val files = ManifestTable.dataFiles(path, snapshot)
        val parsed = files.map { f =>
          val st = stats.getOrElse(f, Map.empty)
          val vals = ps.fields.toSeq.map { fld =>
            st.get(fld.name) match {
              case Some(cs) if cs.min == cs.max &&
                  !cs.unit.contains("allnull") =>
                fld.dataType match {
                  case org.apache.spark.sql.types.IntegerType => Some(cs.min.toInt)
                  case org.apache.spark.sql.types.LongType => Some(cs.min.toLong)
                  case org.apache.spark.sql.types.FloatType => Some(cs.min.toFloat)
                  case org.apache.spark.sql.types.DoubleType => Some(cs.min.toDouble)
                  case org.apache.spark.sql.types.StringType =>
                    Some(org.apache.spark.unsafe.types.UTF8String
                      .fromString(cs.min))
                  case _ => None
                }
              case _ => None
            }
          }
          if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
        }
        if (parsed.exists(_.isEmpty)) None else Some(parsed.map(_.get).distinct)
      }
    }
    val tuples = fromStats.getOrElse {
      // exactness over metadata-speed: joint/stat-less files scan
      val spark = SparkSession.active
      ManifestTable.read(spark, path, snapshot)
        .select(partCols.map(org.apache.spark.sql.functions.col): _*)
        .distinct().collect().toSeq.map(r => ps.fields.indices.map { i =>
          r.get(i) match {
            case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
            case other => other
          }
        })
    }
    tuples.filter(matches).map(t =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        t.toArray): org.apache.spark.sql.catalyst.InternalRow).toArray
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions are derived from data; write rows instead")

  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "graft partitions are derived from data; DELETE WHERE instead")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions carry no metadata")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap()
}

/** The pushed-aggregate result — one row for global aggregates, one per
  * partition tuple for partition-column GROUP BYs — computed entirely
  * from the manifest: the scan never opens a data file (the spec proves
  * it by answering with the data directory moved aside).
  * [[graft.plans.GraftReadStrategy]] plans it as a local relation of
  * [[internalRows]], so the answer starts no Spark job. */
class GraftMetaAggScan(path: String, aggSchema: StructType,
    rows: Seq[Seq[Any]]) extends Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftMetaAggScan path=$path (manifest-only aggregate, ${rows.size} rows)"

  private[graft] def internalRows: Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(aggSchema)
    rows.map(r => toCatalyst(org.apache.spark.sql.Row.fromSeq(r))
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
  }
}
