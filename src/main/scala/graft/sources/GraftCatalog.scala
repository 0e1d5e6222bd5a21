package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, NoSuchViewException, TableAlreadyExistsException,
  ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier,
  NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog,
  SupportsNamespaces, SupportsWrite, Table, TableCatalog, TableChange,
  View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A CatalogPlugin exposing the graft-log table format through SQL DDL
  * [EXT] — the last layer of the custom-connector stack: with
  *   spark.sql.catalog.graftcat = graft.sources.GraftCatalog
  * the engine's own format drives end to end from plain SQL:
  *   CREATE NAMESPACE graftcat.db;
  *   CREATE TABLE graftcat.db.t (id BIGINT, v DOUBLE);
  *   INSERT INTO graftcat.db.t SELECT ...;   -- manifest-committed
  *   SELECT ... FROM graftcat.db.t;          -- snapshot-isolated
  * Layout: one directory per table under the warehouse root
  * (`warehouse` catalog option), namespace = subdirectory — the same
  * path a metastore-backed catalog industrializes. A table exists iff
  * its `_schema` file does (written at CREATE, before any data), so
  * existence is as atomic as the file create. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog with StagingTableCatalog {
  private var catName: String = _
  private var warehouse: String = _

  /** `CALL graftcat.system.<proc>(...)` — SQL-driven table
    * maintenance (compact/vacuum/optimize_zorder/restore), the
    * Iceberg procedure surface on Spark 4's ProcedureCatalog API. */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(warehouse, ident)
  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(Array(GraftProcedures.Namespace)))
      GraftProcedures.All.map(n => Identifier.of(ns, n)).toArray
    else Array.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    // default warehouse under the 0700 per-user scratch root — a fixed
    // world-writable /tmp name would let another local user pre-plant
    // table directories the catalog then trusts
    warehouse = Option(options.get("warehouse"))
      .getOrElse(new File(graft.core.ArtifactCache
        .userScopedRoot("warehouse"), name).getPath)
    new File(warehouse).mkdirs()
  }
  override def name(): String = catName

  /** Announces CHECK-constraint and column-DEFAULT DDL support —
    * without these the analyzer rejects `ALTER TABLE ... ADD
    * CONSTRAINT` / `DEFAULT` clauses before they reach the catalog.
    * Defaults ride the schema's field METADATA (Spark encodes them
    * there and fills omitted columns engine-side at INSERT), which the
    * format's schema JSON already persists byte-for-byte. */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.Set.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Traversal guard at the single ident→path choke point: EVERY
    * identifier part — including on the READ path, which skips
    * [[validateName]]'s creation-time policy — must be a plain
    * directory entry. Without this a backquoted `../../tmp/evil`
    * SELECT would read (and DROP would act) outside the warehouse
    * root. Creation-time policy ('$', dot prefix) stays in
    * [[validateName]]: an externally-created oddly-named directory
    * must still resolve for listing, just never escape. */
  private def noTraversal(parts: Seq[String]): Unit =
    parts.foreach(p => require(p.nonEmpty && p != "." && p != ".." &&
      !p.contains('/') && !p.contains('\\'),
      s"invalid graft identifier part '$p': parts are directory " +
        "entries and may not be empty, '.', '..', or contain path " +
        "separators"))

  private def tableDir(ident: Identifier): File = {
    noTraversal(ident.namespace.toSeq :+ ident.name)
    new File((warehouse +: ident.namespace :+ ident.name).mkString("/"))
  }
  private def nsDir(ns: Array[String]): File = {
    noTraversal(ns.toSeq)
    new File((warehouse +: ns).mkString("/"))
  }
  private def schemaFile(ident: Identifier): File =
    new File(tableDir(ident), GraftLog.SchemaFile)

  /** Catalog identifiers become DIRECTORY entries: reject separators
    * and traversal ('/', '\\', '..' — a backquoted `../../tmp/evil`
    * would write OUTSIDE the warehouse root), the reserved dot prefix
    * (collides with the hidden `.staged-*`/`.retired-*` layout and the
    * catalog-visibility filters), empty names, and '$' (the meta-table
    * suffix marker — a real table named `t$files` would be shadowed by
    * t's manifest listing at read time, or unreachable). */
  private def validateName(kind: String, name: String): Unit =
    require(name.nonEmpty && !name.contains("/") &&
      !name.contains("\\") && !name.contains("..") &&
      !name.startsWith(".") && !name.contains("$"),
      s"invalid graft $kind name '$name': names become directory " +
        "entries and may not be empty, contain '/', '\\', '..', '$', " +
        "or start with '.'")

  /** A directory at a table identifier WITHOUT a schema marker is
    * either an empty husk (external-cleanup debris, safe to clear) or
    * a real child NAMESPACE holding tables — creating over it (or
    * clearing it as a husk) would silently take every table in it.
    * Namespace = it has subdirectories. */
  private def isNamespaceDir(d: File): Boolean =
    d.isDirectory && Option(d.listFiles()).getOrElse(Array.empty)
      .exists(_.isDirectory)

  private def requireNotNamespace(ident: Identifier): Unit = {
    val d = tableDir(ident)
    if (!new File(d, GraftLog.SchemaFile).exists() && isNamespaceDir(d))
      throw new IllegalArgumentException(
        s"identifier ${ident.toString} collides with a NAMESPACE " +
          "holding tables — a table cannot be created over it")
  }

  override def tableExists(ident: Identifier): Boolean =
    schemaFile(ident).exists()

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val d = nsDir(ns)
    if (!d.isDirectory) throw new NoSuchNamespaceException(ns)
    Option(d.listFiles()).getOrElse(Array.empty)
      // dot-prefixed siblings are in-flight CTAS stagings / retired
      // replaced tables — layout-internal, never catalog-visible
      .filter(f => !f.getName.startsWith(".") &&
        new File(f, GraftLog.SchemaFile).exists())
      .map(f => Identifier.of(ns, f.getName))
  }

  /** Iceberg-style `$suffix` metadata tables: suffix → (schema, rows)
    * pair, all served by one [[GraftLogMetaTable]] whose rows are
    * listed at planning time and scanned as [[LocalRows]] (a plain
    * `SELECT *` runs no Spark job). The
    * tables: `t$files` manifest listing, `t$history` versions, `t$refs`
    * tags, `t$branches`, `t$txns` markers, `t$cdc` typed-feed coverage,
    * `t$stats` ANALYZE-at-metadata-cost, `t$partitions` layout — the
    * introspection surface maintenance jobs and sync planners read. */
  private val MetaTables: Seq[(String, GraftLogMetaTable.Def)] = Seq(
    "$files" -> GraftLogMetaTable.Files,
    "$history" -> GraftLogMetaTable.History,
    "$refs" -> GraftLogMetaTable.Refs,
    "$branches" -> GraftLogMetaTable.Branches,
    "$txns" -> GraftLogMetaTable.Txns,
    "$cdc" -> GraftLogMetaTable.Cdc,
    "$stats" -> GraftLogMetaTable.Stats,
    "$partitions" -> GraftLogMetaTable.Partitions)

  override def loadTable(ident: Identifier): Table = {
    MetaTables.foreach { case (suffix, (schema, rows)) =>
      if (ident.name.endsWith(suffix)) {
        val base = Identifier.of(ident.namespace,
          ident.name.stripSuffix(suffix))
        if (!tableExists(base)) throw new NoSuchTableException(base)
        return new GraftLogMetaTable(suffix, tableDir(base).getPath,
          schema, rows)
      }
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftLogTable(tableDir(ident).getPath, StructType(Nil))
  }

  /** SQL time travel: `SELECT ... FROM graftcat.ns.t VERSION AS OF v`
    * resolves here — the returned table pins every scan to the
    * manifest snapshot at version `v`. A non-numeric argument is a
    * NAMED REF (`VERSION AS OF 'gold'`, the Iceberg tag idea),
    * resolved against the table's `_refs` file. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident).getPath
    new GraftLogTable(dir, StructType(Nil),
      asOfVersion = GraftLog.resolveVersion(dir, version))
  }

  /** `TIMESTAMP AS OF t` time travel: Spark hands the timestamp in
    * MICROseconds since epoch; it resolves to the newest version whose
    * commit stamp (manifest `ts`, millis) is at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident).getPath
    new GraftLogTable(dir, StructType(Nil),
      asOfVersion = GraftLog.versionAtTimestamp(dir, timestamp / 1000L))
  }

  /** `PARTITIONED BY (col)` — identity transforms only: the value-
    * routed writer, manifest partition records, and KeyGrouped scan
    * reporting (storage-partitioned joins) all key on one column. */
  private def identityPartCol(schema: StructType,
      partitions: Array[Transform]): Option[String] =
    partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" &&
          t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        val c = t.references()(0).fieldNames()(0)
        // resolve case-INSENSITIVELY (Spark's default resolver
        // accepts `PARTITIONED BY (ID)` against column `id`) and key
        // everything downstream on the schema's canonical casing
        val resolved = schema.fields
          .find(_.name.equalsIgnoreCase(c)).map(_.name)
        require(resolved.isDefined,
          s"partition column $c is not in the table schema")
        resolved
      case other => throw new UnsupportedOperationException(
        "graft-log supports only PARTITIONED BY (<column>) " +
          s"(single identity transform), got ${other.mkString(", ")}")
    }

  /** Materialize a table layout into `dir` (final or staged). The
    * schema file IS the existence marker; an empty table needs no
    * commit (version -1, empty snapshot) — the first INSERT claims
    * `_commit.0`. */
  private def materializeTable(dir: File, schema: StructType,
      partCol: Option[String],
      properties: JMap[String, String] = null): GraftLogTable = {
    dir.mkdirs()
    GraftLog.atomicWrite(Paths.get(dir.getPath, GraftLog.SchemaFile),
      schema.json.getBytes(StandardCharsets.UTF_8))
    partCol.foreach(GraftLog.setPartitionCol(dir.getPath, _))
    // persist CREATE-time TBLPROPERTIES, minus the engine-reserved
    // keys Spark injects (owner/provider/location/...)
    Option(properties).foreach { ps =>
      import scala.jdk.CollectionConverters._
      val reserved = Set(TableCatalog.PROP_COMMENT,
        TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
        TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
        TableCatalog.PROP_IS_MANAGED_LOCATION)
      val kept = ps.asScala.view.filterKeys(!reserved(_)).toMap
      if (kept.nonEmpty) GraftLog.setProperties(dir.getPath, kept)
    }
    new GraftLogTable(dir.getPath, schema)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    validateName("table", ident.name)
    requireNotNamespace(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // a VIEW with this name would shadow the new table at read time
    // (view resolution substitutes before table lookup) — reject the
    // collision at creation, the same contract createView enforces in
    // the other direction
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    materializeTable(tableDir(ident), schema,
      identityPartCol(schema, partitions), properties)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ------------------
  // Without staging, Spark's CreateTableAsSelect commits the table
  // BEFORE the write (a crashed query strands an empty committed
  // table) and ReplaceTableAsSelect DROPS the old table before the
  // new data exists (a failed query loses the table outright). The
  // staged path builds the whole table in a hidden `.staged-*`
  // sibling directory and moves it into place only when the write
  // committed — create is one atomic directory move; replace retires
  // the old directory only after the replacement is fully built.

  private def stagedDir(ident: Identifier): File =
    new File(nsDir(ident.namespace),
      s".staged-${java.util.UUID.randomUUID()}-${ident.name}")

  /** `replaceable`: None = pure CREATE (commit fails loudly if the
    * name was claimed mid-build); Some(mustExist) = REPLACE semantics. */
  private class GraftStagedTable(ident: Identifier, tmp: File,
      inner: GraftLogTable, replace: Boolean)
      extends StagedTable with SupportsWrite {
    override def name(): String = inner.name()
    override def schema(): StructType = inner.schema()
    override def partitioning(): Array[Transform] = inner.partitioning()
    override def capabilities(): java.util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      inner.capabilities()
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
        org.apache.spark.sql.connector.write.WriteBuilder =
      inner.newWriteBuilder(info)

    override def commitStagedChanges(): Unit = {
      val dest = tableDir(ident)
      // a directory without the schema marker is not a table — but it
      // may be a child NAMESPACE holding tables (a namespace is
      // exactly a schema-less dir), and clearing it as a "husk" would
      // delete every table in it. Only a dir with NO subdirectories
      // is debris; a namespace collision aborts the staging.
      if (dest.exists() &&
          !new File(dest, GraftLog.SchemaFile).exists()) {
        if (isNamespaceDir(dest)) {
          abortStagedChanges()
          throw new IllegalArgumentException(
            s"identifier ${ident.toString} collides with a NAMESPACE " +
              "holding tables — staged commit aborted")
        }
        rmTree(dest)
      }
      if (dest.exists()) {
        if (!replace) {
          abortStagedChanges()
          throw new TableAlreadyExistsException(ident)
        }
        // The replacement CONTINUES the old table's version axis (its
        // snapshot becomes one checkpoint at the old head + 1, with no
        // history below it): every incremental consumer's
        // applied-through marker then sits below the new horizon and
        // re-bootstraps or fails loudly, instead of reading the
        // replacement's restarted versions as the old table's. Done on
        // the staged dir BEFORE the swap, so no window shows the new
        // table on the old axis.
        GraftLog.continueVersions(tmp.getPath, dest.getPath)
        // retire the old table only now, with the replacement fully
        // built: the one non-atomic window is between these two
        // renames (crash = table briefly absent, old data parked in
        // the `.retired-*` sibling for manual recovery — never lost,
        // which is the failure Spark's non-staged RTAS has)
        val trash = new File(nsDir(ident.namespace),
          s".retired-${java.util.UUID.randomUUID()}-${ident.name}")
        Files.move(dest.toPath, trash.toPath)
        try Files.move(tmp.toPath, dest.toPath)
        catch { case e: Throwable =>
          Files.move(trash.toPath, dest.toPath); throw e
        }
        rmTree(trash)
      } else Files.move(tmp.toPath, dest.toPath)
    }

    override def abortStagedChanges(): Unit = rmTree(tmp)
  }

  private def rmTree(root: File): Unit = if (root.exists()) {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root.toPath)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    validateName("table", ident.name)
    requireNotNamespace(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    val tmp = stagedDir(ident)
    new GraftStagedTable(ident, tmp,
      materializeTable(tmp, schema, identityPartCol(schema, partitions),
        properties),
      replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    validateName("table", ident.name)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val tmp = stagedDir(ident)
    new GraftStagedTable(ident, tmp,
      materializeTable(tmp, schema, identityPartCol(schema, partitions),
        properties),
      replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    validateName("table", ident.name)
    requireNotNamespace(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    val tmp = stagedDir(ident)
    new GraftStagedTable(ident, tmp,
      materializeTable(tmp, schema, identityPartCol(schema, partitions),
        properties),
      replace = true)
  }

  /** The DDL face of the format's schema evolution: ADD COLUMN
    * (additive widen — always nullable: every pre-alter file predates
    * it and its rows read NULL), RENAME COLUMN (metadata-only via the
    * former-name trail), and DROP COLUMN (metadata-only narrow with a
    * tombstoned name). Type changes reject loudly — they would strand
    * the already-written part files. */
  // Serialized on the GraftLog monitor: the body is a read-modify-
  // write of `_schema`, and an unsynchronized ALTER racing a
  // concurrent append's schema MERGE (which persists under the same
  // lock) could write back its pre-merge snapshot — vanishing an
  // evolved column whose cells are already committed.
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = GraftLog.synchronized {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident).getPath
    val updated = changes.foldLeft(GraftLog.storedSchema(dir).get) {
      case (sch, add: TableChange.AddColumn) =>
        require(add.fieldNames.length == 1,
          "graft-log supports only top-level ADD COLUMN")
        val colName = add.fieldNames()(0)
        require(!sch.fieldNames.contains(colName),
          s"column $colName already exists")
        // NOT NULL would be instantly violated: every pre-alter row
        // reads NULL for the new column — reject rather than silently
        // downgrade the declared constraint.
        require(add.isNullable,
          s"graft-log ADD COLUMN $colName must be nullable: " +
            "existing rows read NULL for an added column")
        // pre-alter rows would read NULL, not the default — rejecting
        // beats silently dropping the declared default (defaults ARE
        // supported at CREATE TABLE, where no earlier rows exist)
        require(add.defaultValue() == null,
          s"graft-log ADD COLUMN $colName cannot carry a DEFAULT: " +
            "pre-alter rows read NULL, not the default " +
            "(declare defaults at CREATE TABLE)")
        // FIRST/AFTER would be silently ignored (columns only ever
        // append at the tail) — reject rather than store a different
        // order than the DDL asked for
        require(add.position() == null,
          s"graft-log ADD COLUMN $colName cannot take FIRST/AFTER: " +
            "columns append at the tail of the schema")
        // a renamed column's former name or a dropped column's
        // tombstone still keys cells in old part files — a new
        // column may not claim it
        require(!GraftLog.reservedNames(dir, sch).contains(colName),
          s"cannot add column '$colName': the name was previously " +
            "used by a renamed or dropped column (old files still " +
            "carry cells under it)")
        sch.add(org.apache.spark.sql.types.StructField(
          colName, add.dataType, nullable = true))
      // `ALTER TABLE t RENAME COLUMN a TO b` — metadata-only: the
      // schema field renames and records its former name, so every
      // pre-rename file keeps serving its data (and its stats/bloom
      // pruning) through the recorded trail. No part file changes.
      case (sch, rn: TableChange.RenameColumn) =>
        require(rn.fieldNames.length == 1,
          "graft-log supports only top-level RENAME COLUMN")
        // persist the fold state first: the helper reads the stored
        // schema, and an earlier change batched in this same ALTER
        // (e.g. an AddColumn) must not be silently dropped
        GraftLog.atomicWrite(schemaFile(ident).toPath,
          sch.json.getBytes(StandardCharsets.UTF_8))
        GraftLog.renameColumn(dir, rn.fieldNames()(0), rn.newName)
        GraftLog.storedSchema(dir).getOrElse(sch)
      // `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — metadata-only
      // type widening (the Delta 4.0 feature): cells are decimal
      // text, so re-typing the schema field re-decodes every file
      // exactly; lossy changes reject inside widenColumn.
      case (sch, up: TableChange.UpdateColumnType) =>
        require(up.fieldNames.length == 1,
          "graft-log supports only top-level ALTER COLUMN TYPE")
        GraftLog.atomicWrite(schemaFile(ident).toPath,
          sch.json.getBytes(StandardCharsets.UTF_8))
        GraftLog.widenColumn(dir, up.fieldNames()(0), up.newDataType)
        GraftLog.storedSchema(dir).getOrElse(sch)
      // `ALTER TABLE t DROP COLUMN c` — metadata-only: the stored
      // schema narrows (old files keep their now-invisible cells
      // until compaction physically purges them) and the name
      // tombstones so no later column resurrects the orphaned cells.
      case (sch, del: TableChange.DeleteColumn) =>
        require(del.fieldNames.length == 1,
          "graft-log supports only top-level DROP COLUMN")
        GraftLog.atomicWrite(schemaFile(ident).toPath,
          sch.json.getBytes(StandardCharsets.UTF_8))
        GraftLog.dropColumn(dir, del.fieldNames()(0))
        GraftLog.storedSchema(dir).getOrElse(sch)
      // `ALTER TABLE t ADD CONSTRAINT name CHECK (...)` — stored in the
      // table's `_constraints` file and reported ENFORCED via
      // Table.constraints(), so Spark's own write path validates every
      // subsequent INSERT/UPDATE/MERGE. Spark validates existing rows
      // at ALTER time before this change reaches the catalog.
      case (sch, add: TableChange.AddConstraint) =>
        add.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            GraftLog.addConstraint(dir, c.name, c.predicateSql())
            sch
          case other => throw new UnsupportedOperationException(
            s"graft-log supports only CHECK constraints, got $other")
        }
      case (sch, drop: TableChange.DropConstraint) =>
        GraftLog.dropConstraint(dir, drop.name, drop.ifExists)
        sch
      // `ALTER TABLE t SET TBLPROPERTIES (...)` / UNSET — stored in
      // the table's `_properties` file; `graft.compact.target-bytes`
      // sets the size at which THIS table's part files roll, on every
      // write (appends, rewrites, compaction).
      case (sch, set: TableChange.SetProperty) =>
        GraftLog.setProperties(dir, Map(set.property -> set.value))
        sch
      case (sch, rm: TableChange.RemoveProperty) =>
        GraftLog.removeProperties(dir, Seq(rm.property))
        sch
      case (_, other) => throw new UnsupportedOperationException(
        "graft-log tables support ADD/RENAME/DROP COLUMN, ALTER " +
          s"COLUMN TYPE widening, constraints, and properties — got $other")
    }
    GraftLog.atomicWrite(schemaFile(ident).toPath,
      updated.json.getBytes(StandardCharsets.UTF_8))
    new GraftLogTable(dir, StructType(Nil))
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    rmTree(tableDir(ident))
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    validateName("table", to.name)
    requireNotNamespace(to)
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    // the view resolution rule runs BEFORE table lookup, so a table
    // renamed onto a view name would be silently shadowed — the same
    // collision createTable and renameView reject
    if (viewExists(to)) throw new ViewAlreadyExistsException(to)
    nsDir(to.namespace).mkdirs()
    Files.move(tableDir(from).toPath, tableDir(to).toPath)
  }

  // -- SQL views (ViewCatalog): `CREATE VIEW graftcat.ns.v AS ...` --
  // Persisted as a `<name>.view` metadata file in the namespace
  // directory (base64-wrapped fields, one per line — the SQL text and
  // aliases are arbitrary strings). A view is a stored QUERY, resolved
  // and re-planned at read time against current table state, which is
  // exactly what makes it the governance surface of a warehouse: the
  // curated interface can evolve without rewriting a byte of data.

  // Same traversal guard as tableDir: the view NAME becomes a file
  // name, and every view path (exists/load/drop/rename/alter) resolves
  // through here — without it a backquoted `../../x` identifier would
  // read, delete, or move `<outside>.view` files past the warehouse
  // root (tables were guarded at their choke point; views were not).
  private def viewFile(ident: Identifier): File = {
    noTraversal(Seq(ident.name))
    new File(nsDir(ident.namespace), s"${ident.name}.view")
  }
  private val B64 = java.util.Base64.getEncoder
  // property KEYS sit before the '=' separator, so they encode
  // WITHOUT padding — a padded key's trailing '=' would be consumed
  // as the separator and the value become undecodable (the decoder
  // accepts unpadded input)
  private val B64NP = java.util.Base64.getEncoder.withoutPadding
  private val B64D = java.util.Base64.getDecoder
  private def enc(s: String): String =
    B64.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def encKey(s: String): String =
    B64NP.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def dec(s: String): String =
    new String(B64D.decode(s), StandardCharsets.UTF_8)

  override def viewExists(ident: Identifier): Boolean =
    viewFile(ident).exists()

  override def listViews(ns: String*): Array[Identifier] = {
    val d = nsDir(ns.toArray)
    if (!d.isDirectory) throw new NoSuchNamespaceException(ns.toArray)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".view"))
      .map(f => Identifier.of(ns.toArray,
        f.getName.stripSuffix(".view")))
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    validateName("view", ident.name)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    writeView(ident, info.sql, info.currentCatalog,
      info.currentNamespace, info.schema, info.queryColumnNames,
      info.columnAliases, info.columnComments,
      scala.jdk.CollectionConverters.MapHasAsScala(
        info.properties).asScala.toMap)
    loadView(ident)
  }

  private def writeView(ident: Identifier, sql: String,
      curCat: String, curNs: Array[String], schema: StructType,
      qCols: Array[String], aliases: Array[String],
      comments: Array[String], props: Map[String, String]): Unit = {
    val lines = Seq(
      s"sql=${enc(sql)}",
      s"catalog=${enc(curCat)}",
      s"namespace=${curNs.map(enc).mkString(",")}",
      s"schema=${enc(schema.json)}",
      s"qcols=${qCols.map(enc).mkString(",")}",
      s"aliases=${aliases.map(enc).mkString(",")}",
      // absent comments encode as the sentinel '-' (never a base64
      // char), NOT as an empty cell: the reader's empty-filtering
      // split would otherwise drop them POSITIONALLY and attach the
      // surviving comments to the wrong columns
      s"comments=${Option(comments).getOrElse(Array.empty[String])
        .map(c => Option(c).fold("-")(enc)).mkString(",")}") ++
      props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"prop.${encKey(k)}=${enc(v)}" }
    // atomic publish, matching the manifest/schema path — a crash
    // mid-write must not leave a truncated .view file
    GraftLog.atomicWrite(viewFile(ident).toPath,
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private def readView(ident: Identifier): Map[String, String] = {
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    new String(Files.readAllBytes(viewFile(ident).toPath),
      StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty)
      .map { l =>
        val i = l.indexOf('=')
        // legacy files wrote PADDED keys whose trailing '=' landed on
        // the separator side: base64 values never START with '=', so
        // stripping leading '='s from the value re-parses both
        // vintages correctly
        l.substring(0, i) -> l.substring(i + 1).dropWhile(_ == '=')
      }.toMap
  }

  override def loadView(ident: Identifier): View = {
    val m = readView(ident)
    def arr(k: String): Array[String] =
      m.getOrElse(k, "").split(",").filter(_.nonEmpty).map(dec)
    new View {
      override def name(): String =
        (catName +: ident.namespace :+ ident.name).mkString(".")
      override def query(): String = dec(m("sql"))
      override def currentCatalog(): String = dec(m("catalog"))
      override def currentNamespace(): Array[String] = arr("namespace")
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType.fromJson(dec(m("schema")))
          .asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = arr("qcols")
      override def columnAliases(): Array[String] = arr("aliases")
      override def columnComments(): Array[String] = {
        // length-preserving split: '-' (and a legacy empty cell) is
        // an ABSENT comment in place, keeping positions aligned with
        // the aliases; all-absent collapses to empty like the others
        val raw = m.getOrElse("comments", "")
        if (raw.isEmpty || raw.split(",", -1).forall(c =>
            c.isEmpty || c == "-")) Array.empty
        else raw.split(",", -1).map {
          case "" | "-" => null
          case v => dec(v)
        }
      }
      override def properties(): JMap[String, String] = {
        val p = new java.util.HashMap[String, String]()
        m.foreach { case (k, v) =>
          if (k.startsWith("prop.")) p.put(dec(k.drop(5)), dec(v)) }
        p
      }
    }
  }

  override def alterView(ident: Identifier,
      changes: ViewChange*): View = {
    val v = loadView(ident)
    val props = scala.collection.mutable.Map[String, String]() ++
      scala.jdk.CollectionConverters.MapHasAsScala(v.properties()).asScala
    changes.foreach {
      case s: ViewChange.SetProperty => props(s.property) = s.value
      case r: ViewChange.RemoveProperty => props.remove(r.property)
      case other => throw new UnsupportedOperationException(
        s"unsupported view change $other")
    }
    writeView(ident, v.query(), v.currentCatalog(),
      v.currentNamespace(), v.schema(), v.queryColumnNames(),
      v.columnAliases(), v.columnComments(), props.toMap)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewFile(ident).delete()

  override def renameView(from: Identifier, to: Identifier): Unit = {
    // creation-time policy on the TARGET, matching renameTable: a
    // rename onto a dot-prefixed or '$'-carrying name would create a
    // catalog-invisible or meta-table-shadowed view
    validateName("view", to.name)
    if (!viewExists(from)) throw new NoSuchViewException(from)
    if (viewExists(to) || tableExists(to))
      throw new ViewAlreadyExistsException(to)
    nsDir(to.namespace).mkdirs()
    Files.move(viewFile(from).toPath, viewFile(to).toPath)
  }

  // -- namespaces: plain subdirectories of the warehouse root --
  override def listNamespaces(): Array[Array[String]] =
    // same filters as the nested overload: dot-prefixed dirs are
    // layout-internal staging/retired debris, and a dir WITH a schema
    // marker is a root-level TABLE, not a namespace
    Option(new File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith(".") &&
        !new File(f, GraftLog.SchemaFile).exists())
      .map(f => Array(f.getName))
  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (!nsDir(ns).isDirectory) throw new NoSuchNamespaceException(ns)
    // child namespaces = subdirectories that are not tables (no
    // _schema) — SHOW NAMESPACES IN a must surface a.b, or nested
    // namespaces become undiscoverable while still usable
    Option(nsDir(ns).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith(".") &&
        !new File(f, GraftLog.SchemaFile).exists())
      .map(f => ns :+ f.getName)
  }
  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || nsDir(ns).isDirectory
  override def loadNamespaceMetadata(
      ns: Array[String]): JMap[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    java.util.Collections.emptyMap()
  }
  override def createNamespace(ns: Array[String],
      metadata: JMap[String, String]): Unit = {
    ns.foreach(validateName("namespace", _))
    nsDir(ns).mkdirs()
  }
  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")
  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsDir(ns)
    if (!d.isDirectory) return false
    // emptiness counts only catalog-VISIBLE entries: a crashed
    // RTAS's parked `.retired-*` dir (hidden from SHOW TABLES) must
    // not wedge a DROP of a namespace the user already emptied
    if (!cascade && Option(d.listFiles()).getOrElse(Array.empty)
        .exists(f => !f.getName.startsWith(".")))
      throw new IllegalStateException(s"namespace ${ns.mkString(".")} not empty")
    rmTree(d)
    true
  }
}
