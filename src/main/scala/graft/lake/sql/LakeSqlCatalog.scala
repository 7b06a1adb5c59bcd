package graft.lake.sql

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{LakeCatalog, LakePredicate, LakeTable, PartitionField, RowLevelOp}

/** DataSource V2 catalog plugin: makes the lake SQL-visible —
  * `spark.sql("SELECT * FROM <cat>.<ns>.<table>")` — the one surface the
  * reference never exposed (it hands back `getCatalog()` for API use,
  * LocalIcebergCatalog.java:193-195) but the first thing a Spark user
  * reaches for. Register with:
  *
  * {{{
  *   spark.sql.catalog.lake           = graft.lake.sql.LakeSqlCatalog
  *   spark.sql.catalog.lake.warehouse = /path/to/warehouse
  * }}}
  *
  * DDL supported: CREATE/DROP NAMESPACE, CREATE TABLE (identity /
  * years / months / days / hours / bucket partition transforms), DROP
  * TABLE, SHOW TABLES/NAMESPACES, INSERT INTO / INSERT OVERWRITE,
  * VERSION AS OF / TIMESTAMP AS OF. Reads resolve a snapshot's live
  * files at analysis time (manifest stats pruning on pushed filters)
  * and scan them through Spark's native vectorized parquet source, so
  * column pruning and row-group pushdown come for free. Writes route
  * through the V1 bridge into the MANIFEST COMMIT PROTOCOL — an
  * append or atomic-replace snapshot, never a bare parquet write —
  * and historical (AS OF) handles are read-only. `DELETE FROM …
  * WHERE` routes through the table's row-level planner when the whole
  * condition is expressible as manifest predicates (refused loudly
  * otherwise — never partially applied); UPDATE/MERGE reach the same
  * planner through [[LakeSqlExtensions]].
  */
class LakeSqlCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog with ViewCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var catalogName: String = _
  private var lake: LakeCatalog = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option 'warehouse' (spark.sql.catalog.$name.warehouse)"))
    // SQL scans report through the same observability surface as API
    // scans (planFiles fires ScanReport on every SELECT)
    lake = LakeCatalog.open(wh, LakeSqlCatalog.metrics)
  }

  override def name(): String = catalogName

  /** The underlying Scala-API catalog (the reference's getCatalog). */
  def lakeCatalog: LakeCatalog = lake

  // ---- ProcedureCatalog: CALL <cat>.system.<proc>(...) — the Iceberg
  // maintenance-procedure surface (rollback, expiry, compaction, orphan
  // sweep, write order) over the transactional Scala API ----

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(Array("system")))
      throw new NoSuchNamespaceException(ident.namespace)
    LakeProcedures.all(lake).getOrElse(ident.name,
      throw new NoSuchElementException(
        s"no procedure $catalogName.system.${ident.name}; available: " +
          LakeProcedures.all(lake).keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      LakeProcedures.all(lake).keys.toSeq.sorted
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---- FunctionCatalog: the partition transforms as loadable V2
  // functions — Spark resolves `bucket(n, col)` clustering expressions
  // in a reported KeyGroupedPartitioning against THIS surface (empty
  // namespace, the resolution path V2ExpressionUtils uses; `system`
  // also answers for symmetry with procedures) ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      LakeFunctions.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty || ident.namespace.sameElements(Array("system")))
      LakeFunctions.unbound(ident.name).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  private def ns1(namespace: Array[String]): String = namespace match {
    case Array(ns) => ns
    case _ => throw new NoSuchNamespaceException(namespace)
  }

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] =
    lake.listTables(ns1(namespace)).map(Identifier.of(namespace, _)).toArray

  override def loadTable(ident: Identifier): Table = ident.namespace match {
    case Array(ns) =>
      if (!lake.tableExists(ns, ident.name)) throw new NoSuchTableException(ident)
      new LakeSqlTable(lake.loadTable(ns, ident.name))
    // metadata tables, Iceberg-style: `cat.ns.t.snapshots` arrives as
    // namespace [ns, t] + name "snapshots"
    case Array(ns, tbl) if LakeMetadataTables.kinds(ident.name)
        && lake.tableExists(ns, tbl) =>
      LakeMetadataTables.table(lake.loadTable(ns, tbl), ident.name)
    // the streaming changelog handle, Iceberg-style: `cat.ns.t.changes`
    case Array(ns, tbl) if ident.name == "changes"
        && lake.tableExists(ns, tbl) =>
      new LakeChangesTable(lake.loadTable(ns, tbl))
    case _ => throw new NoSuchTableException(ident)
  }

  /** SQL time travel, VERSION AS OF <snapshotId> — or a REF NAME
    * (`VERSION AS OF 'audit'`): tags and branch heads resolve to their
    * pinned snapshot. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val ns = ns1(ident.namespace)
    if (!lake.tableExists(ns, ident.name)) throw new NoSuchTableException(ident)
    val lt = lake.loadTable(ns, ident.name)
    val id = scala.util.Try(version.toLong).toOption
      // 'main' = the current head by name (same resolution as scanRef;
      // under spark.wap.branch it is the escape hatch that reads the
      // UNstaged state from an auditing session)
      .orElse(if (version == "main") Some(lt.currentSnapshotId) else None)
      .orElse(lt.metadata.refs.get(version).map(_.snapshotId)).getOrElse(
        throw new IllegalArgumentException(
          s"version '$version' is neither a snapshot id nor a ref of ${lt.name}"))
    require(lt.metadata.snapshot(id).isDefined, s"no snapshot $id in ${lt.name}")
    new LakeSqlTable(lt, Some(id))
  }

  /** SQL time travel, TIMESTAMP AS OF — `timestampMicros` per the V2
    * contract; resolves to the latest snapshot committed at or before
    * that instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val ns = ns1(ident.namespace)
    if (!lake.tableExists(ns, ident.name)) throw new NoSuchTableException(ident)
    val lt = lake.loadTable(ns, ident.name)
    val cutoffMs = timestampMicros / 1000L
    val snap = lt.snapshots.filter(_.timestampMs <= cutoffMs)
      .sortBy(_.id).lastOption.getOrElse(
        // the table EXISTS — claiming NoSuchTable would send the user
        // debugging the wrong problem (VERSION AS OF errors the same way)
        throw new IllegalArgumentException(
          s"no snapshot of ${lt.name} at or before timestamp ${cutoffMs}ms " +
            s"(first commit: ${lt.snapshots.map(_.timestampMs).minOption.getOrElse(-1L)}ms)"))
    new LakeSqlTable(lt, Some(snap.id))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && lake.tableExists(ident.namespace.head, ident.name)

  /** DDL column DEFAULTs are accepted (SQL `CREATE TABLE (c INT
    * DEFAULT 5)` / `ALTER TABLE ADD COLUMN c INT DEFAULT 5`): Spark
    * folds them to literals before they reach the catalog; they land in
    * the table metadata's ID-keyed initial-defaults. */
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // lift column DEFAULTs out of the field metadata (Spark encodes
    // them as CURRENT/EXISTS_DEFAULT keys) into the ID-keyed
    // initial-defaults; the stored schema stays metadata-clean and
    // schemaWithFieldIds re-exposes them from the single source
    val existsKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .EXISTS_DEFAULT_COLUMN_METADATA_KEY
    val currentKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .CURRENT_DEFAULT_COLUMN_METADATA_KEY
    val defaults = schema.fields.collect {
      case f if f.metadata.contains(existsKey) =>
        f.name -> f.metadata.getString(existsKey)
    }
    val cleaned = StructType(schema.fields.map { f =>
      val b = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(existsKey).remove(currentKey)
      f.copy(metadata = b.build())
    })
    createTableWithDefaults(ident, cleaned, defaults, partitions, properties)
  }

  // ---- StagingTableCatalog: ATOMIC CTAS / RTAS ----
  // Spark's fallback without this catalog is non-atomic: CTAS exposes
  // an empty-then-partial table while the query runs, RTAS literally
  // drops the old table before writing the new one (a crash loses
  // both). Staged, the data files are written FIRST — into the final
  // table location under ephemeral metadata carrying the new schema's
  // positional field ids, invisible because nothing references them —
  // and visibility is ONE CAS: createTableWithData's v1.json already
  // holds the data snapshot; replaceContentsWith swaps schema, spec,
  // ids and data in one commit. Abort deletes the staged files.

  private sealed trait StageMode
  private object StageCreate extends StageMode
  private object StageReplace extends StageMode
  private object StageCreateOrReplace extends StageMode

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident))
      throw new IllegalArgumentException(s"table $ident already exists")
    new StagedLakeTable(ns1(ident.namespace), ident.name, info, StageCreate)
  }

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new StagedLakeTable(ns1(ident.namespace), ident.name, info, StageReplace)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    new StagedLakeTable(ns1(ident.namespace), ident.name, info, StageCreateOrReplace)

  private final class StagedLakeTable(ns: String, tname: String,
      info: org.apache.spark.sql.connector.catalog.TableInfo, mode: StageMode)
      extends org.apache.spark.sql.connector.catalog.StagedTable
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    private val tschema = info.schema()
    private val spec = info.partitions().toSeq.map(LakeSqlCatalog.toPartitionField)
    // TBLPROPERTIES carry through like the non-staged DDL path:
    // write.sort-order parses to the clustering config, write.* keys
    // persist, Spark-reserved keys (provider/location/owner/…) stay out
    private val rawProps = info.properties().asScala.toMap
    private val (sortOrder, orderKind) = rawProps.get("write.sort-order")
      .map(LakeSqlCatalog.parseSortOrder).getOrElse((Nil, "linear"))
    private val userProps = rawProps.filter { case (k, _) =>
      k.startsWith("write.") && k != "write.sort-order" }
    // location rename-resolved: RTAS on a renamed table must stage its
    // files under the directory that PHYSICALLY hosts the table (the
    // orphan sweep walks only metadata.location — files staged under
    // the name's own dir would leak forever)
    private val template = graft.lake.TableMetadata(s"$ns.$tname",
      lake.tableRoot(ns, tname).uri, tschema, spec,
      snapshots = Nil, currentSnapshotId = -1L,
      properties = userProps, sortOrder = sortOrder,
      sortOrderKind = orderKind).withFieldIdDefaults
    @volatile private var staged: Seq[graft.lake.DataFileEntry] = Nil

    override def name(): String = s"$ns.$tname"
    override def schema(): StructType = tschema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

    override def newWriteBuilder(
        winfo: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder = {
      import org.apache.spark.sql.connector.write.{SupportsTruncate, V1Write, WriteBuilder}
      new WriteBuilder with SupportsTruncate {
        // the staged table has no prior data — truncate is vacuous
        override def truncate(): WriteBuilder = this
        override def build(): org.apache.spark.sql.connector.write.Write =
          new V1Write {
            override def toInsertableRelation
                : org.apache.spark.sql.sources.InsertableRelation =
              (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
                val writer = new graft.lake.LakeTable(
                  lake, ns, tname, template, 0)
                val aligned = data.select(tschema.fields.map(f =>
                  org.apache.spark.sql.functions.col(f.name)
                    .cast(f.dataType).as(f.name)): _*)
                staged = writer.writeDataFiles(aligned)
                ()
              }
          }
      }
    }

    private def create(): Unit = {
      lake.createTableWithData(ns, tname, tschema, spec, staged,
        properties = userProps, sortOrder = sortOrder,
        sortOrderKind = orderKind)
      ()
    }

    override def commitStagedChanges(): Unit = mode match {
      case StageCreate => create()
      case StageReplace =>
        lake.loadTable(ns, tname).replaceContentsWith(template, staged); ()
      case StageCreateOrReplace =>
        // exists-check-then-act retries: a concurrent creator between
        // the check and the create CAS must flip the loser to the
        // replace arm (and a concurrent drop flips it back) — CREATE
        // OR REPLACE never fails with already-exists/no-such-table
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          try {
            if (lake.tableExists(ns, tname))
              lake.loadTable(ns, tname).replaceContentsWith(template, staged)
            else create()
            done = true
          } catch {
            // keyed on the dedicated TYPES, not message text: only the
            // two genuine race outcomes retry (a concurrent creator won
            // the name / a concurrent drop took it), and a wording
            // change or an unrelated failure that happens to mention
            // "already exists" (e.g. a view-name collision) surfaces
            // immediately instead of spinning 4 times
            case _: graft.lake.LakeTableExistsException if attempts < 5 => ()
            case _: graft.lake.LakeNoSuchTableException if attempts < 5 => ()
          }
        }
    }

    override def abortStagedChanges(): Unit =
      staged.foreach(e => scala.util.Try(graft.lake.DataFs.delete(e.path)))
  }

  private def createTableWithDefaults(ident: Identifier, schema: StructType,
      defaults: Seq[(String, String)],
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val spec = partitions.toSeq.map(LakeSqlCatalog.toPartitionField)
    // TBLPROPERTIES ('write.sort-order'='c1,c2') = the Scala API's
    // createTable(sortOrder); 'zorder(c1,c2)' = setZOrder — both
    // clustering-on-write forms from SQL DDL
    val (sortOrder, orderKind) = Option(properties.get("write.sort-order"))
      .map(LakeSqlCatalog.parseSortOrder).getOrElse((Nil, "linear"))
    val t = lake.createTable(ns1(ident.namespace), ident.name, schema, spec, sortOrder,
      sortOrderKind = orderKind)
    // persist the user's write-config properties (the write-mode
    // family), read-path tuning (read.*), and the materialized-view
    // stored spec (incr-view.*); Spark-reserved keys
    // (provider/location/owner/...) and the sort order (already in
    // metadata proper) stay out
    properties.asScala.foreach { case (k, v) =>
      if ((k.startsWith("write.") || k.startsWith("read.") ||
          k.startsWith("incr-view.")) && k != "write.sort-order")
        t.refresh().setProperty(k, v)
    }
    defaults.foreach { case (colName, sql) =>
      t.refresh().setInitialDefault(colName, sql)
    }
    loadTable(ident)
  }

  /** SQL ALTER TABLE — translated to ONE atomic [[graft.lake.SchemaChange]]
    * batch through the same transactional evolution commit the Scala
    * API uses: all changes in a statement land in a single metadata CAS
    * or none do (the V2 contract — a failing change must not leave the
    * statement half-applied). Renames keep the field ID so pre-rename
    * files resolve by ID; no data file or manifest is ever rewritten.
    * Add/rename/drop accept NESTED struct fields as dotted paths
    * (`ALTER TABLE t RENAME COLUMN s.f TO g`) — nested fields are
    * field-ID addressed like top-level columns; type changes stay
    * top-level-only and repositioning is unsupported — both fail loudly
    * BEFORE anything commits. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import graft.lake.SchemaChange
    val ns = ns1(ident.namespace)
    if (!lake.tableExists(ns, ident.name)) throw new NoSuchTableException(ident)
    val t = lake.loadTable(ns, ident.name)
    def path(fieldNames: Array[String]): String = fieldNames.mkString(".")
    def pathExists(p: Array[String]): Boolean =
      graft.lake.TableMetadata.fieldPaths(t.schema).contains(path(p))
    // SET/UNSET TBLPROPERTIES: each is its own metadata CAS commit
    // (properties don't interact with the schema batch's atomicity)
    val (propChanges, schemaChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    propChanges.foreach {
      // write.sort-order routes through the REAL sort-order metadata,
      // exactly like the CREATE TABLE path — a plain property write
      // would be a silent no-op that properties() then masks with the
      // engine-derived value, reading back as if it took effect
      case set: TableChange.SetProperty if set.property() == "write.sort-order" =>
        val (cols, kind) = LakeSqlCatalog.parseSortOrder(set.value())
        if (kind == "zorder") t.refresh().setZOrder(cols: _*)
        else t.refresh().setWriteOrder(cols: _*)
      case rm: TableChange.RemoveProperty if rm.property() == "write.sort-order" =>
        t.refresh().setWriteOrder() // clear: future writes unordered
      case set: TableChange.SetProperty =>
        t.refresh().setProperty(set.property(), set.value())
      case rm: TableChange.RemoveProperty =>
        t.refresh().removeProperty(rm.property())
      case _ => ()
    }
    val batch: Seq[SchemaChange] = schemaChanges.map {
      case add: TableChange.AddColumn =>
        if (!add.isNullable)
          throw new UnsupportedOperationException(
            "ADD COLUMN ... NOT NULL is not supported: existing files read " +
              "the new column as NULL")
        if (add.position() != null)
          throw new UnsupportedOperationException(
            "ADD COLUMN with FIRST/AFTER is not supported (columns append)")
        Option(add.defaultValue()) match {
          case Some(dv) =>
            // Spark hands the folded literal; render it as catalyst SQL
            // text — the form both the INSERT filler and the parquet
            // reader's existence-default machinery re-parse
            val lit = org.apache.spark.sql.catalyst.expressions.Literal(
              dv.getValue.value(), dv.getValue.dataType())
            SchemaChange.AddWithDefault(path(add.fieldNames), add.dataType(), lit.sql)
          case None => SchemaChange.Add(path(add.fieldNames), add.dataType())
        }
      case ren: TableChange.RenameColumn =>
        SchemaChange.Rename(path(ren.fieldNames), ren.newName())
      case up: TableChange.UpdateColumnType =>
        // lossless widening only (top-level OR a dotted path into a
        // struct); anything else refuses inside the atomic transform
        // BEFORE any change commits
        SchemaChange.Widen(path(up.fieldNames), up.newDataType())
      case del: TableChange.DeleteColumn =>
        // ifExists is resolved inside the atomic transform via the Drop
        // validation; a missing optional column simply contributes no
        // change (checked here against the loaded schema)
        if (del.ifExists() && !pathExists(del.fieldNames)) null
        else SchemaChange.Drop(path(del.fieldNames))
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other")
    }.filter(_ != null)
    if (batch.nonEmpty) t.alterSchema(batch)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val ns = ns1(ident.namespace)
    val existed = lake.tableExists(ns, ident.name)
    if (existed) lake.dropTable(ns, ident.name)
    existed
  }

  /** ALTER TABLE … RENAME TO …: pure metadata — a CAS-protected
    * name→location pointer document (LakeCatalog.renameTable); no data
    * file, manifest, or snapshot moves, and time travel survives. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val ns = ns1(oldIdent.namespace)
    // Spark's RenameTableExec passes the user's RENAME TO identifier
    // verbatim, catalog segment included (`cat.ns.t` arrives as
    // namespace ["cat","ns"]) — tolerate it the way Iceberg's
    // SparkCatalog does, but only when the segment names THIS catalog
    // (a genuinely cross-catalog rename must still fail loudly).
    val newNsRaw = newIdent.namespace match {
      case arr if arr.length == 2 && arr.head.equalsIgnoreCase(catalogName) => arr.tail
      case arr if arr.length == 2 =>
        // naming a DIFFERENT catalog is an unsupported cross-catalog
        // rename — say so, instead of surfacing a misleading
        // NoSuchNamespaceException for the foreign catalog's name
        throw new UnsupportedOperationException(
          s"cross-catalog rename is not supported: RENAME TO targets " +
            s"catalog '${arr.head}' but this table lives in '$catalogName'")
      case arr => arr
    }
    val ns2 = ns1(newNsRaw)
    if (!lake.tableExists(ns, oldIdent.name)) throw new NoSuchTableException(oldIdent)
    try lake.renameTable(ns, oldIdent.name, ns2, newIdent.name)
    catch {
      case _: IllegalArgumentException =>
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          newIdent.namespace :+ newIdent.name)
    }
  }

  // ---- ViewCatalog: SQL views persisted in the lake catalog (the
  // Iceberg view-spec analog). Spark 4's SQL layer does not yet route
  // view DDL/reads to ViewCatalog on its own — the injected session
  // parser and [[LakeViewResolution]] rule drive this surface (the
  // same extension shape Iceberg's Spark runtime ships) — but the
  // catalog speaks the standard interface so nothing here is private
  // protocol. ----

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = ns1(namespace.toArray)
    if (!namespaceExists(Array(ns))) throw new NoSuchNamespaceException(Array(ns))
    lake.listViews(ns).map(Identifier.of(Array(ns), _)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && lake.viewExists(ident.namespace.head, ident.name)

  override def loadView(ident: Identifier): View = {
    val ns = ns1(ident.namespace)
    val doc = lake.loadView(ns, ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    docView(doc)
  }

  private def docView(doc: graft.lake.ViewDoc): View = {
    val v = doc.current
    new View {
      override def name(): String = doc.name
      override def query(): String = v.sql
      override def currentCatalog(): String = v.currentCatalog
      override def currentNamespace(): Array[String] = v.currentNamespace.toArray
      override def schema(): StructType = v.schema
      override def queryColumnNames(): Array[String] = v.queryColumnNames.toArray
      override def columnAliases(): Array[String] = v.columnAliases.toArray
      override def columnComments(): Array[String] = v.columnComments.toArray
      override def properties(): util.Map[String, String] = doc.properties.asJava
    }
  }

  private def versionFrom(info: ViewInfo, id: Int): graft.lake.ViewVersion =
    graft.lake.ViewVersion(
      versionId = id,
      timestampMs = System.currentTimeMillis(),
      sql = info.sql,
      schema = info.schema,
      currentCatalog = info.currentCatalog,
      currentNamespace = Option(info.currentNamespace).map(_.toSeq).getOrElse(Nil),
      queryColumnNames = Option(info.queryColumnNames).map(_.toSeq).getOrElse(Nil),
      columnAliases = Option(info.columnAliases).map(_.toSeq).getOrElse(Nil),
      columnComments = Option(info.columnComments).map(_.toSeq).getOrElse(Nil)
        .map(c => if (c == null) "" else c))

  private def infoProps(info: ViewInfo): Map[String, String] =
    Option(info.properties).map(_.asScala.toMap).getOrElse(Map.empty)

  override def createView(info: ViewInfo): View = {
    val ns = ns1(info.ident.namespace)
    try lake.createView(ns, info.ident.name, graft.lake.ViewDoc(
      name = s"$ns.${info.ident.name}", currentVersionId = 1,
      versions = Seq(versionFrom(info, 1)), properties = infoProps(info)))
    catch {
      case e: IllegalArgumentException =>
        if (lake.viewExists(ns, info.ident.name))
          throw new org.apache.spark.sql.catalyst.analysis
            .ViewAlreadyExistsException(info.ident)
        else throw e
    }
    loadView(info.ident)
  }

  /** CREATE OR REPLACE VIEW: appends the next [[graft.lake.ViewVersion]]
    * to the version log under the catalog's CAS — the full definition
    * history stays auditable, Iceberg-style. */
  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ns = ns1(info.ident.namespace)
    if (!orCreate && !lake.viewExists(ns, info.ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(info.ident)
    val doc = lake.replaceView(ns, info.ident.name) {
      case None => graft.lake.ViewDoc(
        name = s"$ns.${info.ident.name}", currentVersionId = 1,
        versions = Seq(versionFrom(info, 1)), properties = infoProps(info))
      case Some(cur) =>
        val id = cur.versions.map(_.versionId).max + 1
        cur.copy(currentVersionId = id,
          versions = cur.versions :+ versionFrom(info, id),
          properties = infoProps(info))
    }
    docView(doc)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val ns = ns1(ident.namespace)
    if (!lake.viewExists(ns, ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val doc = lake.replaceView(ns, ident.name) {
      case None =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
      case Some(cur) =>
        changes.foldLeft(cur) { (d, ch) => ch match {
          case sp: ViewChange.SetProperty =>
            d.copy(properties = d.properties + (sp.property -> sp.value))
          case rp: ViewChange.RemoveProperty =>
            d.copy(properties = d.properties - rp.property)
          case other => throw new UnsupportedOperationException(
            s"unsupported view change ${other.getClass.getSimpleName}")
        }}
    }
    docView(doc)
  }

  override def dropView(ident: Identifier): Boolean =
    ident.namespace.length == 1 && lake.dropView(ident.namespace.head, ident.name)

  override def renameView(fromIdent: Identifier, toIdent: Identifier): Unit = {
    val ns = ns1(fromIdent.namespace)
    if (!lake.viewExists(ns, fromIdent.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(fromIdent)
    try lake.renameView(ns, fromIdent.name, ns1(toIdent.namespace), toIdent.name)
    catch {
      case _: IllegalArgumentException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .ViewAlreadyExistsException(toIdent)
    }
  }

  // ---- SupportsNamespaces ----

  override def listNamespaces(): Array[Array[String]] =
    lake.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespace.length == 1 && lake.listNamespaces().contains(namespace.head))
      Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && lake.listNamespaces().contains(namespace.head)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val m = new util.HashMap[String, String]()
    lake.namespaceProperties(ns1(namespace)).foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val ns = ns1(namespace)
    lake.createNamespace(ns)
    // CREATE NAMESPACE ... WITH PROPERTIES; Spark-reserved keys
    // (location/owner/comment arrive here too) persist alongside
    val props = metadata.asScala.toMap
    if (props.nonEmpty) lake.setNamespaceProperties(ns, props)
  }

  /** `ALTER NAMESPACE ns SET/UNSET PROPERTIES` — the DSv2
    * NamespaceChange surface over the namespace property doc. */
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val set = changes.collect {
      case c: NamespaceChange.SetProperty => c.property -> c.value }.toMap
    val remove = changes.collect {
      case c: NamespaceChange.RemoveProperty => c.property }.toSet
    lake.setNamespaceProperties(ns1(namespace), set, remove)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val ns = ns1(namespace)
    val tables = lake.listTables(ns)
    if (tables.nonEmpty && !cascade)
      throw new IllegalStateException(s"namespace $ns is not empty: $tables")
    lake.dropNamespace(ns) // returns true iff it existed (V2 contract)
  }
}

object LakeSqlCatalog {
  /** The ONE parquet scan construction every lake read path shares
    * (batch delegate, SPJ groups, streaming micro-batches, changelog
    * files): Spark's parquet scan over a [[ManifestFileIndex]] of exactly
    * `entries` (no existence check, no listing), on a cloned session
    * with ID-based parquet matching — files written before a
    * renameColumn must resolve the renamed column by field ID; on the
    * user's session (fieldId.read.enabled=false default) name matching
    * would silently project NULL for every pre-rename file. A reader
    * conf added here reaches batch AND streaming together.
    *
    * The read schema is the table's ID-carrying schema plus
    * `extraFields`: the changelog stream adds the two row-lineage feeder
    * columns, the materialized `_row_id` cell (reserved field id — NULL
    * in files no rewrite has carried ids into) and Spark's parquet
    * row-index temporary column (the `_metadata.row_index` mechanism:
    * the parquet reader POPULATES a requested long column named
    * `_tmp_metadata_row_index`). */
  private[sql] def scanBuilder(lt: graft.lake.LakeTable, session: SparkSession,
      entries: Seq[graft.lake.DataFileEntry],
      options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
      extraFields: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder = {
    val s = org.apache.spark.sql.graftbridge.SessionBridge.sessionWithConfs(
      session, Map("spark.sql.parquet.fieldId.read.enabled" -> "true"))
    org.apache.spark.sql.graftbridge.ManifestFileIndex.scanBuilder(s, entries,
      StructType(lt.metadata.schemaWithFieldIds.fields ++ extraFields), options)
  }

  /** Parse a `write.sort-order` property value — `c1,c2` (linear) or
    * `zorder(c1,c2)` — into (columns, kind). Shared by CREATE TABLE
    * and ALTER TABLE SET TBLPROPERTIES so both apply the order for
    * real. */
  private[sql] def parseSortOrder(raw: String): (Seq[String], String) = {
    val v = raw.trim
    val zorder = v.toLowerCase.startsWith("zorder(") && v.endsWith(")")
    val body = if (zorder) v.substring(v.indexOf('(') + 1, v.length - 1) else v
    (body.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      if (zorder) "zorder" else "linear")
  }

  /** Process-wide meter registry for SQL-path scan/commit reports —
    * the SimpleMeterRegistry role for catalogs Spark instantiates
    * reflectively (no constructor injection point). */
  val metrics = new graft.lake.SimpleMetrics

  /** SQL partition transforms → lake spec fields (the same transform
    * vocabulary the manifest uses; Model.PartitionField.toColumn). */
  private[sql] def toPartitionField(t: Transform): PartitionField = {
    def ref(args: Seq[org.apache.spark.sql.connector.expressions.Expression]): String =
      args.collectFirst {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames.mkString(".")
      }.getOrElse(throw new UnsupportedOperationException(s"unsupported transform $t"))
    t.name match {
      case "identity" => PartitionField(ref(t.arguments.toSeq), "identity")
      case "years" => PartitionField(ref(t.arguments.toSeq), "year")
      case "months" => PartitionField(ref(t.arguments.toSeq), "month")
      case "days" => PartitionField(ref(t.arguments.toSeq), "day")
      case "hours" => PartitionField(ref(t.arguments.toSeq), "hour")
      case "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value.toString
        }.getOrElse(throw new UnsupportedOperationException(s"bucket transform needs a count: $t"))
        PartitionField(ref(t.arguments.toSeq), s"bucket[$n]")
      case other => throw new UnsupportedOperationException(s"unsupported transform $other")
    }
  }
}

/** `spark.wap.branch` — the session conf that turns every SQL statement
  * into a write-audit-publish participant (Iceberg's SQL WAP surface,
  * same conf name). While set: INSERT / DELETE / UPDATE / MERGE commit
  * onto the named branch (auto-created at the current head on first
  * write), and reads resolve the branch head when it exists — so the
  * audit queries in the same session see the staged state — falling
  * back to main before the first staged write. `CALL
  * cat.system.fast_forward(t, branch)` publishes. Streaming writes
  * (`writeStream.toTable`) stage too: every epoch appends onto the
  * branch head, exactly-once ledger intact. Guards: a tag of the same
  * name refuses (tags are immutable); INSERT OVERWRITE refuses (a full
  * replace is not a stageable audit unit); wap.id refuses for streams
  * (staged snapshots have no single publishable unit); explicit AS OF
  * wins over the conf. */
private[sql] object Wap {
  val Conf = "spark.wap.branch"

  val IdConf = "spark.wap.id"

  /** The raw conf value, if set — for paths that refuse under WAP and
    * must not auto-create the branch as a side effect. */
  def set(spark: SparkSession): Option[String] =
    Option(spark.conf.get(Conf, null)).map(_.trim).filter(_.nonEmpty)

  /** `spark.wap.id` — the STAGED-SNAPSHOT WAP flow (Iceberg's other
    * half): INSERTs under this conf land as invisible staged snapshots
    * published by `CALL system.cherrypick_snapshot`. Mutually exclusive
    * with the branch conf: one audit unit, one publish mechanism. */
  def stagedId(spark: SparkSession): Option[String] = {
    val id = Option(spark.conf.get(IdConf, null)).map(_.trim).filter(_.nonEmpty)
    if (id.nonEmpty && set(spark).nonEmpty)
      throw new IllegalArgumentException(
        s"$Conf and $IdConf are both set — stage on a branch OR as a " +
          "wap.id snapshot, not both")
    id
  }

  private def conf(spark: SparkSession): Option[String] = {
    stagedId(spark) // fires the mutual-exclusion check on every WAP read
    set(spark)
  }

  /** Row-level SQL ops stage on BRANCHES, not as wap.id snapshots
    * (stageAppend is append-shaped); silently landing them on main
    * while the user thinks they are staging would be worse than either
    * behavior — refuse with the alternative spelled out. */
  def refuseRowLevelStaging(spark: SparkSession, verb: String,
      tableName: String): Unit =
    stagedId(spark).foreach(id => throw new UnsupportedOperationException(
      s"$verb on $tableName cannot stage as wap.id snapshot '$id': only " +
        "INSERT stages under spark.wap.id — stage row-level mutations on " +
        "a branch instead (spark.wap.branch)"))

  private def refKind(t: LakeTable, b: String): Option[String] =
    t.refresh().refs.get(b).map(_.kind)

  /** Branch READS resolve to: the head when the branch exists, main
    * before the first staged write (the ref does not exist yet). */
  def readBranch(spark: SparkSession, t: LakeTable): Option[String] =
    conf(spark).flatMap { b =>
      refKind(t, b) match {
        case Some(graft.lake.TableRef.Branch) => Some(b)
        case Some(kind) => throw new IllegalArgumentException(
          s"$Conf '$b' is a $kind of ${t.name}; WAP requires a branch")
        case None => None
      }
    }

  /** Branch WRITES commit onto: auto-creates the branch at the current
    * head on first use (racing creators: the CAS loser re-checks). */
  def writeBranch(spark: SparkSession, t: LakeTable): Option[String] =
    conf(spark).map { b =>
      refKind(t, b) match {
        case Some(graft.lake.TableRef.Branch) => b
        case Some(kind) => throw new IllegalArgumentException(
          s"$Conf '$b' is a $kind of ${t.name}; WAP requires a branch")
        case None =>
          require(t.currentSnapshotId >= 0L,
            s"$Conf '$b': ${t.name} has no snapshot to branch from yet — " +
              "commit once to main (or unset the conf for the first write)")
          try t.createBranch(b)
          catch { // racing session created it first: proceed onto it
            case _: IllegalArgumentException
              if refKind(t, b).contains(graft.lake.TableRef.Branch) => ()
          }
          b
      }
    }
}

/** SQL handle on a lake table (optionally at an historical snapshot).
  * Pushed SQL predicates prune at TWO levels: manifest min/max stats
  * skip whole files (the LakeScan.planFiles path — fires the usual
  * ScanReport, so SQL scans are observable like API scans), then
  * Spark's native vectorized parquet source applies row-group/page
  * pushdown and column pruning over the surviving files, which it takes
  * from the manifest entries as they are (no existence check, no
  * listing). Writes go through the V1 bridge into the MANIFEST COMMIT
  * PROTOCOL — INSERT INTO is an append commit, INSERT OVERWRITE an
  * atomic full replace — never a bare parquet write that would bypass
  * snapshots/stats/metrics. Historical handles (AS OF) stay read-only. */
final class LakeSqlTable(lt: LakeTable, snapshotId: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Iceberg's hidden inspection columns: `_file` (data file path) and
    * `_pos` (row position in that file — the parquet row_index, the
    * exact coordinate positional delete files tombstone). Declared here
    * so the analyzer resolves them WITHOUT leaking into `SELECT *`;
    * produced by the substitution rule in [[LakeMoRScanSubstitution]]
    * through the engine's position-carrying read (the direct parquet
    * delegate cannot emit them). */
  override def metadataColumns(): Array[
      org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(LakeSqlTable.FileMetaColumn, LakeSqlTable.PosMetaColumn,
      LakeSqlTable.SpecIdMetaColumn, LakeSqlTable.PartitionMetaColumn,
      LakeSqlTable.RowIdMetaColumn)

  /** For the row-level command rule ([[LakeSqlExtensions]]): the
    * transactional Scala-API table UPDATE/MERGE plan onto. */
  private[sql] def lakeTable: LakeTable = lt
  private[sql] def isHistorical: Boolean = snapshotId.isDefined

  // memoized column statistics per (snapshot, analyze-json): Spark
  // calls estimateStatistics per planned query, and re-parsing the
  // property + reducing manifest rollups each time is avoidable
  // planning overhead on hot tables
  @volatile private var colStatsCache: Option[(Long, String, java.util.Map[
    org.apache.spark.sql.connector.expressions.NamedReference,
    org.apache.spark.sql.connector.read.colstats.ColumnStatistics])] = None

  /** A scan of exactly the snapshot this SQL handle addresses (current
    * or `AS OF`), over its already-loaded metadata: the direct scan
    * builder plans it, and so does the merge-on-read substitution rule
    * ([[LakeMoRScanSubstitution]]), which must not see a newer snapshot
    * than the relation it replaces. `pred` is the enclosing filter in
    * lenient manifest form: stats pruning only (the residual SQL filter
    * re-applies above), so a live-tombstone read keeps manifest-level
    * file skipping. */
  private[sql] def fullScan(pred: LakePredicate = LakePredicate.AlwaysTrue)
      : graft.lake.LakeScan =
    snapshotId.map(lt.asOf(_, pred)).getOrElse {
      // spark.wap.branch: same-session audit reads see the staged head
      Wap.readBranch(SparkSession.active, lt) match {
        case Some(b) => lt.refresh().scanRef(b, pred)
        case None => lt.newScan(pred)
      }
    }

  /** SQL `DELETE FROM t WHERE …` → the table's row-level planner
    * (pruned rewrites or position deletes, serializable validation,
    * conflict retry — never a bare file operation). Spark only routes
    * here when [[canDeleteWhere]] accepted the WHOLE condition, i.e.
    * every filter has an exact LakePredicate form: the scan path's
    * lenient conversion (unknown → AlwaysTrue) would make DELETE remove
    * rows the condition never matched, so unsupported conditions refuse
    * instead (Spark surfaces the standard cannot-delete analysis
    * error). */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    snapshotId.isEmpty && filters.forall(f => toLakePredicateStrict(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(snapshotId.isEmpty, s"cannot delete from a historical snapshot of ${lt.name}")
    import graft.lake.{LakePredicate => P}
    // throw, never drop: silently discarding an inconvertible filter
    // WIDENS the predicate and over-deletes. Spark gates on
    // canDeleteWhere first, but a destructive op must not rest its
    // safety on a caller-side invariant.
    val pred = filters.map(f => toLakePredicateStrict(f).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE condition $f has no exact manifest-predicate form")))
      .reduceOption(P.And(_, _)).getOrElse(P.AlwaysTrue)
    // write.delete.mode picks the strategy inside the table's planner:
    // position deletes (O(deleted rows)) or file rewrites
    val t = lt.refresh()
    Wap.refuseRowLevelStaging(SparkSession.active, "DELETE", t.name)
    val wap = Wap.writeBranch(SparkSession.active, t)
    t.runRowLevel(SparkSession.active, RowLevelOp.delete(pred), wap)
    ()
  }

  private def toLakePredicateStrict(
      f: org.apache.spark.sql.sources.Filter): Option[LakePredicate] =
    LakeSqlTable.toLakePredicateStrict(f)

  private def toLakePredicateLenient(
      f: org.apache.spark.sql.sources.Filter): LakePredicate =
    LakeSqlTable.toLakePredicateLenient(f)

  private def toLakePredicate(fs: Array[org.apache.spark.sql.sources.Filter]): LakePredicate = {
    import graft.lake.{LakePredicate => P}
    fs.map(toLakePredicateLenient).reduceOption(P.And(_, _)).getOrElse(P.AlwaysTrue)
  }

  override def name(): String = lt.name

  /** The ID-carrying schema: Spark derives the scan's requested schema
    * from these columns, and parquet field-ID matching keys off the
    * REQUESTED schema's metadata — an ID-free schema here would silently
    * fall back to name matching and project NULL from pre-rename files
    * (caught by LakeSqlCatalogSpec). The metadata is inert otherwise. */
  override def schema(): StructType = lt.metadata.schemaWithFieldIds

  override def partitioning(): Array[Transform] = lt.spec.map { p =>
    p.transform match {
      case "identity" => Expressions.identity(p.source)
      case "year" => Expressions.years(p.source)
      case "month" => Expressions.months(p.source)
      case "day" => Expressions.days(p.source)
      case "hour" => Expressions.hours(p.source)
      case tr if tr.startsWith("bucket[") =>
        Expressions.bucket(tr.stripPrefix("bucket[").stripSuffix("]").toInt, p.source)
      case _ => Expressions.identity(p.source)
    }
  }.toArray

  override def properties(): util.Map[String, String] =
    // table metadata properties (write modes, the streaming ledger, …)
    // surface through SHOW TBLPROPERTIES / DESCRIBE EXTENDED; the
    // engine-reserved keys win on collision
    (lt.metadata.properties ++ Map(
      TableCatalog.PROP_LOCATION -> lt.location,
      "current-snapshot-id" -> snapshotId.getOrElse(lt.currentSnapshotId).toString,
      "write.sort-order" -> (if (lt.metadata.sortOrderKind == "zorder")
        s"zorder(${lt.metadata.sortOrder.mkString(",")})"
      else lt.metadata.sortOrder.mkString(",")),
      "format" -> "graft-lake/parquet")).asJava

  override def capabilities(): util.Set[TableCapability] =
    if (snapshotId.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      // df.writeTo(t).overwrite(cond) → the atomic replaceWhere
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      // MERGE WITH SCHEMA EVOLUTION: Spark's
      // ResolveMergeIntoSchemaEvolution routes the source's new/widened
      // columns through alterTable (AddColumn → ID-assigning metadata
      // commit with null backfill on old files; UpdateColumnType →
      // lossless Widen, refused loudly otherwise) before the merge
      // resolves
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    import org.apache.spark.sql.connector.write.{V1Write, WriteBuilder}
    import org.apache.spark.sql.connector.write.SupportsOverwrite
    require(snapshotId.isEmpty, s"cannot write to a historical snapshot of ${lt.name}")
    new WriteBuilder with SupportsOverwrite {
      private var replace = false
      private var overwritePred: Option[LakePredicate] = None
      override def truncate(): WriteBuilder = { replace = true; this }

      /** `df.writeTo(t).overwrite(cond)` → [[LakeTable.replaceWhere]]:
        * the atomic predicate-scoped backfill, ONE serializable commit
        * for delete-matching + append-replacement. The condition must
        * have an exact manifest-predicate form (a lenient conversion
        * would widen the deleted slice) and every replacement row must
        * match it — replaceWhere enforces both. */
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        import graft.lake.{LakePredicate => P}
        if (filters.isEmpty ||
          filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
          replace = true
        else overwritePred = Some(filters.map(f =>
          LakeSqlTable.toLakePredicateStrict(f).getOrElse(
            throw new UnsupportedOperationException(
              s"overwrite condition $f has no exact manifest-predicate form")))
          .reduce(P.And(_, _)))
        this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              val t = lt.refresh()
              // Spark resolves/casts the INSERT projection to the table
              // schema; align nullability-only differences
              val aligned = data.select(t.schema.fields.map(f =>
                org.apache.spark.sql.functions.col(f.name)
                  .cast(f.dataType).as(f.name)): _*)
              if (overwritePred.isDefined) {
                // predicate-scoped overwrite is a ROW-LEVEL op: wap.id
                // staging refuses (pointer to branch staging), a WAP
                // branch stages it like DELETE/UPDATE/MERGE do
                Wap.refuseRowLevelStaging(SparkSession.active,
                  "OVERWRITE", t.name)
                t.replaceWhere(SparkSession.active, overwritePred.get, aligned,
                  branch = Wap.writeBranch(SparkSession.active, t))
              } else if (replace || overwrite) {
                // raw-conf check: must not auto-create the branch on a
                // path that refuses
                require(Wap.set(SparkSession.active).isEmpty &&
                  Wap.stagedId(SparkSession.active).isEmpty,
                  s"INSERT OVERWRITE of ${t.name} cannot stage: a full " +
                    "replace is not a stageable audit unit (unset " +
                    "spark.wap.branch / spark.wap.id)")
                t.overwriteAll(aligned)
              } else Wap.stagedId(SparkSession.active) match {
                case Some(id) => t.stageAppend(aligned, id)
                case None => Wap.writeBranch(SparkSession.active, t) match {
                  case Some(b) => t.appendDataToBranch(b, aligned)
                  case None => t.appendData(aligned)
                }
              }
              ()
            }

          /** `df.writeStream.toTable("cat.ns.t")` — the native DSv2
            * streaming sink (exactly-once epoch appends; see
            * [[LakeStreamingWrite]]). Append mode only: complete-mode
            * truncation per epoch contradicts an append-only snapshot
            * log (use foreachBatch + overwriteAll for that shape). */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(!replace, s"streaming writes to ${lt.name} support " +
              "append output mode only (complete/truncate refused)")
            // wap.id refuses: a staged snapshot has no pointer, so every
            // epoch would stage a SEPARATE invisible snapshot with no
            // single publishable unit. A BRANCH is different: epochs
            // append onto the branch head in order (Iceberg's
            // branch-targeted streaming write), the exactly-once ledger
            // still applies (it lives in table properties, checked
            // inside the commit CAS), and fastForward publishes the
            // audited prefix as one pointer move.
            require(Wap.stagedId(SparkSession.active).isEmpty,
              s"streaming writes to ${lt.name} cannot stage under spark.wap.id: " +
                "epochs would stage disconnected invisible snapshots — " +
                "stream onto a branch instead (spark.wap.branch)")
            val t = lt.refresh()
            // branch pinned at query START: a conf change mid-query must
            // not silently redirect later epochs
            val branch = Wap.writeBranch(SparkSession.active, t)
            val in = info.schema()
            require(in.fields.map(f => (f.name, f.dataType.simpleString)).sameElements(
              t.schema.fields.map(f => (f.name, f.dataType.simpleString))),
              s"streaming write schema mismatch for ${lt.name}: " +
                s"${in.simpleString} vs ${t.schema.simpleString}")
            new LakeStreamingWrite(t, info.queryId(), branch)
          }
        }
    }
  }

  /** Iceberg-style AGGREGATE PUSHDOWN: a filterless global
    * COUNT(*) / COUNT(col) / MIN(col) / MAX(col) answers straight from
    * manifest stats — zero data files opened, zero tasks launched. At
    * 100 TB this is the difference between a metadata lookup and a
    * full-table scan. Complete-or-nothing: if ANY aggregate in the
    * query can't be answered exactly (live tombstones, missing
    * per-file stats, inexact bound types — floats order NaN wrong,
    * parquet truncates string bounds — group-bys, DISTINCT), the whole
    * pushdown declines and the normal scan path runs. Spark only
    * attempts aggregate pushdown when no post-scan filter remains, and
    * this builder reports every filter as residual, so a pushed
    * aggregation is always global over the addressed snapshot. */
  private def pushedAggResult(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.types.{LongType, StructField}
    if (agg.groupByExpressions.nonEmpty) return None
    val scan = fullScan()
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
        case _ => None
      }
    def typeOf(n: String) = lt.metadata.schema.fields.find(_.name == n).map(_.dataType)
    val answered: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        scan.countStarFromStats.map(v =>
          (StructField("count(*)", LongType, nullable = false), v: Any))
      case c: Count if !c.isDistinct =>
        for { n <- colOf(c.column); v <- scan.countColumnFromStats(n) }
          yield (StructField(s"count($n)", LongType, nullable = false), v: Any)
      case m: Min =>
        for { n <- colOf(m.column); t <- typeOf(n); v <- scan.minFromStats(n) }
          yield (StructField(s"min($n)", t, nullable = true), v.orNull)
      case m: Max =>
        for { n <- colOf(m.column); t <- typeOf(n); v <- scan.maxFromStats(n) }
          yield (StructField(s"max($n)", t, nullable = true), v.orNull)
      case _ => None
    }
    if (answered.exists(_.isEmpty)) None
    else {
      val fields = answered.flatten
      Some((StructType(fields.map(_._1)),
        Array[org.apache.spark.sql.catalyst.InternalRow](
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            fields.map(_._2).toArray))))
    }
  }

  /** Pruned live-file entries for a filter set — planned once per
    * built scan and filter set, and shared by the statistics estimate,
    * the batch delegate and the SPJ groups ([[ScanBridge.delegating]]). */
  private def planEntries(pushed: Array[org.apache.spark.sql.sources.Filter])
      : Seq[graft.lake.DataFileEntry] = {
    val scan = fullScan(toLakePredicate(pushed))
    // the direct SQL path hands surviving files straight to Spark's
    // parquet source, which cannot subtract tombstones. With
    // [[LakeSqlExtensions]] installed this builder is never reached
    // for a live-tombstone snapshot ([[LakeMoRScanSubstitution]]
    // re-planned the relation onto the MoR-aware readLive path); this
    // refusal is the safety net for a session running the catalog
    // WITHOUT the extensions — resurrecting MoR-deleted rows is never
    // an acceptable degradation.
    if (scan.needsEngineRead)
      throw new UnsupportedOperationException(
        s"${lt.name} carries live merge-on-read delete files or " +
          "addFiles-imported (ID-less) data files and this session does " +
          "not have graft.lake.sql.LakeSqlExtensions installed; install " +
          "the extensions (spark.sql.extensions), run compact() to " +
          "materialize tombstones / imported files natively, or read " +
          "through the Scala API")
    scan.planFiles
  }

  /** Storage-partitioned-join groups over a filter set's planned
    * entries: one (partition-key row, entries) group per live partition
    * value, clustering by the CURRENT spec's identity fields. Declines
    * (None → UnknownPartitioning) whenever exactness is at risk: no
    * identity fields, a non-decodable key type, or any live file missing
    * a value for an identity source (e.g. written under an older spec) —
    * grouping such a file under a wrong key would silently co-locate
    * non-matching rows, the one failure SPJ must never have. */
  private def spjGroupsFor(entries: Seq[graft.lake.DataFileEntry])
      : Option[org.apache.spark.sql.graftbridge.ScanBridge.SpjGroups] =
    try {
      val meta = lt.metadata
      val spec = meta.allSpecs.last
      def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      // partitionValues are keyed POSITIONALLY within the writing spec
      // ("p<i>"), so grouping is only exact for files written under the
      // current spec — any other specId declines below. EVERY transform
      // clusters (all resolve via the FunctionCatalog): identity,
      // bucket, the temporal family, truncate. Each field carries its
      // own decoder from the manifest's RENDERED partition value to the
      // transform's V2 result representation (years/months/hours since
      // epoch as int, days as epoch-day int — matching
      // LakeFunctions' conventions, so a group key here equals what the
      // published function computes on a row of that partition).
      type V2E = org.apache.spark.sql.connector.expressions.Expression
      val fields: Seq[(String, V2E, String => Option[Any])] =
        spec.zipWithIndex.flatMap { case (f, i) =>
          def temporalDec(tr: String)(s: String): Option[Any] = scala.util.Try(tr match {
            case "year" => Int.box(s.toInt - 1970)
            case "month" =>
              val Array(y, m) = s.split('-')
              Int.box((y.toInt - 1970) * 12 + m.toInt - 1)
            case "day" =>
              Int.box(java.time.LocalDate.parse(s).toEpochDay.toInt)
            case "hour" =>
              val Array(d, h) = s.split('T')
              Int.box((java.time.LocalDate.parse(d).toEpochDay * 24 + h.toInt).toInt)
          }).toOption
          f.transform match {
            case "identity" =>
              meta.schema.fields.find(_.name == f.source).map { sf =>
                val dec: String => Option[Any] = sf.dataType match {
                  case org.apache.spark.sql.types.StringType => s => Some(utf8(s))
                  case other => s => graft.lake.Stats.fromStatCatalyst(other, s)
                }
                (s"p$i", Expressions.identity(f.source): V2E, dec)
              }
            case tr if tr.startsWith("bucket[") =>
              val n = tr.stripPrefix("bucket[").stripSuffix("]").toInt
              Some((s"p$i", Expressions.bucket(n, f.source): V2E,
                (s: String) => s.toIntOption.map(Int.box)))
            case "year" =>
              Some((s"p$i", Expressions.years(f.source): V2E, temporalDec("year") _))
            case "month" =>
              Some((s"p$i", Expressions.months(f.source): V2E, temporalDec("month") _))
            case "day" =>
              Some((s"p$i", Expressions.days(f.source): V2E, temporalDec("day") _))
            case "hour" =>
              Some((s"p$i", Expressions.hours(f.source): V2E, temporalDec("hour") _))
            case tr if tr.startsWith("truncate[") =>
              val w = tr.stripPrefix("truncate[").stripSuffix("]").toInt
              // width baked into the function NAME: the subset-keys
              // SPJ rule requires single-leaf partition expressions
              // (see LakeFunctions.TruncateWidthUnbound)
              Some((s"p$i",
                Expressions.apply(s"truncate$w",
                  Expressions.column(f.source)): V2E,
                (s: String) => Some(utf8(s))))
            case _ => None
          }
        }
      // ALL spec fields must cluster — a partial key would be exact
      // (key-subset grouping) but would under-report the layout; a spec
      // with an unsupported transform simply declines
      if (fields.isEmpty || fields.size != spec.size) None
      else {
        val currentSpecId = meta.currentSpecId
        if (entries.isEmpty ||
          !entries.forall(e => e.specId == currentSpecId &&
            fields.forall(f => e.partitionValues.contains(f._1)))) None
        else {
          val grouped = entries.groupBy(e => fields.map(f => e.partitionValues(f._1)))
          val rows = grouped.toSeq.sortBy(_._1.mkString(0.toChar.toString))
            .map { case (vals, fs) =>
              val decoded = vals.zip(fields).map { case (s, f) => f._3(s) }
              if (decoded.exists(_.isEmpty)) None
              else Some(
                (new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  decoded.map(_.get).toArray[Any]): org.apache.spark.sql.catalyst.InternalRow,
                  fs))
            }
          if (rows.exists(_.isEmpty)) None
          else Some((fields.map(_._2).toArray, rows.map(_.get)))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    org.apache.spark.sql.graftbridge.ScanBridge.delegating(
    // statistics are this plan's manifest sums: join planning sees a
    // small lake dim as small and auto-broadcasts it. MoR tombstones may
    // make the row count an overestimate — conservative in the right
    // direction for planning.
    planFiles = planEntries,
    mkDelegate = entries =>
      LakeSqlCatalog.scanBuilder(lt, SparkSession.active, entries, options),
    // streaming reads tail append commits (current handles only; a
    // historical AS OF handle has no future to stream). The stream
    // schema lets the wrapper skip materializing the batch delegate —
    // a streaming start must not build the batch scan or hit the
    // live-tombstone batch refusal (it tails appends only)
    mkStream =
      if (snapshotId.isEmpty) Some(_ => new LakeMicroBatchStream(lt, options))
      else None,
    streamReadSchema =
      if (snapshotId.isEmpty) Some(lt.metadata.schemaWithFieldIds) else None,
    // best-effort like stats: a declined pushdown is just a normal scan
    aggPushdown = Some { agg =>
      try pushedAggResult(agg)
      catch { case scala.util.control.NonFatal(_) => None }
    },
    // COLUMN statistics for CBO (join reordering / selectivity):
    // NDV/null/length stats from the per-snapshot stats files (Puffin
    // analog; legacy property fallback), bounds from manifest-list
    // rollups under the handle's ALREADY-LOADED snapshot (no refresh —
    // planning must not advance the handle, and the stats must
    // describe the snapshot the scan reads). An AS OF handle serves
    // ONLY statistics analyzed at its pinned snapshot — current-
    // snapshot NDV/bounds describing a different dataset would
    // misguide CBO (round-11) — and its bounds come from the PINNED
    // snapshot's manifests. Best-effort: no analyze doc → empty map;
    // memoized per (snapshot, json) in [[colStatsCache]].
    colStats = Some { () => computeColStats() },
    // runtime (dynamic-partition-pruning) filtering: every spec's
    // source columns are fair game — pruning is stats-based mayMatch,
    // so values arriving from a join build side skip files exactly like
    // a static IN predicate, and files written under OLDER specs still
    // prune by their column bounds. Restricted to columns that still
    // exist top-level in the current schema (a dropped source would
    // make Spark compile a filter on a ghost column).
    runtimeFilterAttrs = () => {
      val names = lt.metadata.schema.fields.map(_.name).toSet
      lt.metadata.allSpecs.flatten.map(_.source).distinct
        .filter(names.contains).toArray
    },
    // storage-partitioned joins: identity-partitioned tables report
    // KeyGroupedPartitioning and plan per-partition-value input groups,
    // so two co-partitioned lake tables join with NO shuffle on either
    // side (engaged under spark.sql.sources.v2.bucketing.enabled)
    spjGroups = Some(spjGroupsFor))

  private def computeColStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    try {
      val m = lt.metadata
      val statsSnap = snapshotId.getOrElse(m.currentSnapshotId)
      val jsonOpt = snapshotId match {
        case Some(id) => lt.colStatsJsonFor(id)
        case None => lt.colStatsJson
      }
      jsonOpt match {
        case None => ()
        case Some(json) =>
          colStatsCache match {
            case Some((snap, j, cached))
              if snap == statsSnap && j == json => return cached
            case _ => ()
          }
          val parsed = graft.lake.LakeTable.parseColStats(json)
          // bounds from MANIFEST-LIST rollups: O(#manifests), never
          // O(#files) — estimation must stay cheap on a 1M-file table.
          // Pre-rollup documents read back empty maps → no bounds
          // (conservative, NDV/null stats still serve).
          // an AS OF handle whose pinned snapshot is gone (expired
          // concurrently) gets NO bounds rather than the current
          // snapshot's — snapshot-X NDV paired with current bounds is
          // exactly the cross-dataset mix this path exists to prevent
          val refs = (snapshotId match {
            case Some(id) => m.snapshot(id)
            case None => m.currentSnapshot
          }).map(_.dataManifests).getOrElse(Nil)
          parsed.foreach { case (cname, (ndv, nulls, avgL, maxL)) =>
            m.schema.fields.find(_.name == cname).foreach { field =>
              import java.util.{Optional, OptionalLong}
              val bounds = for {
                key <- m.statKey(cname)
                if graft.lake.Stats.boundsExact(field.dataType)
                if refs.nonEmpty && refs.forall(r =>
                  r.minValues.contains(key) && r.maxValues.contains(key))
                mn <- graft.lake.Stats.fromStatCatalyst(field.dataType,
                  refs.map(_.minValues(key)).reduce((a, b) =>
                    if (graft.lake.Stats.cmp(field.dataType, a, b) <= 0) a else b))
                mx <- graft.lake.Stats.fromStatCatalyst(field.dataType,
                  refs.map(_.maxValues(key)).reduce((a, b) =>
                    if (graft.lake.Stats.cmp(field.dataType, a, b) >= 0) a else b))
              } yield (mn, mx)
              out.put(
                org.apache.spark.sql.connector.expressions.Expressions.column(cname),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): OptionalLong = OptionalLong.of(ndv)
                  override def nullCount(): OptionalLong = OptionalLong.of(nulls)
                  override def min(): Optional[Object] = bounds
                    .map(b => Optional.of(b._1.asInstanceOf[Object]))
                    .getOrElse(Optional.empty[Object]())
                  override def max(): Optional[Object] = bounds
                    .map(b => Optional.of(b._2.asInstanceOf[Object]))
                    .getOrElse(Optional.empty[Object]())
                  override def avgLen(): OptionalLong = avgL
                    .map(OptionalLong.of(_)).getOrElse(OptionalLong.empty())
                  override def maxLen(): OptionalLong = maxL
                    .map(OptionalLong.of(_)).getOrElse(OptionalLong.empty())
                })
            }
          }
          colStatsCache = Some((statsSnap, json, out))
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    out
  }
}

object LakeSqlTable {

  /** The hidden metadata column names (Iceberg's inspection columns). */
  private[sql] val MetaColNames: Set[String] =
    Set("_file", "_pos", "_spec_id", "_partition", "_row_id")

  /** The two that need the per-file manifest join (see
    * [[graft.lake.LakeScan.toDFWithPositions]]). */
  private[sql] val PartitionMetaNames: Set[String] = Set("_spec_id", "_partition")

  private[sql] object FileMetaColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_file"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String = "path of the data file the row lives in"
  }

  private[sql] object PosMetaColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_pos"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row position (parquet row index) in _file"
  }

  private[sql] object SpecIdMetaColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_spec_id"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.IntegerType
    override def isNullable: Boolean = true
    override def comment(): String =
      "partition spec id the row's file was written under"
  }

  /** Iceberg renders `_partition` as a struct typed by the current
    * spec; this engine's manifests store partition values in their
    * stat-string form, so the column surfaces them as a map of
    * partition-field render → value (files under older specs carry
    * their OWN spec's fields — exactly what the manifests recorded). */
  private[sql] object PartitionMetaColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_partition"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType)
    override def isNullable: Boolean = true
    override def comment(): String =
      "partition values (field render -> stat-string value) of the row's file"
  }
  /** Iceberg v3 row lineage through SQL: `_row_id` = the file's
    * CAS-assigned firstRowId + the row's parquet row_index (see
    * [[graft.lake.LakeScan.rowLineage]] for the stability contract and
    * the loud refusal after rewrite-shaped commits). */
  private[sql] object RowIdMetaColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_row_id"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "stable row id (commit-assigned first-row-id + parquet row index)"
  }

  /** sources.Filter → manifest predicate, STRICT form: None when the
    * filter has no exact LakePredicate equivalent. Scans can degrade an
    * inexpressible filter to AlwaysTrue (pruning is an optimization;
    * the residual re-applies it) — a DELETE/UPDATE cannot (AlwaysTrue
    * would touch rows the filter never matched), so those paths consult
    * this form and REFUSE instead. */
  /** Lenient form for scans: an inexpressible LEAF degrades to
    * AlwaysTrue (conservative — residuals re-apply every filter), but
    * And/Or recurse so a compound filter keeps pruning on its
    * expressible legs (And(unknown, a=5) still skips files on a=5). */
  private[sql] def toLakePredicateLenient(
      f: org.apache.spark.sql.sources.Filter): graft.lake.LakePredicate = {
    import org.apache.spark.sql.{sources => S}
    import graft.lake.{LakePredicate => P}
    f match {
      case S.And(l, r) => P.And(toLakePredicateLenient(l), toLakePredicateLenient(r))
      case S.Or(l, r) => P.Or(toLakePredicateLenient(l), toLakePredicateLenient(r))
      case other => toLakePredicateStrict(other).getOrElse(P.AlwaysTrue)
    }
  }

  private[sql] def toLakePredicateStrict(
      f: org.apache.spark.sql.sources.Filter): Option[LakePredicate] = {
    import org.apache.spark.sql.{sources => S}
    import graft.lake.{LakePredicate => P}
    f match {
      // an unconditional DELETE FROM t arrives as one AlwaysTrue filter
      case S.AlwaysTrue() => Some(P.AlwaysTrue)
      case S.AlwaysFalse() => Some(P.AlwaysFalse) // exact: prunes every file
      case S.EqualTo(a, v) => Some(P.Eq(a, v))
      case S.GreaterThan(a, v) => Some(P.Gt(a, v))
      case S.GreaterThanOrEqual(a, v) => Some(P.Ge(a, v))
      case S.LessThan(a, v) => Some(P.Lt(a, v))
      case S.LessThanOrEqual(a, v) => Some(P.Le(a, v))
      case S.In(a, vs) => Some(P.In(a, vs.toSeq))
      case S.IsNull(a) => Some(P.IsNull(a))
      case S.IsNotNull(a) => Some(P.NotNull(a))
      case S.Not(c) => toLakePredicateStrict(c).map(P.Not(_))
      case S.And(l, r) => for {
        lc <- toLakePredicateStrict(l)
        rc <- toLakePredicateStrict(r)
      } yield P.And(lc, rc)
      case S.Or(l, r) => for {
        lc <- toLakePredicateStrict(l)
        rc <- toLakePredicateStrict(r)
      } yield P.Or(lc, rc)
      case _ => None
    }
  }
}
