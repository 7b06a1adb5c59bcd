package graft.lake

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.StructType

/** A create/rename target name is already bound to a table. Subclasses
  * IllegalArgumentException so existing callers keep working; races
  * (CREATE OR REPLACE's exists-check-then-act) key their retry on this
  * TYPE — message-text matching would silently retry unrelated
  * failures that happen to contain "already exists". */
final class LakeTableExistsException(msg: String)
  extends IllegalArgumentException(msg)

/** A table name does not resolve (never created, dropped, or renamed
  * away). Subclasses NoSuchElementException for caller compatibility;
  * exists-check-then-act retries key on the type (see
  * [[LakeTableExistsException]]). */
final class LakeNoSuchTableException(msg: String)
  extends NoSuchElementException(msg)

/** Directory-backed catalog: `<warehouse>/<namespace>/<table>/{metadata,data}`.
  *
  * The Spark-native analog of the reference's LocalIcebergCatalog
  * (reference: JdbcCatalog on embedded H2 + MinIO warehouse,
  * LocalIcebergCatalog.java:99-142): here the metadata directory IS the
  * durable state, so start/stop/reopen (LocalIcebergCatalogTest.java:114-156)
  * reduce to `open(dir)` being idempotent. The H2 compare-and-swap role in
  * commits (LocalIcebergCatalog.java:197-199) is played by an atomic
  * create-if-absent rename of `metadata/v{N}.json` — a real CAS on a local
  * or HDFS filesystem; an object store would need a conditional-put
  * backend exactly as the reference needed H2 (SURVEY.md §7.4).
  */
final class LakeCatalog private (
    val warehouse: LakePath,
    val reporter: MetricsReporter,
    val backend: CommitBackend) {

  def createNamespace(ns: String): Unit =
    backend.ensureDir(warehouse.resolve(ns))

  /** Namespace key/value properties (Iceberg namespaces carry them):
    * stored as one small JSON doc in the namespace dir, last-writer-
    * wins (namespace config is operator-set, not contended like table
    * commits). The doc name is underscored so [[listNamespaces]]'
    * dir-only filter and table listings never mistake it for a table. */
  def namespaceProperties(ns: String): Map[String, String] =
    backend.get(warehouse.resolve(ns).resolve("_namespace.json"))
      .map { json =>
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty)

  def setNamespaceProperties(ns: String, set: Map[String, String],
      remove: Set[String] = Set.empty): Unit = {
    require(listNamespaces().contains(ns), s"no such namespace $ns")
    val next = (namespaceProperties(ns) ++ set) -- remove
    def q(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    backend.putOverwrite(warehouse.resolve(ns).resolve("_namespace.json"),
      next.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${q(v)}" }
        .mkString("{", ",", "}"))
  }

  def listNamespaces(): Seq[String] =
    backend.listChildren(warehouse)
      .filter(n => backend.isDir(warehouse.resolve(n))) // stray files ≠ namespaces
      .sorted

  /** Drop a namespace and everything under it (caller decides whether
    * non-empty is allowed). Returns true if it existed. */
  def dropNamespace(ns: String): Boolean = {
    val d = warehouse.resolve(ns)
    val existed = backend.isDir(d)
    // a tombstoned (renamed-away) directory still physically hosts the
    // renamed table's storage. If the table's LIVE name is in THIS
    // namespace (in-namespace rename ns.a -> ns.b), the cascade drop of
    // b below deletes that storage legitimately; but a directory whose
    // hosted table now lives in ANOTHER namespace must fail loudly —
    // BEFORE anything is dropped — rather than be silently destroyed
    val tables = listTables(ns)
    val hostedHere: Set[String] =
      tables.flatMap(t => resolveTableRoot(ns, t)).map(_.toString).toSet
    backend.listChildren(d).foreach { t =>
      val root = d.resolve(t)
      backend.get(root.resolve(LakeCatalog.MovedDoc)).foreach { target =>
        if (currentVersion(root.resolve("metadata")).isDefined &&
            !hostedHere.contains(root.toString))
          throw new IllegalStateException(
            s"namespace $ns still hosts storage for a table renamed away " +
              s"(last known target '${target.trim}'); drop or rename that " +
              "table first")
      }
    }
    tables.foreach(dropTable(ns, _))
    backend.deleteTree(d)
    DataFs.deleteTree(d) // the FS dir exists whatever the backend
    existed
  }

  def listTables(ns: String): Seq[String] = {
    val d = warehouse.resolve(ns)
    backend.listChildren(d)
      .filter { t =>
        val root = d.resolve(t)
        backend.get(root.resolve(LakeCatalog.MovedDoc)).isEmpty &&
          (backend.get(root.resolve(LakeCatalog.PointerDoc)).isDefined ||
            backend.listChildren(root.resolve("metadata")).nonEmpty)
      }
      .sorted
  }

  def tableExists(ns: String, name: String): Boolean =
    resolveTableRoot(ns, name)
      .exists(r => currentVersion(r.resolve("metadata")).isDefined)

  private[lake] def tableDir(ns: String, name: String): LakePath = warehouse.resolve(ns).resolve(name)

  /** Resolve a table NAME to its physical root. Names decouple from
    * paths through two small documents in the name's directory:
    * `pointer.text` (this name is bound to a table stored elsewhere —
    * the role the reference's H2 name→location row plays) and
    * `moved.text` (this name was renamed away; the directory stays
    * because it physically hosts the renamed table's files). None =
    * the name does not currently resolve. */
  private[lake] def resolveTableRoot(ns: String, name: String): Option[LakePath] = {
    val root = tableDir(ns, name)
    if (backend.get(root.resolve(LakeCatalog.MovedDoc)).isDefined) None
    else backend.get(root.resolve(LakeCatalog.PointerDoc)) match {
      case Some(loc) => Some(LakePath(loc.trim))
      case None => Some(root)
    }
  }

  /** Metadata dir for commits/reads. Falls back to the name's own
    * directory when the name no longer resolves — a STALE LakeTable
    * handle held across a rename keeps committing to the same physical
    * metadata the new name's pointer targets, so both views stay
    * consistent. */
  private[lake] def metadataDir(ns: String, name: String): LakePath =
    resolveTableRoot(ns, name).getOrElse(tableDir(ns, name)).resolve("metadata")

  // ---- manifest-layer documents (immutable, uniquely named → cacheable) ----

  /** Parsed caches for manifest and manifest-list documents. Both are
    * write-once (a commit never mutates one, it writes a new name), so
    * entries never invalidate; dropped/expired documents are evicted by
    * the delete path. Bounded crudely: a full clear past 16k entries
    * (re-reads repopulate) — the driver-side working set is the LIVE
    * layer of open tables, which stays far below that. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFileEntry]]()
  private val listCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ManifestRef]]()

  /** Insert under the crude bound: a full clear past 16k entries before
    * every put (re-reads repopulate) — applied on BOTH the read-miss and
    * the write paths, so a long-lived driver that commits frequently but
    * rarely reads still stays bounded. */
  private[lake] def cachePut[T](cache: java.util.concurrent.ConcurrentHashMap[String, T],
      key: String, value: T): Unit = {
    if (cache.size > LakeCatalog.CacheBound) cache.clear()
    cache.put(key, value)
    ()
  }

  private def cached[T](cache: java.util.concurrent.ConcurrentHashMap[String, T],
      md: LakePath, name: String)(parse: String => T): T = {
    val key = md.resolve(name).toString
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val parsed = parse(backend.get(md.resolve(name)).getOrElse(
        throw new IllegalStateException(s"missing metadata document $name under $md")))
      cachePut(cache, key, parsed)
      parsed
    }
  }

  /** Test visibility: (manifestCache size, listCache size). */
  private[lake] def metaCacheSizes: (Int, Int) = (manifestCache.size, listCache.size)

  private[lake] def manifestIO(md: LakePath): ManifestIO = new ManifestIO {
    def readList(name: String): Seq[ManifestRef] =
      cached(listCache, md, name)(MetadataJson.readManifestList)
    def readManifest(name: String): Seq[DataFileEntry] =
      cached(manifestCache, md, name)(MetadataJson.readManifest)
  }

  /** Write one immutable manifest document for `files`; returns the ref
    * a manifest list embeds, carrying rollup skip stats when `keyTypes`
    * (stat key → column type, [[TableMetadata.statKeyTypes]]) is given —
    * the manifest-list summaries that let scan planning skip whole
    * documents. The name is unique per write, so a lost CAS race merely
    * orphans the document (removeOrphanFiles reclaims it) — no
    * atomicity needed beyond the metadata CAS itself. */
  private[lake] def writeManifest(md: LakePath, files: Seq[DataFileEntry],
      content: String = ManifestRef.Data,
      keyTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty): ManifestRef = {
    val name = s"manifest-${java.util.UUID.randomUUID}.json"
    backend.putOverwrite(md.resolve(name), MetadataJson.writeManifest(files))
    cachePut(manifestCache, md.resolve(name).toString, files)
    ManifestRef.of(name, files, content, keyTypes)
  }

  /** Write one immutable manifest-list document; returns its name. */
  private[lake] def writeManifestList(md: LakePath, refs: Seq[ManifestRef]): String = {
    val name = s"snaplist-${java.util.UUID.randomUUID}.json"
    backend.putOverwrite(md.resolve(name), MetadataJson.writeManifestList(refs))
    cachePut(listCache, md.resolve(name).toString, refs)
    name
  }

  /** Write one immutable statistics document (the Puffin-file analog);
    * returns its name for [[TableMetadata.statsFiles]]. Unique per
    * write like manifests: a replaced or race-lost doc is merely an
    * orphan the sweep reclaims. */
  private[lake] def writeStatsDoc(md: LakePath, json: String): String = {
    val name = s"stats-${java.util.UUID.randomUUID}.json"
    backend.putOverwrite(md.resolve(name), json)
    name
  }

  /** Read a statistics document; None when missing (stats are
    * best-effort estimates — a lost doc degrades, never fails). */
  private[lake] def readStatsDoc(md: LakePath, name: String): Option[String] =
    backend.get(md.resolve(name))

  /** Delete a manifest-layer document no surviving snapshot references. */
  private[lake] def deleteMetaDoc(md: LakePath, name: String): Unit = {
    backend.delete(md.resolve(name))
    manifestCache.remove(md.resolve(name).toString)
    listCache.remove(md.resolve(name).toString)
    ()
  }

  /** A5: create table with schema + spec, no snapshot yet (empty log). */
  def createTable(ns: String, name: String, schema: StructType,
      spec: Seq[PartitionField] = Nil, sortOrder: Seq[String] = Nil,
      sortOrderKind: String = "linear"): LakeTable = {
    sortOrder.foreach(c => require(schema.fieldNames.contains(c),
      s"sort column $c is not a column"))
    require(sortOrderKind == "linear" || sortOrderKind == "zorder",
      s"unknown sort-order kind '$sortOrderKind'")
    if (sortOrderKind == "zorder") {
      require(sortOrder.size >= 2, "z-order needs at least 2 columns")
      sortOrder.foreach(c => require(
        graft.functions.ZOrder.supported(schema(c).dataType),
        s"column $c: type ${schema(c).dataType.simpleString} has no z-order encoding"))
    }
    // data directories live wherever the warehouse URI points (Spark
    // parquet I/O resolves the same Hadoop FileSystem), whatever backend
    // holds the metadata documents (prepareCreate's mkdirs)
    val (_, md) = prepareCreate(ns, name)
    // positional field IDs 1..n at creation (reference schemas carry
    // explicit IDs, IntegrationTest.java:59-64); stable under rename,
    // never reused after drop
    val meta = TableMetadata(s"$ns.$name", tableDir(ns, name).uri, schema, spec,
      snapshots = Nil, currentSnapshotId = -1L,
      sortOrder = sortOrder, sortOrderKind = sortOrderKind).withFieldIdDefaults
    // same CAS as commit(): racing creators — exactly one wins
    if (!backend.putIfAbsent(md.resolve("v1.json"), MetadataJson.write(meta)))
      throw new LakeTableExistsException(s"table $ns.$name already exists")
    writeHint(md, 1)
    new LakeTable(this, ns, name, meta, 1)
  }

  /** The directory a table name's storage PHYSICALLY lives in:
    * rename-resolved like [[metadataDir]] (a renamed-away source name
    * keeps pointing at the hosting directory), falling back to the
    * name's own dir for names that don't resolve yet (creation). */
  private[lake] def tableRoot(ns: String, name: String): LakePath =
    resolveTableRoot(ns, name).getOrElse(tableDir(ns, name))

  /** Shared creation preamble: name-retirement, existence and view
    * collision guards + directory init. Returns (root, metadata dir).
    * Factored so [[createTable]] and [[createTableWithData]] can never
    * drift on the naming rules. */
  private def prepareCreate(ns: String, name: String): (LakePath, LakePath) = {
    val root = tableDir(ns, name)
    // a renamed-away name's directory physically hosts the renamed
    // table's files — reusing the name would collide with them
    if (backend.get(root.resolve(LakeCatalog.MovedDoc)).isDefined)
      throw new IllegalArgumentException(
        s"name $ns.$name was retired by RENAME TABLE; its directory still " +
          "hosts the renamed table's storage")
    val md = root.resolve("metadata")
    if (tableExists(ns, name))
      throw new LakeTableExistsException(s"table $ns.$name already exists")
    if (viewExists(ns, name))
      throw new IllegalArgumentException(s"view $ns.$name already exists")
    backend.ensureDir(md)
    DataFs.mkdirs(root)
    (root, md)
  }

  /** ATOMIC staged create (CTAS): like [[createTable]], but `v1.json`
    * already references pre-written data files — ONE putIfAbsent makes
    * the table and its data visible together, so a CREATE TABLE AS
    * SELECT never exposes an empty or partially-loaded table and a
    * crash before the CAS leaves nothing visible (stray staged files
    * are unreferenced garbage). The entries must have been written
    * under [[TableMetadata.withFieldIdDefaults]] positional IDs for
    * this (ns, name, schema, spec) — the same IDs this metadata
    * assigns. The data snapshot is an append landed by the
    * [[SnapshotProducer]] on the empty definition, so its files carry
    * row lineage like any other append's. */
  private[lake] def createTableWithData(ns: String, name: String,
      schema: StructType, spec: Seq[PartitionField],
      entries: Seq[DataFileEntry],
      properties: Map[String, String] = Map.empty,
      sortOrder: Seq[String] = Nil,
      sortOrderKind: String = "linear"): LakeTable = {
    val (root, md) = prepareCreate(ns, name)
    val meta0 = TableMetadata(s"$ns.$name", root.uri, schema, spec,
      snapshots = Nil, currentSnapshotId = -1L,
      properties = properties, sortOrder = sortOrder,
      sortOrderKind = sortOrderKind).withFieldIdDefaults
    val (meta, _) = new SnapshotProducer(this, md).produce(meta0,
      LakeTable.CommitRequest.Append(entries.map(_.copy(specId = meta0.currentSpecId))))
    if (!backend.putIfAbsent(md.resolve("v1.json"), MetadataJson.write(meta)))
      throw new LakeTableExistsException(s"table $ns.$name already exists")
    writeHint(md, 1)
    new LakeTable(this, ns, name, meta, 1)
  }

  /** A6: load table; schema round-trips identically (StructType equality). */
  def loadTable(ns: String, name: String): LakeTable = {
    val md = metadataDir(ns, name)
    val v = currentVersion(md).getOrElse(
      throw new LakeNoSuchTableException(s"no such table $ns.$name under $warehouse"))
    new LakeTable(this, ns, name, readMeta(md, v), v)
  }

  def dropTable(ns: String, name: String): Unit = {
    val root = tableDir(ns, name)
    // a tombstoned name does not resolve — but its directory physically
    // hosts the RENAMED table's live storage, so the old getOrElse(root)
    // fallback would delete that table's data through a name that no
    // longer exists. Treat the name as nonexistent instead.
    val physical = resolveTableRoot(ns, name).getOrElse(
      throw new NoSuchElementException(
        s"no such table $ns.$name under $warehouse (renamed away)"))
    // consistent nonexistence semantics: a name that never existed
    // throws like a renamed-away one does; the SQL path's tableExists
    // pre-check (LakeSqlCatalog.dropTable) is the idempotent layer
    if (currentVersion(physical.resolve("metadata")).isEmpty)
      throw new NoSuchElementException(s"no such table $ns.$name under $warehouse")
    backend.deleteTree(physical.resolve("metadata"))
    DataFs.deleteTree(physical) // data files live on the FS/store regardless
    if (physical != root) { // name was a pointer: retire the pointer dir too
      backend.deleteTree(root)
      DataFs.deleteTree(root)
    }
  }

  /** RENAME TABLE: bind `toNs.toName` to the table currently named
    * `ns.name`, then retire the old name — a pure metadata operation
    * (zero data files, manifests, or metadata documents move). The
    * name→location indirection the reference gets from its H2 catalog
    * row (LocalIcebergCatalog.java:99-142) lives here in two documents:
    * the new name's directory gets `pointer.text` with the physical
    * root, written with the same putIfAbsent CAS as commits so exactly
    * one racing renamer (or creator) wins the name; the old name's
    * directory gets `moved.text` because it still physically hosts the
    * table's storage. Renaming back onto the physical host just clears
    * `moved.text`; renaming a pointer-name re-points and deletes the
    * now-empty pointer directory. Open LakeTable handles keep working:
    * metadataDir() falls back to the name's own directory, which is the
    * physical metadata the new name's pointer targets. */
  def renameTable(ns: String, name: String, toNs: String, toName: String): Unit = {
    val oldRoot = tableDir(ns, name)
    val physical = resolveTableRoot(ns, name).getOrElse(
      throw new NoSuchElementException(s"no such table $ns.$name under $warehouse"))
    if (currentVersion(physical.resolve("metadata")).isEmpty)
      throw new NoSuchElementException(s"no such table $ns.$name under $warehouse")
    val newDir = tableDir(toNs, toName)
    if (newDir == physical) {
      // renaming back onto the directory that hosts the files: the name
      // becomes live again simply by clearing its tombstone, and the
      // old pointer-name's (storage-free) directory retires
      backend.delete(newDir.resolve(LakeCatalog.MovedDoc))
      if (oldRoot != newDir) {
        backend.deleteTree(oldRoot)
        DataFs.deleteTree(oldRoot)
      }
    } else {
      if (tableExists(toNs, toName))
        throw new IllegalArgumentException(s"table $toNs.$toName already exists")
      if (backend.get(newDir.resolve(LakeCatalog.MovedDoc)).isDefined)
        throw new IllegalArgumentException(
          s"name $toNs.$toName was retired by RENAME TABLE; its directory " +
            "still hosts the renamed table's storage")
      backend.ensureDir(newDir)
      if (!backend.putIfAbsent(newDir.resolve(LakeCatalog.PointerDoc), physical.uri))
        throw new IllegalArgumentException(s"table $toNs.$toName already exists")
      if (backend.get(oldRoot.resolve(LakeCatalog.PointerDoc)).isDefined) {
        // old name was itself an indirection: its directory holds nothing
        backend.deleteTree(oldRoot)
        DataFs.deleteTree(oldRoot)
      } else backend.putOverwrite(oldRoot.resolve(LakeCatalog.MovedDoc), s"$toNs.$toName")
    }
  }

  /** Iceberg's register_table: bind a catalog NAME to a table whose
    * metadata already exists at `location` — no copy, no metadata
    * rewrite, the import path for a table written by another catalog
    * (or orphaned by a dropped name). Reuses RENAME's pointer
    * mechanism, so the registered name resolves through
    * [[resolveTableRoot]] like any renamed table, and the putIfAbsent
    * CAS makes racing registrations land exactly one winner. */
  def registerTable(ns: String, name: String, location: String): LakeTable = {
    val physical = LakePath(location.trim)
    if (currentVersion(physical.resolve("metadata")).isEmpty)
      throw new IllegalArgumentException(
        s"no table metadata found under $location")
    val newDir = tableDir(ns, name)
    if (tableExists(ns, name))
      throw new LakeTableExistsException(s"table $ns.$name already exists")
    // mirror renameTable: a name that already resolves as a SQL view
    // must not also bind a table — one name, one object
    if (viewExists(ns, name))
      throw new IllegalArgumentException(s"view $ns.$name already exists")
    if (backend.get(newDir.resolve(LakeCatalog.MovedDoc)).isDefined)
      throw new IllegalArgumentException(
        s"name $ns.$name was retired by RENAME TABLE; its directory " +
          "still hosts the renamed table's storage")
    backend.ensureDir(newDir)
    if (newDir != physical &&
        !backend.putIfAbsent(newDir.resolve(LakeCatalog.PointerDoc), physical.uri))
      throw new LakeTableExistsException(s"table $ns.$name already exists")
    loadTable(ns, name)
  }

  // ---- SQL views (Iceberg view-spec analog; see [[ViewDoc]]) ----

  private def viewMetaDir(ns: String, name: String): LakePath =
    tableDir(ns, name).resolve("view-metadata")

  def viewExists(ns: String, name: String): Boolean =
    currentVersion(viewMetaDir(ns, name)).isDefined

  /** Views share the namespace directory with tables but carry a
    * `view-metadata/` dir instead of `metadata/`, so [[listTables]]
    * never lists them and vice versa. */
  def listViews(ns: String): Seq[String] =
    backend.listChildren(warehouse.resolve(ns))
      .filter(v => viewExists(ns, v)).sorted

  def loadView(ns: String, name: String): Option[ViewDoc] = {
    val md = viewMetaDir(ns, name)
    currentVersion(md).flatMap(v => backend.get(md.resolve(s"v$v.json")))
      .map(ViewJson.parse)
  }

  /** Create a view; same CAS as table creation — racing creators,
    * exactly one wins. Refuses a name bound to a table (one namespace,
    * one name universe — a reader must never need to know which kind a
    * name is to get an answer). */
  def createView(ns: String, name: String, doc: ViewDoc): Unit = {
    if (tableExists(ns, name))
      throw new IllegalArgumentException(s"table $ns.$name already exists")
    if (backend.get(tableDir(ns, name).resolve(LakeCatalog.MovedDoc)).isDefined)
      throw new IllegalArgumentException(
        s"name $ns.$name was retired by RENAME TABLE; its directory still " +
          "hosts the renamed table's storage")
    val md = viewMetaDir(ns, name)
    backend.ensureDir(md)
    if (!backend.putIfAbsent(md.resolve("v1.json"), ViewJson.write(doc)))
      throw new IllegalArgumentException(s"view $ns.$name already exists")
    writeHint(md, 1)
  }

  /** CREATE OR REPLACE: append the next version to the log atomically
    * (optimistic CAS like table commits — a racing replace retries on
    * the loser's side, never drops a version). Falls back to create
    * when the view does not exist yet. */
  def replaceView(ns: String, name: String)(
      next: Option[ViewDoc] => ViewDoc): ViewDoc = {
    val md = viewMetaDir(ns, name)
    var attempts = 0
    while (attempts < 10) {
      attempts += 1
      currentVersion(md) match {
        case None =>
          val doc = next(None)
          try { createView(ns, name, doc); return doc }
          catch { case _: IllegalArgumentException if viewExists(ns, name) => () }
        case Some(v) =>
          val cur = backend.get(md.resolve(s"v$v.json")).map(ViewJson.parse)
          val doc = next(cur)
          if (backend.putIfAbsent(md.resolve(s"v${v + 1}.json"), ViewJson.write(doc))) {
            writeHint(md, v + 1)
            return doc
          }
      }
    }
    throw new IllegalStateException(
      s"replaceView $ns.$name: lost the commit race 10 times")
  }

  /** Returns true if the view existed. */
  def dropView(ns: String, name: String): Boolean = {
    if (!viewExists(ns, name)) false
    else {
      val root = tableDir(ns, name)
      backend.deleteTree(root)
      DataFs.deleteTree(root) // the FS dir may exist regardless of backend
      true
    }
  }

  /** Metadata-only rename: the doc is small and self-contained, so
    * rename copies it under the target name (CAS — exactly one racing
    * creator wins) and drops the source. */
  def renameView(ns: String, name: String, toNs: String, toName: String): Unit = {
    val doc = loadView(ns, name).getOrElse(
      throw new NoSuchElementException(s"no such view $ns.$name under $warehouse"))
    createView(toNs, toName, doc.copy(name = s"$toNs.$toName"))
    dropView(ns, name)
    ()
  }

  private[lake] def readMeta(md: LakePath, version: Int): TableMetadata =
    MetadataJson.read(backend.get(md.resolve(s"v$version.json")).getOrElse(
      throw new IllegalStateException(s"missing metadata v$version.json under $md")),
      manifestIO(md))

  private def writeHint(md: LakePath, v: Int): Unit =
    backend.putOverwrite(md.resolve("version-hint.text"), v.toString)

  /** Current metadata version: trust version-hint if present and valid,
    * else fall back to listing v*.json (hint is best-effort, like the
    * reference's version-hint file convention). */
  private[lake] def currentVersion(md: LakePath): Option[Int] = {
    val hinted = backend.get(md.resolve("version-hint.text"))
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(v => backend.get(md.resolve(s"v$v.json")).isDefined)
    val listed = backend.listChildren(md)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        scala.util.Try(s.stripPrefix("v").stripSuffix(".json").toInt).toOption }
      .flatten.maxOption
    (hinted, listed) match {
      case (Some(h), Some(l)) => Some(math.max(h, l))
      case (h, l) => h.orElse(l)
    }
  }

  /** Optimistic CAS commit: re-read latest, re-apply, attempt a
    * conditional put of the next version document; on collision retry.
    * The backend's putIfAbsent is the ONLY atomic primitive the
    * protocol needs (the reference outsourced the same role to H2,
    * LocalIcebergCatalog.java:197-199). `attempts` counts the first try
    * as 1 (Iceberg semantics, reference: IntegrationTest.java:107).
    * Returns (newMeta, version, attempts). */
  private[lake] def commit(ns: String, name: String, maxRetries: Int = 10)(
      transform: TableMetadata => TableMetadata): (TableMetadata, Int, Int) = {
    val md = metadataDir(ns, name)
    var attempts = 0
    while (attempts < maxRetries) {
      attempts += 1
      val base = currentVersion(md).getOrElse(
        throw new IllegalStateException(s"table $ns.$name has no metadata"))
      val latest = readMeta(md, base)
      val next = transform(latest)
      // IDENTITY transforms commit NOTHING: a scheduled maintenance
      // loop (rewriteManifests below minManifests, expireSnapshots with
      // nothing to expire) must converge on metadata VERSIONS too —
      // byte-identical v{N+1} docs per cron tick grow the metadata dir
      // unboundedly (old versions are never swept)
      val nextJson = MetadataJson.write(next)
      if (nextJson == MetadataJson.write(latest))
        return (latest, base, attempts)
      if (backend.putIfAbsent(md.resolve(s"v${base + 1}.json"), nextJson)) {
        writeHint(md, base + 1)
        return (next, base + 1, attempts)
      }
      // lost the race; go around with fresh metadata
    }
    throw new IllegalStateException(
      s"commit to $ns.$name failed after $maxRetries attempts")
  }
}

object LakeCatalog {
  /** Crude cap on the manifest/list caches (see cachePut). */
  private[lake] val CacheBound = 16384
  /** Name→location indirection: this name is bound to a table whose
    * physical root is the document's contents (see resolveTableRoot). */
  private[lake] val PointerDoc = "pointer.text"
  /** Tombstone: this name was renamed away; the directory remains only
    * because it physically hosts the renamed table's files. */
  private[lake] val MovedDoc = "moved.text"

  /** A1-A3: idempotent open; an existing warehouse reopens with all
    * state intact (the restart-durability contract). `dir` may be a
    * plain path or any Hadoop-resolvable URI (`file:///wh`,
    * `s3a://bucket/wh`, `hdfs://nn/wh`) — the reference's
    * S3FileIO-first shape (LocalIcebergCatalog.java:121-127). The
    * backend decides where metadata documents live and what provides
    * the commit CAS; by default, plain paths get the kernel-atomic
    * hard-link CAS and URI warehouses the Hadoop FileSystem API
    * (create-exclusive rename), pass one explicitly to override. */
  def open(dir: String,
      reporter: MetricsReporter = MetricsReporter.noop,
      backend: CommitBackend = null): LakeCatalog = {
    val p = LakePath(dir)
    val be = Option(backend).getOrElse(
      if (LakePath.hasScheme(dir)) new HadoopFsCommitBackend
      else new LocalFsCommitBackend)
    DataFs.mkdirs(p) // A4: "bucket" bootstrap
    be.ensureDir(p)
    new LakeCatalog(p, reporter, be)
  }
}
