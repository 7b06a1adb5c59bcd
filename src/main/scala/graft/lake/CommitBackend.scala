package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Storage-location currency for the catalog and commit backends: a
  * plain string URI (`/wh`, `file:///wh`, `s3a://bucket/wh`, …), NOT a
  * `java.nio.file.Path` — nio paths cannot carry a scheme, which forced
  * the round-3 catalog to be local-only while the reference is
  * object-store-first by construction (LocalIcebergCatalog.java:121-127:
  * MinIO + S3FileIO is its ONLY storage path). Child resolution is pure
  * string composition, identical across schemes. */
final case class LakePath(uri: String) extends AnyVal {
  def resolve(child: String): LakePath =
    LakePath(uri.stripSuffix("/") + "/" + child)
  def fileName: String = uri.stripSuffix("/").split('/').last
  override def toString: String = uri
}

object LakePath {
  /** Does the location name a URI scheme (`file://`, `s3a://`, …)? */
  def hasScheme(uri: String): Boolean = uri.contains("://")
}

/** Hadoop-FileSystem operations for the DATA side of a table (parquet
  * directories), which lives wherever the warehouse URI points — the
  * same API Spark's own parquet I/O resolves, so a plain `/wh`, a
  * `file:///wh`, and an `s3a://bucket/wh` warehouse all route through
  * one code path. Metadata documents do NOT come here; they go through
  * a [[CommitBackend]], whose implementation provides the commit CAS. */
private[lake] object DataFs {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}
  private val conf = new org.apache.hadoop.conf.Configuration()
  private def fsOf(h: HPath): FileSystem = h.getFileSystem(conf)

  def mkdirs(p: LakePath): Unit = { val h = new HPath(p.uri); fsOf(h).mkdirs(h); () }

  def deleteTree(p: LakePath): Unit = {
    val h = new HPath(p.uri)
    val fs = fsOf(h)
    if (fs.exists(h)) fs.delete(h, true)
    ()
  }

  /** (path, mtimeMs) for every file under `dir`, recursively. A
    * depth-first `listStatus` walk — the calls [[deleteEmptyDirs]]
    * makes on the same tree. `listFiles(dir, true)` returns
    * `LocatedFileStatus`es, whose copy loads each file's owner and
    * permissions; the local FS without Hadoop's native library does
    * that by running `ls -ld` once per file. */
  def listFilesRecursive(dir: LakePath): Seq[(String, Long)] = {
    val h = new HPath(dir.uri)
    val fs = fsOf(h)
    val buf = scala.collection.mutable.Buffer.empty[(String, Long)]
    def walk(d: HPath): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else buf += ((st.getPath.toString, st.getModificationTime))
    }
    if (fs.exists(h)) walk(h)
    buf.toSeq
  }

  /** The `.parquet` files directly under `dir`, by name — the import
    * set of `addFiles`, listed with the caller's Hadoop conf. */
  def parquetFiles(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[org.apache.hadoop.fs.FileStatus] = {
    val h = new HPath(dir)
    h.getFileSystem(conf).listStatus(h).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
  }

  /** Best-effort depth-first removal of EMPTY directories under `root`
    * (root itself survives): the per-write UUID dirs the orphan sweep
    * empties are FS-only debris — object stores have no directories, so
    * failures are swallowed. Non-recursive deletes only: a dir that
    * gained content between the listing and the delete is refused by
    * the FS, never truncated. The age `cutoffMs` that protects FILES
    * from the sweep must protect directories too: a CONCURRENT
    * in-flight write's freshly created scaffolding (the per-write UUID
    * dir before its first parquet lands, FileOutputCommitter's
    * `_temporary` tree) is empty-by-listing but very much in use —
    * deleting it fails that write. Only dirs whose own mtime is at or
    * before the cutoff go. A LIVE job's `_temporary` tree is never
    * entered (its mtime churns with every task attempt; the committer
    * removes it itself on job end) — but a CRASHED job's committer
    * never runs, and a retained `_temporary` tree pins its parents as
    * non-empty forever. So a `_temporary` root whose own mtime is a
    * full grace window OLDER than the cutoff (no task has touched it
    * in cutoff + 7 days) is dead-job debris and is removed
    * recursively — the one recursive delete here, justified because
    * any concurrent writer would have refreshed the mtime. */
  def deleteEmptyDirs(root: LakePath, cutoffMs: Long = Long.MaxValue): Unit = {
    val tempGraceMs = 7L * 24 * 3600 * 1000
    val tempCutoff = // cutoff - grace, saturating (MaxValue stays MaxValue)
      if (cutoffMs == Long.MaxValue) Long.MaxValue else cutoffMs - tempGraceMs
    val h = new HPath(root.uri)
    try {
      val fs = fsOf(h)
      def sweep(dir: HPath): Boolean = { // true = dir is empty after sweep
        var empty = true
        fs.listStatus(dir).foreach { st =>
          if (st.isDirectory) {
            if (st.getPath.getName == "_temporary") {
              if (st.getModificationTime <= tempCutoff) {
                fs.delete(st.getPath, true); ()
              } else empty = false
            }
            else if (sweep(st.getPath) &&
              st.getModificationTime <= cutoffMs) { fs.delete(st.getPath, false); () }
            else empty = false
          } else empty = false
        }
        empty
      }
      if (fs.exists(h)) { sweep(h); () }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  def delete(p: String): Unit = {
    val h = new HPath(p)
    fsOf(h).delete(h, false)
    ()
  }

  /** Whole-file byte I/O for deletion-vector blobs (small, write-once
    * objects — one create per commit, read whole on the driver). */
  def writeBytes(p: String, bytes: Array[Byte]): Unit = {
    val h = new HPath(p)
    val out = fsOf(h).create(h, false)
    try out.write(bytes) finally out.close()
  }

  def readBytes(p: String): Array[Byte] = {
    val h = new HPath(p)
    val fs = fsOf(h)
    val rawLen = fs.getFileStatus(h).getLen
    // a silent toInt would turn a ≥2 GiB blob into a negative/truncated
    // buffer; fail loudly instead (DV blobs are per-commit and orders of
    // magnitude smaller — hitting this means something is badly wrong)
    require(rawLen <= Int.MaxValue,
      s"refusing to read $p into memory: $rawLen bytes exceeds the 2 GiB " +
        "single-buffer limit")
    val len = rawLen.toInt
    val in = fs.open(h)
    try {
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Modification time if the path exists ON A FILESYSTEM (metadata
    * documents held by a non-FS backend return None). */
  def mtime(p: LakePath): Option[Long] = {
    val h = new HPath(p.uri)
    val fs = fsOf(h)
    if (fs.exists(h)) Some(fs.getFileStatus(h).getModificationTime) else None
  }
}

/** Durable-metadata I/O with one atomic primitive: `putIfAbsent`, a
  * conditional create that fails when the key exists. This is the whole
  * serialization point of the optimistic commit protocol — the role H2's
  * JDBC transaction plays for the reference's catalog
  * (LocalIcebergCatalog.java:197-199: embedded H2 as the commit CAS).
  * Everything else (reads, listings, the best-effort version hint) needs
  * no atomicity.
  *
  * Data files are NOT behind this trait: Spark reads/writes parquet
  * through real filesystem/object-store paths regardless; only the
  * metadata documents (v{N}.json, version-hint) route here. An
  * object-store deployment implements putIfAbsent with a conditional
  * PUT (If-None-Match) — [[InMemoryCommitBackend]] proves the protocol
  * against exactly those semantics, with no hard links or atomic
  * renames available.
  */
trait CommitBackend {
  /** Atomically create `path` with `content` iff absent: the CAS. */
  def putIfAbsent(path: LakePath, content: String): Boolean

  /** Last-writer-wins overwrite (the best-effort version hint). */
  def putOverwrite(path: LakePath, content: String): Unit

  def get(path: LakePath): Option[String]

  /** Remove a single document if present (manifest cleanup). */
  def delete(path: LakePath): Unit

  /** Immediate child names of a directory/prefix (empty if none). */
  def listChildren(dir: LakePath): Seq[String]

  def ensureDir(dir: LakePath): Unit

  /** Is `p` a directory/prefix (not a document)? Namespace listings
    * filter on this so stray files in the warehouse root are never
    * reported as namespaces. */
  def isDir(p: LakePath): Boolean

  /** Recursively remove everything under `dir`, including `dir`. */
  def deleteTree(dir: LakePath): Unit
}

/** POSIX-filesystem backend. The CAS is `Files.createLink` — a true
  * atomic create-if-absent (rename(2) via ATOMIC_MOVE silently REPLACES
  * an existing target on POSIX, so it is NOT a CAS; caught by
  * LakeCatalogSpec in round 1). Also correct on HDFS-style stores via
  * their create-exclusive flag. Plain (scheme-less) paths only: URI
  * warehouses route to [[HadoopFsCommitBackend]]. */
final class LocalFsCommitBackend extends CommitBackend {
  private def nio(p: LakePath): Path = Paths.get(p.uri)

  def putIfAbsent(path: LakePath, content: String): Boolean = {
    val target = nio(path)
    val tmp = Files.createTempFile(target.getParent, ".tmp-", ".json")
    Files.writeString(tmp, content)
    try { Files.createLink(target, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  def putOverwrite(path: LakePath, content: String): Unit = {
    val target = nio(path)
    val tmp = Files.createTempFile(target.getParent, ".hint-", ".txt")
    Files.writeString(tmp, content)
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def get(path: LakePath): Option[String] = {
    val p = nio(path)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  def delete(path: LakePath): Unit = { Files.deleteIfExists(nio(path)); () }

  def listChildren(dir: LakePath): Seq[String] = {
    val d = nio(dir)
    if (!Files.isDirectory(d)) Nil
    else {
      val stream = Files.list(d)
      try stream.iterator.asScala.map(_.getFileName.toString).toSeq
      finally stream.close()
    }
  }

  def ensureDir(dir: LakePath): Unit = Files.createDirectories(nio(dir))

  def isDir(p: LakePath): Boolean = Files.isDirectory(nio(p))

  def deleteTree(dir: LakePath): Unit = {
    val d = nio(dir)
    if (Files.isDirectory(d)) {
      val stream = Files.walk(d)
      val all = try stream.iterator.asScala.toSeq finally stream.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}

/** Metadata documents behind the Hadoop FileSystem API — the API
  * surface an `s3a://`/`hdfs://`/`abfs://` store exposes, mirroring
  * the reference's S3FileIO-first design (LocalIcebergCatalog.java:121-127:
  * MinIO + S3FileIO is its ONLY storage path). The catalog routes any
  * URI-scheme warehouse here by default, so `file:///wh` end-to-end
  * exercises the same code path an `s3a://bucket/wh` deployment runs.
  *
  * The conditional put is WRITE-THEN-PUBLISH: the complete document goes
  * to a uniquely named temp key first, then an atomic `rename` onto the
  * target — a reader can never observe a half-written document (a
  * create(target, overwrite=false) + write draft published the NAME
  * before the BYTES on stream-visible filesystems, and a racing
  * `readMeta` parsed the partial JSON; caught by ConcurrencySpec).
  * Rename refuses an existing destination on HDFS, making it the CAS
  * there; `RawLocalFileSystem` rename overwrites, so a JVM-global guard
  * serializes the exists-check + rename for file:// tests — a
  * cross-process local-FS deployment should use [[LocalFsCommitBackend]]
  * whose hard-link CAS is kernel-atomic. A true object store implements
  * this trait's contract with a conditional PUT (If-None-Match), where
  * the object appears atomically at close and no rename is needed.
  *
  * The scheme comes from the warehouse path itself; everything else
  * (listing, reads, recursive delete) is plain FileSystem API. */
final class HadoopFsCommitBackend(
    hadoopConf: org.apache.hadoop.conf.Configuration =
      new org.apache.hadoop.conf.Configuration())
    extends CommitBackend {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  private def hp(p: LakePath): HPath = new HPath(p.uri)
  private def fsOf(p: HPath): FileSystem = p.getFileSystem(hadoopConf)
  // JVM-GLOBAL serialization for FS implementations whose rename does not
  // refuse an existing destination (RawLocalFileSystem). A per-instance
  // lock failed to serialize two backends opened on the same file://
  // warehouse (two LakeCatalog.open calls, or the per-call backend in
  // the streaming sink-id mint) — both racers passed the exists-check
  // and renamed, losing a commit. Striped by target path so unrelated
  // commits (different tables/warehouses) never serialize on each other.
  private def guardFor(target: HPath): Object =
    HadoopFsCommitBackend.guards(
      math.floorMod(target.toString.hashCode, HadoopFsCommitBackend.guards.length))

  private def writeTemp(fs: FileSystem, dir: HPath, content: String): HPath = {
    val tmp = new HPath(dir, s".tmp-${java.util.UUID.randomUUID}.json")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    tmp
  }

  def putIfAbsent(path: LakePath, content: String): Boolean = {
    val target = hp(path)
    guardFor(target).synchronized {
    val fs = fsOf(target)
    if (fs.exists(target)) false
    else {
      val tmp = writeTemp(fs, target.getParent, content)
      val won = try fs.rename(tmp, target) catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      }
      if (!won) fs.delete(tmp, false)
      won
    }
    }
  }

  /** Write-then-publish as well: manifest documents route through here
    * (their names are unique so nothing overwrites in practice, but a
    * reader must still never see partial bytes). An existing destination
    * (the version hint) is deleted first — HDFS rename refuses to
    * replace — leaving a benign not-found window for a best-effort doc. */
  def putOverwrite(path: LakePath, content: String): Unit = {
    val target = hp(path)
    guardFor(target).synchronized {
    val fs = fsOf(target)
    val tmp = writeTemp(fs, target.getParent, content)
    if (fs.exists(target)) fs.delete(target, false)
    val ok = try fs.rename(tmp, target) catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
    if (!ok) fs.delete(tmp, false) // racing recreate won; don't leak the temp
    ()
    }
  }

  def get(path: LakePath): Option[String] = {
    val target = hp(path)
    val fs = fsOf(target)
    if (!fs.exists(target)) None
    else {
      // exists() above races putOverwrite's delete-then-rename window on
      // the version hint (the one document that IS overwritten): a
      // concurrent republish between exists and open must read as
      // "absent" — the hint is best-effort and every caller handles
      // None — not throw out of an 8-writer commit race
      val in = try fs.open(target) catch {
        case _: java.io.FileNotFoundException => return None
      }
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  def delete(path: LakePath): Unit = { fsOf(hp(path)).delete(hp(path), false); () }

  def listChildren(dir: LakePath): Seq[String] = {
    val d = hp(dir)
    val fs = fsOf(d)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
  }

  def ensureDir(dir: LakePath): Unit = { fsOf(hp(dir)).mkdirs(hp(dir)); () }

  def isDir(p: LakePath): Boolean = {
    val h = hp(p)
    val fs = fsOf(h)
    fs.exists(h) && fs.getFileStatus(h).isDirectory
  }

  def deleteTree(dir: LakePath): Unit = { fsOf(hp(dir)).delete(hp(dir), true); () }
}

object HadoopFsCommitBackend {
  /** 64 JVM-wide lock stripes keyed by target-path hash: every backend
    * instance targeting the same document synchronizes on the same
    * monitor, whichever catalog or streaming sink constructed it. */
  private[lake] val guards: Array[Object] = Array.fill(64)(new Object)
}

/** Conditional-put backend over an in-process map: proves the commit
  * protocol works where hard links and atomic renames do not exist —
  * `putIfAbsent` is the only atomic operation, exactly the contract of
  * an object store's If-None-Match PUT (or the reference's H2 row
  * insert). Durability scope = process lifetime, like the reference's
  * embedded H2 for a test catalog. */
final class InMemoryCommitBackend extends CommitBackend {
  private val docs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def key(p: LakePath): String = p.uri.stripSuffix("/")
  private def parent(u: String): String = {
    val i = u.lastIndexOf('/')
    if (i <= 0 || u.substring(0, i).endsWith(":/")) "" else u.substring(0, i)
  }

  def putIfAbsent(path: LakePath, content: String): Boolean =
    docs.putIfAbsent(key(path), content) == null

  def putOverwrite(path: LakePath, content: String): Unit = { docs.put(key(path), content); () }

  def get(path: LakePath): Option[String] = Option(docs.get(key(path)))

  def delete(path: LakePath): Unit = { docs.remove(key(path)); () }

  def listChildren(dir: LakePath): Seq[String] = {
    val prefix = key(dir) + "/"
    (docs.keySet.asScala ++ dirs.asScala)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).takeWhile(_ != '/'))
      .toSeq.distinct
  }

  def ensureDir(dir: LakePath): Unit = {
    var u = key(dir)
    while (u.nonEmpty && dirs.add(u)) u = parent(u)
  }

  def isDir(p: LakePath): Boolean = {
    val k = key(p)
    dirs.contains(k) || docs.keySet.asScala.exists(_.startsWith(k + "/"))
  }

  def deleteTree(dir: LakePath): Unit = {
    val prefix = key(dir) + "/"
    docs.keySet.asScala.filter(_.startsWith(prefix)).foreach(docs.remove)
    dirs.asScala.filter(d => d == key(dir) || d.startsWith(prefix)).foreach(dirs.remove)
  }
}
