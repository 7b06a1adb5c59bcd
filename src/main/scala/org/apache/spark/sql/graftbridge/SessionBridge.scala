package org.apache.spark.sql.graftbridge

import java.lang.ref.{SoftReference, WeakReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.util.QueryExecutionListener

/** Session-scoped confs without global mutation. The lake pins its
  * parquet reader/writer confs (field ids, TIMESTAMP_MICROS) and a few
  * engine queries pin planner confs on a DERIVED session — a
  * `cloneSession()` of the caller (shared SparkContext, cache and
  * catalog state; copied SQLConf, listeners, temp views and functions)
  * with the overlay applied. Nothing is ever set on the caller's own
  * conf: a set/restore there would race between concurrent writers and
  * leak the conf session-wide. `cloneSession()` is private[sql], hence
  * this shim; no other code in `src/main` may call it.
  *
  * ONE derived session per (caller, overlay), reused across
  * operations. Spark 4.1 gives every session its own artifact class
  * loader, on the driver and (by the session's job artifact state) on
  * the executors, and caches generated classes per (class loader,
  * source). A clone per operation therefore recompiled every plan it
  * ran — about 145 Janino compilations per steady cycle of the lake
  * benchmark, 41 of them in one CoW MERGE — and ran it before the JIT
  * had compiled the result.
  * A reused derived session keeps its class loaders, so a repeated
  * statement shape finds its classes in the cache.
  *
  * The derivation key is the caller session (held weakly), a snapshot
  * of the caller's `conf.getAll` and `listenerManager.listListeners()`
  * (by identity), and the overlay. When the caller's conf or listeners
  * differ from the snapshot, the next call derives a fresh session and
  * drops the old one, so a `conf.set` or a listener registered on the
  * caller reaches the very next lake operation, as it did with a clone
  * per call. Temp views and functions the caller registers after a
  * derivation are not part of the key: [[withConfs]] rebinds an
  * already-analyzed plan, and the engine reads built on
  * [[sessionWithConfs]] resolve nothing by name.
  *
  * Invariant: a derived session's conf is never changed after it is
  * handed out — the overlay is applied once, before the session enters
  * the cache. Callers must not `conf.set` on what they get back.
  *
  * Keys are weak and derived sessions are held softly, so the cache
  * keeps no caller alive, not even through a derived session whose
  * cloned state refers back to its caller; a derived session the heap
  * takes back is simply derived again. */
object SessionBridge {

  private final class Derived(
      callerConfs: Map[String, String],
      listeners: Seq[WeakReference[QueryExecutionListener]],
      session: SoftReference[CSparkSession]) {
    def matches(confs: Map[String, String], ls: Array[QueryExecutionListener])
        : Boolean =
      listeners.size == ls.length &&
        listeners.iterator.zip(ls.iterator).forall { case (r, l) => r.get eq l } &&
        callerConfs == confs
    def get: Option[CSparkSession] = Option(session.get)
  }

  // caller → overlay → derived session; guarded by its own monitor
  private val derived = new java.util.WeakHashMap[CSparkSession,
    scala.collection.mutable.HashMap[Map[String, String], Derived]]()

  /** Rebind `df`'s analyzed plan to the derived session carrying
    * `confs`. Right for WRITES (the write command runs under the
    * derived session); for reads use [[sessionWithConfs]] — a file
    * relation captures its session when it is built, so the read must
    * be BUILT on the configured session, not rebound after. */
  def withConfs(df: DataFrame, confs: Map[String, String]): DataFrame =
    CDataset.ofRows(sessionWithConfs(df.sparkSession, confs)
      .asInstanceOf[CSparkSession], df.queryExecution.analyzed)

  /** The derived session of `s` with `confs` applied (see the object
    * doc): the same instance for as long as `s`'s conf and listeners
    * stay as they were. */
  def sessionWithConfs(s: SparkSession, confs: Map[String, String]): SparkSession = {
    val caller = s.asInstanceOf[CSparkSession]
    val callerConfs = caller.conf.getAll
    val listeners = caller.listenerManager.listListeners()
    derived.synchronized {
      val byOverlay = derived.computeIfAbsent(caller,
        _ => scala.collection.mutable.HashMap.empty)
      byOverlay.get(confs).filter(_.matches(callerConfs, listeners)).flatMap(_.get)
        .getOrElse {
          val clone = caller.cloneSession()
          confs.foreach { case (k, v) => clone.conf.set(k, v) }
          byOverlay(confs) = new Derived(callerConfs,
            listeners.toSeq.map(new WeakReference(_)), new SoftReference(clone))
          clone
        }
    }
  }

  /** Run `write` over `df`'s rows as ONE SQL execution on the derived
    * session carrying `confs`, through Spark's DSv2 batch-write node
    * (`WriteToDataSourceV2`: commit coordinator, task commit messages,
    * `BatchWrite.commit` on success and `abort` on failure). The
    * caller's `QueryExecutionListener`s see it, as they see any write
    * on the derived session. */
  def writeBatch(df: DataFrame, confs: Map[String, String],
      write: org.apache.spark.sql.connector.write.BatchWrite): Unit = {
    CDataset.ofRows(sessionWithConfs(df.sparkSession, confs).asInstanceOf[CSparkSession],
      org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2(
        None, write, df.queryExecution.analyzed, Nil)).collect()
    ()
  }

  /** Attach `schema` to `df` VERBATIM over the same physical rows
    * (caller guarantees identical layout — names/types/order equal,
    * only metadata/nullability may differ). This is the only way to
    * carry NESTED field metadata (e.g. nested parquet field IDs) into
    * a write: select aliases set top-level metadata only, and casts
    * drop metadata. */
  def withSchema(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val cds = df.asInstanceOf[CDataset[_]]
    cds.sparkSession.internalCreateDataFrame(
      cds.queryExecution.toRdd, schema)
  }
}
