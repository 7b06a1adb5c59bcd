package graft.lake.sql

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import graft.lake.{EntryStats, LakeTable, LakeWriter}

/** Native DSv2 STREAMING SINK for lake tables —
  * `df.writeStream.toTable("cat.ns.t")` without foreachBatch:
  *
  *  - executors stream rows straight into parquet files under a
  *    per-query data directory through the lake writer
  *    ([[graft.lake.LakeWriter]]: the batch write's encoding, codec,
  *    bloom filters and file row cap), each task returning its files'
  *    manifest entries;
  *  - the driver's epoch commit lands EXACTLY the task-committed
  *    entries (a crashed task's partial file is never referenced and
  *    never opened; removeOrphanFiles reclaims it) as ONE exactly-once
  *    append commit per epoch: the (queryId, epochId) ledger is checked
  *    inside the commit CAS, so a restarted or zombie driver replaying
  *    an epoch is a durable no-op.
  *
  * Append output mode only: a lake table is an append-only log of
  * snapshots; complete-mode truncation per epoch is refused at
  * `toStreaming` (use foreachBatch + overwriteAll for that shape). */
private[sql] final class LakeStreamingWrite(lt: LakeTable, queryId: String,
    branch: Option[String] = None)
    extends StreamingWrite {

  // one directory per (query, run): files are uniquely named, epoch
  // replays write fresh files and the ledger no-ops the commit — the
  // losers are orphans removeOrphanFiles reclaims
  private val dir = s"${lt.location}/data/stream-${UUID.randomUUID}"
  // the spec this epoch's tasks derive partition values under
  @volatile private var specId = lt.metadata.currentSpecId

  // per epoch, from the table's current metadata (its write properties)
  // and the active stream session: its SQLConf picks the codec and its
  // Hadoop conf — spark.hadoop.* settings, object-store credentials,
  // custom fs registrations — rides to the executors, so streaming
  // writes reach exactly the warehouses batch writes reach
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val t = lt.refresh()
    specId = t.metadata.currentSpecId
    LakeWriter.factory(SparkSession.active, dir, t.metadata.schemaWithFieldIds,
      t.writeOptions, EntryStats(t.schema, t.spec, t.metadata.fieldIds))
  }

  override def useCommitCoordinator(): Boolean = true

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // an empty epoch still advances the ledger, so a replay cannot
    // reorder against later epochs
    lt.refresh().appendFilesExactlyOnce(
      LakeWriter.entriesOf(messages).map(_.copy(specId = specId)),
      s"dsv2-$queryId", epochId, branch)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}
