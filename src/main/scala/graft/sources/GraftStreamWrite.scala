package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.parquet.RowParquet
import graft.table.{HiveDirWriter, IncrementalTable}

/** A task's staged files: paths RELATIVE to the epoch's staging dir
  * (hive layout included), reported back for the driver-side commit —
  * only message-listed files enter the log, so a speculative or retried
  * task's extra files stay invisible orphans until the stage dir is
  * dropped. */
final case class GraftTaskFiles(rels: Seq[String]) extends WriterCommitMessage

/** DSv2 streaming sink for a graft table — `df.writeStream
  * .format("graft").start(path)` / `.toTable("graft.ns.t")` on PUBLIC
  * connector interfaces only (the round-7 V1 `execution.streaming.Sink`
  * + `internalCreateDataFrame` shim are retired).
  *
  * Execution shape: executors write parquet directly into a per-epoch
  * staging dir under the table root via [[HiveDirWriter]] (partition
  * values route to hive dirs, data files carry only data columns —
  * the same layout Spark's batch writer stages, and the same writer
  * the table's driver-side stage runs for local frames); the driver-side
  * `commit(epoch)` then hands exactly the task-reported files to
  * [[IncrementalTable.commitStagedStream]]. Past the (appId, batchId)
  * replay guard — a crash replay of a committed epoch short-circuits at
  * the log before any file moves — the epoch commits through the same
  * post-stage path as a batch `append`: layout guard, footer stats,
  * sidecars, promote and ONE log commit, timed into
  * [[IncrementalTable.lastWriteTiming]]. That is the exactly-once
  * contract of the library's foreachBatch sinks with zero per-batch
  * re-planning: rows stream straight from the running plan into the
  * staged files.
  *
  * `truncate` (Complete output mode, via the write builder's
  * SupportsTruncate): each epoch commits a full atomic replace instead
  * of an append — the maintained-view shape. */
final class GraftStreamingWrite(table: IncrementalTable,
    partitionBy: Seq[String], appId: String, writeSchema: StructType,
    statsColumns: Seq[String], truncate: Boolean,
    conf: RowParquet.SerializableConf,
    // X105 streaming MOR upsert: each epoch's key tuples go in force
    // as an equality delete inside the epoch's own commit
    upsertKeys: Seq[String] = Nil) extends StreamingWrite {

  // one staging namespace per writer identity: deterministic, so a
  // crashed epoch's re-attempt lands in the same place and the commit
  // sweeps its predecessors' orphans with the stage dir
  private val stageNs = "stream_" + Integer.toHexString(appId.hashCode)

  private def epochStage(epochId: Long): Path =
    new Path(new Path(table.root), s"_staging/$stageNs/e$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // staged files carry PHYSICAL names (column mapping, X72; nested
    // members too, X86) — renames preserve field order and types, so
    // the positional rows bind as-is; partition columns are never
    // renamable, so routing names hold
    val phys = table.physicalSchemaOf(writeSchema)
    // hidden partitioning (X77): derived partition columns route via
    // their committed transform, evaluated per row executor-side (spec
    // strings ship; transform bases are rename-guarded, so the names
    // hold under the physical schema too)
    val specs = table.partitionTransforms().view
      .mapValues(_.spec).toMap.toSeq
    new GraftStreamWriterFactory(
      new Path(new Path(table.root), s"_staging/$stageNs").toString,
      graft.table.IncrementalTable.ddlOf(phys), partitionBy, specs, conf,
      table.tableProperties.getOrElse("graft.parquet.compression", "snappy"))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val rels = messages.toIndexedSeq
      .flatMap(m => m.asInstanceOf[GraftTaskFiles].rels)
    table.commitStagedStream(epochStage(epochId), rels, writeSchema,
      partitionBy, replace = truncate, batchId = epochId, appId = appId,
      statsColumns = statsColumns, upsertKeys = upsertKeys)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val stage = epochStage(epochId)
    val fs = stage.getFileSystem(conf.value)
    if (fs.exists(stage)) fs.delete(stage, true)
    ()
  }

  override def toString: String =
    s"GraftStreamingWrite[${table.root}]${if (truncate) " truncate" else ""}"
}

private[sources] final class GraftStreamWriterFactory(stageNsUri: String,
    schemaDdl: String, partitionBy: Seq[String],
    transformSpecs: Seq[(String, String)],
    conf: RowParquet.SerializableConf,
    codec: String = "snappy") extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftStreamDataWriter(new Path(stageNsUri, s"e$epochId"),
      StructType.fromDDL(schemaDdl), partitionBy, transformSpecs,
      conf.value, partitionId, taskId, codec)
}

/** Executor-side writer: one [[HiveDirWriter]] per task, reporting its
  * staged rel paths on task commit. */
private[sources] final class GraftStreamDataWriter(epochStage: Path,
    schema: StructType, partitionBy: Seq[String],
    transformSpecs: Seq[(String, String)], conf: Configuration,
    partitionId: Int, taskId: Long,
    codec: String = "snappy") extends DataWriter[InternalRow] {

  private val out = new HiveDirWriter(epochStage, schema, partitionBy,
    transformSpecs, conf, partitionId, taskId, codec)

  override def write(row: InternalRow): Unit = out.write(row)

  override def commit(): WriterCommitMessage = GraftTaskFiles(out.commit())

  override def abort(): Unit = out.abort()

  override def close(): Unit = out.close()
}
