package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.parquet.RowParquet
import graft.table.IncrementalTable

/** Streaming offset = commit version (json is the bare number, which is
  * exactly what the retired V1 source's `LongOffset` serialized — an
  * existing stream checkpoint resumes across the DSv2 migration without
  * translation). */
final case class GraftOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** One parquet file of a streaming micro-batch: either a data file an
  * append commit added (read in place, with the partition-directory
  * values overlaid at their schema ordinals), or a staged file the
  * driver materialized for a non-file-shaped window (CDC walk). All
  * fields are plain strings so the partition ships to executors with no
  * Spark-internal serialization. */
final case class GraftStreamInputPartition(fileUri: String,
    partTokens: Seq[(String, String)],
    // committed data files carry PHYSICAL column names (column mapping,
    // X72); driver-staged CDC files carry the stream's logical names
    physical: Boolean = true) extends InputPartition

/** Executor-side reader: [[RowParquet]] (public parquet-mr API) opens
  * the file projected BY NAME to the stream schema — files from before
  * a column was added read it as null, files with a narrower committed
  * type widen losslessly — then hive partition-directory values are
  * overlaid at their target ordinals (data files never store partition
  * columns physically, same as the batch layout). */
final class GraftStreamReaderFactory(schemaDdl: String, physicalDdl: String,
    // column DEFAULTs (X79): (logical name, physical name, evaluated
    // catalyst value) — filled for files physically missing the column
    defaults: Seq[(String, String, Any)],
    conf: RowParquet.SerializableConf) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftStreamInputPartition]
    // physical vs logical target schemas are positionally identical
    // (renames preserve field order), so the produced rows bind to the
    // stream's output attributes either way
    new GraftStreamPartitionReader(gp,
      StructType.fromDDL(if (gp.physical) physicalDdl else schemaDdl),
      defaults.map { case (l, ph, v) => (if (gp.physical) ph else l) -> v }.toMap,
      conf.value)
  }
}

private[sources] final class GraftStreamPartitionReader(
    p: GraftStreamInputPartition, target: StructType,
    defaults: Map[String, Any], conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val rows = new RowParquet.FileRows(
    HadoopInputFile.fromPath(new Path(p.fileUri), conf), target, p.partTokens, defaults)

  private var current: InternalRow = _

  override def next(): Boolean = {
    current = rows.next()
    current != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = rows.close()
}

/** The DSv2 micro-batch stream over a graft table — `spark.readStream
  * .format("graft").load(path)` / `spark.readStream.table("graft.ns.t")`
  * on PUBLIC connector interfaces only (the round-7 V1
  * `execution.streaming.Source` is retired). Offsets are commit
  * versions; each micro-batch is one window of commits.
  *
  * The window walk reads the RAW archived delta records
  * ([[IncrementalTable.windowCommits]]) rather than the replayed log,
  * so a lagging consumer whose window predates the newest checkpoint
  * still sees every commit's own add-set — checkpoint folding can never
  * silently drop a commit from the stream (the V1 source special-cased
  * only COLUMNAR checkpoints here; the archived walk covers both kinds
  * uniformly).
  *
  * Modes, matching the retired V1 semantics exactly:
  *  - plain: append-only contract — a replace/dv/restore commit in the
  *    window fails loudly and points at the change feed;
  *  - `skipChangeCommits`: rewrite commits are skipped whole (only pure
  *    appends emit), Delta's documented escape hatch;
  *  - `readChangeFeed` (CDC): the window's logical change rows from
  *    [[IncrementalTable.changes]] — rewrites stream as delete+insert.
  *
  * Execution shape: append windows are FILE-shaped — each added parquet
  * file becomes one [[GraftStreamInputPartition]] read in place by
  * executors, zero copies, zero driver materialization. CDC windows are
  * not file-shaped (the walk joins DV sidecars and cancels rewrites),
  * so the driver runs the walk as a normal distributed batch job,
  * stages the result as parquet under the stream's checkpoint
  * directory, and the partitions read the staged files; `commit(end)`
  * reclaims staged batches once the engine acknowledges them. Cost is
  * O(change volume) either way — never O(table).
  *
  * Reference analog: the sensor/cursor loop (sensors.py:21-80) is the
  * incremental-ingest contract this front door SQL-ifies; offsets play
  * the cursor role, the commit log the file listing. */
final class GraftMicroBatchStream(spark: SparkSession, table: IncrementalTable,
    schema: StructType, startingVersion: Long,
    maxCommitsPerTrigger: Option[Long], cdc: Boolean,
    skipChangeCommits: Boolean, checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def conf = IncrementalTable.hadoopConf(spark)
  private val ckptPath = new Path(checkpointLocation)
  private val stagePrefix = "graft_batch_"

  override def initialOffset(): Offset = GraftOffset(startingVersion - 1)

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  // Trigger.AvailableNow pins the drain target at query start; each
  // trigger then advances by maxCommitsPerTrigger until it is reached
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    table.refresh()
    availableNowTarget = Some(table.latestVersion)
  }

  /** Admission control drives planning ([[SupportsTriggerAvailableNow]]
    * extends SupportsAdmissionControl); the rate limit is the source's
    * own `maxCommitsPerTrigger` option — commits, not rows, are the
    * admission unit, so the engine's row-based ReadLimit is ignored. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startV = start.asInstanceOf[GraftOffset].version
    val head = availableNowTarget.getOrElse {
      table.refresh()
      table.latestVersion
    }
    if (head <= startV) null
    else GraftOffset(maxCommitsPerTrigger match {
      case Some(max) => math.min(head, startV + math.max(1L, max))
      case None => head
    })
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].version
    val to = end.asInstanceOf[GraftOffset].version
    if (to <= from) return Array.empty
    table.refresh()
    if (cdc) {
      // the change feed IS the stream — the walk handles in-window
      // rewrites (delete+insert pairs) and replay-horizon crossings
      // (archived delta records under cdcRetention) uniformly
      stage(from, to, table.changes(from + 1, to))
    } else {
      val window = table.windowCommits(from, to)
      if (!skipChangeCommits) window.foreach { c =>
        require(c.action == "append" || c.action == "meta" ||
            c.action == "dvmerge" ||
            // WAP stagings (X98) are logical no-ops until published;
            // the publish itself lands as a plain append (streamed
            // then) or a replace (correctly rejected here)
            c.action == "staged" ||
            // maintenance rewrites (X94): a compaction preserves the
            // logical rows — it never breaks the append-only contract
            (c.action == "replace" && c.meta
              .get(graft.table.IncrementalTable.MaintenanceKey)
              .contains("1")),
          s"graft streaming source requires append-only history: version " +
            s"${c.version} is '${c.action}' — stream the change feed " +
            "(option readChangeFeed) or the library's rebuild-aware streams")
      }
      window.iterator
        .filter(c => c.action == "append")
        .flatMap(_.add)
        .map(filePartition)
        .toArray[InputPartition]
    }
  }

  private def filePartition(rel: String): GraftStreamInputPartition = {
    // hive partition tokens from the path, RAW (still %-escaped): the
    // executor-side parse ([[RowParquet.partitionValue]]) unescapes once
    val tokens = rel.split("/").dropRight(1).toIndexedSeq
      .flatMap { seg =>
        val i = seg.indexOf('=')
        if (i <= 0) None else Some(seg.substring(0, i) -> seg.substring(i + 1))
      }
      .filter { case (k, _) => schema.fieldNames.contains(k) }
    GraftStreamInputPartition(
      new Path(new Path(table.root), rel).toString, tokens)
  }

  // planInputPartitions MUST be idempotent and stable for one window:
  // the engine re-plans the same micro-batch several times (the scan
  // node's partitions are planned per QueryExecution, and foreachBatch
  // re-plans again), so a naive overwrite-restage would delete the file
  // names an earlier planning already handed out. Memoized per window;
  // across restarts the staged dir's _SUCCESS marker says "complete,
  // reuse" (the window's content is deterministic — commits are
  // immutable history).
  private val planned =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long), Array[InputPartition]]()

  /** Materialize a non-file-shaped window as parquet under the stream's
    * checkpoint dir (a distributed write job, never a driver collect).
    * The directory name carries the window, so `commit` can reclaim
    * acknowledged batches by name. */
  private def stage(from: Long, to: Long,
      batch: => org.apache.spark.sql.DataFrame): Array[InputPartition] =
    planned.computeIfAbsent((from, to), { _ =>
      val dir = new Path(ckptPath, s"$stagePrefix${from + 1}_$to")
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(new Path(dir, "_SUCCESS")))
        batch.select(schema.fieldNames.toIndexedSeq.map(col): _*)
          .write.mode("overwrite").parquet(dir.toString)
      fs.listStatus(dir).iterator
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => GraftStreamInputPartition(st.getPath.toString, Nil,
          physical = false))
        .toArray[InputPartition]
    })

  override def createReaderFactory(): PartitionReaderFactory = {
    val mapping = table.columnMapping()
    val phys = table.physicalSchemaOf(schema)
    // evaluate committed DEFAULT literals once, driver-side; executors
    // fill them for files written before the column existed
    val defaults = table.columnDefaults().toSeq.flatMap { case (l, sql) =>
      schema.fields.find(_.name == l).map { f =>
        (l, mapping.getOrElse(l, l),
          graft.table.IncrementalTable.validateDefault(l, f.dataType, sql))
      }
    }
    new GraftStreamReaderFactory(graft.table.IncrementalTable.ddlOf(schema),
      graft.table.IncrementalTable.ddlOf(phys), defaults,
      new RowParquet.SerializableConf(conf))
  }

  override def commit(end: Offset): Unit = {
    // reclaim staged batches the engine has acknowledged
    val v = end.asInstanceOf[GraftOffset].version
    planned.keySet.removeIf(_._2 <= v)
    val fs = ckptPath.getFileSystem(conf)
    if (cdc && fs.exists(ckptPath)) fs.listStatus(ckptPath).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(stagePrefix)) {
        val endV = n.stripPrefix(stagePrefix).split("_").last
        if (endV.forall(_.isDigit) && endV.toLong <= v)
          fs.delete(st.getPath, true)
      }
    }
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftMicroBatchStream[${table.root}]" +
      (if (cdc) " cdc" else "") +
      (if (skipChangeCommits) " skipChangeCommits" else "")
}
