package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.table.IncrementalTable

/** The Spark front door for [[graft.table.IncrementalTable]]:
  * `spark.read.format("graft").load(path)` and
  * `CREATE TEMPORARY VIEW t USING graft OPTIONS (path '…')` followed by
  * plain `SELECT … FROM t` — the "engine opens the table by name"
  * contract of the reference's IO-manager read path
  * (delta_io.py:118-129).
  *
  * Read path: the provider is a DSv2 `TableProvider` whose table
  * ([[GraftPathTable]]) advertises `BATCH_READ`, so Spark's
  * `DataFrameReader` and `CREATE TEMPORARY VIEW … USING` plan batch
  * reads through the catalog's scan builder ([[GraftScanBuilder]] →
  * [[GraftBatchScan]]) — ONE scan behind both front doors. Pushed
  * filters route into the table's log-level data-skipping index
  * ([[IncrementalTable.liveFilesWhere]]) before any file is enumerated,
  * partition equality prunes at directory granularity, deletion
  * vectors apply in-scan, column pruning reaches the parquet
  * ReadSchema, and runtime filters (DPP), LIMIT/TOP-N and metadata
  * COUNT/MIN/MAX pushdown apply exactly as they do to
  * `SELECT … FROM graft.ns.t`.
  *
  * Write path: no table advertises `BATCH_WRITE`, so
  * `df.write.format("graft").mode(…).save(path)` falls back to the V1
  * [[CreatableRelationProvider]] below: Append →
  * [[IncrementalTable.append]], Overwrite →
  * [[IncrementalTable.replaceWhere]] with an empty filter (a full,
  * atomic, OCC-checked overwrite) — the same log as the library API,
  * with the same conflict detection. A `USING graft` view is read-only;
  * SQL writes go through the catalog (`INSERT INTO graft.ns.t`).
  *
  * Options: `path` (required), `versionAsOf` (batch time travel),
  * `partitionBy` (writes: comma-separated; defaults to the table's
  * committed layout), and the streaming options of
  * [[GraftSource.microBatchStream]].
  */
final class GraftSource extends CreatableRelationProvider
    with DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider {

  override def shortName(): String = "graft"

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val t = IncrementalTable(sqlContext.sparkSession,
      GraftSource.pathOf(parameters))
    val partitionBy = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(if (t.exists) t.partitionColumns else Seq.empty)
    // same skipping-index contract as catalog writes: the
    // `graft.statsColumns` table property (or an explicit
    // `statsColumns` write option) indexes every written file
    val stats = parameters.get("statsColumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(GraftCatalog.statsColumnsOf(t))
    // write-audit-publish (X98): the `wapId` write option or the
    // session-wide `spark.graft.wap.id` conf stages instead of
    // committing — path-door parity with the catalog's INSERT staging
    val wap = parameters.get("wapId").orElse(
        sqlContext.sparkSession.conf.getOption("spark.graft.wap.id"))
      .map(_.trim).filter(_.nonEmpty)
    // branch writes (X102): the `branch` write option or the
    // session-wide `spark.graft.branch` conf lands the write on the
    // named branch's chain — path-door parity with the catalog
    val branchTo = parameters.get("branch").orElse(
        sqlContext.sparkSession.conf.getOption("spark.graft.branch"))
      .map(_.trim).filter(_.nonEmpty)
    require(wap.isEmpty || branchTo.isEmpty,
      "a write stages under a WAP id OR a branch, not both")
    (mode, wap) match {
      case (SaveMode.Append, _) if branchTo.isDefined =>
        t.appendBranch(data, branchTo.get, partitionBy, statsColumns = stats)
      case (SaveMode.Overwrite, _) if branchTo.isDefined =>
        t.replaceWhereBranch(data, branchTo.get, partitionBy, Map.empty,
          Map.empty, statsColumns = stats)
      case (SaveMode.Append, Some(id)) =>
        t.stageAppend(data, id, partitionBy, statsColumns = stats)
      case (SaveMode.Overwrite, Some(id)) =>
        t.stageReplaceWhere(data, id, partitionBy, Map.empty, Map.empty,
          statsColumns = stats)
      case (SaveMode.Append, None) =>
        t.append(data, partitionBy, statsColumns = stats)
      case (SaveMode.Overwrite, None) =>
        t.replaceWhere(data, partitionBy, Map.empty, Map.empty,
          statsColumns = stats)
      case (SaveMode.ErrorIfExists, _) =>
        require(!t.exists, s"graft table ${t.root} already exists (mode=ErrorIfExists)")
        require(wap.isEmpty && branchTo.isEmpty,
          "WAP staging / branch writes need an existing table")
        t.append(data, partitionBy, statsColumns = stats)
      case (SaveMode.Ignore, _) =>
        if (!t.exists) {
          require(wap.isEmpty && branchTo.isEmpty,
            "WAP staging / branch writes need an existing table")
          t.append(data, partitionBy, statsColumns = stats)
        }
    }
    // schema-only: Spark reads nothing from the returned relation but
    // its schema (to re-cache plans over the written path)
    val (ctx, written) = (sqlContext, data.schema)
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = written
    }
  }

  // --------------------------------------------------------------- DSv2
  // Spark calls inferSchema and then getTable on ONE provider instance
  // per read (DataSourceV2Utils.getTableFromProvider), so the handle
  // opened for the schema is the handle the table scans: one log
  // replay per path-door read.
  private var opened: Option[(Map[String, String], IncrementalTable)] = None

  private def tableOf(params: Map[String, String]): IncrementalTable =
    opened match {
      case Some((p, t)) if p == params => t
      case _ =>
        val t = GraftSource.tableFromOptions(SparkSession.active, params)
        opened = Some((params, t))
        t
    }

  /** The engine hands back whatever this returns when the user omits
    * the schema; a user-specified schema arrives at [[getTable]] and is
    * validated there. The schema is the one AS OF `versionAsOf`. A
    * table with no commits yet (a writeStream target about to be
    * created by its first epoch) has no schema to infer. */
  override def inferSchema(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): StructType = {
    val params = GraftSource.paramsOf(options)
    GraftSource.readSchema(tableOf(params), params).getOrElse(new StructType())
  }

  /** Accepting external metadata lets `spark.read.format("graft")
    * .schema(…)` and batch writes reach [[getTable]] with their own
    * schema; it is validated against the log there. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): org.apache.spark.sql.connector.catalog.Table = {
    val params = properties.asScala.toMap
    val t = tableOf(params)
    GraftSource.readSchema(t, params).foreach { expected =>
      // Common fields must type-match (modulo nullability); extra or
      // missing fields pass. The engine routes BATCH WRITES through here
      // too (before the V1 fallback), handing the incoming frame's
      // schema — whose non-null flags and add-column evolution are
      // legitimate; genuinely wrong user schemas (type changes) fail.
      require(schema.isEmpty || schema.fields.forall(f =>
          expected.fields.find(_.name == f.name).forall(
            _.dataType.catalogString == f.dataType.catalogString)),
        s"user-specified schema $schema does not match committed table " +
          s"schema $expected; omit the schema — the commit log is authoritative")
    }
    new GraftPathTable(SparkSession.active, t, params)
  }
}

private[sources] object GraftSource {
  import scala.jdk.CollectionConverters._

  def paramsOf(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Map[String, String] =
    options.asCaseSensitiveMap().asScala.toMap

  def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft datasource requires a 'path' option (or load(path)/save(path))"))

  def cdcMode(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  def asOfOf(parameters: Map[String, String]): Option[Long] =
    parseOpt(parameters, "versionAsOf", "a commit version")(_.toLong)

  /** The schema a path-door read of `parameters` carries: the committed
    * schema as of `versionAsOf`, plus the CDC columns under
    * `readChangeFeed`; None before the table's first commit. */
  def readSchema(t: IncrementalTable,
      parameters: Map[String, String]): Option[StructType] =
    t.schemaAt(asOfOf(parameters)).map(s =>
      if (cdcMode(parameters)) cdcSchema(s) else s)

  /** Parse option `name` with `f`, failing with a message that names
    * the offending option and carries the accepted renderings (ADVICE
    * r7: a bare NumberFormatException from `.toInt` never told the user
    * WHICH option was malformed). */
  def parseOpt[T](parameters: Map[String, String], name: String,
      accepted: String)(f: String => T): Option[T] =
    parameters.get(name).map { s =>
      try f(s) catch {
        case e: IllegalArgumentException if e.getMessage != null &&
            e.getMessage.contains(s"option '$name'") => throw e
        case e: Exception => throw new IllegalArgumentException(
          s"invalid value '$s' for option '$name' (accepted: $accepted)", e)
      }
    }

  /** `startingTimestamp` rendering: epoch millis, an ISO-8601 instant
    * (`2026-08-14T12:00:00Z`), an offset-zoned ISO timestamp
    * (`2026-08-14T12:00:00+02:00`), or a local `yyyy-MM-dd[ HH:mm:ss]`
    * interpreted in UTC. */
  def parseTimestampMillis(s: String): Long =
    parseTimestampMillisZoned(s, java.time.ZoneOffset.UTC)

  /** The same rendering with zone-less local timestamps interpreted in
    * `zone` — the SQL surface (CALL restore, matching `TIMESTAMP AS OF`,
    * which Spark parses under the session timezone) passes
    * `spark.sql.session.timeZone`; the streaming option keeps its
    * documented UTC contract (ADVICE r8: `Timestamp.valueOf` read the
    * DRIVER JVM's default zone — same call, different answers across
    * environments). */
  def parseTimestampMillisZoned(s: String, zone: java.time.ZoneId): Long =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else try java.time.Instant.parse(s).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            val norm = if (s.contains("T") || s.contains(" ")) s.replace(' ', 'T')
              else s + "T00:00:00"
            java.time.LocalDateTime.parse(norm)
              .atZone(zone).toInstant.toEpochMilli
        }
    }

  def cdcSchema(committed: StructType): StructType = committed
    .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
    .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)

  /** The table behind a path-addressed streaming option map —
    * `cdcRetention` needs a handle constructed with the retention. */
  def tableFromOptions(spark: SparkSession,
      parameters: Map[String, String]): IncrementalTable = {
    val path = pathOf(parameters)
    parseOpt(parameters, "cdcRetention", "a non-negative integer")(_.toInt) match {
      case Some(r) => new IncrementalTable(spark, path, cdcRetention = r)
      case None => IncrementalTable(spark, path)
    }
  }

  /** Shared micro-batch-stream factory for both front doors (path
    * datasource and SQL catalog): validates option combinations,
    * resolves `startingVersion`/`startingTimestamp`, and pins the
    * stream schema. */
  def microBatchStream(spark: SparkSession, table: IncrementalTable,
      parameters: Map[String, String],
      checkpointLocation: String): GraftMicroBatchStream = {
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "set either startingVersion or startingTimestamp, not both")
    val skip = parameters.get("skipChangeCommits").exists(_.toBoolean)
    val cdc = cdcMode(parameters)
    require(!(cdc && skip),
      "readChangeFeed and skipChangeCommits contradict each other " +
        "(stream every change vs skip rewrite commits) — set one, not both")
    val committed = table.schemaAt().getOrElse(throw new IllegalStateException(
      s"graft table ${table.root} has no committed schema to stream"))
    val schema = if (cdc) cdcSchema(committed) else committed
    // startingTimestamp (Delta analog): the FIRST commit at-or-after
    // the timestamp starts the stream, resolved over the RAW delta
    // records so a timestamp behind the replay horizon still names the
    // true historical version (batch 0 then goes through the archived
    // CDC walk, or fails loudly — never a silent under-delivery); a
    // timestamp past the head means "only future commits".
    val startV = parseOpt(parameters, "startingVersion",
        "a commit version")(_.toLong).orElse(
      parseOpt(parameters, "startingTimestamp",
          "epoch millis or ISO-8601, e.g. 2026-08-14T12:00:00Z") { s =>
        table.versionAtOrAfterTimestamp(parseTimestampMillis(s))
          .getOrElse(table.latestVersion + 1)
      }).getOrElse(0L)
    new GraftMicroBatchStream(spark, table, schema,
      startingVersion = startV,
      maxCommitsPerTrigger = parseOpt(parameters, "maxCommitsPerTrigger",
        "a positive integer")(_.toLong),
      cdc = cdc, skipChangeCommits = skip,
      checkpointLocation = checkpointLocation)
  }
}

/** The DSv2 table behind `format("graft")`: BATCH_READ +
  * MICRO_BATCH_READ + STREAMING_WRITE. Both reads build the catalog's
  * [[GraftScanBuilder]] over this handle, pinned to `versionAsOf`; the
  * scan's own rules refuse the combinations that have no meaning
  * (a batch `readChangeFeed`, a stream from a time-travel snapshot).
  * Batch writes fall back to the provider's V1 write face (no
  * BATCH_WRITE here). Scan options are the READER's options (they rode
  * getTable's properties), write options the writer's. */
private[sources] final class GraftPathTable(spark: SparkSession,
    table: IncrementalTable, params: Map[String, String])
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.connector.catalog.TableCapability

  private val asOf = GraftSource.asOfOf(params)

  override def name(): String = s"graft.`${table.root}`"

  override def schema(): StructType =
    GraftSource.readSchema(table, params).getOrElse(new StructType())

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    table.partitionColumns
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder = {
    val pinned = GraftSource.readSchema(table, params).getOrElse(
      throw new IllegalStateException(s"graft table ${table.root} has no commits" +
        asOf.fold("")(v => s" as of version $v")))
    new GraftScanBuilder(spark, table, asOf, pinned, params)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftStreamWriteBuilder(spark, table,
      params ++ GraftSource.paramsOf(info.options()), info)
}

/** Streaming write builder shared by the path front door (this file)
  * and reused in spirit by the catalog's [[GraftWriteBuilder]]:
  * Append → per-epoch append commits, Complete (the engine calls
  * [[truncate]]) → per-epoch atomic replace. The writer identity for
  * the exactly-once (appId, batchId) guard is the qualified
  * checkpointLocation when present — the SAME identity the retired V1
  * sink derived, so existing streams resume across the migration
  * without replaying or dropping a batch — else the engine's stable
  * query id. */
private[sources] final class GraftStreamWriteBuilder(spark: SparkSession,
    table: IncrementalTable, params: Map[String, String],
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var replaceEachEpoch = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    replaceEachEpoch = true
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        def split(s: String): Seq[String] =
          s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val partitionBy = params.get("partitionBy").map(split)
          .getOrElse(if (table.exists) table.partitionColumns else Seq.empty)
        val appId = params.get("checkpointLocation")
          .map(graft.streaming.CheckpointId(spark, _))
          .getOrElse(info.queryId())
        val stats = params.get("statsColumns").map(split)
          .getOrElse(GraftCatalog.statsColumnsOf(table))
        new GraftStreamingWrite(table, partitionBy, appId, info.schema(),
          stats, replaceEachEpoch,
          new graft.parquet.RowParquet.SerializableConf(
            IncrementalTable.hadoopConf(spark)),
          upsertKeys = params.get("upsertKeys").map(split).getOrElse(Nil))
      }
      override def description(): String = s"GraftStreamingWrite ${table.root}"
    }
}

/** One scan's prune accounting, recorded per table root for tests and
  * observability: how many files were live vs how many survived the
  * pushed-filter prune and were actually handed to the parquet reader. */
final case class GraftScanInfo(filesLive: Long, filesScanned: Int,
    pushed: Seq[String])

/** The scan contract behind [[GraftBatchScan]], the one batch scan of
  * both front doors (`format("graft")` and `graft.ns.t`), plus its
  * prune accounting. */
object GraftRelation {
  // scan-prune observability; keyed by table root, last scan wins
  private val scans = new java.util.concurrent.ConcurrentHashMap[String, GraftScanInfo]()
  def lastScan(root: String): Option[GraftScanInfo] = Option(scans.get(root))
  private[sources] def record(root: String, info: GraftScanInfo): Unit =
    scans.put(root, info)

  /** Catalyst `sources.Filter` → `Column`, conservatively: None means
    * "can't express", and the filter stays with Spark above the scan.
    * Translated filters are applied in full on the inner plan (both for
    * file pruning and row filtering). */
  private[sources] def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case Or(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case Not(c) => translate(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** The prune half of the scan contract: the survivor files of the
    * commit log's skipping index under the translated filters, plus
    * partition-directory equality. A scan computes it once per filter
    * set and hands it to [[scanDf]], which also pins the scan to one
    * snapshot's file set. */
  private[sources] def pruneFiles(table: IncrementalTable, asOf: Option[Long],
      filters: Seq[Filter]): (Option[Column], Seq[String]) = {
    val pred = filters.flatMap(translate).reduceOption(_ && _)
    // partition-column equality prunes at DIRECTORY granularity (no
    // stats needed — partition values live in the path, not the footer)
    val partCols = table.partitionColumns.toSet
    val partMap = filters.collect {
      case EqualTo(a, v) if partCols(a) && v != null => a -> v.toString
    }.toMap
    val files = pred match {
      case Some(p) => table.liveFilesWhere(p, partMap, asOf)
      case None => table.liveFiles(partMap, asOf)
    }
    (pred, files)
  }

  /** The read half: ONLY the survivors with DV state applied in-scan,
    * the full predicate re-applied row-level, and the projection to the
    * pruned column set INSIDE the inner Catalyst plan — so the parquet
    * ReadSchema shrinks. Records prune accounting per table root for
    * tests/observability. */
  private[sources] def scanDf(table: IncrementalTable, asOf: Option[Long],
      requiredColumns: Seq[String], filters: Seq[Filter],
      pruned: (Option[Column], Seq[String])): DataFrame = {
    val (pred, files) = pruned
    // liveFileCount is a count JOB above the checkpoint threshold —
    // the accounting must never itself collect the live set
    record(table.root, GraftScanInfo(
      filesLive = table.liveFileCount(asOf),
      filesScanned = files.size,
      pushed = filters.map(_.toString)))
    val base = table.readFiles(files, asOf)
    val filtered = pred.map(base.filter).getOrElse(base)
    if (requiredColumns.isEmpty) filtered.select()
    else filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
  }
}
