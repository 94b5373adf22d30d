package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}

import graft.table.IncrementalTable

/** The one batch scan of graft tables, behind both front doors:
  * `format("graft")` / `USING graft` views ([[GraftPathTable]]) and
  * `SELECT … FROM graft.ns.t` ([[GraftTable]]), built by
  * [[GraftScanBuilder]].
  *
  * Planning as a true DSv2 `Batch` puts the scan inside
  * `BatchScanExec`, where Spark's dynamic partition pruning hands the
  * dim side's materialized join keys to [[filter]] as an `In` filter
  * (VERDICT r9 #4); the re-planned partitions then flow through the
  * SAME skipping-index prune + row-level filter as any static
  * predicate. At 100 TB: the dim subquery is tiny, the In-list
  * broadcast is tiny, and whole fact files drop before a byte is read.
  * The static planner reads [[estimateStatistics]] directly, so a small
  * graft table broadcasts without hints.
  *
  * How it executes: `planInputPartitions` builds the pruned Catalyst
  * plan of [[GraftRelation.scanDf]] (survivor files, DV anti-join,
  * column mapping, row-level predicate, pruned projection) and exposes
  * the plan's own `InternalRow` RDD partition-by-partition. The plan
  * is narrow by construction (parquet scan + broadcast DV anti-join —
  * no shuffle), so each partition computes independently inside the
  * reader's task, with no `Row` round trip.
  *
  * The file prune runs once per filter set: the cost estimate, the
  * partition plan and the SPJ grouping all read one memoised survivor
  * list (on a columnar-checkpointed table the prune is a Spark job).
  *
  * The streaming twin ([[toMicroBatchStream]]) is one rule for both
  * doors; a change feed needs the scan's schema to carry the CDC
  * columns, which only the path door's `readChangeFeed` read does. */
private[graft] final class GraftBatchScan(spark: SparkSession,
    table: IncrementalTable, asOf: Option[Long],
    required: StructType, pushed: Array[Filter],
    readOptions: Map[String, String] = Map.empty,
    // X103: pushed LIMIT / TOP-N — both PARTIAL (Spark re-applies);
    // the scan only plans fewer files. topN = (column, descending,
    // nullsFirst, k). Armed only with no pushed filters; the prune
    // additionally stands down when runtime filters arrive.
    limitN: Option[Int] = None,
    topN: Option[(String, Boolean, Boolean, Int)] = None)
    extends Scan with Batch
    with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with SupportsReportStatistics {

  /** Runtime filters arrive between planning and execution
    * (BatchScanExec calls [[filter]] then re-plans partitions);
    * volatile because AQE may touch the scan from its own threads. */
  @volatile private var runtime: Array[Filter] = Array.empty

  private def key(fs: Array[Filter]): String =
    fs.map(_.toString).sorted.mkString("&")

  // one skipping-index prune per distinct filter set, shared by the
  // cost estimate, the partition plan and the SPJ grouping
  @transient private lazy val pruneMemo = new java.util.concurrent
    .ConcurrentHashMap[String, (Option[org.apache.spark.sql.Column], Seq[String])]()

  private def pruned(fs: Array[Filter]): (Option[org.apache.spark.sql.Column], Seq[String]) =
    pruneMemo.computeIfAbsent(key(fs),
      _ => GraftRelation.pruneFiles(table, asOf, fs.toIndexedSeq))

  override def readSchema(): StructType = required

  /** A batch read of the change feed has its own spellings; the
    * `readChangeFeed` option is the streaming one. */
  override def toBatch: Batch = {
    require(!GraftSource.cdcMode(readOptions),
      s"readChangeFeed is a streaming read option (${table.root}); read a " +
        "batch change feed with graft_changes(path, fromVersion[, toVersion]) " +
        "in SQL, IncrementalTable.changes, or a catalog table's `<table>.changes`")
    this
  }

  // ---- storage-partitioned joins (X96) --------------------------------
  // When the user opts into Spark's v2 bucketing
  // (`spark.sql.sources.v2.bucketing.enabled=true`), a scan of an
  // IDENTITY-partitioned graft table reports KeyGroupedPartitioning and
  // plans one task group per partition directory — two graft tables
  // co-partitioned on the join key then join with NO shuffle on either
  // side (Spark's storage-partitioned join). v1 scope: integral
  // partition columns (dir tokens parse unambiguously to the exact
  // values Spark's own partition discovery restores on read); hidden
  // transforms, string/date dirs, and the null-partition dir fall back
  // to the unpartitioned plan. Per-group plans reuse ONE prune — the
  // group map is the survivor list split by dir tokens.
  private case class SpjPlan(
      keys: Array[org.apache.spark.sql.connector.expressions.Expression],
      groups: Seq[(InternalRow, Seq[String])],
      pred: Option[org.apache.spark.sql.Column])

  @transient private lazy val spjPlan: Option[SpjPlan] = {
    val armed = spark.conf
      .getOption("spark.sql.sources.v2.bucketing.enabled")
      .exists(_.toBoolean)
    if (!armed) None
    else {
      val pcols = table.partitionColumns
      val schema = table.schemaAt(asOf)
      if (pcols.isEmpty || schema.isEmpty) None
      else {
        val transforms = table.partitionTransforms(asOf)
        // per partition column: the reported V2 key expression + the
        // dir-token parser producing the exact catalyst value the key
        // row must carry. Identity integral columns report identity(c)
        // in the column's type; bucket(n, base) dirs report the
        // bucket transform (resolved through the catalog's
        // FunctionCatalog, semantics pinned == the write router) with
        // an Int bucket-number key. Anything else disarms.
        type Spec = (org.apache.spark.sql.connector.expressions.Expression,
          String => Option[Any])
        def integralParse(dt: org.apache.spark.sql.types.DataType)
            : String => Option[Any] = s =>
          if (s.nonEmpty && s.forall(ch => ch.isDigit || ch == '-'))
            scala.util.Try[Any](dt match {
              case ByteType => java.lang.Byte.valueOf(s.toByte)
              case ShortType => java.lang.Short.valueOf(s.toShort)
              case IntegerType => java.lang.Integer.valueOf(s.toInt)
              case _ => java.lang.Long.valueOf(s.toLong)
            }).toOption
          else None
        val specs: Seq[Option[Spec]] = pcols.map { c =>
          transforms.get(c) match {
            case None =>
              schema.get.fields.find(_.name == c).map(_.dataType).collect {
                case dt @ (ByteType | ShortType | IntegerType | LongType) =>
                  (Expressions.identity(c), integralParse(dt))
              }
            case Some(b: graft.table.PartitionTransform.Bucket) =>
              Some((Expressions.bucket(b.n, b.base),
                integralParse(IntegerType)))
            case Some(_) => None
          }
        }
        if (specs.exists(_.isEmpty)) None
        else {
          val parsers = specs.map(_.get._2)
          val (pred, files) = pruned(pushed)
          val maxGroups = spark.conf
            .getOption("spark.graft.spjMaxPartitions")
            .map(_.toInt).getOrElse(1024)
          val parsed = files.map { f =>
            val segs = IncrementalTable.hiveSegments(f)
            f -> pcols.zip(parsers).map { case (c, parse) =>
              segs.get(c).flatMap(parse)
            }
          }
          // any file missing a typed token (pre-evolution layout, null
          // partition dir) disarms — grouping must be total and exact
          if (parsed.exists(_._2.exists(_.isEmpty)) ||
              parsed.map(_._2).distinct.size > maxGroups) None
          else {
            val groups = parsed.groupBy(_._2).toSeq
              .sortBy(_._1.map(_.get.toString).mkString("/"))
              .map { case (vals, fs) =>
                (new GenericInternalRow(
                  vals.map(_.get.asInstanceOf[Any]).toArray): InternalRow,
                  fs.map(_._1))
              }
            Some(SpjPlan(specs.map(_.get._1).toArray, groups, pred))
          }
        }
      }
    }
  }

  override def outputPartitioning(): Partitioning = spjPlan match {
    case Some(p) =>
      new KeyGroupedPartitioning(p.keys, planInputPartitions().length)
    case None => new UnknownPartitioning(0)
  }

  /** Every scanned column is fair game: the file prune is
    * conservative for columns the skipping index has no stats for
    * (they just don't drop files), and the row-level re-apply makes
    * any translated runtime filter exact. Under SPJ, runtime
    * filtering is disabled — Spark requires the key grouping to be
    * stable across runtime re-planning. */
  override def filterAttributes(): Array[NamedReference] =
    if (spjPlan.isDefined) Array.empty
    else required.fieldNames.map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(f => GraftRelation.translate(f).isDefined)

  // one plan per distinct filter set: BatchScanExec may ask for
  // partitions both before and after runtime filters arrive (and AQE
  // may re-ask)
  @transient private lazy val planMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[InputPartition]]()

  override def planInputPartitions(): Array[InputPartition] = {
    val all = pushed ++ runtime
    planMemo.computeIfAbsent(key(all),
      _ => spjPlan match {
        case Some(p) => planKeyed(p)
        case None => planPartitions(all)
      })
  }

  /** One sub-plan per partition-dir group, every wrapped partition
    * carrying its group's key row — what BatchScanExec's key grouping
    * consumes. Reuses the single prune (the group map IS the survivor
    * list); runtime filters are off in this mode. */
  private def planKeyed(p: SpjPlan): Array[InputPartition] = {
    val cols = required.fieldNames.toIndexedSeq
    p.groups.flatMap { case (key, files) =>
      val rdd = rddOf(GraftRelation.scanDf(table, asOf, cols,
        pushed.toIndexedSeq, (p.pred, files)))
      rdd.partitions.map(sp => GraftKeyedRddPartition(rdd, sp, key))
    }.toArray
  }

  /** The plan's own InternalRow RDD with every node's dependency chain
    * populated on the DRIVER — the walk the DAGScheduler does for its
    * own stages. UnionRDD.compute (an evolved-spec table reads old+new
    * layout file sets as a union) resolves parents through
    * `dependencies`, whose lazy init needs child `.partitions` —
    * driver-only state (FileScanRDD's filePartitions is transient).
    * With deps cached before serialization, executors never recompute
    * them. */
  private def rddOf(df: org.apache.spark.sql.DataFrame): RDD[InternalRow] = {
    def forceDeps(r: RDD[_]): Unit = {
      r.partitions
      r.dependencies.foreach(d => forceDeps(d.rdd))
    }
    val rdd = df.queryExecution.toRdd
    forceDeps(rdd)
    rdd
  }

  private def planPartitions(all: Array[Filter]): Array[InputPartition] = {
    // X103 LIMIT/TOP-N file reduction: only on a filterless plan (the
    // builder declined under pushed filters; a runtime filter arriving
    // here could drop rows the reduction counted on, so it stands the
    // reduction down rather than compose unsoundly with it)
    val reduced: Option[Seq[String]] =
      if (all.nonEmpty || (limitN.isEmpty && topN.isEmpty)) None
      else {
        val (_, files) = pruned(all)
        topN match {
          case Some((c, desc, nf, k)) =>
            table.topNFiles(files, c, k.toLong, desc, nf, asOf)
          case None => Some(table.limitFiles(files, limitN.get.toLong, asOf))
        }
      }
    val cols = required.fieldNames.toIndexedSeq
    val df = reduced match {
      case Some(files) =>
        GraftRelation.scanDf(table, asOf, cols, Nil, (None, files))
      case None =>
        GraftRelation.scanDf(table, asOf, cols, all.toIndexedSeq, pruned(all))
    }
    val rdd = rddOf(df)
    rdd.partitions.map(p => GraftRddPartition(rdd, p))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftRddReaderFactory

  /** Post-pushdown cost estimate from the commit log: with pushed
    * filters, the sizes of exactly the files the skipping index keeps
    * (the memoised prune the partition plan reads too); without, one
    * log-level total plus the exact metadata row count (the COUNT(*)
    * fold incl. its dv correction — None for stats-less files, never a
    * wrong number) and the column NDV estimates (X88), which reach
    * CostBasedJoinReorder through `DataSourceV2Relation.computeStats`. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val bytes =
      if (pushed.isEmpty) table.liveBytes(asOf)
      else table.liveFilesSize(pruned(pushed)._2)
    val rows = if (pushed.isEmpty) table.liveRowCount(asOf) else None
    val ndv: Map[String, Long] =
      if (pushed.isEmpty) table.columnNdv(asOf) else Map.empty
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        ndv.foreach { case (c, est) =>
          if (required.fieldNames.contains(c))
            m.put(Expressions.column(c),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(est)
              })
        }
        m
      }
    }
  }

  /** `readStream.format("graft")` and `readStream.table("graft.ns.t")`
    * land here (the engine asks the scan for its streaming twin), with
    * one option set — `readChangeFeed`, `startingVersion`/
    * `startingTimestamp`, `maxCommitsPerTrigger`, `skipChangeCommits`,
    * `cdcRetention` — passed as reader options. Filters/pruning do not
    * apply to the stream (the micro-batch source emits commit deltas,
    * not snapshot scans). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOf.isEmpty,
      s"cannot stream from time-travel snapshot ${table.root}@v${asOf.get}")
    // the stream's rows must match the relation's schema, which was
    // pinned at analysis: the CDC columns ride the path door's
    // `readChangeFeed` schema, never a catalog table's — there the
    // `.changes` metadata table IS the spelling of the feed
    require(!GraftSource.cdcMode(readOptions) ||
        required.fieldNames.contains("_change_type"),
      "readChangeFeed is not an option on a catalog-addressed stream " +
        "(the relation's schema is fixed by the table) — stream from the " +
        "`<table>.changes` metadata table instead")
    val t =
      if (readOptions.contains("cdcRetention"))
        GraftSource.tableFromOptions(spark, readOptions + ("path" -> table.root))
      else table
    GraftSource.microBatchStream(spark, t, readOptions, checkpointLocation)
  }

  override def description(): String =
    s"GraftBatchScan ${table.root}${asOf.fold("")(v => s"@v$v")} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"RuntimeGraftFilters: [${runtime.mkString(", ")}]" +
      limitN.fold("")(n => s", PushedLimit: $n") +
      topN.fold("") { case (c, desc, nf, k) =>
        s", PushedTopN: $c ${if (desc) "DESC" else "ASC"}" +
          s"${if (nf) " NULLS FIRST" else ""} LIMIT $k"
      }
}

/** One partition of the scan plan's own InternalRow RDD. Carries the
  * RDD reference itself (standard task-closure serialization — the
  * lineage is narrow: FileScanRDD + mapped projections + a broadcast
  * DV anti-join, nothing shuffle-dependent), so the reader factory is
  * stateless and immune to the plan/filter/re-plan call order. */
private[sources] final case class GraftRddPartition(
    rdd: RDD[InternalRow], split: org.apache.spark.Partition)
    extends InputPartition

/** [[GraftRddPartition]] plus the partition-dir key row — the
  * `HasPartitionKey` unit Spark's storage-partitioned join groups
  * tasks by (X96). */
private[sources] final case class GraftKeyedRddPartition(
    rdd: RDD[InternalRow], split: org.apache.spark.Partition,
    key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

private[sources] object GraftRddReaderFactory extends PartitionReaderFactory {
  private def over(rdd: RDD[InternalRow],
      split: org.apache.spark.Partition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = rdd.iterator(split, TaskContext.get())
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftRddPartition(rdd, split) => over(rdd, split)
      case GraftKeyedRddPartition(rdd, split, _) => over(rdd, split)
      case other => throw new IllegalStateException(
        s"unexpected partition type ${other.getClass}")
    }
}
