package graft.table

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, when}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One atomic commit of an [[IncrementalTable]].
  *
  * This is the Delta-log stand-in (no Delta jars in the image; SURVEY.md
  * §7.4): a table is a hive-partitioned parquet directory plus an ordered
  * log of these records under `_graft_log/`. Readers replay the log —
  * they never trust directory listings — so half-moved files from a
  * crashed writer are invisible.
  *
  * Unlike the reference, which records the watermark in an event-log DB
  * *separately* from the Delta write (assets/processed.py:62 vs
  * delta_io.py:112 — crash between them double-processes), [[Commit.meta]]
  * carries watermark/cursor state in the *same* atomic commit as the data.
  */
final case class Commit(
    version: Long,
    action: String, // "append" | "replace" | "meta" | "checkpoint"
    add: Seq[String], // table-root-relative parquet paths
    remove: Seq[String], // paths logically deleted by this commit
    partitionFilter: Map[String, String], // for "replace": scope replaced
    partitionBy: Seq[String], // physical partition column order
    schemaJson: String, // full schema incl. partition columns
    meta: Map[String, String], // state committed atomically with the data
    batchId: Option[Long], // streaming idempotence token
    ts: Long,
    // Checkpoints carry the max batchId folded over the truncated history
    // so the exactly-once replay guard survives log compaction (streaming
    // batchIds are monotone per query, so "<= max" == "already seen").
    // Defaults keep pre-existing logs readable.
    maxBatchId: Option[Long] = None,
    // Writer identity for the batchId guard — Delta's txn appId analog
    // (ADVICE r2 #2). Without it, a stream restarted from a FRESH
    // checkpoint dir resets batchIds to 0 and the global maxBatchId
    // horizon silently swallows its first batches. With an appId, the
    // guard is scoped per writer identity; checkpoints fold the per-app
    // max into `appBatches`.
    appId: Option[String] = None,
    appBatches: Map[String, Long] = Map.empty,
    // Per-added-file column min/max (data-skipping index, Delta-style):
    // rel path -> column -> [min,max], harvested from the staged parquet
    // footers in the same driver-side pass that sizes the commit — never
    // a Spark job. Only columns the writer asked to index (statsColumns)
    // appear. Checkpoints fold the live files' stats forward so skipping
    // survives log compaction. Defaults keep pre-existing logs readable.
    fileStats: Map[String, Map[String, ColStat]] = Map.empty,
    // Deletion vectors (merge-on-read row-level deletes, the Delta DV /
    // Iceberg position-delete analog): data rel path -> sidecar
    // GENERATION ids, each a parquet directory `_graft_dv/<gen>/` of
    // (file, pos) rows marking that file's deleted row indexes. An
    // action="dv" commit lists only its NEW generations (Iceberg-style
    // accumulation — multiple delete files apply to one data file), so
    // replay unions per file; removing a file drops its entry, and
    // checkpoints fold the live map forward. Defaults keep pre-existing
    // logs readable.
    dv: Map[String, Seq[String]] = Map.empty,
    // Columnar checkpoint (the 100× scale path, Delta parquet-
    // checkpoint analog): when set, this checkpoint's live-set rows
    // (file, size, stats, dvGens) live in the named parquet directory
    // under `_graft_log/` INSTEAD of the inline add/fileStats/dv —
    // opening the table costs O(tail) driver work at any file count,
    // and liveFilesWhere pruning runs as a Spark job over the
    // checkpoint rows. Inline JSON stays the small-table fast path.
    // `numFiles` is the exact live count, maintained incrementally
    // (previous count - base removes + adds), never by a job.
    filesParquet: Option[String] = None,
    numFiles: Option[Long] = None,
    // Manifest-list tier (the Iceberg manifest-list analog, VERDICT r10
    // #4): the checkpoint's live rows live in MANY immutable parquet
    // manifests in the shared `_graft_log/manifests/` pool, each ref
    // carrying its file-path range [lo, hi] and row count. A checkpoint
    // REUSES every manifest untouched by its tail window (rewrite cost
    // scales with the dirty subset, not the table), and readers prune
    // whole manifests by partition-prefix-vs-range before any file row
    // is read. Supersedes `filesParquet` for new checkpoints; old
    // single-directory checkpoints (and old logs — the field defaults
    // to None) stay readable.
    manifests: Option[Seq[ManifestRef]] = None) {
  /** Columnar checkpoint in either storage shape (single parquet dir or
    * manifest list). Empty-table checkpoints (manifests = Some(Nil))
    * count: the live set IS columnar, it just has zero rows. */
  def columnarCkpt: Boolean = filesParquet.isDefined || manifests.isDefined
}

/** One immutable manifest in the `_graft_log/manifests/` pool: a
  * parquet FILE of checkpoint live rows, sorted by `file`, covering
  * exactly the path range [lo, hi] with `n` rows. Ranges let the
  * checkpoint writer decide dirtiness (does any tail-removed /
  * dv-touched / re-added path fall inside?) and let readers prune by
  * partition prefix — both pure metadata, no manifest opened. */
final case class ManifestRef(name: String, lo: String, hi: String, n: Long)

/** Per-file column statistics entry ([min,max] over the file's rows).
  * Integral columns use `min`/`max`; string columns use `minS`/`maxS`
  * (then `min`/`max` are 0 and ignored) — one JSON shape, old logs
  * deserialize with the string side absent. String bounds are
  * TRUNCATED (Iceberg truncate(16) semantics): `minS` is a prefix of
  * the true minimum, `maxS` the truncated true maximum with its last
  * code point bumped to the next valid scalar — sound BOUNDS, not
  * exact extremes (metadata-only MIN/MAX answers must keep declining
  * strings), at bounded metadata bytes per entry regardless of value
  * length. Every comparison against them is CODE POINT order
  * ([[DataSkipping.cpCompare]]), the one order shared by parquet's
  * unsigned-byte footer stats and Spark's row-time UTF8String
  * comparison — so non-ASCII corpora prune soundly too (old ASCII-only
  * full-value entries remain valid bounds under the same order).
  *
  * `nulls`/`rows` (VERDICT r4 #8, Delta nullCount parity) make null
  * predicates prunable: `IS NULL` skips files with zero nulls,
  * `IS NOT NULL` and every value bound skip all-null files (whose
  * min/max are a meaningless placeholder — [[DataSkipping.overlaps]]
  * short-circuits on `nulls == rows` before consulting them). Old log
  * entries deserialize with both absent and prune exactly as before. */
/** One IDENTITY column's committed spec (X83): `GENERATED ALWAYS AS
  * IDENTITY (START WITH start INCREMENT BY step)`; `allowExplicit`
  * marks the BY DEFAULT variant (explicit values accepted, nulls
  * minted). */
final case class IdentitySpec(start: Long, step: Long, allowExplicit: Boolean)

/** One write's phase wall times in milliseconds, fractional so that a
  * sub-millisecond phase does not read 0 — see
  * [[IncrementalTable.lastWriteTiming]]. */
final case class WriteTiming(stageMs: Double, harvestMs: Double,
    promoteMs: Double, publishMs: Double, totalMs: Double, files: Int)

final case class ColStat(min: Long, max: Long,
    minS: Option[String] = None, maxS: Option[String] = None,
    nulls: Option[Long] = None, rows: Option[Long] = None,
    // float/double leaves (X75): exact footer [min,max] widened to
    // double (`min`/`max` are 0 and ignored). parquet-mr omits
    // double stats entirely when ANY NaN was written (probed:
    // hasNonNullValue=false), so a recorded bound is NaN-free by
    // construction; the harvest still defends against NaN explicitly.
    minD: Option[Double] = None, maxD: Option[Double] = None) {
  def isString: Boolean = minS.isDefined
  def isDouble: Boolean = minD.isDefined
  /** Every row's value is NULL (vacuously true for empty files): no
    * value predicate can match, and IS NOT NULL matches nothing. */
  def allNull: Boolean = rows.isDefined && nulls == rows
}

/** A metadata entry whose value derives from the staged files' parquet
  * footer column statistics at commit time: the committed value is
  * `max(floor, 1 + max(column))` over the staged row groups — so a
  * watermark high-water rides the data commit for free (a driver-side
  * footer read in the pass that stages the write, not an extra Spark
  * job over the input). An empty stage, or a stage whose schema lacks
  * the column, commits the floor. */
final case class StatMeta(key: String, column: String, floor: Long = 0L)

/** Optimistic-concurrency failure: this commit's file sets were computed
  * against a snapshot that a concurrent writer has since invalidated
  * (a replace raced another writer in the same partitions). The table is
  * unchanged by the failed commit; any staged files it promoted are
  * unreferenced orphans reclaimed by vacuum(). */
final class ConcurrentWriteException(msg: String) extends java.io.IOException(msg)

/** A staged-but-unpublished write's full intent (X98 — the Iceberg
  * `wap.id` write-audit-publish analog): everything `write` would have
  * committed, deferred. Serialized into the staging commit's single
  * `wap/<id>` metadata entry, so the pending registry rides the same
  * atomic commit log as everything else — checkpoint folding carries
  * the channel forward, publish/abort tombstone it, and a crashed
  * stager leaves either nothing (orphan files, vacuumed) or a fully
  * replayable pending entry.
  *
  * Identity / row-id high-waters are NOT deferred: the staging commit
  * carries its `idhw/`/`rowhw/` advances directly (a RESERVATION), so
  * every later mint — staged or published, any writer — lands above the
  * staged files' baked values and publish can never collide. An aborted
  * staging leaves a gap in the id space, which the "unique, not dense"
  * contract allows. `schemaDdl` is the stage-time merged schema;
  * publish re-merges it against whatever the schema has evolved to by
  * then. Staging again under the SAME id stacks: the payloads merge and
  * one publish adopts every batch atomically. */
final case class WapPayload(
    action: String, // "append" | "replace"
    add: Seq[String],
    partitionFilter: Map[String, String],
    partitionBy: Seq[String],
    schemaDdl: String,
    meta: Map[String, String],
    fileStats: Map[String, Map[String, ColStat]])

/** One write landed on a BRANCH (X102 — the Iceberg branch-ref analog):
  * the state transition a branch write would have committed to main,
  * deferred. Unlike a WAP staging (one pending write, publish-time
  * removal scopes), a branch is an ORDERED CHAIN of commits layered on
  * a pinned base snapshot — each replace's removal set was resolved at
  * write time against the branch's own then-current live set, so the
  * chain replays deterministically regardless of what main does.
  * Identity / row-id high-waters are reserved at write time exactly
  * like WAP stagings (the branch commit carries `idhw/`/`rowhw/`
  * directly); `ndv/` advances stay deferred here — statistics must not
  * count rows main cannot see — and re-union at fast-forward. */
final case class BranchCommit(
    action: String, // "append" | "replace"
    add: Seq[String],
    remove: Seq[String], // names removed from the BRANCH's live set
    partitionFilter: Map[String, String],
    schemaDdl: String,
    meta: Map[String, String],
    fileStats: Map[String, Map[String, ColStat]])

/** An EQUALITY DELETE in force (X104 — the Iceberg v2 equality-delete
  * analog): rows matching any key tuple in the `_graft_eqdel/<gen>/`
  * sidecar are logically deleted from every file ADDED AT OR BEFORE
  * `baseVersion` (the snapshot the delete was computed against).
  * Files added later escape by version ordering — which is exactly the
  * upsert contract: delete key k, append the new k row, and the new
  * row lives. `cols` are PHYSICAL column names (rename-proof, like the
  * stats index keys). Serialized into the `eqdel/<gen>` metadata
  * channel; a tombstone retires the delete once no live file predates
  * it (compaction/rewrites apply it physically).
  * `coverOwnCommit` disambiguates the two commit shapes that carry an
  * entry TOGETHER with added files: a restore() re-issue covers its
  * re-added snapshot files (true), an atomic MOR upsert's own adds are
  * the NEW versions of the deleted keys and escape (false — also the
  * default every pre-flag log decodes to). */
final case class EqDelPayload(baseVersion: Long, cols: Seq[String],
    coverOwnCommit: Boolean = false)

/** A branch ref: the main version it forked from plus its commit chain.
  * Serialized into the `branch/<name>` metadata channel — the pending
  * registry rides the same atomic commit log as everything else, so
  * branches replay, fold through checkpoints, and tombstone on
  * fast-forward / drop like tags and WAP entries do. */
final case class BranchPayload(
    base: Long,
    partitionBy: Seq[String],
    commits: Seq[BranchCommit])

/** Transactional, hive-partitioned parquet table with a minimal JSON
  * commit log. Provides the three Delta behaviors the reference actually
  * uses — append (delta_io.py:91,112-116), partition-scoped overwrite
  * (delta_io.py:92-93,104-107), pruned snapshot read (delta_io.py:118-129)
  * — plus atomic metadata commit.
  *
  * Scale design:
  *  - All file ops go through the Hadoop FileSystem API, so the same code
  *    runs on HDFS / S3A object stores, not just local disk.
  *  - Readers get an explicit pruned file list (log-level partition
  *    pruning, like Delta's), so a 100k-partition table never pays a
  *    recursive directory listing; Catalyst then prunes row groups.
  *  - The log self-compacts: every [[IncrementalTable.checkpointInterval]]
  *    commits a checkpoint record snapshots the live set, so replay cost
  *    is O(interval), not O(total commits).
  *  - Optimistic concurrency for the multi-writer case (Delta-style OCC,
  *    the guarantee the reference gets implicitly from delta-rs): commits
  *    publish via put-if-absent of the next version file. A writer that
  *    loses the version race validates its commit against the winners:
  *    appends and metadata commits commute and retry at the next version;
  *    a replace whose scope overlaps an intervening commit fails with
  *    [[ConcurrentWriteException]] (its removal set was computed against
  *    a stale snapshot — retrying would resurrect or double-delete files).
  *    Atomicity of put-if-absent needs a rename-no-overwrite filesystem
  *    (HDFS; local FS is check-then-rename, fine for one JVM). Object
  *    stores without atomic rename need an external lock — run
  *    single-writer there, the reference's own deployment shape.
  */
final class IncrementalTable(spark: SparkSession, val root: String,
    checkpointEvery: Int = IncrementalTable.checkpointInterval,
    parquetThreshold: Int = IncrementalTable.parquetCheckpointThreshold,
    // ~rows per checkpoint manifest (VERDICT r10 #4): production keeps
    // the 500k default (10⁷ files → ~20 base manifests); tests shrink
    // it to exercise the dirty/reuse split at small scale
    manifestTargetRows: Long = IncrementalTable.manifestTargetRowsDefault,
    // CDC retention (VERDICT r4 #5): how many commits back from the
    // CURRENT version changes() stays readable, independently of the
    // checkpoint cadence. Delta records are never deleted, so a window
    // crossing the replay horizon re-reads the archived records;
    // vacuum() additionally retains the data files and dv generations
    // those windows' emission needs. 0 (default) = historical behavior:
    // the readable window is whatever the last checkpoint left.
    cdcRetention: Int = 0) {
  import IncrementalTable._
  private implicit val fmts: Formats = DefaultFormats
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[IncrementalTable])

  private val rootPath = new Path(root)
  private val logPath = new Path(rootPath, "_graft_log")
  private val manifestsPath = new Path(logPath, "manifests")
  private val stagingPath = new Path(rootPath, "_staging")
  private def fs: FileSystem = rootPath.getFileSystem(hadoopConf(spark))

  // ------------------------------------------------------------------ log

  // Head snapshot cache: one append used to cost ~5 full log replays
  // (latestVersion + hasBatch + liveFiles + write + checkpoint each
  // re-listed and re-parsed the log — hundreds of GETs per write on an
  // object store). Valid under the table's single-writer contract; an
  // external writer requires refresh().
  @volatile private var head: Snapshot = null

  // the last as-of snapshot folded for a time-travel read, with the
  // head it was folded under (one as-of read asks several questions)
  @volatile private var pastCache: (Snapshot, Snapshot) = (null, null)

  /** Drop the cached log snapshot (needed only if another process wrote
    * this table after we read it). */
  def refresh(): Unit = head = null

  /** The snapshot at the log head, replayed from the latest checkpoint
    * on first use and extended in place by every publish. */
  private[table] def snapshot: Snapshot = {
    val cached = head
    if (cached != null) return cached
    val replayed = Snapshot.fold(replayLog())
    head = replayed
    replayed
  }

  /** All commits in version order (from latest checkpoint forward). */
  def commits(): Seq[Commit] = snapshot.log

  private def replayLog(): Seq[Commit] = {
    val (ckpts, deltas) = logRecords().partition(_.endsWith(".checkpoint.json"))
    val fromVersion = ckpts.lastOption.map(versionOf).getOrElse(-1L)
    (ckpts.lastOption.toSeq ++ deltas.filter(versionOf(_) > fromVersion))
      .sorted.map(readRecord)
  }

  /** Names of the log's JSON records (deltas and checkpoints), sorted. */
  private def logRecords(): Seq[String] =
    if (!fs.exists(logPath)) Seq.empty
    else fs.listStatus(logPath).map(_.getPath.getName)
      .filter(_.endsWith(".json")).sorted.toSeq

  private def versionOf(name: String): Long = name.takeWhile(_.isDigit).toLong

  private def readRecord(name: String): Commit = {
    val in = fs.open(new Path(logPath, name))
    try Serialization.read[Commit](new java.io.InputStreamReader(in, "UTF-8"))
    finally in.close()
  }

  /** First commit version with `ts >= millis`, resolved over the RAW
    * delta records (survives checkpoint folding): a timestamp
    * predating the replay horizon resolves to the TRUE historical
    * version — the caller then replays it through the archived CDC
    * walk or fails loudly, never silently under-delivers the folded
    * history. `None` = no commit that recent yet. O(history) driver
    * JSON parse, a stream-start one-time cost. */
  def versionAtOrAfterTimestamp(millis: Long): Option[Long] =
    deltasBetween(-1L, latestVersion).find(_.ts >= millis).map(_.version)

  /** Raw delta commits in `(fromExclusive, toVersion]`, straight off
    * the archived log records (never deleted by checkpoint folding) —
    * the DSv2 streaming source's window walk: a lagging consumer
    * resuming past the replay horizon still sees every commit's own
    * add-set, where the replayed log would have folded them into a
    * snapshot. O(window) driver JSON parse. */
  def windowCommits(fromExclusive: Long, toVersion: Long): Seq[Commit] =
    deltasBetween(fromExclusive, toVersion)

  /** Every plain delta record with version ≤ `toV`, in version order —
    * the FULL history, ignoring checkpoint snapshots entirely (delta
    * records are never deleted; checkpoints only stop replay from
    * reading them). O(toV) driver JSON parse: an audit-path cost, used
    * only by CDC-retention reads and retention vacuum, never by the
    * hot read/write path. */
  /** Archived replay: every delta record up to `toV` — SEEDED by the
    * retention floor's kept checkpoint record once [[expireSnapshots]]
    * has run (records strictly below the floor are deleted; the floor
    * checkpoint is a state snapshot every archived walk folds from
    * instead of version 0, so expiry never changes a still-reachable
    * answer). */
  private def archivedDeltas(toV: Long): Seq[Commit] = expiredBelow match {
    case Some(e) if e > 0 =>
      val seed = checkpointRecordAt(e).getOrElse(throw new IllegalStateException(
        s"history below version $e of $root was expired but the seed " +
          "checkpoint record is missing"))
      seed +: deltasBetween(e, toV)
    case _ => deltasBetween(-1L, toV)
  }

  /** The retention floor [[expireSnapshots]] recorded, if any: archived
    * records strictly below it are gone; the checkpoint record AT it is
    * kept as the archived-replay seed. */
  private def expiredBelow: Option[Long] =
    tableProperties.get(IncrementalTable.ExpiredBelowProp).map(_.toLong)

  private def checkpointRecordAt(v: Long): Option[Commit] = {
    val name = f"$v%010d.checkpoint.json"
    if (fs.exists(new Path(logPath, name))) Some(readRecord(name)) else None
  }

  /** Raw delta records with `fromExclusive < version <= toV`, read
    * straight off the log directory — sees history that checkpoint
    * replay truncates. O(window), not O(history): the listing is
    * name-filtered before any JSON is parsed. */
  private def deltasBetween(fromExclusive: Long, toV: Long): Seq[Commit] =
    logRecords().filter { n =>
      !n.endsWith(".checkpoint.json") && {
        val v = versionOf(n)
        v > fromExclusive && v <= toV
      }
    }.map(readRecord)

  def exists: Boolean = commits().nonEmpty

  def latestVersion: Long = snapshot.version

  /** Latest committed value for a metadata key (watermarks, cursors). */
  def latestMeta(key: String): Option[String] = snapshot.meta.get(key)

  /** Has a streaming micro-batch already been committed? (exactly-once
    * replay guard for foreachBatch sinks). Checkpoints fold the truncated
    * history's max batchId, so the guard holds past log compaction.
    *
    * With an `appId` (the stream's checkpoint identity), the guard is
    * scoped to that writer — batchIds are monotone per checkpoint, so
    * "an equal-or-later batch of MINE committed" means seen, while a new
    * stream identity starting over at batch 0 is never suppressed by an
    * older stream's horizon (Delta txn/appId semantics, ADVICE r2 #2).
    * Without an appId, the legacy table-global check applies, scoped
    * to appId-less commits (an identified writer's batchIds must never
    * suppress an anonymous writer, before OR after compaction — ADVICE
    * r3 #2).
    *
    * Upgrade boundary: a commit written by pre-appId code carries the
    * batchId with no writer identity. Narrowed to the actual replay
    * window (ADVICE r3 #1 — the broad any-exact-match variant silently
    * dropped the first N batches of a deliberate fresh-checkpoint
    * rebuild over a legacy history): the engine only re-delivers the
    * LAST unacknowledged batch, so only the legacy history's MAX batchId
    * can be a genuine crash replay, and only as this writer's FIRST
    * commit. Never via the global maxBatchId horizon; compaction folds
    * legacy ids away and ends the guard (documented horizon: replays
    * arrive immediately at restart, long before checkpointInterval
    * further commits). */
  def hasBatch(batchId: Long, appId: Option[String] = None): Boolean = {
    val s = snapshot
    s.hasBatch(batchId, appId) || appId.exists { id =>
      val suppressed = s.legacyReplay(batchId, id)
      if (suppressed) log.warn(
        s"table $root: suppressing batch $batchId of writer $id as a " +
          "legacy-history crash replay (pre-appId commit with the same " +
          "batchId); if this is a deliberate reprocess, use a fresh " +
          "table version")
      suppressed
    }
  }

  // ----------------------------------------------------------------- read

  /** Live data files after log replay, pruned to partitions matching
    * `filters` (subset match on `col=value` path segments). With `asOf`,
    * replays only commits up to that version (time travel) — available
    * back to the newest checkpoint (older history is compacted away). */
  def liveFiles(filters: Map[String, String] = Map.empty,
      asOf: Option[Long] = None): Seq[String] = {
    val s = snapshotAt(asOf)
    if (s.base.isDefined) {
      // a full enumeration (scan, compact, manifest export) genuinely
      // needs the list; metadata-only callers go through
      // liveFilesWhere/detail/compactIfNeeded, which stay distributed
      import spark.implicits._
      liveRowsDF(filters, asOf).select("file").as[String].collect().toSeq
    } else s.files.keys.filter(f => matchesPartition(f, filters)).toSeq
  }

  // ---------------------------------------------- columnar snapshots

  // A snapshot's `base` is its COLUMNAR checkpoint (live rows in
  // parquet, not inline JSON) — the switch every metadata read branches
  // on. Inline stays the small-table fast path; above parquetThreshold
  // live files, checkpoints flip to parquet and never flip back
  // (Delta's parquet-checkpoint shape).

  /** The checkpoint's live rows — all manifests (or the legacy single
    * directory) as one multi-file parquet scan. */
  private def ckptRowsDF(c: Commit): DataFrame = c.manifests match {
    case Some(ms) => manifestRowsDF(ms)
    case None =>
      spark.read.schema(IncrementalTable.ckptRowSchema)
        .parquet(new Path(logPath, c.filesParquet.get).toString)
  }

  private def manifestRowsDF(ms: Seq[ManifestRef]): DataFrame =
    if (ms.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        IncrementalTable.ckptRowSchema)
    else spark.read.schema(IncrementalTable.ckptRowSchema)
      .parquet(ms.map(m => new Path(manifestsPath, m.name).toString): _*)

  /** Manifest-level pruning (the Iceberg manifest-list prune): keep
    * only manifests whose [lo, hi] path range can contain a file in the
    * filtered partitions. The range test is only meaningful for
    * hive-prefix-shaped paths ("k1=v1/k2=v2/…" in spec order), and a
    * table can hold OTHER shapes that still match the per-row partition
    * filter: shallow-cloned foreign files are absolute
    * ("/src/p=1/x.parquet", X78) and files written under an earlier
    * spec can carry a pinned token in a non-leading position
    * ("p=1/q=2/x" filtered on q, X81) — those sort outside the prefix
    * range, so a naive range prune would silently drop their rows. The
    * prune therefore verifies the shape per level FROM THE BOUNDS
    * THEMSELVES before trusting the range: if lo and hi both extend an
    * already-verified prefix with "k=", lexicographic betweenness pins
    * every row in the manifest to that same "k=" run (x <= s <= y with
    * x, y sharing a prefix forces s to share it), so the value-range
    * test at that level is sound; any other bound shape KEEPS the
    * manifest and the per-row filter decides. Descent to the next lead
    * key only when both bounds lie inside the filtered value (both
    * start with "k=v/"); a manifest straddling the value boundary is
    * kept as before. Self-written paths never repeat a dir token and
    * clone() rejects source roots with '=' segments, so a row shaped
    * "k=w/…" cannot match filter k=v for w != v. Never-cloned,
    * never-evolved tables have all-shaped bounds — full pruning power
    * on the common path, conservative everywhere else. */
  private[table] def manifestPrune(ms: Seq[ManifestRef],
      filters: Map[String, String], partitionBy: Seq[String]): Seq[ManifestRef] = {
    val lead = partitionBy.takeWhile(filters.contains)
    if (lead.isEmpty) return ms
    ms.filter { m =>
      var base = ""
      var keep = true
      var decided = false
      val it = lead.iterator
      while (!decided && it.hasNext) {
        val k = it.next()
        val tok = base + k + "="
        if (!(m.lo.startsWith(tok) && m.hi.startsWith(tok))) {
          decided = true // shape unverifiable at this level -> keep
        } else {
          // code point order — the order Spark's binary sort gave the
          // manifest bounds; java.lang.String order diverges for
          // astral partition values (see DataSkipping.cpCompare)
          val pfx = tok + filters(k) + "/"
          // upper sentinel is U+10FFFF (the MAX code point), not
          // U+FFFF: a path continuing the prefix with an astral
          // character sorts above "\uffff" in code point order, so the
          // smaller sentinel would wrongly prune a matching manifest
          // (ADVICE r12)
          if (DataSkipping.cpCompare(m.hi, pfx) < 0 ||
              DataSkipping.cpCompare(m.lo, pfx + "\udbff\udfff") > 0) {
            keep = false; decided = true // provably disjoint
          } else if (m.lo.startsWith(pfx) && m.hi.startsWith(pfx)) {
            base = pfx // fully inside this value: verify the next level
          } else {
            decided = true // straddles the value boundary -> keep
          }
        }
      }
      keep
    }
  }

  /** Deletion-vector map of a columnar checkpoint: only the dv-bearing
    * subset (bounded by standing delete volume, never file count)
    * comes back to the driver. */
  private def ckptDvMap(c: Commit): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions.{col, size}
    import spark.implicits._
    ckptRowsDF(c).filter(size(col("dvGens")) > 0)
      .select("file", "dvGens").as[(String, Seq[String])].collect().toMap
  }

  /** Live file paths of a columnar checkpoint, materialized on the
    * driver — audit paths only (CDC emission, branch heads, vacuum's
    * tag-protection walk); hot reads stay distributed. */
  private def ckptLiveFiles(c: Commit): Seq[String] = {
    import spark.implicits._
    ckptRowsDF(c).select("file").as[String].collect().toSeq
  }

  /** Live rows (file, size, stats, dvGens) of a columnar snapshot:
    * the checkpoint parquet minus the tail's removes, dv-merged, plus
    * the tail's adds. The tail fold is O(checkpointInterval) driver
    * work; the base NEVER materializes on the driver — removes and dv
    * patches apply as broadcast joins, partition filters and stats
    * pruning as Spark-side predicates. `sizedAdds` fills real sizes
    * for tail-added files (checkpoint build / detail need them); hot
    * reads skip the per-file RPCs and carry -1. */
  private def liveRowsDF(filters: Map[String, String], asOf: Option[Long],
      sizedAdds: Boolean = false): DataFrame = {
    val s = snapshotAt(asOf)
    val ck = s.base.get
    // manifest-tier reads prune whole manifest FILES by partition
    // prefix before any row is scanned (legacy single-dir checkpoints
    // read the one directory as before)
    val base0 = ck.manifests match {
      case Some(ms) => manifestRowsDF(manifestPrune(ms, filters, ck.partitionBy))
      case None => ckptRowsDF(ck)
    }
    val withAdds = foldTail(base0, s, sizedAdds)
    IncrementalTable.partitionMatchExpr(filters).fold(withAdds)(withAdds.filter)
  }

  /** Apply a snapshot's tail over its checkpoint base rows: drop
    * removed (and re-added) files, patch dv generations, union the
    * adds. The base never materializes on the driver; the tail is
    * O(checkpointInterval) driver state applied as broadcast joins. */
  private def foldTail(base0: DataFrame, s: Snapshot,
      sizedAdds: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{array_distinct, broadcast, coalesce, col, concat, typedLit}
    import spark.implicits._
    val dead = (s.removedFromBase ++ s.files.keys).toSeq
    val base1 =
      if (dead.isEmpty) base0
      else base0.join(broadcast(dead.toDF("file")), Seq("file"), "left_anti")
    val base2 =
      if (s.dvOnBase.isEmpty) base1
      else {
        import org.apache.spark.sql.functions.when
        val dvDF = broadcast(s.dvOnBase.toSeq
          .map { case (f, (r, g)) => (f, r, g) }
          .toDF("file", "_tail_replace", "_tail_gens"))
        base1.join(dvDF, Seq("file"), "left")
          .withColumn("dvGens",
            when(col("_tail_replace"), col("_tail_gens"))
              .otherwise(array_distinct(concat(
                coalesce(col("dvGens"), typedLit(Seq.empty[String])),
                coalesce(col("_tail_gens"), typedLit(Seq.empty[String]))))))
          .drop("_tail_replace", "_tail_gens")
      }
    val withAdds =
      if (s.files.isEmpty) base2
      else base2.unionByName(ckptRows(s, sizedAdds).toDS().toDF())
    withAdds
  }

  /** Checkpoint rows of a snapshot's `files`, sized from the
    * filesystem when `sized` (else -1, filled at the next checkpoint). */
  private def ckptRows(s: Snapshot, sized: Boolean): Seq[CkptFileRow] =
    s.files.toSeq.map { case (f, lf) =>
      CkptFileRow(f,
        if (sized) fs.getFileStatus(new Path(rootPath, f)).getLen else -1L,
        lf.stats.view.mapValues(IncrementalTable.toCkptStat).toMap, lf.dvGens)
    }

  /** Live files in the LOGICAL partitions of the given physical dirs —
    * the dynamic-replace removal set, pruned Spark-side on the columnar
    * path instead of enumerating the table. Matching is by hive
    * `k=v` segments, not dir-string equality, so files a shallow clone
    * references under a FOREIGN root (X78) still leave the partition
    * when it is dynamically replaced. An unpartitioned dir ("") means
    * the whole table. */
  private def liveFilesInDirs(dirs: Set[String]): Seq[String] = {
    import spark.implicits._
    val exprs = dirs.toSeq.map(d =>
      IncrementalTable.partitionMatchExpr(IncrementalTable.hiveSegments(d))
        .getOrElse(org.apache.spark.sql.functions.lit(true)))
    liveRowsDF(Map.empty, None)
      .filter(exprs.reduce(_ || _))
      .select("file").as[String].collect().toSeq
  }

  /** The snapshot as of a version: the head, a fold of the replay
    * window's prefix, or — past the horizon, for tagged versions — a
    * fold of the archived records. */
  private[table] def snapshotAt(asOf: Option[Long]): Snapshot = asOf match {
    case None => snapshot
    case Some(v) =>
      val h = snapshot
      val cs = h.log
      if (v == h.version) h
      else {
        val (cachedHead, past) = pastCache
        if ((cachedHead eq h) && past.version == v) past
        else {
          val s = Snapshot.fold(commitsUpTo(cs, v))
          pastCache = (h, s)
          s
        }
      }
  }

  private def commitsUpTo(cs: Seq[Commit], v: Long): Seq[Commit] =
    if (cs.headOption.exists(_.version > v)) {
      // Aged-out history (VERDICT r11 #2): expire_snapshots deleted
      // the records below its floor — name the retention explicitly,
      // because "missing file" errors hide the operator dial
      expiredBelow.filter(v < _).foreach { e =>
        throw new IllegalArgumentException(
          s"version $v predates the retention horizon: history below " +
            s"version $e was expired by expire_snapshots(" +
            "older_than_hours=" +
            s"${tableProperties.getOrElse(IncrementalTable.ExpiredHoursProp, "?")})" +
            " — aged-out snapshots are unreadable by design; pin a " +
            "snapshot with setTag / CALL graft.system.tag BEFORE " +
            "expiry to retain it")
      }
      // Beyond the replay horizon, TAGGED versions stay readable
      // (X101, the Iceberg expire-snapshots-honors-refs semantic):
      // vacuum provably retains a tagged snapshot's files and DV
      // generations, and raw delta records survive until
      // expire_snapshots ages them out, so the replay runs straight
      // off the archived log (seeded at the retention floor) — an
      // O(v) driver JSON parse, the same audit-path cost as the
      // CDC-retention walk. Untagged versions keep failing loudly:
      // their files may be vacuumed and a silent partial read would
      // be worse.
      require(tags.values.exists(_ == v) ||
          branches.values.exists(_.base == v),
        s"version $v predates the replay horizon (history before " +
          s"checkpoint ${cs.headOption.map(_.version).getOrElse(-1L)} " +
          "is compacted; only TAGGED versions — and live branches' " +
          "base snapshots — stay readable past it; setTag / CALL " +
          "graft.system.tag pins one)")
      val raw = archivedDeltas(v)
      require(raw.lastOption.exists(_.version == v),
        s"no archived commit at version $v of $root")
      raw
    } else {
      require(v <= cs.lastOption.map(_.version).getOrElse(-1L),
        s"version $v does not exist yet (latest: $latestVersion)")
      cs.takeWhile(_.version <= v)
    }

  /** Committed data-skipping index of the live set: rel path → column →
    * [min,max], folded over the log like [[liveFiles]] (checkpoints
    * carry it forward). Files written without `statsColumns` are absent. */
  def liveFileStats(asOf: Option[Long] = None): Map[String, Map[String, ColStat]] = {
    val s = snapshotAt(asOf)
    if (s.base.isDefined) {
      // full-stats materialization is an administrative need
      // (restore); query-time pruning never calls this on the
      // columnar path — liveFilesWhere pushes the bounds into the job
      import org.apache.spark.sql.functions.{col, map_keys, size}
      import spark.implicits._
      liveRowsDF(Map.empty, asOf)
        .filter(size(map_keys(col("stats"))) > 0)
        .select("file", "stats").as[(String, Map[String, CkptStatRow])]
        .collect().map { case (f, m) =>
          f -> m.view.mapValues(IncrementalTable.fromCkptStat).toMap
        }.toMap
    } else s.fileStats
  }

  /** Committed deletion-vector state of the live set: data rel path →
    * sidecar generation ids whose (file, pos) rows are logically
    * deleted from it. Folded over the log like [[liveFiles]]: dv
    * commits accumulate generations per file, removing a file drops
    * its entry, checkpoints carry the live map forward. */
  def liveDv(asOf: Option[Long] = None): Map[String, Seq[String]] = {
    val s = snapshotAt(asOf)
    if (s.base.isDefined) {
      // only the dv-bearing subset returns (bounded by standing
      // delete volume, never by file count)
      import org.apache.spark.sql.functions.{col, size}
      import spark.implicits._
      liveRowsDF(Map.empty, asOf).filter(size(col("dvGens")) > 0)
        .select("file", "dvGens").as[(String, Seq[String])].collect().toMap
    } else s.dvMap(Map.empty)
  }

  /** [[liveFiles]] additionally pruned by the data-skipping index: a
    * file is dropped when the bounds [[DataSkipping]] extracts from
    * `predicate` cannot intersect its committed [min,max]. Files
    * without stats for a bounded column are conservatively kept. */
  def liveFilesWhere(predicate: org.apache.spark.sql.Column,
      filters: Map[String, String] = Map.empty,
      asOf: Option[Long] = None): Seq[String] = {
    requireUniformSpec(filters.keys, "partition-filtered prune", asOf)
    val b0 = committedSchemaAt(asOf) match {
      case Some(schema) => DataSkipping.bounds(spark, schema, predicate)
      case None => Map.empty[String, DataSkipping.Bounds] // no schema: no pruning
    }
    // the stats index is keyed by PHYSICAL names; bounds extract under
    // logical ones — remap so the skipping index follows renames (X72)
    val cmap = columnMapping(asOf)
    val b = if (cmap.isEmpty) b0
      else b0.map { case (k, bd) => physPath(k, cmap) -> bd }
    // Hidden partitioning (X77): base-column bounds additionally prune
    // at DIRECTORY granularity through the committed transforms — a
    // `ts` range predicate drops whole `ts_day=…` dirs, a point lookup
    // keeps one `…_bucket=…` dir, before any stats entry is consulted
    // (and independently of whether the base column was ever indexed).
    val dirBounds: Map[String, TokenBound] = {
      val ts = partitionTransforms(asOf)
      if (ts.isEmpty) Map.empty
      else ts.flatMap { case (pcol, t) =>
        b0.get(t.base).flatMap(t.infer).map(pcol -> _)
      }
    }
    snapshotAt(asOf).base match {
      case Some(_) =>
        // THE 100× path: the prune runs as a Spark job over the
        // checkpoint rows — only survivors' names reach the driver, so
        // a selective predicate on a million-file table collects a
        // handful of strings, never the live set
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val rows = liveRowsDF(filters, asOf)
        val statPruned =
          if (b.isEmpty) rows
          else rows.filter(b.map { case (c, bd) =>
            IncrementalTable.overlapsExpr(col("stats").getItem(c), bd)
          }.reduce(_ && _))
        val pruned =
          if (dirBounds.isEmpty) statPruned
          else statPruned.filter(dirBounds.map { case (p, tb) =>
            tb.keepsExpr(p)
          }.reduce(_ && _))
        // bloom prune (X100) composes after the stat/dir prune, still
        // inside the job — only the final survivors' names reach the
        // driver
        bloomPruneDF(pruned.select("file"), bloomPoints(b))
          .select("file").as[String].collect().toSeq
      case None =>
        if (b.isEmpty && dirBounds.isEmpty) liveFiles(filters, asOf)
        else {
          val stats = liveFileStats(asOf)
          val statPruned = liveFiles(filters, asOf).filter { f =>
            val dirOk = dirBounds.isEmpty || {
              val segs = IncrementalTable.hiveSegments(f)
              dirBounds.forall { case (p, tb) => tb.keeps(segs.get(p)) }
            }
            dirOk && stats.get(f).forall(fs => b.forall { case (col, bd) =>
              fs.get(col).forall(DataSkipping.overlaps(bd, _))
            })
          }
          val points = bloomPoints(b)
          if (points.isEmpty || statPruned.isEmpty ||
              !fs.exists(bloomIdxPath)) statPruned
          else {
            import spark.implicits._
            bloomPruneDF(statPruned.toDF("file"), points)
              .select("file").as[String].collect().toSeq
          }
        }
    }
  }

  /** Data-skipping read: semantically `read(filters).filter(predicate)`,
    * but the file list is pruned against the commit log's per-file
    * [min,max] index BEFORE Spark enumerates it — on a clustered table
    * (see [[compact]] `clusterBy`) a narrow range predicate touches a
    * handful of files out of millions, and the log-level prune costs a
    * driver-side map over live paths, no listing, no footer reads.
    * Extraction is conservative, and `predicate` is still applied in
    * full, so results are always exact. */
  def readWhere(predicate: org.apache.spark.sql.Column,
      filters: Map[String, String] = Map.empty): DataFrame = {
    val files = liveFilesWhere(predicate, filters)
    withEqDel(files, None)(fs =>
      filesDf(fs, committedSchemaAt(), liveDv(), columnMapping()))
      .filter(predicate)
  }

  /** Snapshot read as of an older commit version (Delta-style time
    * travel, bounded by checkpoint compaction). */
  def readAt(version: Long, filters: Map[String, String] = Map.empty): DataFrame =
    readInternal(filters, Some(version))

  /** TIMESTAMP AS OF twin of [[readAt]]: the snapshot of the latest
    * commit at-or-before `tsMillis` (commit timestamps are clamped
    * non-decreasing at commit time, so this binary-search contract
    * holds under multi-writer clock skew). The SQL front door's
    * `TIMESTAMP AS OF` resolves through [[versionAtTimestamp]] too. */
  def readAtTimestamp(tsMillis: Long,
      filters: Map[String, String] = Map.empty): DataFrame =
    readAt(versionAtTimestamp(tsMillis), filters)

  /** Latest version whose commit timestamp is at-or-before `tsMillis`;
    * loud when the timestamp predates the replayable history. */
  def versionAtTimestamp(tsMillis: Long): Long =
    commits().filter(_.ts <= tsMillis).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no commit of $root at or before timestamp $tsMillis " +
          s"(earliest replayable: ${commits().headOption.map(_.ts)})")).version

  /** Pruned snapshot read (reference W7, delta_io.py:118-129). Explicit
    * committed-file list + basePath keeps partition columns AND ignores
    * any uncommitted garbage in the directory tree. */
  def read(filters: Map[String, String] = Map.empty): DataFrame =
    readInternal(filters, None)

  // the last readLocal's decoded files, by (rel path, committed schema)
  @volatile private var localRows =
    Map.empty[(String, StructType), Vector[org.apache.spark.sql.catalyst.InternalRow]]

  /** [[read]] answered on the driver: the partition's committed rows as
    * a `LocalRelation` frame, pinned to the current snapshot and read
    * with [[graft.parquet.RowParquet]]. Building it runs no Spark job,
    * and a filter, projection or limit above it folds into the relation
    * (`ConvertToLocalRelation`), so collecting such a frame runs none
    * either. For the listing-sized slices a tick reads, the Spark
    * path's cost is its per-job floor, not its bytes.
    *
    * None (the caller keeps [[read]]) unless the read is that small and
    * plain: an inline snapshot; at most
    * [[IncrementalTable.LocalReadMaxFiles]] scoped files of at most
    * [[IncrementalTable.LocalReadMaxBytes]] in total (sizes from the
    * cached statuses); no deletion vectors on those files; no equality
    * deletes in force; no column mapping or defaults; no shallow-clone
    * (foreign) files; one dir shape; no CHAR/VARCHAR columns; and
    * partition columns of a type
    * [[graft.parquet.RowParquet.partitionParser]] parses. Under those
    * conditions it equals [[read]] in schema and rows. A file the
    * previous call decoded under the same schema is not decoded again
    * (the tick's seen-diff and `processed` slice read one day, one
    * append apart); only the current scope's rows stay cached. */
  def readLocal(filters: Map[String, String] = Map.empty): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.catalyst.util.CharVarcharUtils
    import org.apache.spark.sql.graftshim.DmlShim
    val s = snapshot
    if (s.base.isDefined || s.eqDeletes.nonEmpty || s.channel("colmap/").nonEmpty ||
        s.channel("default/").nonEmpty) return None
    requireUniformSpec(filters.keys, "partition-filtered read")
    val files = s.files.keys.filter(f => matchesPartition(f, filters)).toSeq
    val stored = committedSchemaAt()
    def local(schema: StructType, rows: Seq[org.apache.spark.sql.catalyst.InternalRow]) =
      Some(DmlShim.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows)))
    if (files.isEmpty) return local(stored.getOrElse(new StructType()), Nil)
    if (stored.isEmpty || CharVarcharUtils.hasCharVarchar(stored.get) ||
        files.size > IncrementalTable.LocalReadMaxFiles ||
        files.exists(f => f.startsWith("/") || s.files(f).dvGens.nonEmpty)) return None
    val shapes = files.map(f => dirTokens(root, f).map(_._1)).distinct
    if (shapes.size > 1) return None
    val schema = stored.get
    val partCols = shapes.head.toSet
    if (schema.fields.exists(f => partCols(f.name) &&
        graft.parquet.RowParquet.partitionParser(f.dataType).isEmpty)) return None
    val statuses = files.map(statusOf)
    if (statuses.iterator.map(_.getLen).sum > IncrementalTable.LocalReadMaxBytes) return None
    val conf = hadoopConf(spark)
    // committed files never change: a file the previous call decoded
    // under the same schema is reused, and only this scope is kept
    val cached = localRows
    val decoded = files.zip(statuses).map { case (f, st) =>
      (f, schema) -> cached.getOrElse((f, schema), {
        val in = new graft.parquet.RowParquet.FileRows(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
          schema, dirTokens(root, f))
        try Iterator.continually(in.next()).takeWhile(_ != null).toVector
        finally in.close()
      })
    }
    localRows = decoded.toMap
    val rows = decoded.flatMap(_._2)
    // the Spark path's schema: data columns read nullable (as a file
    // source's data schema does), partition columns as committed
    local(StructType(schema.fields.map(f =>
      if (partCols(f.name)) f else DmlShim.asNullable(StructType(Array(f))).head)), rows)
  }

  /** The change set of one commit — exactly its added files, read with
    * the schema committed as of that version. This is the changefeed
    * read backing [[graft.streaming.DerivedStream]] (the analog of
    * streaming FROM a Delta table): an append's `add` files ARE the
    * delta, so a derived consumer processes each upstream commit as one
    * micro-batch without rescanning the table. Bounded by the replay
    * horizon like [[readAt]]. */
  def readCommit(version: Long): DataFrame = {
    val c = snapshotAt(Some(version)).log.last
    require(c.version == version, s"no commit at version $version (nearest: ${c.version})")
    // raw change set: DVs attach at LATER versions and are separate
    // logical changes, so the batch reads as committed (dv = empty)
    filesDf(c.add, committedSchemaAt(Some(version)), Map.empty,
      columnMapping(Some(version)))
  }

  /** Row-level change feed (CDC read): every LOGICAL change between the
    * two versions inclusive, as table rows plus `_change_type`
    * ("insert" | "delete"; an update is its delete+insert pair) and
    * `_commit_version`. Physical rewrites don't leak: a replace/merge
    * commit rewrites whole files (copy-on-write), so rows present in
    * both its removed and added files are unchanged and cancel via
    * multiset difference — what remains is exactly the commit's logical
    * delta. Append-only and delete-only commits are narrow scans of
    * THAT commit's files, tagged in one projection; only a commit with
    * both adds and removes pays the `exceptAll` (an aggregation and a
    * shuffle over its own files, never the table), so tailing the feed
    * is O(change volume) at any table size. Checkpoint commits are
    * compaction artifacts, not changes, and are skipped; the window is
    * bounded by the replay horizon like [[readAt]], and vacuum retains
    * every file the window references. All files read under the
    * `toVersion` schema (older files null-fill evolved columns, same as
    * any read).
    *
    * Deletion vectors compose exactly: an action="dv" commit surfaces
    * its NEWLY deleted positions as delete rows (its sidecars hold
    * precisely this commit's delta — see [[deleteVectorized]]), and
    * every other commit's added/removed file contents are evaluated
    * under the dv state AS OF that commit — so a later compaction that
    * materializes the deletes cancels cleanly instead of re-emitting
    * them as spurious deletes.
    *
    * Row tracking (X87): on a `graft.rowTracking=true` table the feed
    * pairs same-id pre/post rows into update_preimage/update_postimage,
    * and `includeRowId = true` additionally exposes each change row's
    * stable id as `_row_id` (null for rows written before tracking) —
    * the keyable handle downstream incremental-view joins need. */
  def changes(fromVersion: Long, toVersion: Long = latestVersion,
      includeRowId: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // row tracking (X87), hoisted (ADVICE r9): one log replay, not one
    // per window commit — and the includeRowId requirement fires even
    // on an empty window
    val tracked = rowTracked
    if (includeRowId) require(tracked,
      s"includeRowId needs graft.rowTracking=true on $root")
    val crossesHorizon = commits().headOption
      .exists(h => h.action == "checkpoint" && fromVersion <= h.version)
    val atTo =
      if (!crossesHorizon) snapshotAt(Some(toVersion))
      else {
        // A window crossing the replay horizon is PARTIAL from the
        // replayed log alone — the checkpoint is a snapshot, not a
        // delta. With cdcRetention covering the window, re-read the
        // archived delta records (never deleted) and walk the FULL
        // history; vacuum() retains the files such a walk reads.
        // Outside retention, fail like readAt does — never
        // under-report.
        require(cdcRetention > 0 && fromVersion >= latestVersion - cdcRetention,
          s"changes($fromVersion, $toVersion) crosses the replay horizon " +
            s"(history up to checkpoint is compacted away) and is outside " +
            s"the CDC retention window (cdcRetention=$cdcRetention of " +
            s"version $latestVersion) — raise cdcRetention, or persist " +
            "audits before compaction")
        require(toVersion <= latestVersion,
          s"version $toVersion does not exist yet (latest: $latestVersion)")
        Snapshot.fold(archivedDeltas(toVersion))
      }
    val cs = atTo.log
    // the schema as of toVersion: from the replayed window, or from the
    // archived walk when the window predates the horizon; the column
    // mapping comes from the SAME walk so renamed columns read their
    // physical bytes under the toVersion logical names
    val stored = Some(atTo.schemaDdl).filter(_.nonEmpty).map(StructType.fromDDL)
    val mapping = atTo.channel("colmap/")
    // each window commit reads under the snapshot just before itself:
    // its dv state, the equality deletes (X104) in force, and — only
    // when the window contains an eqdelete, whose emission needs them —
    // its live files. A columnar head checkpoint's rows are read once
    // for the whole walk, or pre-window deletes would re-surface as
    // spurious CDC inserts.
    lazy val baseDv = atTo.base.map(ckptDvMap).getOrElse(Map.empty[String, Seq[String]])
    lazy val baseLive = atTo.base.map(ckptLiveFiles).getOrElse(Nil)
    val needLive = cs.exists(_.meta.exists { case (k, v) =>
      k.startsWith(IncrementalTable.EqDelPrefix) && v.nonEmpty })
    var state = Snapshot.empty
    val cdc = cs.flatMap { c =>
      val before = state
      val after = state.step(c)
      state = after
      // lazy: only window commits read the states around them
      lazy val dvBefore = before.dvMap(baseDv)
      lazy val dvAfter = after.dvMap(baseDv)
      lazy val eqBefore = before.eqDeletes
      lazy val liveBefore = if (needLive) before.liveFiles(baseLive).toList else Nil
      // one projection tags a change set with its type and version;
      // `idFirst` leads with the exposed `_row_id`, the column order
      // pairOnRowId's using-joins give
      def tag(df: DataFrame, ct: String, idFirst: Boolean = false): DataFrame = {
        val marks = Seq(lit(ct).as("_change_type"), lit(c.version).as("_commit_version"))
        val rc = IncrementalTable.RowIdCol
        if (idFirst && includeRowId && df.columns.contains(rc))
          df.select(col(rc).as("_row_id") +: col("*") +: marks: _*).drop(rc)
        else exposeRowId(df, tracked, includeRowId).select(col("*") +: marks: _*)
      }
      // dvmerge rewrites sidecar METADATA only — the logical table is
      // unchanged, so it contributes no CDC rows (like a checkpoint)
      val inWindow = c.version >= fromVersion &&
        c.action != "meta" && c.action != "checkpoint" &&
        c.action != "dvmerge" &&
        // maintenance rewrites (X94, the Delta dataChange=false
        // analog): compaction commits carry the marker and are
        // logical no-ops — pre-marker they cost an O(rewrite)
        // exceptAll that provably cancelled to zero rows; now the
        // rewrite files are never read. dv-state folding above still
        // applies their remove/dv effects.
        !(c.action == "replace" &&
          c.meta.get(IncrementalTable.MaintenanceKey).contains("1")) &&
        (c.add.nonEmpty || c.remove.nonEmpty || c.dv.nonEmpty ||
          c.action == "eqdelete")
      // row tracking (X87): read both sides WITH their stable ids and
      // pair surviving pre/post rows into update_preimage/postimage
      // (`tracked` hoisted above the loop)
      // an equality delete's logical delta: the rows its key tuples
      // match in files the delete APPLIES to (live just before the
      // commit, added at or before its base snapshot) — minus rows an
      // EARLIER equality delete already removed. O(applicable files)
      // read, the Delta-CDF-on-a-big-delete cost class; position
      // deletes in force still apply via dvBefore. Shared between the
      // standalone "eqdelete" commit and the X105 atomic upsert append
      // (whose own adds are not in liveBefore — they escape). A
      // restore's RE-ISSUED entries never emit here: gens already in
      // eqBefore are not fresh, and tombstoned-then-reissued gens ride
      // a "replace", whose exceptAll cancellation is already exact.
      def eqDelEmission(dels: Seq[(String, EqDelPayload)]): DataFrame = {
        val frames = dels.map { case (gen, p) =>
          val newer = deltasBetween(p.baseVersion, c.version - 1)
            .flatMap(_.add).toSet
          val appFiles = liveBefore.filterNot(newer)
          val base = withEqDel(appFiles, None,
            Some((eqBefore, c.version - 1)), Some(mapping))(fs =>
            filesDf(fs, stored, dvBefore, mapping, keepRowId = tracked))
          val keys = eqDelKeysGoverned(Seq(gen), p.cols, mapping)
          base.join(keys, keys.columns.toIndexedSeq, "left_semi")
        }
        tag(frames.reduce(_.unionByName(_)), "delete")
      }
      def freshDels: Seq[(String, EqDelPayload)] = c.meta.collect {
        case (k, v) if k.startsWith(IncrementalTable.EqDelPrefix) &&
          v.nonEmpty =>
          k.stripPrefix(IncrementalTable.EqDelPrefix) ->
            Serialization.read[EqDelPayload](v)
      }.toSeq.filterNot { case (g, _) => eqBefore.exists(_._1 == g) }
      if (!inWindow) None
      else if (c.action == "eqdelete") {
        val dels = freshDels
        if (dels.isEmpty) None else Some(eqDelEmission(dels))
      }
      else if (c.action == "dv" || c.action == "update") {
        // the commit's own sidecars ARE its logical delta: join their
        // positions back to the touched files' rows (under the PRIOR
        // dv state — already-deleted rows can't delete again). A
        // merge-on-read UPDATE (X82) additionally adds the post-image
        // files in the same commit: exact delete (pre-image) + insert
        // (post-image) rows — paired into updates by row id when the
        // table is row-tracked (X87), the post-image carries the
        // pre-image's id through updateVectorized. Rows an earlier
        // EQUALITY delete (X104) already removed cannot delete again:
        // touched files group by applicable deletes, anti-joined
        // before tagging — same discipline as dvBefore.
        val pos = dvPositionsGoverned(c.dv.values.flatten.toSeq.distinct)
        val ridExtra = if (tracked)
          Seq(col(IncrementalTable.RowIdCol)) else Nil
        val rows = eqDelGroups(c.dv.keys.toSeq, eqBefore, c.version - 1)
          .map { case (applicable, fsG) =>
            val deleted = filesDfWithPos(fsG, stored, dvBefore,
                mapping, keepRowId = tracked)
              .join(pos,
                col("_dv_file") === pos("_dv_sc_file") &&
                  col("_dv_pos") === pos("_dv_sc_pos"))
            val sel = stored.map(s => deleted.select(
              s.fields.toIndexedSeq.map(logicalCol(_, mapping)) ++ ridExtra: _*))
              .getOrElse(dropPosCols(deleted.drop("_dv_sc_file", "_dv_sc_pos")))
            applicable.groupBy(_._2.cols).toSeq.sortBy(_._1.mkString(","))
              .foldLeft(sel) { case (df, (physCols, grpDels)) =>
                val keys = eqDelKeysGoverned(grpDels.map(_._1), physCols,
                  mapping)
                df.join(keys, keys.columns.toIndexedSeq, "left_anti")
              }
          }.reduce(_.unionByName(_))
        if (c.add.isEmpty) Some(tag(rows, "delete"))
        else {
          val adds = filesDf(c.add, stored, dvAfter, mapping,
            keepRowId = tracked)
          Some(
            if (tracked) pairOnRowId(adds, rows, c.version, includeRowId)
            else tag(rows, "delete").unionByName(tag(adds, "insert")))
        }
      } else {
        // added files read under the POST-commit dv state: usually a
        // no-op (new files have no vectors), but a restore() re-adds
        // files together with their restored vectors; removed files
        // read under the PRE-commit state so materialized deletes
        // cancel against the (dv-applied) rewrite. Untouched rewritten
        // rows cancel through exceptAll (same id, same values, when
        // row-tracked); surviving same-id rows pair into updates.
        // both sides evaluate under their LOGICAL row sets: removed
        // files still contain rows standing equality deletes (X104)
        // had already removed (pre-commit state), and added files
        // apply the post-commit state — a no-op for plain appends
        // (new files escape by version ordering) but exact for a
        // restore() that re-adds files together with re-issued
        // deletes (the own-commit rule in eqDelGroups)
        lazy val a = withEqDel(c.add, None,
          Some((after.eqDeletes, c.version)), Some(mapping))(fs =>
          filesDf(fs, stored, dvAfter, mapping, keepRowId = tracked))
        lazy val r = withEqDel(c.remove, None,
          Some((eqBefore, c.version - 1)), Some(mapping))(fs =>
          filesDf(fs, stored, dvBefore, mapping, keepRowId = tracked))
        // exceptAll against an empty side is the multiset identity, so
        // an append-only (or delete-only) commit is its own delta — a
        // narrow scan, no shuffle — and with nothing to pair a
        // row-tracked side passes through too
        val base =
          if (c.remove.isEmpty) tag(a, "insert", idFirst = true)
          else if (c.add.isEmpty) tag(r, "delete", idFirst = true)
          else {
            val ins = a.exceptAll(r)
            val del = r.exceptAll(a)
            if (tracked) pairOnRowId(ins, del, c.version, includeRowId)
            else tag(ins, "insert").unionByName(tag(del, "delete"))
          }
        // X105 atomic upsert: the append ALSO put fresh equality
        // deletes in force — emit the rows they remove alongside the
        // commit's inserts (its own adds escape and are not re-listed)
        val dels = if (c.action == "append") freshDels else Nil
        Some(if (dels.isEmpty) base else base.unionByName(eqDelEmission(dels)))
      }
    }
    cdc.reduceOption(_.unionByName(_)).getOrElse {
      val empty = filesDf(Nil, stored, Map.empty, mapping)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L)).limit(0)
      if (includeRowId)
        empty.withColumn("_row_id",
          lit(null).cast(org.apache.spark.sql.types.LongType))
      else empty
    }
  }

  /** X87 CDC pairing: rows present on BOTH sides of a commit under the
    * same (non-null) row id are ONE logical update — pre-image tagged
    * `update_preimage`, post-image `update_postimage`; unpaired rows
    * stay deletes/inserts (rows written before tracking carry null ids
    * and never pair). Both inputs carry [[IncrementalTable.RowIdCol]];
    * the output drops it (or exposes it as `_row_id`).
    * O(commit change volume) joins. */
  private def pairOnRowId(ins: DataFrame, del: DataFrame,
      version: Long, includeRowId: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val rc = IncrementalTable.RowIdCol
    val updRids = ins.select(col(rc)).where(col(rc).isNotNull)
      .intersect(del.select(col(rc)).where(col(rc).isNotNull))
    def tag(df: DataFrame, rids: DataFrame, joinType: String, ct: String) =
      exposeRowId(df.join(rids, Seq(rc), joinType), tracked = true,
        includeRowId).withColumn("_change_type", lit(ct))
    tag(del, updRids, "left_semi", "update_preimage")
      .unionByName(tag(ins, updRids, "left_semi", "update_postimage"))
      .unionByName(tag(del, updRids, "left_anti", "delete"))
      .unionByName(tag(ins, updRids, "left_anti", "insert"))
      .withColumn("_commit_version", lit(version))
  }

  /** Drop the internal rid column, or surface it as `_row_id`. */
  private def exposeRowId(df: DataFrame, tracked: Boolean,
      includeRowId: Boolean): DataFrame = {
    val rc = IncrementalTable.RowIdCol
    if (!tracked || !df.columns.contains(rc)) df
    else if (includeRowId) df.withColumnRenamed(rc, "_row_id")
    else df.drop(rc)
  }

  private def readInternal(filters: Map[String, String], asOf: Option[Long],
      keepRowId: Boolean = false): DataFrame = {
    requireUniformSpec(filters.keys, "partition-filtered read", asOf)
    val files = liveFiles(filters, asOf)
    // The committed schema is authoritative: partition-dir values (always
    // strings on disk) are cast back to their declared types, and a
    // partition column that is also a data column (e.g. word_length)
    // keeps its original type and position.
    withEqDel(files, asOf)(fs =>
      filesDf(fs, committedSchemaAt(asOf), liveDv(asOf), columnMapping(asOf),
        keepRowId = keepRowId))
  }

  /** Read `files` applying `dv` deletion vectors, projected to the
    * committed schema. The DV anti-join's build side is the (small,
    * compaction-bounded) position set and is broadcast, so the data
    * side never shuffles — it stays in its scan stage, same as a
    * Delta/Iceberg merge-on-read scan. Pass the dv state AS OF the
    * read's version (empty for raw change-set reads), and the column
    * `mapping` as of the same version: the scan runs under PHYSICAL
    * names and the final projection re-labels to the logical schema —
    * the single rename boundary of the whole read path. */
  private def filesDf(files: Seq[String], stored: Option[StructType],
      dv: Map[String, Seq[String]], mapping: Map[String, String],
      // DML rewrites keep the materialized `_graft_path` column (the
      // touched-file key) through the logical projection
      keepPath: Boolean = false,
      // row tracking (X87): carry the physical `_graft_rid` column
      // through the logical projection (null for files written before
      // tracking — parquet's by-name clipping null-fills)
      keepRowId: Boolean = false): DataFrame = {
    val df =
      if (files.exists(dv.contains))
        dropPosCols(filesDfWithPos(files, stored, dv, mapping, keepRowId))
      else rawFilesDf(files, stored, mapping, keepRowId)
    stored.map { s =>
      val base = s.fields.toIndexedSeq.map(logicalCol(_, mapping))
      val extra =
        (if (keepPath)
          Seq(org.apache.spark.sql.functions.col("_graft_path")) else Nil) ++
        (if (keepRowId)
          Seq(org.apache.spark.sql.functions.col(IncrementalTable.RowIdCol))
         else Nil)
      df.select(base ++ extra: _*)
    }.getOrElse(
      if (keepPath) df.drop("_graft_pos")
      else df.drop("_graft_path", "_graft_pos"))
  }

  private[table] val dvPrefix = "_graft_dv"
  private def dropPosCols(df: DataFrame): DataFrame = df.drop("_dv_file", "_dv_pos")

  /** Sidecar rows of the given generations: (file rel path, row pos).
    * Stale rows naming since-removed data files are harmless — file
    * names are write-unique, so they can never match a live row. */
  private def dvPositions(gens: Seq[String]): DataFrame =
    spark.read
      .schema(new StructType().add("file", "string").add("pos", "long"))
      .parquet(gens.map(g => new Path(rootPath, s"$dvPrefix/$g").toString): _*)
      .select(org.apache.spark.sql.functions.col("file").as("_dv_sc_file"),
        org.apache.spark.sql.functions.col("pos").as("_dv_sc_pos"))

  // deletion-vector sidecars are immutable once committed — their
  // on-disk size (the broadcast-vs-shuffle input) caches forever
  private val dvSizeCache = scala.collection.mutable.Map.empty[String, Long]
  private def dvSidecarBytes(gen: String): Long =
    dvSizeCache.getOrElseUpdate(gen,
      fs.getContentSummary(new Path(rootPath, s"$dvPrefix/$gen")).getLength)

  /** [[dvPositions]] with a SIZE-GOVERNED build side: the common case
    * (point/partition deletes — KB-scale sidecars) broadcasts so the
    * data side never shuffles; a mass position delete (10⁸⁺ positions,
    * the X104-class OOM) exceeds `graft.dv.broadcastBytes` (table
    * property, `spark.graft.dv.broadcastBytes` session fallback,
    * default 32 MiB, <= 0 disables) and joins unhinted — Catalyst/AQE
    * shuffles both sides on the (file, pos) key, the only shape that
    * scales. */
  private def dvPositionsGoverned(gens: Seq[String]): DataFrame = {
    val pos = dvPositions(gens)
    val bound = tableProperties.get("graft.dv.broadcastBytes")
      .orElse(spark.conf.getOption("spark.graft.dv.broadcastBytes"))
      .map(_.toLong).getOrElse(32L << 20)
    if (bound > 0 && gens.iterator.map(dvSidecarBytes).sum <= bound)
      org.apache.spark.sql.functions.broadcast(pos)
    else pos
  }

  /** [[rawFilesDf]] plus `_dv_file` (root-relative path in the
    * URI-ENCODED rendering of `_metadata.file_path` — sidecar rows and
    * this column live in encoded space together, so the position join
    * is a plain string equality inside codegen; only the driver-side
    * commit keys decode, via [[IncrementalTable.relativizeUri]]) and
    * `_dv_pos` (parquet row index), with `dv`'s deleted positions
    * anti-joined out. The prefix is the encoded root (`getRawPath`) so
    * it matches file_path's rendering even when the root itself needs
    * escaping (ADVICE r4 #1). */
  private def filesDfWithPos(files: Seq[String], stored: Option[StructType],
      dv: Map[String, Seq[String]], mapping: Map[String, String],
      keepRowId: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    val prefix = rootPath.toUri.getRawPath.stripSuffix("/") + "/"
    val base = rawFilesDf(files, stored, mapping, keepRowId)
      .withColumn("_dv_file", substring_index(col("_graft_path"), prefix, -1))
      .withColumn("_dv_pos", col("_graft_pos"))
    val gens = files.flatMap(dv.get).flatten.distinct
    if (gens.isEmpty) base
    else {
      val pos = dvPositionsGoverned(gens)
      base.join(pos,
        col("_dv_file") === pos("_dv_sc_file") && col("_dv_pos") === pos("_dv_sc_pos"),
        "left_anti")
    }
  }

  /** The scan itself, under PHYSICAL column names when a `mapping` is
    * set (files always carry physical names; [[filesDf]]'s final
    * projection re-labels). The empty-set frame is physical-named too,
    * so the relabel projection resolves uniformly. Every reader of
    * committed data files (read, readAt, changes, readCommit, the graft
    * source and the streaming source) plans through here, and the plan
    * comes from the log alone ([[logScan]]): building a read never globs
    * paths, lists directories or launches a listing job. */
  private def rawFilesDf(files: Seq[String], stored: Option[StructType],
      mapping: Map[String, String], keepRowId: Boolean = false): DataFrame = {
    // row tracking (X87): the physical `_graft_rid` column joins the
    // read schema on demand — files missing it (pre-tracking
    // generations) null-fill by parquet's by-name resolution
    val phys = stored.map(s =>
      if (keepRowId)
        physicalSchema(s, mapping)
          .add(IncrementalTable.RowIdCol, org.apache.spark.sql.types.LongType)
      else physicalSchema(s, mapping))
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        phys.getOrElse(new StructType())
          .add("_graft_path", org.apache.spark.sql.types.StringType)
          .add("_graft_pos", org.apache.spark.sql.types.LongType))
    } else {
      // Shallow clones (X78) reference files under FOREIGN roots by
      // absolute path, so the scan groups files by their table root
      // (the path minus trailing `k=v` dirs) and unions one relation
      // per root — each file's partition dirs parse below its own
      // root. The common case (no clones) stays one relation under
      // this root.
      phys.foreach(s => require(
        !s.fieldNames.contains("_graft_path") && !s.fieldNames.contains("_graft_pos"),
        "'_graft_path'/'_graft_pos' are reserved column names"))
      // Spec evolution (X81): files written under different partition
      // layouts additionally group by their own dir-token SHAPE — each
      // group's relation carries exactly the identity columns that file
      // generation dir-encoded (its data files carry the rest). The
      // shape is the ORDERED key sequence, not the key set: a reorder
      // evolution ("hour=/day=" -> "day=/hour=") yields the same set
      // but a different partition schema. One shape per table on the
      // never-evolved path: same single group.
      val groups = files.groupBy { f =>
        val base = if (f.startsWith("/")) IncrementalTable.foreignBase(f) else root
        (base, dirTokens(base, f).map(_._1).mkString("/"))
      }.toSeq.sortBy(_._1)
      // `_metadata` does not resolve above a Union, so the file path /
      // row index every DML and DV consumer needs are materialized as
      // regular columns PER GROUP (Catalyst prunes them out of the
      // scan whenever nothing upstream selects them)
      groups.map { case ((base, _), fs) =>
        val g = logScan(base, fs, phys).withColumn("_graft_path",
            org.apache.spark.sql.functions.col("_metadata.file_path"))
          .withColumn("_graft_pos",
            org.apache.spark.sql.functions.col("_metadata.row_index"))
        // each shape group surfaces ITS dirs' discovered partition
        // columns — derived (transform) tokens differ per spec and are
        // not data; project to the committed physical schema so the
        // shape-group union always aligns (the final filesDf projection
        // dropped them anyway on the single-shape path)
        phys.fold(g)(s => g.select((s.fieldNames.toIndexedSeq :+
          "_graft_path" :+ "_graft_pos")
          .map(org.apache.spark.sql.functions.col): _*))
      }.reduce(_.unionByName(_))
    }
  }

  /** Hive `k=v` dir tokens of file `f` below its scan `base`, in path
    * order — the partition directories a relation over `base` sees. */
  private def dirTokens(base: String, f: String): Seq[(String, String)] = {
    val rel = if (f.startsWith("/")) f.stripPrefix(base).stripPrefix("/") else f
    rel.split("/").toSeq.dropRight(1).flatMap { s =>
      val i = s.indexOf('=')
      if (i > 0) Some(s.substring(0, i) -> s.substring(i + 1)) else None
    }
  }

  // Committed data files are write-once (names are write-unique and
  // never rewritten in place), so a FileStatus seen once stays valid
  // for the handle's life. Filled from the staged-file walk when a
  // write promotes; any other file (another handle's commit, a
  // streaming executor's write, a clone's foreign file) is stat'ed the
  // first time a read names it — a missing file fails that read loudly.
  private val fileStatuses =
    new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()

  private def statusOf(f: String): FileStatus = {
    val hit = fileStatuses.get(f)
    if (hit != null) hit
    else {
      val st = fs.getFileStatus(new Path(rootPath, f))
      fileStatuses.put(f, st)
      st
    }
  }

  /** One scan group as a relation planned from the commit log: a
    * [[LogFileIndex]] over the committed files (no glob, no listing,
    * no partition discovery) under a parquet [[HadoopFsRelation]].
    * Partition values are typed by the committed schema (`phys`); a dir
    * token the schema does not name (a derived transform column, or any
    * column of a log written before schemas were recorded) reads as a
    * string, identically in every group, so shape-group unions align.
    * Data and partition schemas split as `DataSource` splits a
    * user-specified schema: a partition column that is also a data
    * column (word_length) takes its value from the directory, and the
    * data schema reads nullable. */
  private def logScan(base: String, files: Seq[String],
      phys: Option[StructType]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningUtils}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.graftshim.DmlShim
    import org.apache.spark.sql.types.{StringType, StructField}
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def same(a: String, b: String) = if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val partSchema = StructType(dirTokens(base, files.head).map { case (k, _) =>
      phys.flatMap(_.fields.find(f => same(f.name, k)))
        .getOrElse(StructField(k, StringType))
    })
    val statuses = files.map(statusOf)
    val partitions = files.zip(statuses).groupBy { case (f, _) => parentDir(f) }
      .toSeq.sortBy(_._1).map { case (_, members) =>
        val values = dirTokens(base, members.head._1).zip(partSchema.fields).map {
          case ((_, raw), field) =>
            PartitioningUtils.castPartValueToDesiredType(field.dataType, raw, zone)
        }
        (org.apache.spark.sql.catalyst.InternalRow.fromSeq(values), members.map(_._2))
      }
    val format = new ParquetFileFormat
    val dataSchema = DmlShim.asNullable(phys match {
      case Some(s) =>
        StructType(s.fields.filterNot(f => partSchema.fields.exists(p => same(p.name, f.name))))
      case None => // a log written before schemas were recorded
        format.inferSchema(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Map.empty, statuses).getOrElse(new StructType())
    })
    val basePath = fs.makeQualified(if (base == root) rootPath else new Path(base))
    val relation = HadoopFsRelation(
      new LogFileIndex(Seq(basePath), partSchema, partitions),
      partSchema, dataSchema, None, format, Map.empty)(spark)
    DmlShim.ofRows(spark, LogicalRelation(relation, isStreaming = false))
  }

  // ---------------------------------------------------------------- write

  /** Append-commit (reference W4). Injects `partitionValues` as literal
    * string columns (W3), partitions by `partitionBy`, and atomically
    * commits data + `meta`. Empty input elides the data write (W6) but
    * still commits `meta` if present, matching the reference where the
    * watermark metadata is recorded even when handle_output short-circuits
    * (delta_io.py:85-86 vs assets/processed.py:62). */
  def append(df: DataFrame, partitionBy: Seq[String],
      partitionValues: Map[String, String] = Map.empty,
      meta: Map[String, String] = Map.empty,
      batchId: Option[Long] = None,
      appId: Option[String] = None,
      statMeta: Seq[StatMeta] = Nil,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Option[Commit] =
    write(df, "append", partitionBy, partitionValues, Map.empty, meta, batchId, appId,
      statMeta = statMeta, statsColumns = statsColumns, bloomColumns = bloomColumns,
      userWrite = true)

  /** Partition-scoped overwrite (reference W5 `replaceWhere`): replaces
    * exactly the live files whose path matches `partitionFilter`. */
  def replaceWhere(df: DataFrame, partitionBy: Seq[String],
      partitionValues: Map[String, String],
      partitionFilter: Map[String, String],
      meta: Map[String, String] = Map.empty,
      batchId: Option[Long] = None,
      appId: Option[String] = None,
      statMeta: Seq[StatMeta] = Nil,
      statsColumns: Seq[String] = Nil): Option[Commit] =
    write(df, "replace", partitionBy, partitionValues, partitionFilter, meta, batchId, appId,
      statMeta = statMeta, statsColumns = statsColumns, userWrite = true)

  /** Dynamic partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic` / Delta `replaceWhere`-per-touched-
    * partition, in ONE atomic commit): replaces exactly the physical
    * partitions the input writes to, leaving every other partition
    * untouched. The touched set derives from the staged files' hive
    * paths, so it is precisely "partitions present in df" — no caller-
    * supplied filter to get wrong, and a multi-partition micro-batch
    * (e.g. several streaming windows updated at once) replaces all of
    * them under one batchId, keeping the exactly-once replay guard sound
    * where a loop of per-partition replaceWhere commits would mark the
    * batch seen after the first partition. */
  def dynamicReplace(df: DataFrame, partitionBy: Seq[String],
      partitionValues: Map[String, String] = Map.empty,
      meta: Map[String, String] = Map.empty,
      batchId: Option[Long] = None,
      appId: Option[String] = None): Option[Commit] = {
    require(partitionBy.nonEmpty, "dynamicReplace needs partition columns")
    write(df, "replace", partitionBy, partitionValues, Map.empty, meta,
      batchId, appId, dynamic = true, userWrite = true)
  }

  // ------------------------------------------- write-audit-publish (X98)

  /** Stage an append under a WAP id (the Iceberg `wap.id`
    * write-audit-publish analog): the rows are fully written, routed,
    * and stat-harvested like a normal append, but the only record that
    * commits is an invisible `staged` one carrying the write's intent —
    * readers, streams, CDC, and CBO stats see NOTHING until
    * [[publishWap]]. Audit the would-be table with [[readWap]]; drop the
    * staging with [[abortWap]]. Staging again under the same id STACKS
    * (a multi-batch backfill audited and published as one atomic
    * commit). The training-data ingest contract: a risky crawl batch
    * lands, the quality/dedup audits run against the staged state, and
    * only a clean batch ever becomes visible. */
  def stageAppend(df: DataFrame, wapId: String,
      partitionBy: Seq[String] = Nil,
      partitionValues: Map[String, String] = Map.empty,
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Option[Commit] =
    write(df, "append", partitionBy, partitionValues, Map.empty, meta,
      None, None, statsColumns = statsColumns, bloomColumns = bloomColumns,
      userWrite = true, wapId = Some(wapId))

  /** Stage a partition-scoped overwrite under a WAP id. The REMOVAL set
    * is computed at PUBLISH time against the then-current live files, so
    * a scope that keeps moving (today's partition re-ingested while the
    * audit runs) is replaced exactly as of publish. */
  def stageReplaceWhere(df: DataFrame, wapId: String,
      partitionBy: Seq[String],
      partitionValues: Map[String, String],
      partitionFilter: Map[String, String],
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil): Option[Commit] =
    write(df, "replace", partitionBy, partitionValues, partitionFilter, meta,
      None, None, statsColumns = statsColumns,
      userWrite = true, wapId = Some(wapId))

  /** Pending (staged, neither published nor aborted) WAP entries. */
  def pendingWaps: Map[String, WapPayload] =
    metaChannel(IncrementalTable.WapPrefix).view
      .mapValues(Serialization.read[WapPayload](_)).toMap

  private def pendingWap(id: String): Option[WapPayload] =
    metaChannel(IncrementalTable.WapPrefix).get(id)
      .map(Serialization.read[WapPayload](_))

  /** The table AS IF the staged write were published now — the audit
    * frame, read under the stage-time merged schema (files written
    * before a staged-added column null-fill it, the evolution
    * contract). Replace scopes subtract at read time. Pure read: never
    * mutates the staging. */
  def readWap(id: String): DataFrame = {
    val p = pendingWap(id).getOrElse(
      throw new IllegalArgumentException(s"no pending wap '$id' on $root"))
    val schema = Some(StructType.fromDDL(p.schemaDdl))
    val survivors =
      if (p.action == "replace")
        liveFiles().filterNot(matchesPartition(_, p.partitionFilter))
      else liveFiles()
    // equality deletes (X104) apply to the BASE side only: staged adds
    // postdate every standing delete (they publish at a later version)
    withEqDel(survivors, None)(fs =>
      filesDf(fs, schema, liveDv(), columnMapping()))
      .unionByName(filesDf(p.add, schema, liveDv(), columnMapping()))
  }

  /** Publish a staged write: ONE atomic commit adopts the staged files
    * (and, for replace, removes the scope's then-current live files) and
    * tombstones the pending entry — O(metadata), no data moves or
    * rewrites. Conflict rules (the cherry-pick-conflict analog):
    *
    *  - the partition spec must not have evolved since stage (the
    *    staged files' routing would be stale);
    *  - replace scopes re-check spec uniformity and recompute their
    *    removal set at publish time;
    *  - NDV sketches re-union against the CURRENT channel (HLL unions
    *    commute — never a conflict);
    *  - identity / row-id mints can NEVER collide: the staging commit
    *    reserved its high-waters in the channel, so every later mint
    *    landed above the staged files' baked values.
    *
    * Crash-safe by construction: publish is a single commit, so a crash
    * before it leaves the wap pending and a crash after leaves it
    * published; re-publishing a published id fails loudly. */
  def publishWap(id: String): Commit = {
    val p = pendingWap(id).getOrElse(
      throw new IllegalArgumentException(s"no pending wap '$id' on $root"))
    // spec evolution since stage invalidates the staged files' routing
    // (X81's evolve-conflicts-with-everything rule, deferred): scan the
    // window from the earliest staging commit (stacked stagings — every
    // batch's routing must be current) for an evolve
    val key = IncrementalTable.WapPrefix + id
    val stagedVersion = wapAnchors(Set(id)).getOrElse(id,
      throw new IllegalStateException(
        s"pending wap '$id' has no staging record on $root"))
    if (deltasBetween(stagedVersion, latestVersion).exists(_.action == "evolve"))
      throw new ConcurrentWriteException(
        s"table $root: the partition spec evolved after wap '$id' was " +
          "staged — its files' routing is stale; abortWap and restage")
    val removed =
      if (p.action != "replace") Seq.empty[String]
      else {
        requireUniformSpec(p.partitionFilter.keys, "WAP publish of replaceWhere")
        p.add.foreach { f =>
          require(matchesPartition(f, p.partitionFilter),
            s"staged file '$f' falls outside the replace scope " +
              s"${p.partitionFilter} — refusing an unsound publish")
        }
        liveFiles(p.partitionFilter)
      }
    // ndv advances were unioned against the STAGE-time channel; a write
    // published in between would have its distincts silently dropped by
    // latest-value-wins — re-union against the current channel (the
    // commit() retry path re-unions again on a publish race, which is
    // idempotent for HLL)
    val metaOut = unionNdv(p.meta, latestMeta) + (key -> "")
    val schemaDdl =
      IncrementalTable.ddlOf(mergedSchema(StructType.fromDDL(p.schemaDdl)))
    if (p.add.isEmpty && removed.isEmpty) commitMeta(metaOut)
    else commit(Commit(0, p.action, p.add, removed, p.partitionFilter,
      p.partitionBy, schemaDdl, metaOut, None, now(),
      fileStats = p.fileStats))
  }

  /** Version of the EARLIEST staging commit of each given WAP id's open
    * cycle — a tombstone (publish/abort) closes a cycle, so a REUSED id
    * anchors at its newest cycle's first staging. Raw archived records,
    * never deleted, so the anchor is exact even past checkpoint folding;
    * O(history) driver JSON parse, the established audit-path cost. */
  private def wapAnchors(ids: Set[String]): Map[String, Long] = {
    val anchors = scala.collection.mutable.Map.empty[String, Long]
    archivedDeltas(latestVersion).foreach { c =>
      ids.foreach { id =>
        c.meta.get(IncrementalTable.WapPrefix + id) match {
          case Some(v) if v.isEmpty => anchors.remove(id)
          case Some(_) if c.action == "staged" && !anchors.contains(id) =>
            anchors(id) = c.version
          case _ => ()
        }
      }
    }
    anchors.toMap
  }

  /** Abort a staged write: tombstone the pending entry (one meta
    * commit), then best-effort delete the staged files — no published
    * commit ever referenced them, so a crash mid-delete just leaves
    * orphans for [[vacuum]]. Returns the dropped files. */
  def abortWap(id: String): Seq[String] = {
    val p = pendingWap(id).getOrElse(
      throw new IllegalArgumentException(s"no pending wap '$id' on $root"))
    commitMeta(Map(IncrementalTable.WapPrefix + id -> ""))
    p.add.foreach(f => fs.delete(new Path(rootPath, f), false))
    p.add
  }

  // ------------------------------------------------------------ branches

  /** Live branch refs: name → payload (X102, the Iceberg branch analog).
    * A branch is a named, writable fork of a pinned snapshot: writes to
    * it land as invisible `staged` commits that extend its chain, reads
    * of `branch:<name>` replay base + chain, and [[fastForward]]
    * publishes the whole chain onto main as ONE atomic commit — the
    * ingest-isolation contract WAP gives one write, generalized to a
    * multi-write line of development. */
  def branches: Map[String, BranchPayload] =
    metaChannel(IncrementalTable.BranchPrefix).view
      .mapValues(Serialization.read[BranchPayload](_)).toMap

  private def branchPayload(name: String): BranchPayload =
    metaChannel(IncrementalTable.BranchPrefix).get(name)
      .map(Serialization.read[BranchPayload](_))
      .getOrElse(throw new IllegalArgumentException(
        s"no branch '$name' on $root (branches: ${branches.keys.mkString(", ")})"))

  /** Fork a branch at `version` (default: head). Metadata-only commit. */
  def createBranch(name: String, version: Long = latestVersion): Commit = {
    require(name.nonEmpty && !name.forall(_.isDigit) && !name.contains(':'),
      s"branch name '$name' must be non-numeric and ':'-free")
    require(version >= 0 && version <= latestVersion,
      s"branch '$name' forks version $version outside [0, $latestVersion]")
    require(!branches.contains(name),
      s"branch '$name' already exists on $root — drop it first")
    val partsAt = snapshotAt(Some(version)).partitionBy
    commitMeta(Map(IncrementalTable.BranchPrefix + name ->
      Serialization.write(BranchPayload(version, partsAt, Nil))))
  }

  /** The branch head: the base snapshot stepped through the chain. */
  private def branchSnapshot(p: BranchPayload): Snapshot =
    p.commits.foldLeft(snapshotAt(Some(p.base))) { (s, c) =>
      s.step(Commit(p.base, c.action, c.add, c.remove, c.partitionFilter,
        p.partitionBy, c.schemaDdl, c.meta, None, 0L, fileStats = c.fileStats))
    }

  /** The branch's live file set, order-preserving, so replay is
    * deterministic. */
  private def branchLive(p: BranchPayload): Seq[String] = {
    val s = branchSnapshot(p)
    s.liveFiles(s.base.map(ckptLiveFiles).getOrElse(Nil))
  }

  /** The branch head's schema: the last chain commit's (stage-time
    * merged) schema, or the base snapshot's when the chain is empty. */
  private def branchSchema(p: BranchPayload): Option[StructType] =
    Some(branchSnapshot(p).schemaDdl).filter(_.nonEmpty).map(StructType.fromDDL)

  /** Read the branch head — base snapshot plus the branch's own writes,
    * blind to anything main committed after the fork. Deletion vectors
    * in force AT THE BASE still apply to surviving base files (branch
    * replaces drop their files' DVs with the files). Pure read. */
  def readBranch(name: String): DataFrame = {
    val p = branchPayload(name)
    val files = branchLive(p)
    val dv = liveDv(Some(p.base)).view.filterKeys(files.toSet).toMap
    // equality deletes in force AT THE BASE apply to surviving base
    // files; the chain's own adds postdate the fork and escape (X104)
    val baseSet = liveFiles(asOf = Some(p.base)).toSet
    val (baseFiles, chainAdds) = files.partition(baseSet)
    val schema = branchSchema(p)
    withEqDel(baseFiles, Some(p.base))(fs =>
      filesDf(fs, schema, dv, columnMapping(Some(p.base))))
      .unionByName(filesDf(chainAdds, schema, dv, columnMapping(Some(p.base))))
  }

  /** Fast-forward main to the branch head: ONE atomic commit adopts the
    * chain's net file delta (adds minus self-cancelled, base removals)
    * and tombstones the ref — O(metadata), no data moves. Requires main
    * NOT to have diverged: any data or spec commit after the fork fails
    * loudly (the Iceberg fast-forward ancestor rule; rebase = drop and
    * re-branch). Meta-only commits (tags, properties, other branches'
    * stagings) never block. The commit lands as a whole-table-scoped
    * `replace`, so the OCC conflict rule catches a data write racing
    * this very publish. */
  def fastForward(name: String): Commit = {
    val p = branchPayload(name)
    // pure-meta equality deletes (action "eqdelete": no add/remove/dv)
    // change the logical table exactly like a DV or copy-on-write
    // delete would, so they block fast-forward the same way — a chain
    // file publishing at a post-delete version would escape the delete
    // by version ordering and resurrect the deleted keys
    val diverged = deltasBetween(p.base, latestVersion).filter(c =>
      c.action == "evolve" ||
        c.add.nonEmpty || c.remove.nonEmpty || c.dv.nonEmpty ||
        c.meta.exists { case (k, v) =>
          k.startsWith(IncrementalTable.EqDelPrefix) && v.nonEmpty })
    if (diverged.nonEmpty)
      throw new ConcurrentWriteException(
        s"table $root: main diverged from branch '$name' (base v${p.base}) — " +
          s"${diverged.map(c => s"${c.action} v${c.version}").mkString(", ")}; " +
          "drop the branch and re-fork to rebase")
    val baseLive = liveFiles(asOf = Some(p.base)).toSet
    val headLive = branchLive(p)
    val adds = headLive.filterNot(baseLive)
    val removes = (baseLive -- headLive).toSeq
    // ndv/ advances were deferred in the chain (stats must not count
    // unpublished rows) and were unioned against fork-time channels —
    // re-union against the CURRENT channel at publish (same rule as
    // publishWap; HLL unions commute, the retry path re-unions again)
    val foldedMeta = p.commits.foldLeft(Map.empty[String, String]) {
      (acc, c) => acc ++ unionNdv(c.meta, k => acc.get(k).orElse(latestMeta(k)))
    }
    val tombstone = IncrementalTable.BranchPrefix + name -> ""
    if (adds.isEmpty && removes.isEmpty)
      return commitMeta(foldedMeta + tombstone)
    val schemaDdl = IncrementalTable.ddlOf(
      mergedSchema(branchSchema(p).getOrElse(new StructType())))
    val addSet = adds.toSet
    val stats = p.commits.flatMap(_.fileStats).filter(kv => addSet(kv._1)).toMap
    commit(Commit(0, "replace", adds, removes, Map.empty, p.partitionBy,
      schemaDdl, foldedMeta + tombstone, None, now(), fileStats = stats))
  }

  /** Drop a branch: tombstone the ref (one meta commit), then
    * best-effort delete the chain's added files — no published commit
    * ever referenced them, so a crash mid-delete just leaves orphans
    * for [[vacuum]]. Returns the dropped files. */
  def dropBranch(name: String): Seq[String] = {
    val p = branchPayload(name)
    commitMeta(Map(IncrementalTable.BranchPrefix + name -> ""))
    val files = p.commits.flatMap(_.add).distinct
    files.foreach(f => fs.delete(new Path(rootPath, f), false))
    files
  }

  /** Append to a branch: files are written, routed, and stat-harvested
    * like a normal append, but the only record that commits is an
    * invisible `staged` one extending the branch chain. */
  def appendBranch(df: DataFrame, branch: String,
      partitionBy: Seq[String] = Nil,
      partitionValues: Map[String, String] = Map.empty,
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Option[Commit] =
    write(df, "append", partitionBy, partitionValues, Map.empty, meta,
      None, None, statsColumns = statsColumns, bloomColumns = bloomColumns,
      userWrite = true, branch = Some(branch))

  /** Partition-scoped overwrite ON the branch: the removal set is
    * resolved NOW against the branch's own live set (base survivors
    * plus earlier chain adds), so the chain replays deterministically
    * no matter what main does before fast-forward. */
  def replaceWhereBranch(df: DataFrame, branch: String,
      partitionBy: Seq[String],
      partitionValues: Map[String, String],
      partitionFilter: Map[String, String],
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil): Option[Commit] =
    write(df, "replace", partitionBy, partitionValues, partitionFilter, meta,
      None, None, statsColumns = statsColumns,
      userWrite = true, branch = Some(branch))

  // ------------------------------------------------------- equality deletes

  /** Equality deletes in force (X104), sorted by base version then gen
    * — the read path's application order. Each entry: gen →
    * (baseVersion, PHYSICAL key columns). */
  def eqDeletes(asOf: Option[Long] = None): Seq[(String, EqDelPayload)] =
    snapshotAt(asOf).eqDeletes

  /** MERGE-ON-READ delete by KEY (X104, the Iceberg v2 equality-delete
    * analog — the missing piece between copy-on-write [[deleteInsert]]
    * and position-based [[deleteVectorized]]): ONE small job writes the
    * distinct key tuples as a sidecar parquet and ONE metadata commit
    * puts the delete in force — no table scan, no touched-file
    * detection, no rewrite. The write cost is O(keys) at ANY table
    * size, which is what a high-rate streaming upsert/retraction sink
    * needs: the scan-and-rewrite moves to the readers (an anti-join
    * per standing delete — the documented MOR read tax) and to the next
    * compaction, which applies deletes physically and retires them.
    *
    * Semantics: the delete applies to rows of files added AT OR BEFORE
    * the current version (the snapshot it was computed against); later
    * appends escape by version ordering, so delete-then-append IS an
    * upsert. SQL NULL never matches a key (join semantics) — a null
    * key tuple deletes nothing. Restore re-adds files at the restore
    * version, so restoring to a pre-delete snapshot revives its rows —
    * exactly what time travel promises.
    *
    * Concurrency: conflicts with intervening rewrites both ways (a
    * rewrite moves rows into post-delete files where they would
    * escape; see [[conflicts]]); appends and position deletes compose
    * without conflict. */
  def deleteByKey(keys: DataFrame, cols: Seq[String],
      meta: Map[String, String] = Map.empty): Option[Commit] = {
    require(exists, s"deleteByKey target $root does not exist")
    require(cols.nonEmpty, "deleteByKey needs key columns")
    val stored = committedSchemaAt().getOrElse(
      throw new IllegalArgumentException(
        s"deleteByKey target $root has no committed schema"))
    cols.foreach(c => require(stored.fieldNames.contains(c),
      s"deleteByKey key '$c' is not a column of $root " +
        s"(${stored.fieldNames.mkString(", ")})"))
    val fn = org.apache.spark.sql.functions.col _
    val mapping = columnMapping()
    val phys = cols.map(c => physPath(c, mapping))
    val dk = keys.select(cols.map(fn): _*).toDF(phys: _*).distinct()
    if (dk.isEmpty) return None // W6 elision: nothing to put in force
    val gen = UUID.randomUUID().toString
    writeEqDelSidecar(dk, gen)
    val base = latestVersion
    val prevSchema = snapshot.schemaDdl
    // a lost OCC race throws to the caller (the base version must be
    // re-read); the written sidecar is then an unreferenced dir that
    // vacuum() reclaims
    val c = commit(Commit(0, "eqdelete", Nil, Nil, Map.empty,
      committedPartitionBy, prevSchema,
      meta + (IncrementalTable.EqDelPrefix + gen ->
        Serialization.write(EqDelPayload(base, phys))),
      None, now()))
    maybeAutoApplyEqDeletes()
    Some(c)
  }

  /** Atomic MOR UPSERT (X105): ONE commit puts the batch's distinct
    * key tuples in force as an equality delete AND appends the batch —
    * the old versions of every key vanish, the new rows land, nothing
    * is scanned or rewritten, and the whole thing rides one `batchId`
    * replay guard. This is the exactly-once streaming CDC-upsert sink
    * shape: a crashed epoch either committed (replayed batch elides)
    * or left orphans (vacuumed); there is no window where the delete
    * landed without its inserts. Keys must not be partition columns
    * (their values are dir-encoded, not in the staged bytes). */
  def upsertByKey(df: DataFrame, keys: Seq[String],
      partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty,
      batchId: Option[Long] = None, appId: Option[String] = None,
      statsColumns: Seq[String] = Nil): Option[Commit] = {
    require(keys.nonEmpty, "upsertByKey needs key columns")
    val c = write(df, "append", partitionBy, Map.empty, Map.empty, meta,
      batchId, appId, statsColumns = statsColumns, userWrite = true,
      eqDeleteKeys = keys)
    if (c.isDefined) maybeAutoApplyEqDeletes()
    c
  }

  /** Materialize every standing equality delete into the files it
    * covers (the MOR→COW maintenance step): rewrite EXACTLY the
    * covered file groups through the write choke point — the rewrite
    * read applies the deletes (and any DV positions), `removeExact`
    * swaps precisely those files — then retire the now-inert entries
    * with one metadata tombstone. Cost scales with the covered file
    * set, never table size; uncovered (post-delete) files keep their
    * identity and their data-skipping stats. This is what bounds the
    * per-read anti-join chain: after apply, readers pay zero. */
  def applyEqDeletes(statsColumns: Seq[String] = Nil): Seq[Commit] = {
    require(exists, s"applyEqDeletes target $root does not exist")
    val eq = eqDeletes()
    if (eq.isEmpty) return Nil
    val covered = eqDelGroups(liveFiles(), eq, latestVersion)
      .filter { case (app, fls) => app.nonEmpty && fls.nonEmpty }
    val rewrites = covered.flatMap { case (_, inFiles) =>
      write(withEqDel(inFiles, None)(f =>
          filesDf(f, committedSchemaAt(), liveDv(), columnMapping(),
            keepRowId = rowTracked)), "replace",
        committedPartitionBy, Map.empty, Map.empty, Map.empty, None,
        statsColumns = statsColumns, removeExact = Some(inFiles))
    }
    rewrites ++ retireInertEqDeletes().toSeq
  }

  /** Tombstone equality-delete entries no live file predates — inert
    * at head, so readers stop paying their anti-join. The sidecar dir
    * itself reclaims in a later [[vacuum]] once the entry also leaves
    * the replay window, CDC retention, and every tagged snapshot. */
  def retireInertEqDeletes(): Option[Commit] = {
    val eqNow = eqDeletes()
    if (eqNow.isEmpty) return None
    val applied = eqDelGroups(liveFiles(), eqNow, latestVersion)
      .flatMap { case (app, fls) => if (fls.nonEmpty) app.map(_._1) else Nil }
      .toSet
    val inert = eqNow.map(_._1).filterNot(applied)
    if (inert.isEmpty) None
    else Some(commitMeta(
      inert.map(g => IncrementalTable.EqDelPrefix + g -> "").toMap))
  }

  /** Standing-delete ceiling (`graft.eqdel.maxStanding`, the
    * `graft.autoCompact` analog for the MOR read tax): when a
    * key-delete/upsert commit leaves MORE than N entries in force, the
    * table auto-runs [[applyEqDeletes]] — so the per-read anti-join
    * chain (one join per key-col-set × version-class) is bounded by
    * construction, not by operator discipline. Unset = never. */
  private def maybeAutoApplyEqDeletes(): Unit =
    tableProperties.get("graft.eqdel.maxStanding").map(_.toInt).foreach { n =>
      if (eqDeletes().size > n) applyEqDeletes()
    }

  /** Split `files` into groups by the SUFFIX of [[eqDeletes]] that
    * applies to them. Applicability is by version ordering — a file
    * added after a delete's base version escapes it — and the
    * added-after sets are computed from the archived delta records
    * (never deleted, so exact past any checkpoint folding). Because
    * the sets nest, there are at most |deletes|+1 groups. */
  private[table] def eqDelGroups(files: Seq[String],
      eq: Seq[(String, EqDelPayload)],
      head: Long): Seq[(Seq[(String, EqDelPayload)], Seq[String])] = {
    if (eq.isEmpty || files.isEmpty) return Seq((Nil, files))
    // own-commit rule (gated by coverOwnCommit): files added by the
    // very commit that RE-issued an entry with the flag set are COVERED
    // by it — what lets restore() re-add a snapshot's files and
    // re-issue its in-force deletes atomically. The exemption is scoped
    // to commits whose OWN carried payload has the flag (only restore
    // writes coverOwnCommit=true) — never to the original issuing
    // commit: an atomic MOR upsert (X105) carries the same gen with the
    // flag false, and its adds are the NEW versions of the deleted keys,
    // which must escape like any later append even after a later
    // restore re-issues the gen flagged.
    val window = deltasBetween(
      eq.iterator.map(_._2.baseVersion).min, head)
    val newer: Seq[Set[String]] = eq.map { case (gen, p) =>
      window.iterator
        .filter(c => c.version > p.baseVersion &&
          !c.meta.get(IncrementalTable.EqDelPrefix + gen).exists(v =>
            v.nonEmpty && Serialization.read[EqDelPayload](v).coverOwnCommit))
        .flatMap(_.add).toSet
    }
    files.groupBy { f =>
      val i = newer.indexWhere(s => !s.contains(f))
      if (i == -1) eq.length else i
    }.toSeq.sortBy(_._1).map { case (g, fs) => (eq.drop(g), fs) }
  }

  /** Write an equality-delete key sidecar WITHOUT forcing one file:
    * the `distinct()` upstream already shuffled, so AQE's size-based
    * partition coalescing shards the output by bytes — a point delete
    * still lands one small file, while a GDPR- or CDC-scale key set
    * (10⁷-10⁸ tuples) fans out across advisory-sized shards instead of
    * funnelling through a single writer task. */
  private def writeEqDelSidecar(dk: DataFrame, gen: String): Unit =
    dk.write.parquet(
      new Path(rootPath, s"${IncrementalTable.EqDelDir}/$gen").toString)

  // sidecar dirs are immutable once committed, so their on-disk size —
  // the input to the broadcast-vs-shuffle choice below — caches forever
  private val eqDelSizeCache = scala.collection.mutable.Map.empty[String, Long]
  private def eqDelSidecarBytes(gen: String): Long =
    eqDelSizeCache.getOrElseUpdate(gen,
      fs.getContentSummary(new Path(rootPath,
        s"${IncrementalTable.EqDelDir}/$gen")).getLength)

  /** Byte bound under which a standing delete's key set is broadcast
    * into the read's anti-join (`graft.eqdel.broadcastBytes` table
    * property, `spark.graft.eqdel.broadcastBytes` session fallback;
    * <= 0 disables forced broadcast). Parquet bytes understate the
    * in-memory hash relation, so the default stays well inside
    * driver/executor headroom. */
  private def eqDelBroadcastBound: Long =
    tableProperties.get("graft.eqdel.broadcastBytes")
      .orElse(spark.conf.getOption("spark.graft.eqdel.broadcastBytes"))
      .map(_.toLong).getOrElse(32L << 20)

  /** [[eqDelKeys]] with the size-governed build side every key join in
    * the library routes through: broadcast under [[eqDelBroadcastBound]]
    * (the point-delete/CDC common case — data side never shuffles),
    * unhinted above it (the GDPR-scale key set — Catalyst/AQE shuffles
    * both sides; forcing a broadcast would OOM the driver). */
  private def eqDelKeysGoverned(gens: Seq[String], physCols: Seq[String],
      mapping: Map[String, String]): DataFrame = {
    val keys = eqDelKeys(gens, physCols, mapping)
    val bound = eqDelBroadcastBound
    if (bound > 0 && gens.iterator.map(eqDelSidecarBytes).sum <= bound)
      org.apache.spark.sql.functions.broadcast(keys)
    else keys
  }

  /** The sidecar key tuples of `gens`, projected to LOGICAL names. */
  private def eqDelKeys(gens: Seq[String], physCols: Seq[String],
      mapping: Map[String, String]): DataFrame = {
    val fn = org.apache.spark.sql.functions.col _
    val inv = mapping.map(_.swap)
    spark.read.parquet(gens.map(g =>
        new Path(rootPath, s"${IncrementalTable.EqDelDir}/$g").toString): _*)
      .select(physCols.map(fn): _*)
      .toDF(physCols.map(c => inv.getOrElse(c, c)): _*)
      .distinct()
  }

  /** Apply the given equality deletes to a frame-per-file-group read:
    * `mk` builds the (logical-schema) frame for a file subset; each
    * group anti-joins the key sets that apply to it. The build side is
    * SIZE-GOVERNED by the sidecar's on-disk bytes (known without a
    * job): under [[eqDelBroadcastBound]] the key set broadcasts and
    * the data side never shuffles — the common point-delete/CDC case;
    * above it (a GDPR-scale key set that would OOM the driver) the
    * anti-join goes through Catalyst unhinted, which shuffles both
    * sides on the key — the only shape that scales to 10⁸ keys. The
    * choke point [[readInternal]]/[[readFiles]] and every DML rewrite
    * route through this, so deleted rows can neither be read nor
    * resurrected by a rewrite. */
  private def withEqDel(files: Seq[String], asOf: Option[Long],
      eqOverride: Option[(Seq[(String, EqDelPayload)], Long)] = None,
      mappingOverride: Option[Map[String, String]] = None)(
      mk: Seq[String] => DataFrame): DataFrame = {
    val (eq, head) = eqOverride.getOrElse(
      (eqDeletes(asOf), asOf.getOrElse(latestVersion)))
    if (eq.isEmpty) return mk(files)
    val mapping = mappingOverride.getOrElse(columnMapping(asOf))
    eqDelGroups(files, eq, head).map { case (applicable, fs) =>
      applicable.groupBy(_._2.cols).toSeq.sortBy(_._1.mkString(","))
        .foldLeft(mk(fs)) { case (df, (physCols, dels)) =>
          val keys = eqDelKeysGoverned(dels.map(_._1), physCols, mapping)
          df.join(keys, keys.columns.toIndexedSeq, "left_anti")
        }
    }.reduce(_.unionByName(_))
  }

  /** Delta-style MERGE (upsert), copy-on-write at file granularity:
    * a `source` row whose `keys` match an existing row REPLACES that
    * whole row; unmatched source rows are INSERTED. Only data files
    * that actually contain a matched key are rewritten — at 100 TB the
    * cost of an upsert is proportional to the files it touches (a
    * handful, on a table clustered by the merge key), never to table
    * size, and untouched files keep their identity (and their
    * data-skipping stats) across the commit.
    *
    * Plan shape: one semi-join from the table (with its `_metadata`
    * file paths) against the distinct source keys finds the touched
    * file set; the rewrite reads ONLY those files, anti-joins the
    * matched keys out, and unions the full source back in. Both joins
    * key on `keys`, so AQE broadcasts the (typically small) source.
    * The commit removes exactly the touched files — concurrent writers
    * to other partitions commute under OCC; a racing writer in a
    * touched partition fails one side cleanly.
    *
    * `source` must contain every table column (including partition
    * columns — a matched row may move partitions). Sources with
    * duplicate keys are rejected: the merged row would be
    * order-dependent. `source` is evaluated more than once — pass a
    * cached/checkpointed frame if it is expensive.
    *
    * `meta`/`batchId`/`appId` ride the merge commit atomically, giving
    * streaming upserts the same exactly-once replay guard as append:
    * a seen (appId, batchId) short-circuits BEFORE any plan runs, so a
    * crash replay costs a log read, not a recompute. */
  def merge(source: DataFrame, keys: Seq[String],
      statsColumns: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty,
      batchId: Option[Long] = None,
      appId: Option[String] = None,
      evolveSchema: Boolean = false): Option[Commit] = {
    require(keys.nonEmpty, "merge needs key columns")
    require(exists, s"merge target $root does not exist — seed it with append()")
    if (batchId.exists(b => hasBatch(b, appId))) return None // idempotent replay
    val fn = org.apache.spark.sql.functions.col _
    val stored = committedSchema
    stored.fieldNames.foreach(c => require(source.columns.contains(c),
      s"merge source lacks table column '$c'"))
    // MERGE WITH SCHEMA EVOLUTION: source-only columns ride the
    // rewrite (kept rows null-fill) and the write path's add-column
    // evolution commits the widened schema ATOMICALLY with the data —
    // one commit, untouched files read the new columns as null. Drop
    // tombstones still apply (mergedSchema refuses resurfaced names).
    val extraCols =
      if (evolveSchema) source.columns.toSeq.filterNot(stored.fieldNames.contains)
      else Nil
    // the source evaluates several times (dup guard, semi-join, anti
    // side of the rewrite, the rewrite union); materialize it ONCE —
    // the same source-materialization Delta's merge performs — so an
    // expensive or non-deterministic source costs one evaluation and
    // cannot diverge between them
    val src = source.select((stored.fieldNames.toSeq ++ extraCols).map(fn): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partitionBy = committedPartitionBy

      // null-keyed source rows are excluded from the duplicate probe:
      // per SQL MERGE a NULL key never matches any target row, so two
      // such rows are both legal NOT MATCHED inserts, never an
      // order-dependent update (ADVICE r7)
      val dupKeys = src
        .filter(keys.map(fn(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(fn): _*).count()
        .filter(fn("count") > 1).limit(1).count()
      require(dupKeys == 0,
        s"merge source has duplicate keys on (${keys.mkString(", ")}) — merged rows would be order-dependent")

      // an empty live set degrades to a pure insert (read() there is a
      // LocalRelation: no _metadata to path-match on) — same projection
      // as the rewrite path, like deleteInsert's degrade
      val files = liveFiles()
      if (files.isEmpty)
        return append(src, partitionBy, meta = meta, batchId = batchId,
          appId = appId, statsColumns = statsColumns)

      // touched files: live rows matching a source key, by _metadata path
      val srcKeys = src.select(keys.map(fn): _*).distinct()
      val touched = filesDf(files, Some(stored), liveDv(), columnMapping(),
          keepPath = true)
        .join(srcKeys, keys, "left_semi")
        .select("_graft_path").distinct()
        .collect().map(r => relativizeUri(rootPath, r.getString(0))).toSeq

      if (touched.isEmpty)
        append(src, partitionBy, meta = meta, batchId = batchId, appId = appId,
          statsColumns = statsColumns) // pure insert
      else {
        // row tracking (X87): kept rows carry their ids; a source row
        // REPLACING a matched target row inherits that row's id (min
        // id when target keys duplicate — all matching rows collapse
        // into the one replacement), so CDC pairs the upsert into
        // update_preimage/postimage; unmatched inserts mint fresh
        val tracked = rowTracked
        val keptAll = withEqDel(touched, None)(fs =>
          filesDf(fs, Some(stored), liveDv(), columnMapping(),
            keepRowId = tracked))
        val kept = keptAll.join(src, keys.toSeq, "left_anti")
        val srcRid =
          if (!tracked) src
          else src.join(
            keptAll.groupBy(keys.map(fn): _*).agg(
              org.apache.spark.sql.functions.min(fn(IncrementalTable.RowIdCol))
                .as(IncrementalTable.RowIdCol)),
            keys.toSeq, "left")
        val rewritten = kept.unionByName(srcRid,
          allowMissingColumns = extraCols.nonEmpty || tracked)
        write(rewritten, "replace", partitionBy, Map.empty, Map.empty, meta,
          batchId, appId, statsColumns = statsColumns, removeExact = Some(touched))
      }
    } finally { src.unpersist(); () }
  }

  /** General SQL MERGE — conditional `WHEN MATCHED [AND c] THEN
    * UPDATE/DELETE`, `WHEN NOT MATCHED [AND c] THEN INSERT`, and
    * `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE/DELETE` clause
    * lists, all applied in ONE atomic copy-on-write commit (the X11
    * upsert generalized; [[merge]] stays the fast path for the
    * canonical full-row shape).
    *
    * Semantics follow SQL MERGE: clause conditions evaluate against
    * the ORIGINAL target state, in clause order, first-true-wins; a
    * NULL condition does not fire; NULL join keys never match (so
    * such source rows are NOT MATCHED, such target rows are NOT
    * MATCHED BY SOURCE). With matched clauses present, a source with
    * duplicate keys is rejected (the applied clause would be
    * order-dependent); insert-only merges legally keep duplicates.
    *
    * Expression convention (what [[graft.sources.GraftDmlRule]]
    * emits): conditions and assignment values reference TARGET
    * columns by plain name and SOURCE columns as
    * `[[IncrementalTable.mergeSourcePrefix]]<name>` — the join stages
    * source columns under that prefix so same-named columns never
    * collide. NOT MATCHED BY SOURCE conditions reference target
    * columns only; they prune the candidate file set through the
    * data-skipping index when every clause is conditioned (an
    * unconditioned NMBS clause legitimately touches every live file).
    *
    * Scale shape: touched files = (key-semi-join survivors for
    * matched clauses) ∪ (index-pruned NMBS candidates); only those
    * rewrite, via ONE left join against the prefixed source (AQE
    * broadcasts a small source) with per-column first-true CASE
    * chains — everything stays in the write scan, nothing collects.
    * `source` is evaluated several times — cache it if expensive. */
  def mergeInto(source: DataFrame, keys: Seq[String],
      matched: Seq[IncrementalTable.WhenClause],
      notMatched: Seq[IncrementalTable.WhenClause],
      notMatchedBySource: Seq[IncrementalTable.WhenClause],
      statsColumns: Seq[String] = Nil,
      // MERGE WITH SCHEMA EVOLUTION beyond the canonical upsert (X74):
      // `evolve` names columns the clauses ASSIGN that the target lacks
      // — each becomes a new nullable column whose value is the fired
      // clause's assignment (null when no clause assigns it), with the
      // schema widening riding the SAME commit as the data (write-path
      // add-column evolution). Clause CONDITIONS and assignment VALUES
      // must not read an evolving column from the TARGET side (it has
      // no pre-merge value) — the SQL rule rejects those shapes.
      evolve: Seq[String] = Nil): Option[Commit] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}
    import IncrementalTable.{WhenClause, mergeSourcePrefix}
    require(keys.nonEmpty, "merge needs key columns")
    require(exists, s"merge target $root does not exist — seed it with append()")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    notMatched.foreach(c => require(c.set.isDefined,
      "WHEN NOT MATCHED clauses must INSERT"))
    val stored = committedSchema
    val partitionBy = committedPartitionBy
    (stored.fieldNames ++ source.columns).foreach(c =>
      require(!c.startsWith("_graft_"),
        s"column '$c' collides with merge staging names"))
    evolve.foreach(k => require(!stored.fieldNames.contains(k),
      s"evolved column '$k' already exists"))
    evolve.foreach(k => require(
      (matched ++ notMatched ++ notMatchedBySource)
        .flatMap(_.set).flatten.exists(_._1 == k),
      s"evolved column '$k' is assigned by no clause — its type would be " +
        "undefined (void columns cannot be written)"))
    (matched ++ notMatched ++ notMatchedBySource).flatMap(_.set).flatten
      .foreach { case (k, _) => require(
        stored.fieldNames.contains(k) || evolve.contains(k),
        s"merge assigns unknown column '$k'") }
    keys.foreach(k => require(source.columns.contains(k),
      s"merge source lacks key column '$k'"))
    // the source evaluates several times (dup guard, touched semi-join,
    // insert anti-join, rewrite join); materialize it ONCE — the same
    // source-materialization Delta's merge performs — so an expensive
    // or non-deterministic source costs one evaluation and cannot
    // diverge between clause evaluations
    source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    if (matched.nonEmpty) {
      // null-keyed source rows never match any target row (SQL MERGE),
      // so they cannot make the applied clause order-dependent — they
      // are excluded from the duplicate probe (ADVICE r7)
      val dup = source
        .filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0, s"merge source has duplicate keys on " +
        s"(${keys.mkString(", ")}) — the applied clause would be order-dependent")
    }

    val srcR = source.select(source.columns.toIndexedSeq
        .map(c => col(c).as(s"$mergeSourcePrefix$c")): _*)
      .withColumn("_graft_m", lit(true))
    // first clause (in order) whose guard holds, else -1; a NULL
    // condition falls through to the next clause per SQL
    def fate(clauses: Seq[WhenClause], base: Column): Column =
      clauses.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), rest) =>
        when(base && coalesce(cl.cond.getOrElse(lit(true)), lit(false)), lit(i))
          .otherwise(rest)
      }

    // ---- touched live files ------------------------------------------
    val files = liveFiles()
    val matchedTouched: Seq[String] =
      if (matched.isEmpty || files.isEmpty) Nil
      else {
        val srcKeys = source.select(keys.map(col): _*).distinct()
        filesDf(files, Some(stored), liveDv(), columnMapping(),
            keepPath = true)
          .join(srcKeys, keys, "left_semi")
          .select("_graft_path").distinct()
          .collect().map(r => relativizeUri(rootPath, r.getString(0))).toSeq
      }
    val nmbsTouched: Seq[String] =
      if (notMatchedBySource.isEmpty || files.isEmpty) Nil
      else {
        val conds = notMatchedBySource.map(_.cond)
        if (conds.contains(None)) files
        else liveFilesWhere(conds.flatten.reduce(_ || _))
      }
    val touched = (matchedTouched ++ nmbsTouched).distinct

    // ---- INSERT rows: source rows with no key match in the ORIGINAL
    // target, routed through the first applicable NOT MATCHED clause
    val insertsFrame: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val tgtKeys = read().select(keys.map(col): _*)
        val unmatched = srcR.join(tgtKeys,
          keys.map(k => col(s"$mergeSourcePrefix$k") === col(k)).reduce(_ && _),
          "left_anti")
        val withF = unmatched.withColumn("_graft_if", fate(notMatched, lit(true)))
          .filter(col("_graft_if") >= 0)
        Some(withF.select(stored.fields.toIndexedSeq.map { f =>
          notMatched.zipWithIndex
            .collect { case (WhenClause(_, Some(set)), i) =>
              (col("_graft_if") === i) ->
                set.collectFirst { case (k, v) if k == f.name => v } }
            .foldRight(lit(null).cast(f.dataType): Column) { case ((c, vOpt), rest) =>
              when(c, vOpt.map(_.cast(f.dataType))
                .getOrElse(lit(null).cast(f.dataType))).otherwise(rest)
            }.as(f.name)
        } ++ evolve.toIndexedSeq.map { k =>
          // evolved column: the fired clause's assignment, else null;
          // the type flows from the assignment expressions
          notMatched.zipWithIndex
            .collect { case (WhenClause(_, Some(set)), i)
                if set.exists(_._1 == k) =>
              (col("_graft_if") === i) ->
                set.collectFirst { case (n, v) if n == k => v }.get }
            .foldRight(lit(null): Column) { case ((c, v), rest) =>
              when(c, v).otherwise(rest)
            }.as(k)
        }: _*))
      }

    // ---- rewrite of touched files ------------------------------------
    // row tracking (X87): kept/updated target rows carry their ids
    // through the CASE rewrite (updates pair in CDC); inserts mint
    val tracked = rowTracked
    val ridExtra = if (tracked) Seq(col(IncrementalTable.RowIdCol)) else Nil
    val rewritten: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        val tRows = withEqDel(touched, None)(fs =>
          filesDf(fs, Some(stored), liveDv(), columnMapping(),
            keepRowId = tracked))
        // without matched clauses the join exists ONLY to compute the
        // matched marker — join distinct KEYS, not the full source: a
        // duplicate-keyed source (legal when no matched clause consumes
        // it) must not fan matched target rows out into duplicates
        val joinSrc =
          if (matched.nonEmpty) srcR
          else srcR
            .select(keys.toIndexedSeq.map(k => col(s"$mergeSourcePrefix$k")): _*)
            .distinct()
            .withColumn("_graft_m", lit(true))
        val joined = tRows.join(joinSrc,
          keys.map(k => col(k) === col(s"$mergeSourcePrefix$k")).reduce(_ && _),
          "left")
        val m = coalesce(col("_graft_m"), lit(false))
        val st = joined
          .withColumn("_graft_mf", fate(matched, m))
          .withColumn("_graft_nf", fate(notMatchedBySource, not(m)))
        val delCond = (matched.zipWithIndex
            .collect { case (WhenClause(_, None), i) => col("_graft_mf") === i } ++
          notMatchedBySource.zipWithIndex
            .collect { case (WhenClause(_, None), i) => col("_graft_nf") === i })
          .reduceOption(_ || _).getOrElse(lit(false))
        Some(st.filter(not(delCond)).select(stored.fields.toIndexedSeq.map { f =>
          val setters = matched.zipWithIndex.collect {
              case (WhenClause(_, Some(set)), i) if set.exists(_._1 == f.name) =>
                (col("_graft_mf") === i) ->
                  set.collectFirst { case (k, v) if k == f.name => v }.get } ++
            notMatchedBySource.zipWithIndex.collect {
              case (WhenClause(_, Some(set)), i) if set.exists(_._1 == f.name) =>
                (col("_graft_nf") === i) ->
                  set.collectFirst { case (k, v) if k == f.name => v }.get }
          setters.foldRight(col(f.name)) { case ((c, v), rest) =>
            when(c, v.cast(f.dataType)).otherwise(rest)
          }.as(f.name)
        } ++ evolve.toIndexedSeq.map { k =>
          // a kept (or unassigned) target row has no pre-merge value
          // for an evolving column: null, the add-column contract
          val setters = matched.zipWithIndex.collect {
              case (WhenClause(_, Some(set)), i) if set.exists(_._1 == k) =>
                (col("_graft_mf") === i) ->
                  set.collectFirst { case (n, v) if n == k => v }.get } ++
            notMatchedBySource.zipWithIndex.collect {
              case (WhenClause(_, Some(set)), i) if set.exists(_._1 == k) =>
                (col("_graft_nf") === i) ->
                  set.collectFirst { case (n, v) if n == k => v }.get }
          setters.foldRight(lit(null): Column) { case ((c, v), rest) =>
            when(c, v).otherwise(rest)
          }.as(k)
        } ++ ridExtra: _*))
      }

    (rewritten, insertsFrame) match {
      case (None, None) => None // no touched files, no insert clauses
      case (None, Some(ins)) =>
        append(ins, partitionBy, statsColumns = statsColumns)
      case (Some(rw), ins) =>
        val out = ins.fold(rw)(rw.unionByName(_, allowMissingColumns = tracked))
        write(out, "replace", partitionBy, Map.empty, Map.empty, Map.empty,
          None, statsColumns = statsColumns, removeExact = Some(touched))
    }
    } finally { source.unpersist(); () }
  }

  /** Row-level DELETE, copy-on-write at file granularity: files with
    * no matching row keep their identity (and data-skipping stats);
    * files where EVERY row matches are dropped without a rewrite (the
    * rewrite frame simply stages nothing for them); mixed files are
    * rewritten without the matching rows. The candidate file set is
    * pruned by the commit log's [min,max] index first, so a clustered
    * delete touches the files the predicate can reach, not the table. */
  def delete(predicate: Column,
      statsColumns: Seq[String] = Nil): Option[Commit] = {
    require(exists, s"delete target $root does not exist")
    val fn = org.apache.spark.sql.functions.col _
    val stored = committedSchema
    val partitionBy = committedPartitionBy
    // an empty live set has nothing to delete — and its read() is a
    // LocalRelation with no `_metadata` to path-match on
    val candidates = liveFilesWhere(predicate)
    if (candidates.isEmpty) return None
    val touched = filesDf(candidates, Some(stored), liveDv(), columnMapping(),
        keepPath = true)
      .filter(predicate)
      .select("_graft_path").distinct()
      .collect().map(r => relativizeUri(rootPath, r.getString(0))).toSeq
    if (touched.isEmpty) None
    else {
      // SQL DELETE semantics: rows where the predicate is NULL are NOT
      // deleted — keep everything whose predicate is not strictly TRUE.
      // Row-tracked tables carry each kept row's stable id (X87).
      val kept = withEqDel(touched, None)(fs =>
          filesDf(fs, Some(stored), liveDv(), columnMapping(),
            keepRowId = rowTracked))
        .filter(!org.apache.spark.sql.functions.coalesce(predicate,
          org.apache.spark.sql.functions.lit(false)))
      write(kept, "replace", partitionBy, Map.empty, Map.empty, Map.empty,
        None, removeExact = Some(touched), statsColumns = statsColumns)
    }
  }

  /** Row-level UPDATE (`set` maps column name → new value for rows
    * matching `predicate`), copy-on-write like [[delete]]: only files
    * holding a matching row are rewritten; a row may move partitions
    * if `set` touches a partition column (the rewrite re-partitions). */
  def update(predicate: Column, set: Map[String, Column],
      statsColumns: Seq[String] = Nil): Option[Commit] = {
    require(exists, s"update target $root does not exist")
    require(set.nonEmpty, "update needs set expressions")
    val fn = org.apache.spark.sql.functions.col _
    val stored = committedSchema
    set.keys.foreach(k => require(stored.fieldNames.contains(k),
      s"update sets unknown column '$k'"))
    refuseIdentitySet(set.keys)
    val recompute = generatedRecompute(set)
    val partitionBy = committedPartitionBy
    // empty live set: nothing to update, and no `_metadata` to match on
    val candidates = liveFilesWhere(predicate)
    if (candidates.isEmpty) return None
    val touched = filesDf(candidates, Some(stored), liveDv(), columnMapping(),
        keepPath = true)
      .filter(predicate)
      .select("_graft_path").distinct()
      .collect().map(r => relativizeUri(rootPath, r.getString(0))).toSeq
    if (touched.isEmpty) None
    else {
      // row-tracked tables carry every row's id through the rewrite:
      // the post-image keeps the pre-image's id, which is what lets
      // changes() pair them into an update (X87)
      val tracked = rowTracked
      val base = withEqDel(touched, None)(fs =>
        filesDf(fs, Some(stored), liveDv(), columnMapping(),
          keepRowId = tracked))
      val ridExtra = if (tracked) Seq(fn(IncrementalTable.RowIdCol)) else Nil
      val rewritten =
        if (recompute.isEmpty)
          base.select(stored.fieldNames.toSeq.map { n =>
            set.get(n) match {
              case Some(v) => when(predicate, v).otherwise(fn(n)).as(n)
              case None => fn(n)
            }
          } ++ ridExtra: _*)
        else {
          // generated columns re-derive over POST-update values, only
          // on rows the predicate matched — the marker pins the
          // predicate's original-row evaluation before SET moves the
          // columns it reads
          import org.apache.spark.sql.functions.expr
          val marked = base.withColumn("_graft_upd", predicate)
          val afterSet = marked.select((stored.fieldNames.toSeq.map { n =>
            set.get(n) match {
              case Some(v) => when(fn("_graft_upd"), v).otherwise(fn(n)).as(n)
              case None => fn(n)
            }
          } ++ ridExtra) :+ fn("_graft_upd"): _*)
          recompute.foldLeft(afterSet) { case (d, (g, e)) =>
            d.withColumn(g, when(fn("_graft_upd"), expr(e)).otherwise(fn(g)))
          }.drop("_graft_upd")
        }
      write(rewritten, "replace", partitionBy, Map.empty, Map.empty, Map.empty,
        None, removeExact = Some(touched), statsColumns = statsColumns)
    }
  }

  /** UPDATE … SET on a `GENERATED ALWAYS AS IDENTITY` column violates
    * the ALWAYS contract exactly like supplying it on INSERT — values
    * come only from the engine's mint (ADVICE r8). BY DEFAULT identity
    * columns accept explicit updates (the high-water auto-syncs on the
    * next write's footer fold). */
  private def refuseIdentitySet(cols: Iterable[String]): Unit =
    identityColumns().foreach { case (c, spec) =>
      if (!spec.allowExplicit && cols.exists(_ == c))
        throw new IllegalArgumentException(
          s"cannot SET identity column '$c' — it is GENERATED ALWAYS; " +
            "values are minted by the engine (create it BY DEFAULT to " +
            "allow explicit values)")
    }

  /** Generated columns an UPDATE must re-derive (X84, the Delta
    * auto-recompute contract): every generated column not SET itself
    * whose expression references a SET column. Setting a generated
    * column explicitly is refused — its value is the expression's,
    * never the caller's. */
  private def generatedRecompute(set: Map[String, Column]): Map[String, String] = {
    val gens = generatedColumns()
    if (gens.isEmpty) return Map.empty
    gens.keys.find(set.contains).foreach(g =>
      throw new IllegalArgumentException(
        s"cannot SET generated column '$g' — it derives from " +
          s"(${gens(g)}); update its base columns instead"))
    gens.filter { case (_, e) =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.head
        }.exists(set.contains)
    }
  }

  /** Atomic delete-and-insert in ONE copy-on-write commit — the
    * `MERGE WHEN MATCHED [AND cond] THEN DELETE / WHEN NOT MATCHED
    * INSERT` shape generalized to multi-row inserts: rows whose `keys`
    * match a `deleteKeys` row AND satisfy `deleteCondition` are
    * removed, and every `inserts` row is added, under one commit (and
    * one batchId guard) — the retraction primitive incremental OUTER
    * join maintenance needs, where a crash between separate delete
    * and insert commits would leave a half-applied delta.
    *
    * Copy-on-write at file granularity like [[merge]]: one semi-join
    * finds the files holding a deletable row; only those rewrite
    * (minus the deleted rows), everything else keeps its identity.
    * With no deletable rows it degrades to a plain guarded append. */
  def deleteInsert(deleteKeys: DataFrame, keys: Seq[String],
      deleteCondition: Column, inserts: DataFrame,
      partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty,
      batchId: Option[Long] = None,
      appId: Option[String] = None): Option[Commit] = {
    require(keys.nonEmpty, "deleteInsert needs key columns")
    require(exists, s"deleteInsert target $root does not exist — seed it with append()")
    if (batchId.exists(b => hasBatch(b, appId))) return None // idempotent replay
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val fn = org.apache.spark.sql.functions.col _
    // a table with no committed schema (meta-only log) or no live data
    // files has nothing deletable — degrade to a plain guarded append
    // (read() there is a LocalRelation: no _metadata to path-match on)
    val storedOpt = committedSchemaAt()
    if (storedOpt.isEmpty)
      return append(inserts, partitionBy, meta = meta, batchId = batchId, appId = appId)
    val stored = storedOpt.get
    if (liveFiles().isEmpty)
      // same projection as the non-degraded path — schema evolution
      // must not depend on whether the table happened to be empty
      return append(inserts.select(stored.fieldNames.map(fn).toSeq: _*),
        partitionBy, meta = meta, batchId = batchId, appId = appId)
    val dk = deleteKeys.select(keys.map(fn): _*).distinct()
    // SQL MERGE semantics: a NULL condition does NOT delete — only
    // rows where it is TRUE. Mirrored between touched-file detection
    // and the kept-rows filter, else a null-condition row co-located
    // with a deletable one would silently vanish in the rewrite.
    val condTrue = coalesce(deleteCondition, lit(false))
    val touched = filesDf(liveFiles(), Some(stored), liveDv(),
        columnMapping(), keepPath = true)
      .filter(condTrue)
      .join(dk, keys, "left_semi")
      .select("_graft_path").distinct()
      .collect().map(r => relativizeUri(rootPath, r.getString(0))).toSeq
    val ins = inserts.select(stored.fieldNames.map(fn).toSeq: _*)
    if (touched.isEmpty)
      append(ins, partitionBy, meta = meta, batchId = batchId, appId = appId)
    else {
      // row tracking (X87): kept rows carry ids, inserts mint fresh
      val tracked = rowTracked
      val ridExtra = if (tracked) Seq(fn(IncrementalTable.RowIdCol)) else Nil
      val kept = withEqDel(touched, None)(fs =>
          filesDf(fs, Some(stored), liveDv(), columnMapping(),
            keepRowId = tracked))
        .join(dk.withColumn("_graft_m", lit(true)), keys, "left")
        .filter(not(coalesce(fn("_graft_m"), lit(false)) && condTrue))
        .select(stored.fieldNames.map(fn).toSeq ++ ridExtra: _*)
      write(kept.unionByName(ins, allowMissingColumns = tracked), "replace",
        partitionBy, Map.empty,
        Map.empty, meta, batchId, appId, removeExact = Some(touched))
    }
  }

  /** Row-level DELETE as a DELETION VECTOR (merge-on-read — the Delta
    * DV / Iceberg position-delete analog): instead of rewriting every
    * file holding a matching row ([[delete]]'s copy-on-write), the
    * matching rows' (file, row-index) positions are written to a
    * parquet sidecar generation and committed as action="dv" —
    * O(matching rows) written, NO data file rewritten, untouched rows
    * keep their file identity and skipping stats. Reads apply live DVs
    * as a broadcast anti-join (scan-stage cost, no data shuffle);
    * [[compact]] MATERIALIZES them (its rewrite reads dv-applied, and
    * a removed file's entries drop with the file), so standing DV
    * volume is bounded by the compaction policy — the same
    * rewrite-vs-defer economics Delta documents: frequent small
    * deletes amortize into the next compaction instead of each paying
    * file-scale rewrites.
    *
    * Each sidecar holds exactly the NEWLY deleted positions (prior DVs
    * apply before matching), so a dv commit's sidecars are also its
    * exact CDC delta ([[changes]]), and re-deleting already-deleted
    * rows is a no-op (returns None). Candidate files are pre-pruned by
    * the [min,max] skipping index like [[delete]]. */
  def deleteVectorized(predicate: Column): Option[Commit] = {
    require(exists, s"delete target $root does not exist")
    val fn = org.apache.spark.sql.functions.col _
    val stored = committedSchema
    val candidates = liveFilesWhere(predicate)
    if (candidates.isEmpty) return None
    val gen = UUID.randomUUID().toString
    val genDir = new Path(rootPath, s"$dvPrefix/$gen")
    // a crash after this write leaves an unreferenced generation —
    // invisible to readers, reclaimed by vacuum()
    filesDfWithPos(candidates, Some(stored), liveDv(), columnMapping())
      .filter(predicate)
      .select(fn("_dv_file").as("file"), fn("_dv_pos").as("pos"))
      .write.parquet(genDir.toString)
    // sidecar rows are in file_path's encoded rendering (see
    // filesDfWithPos); the COMMIT keys must be in the live set's
    // decoded rendering or liveFiles/remove folds silently miss them
    val touched = spark.read
      .schema(new StructType().add("file", "string").add("pos", "long"))
      .parquet(genDir.toString)
      .select("file").distinct().collect()
      .map(r => relativizeUri(rootPath, r.getString(0))).toSeq.sorted
    if (touched.isEmpty) { fs.delete(genDir, true); None }
    else {
      val partitionBy = committedPartitionBy
      Some(commit(Commit(0, "dv", Nil, Nil, Map.empty, partitionBy,
        IncrementalTable.ddlOf(stored), Map.empty, None, now(),
        dv = touched.map(_ -> Seq(gen)).toMap)))
    }
  }

  /** Merge-on-read UPDATE (X82, the Delta DV-update analog): matched
    * rows are shadowed by a deletion-vector generation on the files
    * that hold them and re-appended with the assignments applied — ONE
    * atomic `update` commit carrying both the sidecar attachment and
    * the new files, no data file rewritten. Against [[update]]'s
    * copy-on-write: a narrow update on a 100 TB table writes
    * O(matched rows), not O(touched files) — the write amplification
    * of updating 100 rows spread across 1,000 two-gigabyte files drops
    * from 2 TB to kilobytes. The read-side cost is the same sidecar
    * anti-join every DV delete already pays, reclaimed by
    * [[compact]]/[[compactDeletionVectors]] maintenance.
    *
    * Exactness contracts: assignments must produce the column's EXACT
    * committed type (no silent casts — widen explicitly); updated
    * copies re-route through the one write choke point (current
    * layout, derived transforms, CHECK constraints, stats index);
    * [[changes]] renders the commit as exact delete (pre-image) +
    * insert (post-image) rows, so CDC consumers and incremental views
    * replay it losslessly; OCC fails the commit when a concurrent
    * writer removed/rewrote/dv'd a touched file (positions were
    * computed against this snapshot). The plain streaming source
    * refuses `update` commits (use readChangeFeed), same as replace. */
  def updateVectorized(predicate: Column, set: Map[String, Column],
      statsColumns: Seq[String] = Nil): Option[Commit] = {
    require(exists, s"update target $root does not exist")
    require(set.nonEmpty, "updateVectorized needs set expressions")
    val fn = org.apache.spark.sql.functions.col _
    val stored = committedSchema
    set.keys.foreach(k => require(stored.fieldNames.contains(k),
      s"updateVectorized sets unknown column '$k'"))
    refuseIdentitySet(set.keys)
    val recompute = generatedRecompute(set)
    val candidates = liveFilesWhere(predicate)
    if (candidates.isEmpty) return None
    val mapping = columnMapping()
    val tracked = rowTracked
    val ridExtra = if (tracked) Seq(fn(IncrementalTable.RowIdCol)) else Nil
    val matched = filesDfWithPos(candidates, Some(stored), liveDv(), mapping,
        keepRowId = tracked)
      .select((stored.fields.toIndexedSeq.map(logicalCol(_, mapping)) ++
        ridExtra) :+ fn("_dv_file") :+ fn("_dv_pos"): _*)
      .filter(predicate)
      .persist()
    try {
      val gen = UUID.randomUUID().toString
      val genDir = new Path(rootPath, s"$dvPrefix/$gen")
      matched.select(fn("_dv_file").as("file"), fn("_dv_pos").as("pos"))
        .write.parquet(genDir.toString)
      val touched = spark.read
        .schema(new StructType().add("file", "string").add("pos", "long"))
        .parquet(genDir.toString)
        .select("file").distinct().collect()
        .map(r => relativizeUri(rootPath, r.getString(0))).toSeq.sorted
      if (touched.isEmpty) { fs.delete(genDir, true); None }
      else {
        // every matched row updates: apply SET, then re-derive the
        // generated columns whose bases moved (X84 auto-recompute);
        // post-images keep their pre-image's row id (X87)
        val afterSet = matched.select(stored.fields.toIndexedSeq.map { f =>
          set.get(f.name).map(_.as(f.name)).getOrElse(fn(f.name))
        } ++ ridExtra: _*)
        val updated = recompute.foldLeft(afterSet) { case (d, (g, e)) =>
          d.withColumn(g, org.apache.spark.sql.functions.expr(e))
        }
        stored.fields.foreach { f =>
          val got = updated.schema(f.name).dataType
          require(got.catalogString == f.dataType.catalogString,
            s"updateVectorized assignment to '${f.name}' would change " +
              s"${f.dataType.simpleString} -> ${got.simpleString}; cast " +
              "explicitly if intended")
        }
        write(updated, "update", committedPartitionBy, Map.empty, Map.empty,
          Map.empty, None, statsColumns = statsColumns,
          extraDv = touched.map(_ -> Seq(gen)).toMap)
      }
    } finally matched.unpersist()
  }

  /** Merge the live set's accumulated deletion-vector sidecar
    * generations into ONE generation WITHOUT touching any data file
    * (Iceberg's positional-delete-file compaction; VERDICT r4 #4). A
    * long-lived table with frequent small vectorized deletes otherwise
    * pays read-side fan-in growth — every scan broadcasts N sidecar
    * dirs; after this maintenance op it broadcasts one.
    *
    * The union of every in-force generation's (file, pos) rows is
    * deduped and written as a fresh generation; an action="dvmerge"
    * commit then REPLACES each live file's generation list with the
    * merged one (every other dv-bearing commit accumulates —
    * [[Snapshot.mergeGens]]; changes() skips the action). Rows naming
    * since-removed data files are carried along harmlessly: file names are
    * write-unique, so they can never match a live row.
    *
    * The logical table is unchanged — no CDC delta, stream consumers
    * do not rebuild, read results identical. Time travel to pre-merge
    * versions still sees the old generations (their commits reference
    * them until a checkpoint truncates); vacuum() then reclaims the
    * superseded dirs. OCC: conflicts with an intervening delete or dv
    * on a covered file (the replacement would lose it) — re-run on
    * [[ConcurrentWriteException]]. Returns None when fewer than two
    * generations are in force. */
  def compactDeletionVectors(): Option[Commit] = {
    require(exists, s"dv-compaction target $root does not exist")
    val dvm = liveDv()
    val gens = dvm.values.flatten.toSeq.distinct
    if (gens.size < 2) return None
    val gen = UUID.randomUUID().toString
    val genDir = new Path(rootPath, s"$dvPrefix/$gen")
    // a crash after this write leaves an unreferenced generation —
    // invisible to readers, reclaimed by vacuum()
    spark.read
      .schema(new StructType().add("file", "string").add("pos", "long"))
      .parquet(gens.map(g => new Path(rootPath, s"$dvPrefix/$g").toString): _*)
      .distinct()
      .write.parquet(genDir.toString)
    Some(commit(Commit(0, "dvmerge", Nil, Nil, Map.empty,
      committedPartitionBy, IncrementalTable.ddlOf(committedSchema),
      Map.empty, None, now(),
      dv = dvm.keys.map(_ -> Seq(gen)).toMap)))
  }

  /** RESTORE the table to an earlier version (Delta RESTORE analog) as
    * ONE new commit — history moves forward, never rewrites: the commit
    * swaps the live set back to `version`'s files (re-referencing them,
    * no data copied), restores that version's deletion-vector state,
    * schema, and data-skipping stats, and records `restored_from`.
    * Bounded by the replay horizon like [[readAt]]; vacuum retention
    * makes the target files still-present by construction. Time travel
    * still sees the undone versions (they remain in the log), and CDC
    * surfaces the restore as exact delete+insert deltas. Consumers see
    * a replace commit and rebuild — correct, since history changed out
    * from under them. Returns None when already at that state. */
  def restore(version: Long): Option[Commit] = {
    val at = snapshotAt(Some(version)) // validates the horizon
    val target = liveFiles(asOf = Some(version))
    val cur = liveFiles()
    val targetDv = liveDv(Some(version))
    // equality deletes (X104): the restored snapshot's logical state
    // includes the deletes in force AT it. Entries issued after the
    // target tombstone (their rows revive — the re-added files escape
    // them anyway); entries in force at the target RE-ISSUE on this
    // very commit, so the own-commit rule covers the re-added files
    // and the snapshot reproduces exactly. A re-issue whose sidecar
    // was since vacuumed refuses loudly — a silent partial restore
    // would be worse.
    val eqNow = eqDeletes().toMap
    val eqAt = eqDeletes(Some(version)).toMap
    if (target == cur && targetDv == liveDv() && eqNow == eqAt) return None
    eqAt.keys.foreach { g =>
      require(fs.exists(new Path(rootPath,
          s"${IncrementalTable.EqDelDir}/$g")),
        s"restore($version) needs equality-delete sidecar '$g' which " +
          s"vacuum has reclaimed — the snapshot is no longer reproducible")
    }
    val eqMeta: Map[String, String] =
      (eqNow.keySet -- eqAt.keySet).iterator
        .map(g => IncrementalTable.EqDelPrefix + g -> "").toMap ++
      eqAt.map { case (g, p) =>
        IncrementalTable.EqDelPrefix + g ->
          Serialization.write(p.copy(coverOwnCommit = true)) }
    val statsAt = liveFileStats(Some(version)).view.filterKeys(target.toSet).toMap
    Some(commit(Commit(0, "replace", target, cur, Map.empty, at.partitionBy,
      at.schemaDdl, Map("restored_from" -> version.toString) ++ eqMeta, None,
      now(), fileStats = statsAt, dv = targetDv)))
  }

  /** Live-snapshot file inventory (the Iceberg `t.files` metadata-table
    * analog): one row per live data file — relative (or, for shallow-
    * cloned references, absolute) path, size in bytes, hive partition
    * values parsed from the path, and the count of deletion-vector
    * generations in force. Checkpointed tables answer with a Spark job
    * over the checkpoint rows (never an O(files) driver fold); small
    * tables pay O(live files) driver statuses. */
  def filesDetail(): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, size => fsize}
    val partExpr = expr(
      "map_from_entries(transform(" +
        "filter(slice(split(file, '/'), 1, greatest(size(split(file, '/')) - 1, 0))," +
        " s -> instr(s, '=') > 0)," +
        " s -> struct(split_part(s, '=', 1) AS key, split_part(s, '=', 2) AS value)))")
    val base = snapshot.base match {
      case Some(_) =>
        liveRowsDF(Map.empty, None, sizedAdds = true)
          .select(col("file"), col("size").as("size_bytes"),
            coalesce(fsize(col("dvGens")), lit(0)).as("dv_generations"))
      case None =>
        import spark.implicits._
        val dvm = liveDv()
        liveFiles().map { f =>
          val p = if (f.startsWith("/")) new Path(f) else new Path(rootPath, f)
          (f, fs.getFileStatus(p).getLen, dvm.get(f).map(_.size).getOrElse(0))
        }.toDF("file", "size_bytes", "dv_generations")
    }
    base.withColumn("partition", partExpr)
      .select("file", "size_bytes", "partition", "dv_generations")
  }

  /** Per-partition census (the scale-correct SHOW PARTITIONS analog):
    * one row per live logical partition — its `k=v` map, file count,
    * total bytes, standing dv generations — aggregated from the same
    * distributed walk as [[filesDetail]] (a Spark job over checkpoint
    * rows on large tables, never an O(files) driver fold). The first
    * question on a million-file table — "where did the small files
    * go" / "which partitions are hot" — answered without listing
    * anything. */
  def partitionsDetail(): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    filesDetail().groupBy(col("partition"))
      .agg(count(lit(1)).as("num_files"),
        sum("size_bytes").as("size_bytes"),
        sum("dv_generations").as("dv_generations"))
      .orderBy(col("partition").cast("string"))
  }

  /** SHALLOW CLONE (X78, the Delta `CREATE TABLE … SHALLOW CLONE src`
    * analog): create `destRoot` as a new table whose first commit
    * REFERENCES this table's live files at `version` (default: head)
    * by absolute path — zero data copied, O(metadata) cost at any
    * size. The clone carries the source's schema, partition layout
    * (incl. hidden-partition transforms), data-skipping index, column
    * mapping, drop tombstones, properties, and CHECK constraints as of
    * that version; tags are NOT carried (they pin source versions).
    *
    * The clone is immediately independent: writes land under its own
    * root, DML/compaction REPLACE cloned references with locally-owned
    * files (un-sharing them), and `vacuum()` on the clone never
    * touches foreign paths (it only walks this root). The one shared
    * fate is the source physically deleting data: `vacuum()` on the
    * SOURCE reclaims files the source no longer references but the
    * clone still does — the documented Delta shallow-clone hazard;
    * clone for experimentation, compact() the clone to materialize it
    * before vacuuming the source.
    *
    * Sources with deletion vectors in force refuse (the sidecar
    * position rows name source-relative paths the clone's scan cannot
    * rebind): `compact()` the source slice first to materialize. */
  def cloneTo(destRoot: String, version: Option[Long] = None): Commit = {
    require(exists, s"clone source $root does not exist")
    val v = version.getOrElse(latestVersion)
    val at = snapshotAt(Some(v)) // validates the replay horizon
    require(liveDv(Some(v)).isEmpty,
      s"clone source $root has deletion vectors in force at v$v — " +
        "compact() to materialize them first")
    require(eqDeletes(Some(v)).isEmpty,
      s"clone source $root has equality deletes in force at v$v — " +
        "compact() to materialize them first")
    val srcBase = rootPath.toUri.getPath.stripSuffix("/")
    require(!srcBase.split("/").exists(_.contains('=')),
      s"clone source root '$srcBase' contains '=' path segments — " +
        "foreign-root resolution would misparse partition dirs")
    val dest = new IncrementalTable(spark, destRoot)
    require(!dest.exists, s"clone destination $destRoot already exists")
    def abs(f: String) = if (f.startsWith("/")) f else s"$srcBase/$f"
    val files = liveFiles(asOf = Some(v)).map(abs)
    val stats = liveFileStats(Some(v)).map { case (f, m) => abs(f) -> m }
    val channels = Seq("prop/", "constraint/", "colmap/", "ptransform/",
      "dropped/", "default/", "identity/", "idhw/", "genexpr/",
      "rowhw/", "ndv/").flatMap { p =>
      at.channel(p).map { case (k, value) => s"$p$k" -> value }
    }.toMap
    val meta = channels ++ Map(
      "clonedFrom" -> srcBase, "clonedVersion" -> v.toString)
    // action "append": replay folds, CDC (every row an insert), and
    // OCC conflict checks all treat the clone like a bulk add
    dest.commit(Commit(0, "append", files, Nil, Map.empty, at.partitionBy,
      at.schemaDdl, meta, None, now(), fileStats = stats))
  }

  /** (live file count, total bytes, dv-bearing file count) of the
    * snapshot as of `asOf`, shared by [[detail]] and [[liveBytes]].
    * Checkpointed tables answer
    * with one bounded aggregation job over the checkpoint rows
    * (+ O(tail) driver statuses for tail-added files); small tables
    * pay O(live files) statuses. */
  private def liveSummary(asOf: Option[Long]): (Long, Long, Long) = {
    val s = snapshotAt(asOf)
    s.base match {
      case Some(_) =>
        import org.apache.spark.sql.functions.{col, count, lit, size, sum, when}
        val agg = liveRowsDF(Map.empty, asOf).agg(
          count(lit(1)), sum(when(col("size") >= 0, col("size"))),
          count(when(size(col("dvGens")) > 0, lit(1)))).head
        // an iterator, not `keys.map`: a key SET would collapse
        // equal-sized tail files into one length
        val tailBytes = s.files.keysIterator.map(statusOf(_).getLen).sum
        (agg.getLong(0),
          (if (agg.isNullAt(1)) 0L else agg.getLong(1)) + tailBytes,
          agg.getLong(2))
      case None =>
        val live = liveFiles(Map.empty, asOf)
        (live.size.toLong,
          live.map(statusOf(_).getLen).sum,
          liveDv(asOf).size.toLong)
    }
  }

  /** Total bytes of the live snapshot as of `asOf` — the cost estimate
    * the front doors report to Catalyst so join planning (broadcast
    * vs shuffle) works on graft tables like on any file relation.
    * DV-deleted rows still count (scan cost, not logical rows) —
    * estimates only ever need to be conservative. */
  def liveBytes(asOf: Option[Long] = None): Long = liveSummary(asOf)._2

  /** Total bytes of an explicit (already-pruned) live-file subset —
    * the post-pushdown cost estimate. O(files) driver statuses; callers
    * hand in survivor lists the skipping index already bounded. */
  def liveFilesSize(files: Seq[String]): Long =
    files.map(statusOf(_).getLen).sum

  /** EXACT live logical row count from metadata alone — no data scan:
    * `Some(n)` when every live file carries a row tally in its stats
    * index (recorded whenever the writer passed `statsColumns`), where
    * n = Σ file rows − standing DV-deleted rows (each sidecar row is
    * one distinct deleted position by construction — the dv write path
    * only records not-previously-deleted rows). `None` when ANY live
    * file lacks a tally — the caller must scan; a wrong fast count is
    * worse than a slow exact one. Cost: a bounded aggregation job over
    * checkpoint rows (columnar tables) or a driver fold (small
    * tables), plus a sidecar-sized count job when DVs are standing. */
  def liveRowCount(asOf: Option[Long] = None): Option[Long] = {
    // standing equality deletes (X104) hide an unknown number of rows
    // — the metadata answer would overcount; decline to a real scan
    if (eqDeletes(asOf).nonEmpty) return None
    val fileRows: Option[Long] = snapshotAt(asOf).base match {
      case Some(_) =>
        import org.apache.spark.sql.functions.{col, count, lit, map_values, sum, try_element_at}
        // try_element_at: a live file written WITHOUT statsColumns has an
        // empty stats map, and under ANSI mode a plain element_at would
        // throw at position 1 instead of yielding NULL — which must
        // instead flow into the count(r) != count(*) mismatch below so
        // the caller falls back to a real scan.
        val agg = liveRowsDF(Map.empty, asOf)
          .select(try_element_at(map_values(col("stats")), lit(1))
            .getField("rows").as("r"))
          .agg(count(lit(1)), count(col("r")), sum(col("r"))).head
        if (agg.getLong(0) == 0) Some(0L)
        else if (agg.getLong(0) != agg.getLong(1)) None
        else Some(agg.getLong(2))
      case None =>
        val stats = liveFileStats(asOf)
        val rows = liveFiles(Map.empty, asOf).map(f =>
          stats.get(f).flatMap(_.valuesIterator.flatMap(_.rows).nextOption()))
        if (rows.forall(_.isDefined)) Some(rows.flatMap(x => x).sum)
        else None
    }
    fileRows.map { n =>
      val dvMap = liveDv(asOf)
      val gens = dvMap.values.flatten.toSeq.distinct
      if (gens.isEmpty) n
      else {
        import spark.implicits._
        // a generation may carry stale rows naming since-removed files
        // (harmless for the read-path join, poisonous for counting) —
        // count only positions belonging to LIVE dv-bearing files.
        // Sidecar `file` values live in file_path's URI-ENCODED
        // rendering while commit-log dv keys are decoded
        // ([[relativizeUri]]); ENCODE the (few) broadcast keys
        // driver-side with the same java.net.URI quoter the sidecar
        // rendering came from, so the semi-join is a plain codegen'd
        // string equality — no per-row UDF (a space/%-bearing
        // partition value round-trips through the one encoder and
        // still matches).
        val encode = (s: String) =>
          new java.net.URI(null, null, s"/$s", null).getRawPath.stripPrefix("/")
        val liveDvFiles = org.apache.spark.sql.functions.broadcast(
          dvMap.keys.toSeq.map(encode).toDF("file"))
        n - spark.read
          .schema(new StructType().add("file", "string").add("pos", "long"))
          .parquet(gens.map(g => new Path(rootPath, s"$dvPrefix/$g").toString): _*)
          .join(liveDvFiles, Seq("file"), "left_semi")
          .count()
      }
    }
  }

  /** EXACT MIN/MAX of an integral `column` from metadata alone — no
    * data scan: `Some((min, max))` when EVERY live file carries a
    * usable value-bound entry for the column in its stats index
    * (all-null files count as usable and contribute nothing, matching
    * SQL MIN/MAX's null-skipping; inner `None`s mean no non-null value
    * exists anywhere → SQL NULL). Declines (`None`) when any file
    * lacks an entry, the entry is string-typed or boundless (the
    * poisoned marker), or ANY deletion vector is standing — a DV may
    * have deleted exactly the extreme row, and a wrong fast answer is
    * worse than a slow exact one. Footer integral min/max are exact by
    * construction (never truncated, unlike binary stats), which is why
    * the surface is integral-only. Cost mirrors [[liveRowCount]]. */
  /** LIMIT file selection (X103): the shortest PREFIX of `files` whose
    * guaranteed live-row tally reaches `limit` — a `SELECT … LIMIT n`
    * on a 100k-file table plans a handful of files instead of all of
    * them. Sound by construction: a file counts toward the guarantee
    * only with an exact committed tally and no standing deletion
    * vector (its contribution is else 0 and MORE files are taken);
    * when the guarantee never reaches `limit`, every file returns. */
  private[graft] def limitFiles(files: Seq[String], limit: Long,
      asOf: Option[Long] = None): Seq[String] = {
    val stats = liveFileStats(asOf)
    val dv = liveDv(asOf)
    val eqAffected = eqDelAffected(files, asOf)
    val out = Seq.newBuilder[String]
    var acc = 0L
    val it = files.iterator
    while (it.hasNext && acc < limit) {
      val f = it.next(); out += f
      if (!dv.contains(f) && !eqAffected(f))
        acc += stats.get(f)
          .flatMap(_.valuesIterator.flatMap(_.rows).nextOption())
          .getOrElse(0L)
    }
    out.result()
  }

  /** Files some standing equality delete (X104) applies to: their
    * committed tallies overcount, so they guarantee nothing to the
    * limit/top-N planners (bounds stay valid — deletes only shrink). */
  private def eqDelAffected(files: Seq[String],
      asOf: Option[Long]): Set[String] = {
    val eq = eqDeletes(asOf)
    if (eq.isEmpty) Set.empty
    else eqDelGroups(files, eq, asOf.getOrElse(latestVersion))
      .filter(_._1.nonEmpty).flatMap(_._2).toSet
  }

  /** TOP-N file selection (X103): the subset of `files` that can
    * possibly hold a row of the top `k` under `ORDER BY column [DESC]`
    * — an `ORDER BY ts DESC LIMIT 100` over a time-ordered 100 TB log
    * reads its newest files only. The bound: accumulate per-file
    * WORST-case values (min for DESC, max for ASC) weighted by each
    * file's guaranteed non-null row count, in best-first order, until
    * `k` rows are covered — that value is a threshold at least `k`
    * rows provably beat, so a file whose BEST value misses it cannot
    * contribute and drops. Nulls: under NULLS FIRST they are top-k
    * candidates, so only a provably null-free file may drop; under
    * NULLS LAST the k-row value guarantee already excludes them.
    * Deletion vectors only shrink a file, so its committed bounds stay
    * valid for pruning — but a DV'd file guarantees nothing and
    * contributes 0 to the threshold. Returns None (caller scans
    * everything) when no threshold is provable. */
  private[graft] def topNFiles(files: Seq[String], column0: String, k: Long,
      descending: Boolean, nullsFirst: Boolean,
      asOf: Option[Long] = None): Option[Seq[String]] = {
    val column = physPath(column0, columnMapping(asOf))
    val stats = liveFileStats(asOf)
    val dv = liveDv(asOf)
    val eqAffected = eqDelAffected(files, asOf)
    def usable(f: String): Option[ColStat] =
      stats.get(f).flatMap(_.get(column)).filter(s =>
        !s.isString && !s.isDouble && !s.allNull &&
          !(s.min == Long.MinValue && s.max == Long.MaxValue))
    def contrib(f: String): Long =
      if (dv.contains(f) || eqAffected(f)) 0L
      else usable(f).flatMap(s =>
        for { r <- s.rows; n <- s.nulls } yield r - n).getOrElse(0L)
    val weighted = files.flatMap(f => usable(f).map(s =>
        (if (descending) s.min else s.max, contrib(f))))
      .filter(_._2 > 0)
    // no arithmetic negation (Long.MinValue negates to itself): sort
    // by the value under an explicitly reversed ordering
    val ordered =
      if (descending) weighted.sortBy(_._1)(Ordering[Long].reverse)
      else weighted.sortBy(_._1)
    var acc = 0L
    var threshold: Option[Long] = None
    val it = ordered.iterator
    while (it.hasNext && acc < k) {
      val (v, c) = it.next(); acc += c
      if (acc >= k) threshold = Some(v)
    }
    threshold.map { t =>
      files.filter { f =>
        stats.get(f).flatMap(_.get(column)) match {
          // an ALL-null file holds no value row at all: under NULLS
          // LAST the k-row value guarantee excludes it outright
          case Some(s) if s.allNull => nullsFirst
          case _ => usable(f) match {
            case Some(s) =>
              val beaten = if (descending) s.max < t else s.min > t
              !(beaten && (!nullsFirst || s.nulls.contains(0L)))
            case None => true // no sound bounds — keep conservatively
          }
        }
      }
    }
  }

  def liveMinMax(column0: String,
      asOf: Option[Long] = None): Option[(Option[Long], Option[Long])] = {
    if (liveDv(asOf).nonEmpty) return None
    // an equality delete may have removed exactly the extreme row
    if (eqDeletes(asOf).nonEmpty) return None
    val column = physPath(column0, columnMapping(asOf)) // index keys are physical
    snapshotAt(asOf).base match {
      case Some(_) =>
        import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
        val e = col("stats").getItem(column)
        val allNull = e.getField("rows").isNotNull &&
          e.getField("nulls") === e.getField("rows")
        // string AND double entries decline: their bounds live outside
        // the Long answer domain (X75 double entries carry min=max=0)
        val valueOk = e.isNotNull && e.getField("minS").isNull &&
          e.getField("minD").isNull && !allNull &&
          !(e.getField("min") === Long.MinValue &&
            e.getField("max") === Long.MaxValue)
        val agg = liveRowsDF(Map.empty, asOf).agg(
          count(lit(1)),
          count(when(valueOk || (e.isNotNull && allNull), lit(1))),
          min(when(valueOk, e.getField("min"))),
          max(when(valueOk, e.getField("max")))).head
        if (agg.getLong(0) != agg.getLong(1)) None
        else Some((
          if (agg.isNullAt(2)) None else Some(agg.getLong(2)),
          if (agg.isNullAt(3)) None else Some(agg.getLong(3))))
      case None =>
        val stats = liveFileStats(asOf)
        var mn: Option[Long] = None
        var mx: Option[Long] = None
        val ok = liveFiles(Map.empty, asOf).forall { f =>
          stats.get(f).flatMap(_.get(column)) match {
            case Some(s) if s.allNull => true
            case Some(s) if s.isString || s.isDouble => false
            case Some(s) if s.min == Long.MinValue && s.max == Long.MaxValue =>
              false // boundless marker — no sound value bound
            case Some(s) =>
              mn = Some(mn.fold(s.min)(math.min(_, s.min)))
              mx = Some(mx.fold(s.max)(math.max(_, s.max)))
              true
            case None => false
          }
        }
        if (ok) Some((mn, mx)) else None
    }
  }

  /** One-row table summary (Delta DESCRIBE DETAIL analog): current
    * version, live file count and bytes (a driver-side metadata pass
    * over the committed list — no Spark job), partition columns,
    * schema DDL, active constraint and deletion-vector counts. */
  def detail(): DataFrame = {
    import spark.implicits._
    val s = snapshot
    val (nFiles, bytes, nDv) = liveSummary(None)
    Seq((root, s.version, nFiles, bytes,
      s.layout.mkString(","), s.schemaDdl, constraints.size.toLong, nDv))
      .toDF("location", "version", "num_files", "size_bytes",
        "partition_by", "schema_ddl", "num_constraints", "num_dv_files")
  }

  /** The commit log as a DataFrame (Delta DESCRIBE HISTORY analog):
    * one row per commit with the action, file counts, and metadata. */
  def history(): DataFrame = {
    import spark.implicits._
    commits().map(c => (c.version, c.action, c.add.size, c.remove.size,
      c.partitionBy.mkString(","), c.batchId, c.appId, c.meta))
      .toDF("version", "action", "n_added", "n_removed",
        "partition_by", "batch_id", "app_id", "meta")
  }

  /** Latest committed schema as of a version (None before any data
    * commit), decorated with the committed column defaults. */
  private def committedSchemaAt(asOf: Option[Long] = None): Option[StructType] = {
    val s = snapshotAt(asOf)
    Some(s.schemaDdl).filter(_.nonEmpty).map(ddl =>
      decorateDefaults(StructType.fromDDL(ddl), s.channel("default/")))
  }

  /** Column DEFAULTs (X79, the Iceberg-v3 initial-default analog):
    * logical column → SQL literal text, committed in the `default/`
    * channel at CREATE or ADD COLUMN time. The literal is both the
    * EXISTENCE default (files from before the column existed read it
    * instead of null — Spark's parquet reader fills it from the schema
    * metadata this table attaches) and the CURRENT default (INSERTs
    * omitting the column get it); the two never diverge because SET/
    * DROP DEFAULT are refused — one literal, one meaning, forever. */
  def columnDefaults(asOf: Option[Long] = None): Map[String, String] =
    snapshotAt(asOf).channel("default/")

  /** IDENTITY columns (X83, the Delta/SQL-standard identity analog):
    * logical column → (start, step, allowExplicitInsert), committed in
    * the `identity/` channel at CREATE. Values are minted at the write
    * choke point — dense per batch, unique across commits (the
    * `idhw/<col>` high-water meta entry rides every data commit and
    * OCC-conflicts concurrent minters), gaps allowed on explicit
    * inserts and aborted batches, per the identity contract. */
  def identityColumns(asOf: Option[Long] = None): Map[String, IdentitySpec] =
    snapshotAt(asOf).channel("identity/").view.mapValues { v =>
      val parts = v.split(",")
      IdentitySpec(parts(0).toLong, parts(1).toLong, parts(2).toBoolean)
    }.toMap

  /** The last identity value this table has allocated (or seen) for
    * `col` — the `idhw/` channel high-water; None before any. */
  private def identityHighWater(col: String): Option[Long] =
    metaChannel("idhw/").get(col).map(_.toLong)

  /** GENERATED columns (X84, the Delta generated-column analog):
    * logical column → generation expression SQL, committed in the
    * `genexpr/` channel at CREATE. The write choke point computes the
    * column when the incoming frame omits it and VERIFIES it
    * (null-safe equality, loud) when the frame carries it — a rewrite
    * passes trivially; [[update]]/[[updateVectorized]] auto-re-derive
    * generated columns whose base columns a SET moves (the Delta
    * contract), and any OTHER path that would write a diverged value
    * fails instead of silently de-synchronizing. */
  def generatedColumns(asOf: Option[Long] = None): Map[String, String] =
    snapshotAt(asOf).channel("genexpr/")

  /** Attach Spark's default-value metadata keys to defaulted fields:
    * the read path fills EXISTS_DEFAULT for files physically missing
    * the column, the SQL write path fills CURRENT_DEFAULT for INSERTs
    * omitting it. Both keys carry the same committed literal. */
  private def decorateDefaults(schema: StructType,
      defaults: Map[String, String]): StructType =
    if (defaults.isEmpty) schema
    else StructType(schema.fields.map { f =>
      defaults.get(f.name) match {
        case Some(sql) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", sql)
            .putString("CURRENT_DEFAULT", sql).build())
        case None => f
      }
    })

  private def committedSchema: StructType =
    committedSchemaAt().getOrElse(throw new IllegalStateException(
      s"table $root has no committed schema"))

  /** Number of live files as of `asOf` — a count JOB above the
    * checkpoint threshold (never collects the live set to the driver),
    * a plain size below it. For sizing decisions like "is this rewrite
    * most of the table". */
  def liveFileCount(asOf: Option[Long] = None): Long =
    snapshotAt(asOf).base match {
      case Some(_) => liveRowsDF(Map.empty, asOf).count()
      case None => liveFiles(Map.empty, asOf).size.toLong
    }

  /** Committed schema as of `asOf` (None before the first data commit).
    * Public so catalogs / the `format("graft")` relation can answer
    * schema questions from the log alone — no file listing, no footer
    * reads. */
  def schemaAt(asOf: Option[Long] = None): Option[StructType] =
    committedSchemaAt(asOf)

  /** The table's committed partition layout (empty when unpartitioned). */
  def partitionColumns: Seq[String] = committedPartitionBy

  /** Hidden-partitioning transforms (X77): derived partition column →
    * parsed transform, committed at CREATE (`ptransform/` channel,
    * immutable thereafter — X76 pins the layout). Empty for plain
    * identity-partitioned tables. */
  def partitionTransforms(asOf: Option[Long] = None): Map[String, PartitionTransform] = {
    // `retired:<spec>` marks a transform that left the layout via
    // [[evolvePartitioning]] — not ACTIVE (never routes or prunes), but
    // deliberately NOT a tombstone: the non-empty value survives channel
    // folds, checkpoints, and clones, so the name can never be reused
    // with different semantics (old dirs still carry its tokens). A
    // time-travel fold at a pre-evolution version sees the original
    // spec, so reads and DESCRIBE at that version use the then-layout.
    val specs = snapshotAt(asOf).channel("ptransform/")
      .filterNot(_._2.startsWith(IncrementalTable.RetiredSpec))
    if (specs.isEmpty) Map.empty
    else {
      val schema = committedSchemaAt(asOf).getOrElse(new StructType())
      specs.view.mapValues(PartitionTransform.parse(_, schema)).toMap
    }
  }

  /** Derived partition columns retired by [[evolvePartitioning]]:
    * name → the spec it carried. Their dir tokens still exist under
    * live old-spec files, so the names stay reserved forever. */
  private def retiredTransforms: Map[String, String] =
    metaChannel("ptransform/").collect {
      case (n, v) if v.startsWith(IncrementalTable.RetiredSpec) =>
        n -> v.stripPrefix(IncrementalTable.RetiredSpec)
    }

  /** Partition columns that exist only as directory tokens (transform
    * targets): committed layout minus schema columns. Guards use this
    * without parsing specs. */
  private def derivedPartitionCols: Set[String] =
    committedPartitionBy.toSet --
      committedSchemaAt().map(_.fieldNames.toSet).getOrElse(Set.empty)

  /** Names forever unavailable to schema columns: live derived
    * partition columns PLUS transforms retired by spec evolution —
    * live files still carry `name=token` dirs for both, and a schema
    * column of that name would resurface transform tokens as column
    * values through the partition-overlay read path. */
  private def reservedDirNames: Set[String] =
    derivedPartitionCols ++ retiredTransforms.keySet

  /** Read an explicit committed-file subset under the table's schema and
    * deletion-vector state as of `asOf`. The contract behind scan
    * planners that prune with [[liveFilesWhere]] and then hand the
    * survivor list back (the batch scan of both front doors,
    * [[graft.sources.GraftRelation.scanDf]]): caller
    * guarantees `files` ⊆ the live set at `asOf`, same as the internal
    * read path. */
  def readFiles(files: Seq[String], asOf: Option[Long] = None): DataFrame =
    withEqDel(files, asOf)(fs =>
      filesDf(fs, committedSchemaAt(asOf), liveDv(asOf), columnMapping(asOf)))

  /** Latest non-empty partitionBy (the write-path default: rewrites of
    * a partitioned table keep its layout unless told otherwise). */
  private def committedPartitionBy: Seq[String] = snapshot.partitionBy

  /** One `<prefix><name> → value` metadata channel at the head
    * ([[Snapshot.channel]]). */
  private def metaChannel(prefix: String): Map[String, String] =
    snapshot.channel(prefix)

  /** Active CHECK constraints: name → boolean SQL expression. Stored
    * as `constraint/<name>` metadata (an empty value marks a drop), so
    * they ride the same atomic commits as everything else and survive
    * checkpoint folding. */
  def constraints: Map[String, String] = metaChannel("constraint/")

  /** Column mapping (Delta column-mapping analog, X72): logical column
    * name → PHYSICAL name, the name the column's bytes were originally
    * written under. Populated by [[renameColumn]]; a column never
    * renamed has no entry (physical == logical). Physical names are
    * immutable once assigned — files never rewrite on rename, old and
    * new files alike bind the logical column to the same physical
    * bytes, and the data-skipping index (keyed physical) follows the
    * rename for free. As-of-aware: a time-travel read resolves the
    * mapping that was committed at that version, so rename CHAINS
    * replay exactly. */
  def columnMapping(asOf: Option[Long] = None): Map[String, String] =
    snapshotAt(asOf).channel("colmap/")

  /** The physical rendering of a (possibly dot-pathed) logical column.
    * Mapping keys are LOGICAL dot-paths (top-level: the bare name;
    * nested struct leaves: `s.f` — X86); each value is that segment's
    * physical name, so the path resolves segment by segment with the
    * LOGICAL prefix as the lookup key. */
  private def physPath(logical: String, mapping: Map[String, String]): String =
    if (mapping.isEmpty) logical
    else {
      val segs = logical.split('.')
      val sb = new java.lang.StringBuilder
      var lpath = ""
      segs.foreach { s =>
        lpath = if (lpath.isEmpty) s else lpath + "." + s
        if (sb.length > 0) sb.append('.')
        sb.append(mapping.getOrElse(lpath, s))
      }
      sb.toString
    }

  /** The schema with every field — top-level AND struct members —
    * renamed to its physical name (field order and types preserved, so
    * positional consumers stay aligned and a positional struct CAST
    * relabels exactly). */
  private[table] def physicalSchema(schema: StructType,
      mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) schema
    else StructType(schema.fields.map { f =>
      f.copy(name = mapping.getOrElse(f.name, f.name),
        dataType = physTypeOf(f.dataType, f.name, mapping))
    })

  /** Recursive physical rendering of a column's TYPE: struct members
    * rename along their logical dot-paths; non-struct types (incl.
    * array/map element structs — in-container renames are refused at
    * the ALTER boundary) pass through unchanged. */
  private def physTypeOf(dt: DataType, lpath: String,
      mapping: Map[String, String]): DataType = dt match {
    case st: StructType if mapping.keys.exists(_.startsWith(lpath + ".")) =>
      StructType(st.fields.map { f =>
        val p = s"$lpath.${f.name}"
        f.copy(name = mapping.getOrElse(p, f.name),
          dataType = physTypeOf(f.dataType, p, mapping))
      })
    case other => other
  }

  /** [[physicalSchema]] under the CURRENT column mapping — the public
    * rendering the streaming front doors stage/read files with. */
  def physicalSchemaOf(schema: StructType): StructType =
    physicalSchema(schema, columnMapping())

  /** The logical-relabel projection for one committed field over a
    * physical-named scan: top-level renames alias; a field with nested
    * renames additionally CASTs to the logical struct type (struct
    * casts bind by POSITION — same shape and types by construction of
    * [[physicalSchema]], so the cast is a pure member rename). */
  private def logicalCol(f: org.apache.spark.sql.types.StructField,
      mapping: Map[String, String]): org.apache.spark.sql.Column = {
    val c = org.apache.spark.sql.functions.col(physPath(f.name, mapping))
    val nested = mapping.keys.exists(_.startsWith(f.name + "."))
    // cast target nullability is relaxed: the cast exists to RENAME
    // members (and it refuses nullable->non-null), never to assert
    // nullability — the scan's own nullability carries through
    (if (nested) c.cast(IncrementalTable.nullableType(f.dataType)) else c)
      .as(f.name)
  }

  /** ALTER TABLE … RENAME COLUMN as ONE metadata commit, zero data
    * rewritten (the X64 evolution series completed): the committed
    * schema carries the new logical name, a `colmap/` entry binds it to
    * the column's immutable PHYSICAL name, and reads/writes translate
    * at the parquet boundary — old files keep serving the column, new
    * files keep writing the same physical name, the skipping index
    * (physical-keyed) keeps pruning. The OLD name is tombstoned like a
    * dropped column (old files still carry its bytes; re-adding it
    * would resurface them under a fresh meaning) and time travel to a
    * pre-rename version shows the old name with the old values.
    * Refused for partition columns (their name is baked into every
    * directory path) and while a CHECK constraint references the old
    * name (its expression would stop resolving).
    *
    * Reference analog: `processed/v1` path-versioning
    * (assets/processed.py:33) is the copy-the-table workaround this
    * removes. */
  def renameColumn(from: String, to: String): Commit = {
    // IN-STRUCT rename (X86): `from` may be a dot-path to a struct
    // member; `to` is the new LEAF name. Same column-mapping economics
    // one level down — the `colmap/` key is the new logical dot-path,
    // the value the member's immutable physical name, and the read/
    // write boundaries relabel via a positional struct cast.
    if (from.contains('.')) return renameNested(from, to)
    val prev = committedSchema
    require(from != to, s"rename '$from' to itself is a no-op")
    require(!to.contains('.'),
      s"rename target '$to' must be a bare name (renames never move " +
        "a column between nesting levels)")
    require(prev.fieldNames.contains(from), s"no column '$from' to rename")
    require(!prev.fieldNames.contains(to), s"column '$to' already exists")
    require(!droppedColumns.contains(to),
      s"column '$to' was previously dropped or renamed away and files " +
        "still carry its old values — pick a fresh name")
    require(!committedPartitionBy.contains(from),
      s"cannot rename partition column '$from' (its name is baked into " +
        "every partition directory path); migrate via CTAS")
    require(!committedPartitionBy.contains(to) &&
        !retiredTransforms.contains(to),
      s"cannot rename to '$to': it is (or was) a partition column name " +
        "(a schema column of that name would shadow the dir tokens)")
    partitionTransforms().values.find(_.base == from).foreach(t =>
      throw new IllegalArgumentException(
        s"cannot rename '$from': it is the base of partition transform " +
          s"${t.spec} (the committed spec binds the name); migrate via CTAS"))
    constraints.foreach { case (cn, check) =>
      val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(check).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.head
        }.toSet
      require(!refs.contains(from),
        s"CHECK constraint '$cn' references '$from' — drop it first and " +
          "re-create it against the new name")
    }
    generatedColumns().foreach { case (g, e) =>
      val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.head
        }.toSet
      require(!refs.contains(from),
        s"generated column '$g' derives from '$from' (expression: $e) — " +
          "its committed text binds the name; migrate via CTAS")
    }
    val phys = columnMapping().getOrElse(from, from)
    val renamed = StructType(prev.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    // the skipping-index opt-in follows the rename: a statsColumns
    // table property naming the old column is rewritten in-commit
    val statsProp = tableProperties.get("graft.statsColumns").map { v =>
      v.split(",").map(_.trim).filter(_.nonEmpty).map { p =>
        val i = p.indexOf('.')
        val head = if (i < 0) p else p.take(i)
        if (head == from) to + (if (i < 0) "" else p.drop(i)) else p
      }.mkString(",")
    }.filter(_ => tableProperties.get("graft.statsColumns")
      .exists(_.split(",").map(_.trim).exists(p =>
        p == from || p.startsWith(from + "."))))
    // nested channel entries under the renamed parent follow it: their
    // keys are LOGICAL dot-paths, so `colmap/s.g` re-keys to
    // `colmap/t.g` (same physical value) and nested drop tombstones
    // re-reserve under the new parent name (old keys stay — the old
    // parent name is itself tombstoned)
    val nestedFollow = columnMapping().toSeq.collect {
      case (k, v) if k.startsWith(from + ".") =>
        Seq(s"colmap/$to${k.stripPrefix(from)}" -> v, s"colmap/$k" -> "")
    }.flatten ++ metaChannel("dropped/").toSeq.collect {
      case (k, v) if k.startsWith(from + ".") =>
        s"dropped/$to${k.stripPrefix(from)}" -> v
    }
    val meta = Map(
      s"colmap/$to" -> phys,
      s"colmap/$from" -> "", // tombstone the old logical binding
      s"dropped/$from" -> latestVersion.toString) ++
      nestedFollow ++
      statsProp.map(v => "prop/graft.statsColumns" -> v) ++
      // a column DEFAULT follows the rename (it is keyed logically)
      columnDefaults().get(from).toSeq.flatMap(sql =>
        Seq(s"default/$to" -> sql, s"default/$from" -> "")) ++
      // so do IDENTITY specs (X83); generated columns' own entries
      // follow too, while renaming a column a generation expression
      // REFERENCES is refused below (the committed text binds the name)
      identityColumns().get(from).toSeq.flatMap(s =>
        Seq(s"identity/$to" -> s"${s.start},${s.step},${s.allowExplicit}",
          s"identity/$from" -> "")) ++
      metaChannel("idhw/").get(from).toSeq.flatMap(v =>
        Seq(s"idhw/$to" -> v, s"idhw/$from" -> "")) ++
      generatedColumns().get(from).toSeq.flatMap(e =>
        Seq(s"genexpr/$to" -> e, s"genexpr/$from" -> "")) ++
      // NDV sketches follow the rename (keyed logically, X88)
      metaChannel("ndv/").get(from).toSeq.flatMap(v =>
        Seq(s"ndv/$to" -> v, s"ndv/$from" -> "")) ++
      // equi-height histograms too (keyed logically, X93)
      metaChannel("hist/").get(from).toSeq.flatMap(v =>
        Seq(s"hist/$to" -> v, s"hist/$from" -> ""))
    commit(Commit(0, "meta", Nil, Nil, Map.empty, Nil,
      IncrementalTable.ddlOf(renamed),
      meta, None, now()))
  }

  /** Full dot-path attribute references of a committed expression text
    * (CHECK constraints, generated columns): `s.f > 0` yields `s.f`.
    * Used by the X86 nested-evolution guards — committed texts bind
    * names at every nesting level. */
  private def exprRefPaths(e: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(e).collect {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          ua.nameParts.mkString(".")
      }.toSet

  /** Refuse when any CHECK constraint or generated-column expression
    * references `path` or anything under it (committed texts bind the
    * name; Spark resolves struct access as a dotted attribute). */
  private def refuseExprRefs(path: String, verb: String,
      exceptConstraints: Set[String] = Set.empty): Unit = {
    def hits(refs: Set[String]) =
      refs.contains(path) || refs.exists(_.startsWith(path + "."))
    (constraints -- exceptConstraints).foreach { case (cn, check) =>
      require(!hits(exprRefPaths(check)),
        s"CHECK constraint '$cn' references '$path' — drop it first and " +
          s"re-create it after the $verb")
    }
    generatedColumns().foreach { case (g, e) =>
      require(!hits(exprRefPaths(e)),
        s"generated column '$g' derives from '$path' (expression: $e) — " +
          "its committed text binds the name; migrate via CTAS")
    }
  }

  /** IN-STRUCT RENAME (X86): `from` is a dot-path to a struct member,
    * `to` the new leaf name — ONE metadata commit, zero data rewritten.
    * The `colmap/` channel binds the new LOGICAL dot-path to the
    * member's immutable PHYSICAL name; reads scan under physical names
    * and relabel with a positional struct CAST at the one projection
    * boundary ([[logicalCol]]), writes cast to the physical shape at
    * the staging boundary, and the PHYSICAL-keyed skipping index plus
    * metadata MIN/MAX follow via [[physPath]]'s per-segment remap. The
    * old path is tombstoned (old files still carry its bytes) against
    * both re-ADD and a rename back. Members of structs inside arrays/
    * maps stay refused (the positional-cast relabel and the footer
    * dot-path contract cover plain struct chains). */
  private def renameNested(from: String, to: String): Commit = {
    val prev = committedSchema
    val path = from.split('.').toIndexedSeq
    val parentPath = path.init
    val leaf = path.last
    require(to.nonEmpty && !to.contains('.'),
      s"rename target '$to' must be a bare member name")
    require(leaf != to, s"rename '$from' to itself is a no-op")
    val parentName = parentPath.mkString(".")
    val parent = IncrementalTable.structFieldAt(prev, parentPath).getOrElse(
      throw new IllegalArgumentException(s"no struct column '$parentName'"))
    val st = parent.dataType match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"'$parentName' is ${other.simpleString}, not a struct — in-struct " +
          "rename applies to struct members only (X49)")
    }
    require(st.fieldNames.contains(leaf),
      s"no member '$leaf' in struct '$parentName'")
    require(!st.fieldNames.contains(to),
      s"struct '$parentName' already has a member '$to'")
    val toPath = (parentPath :+ to).mkString(".")
    require(!droppedColumns.contains(toPath),
      s"member '$toPath' was previously dropped or renamed away and files " +
        "still carry its old values — pick a fresh name")
    refuseExprRefs(from, "rename")
    val mapping = columnMapping()
    // the member's immutable physical leaf name: chains resolve through
    // the existing logical-path entry
    val phys = mapping.getOrElse(from, leaf)
    val renamed = IncrementalTable.mapStructField(prev, path)(f =>
      Some(f.copy(name = to)))
    val statsProp = tableProperties.get("graft.statsColumns")
      .filter(_.split(",").map(_.trim).exists(p =>
        p == from || p.startsWith(from + ".")))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { p =>
        if (p == from) toPath
        else if (p.startsWith(from + ".")) toPath + p.stripPrefix(from)
        else p
      }.mkString(","))
    // deeper channel entries under a renamed struct member follow it
    // (same shape as the top-level parent migration)
    val nestedFollow = mapping.toSeq.collect {
      case (k, v) if k.startsWith(from + ".") =>
        Seq(s"colmap/$toPath${k.stripPrefix(from)}" -> v, s"colmap/$k" -> "")
    }.flatten ++ metaChannel("dropped/").toSeq.collect {
      case (k, v) if k.startsWith(from + ".") =>
        s"dropped/$toPath${k.stripPrefix(from)}" -> v
    }
    commit(Commit(0, "meta", Nil, Nil, Map.empty, Nil,
      IncrementalTable.ddlOf(renamed),
      Map(
        s"colmap/$toPath" -> phys,
        s"colmap/$from" -> "",
        s"dropped/$from" -> latestVersion.toString) ++
        nestedFollow ++
        statsProp.map(v => "prop/graft.statsColumns" -> v),
      None, now()))
  }

  /** Table properties (`prop/<key>` metadata entries, latest value
    * wins, empty value = unset) — the TBLPROPERTIES channel of the
    * catalog front door. Reserved graft keys drive behavior, e.g.
    * `graft.statsColumns` (comma-separated) adds those columns to the
    * data-skipping index on every catalog/datasource write. */
  def tableProperties: Map[String, String] = metaChannel("prop/")

  /** Row tracking (X87, the Delta `delta.enableRowTracking` analog):
    * opt-in per table via `graft.rowTracking=true` — best set at
    * CREATE (files written before the flag carry no ids and read
    * null). */
  private def rowTracked: Boolean =
    tableProperties.get("graft.rowTracking").exists(_.toBoolean)

  /** Column NDV sketches (X88, VERDICT r8 #8): one HLL per
    * `graft.ndvColumns` column aggregated over the staged batch (ONE
    * extra column-pruned job — opt-in, the CBO tax), each UNIONed
    * driver-side with the channel's running sketch. Never shrinks, so
    * deletes leave NDV an overestimate — the safe direction for join
    * planning. Run by [[commitStaged]], so batch writes and the
    * streaming sink's epochs fold alike. */
  private def ndvMetaFor(stage: Path, staged: Seq[String],
      mapping: Map[String, String]): Map[String, String] = {
    val ndvCols0 = tableProperties.get("graft.ndvColumns").toSeq
      .flatMap(_.split(",")).map(_.trim)
      .filter(c => c.nonEmpty && !c.contains('.'))
    if (ndvCols0.isEmpty || staged.isEmpty) return Map.empty
    // hll_sketch_agg only accepts int/long/string/binary — a
    // double/decimal/boolean column in the property would otherwise
    // throw INSIDE every write and streaming epoch until unset
    // (ADVICE r9): filter with a warning instead of failing the
    // write path
    val schema = committedSchema
    val ndvCols = ndvCols0.filter { c =>
      val ok = schema.fields.find(_.name == c)
        .forall(f => IncrementalTable.ndvSupported(f.dataType))
      if (!ok) log.warn(s"table $root: graft.ndvColumns column '$c' has " +
        s"a type hll_sketch_agg does not support — skipping its NDV " +
        "sketch (unset or retype to silence)")
      ok
    }
    if (ndvCols.isEmpty) return Map.empty
    val stagedSchema = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(stage, staged.head), hadoopConf(spark)))
    val names = try stagedSchema.getFooter.getFileMetaData.getSchema
      .getFields.asScala.map(_.getName).toSet
    finally stagedSchema.close()
    val present = ndvCols.map(c => c -> physPath(c, mapping))
      .filter { case (_, p) => names.contains(p) }
    if (present.isEmpty) return Map.empty
    val aggs = present.map { case (_, p) =>
      org.apache.spark.sql.functions.expr(s"hll_sketch_agg(`$p`)") }
    val row = spark.read
      .parquet(staged.map(r => new Path(stage, r).toString): _*)
      .agg(aggs.head, aggs.tail: _*).head
    val prev = metaChannel("ndv/")
    present.zipWithIndex.flatMap { case ((c, _), i) =>
      if (row.isNullAt(i)) None
      else {
        val merged = IncrementalTable.unionHll(
          prev.get(c).map(java.util.Base64.getDecoder.decode),
          row.getAs[Array[Byte]](i))
        Some(s"ndv/$c" -> java.util.Base64.getEncoder.encodeToString(merged))
      }
    }.toMap
  }

  /** `meta` with each non-empty `ndv/` sketch unioned into the value
    * `current` holds for its key (HLL unions commute, so a re-union
    * never conflicts and repeating it is idempotent). */
  private def unionNdv(meta: Map[String, String],
      current: String => Option[String]): Map[String, String] = meta.map {
    case (k, v) if k.startsWith("ndv/") && v.nonEmpty =>
      k -> current(k).filter(_.nonEmpty).fold(v) { w =>
        val b64 = java.util.Base64.getDecoder
        java.util.Base64.getEncoder.encodeToString(
          IncrementalTable.unionHll(Some(b64.decode(w)), b64.decode(v)))
      }
    case kv => kv
  }

  // ---- X100: log-level bloom-filter file index ----------------------

  private def bloomIdxPath = new Path(logPath, "bloomidx")

  private def bloomIndexColumns: Seq[String] =
    tableProperties.get("graft.bloomIndexColumns").toSeq
      .flatMap(_.split(",")).map(_.trim)
      .filter(c => c.nonEmpty && !c.contains('.'))

  /** Per-FILE bloom-filter index harvest (X100, the Delta bloom-index
    * analog at LOG level): for each `graft.bloomIndexColumns` column,
    * one column-pruned job groups the staged rows by file and folds a
    * [[graft.functions.BloomAgg]] filter per file, written as a sidecar
    * parquet `_graft_log/bloomidx/<uuid>/` of (file, column, bits)
    * rows. The [min,max] index answers RANGE questions; on a
    * high-cardinality unclustered key (doc ids, urls, content hashes —
    * the 100 TB point-lookup reality) every file's span covers every
    * literal and minmax prunes nothing, while the bloom answers
    * membership directly: [[liveFilesWhere]] drops any file whose
    * filter provably misses every equality/IN point. Sidecars are
    * keyed by file name — rename-proof (physical column keys), commit-
    * log-truncation-proof, and consulted only for files still live, so
    * a failed write's sidecar is inert garbage until [[vacuum]]
    * reclaims dirs whose files are all unreferenced.
    *
    * Supported types: integrals (cast to long — one hash domain) and
    * strings (UTF-8 bytes, no ASCII restriction — hashes carry no
    * ordering assumption). Others warn-and-skip (ADVICE r9 precedent:
    * never fail the write path over a property).
    *
    * Scale shape: the harvest is ONE extra scan of the staged batch
    * (opt-in, the point-lookup tax), partial aggregation merges
    * split-local filters with a word-wise OR so a multi-split file
    * shuffles filter buffers, never rows; the sidecar write stays
    * distributed (never folds on the driver). */
  private def bloomSidecarFor(stage: Path, staged: Seq[String],
      mapping: Map[String, String]): Unit = {
    val cols0 = bloomIndexColumns
    if (cols0.isEmpty || staged.isEmpty) return
    val df0 = spark.read.parquet(staged.map(r => new Path(stage, r).toString): _*)
    val types = df0.schema.fields.map(f => f.name -> f.dataType).toMap
    val present = cols0.map(c => c -> physPath(c, mapping))
      .filter { case (_, p) => types.contains(p) }
      .filter { case (c, p) =>
        val ok = types(p) match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.StringType => true
          case _ => false
        }
        if (!ok) log.warn(s"table $root: graft.bloomIndexColumns column " +
          s"'$c' has type ${types(p).simpleString} — the bloom index " +
          "supports integral and string keys; skipping")
        ok
      }
    if (present.isEmpty) return
    val numItems = tableProperties.get("graft.bloomNumItems")
      .map(_.toLong).getOrElse(100000L)
    val fpp = tableProperties.get("graft.bloomFpp")
      .map(_.toDouble).getOrElse(0.03)
    import org.apache.spark.sql.functions.{col, element_at, explode, input_file_name, lit, map => mapFn, split}
    import org.apache.spark.sql.graftshim.DmlShim
    // rel path in-job: split on the stage dir's globally-unique uuid
    // segment — exact, no URI-prefix guessing; hive partition subdirs
    // ride along in the suffix
    val sep = java.util.regex.Pattern.quote("/" + stage.getName + "/")
    val aggs = present.map { case (_, p) =>
      val child = types(p) match {
        case org.apache.spark.sql.types.StringType => col(p)
        case _ => col(p).cast(org.apache.spark.sql.types.LongType)
      }
      DmlShim.column(graft.functions.BloomAgg(
        DmlShim.expression(child), numItems, fpp).toAggregateExpression()).as(p)
    }
    val perFile = df0
      .withColumn("file", element_at(split(input_file_name(), sep), 2))
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
    val melted = perFile.select(col("file"),
      explode(mapFn(present.flatMap { case (_, p) =>
        Seq(lit(p), col(p)) }: _*)).as(Seq("column", "bits")))
    melted.write.mode("overwrite")
      .parquet(new Path(bloomIdxPath, UUID.randomUUID().toString).toString)
  }

  /** Bloom-prune the survivor files against the sidecar index: for each
    * column with an extracted point set, a file whose filter misses
    * EVERY point cannot hold a matching row and drops. Files without an
    * entry (written before the property, unsupported type, or a clone's
    * foreign files) are conservatively kept. Runs as a metadata-plane
    * job over the sidecar rows — on the columnar-checkpoint path the
    * survivor set itself never folds on the driver first. */
  private def bloomPruneDF(survivors: org.apache.spark.sql.DataFrame,
      points: Map[String, Array[Long]]): org.apache.spark.sql.DataFrame = {
    if (points.isEmpty || !fs.exists(bloomIdxPath)) return survivors
    val dirs = fs.listStatus(bloomIdxPath).toSeq
      .filter(_.isDirectory).map(_.getPath.toString)
    if (dirs.isEmpty) return survivors
    import org.apache.spark.sql.functions.{col, lit, min, when}
    import org.apache.spark.sql.graftshim.DmlShim
    val idx = spark.read.schema(IncrementalTable.bloomIdxSchema)
      .parquet(dirs: _*)
      .filter(col("column").isin(points.keys.toSeq: _*))
    // per-entry membership: CASE on the entry's column; min() over a
    // file's entries = AND (every constrained, indexed column must
    // possibly contain one of its points)
    val ok = points.foldLeft(when(lit(false), lit(false))) {
      case (acc, (c, pairs)) =>
        acc.when(col("column") === lit(c), DmlShim.column(
          graft.functions.BloomMightContainAny(
            DmlShim.expression(col("bits")), pairs)))
    }.otherwise(lit(true))
    val pass = idx.groupBy("file").agg(min(ok).as("_bloom_ok"))
    survivors.join(pass, Seq("file"), "left")
      .filter(col("_bloom_ok").isNull || col("_bloom_ok"))
      .drop("_bloom_ok")
  }

  /** ANALYZE-style bloom-index retrofit (CALL graft.system.bloom_index):
    * build sidecar entries for the CURRENT live files in one
    * column-pruned job — the adoption path for tables that set
    * `graft.bloomIndexColumns` with data already in place, and for
    * shallow clones whose foreign files carry no local sidecar. The
    * in-plan file key mirrors [[relativizeUri]] exactly: decode the
    * scan's URI-rendered `_metadata.file_path` ('+' protected first —
    * url_decode is form-decoding, file paths are URI-encoded), strip
    * the root prefix for under-root files, keep foreign (clone) paths
    * absolute — so retrofit entries join the same log keys write-time
    * entries do. Columns missing from the data files (partition
    * columns; pre-evolution generations read them as null) simply
    * contribute no values — their files' filters answer "no non-null
    * value here", which is exactly right for equality pruning. */
  def buildBloomIndex(columns: Seq[String] = Nil): Unit = {
    val cols0 =
      (if (columns.nonEmpty) columns else bloomIndexColumns)
        .map(_.trim).filter(c => c.nonEmpty && !c.contains('.'))
    require(cols0.nonEmpty,
      "buildBloomIndex needs columns (argument or graft.bloomIndexColumns)")
    val live = liveFiles()
    if (live.isEmpty) return
    val mapping = columnMapping()
    val stored = committedSchema
    val present = cols0.filter(stored.fieldNames.contains)
      .map(c => c -> physPath(c, mapping))
      .filter { case (c, _) =>
        val ok = stored(c).dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.StringType => true
          case _ => false
        }
        if (!ok) log.warn(s"table $root: buildBloomIndex skipping '$c' — " +
          "the bloom index supports integral and string keys")
        ok
      }
    if (present.isEmpty) return
    val numItems = tableProperties.get("graft.bloomNumItems")
      .map(_.toLong).getOrElse(100000L)
    val fpp = tableProperties.get("graft.bloomFpp")
      .map(_.toDouble).getOrElse(0.03)
    import org.apache.spark.sql.functions.{col, explode, expr, lit, map => mapFn, regexp_replace, when}
    import org.apache.spark.sql.graftshim.DmlShim
    val rootDec = rootPath.toUri.getPath.stripSuffix("/") + "/"
    val df0 = rawFilesDf(live, Some(stored), mapping)
      .select(col("_graft_path").as("_graft_bp") +:
        present.map { case (_, p) => col(p) }: _*)
    val dec = expr("url_decode(" +
      "regexp_replace(regexp_replace(_graft_bp, '^[a-zA-Z][a-zA-Z0-9+.-]*:/+', '/')" +
      ", '\\\\+', '%2B'))")
    val key = when(dec.startsWith(rootDec),
      dec.substr(lit(rootDec.length + 1), lit(Int.MaxValue))).otherwise(dec)
    val aggs = present.map { case (c, p) =>
      val child = stored(c).dataType match {
        case org.apache.spark.sql.types.StringType => col(p)
        case _ => col(p).cast(org.apache.spark.sql.types.LongType)
      }
      DmlShim.column(graft.functions.BloomAgg(
        DmlShim.expression(child), numItems, fpp).toAggregateExpression()).as(p)
    }
    val perFile = df0.withColumn("file", key)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
    val melted = perFile.select(col("file"),
      explode(mapFn(present.flatMap { case (_, p) =>
        Seq(lit(p), col(p)) }: _*)).as(Seq("column", "bits")))
    melted.write.mode("overwrite")
      .parquet(new Path(bloomIdxPath, UUID.randomUUID().toString).toString)
  }

  /** Pre-hashed bloom points per PHYSICAL column from the extracted
    * bounds: flat [h1, h2, …] pairs, hashed once on the driver. The
    * hash domain mirrors the write side — longs for integral columns,
    * UTF-8 strings as-is. Date/timestamp point sets hash too but no
    * sidecar ever indexes those types, so they are never consulted. */
  private def bloomPoints(b: Map[String, DataSkipping.Bounds]): Map[String, Array[Long]] =
    b.flatMap { case (c, bd) =>
      val pairs: Option[Array[Long]] = (bd.eqLongs, bd.eqStrs) match {
        case (Some(ls), _) => Some(ls.toArray.flatMap { v =>
          val (h1, h2) = graft.functions.BloomBits.hashLong(v); Array(h1, h2) })
        case (_, Some(ss)) => Some(ss.toArray.flatMap { s =>
          val (h1, h2) = graft.functions.BloomBits.hashString(s); Array(h1, h2) })
        case _ => None
      }
      pairs.map(c -> _)
    }

  /** ANALYZE (X88): recompute the NDV sketches from the CURRENT live
    * data in one column-pruned scan and REPLACE the channel — the
    * retroactive path for tables that adopt `graft.ndvColumns` with
    * data already in place, and the reset that clears the
    * delete-overestimate the incremental union accumulates. `columns`
    * defaults to the table property. One metadata commit. */
  def analyzeNdv(columns: Seq[String] = Nil): Option[Commit] = {
    val cols0 =
      if (columns.nonEmpty) columns
      else tableProperties.get("graft.ndvColumns").toSeq
        .flatMap(_.split(",")).map(_.trim)
    val cols1 = cols0.filter(c => c.nonEmpty && !c.contains('.'))
    require(cols1.nonEmpty,
      "analyzeNdv needs columns (argument or the graft.ndvColumns property)")
    val stored = committedSchema
    cols1.foreach(c => require(stored.fieldNames.contains(c),
      s"analyzeNdv: unknown column '$c'"))
    val cols = cols1.filter { c =>
      val ok = IncrementalTable.ndvSupported(stored(c).dataType)
      if (!ok) log.warn(s"table $root: analyzeNdv skipping '$c' — type " +
        s"${stored(c).dataType.simpleString} unsupported by hll_sketch_agg")
      ok
    }
    if (cols.isEmpty) return None
    val aggs = cols.map(c =>
      org.apache.spark.sql.functions.expr(s"hll_sketch_agg(`$c`)"))
    val row = read().agg(aggs.head, aggs.tail: _*).head
    val meta = cols.zipWithIndex.map { case (c, i) =>
      s"ndv/$c" -> (if (row.isNullAt(i)) ""
        else java.util.Base64.getEncoder.encodeToString(
          row.getAs[Array[Byte]](i)))
    }.toMap
    Some(commitMeta(meta ++ analyzeHistograms(cols)))
  }

  /** Equi-height histograms for CBO (X93, VERDICT r9 #6): per integral
    * ANALYZE column, `numBins` percentile-bounded bins each carrying a
    * per-bin NDV — the skew-aware selectivity input Spark's
    * FilterEstimation consults when a ColumnStat carries a histogram
    * (NDV alone estimates every equality at rows/ndv, wildly wrong on
    * the Zipfian keys LLM corpora actually have). ANALYZE-only like
    * Spark's own `ANALYZE ... FOR COLUMNS`: bounds come from one
    * column-pruned `approx_percentile` job, per-bin NDVs from one
    * grouped job per column (the bin index is an O(numBins) fold over
    * the bounds array — fine for an explicit maintenance pass, never
    * on the write path). Stored in the `hist/` meta channel (follows
    * RENAME, rides clones/checkpoints); refreshed by the next ANALYZE,
    * same staleness contract as any engine's histograms. */
  private def analyzeHistograms(cols: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.functions.{aggregate => arrAgg, approx_count_distinct, array, col, expr, lit, when}
    val stored = committedSchema
    val histCols = cols.filter(c => stored(c).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      // STRING/BINARY keys (VERDICT r13 #6): bins live in the
      // DETERMINISTIC xxhash64 HASH SPACE (seed 42, the SQL function) —
      // equal values share a hash, so a Zipfian hot key concentrates
      // mass into singleton [h,h] bins exactly like a hot integer
      // does in literal space. Both join sides hash identically, so
      // JoinEstimation's bin-overlap math prices skewed string joins;
      // string-equality FILTER selectivity reads the same bins through
      // GraftCboStats' own override (Spark's FilterEstimation cannot
      // convert a string literal into histogram space).
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType => true
      case _ => false
    })
    if (histCols.isEmpty) return Map.empty
    def hx(c: String): String = stored(c).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType =>
        s"CAST(xxhash64(`$c`) AS DOUBLE)"
      case _ => s"CAST(`$c` AS DOUBLE)"
    }
    val nb = spark.conf.getOption("spark.sql.statistics.histogram.numBins")
      .map(_.toInt).getOrElse(64)
    val df0 = read()
    val fracs = (0 to nb).map(i => i.toDouble / nb)
    val pAggs = histCols.map(c =>
      expr(s"approx_percentile(${hx(c)}, array(${fracs.mkString(",")}), 10000)"))
    val cAggs = histCols.map(c =>
      org.apache.spark.sql.functions.count(col(c)))
    val prow = df0.agg(pAggs.head, (pAggs.tail ++ cAggs): _*).head
    histCols.zipWithIndex.flatMap { case (c, i) =>
      if (prow.isNullAt(i)) Some(s"hist/$c" -> "") // all-null: clear
      else {
        val bs = prow.getSeq[Any](i).map(_.toString.toDouble)
        val nonNull = prow.getLong(histCols.size + i)
        // bin index = how many INTERIOR bounds the value exceeds
        val interior = bs.slice(1, nb)
        val binCol = arrAgg(array(interior.map(lit): _*), lit(0),
          (acc, b) => acc + when(expr(hx(c)) > b, 1).otherwise(0))
        val ndvByBin = df0.filter(col(c).isNotNull)
          .groupBy(binCol.as("_b"))
          .agg(approx_count_distinct(expr(hx(c))).as("_ndv"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val height = nonNull.toDouble / nb
        val bins = (0 until nb).map(b =>
          s"${bs(b)},${bs(b + 1)},${ndvByBin.getOrElse(b, 1L)}")
        Some(s"hist/$c" -> s"$height|${bins.mkString(";")}")
      }
    }.toMap
  }

  /** The ANALYZE-committed equi-height histograms (X93):
    * column → (bin height, bins as (lo, hi, ndv)). */
  def columnHistograms(asOf: Option[Long] = None)
      : Map[String, (Double, Seq[(Double, Double, Long)])] =
    snapshotAt(asOf).channel("hist/").view.mapValues { v =>
      val Array(h, binsStr) = v.split("\\|", 2)
      val bins = binsStr.split(";").toIndexedSeq.map { b =>
        val Array(lo, hi, n) = b.split(",", 3)
        (lo.toDouble, hi.toDouble, n.toLong)
      }
      (h.toDouble, bins: Seq[(Double, Double, Long)])
    }.toMap

  /** Column NDV estimates (X88): per `graft.ndvColumns` column, the
    * estimate of the running HLL sketch folded at every commit. An
    * OVERESTIMATE after deletes (unions never shrink) — the safe
    * direction for CBO join planning. */
  def columnNdv(asOf: Option[Long] = None): Map[String, Long] =
    snapshotAt(asOf).channel("ndv/").view.mapValues { b64 =>
      Math.round(org.apache.datasketches.hll.HllSketch
        .heapify(java.util.Base64.getDecoder.decode(b64)).getEstimate)
    }.toMap

  /** SET/UNSET TBLPROPERTIES: metadata-only commit (empty value unsets). */
  def setProperties(props: Map[String, String]): Commit =
    commitMeta(props.map { case (k, v) => s"prop/$k" -> v })

  /** Snapshot tags (Iceberg-ref analog): name → pinned commit version,
    * riding the same `tag/<name>` metadata channel as properties —
    * atomic, replayable, checkpoint-folded. `VERSION AS OF '<name>'`
    * resolves through [[tags]] in the catalog front door.
    *
    * Tags are DURABLE reproducibility pins (X101, the Iceberg
    * expire-snapshots-honors-refs semantic): a tagged version stays
    * readable past the checkpoint replay horizon (snapshotAt folds
    * the never-deleted raw delta records — O(v) driver JSON parse, an
    * audit-path cost), and [[vacuum]] keeps every tagged snapshot's
    * files and in-force DV generations referenced until the tag is
    * dropped. The training-run contract: tag the exact corpus snapshot
    * a run trained on; arbitrary later rewrites, compactions, and
    * vacuums cannot invalidate it. */
  def tags: Map[String, Long] =
    metaChannel("tag/").view.mapValues(_.toLong).toMap

  /** Create/move a tag (metadata-only commit). */
  def setTag(name: String, version: Long): Commit = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag name '$name' must not be purely numeric (ambiguous with a version)")
    require(version >= 0 && version <= latestVersion,
      s"tag '$name' pins version $version outside [0, $latestVersion]")
    commitMeta(Map(s"tag/$name" -> version.toString))
  }

  /** Delete a tag (tombstone commit). Requires the tag to exist — a
    * typo'd untag must not silently "succeed" while the real tag
    * stays resolvable. */
  def dropTag(name: String): Commit = {
    require(tags.contains(name),
      s"no tag '$name' on $root (tags: ${tags.keys.mkString(", ")})")
    commitMeta(Map(s"tag/$name" -> ""))
  }

  /** ADD CONSTRAINT (Delta CHECK-constraint analog; NOT NULL is
    * `CHECK (col IS NOT NULL)`). Existing rows are validated first —
    * one short-circuiting job — then every subsequent write enforces
    * the check INSIDE its write scan (an `assert_true` filter: no
    * extra pass, a violating row fails the write before anything
    * commits). SQL semantics: NULL check results pass; only FALSE
    * violates.
    *
    * TOCTOU note (ADVICE r4 #4): validation reads a snapshot, then the
    * constraint publishes as a meta commit — and meta commits never
    * conflict under OCC, so a concurrent writer can land violating
    * rows between the two, leaving standing data that violates the
    * new CHECK. Acceptable under the documented single-writer contract
    * (DDL is administrative); multi-writer deployments should quiesce
    * writes around addConstraint or re-validate afterwards. */
  def addConstraint(name: String, check: String): Commit = {
    require(name.nonEmpty && check.nonEmpty, "constraint needs a name and an expression")
    val e = org.apache.spark.sql.functions.expr(check)
    if (exists)
      require(read().filter(org.apache.spark.sql.functions.not(e)).limit(1).count() == 0,
        s"existing rows violate CHECK constraint '$name': $check")
    commitMeta(Map(s"constraint/$name" -> check))
  }

  /** DROP CONSTRAINT: subsequent writes stop enforcing `name`. */
  def dropConstraint(name: String): Commit =
    commitMeta(Map(s"constraint/$name" -> ""))

  /** Enforce active constraints inside the write scan: `assert_true`
    * wrapped in a filter is evaluated per row as the stage writes — a
    * violation fails the job with the constraint's name before any
    * commit publishes; zero cost beyond the row-level predicate when
    * constraints exist, zero entirely when none do. */
  /** GENERATED + IDENTITY column handling at the one write choke point
    * (X83/X84). Generated columns: computed when the frame omits them,
    * VERIFIED null-safe when it carries them (a rewrite passes
    * trivially; an UPDATE that moved a base column without re-deriving
    * fails loudly instead of de-synchronizing). Identity columns:
    * `GENERATED ALWAYS` refuses caller-supplied values on USER-FACING
    * writes — append, replaceWhere / INSERT OVERWRITE, dynamic replace
    * (a rewrite's pass-through values are not "supplied" — internal
    * replace/update rewrites carry existing rows and pass
    * `userWrite = false`); NULL slots are minted densely from
    * the committed high-water via one zipWithIndex pass (the only
    * extra job identity tables pay), unique across commits because the
    * advanced high-water rides this commit's meta and OCC-conflicts
    * any concurrent minter. Gaps on aborted batches and explicit
    * BY-DEFAULT inserts are allowed — the identity contract. */
  private def prepareDerivedColumns(df: DataFrame, userWrite: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, coalesce, expr, lit}
    val gens = generatedColumns()
    val ids = identityColumns()
    if (gens.isEmpty && ids.isEmpty) return df
    var d = df
    gens.foreach { case (g, e) =>
      if (!d.columns.contains(g)) d = d.withColumn(g, expr(e))
      else {
        // a SQL INSERT omitting the column arrives NULL-filled (the
        // default-capability analyzer), not absent: NULL slots compute,
        // carried values verify (null-safe, loud)
        d = d.withColumn(g, coalesce(d(g), expr(e)))
        d = d.filter(coalesce(
          assert_true(d(g) <=> expr(e),
            lit(s"generated column '$g' diverges from its expression ($e) — " +
              "re-derive it when changing a base column")),
          lit(true)))
      }
    }
    if (ids.nonEmpty) {
      val stored = committedSchemaAt().getOrElse(new StructType())
      ids.foreach { case (c, spec) =>
        if (!d.columns.contains(c))
          d = d.withColumn(c, lit(null).cast(stored(c).dataType))
        else if (!spec.allowExplicit && userWrite)
          d = d.filter(coalesce(
            assert_true(d(c).isNull,
              lit(s"identity column '$c' is GENERATED ALWAYS — values " +
                "cannot be supplied; omit the column (or create it " +
                "BY DEFAULT)")),
            lit(true)))
      }
      // one shared dense sequence mints every identity column's NULL
      // slots; explicit BY-DEFAULT values pass through (their slot is
      // skipped — a gap, which identity allows)
      val seqCol = "_graft_idseq"
      val sch = d.schema
      val indexed = spark.createDataFrame(
        d.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
        },
        sch.add(seqCol, org.apache.spark.sql.types.LongType))
      d = ids.foldLeft(indexed) { case (acc, (c, spec)) =>
        val next = identityHighWater(c).map(_ + spec.step).getOrElse(spec.start)
        acc.withColumn(c, coalesce(acc(c),
          (lit(next) + acc(seqCol) * lit(spec.step)).cast(stored(c).dataType)))
      }.drop(seqCol)
    }
    d
  }

  private def constraintGuard(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, coalesce, expr, lit}
    constraints.foldLeft(df) { case (d, (name, check)) =>
      d.filter(coalesce(
        assert_true(coalesce(expr(check), lit(true)),
          lit(s"CHECK constraint '$name' violated: $check")),
        lit(true)))
    }
  }

  /** Metadata-only commit (cursor/watermark advance with no data). */
  def commitMeta(meta: Map[String, String], batchId: Option[Long] = None,
      appId: Option[String] = None): Commit = {
    val schema = snapshot.schemaDdl
    commit(Commit(0, "meta", Nil, Nil, Map.empty, Nil, schema, meta, batchId, now(),
      appId = appId))
  }

  /** CREATE TABLE: commit the schema + partition layout with zero data
    * files, so the table *exists* (readable as an empty frame of
    * exactly this schema, appendable under the committed layout) before
    * any row lands — the catalog front door's `CREATE TABLE` verb
    * ([[graft.sources.GraftCatalog]]). `meta` carries table properties
    * (`prop/<key>` entries, same channel as constraints). Subsequent
    * appends evolve the schema add-column-only as usual. */
  def create(schema: StructType, partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty,
      // Hidden partitioning (X77): derived partition column → transform
      // spec (`days(ts)`, `bucket(8,id)`, `truncate(4,s)`); the derived
      // column must appear in `partitionBy` and must NOT be a schema
      // column — its value is a pure function of the base column,
      // computed at every write and never stored in data files.
      transforms: Map[String, String] = Map.empty): Commit = {
    require(!exists, s"graft table $root already exists")
    require(schema.nonEmpty, "CREATE TABLE needs at least one column")
    transforms.keys.foreach(p => require(partitionBy.contains(p),
      s"transform partition column '$p' is not in partitionBy"))
    partitionBy.foreach { p =>
      transforms.get(p) match {
        case Some(spec) =>
          require(!schema.fieldNames.contains(p),
            s"derived partition column '$p' must not be a schema column " +
              "(hidden partitioning derives it from the base column)")
          PartitionTransform.parse(spec, schema) // validates base + type, loud
        case None => require(schema.fieldNames.contains(p),
          s"partition column '$p' is not in the schema")
      }
    }
    // column DEFAULTs (X79): harvest Spark's CURRENT_DEFAULT metadata
    // (the rendering `CREATE TABLE (c INT DEFAULT 5)` arrives under)
    // into the `default/` channel — toDDL drops field metadata, so the
    // channel is the committed source of truth
    val defaults = schema.fields.toIndexedSeq.flatMap { f =>
      if (f.metadata.contains("CURRENT_DEFAULT")) {
        val sql = f.metadata.getString("CURRENT_DEFAULT")
        IncrementalTable.validateDefault(f.name, f.dataType, sql)
        Some(s"default/${f.name}" -> sql)
      } else None
    }
    // IDENTITY columns (X83): harvest Spark's identity metadata (the
    // rendering `id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH s
    // INCREMENT BY st)` arrives under) into the `identity/` channel —
    // toDDL drops field metadata, so the channel is the committed
    // source of truth, same contract as X79 defaults.
    val idKey = org.apache.spark.sql.catalyst.util.IdentityColumn
    val identities = schema.fields.toIndexedSeq.flatMap { f =>
      if (f.metadata.contains(idKey.IDENTITY_INFO_START)) {
        val start = f.metadata.getLong(idKey.IDENTITY_INFO_START)
        val step = f.metadata.getLong(idKey.IDENTITY_INFO_STEP)
        val allow = f.metadata.getBoolean(idKey.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)
        require(step != 0, s"identity column '${f.name}': INCREMENT BY 0")
        f.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => ()
          case other => throw new IllegalArgumentException(
            s"identity column '${f.name}' must be integral (got " +
              s"${other.simpleString})")
        }
        require(!f.metadata.contains("CURRENT_DEFAULT"),
          s"column '${f.name}' cannot be both IDENTITY and DEFAULTed")
        Some(s"identity/${f.name}" -> s"$start,$step,$allow")
      } else None
    }
    // GENERATED columns (X84): harvest the generation expression into
    // the `genexpr/` channel; validate it NOW (parse, deterministic,
    // references only plain schema columns, exact result type) — a
    // lazily-invalid expression would fail every future write.
    val genKey = org.apache.spark.sql.catalyst.util.GeneratedColumn
      .GENERATION_EXPRESSION_METADATA_KEY
    val reservedGen = schema.fields.filter(f =>
      f.metadata.contains(genKey) ||
        f.metadata.contains(idKey.IDENTITY_INFO_START)).map(_.name).toSet
    val generated = schema.fields.toIndexedSeq.flatMap { f =>
      if (f.metadata.contains(genKey)) {
        val sql = f.metadata.getString(genKey)
        val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(sql)
        require(parsed.deterministic,
          s"generated column '${f.name}': expression '$sql' is " +
            "non-deterministic")
        val refs = parsed.collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.head
        }.toSet
        refs.foreach { r =>
          require(schema.fieldNames.contains(r),
            s"generated column '${f.name}': expression references " +
              s"unknown column '$r'")
          require(!reservedGen.contains(r),
            s"generated column '${f.name}': expression may only " +
              s"reference plain columns (got generated/identity '$r')")
        }
        // analyze against an empty frame of the plain columns: loud
        // resolution + exact type agreement at CREATE time
        val plain = StructType(schema.fields.filterNot(x =>
          reservedGen.contains(x.name)))
        val got = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], plain)
          .select(org.apache.spark.sql.functions.expr(sql)).schema.head.dataType
        require(got.catalogString == f.dataType.catalogString,
          s"generated column '${f.name}' is ${f.dataType.simpleString} but " +
            s"'$sql' produces ${got.simpleString}; cast inside the expression")
        require(!f.metadata.contains("CURRENT_DEFAULT"),
          s"column '${f.name}' cannot be both GENERATED and DEFAULTed")
        Some(s"genexpr/${f.name}" -> sql)
      } else None
    }
    commit(Commit(0, "append", Nil, Nil, Map.empty, partitionBy,
      IncrementalTable.ddlOf(schema),
      meta ++ transforms.map { case (p, s) => s"ptransform/$p" -> s } ++
        defaults ++ identities ++ generated,
      None, now()))
  }

  /** Partition spec evolution (X81, the Iceberg spec-evolution analog):
    * change the table's partition layout as ONE metadata commit — zero
    * files rewritten at any size. Files already written keep their old
    * directory shape; subsequent writes (inserts, DML rewrites,
    * compaction, streaming sinks) route under the new layout through
    * the one write choke point. Reads stay exact over the mixed window
    * because every per-file decision is keyed by the file's OWN dir
    * tokens: transform/dir pruning conservatively KEEPS a file that
    * lacks the current spec's token ([[TokenBound.keeps]] on None), the
    * scan groups files by dir shape so Spark's partition-discovery
    * never sees two layouts in one reader, and the operations whose
    * METADATA-ONLY answer would need tokens the old files don't have —
    * exact partition-filter reads, `replaceWhere`, `dynamicReplace`,
    * logical-partition compaction — refuse loudly until [[compact]]
    * (full, or the per-dir [[compactIfNeeded]] path, which migrates
    * old-spec dirs as it touches them) rewrites the stragglers under
    * the current spec. Predicate reads ([[readWhere]]) never refuse:
    * pruning is conservative and the predicate re-applies in full.
    *
    * A transform leaving the layout is RETIRED, not erased: its name
    * keeps a `retired:<spec>` channel entry forever (old dirs still
    * carry its tokens), so re-introducing the name with different
    * semantics — as a transform with another spec or as a schema
    * column — is refused; re-adding the SAME spec re-activates it.
    * Evolving to an unpartitioned layout is refused (the layout fold
    * cannot represent it); identity columns must be live schema
    * columns. Concurrent writers planned against the old layout fail
    * their OCC retry (an `evolve` winner conflicts with every
    * non-meta commit) instead of silently resurrecting it.
    *
    * Reference analog: the weekly/daily grain split baked into
    * physical paths (partitions.py:16-24) is the rigidity this verb
    * removes — a grain change there means a new asset tree. */
  def evolvePartitioning(partitionBy: Seq[String],
      transforms: Map[String, String] = Map.empty): Commit = {
    require(exists, s"graft table $root does not exist")
    val schema = committedSchemaAt().getOrElse(new StructType())
    require(partitionBy.nonEmpty,
      "evolving to an unpartitioned layout is not supported — a full " +
        "compact() keeps the layout; migrate via CTAS to flatten")
    require(partitionBy.distinct == partitionBy,
      s"duplicate partition column in (${partitionBy.mkString(", ")})")
    transforms.keys.foreach(p => require(partitionBy.contains(p),
      s"transform partition column '$p' is not in partitionBy"))
    val current = committedPartitionBy
    val curTs = partitionTransforms()
    val retired = retiredTransforms
    require(partitionBy != current ||
        transforms != curTs.map { case (k, t) => k -> t.spec },
      "evolvePartitioning to the current layout is a no-op")
    partitionBy.foreach { p =>
      transforms.get(p) match {
        case Some(spec) =>
          require(!schema.fieldNames.contains(p),
            s"derived partition column '$p' must not be a schema column " +
              "(hidden partitioning derives it from the base column)")
          PartitionTransform.parse(spec, schema) // validates base + type, loud
          (curTs.get(p).map(_.spec).toSeq ++ retired.get(p)).foreach(old =>
            require(old == spec,
              s"derived partition column '$p' previously carried transform " +
                s"$old — live dirs still hold its tokens, so the name cannot " +
                s"mean $spec; pick a fresh derived name"))
        case None =>
          require(schema.fieldNames.contains(p),
            s"partition column '$p' is not in the schema")
          require(!curTs.contains(p) && !retired.contains(p),
            s"'$p' is (or was) a derived partition column — its dir tokens " +
              "are transform outputs, not column values")
      }
    }
    // retire transforms leaving the layout; (re-)activate incoming ones
    val retirals = curTs.collect {
      case (name, t) if !transforms.contains(name) =>
        s"ptransform/$name" -> s"${IncrementalTable.RetiredSpec}${t.spec}"
    }
    val activations = transforms.collect {
      case (name, spec) if curTs.get(name).map(_.spec) != Some(spec) =>
        s"ptransform/$name" -> spec
    }
    val schemaDdl = snapshot.schemaDdl
    commit(Commit(0, "evolve", Nil, Nil, Map.empty, partitionBy, schemaDdl,
      retirals ++ activations +
        ("prop/" + IncrementalTable.SpecEvolvedProp -> "1"),
      None, now()))
  }

  /** True once the table's partition spec has ever evolved — the signal
    * that partition-addressed metadata operations must first prove the
    * live set uniformly encodes the tokens they scope by. Rides the
    * `prop/` channel: survives checkpoints, visible in SHOW
    * TBLPROPERTIES, carried by shallow clones. */
  private def specEvolved: Boolean =
    tableProperties.contains(IncrementalTable.SpecEvolvedProp)

  /** Refuse a partition-addressed operation whose dir-token scope some
    * live file (as of `asOf`) does not encode — the one place mixed
    * partition specs could silently mis-scope (a file written under an
    * old layout carries no `k=` token, so token matching can neither
    * include nor exclude it). No-op on never-evolved tables (zero cost
    * on the common path) and on empty scopes. */
  private def requireUniformSpec(keys: Iterable[String], op: String,
      asOf: Option[Long] = None): Unit = {
    val ks = keys.toSeq.distinct
    if (ks.isEmpty || !specEvolved) return
    val offender: Option[String] = snapshotAt(asOf).base match {
      case Some(_) =>
        import spark.implicits._
        val missing = ks.map(k => !IncrementalTable.hasSegExpr(k))
          .reduce(_ || _)
        liveRowsDF(Map.empty, asOf).filter(missing)
          .select("file").as[String].limit(1).collect().headOption
      case None =>
        liveFiles(Map.empty, asOf).find(f =>
          !ks.forall(IncrementalTable.hiveSegments(f).contains))
    }
    offender.foreach(f => throw new IllegalStateException(
      s"$op addresses partition token(s) (${ks.mkString(", ")}), but the " +
        s"partition spec evolved and live file '$f' was written under a " +
        "layout that does not encode them — compact() to rewrite files " +
        "under the current spec, or use a predicate read (readWhere), " +
        "which stays exact over mixed specs"))
  }

  /** ALTER TABLE ADD COLUMNS: extend the committed schema with new
    * nullable columns via a metadata-only commit — existing files read
    * them as null, exactly like write-side add-column evolution
    * ([[mergedSchema]]); rejects columns that already exist and nested
    * additions (in-struct evolution is a type change, X49). */
  def addColumns(additions: StructType): Commit =
    alter(additions = additions)

  /** ALTER TABLE as ONE atomic metadata commit: schema additions AND
    * drops, property sets/unsets, and constraint adds/drops all
    * validate FIRST (column existence, existing-row CHECK validation,
    * dropped-constraint existence), then publish together in a single
    * commit — a mid-sequence failure (constraint validation, OCC
    * conflict) leaves the table unchanged instead of half-altered
    * (ADVICE r6). Every other DDL/DML verb is already one commit;
    * this keeps ALTER TABLE on the same contract.
    *
    * DROP COLUMN is a committed-schema PROJECTION (Delta column-mapping
    * economics without the mapping: zero data rewritten) — reads
    * resolve through the committed schema, so existing files' physical
    * column simply stops being read; time travel to a pre-drop version
    * still shows it; the skipping index's entries for the column go
    * unused (predicates can no longer name it) and fall away as
    * compaction rewrites files. The dropped NAME is tombstoned in the
    * `dropped/` metadata channel and can never be re-added — old files
    * still carry its bytes, and a re-add would resurface stale values
    * as live data. RENAME is likewise rejected (it is a drop+re-add in
    * disguise); migrate either via CTAS:
    * `CREATE TABLE new … AS SELECT <cols with new names> FROM old`. */
  def alter(additions: StructType = new StructType(),
      drops: Seq[String] = Nil,
      widen: Map[String, DataType] = Map.empty,
      props: Map[String, String] = Map.empty,
      addConstraints: Map[String, String] = Map.empty,
      dropConstraints: Seq[String] = Nil,
      // IN-STRUCT ADD COLUMN (X73): (path to the containing struct,
      // new field) — the X3 add-column contract one nesting level
      // down. Metadata-only: parquet resolves struct members BY NAME,
      // so files written before the field existed read it as null
      // (both Spark's vectorized reader and the RowParquet streaming
      // bridge null-fill missing nested leaves); the skipping index
      // simply has no entry for the new leaf in old files, so pruning
      // stays conservative. Subsequent writes must carry the FULL new
      // struct shape (a narrower struct is a loud type mismatch, the
      // Delta-without-autoMerge contract). In-struct DROP/RENAME/type
      // changes remain rejected (X49).
      nestedAdditions: Seq[(Seq[String], org.apache.spark.sql.types.StructField)] = Nil,
      // column DEFAULTs for columns in `additions` (X79): the literal
      // becomes both the existence default (old files read it instead
      // of null) and the current default (INSERTs omitting the column
      // get it) — set only at ADD COLUMN time, never changed after
      defaults: Map[String, String] = Map.empty): Commit = {
    val prev = committedSchemaAt().getOrElse(throw new IllegalStateException(
      s"table $root has no committed schema to alter"))
    // ALTER COLUMN TYPE, widening-only (the Delta typeWidening set):
    // metadata-only — parquet's reader up-converts narrower physical
    // types under the committed schema (int32→int64, float→double,
    // exact by construction), the integral stats index's Long bounds
    // stay valid verbatim, and future writes land the wider type.
    // Narrowing / lossy changes (long→int, long→double, anything
    // string-ward) are rejected: existing values would silently
    // corrupt. Top-level columns only (in-struct is a type change,
    // X49).
    widen.foreach { case (n, to) =>
      // X86: `n` may be a dot-path to a struct member — the X68
      // lossless rules apply unchanged (the parquet reader up-converts
      // nested leaves with the same column readers as top-level ones)
      val f =
        if (n.contains('.'))
          IncrementalTable.structFieldAt(prev, n.split('.').toIndexedSeq)
            .getOrElse(throw new IllegalArgumentException(
              s"no column '$n' to widen"))
        else prev.fields.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(s"no column '$n' to widen"))
      require(IncrementalTable.widens(f.dataType, to),
        s"ALTER COLUMN '$n' ${f.dataType.simpleString} -> ${to.simpleString} " +
          "is not a lossless widening (supported: byte/short/int up the " +
          "integral chain, float->double, byte/short/int->double)")
      // a partition transform's dir tokens are a function of the base
      // column's TYPE (bucket hashes int and long differently) — a
      // widened base would silently route new rows into different dirs
      partitionTransforms().values.find(_.base == n).foreach(t =>
        throw new IllegalArgumentException(
          s"cannot widen '$n': it is the base of partition transform " +
            s"${t.spec} (dir tokens are type-dependent); migrate via CTAS"))
    }
    val tombstoned = droppedColumns
    additions.fields.foreach { f =>
      require(!prev.fieldNames.contains(f.name),
        s"column '${f.name}' already exists")
      require(!tombstoned.contains(f.name),
        s"column '${f.name}' was previously dropped and files still carry " +
          "its old values — re-adding would resurface them as live data; " +
          "migrate via CTAS")
      require(!reservedDirNames.contains(f.name),
        s"column '${f.name}' is (or was) a derived partition column " +
          "(X77/X81) — a schema column of that name would shadow the " +
          "dir tokens live files still carry")
    }
    drops.foreach { n =>
      if (n.contains('.')) {
        // X86 in-struct DROP: a committed-schema projection one level
        // down — the parquet by-name reader simply stops requesting
        // the member; the path tombstones below like any drop
        require(IncrementalTable.structFieldAt(prev,
            n.split('.').toIndexedSeq).isDefined, s"no column '$n' to drop")
        refuseExprRefs(n, "drop", dropConstraints.toSet)
      } else {
        require(prev.fieldNames.contains(n), s"no column '$n' to drop")
        require(!committedPartitionBy.contains(n),
          s"cannot drop partition column '$n' (it defines the table layout)")
        partitionTransforms().values.find(_.base == n).foreach(t =>
          throw new IllegalArgumentException(
            s"cannot drop '$n': it is the base of partition transform ${t.spec}"))
        generatedColumns().foreach { case (g, e) =>
          if (g != n) {
            val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(e).collect {
                case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                  ua.nameParts.head
              }.toSet
            require(!refs.contains(n),
              s"cannot drop '$n': generated column '$g' derives from it " +
                s"(expression: $e) — drop '$g' first")
          }
        }
      }
    }
    if (drops.nonEmpty)
      (constraints -- dropConstraints).foreach { case (cn, check) =>
        val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(check).collect {
            case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              ua.nameParts.head
          }.toSet
        drops.foreach(n => require(!refs.contains(n),
          s"CHECK constraint '$cn' references dropped column '$n' — " +
            "drop the constraint first"))
      }
    addConstraints.foreach { case (name, check) =>
      require(name.nonEmpty && check.nonEmpty,
        "constraint needs a name and an expression")
      // an added CHECK referencing a column dropped in the SAME alter
      // would validate against the pre-drop read and then fail every
      // subsequent write's resolution — reject up front (ADVICE r7)
      if (drops.nonEmpty) {
        val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(check).collect {
            case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              ua.nameParts.head
          }.toSet
        drops.foreach(n => require(!refs.contains(n),
          s"new CHECK constraint '$name' references column '$n' dropped " +
            "in the same ALTER"))
      }
      val e = org.apache.spark.sql.functions.expr(check)
      if (exists)
        require(read().filter(org.apache.spark.sql.functions.not(e)).limit(1).count() == 0,
          s"existing rows violate CHECK constraint '$name': $check")
    }
    dropConstraints.foreach(n => require(constraints.contains(n),
      s"no constraint '$n' on $root"))
    val (nestedDrops, topDrops) = drops.partition(_.contains('.'))
    val (nestedWiden, topWiden) = widen.partition(_._1.contains('.'))
    val remaining = prev.fields.filterNot(f => topDrops.contains(f.name))
      .map(f => topWiden.get(f.name).fold(f)(to => f.copy(dataType = to)))
    require(remaining.nonEmpty, "cannot drop every column")
    val afterNestedDml = nestedWiden.foldLeft(
      nestedDrops.foldLeft(StructType(remaining)) { case (s, p) =>
        IncrementalTable.mapStructField(s, p.split('.').toIndexedSeq)(_ => None)
      }) { case (s, (p, to)) =>
        IncrementalTable.mapStructField(s, p.split('.').toIndexedSeq)(f =>
          Some(f.copy(dataType = to)))
      }
    val withNested = nestedAdditions.foldLeft(afterNestedDml) {
      case (s, (path, field)) =>
        require(path.nonEmpty, "nested addition needs a struct path")
        val full = (path :+ field.name).mkString(".")
        require(!droppedColumns.contains(full),
          s"member '$full' was previously dropped or renamed away and " +
            "files still carry its old values — re-adding would resurface " +
            "them as live data; pick a fresh name")
        IncrementalTable.addStructField(s, path, field.copy(nullable = true))
    }
    val merged = StructType(withNested.fields ++
      additions.fields.map(_.copy(nullable = true)))
    defaults.foreach { case (n, sql) =>
      val f = additions.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"DEFAULT for '$n' must ride the ADD COLUMN that creates it " +
            "(SET/DROP DEFAULT on existing columns is not supported — " +
            "EXISTS and CURRENT defaults would diverge)"))
      IncrementalTable.validateDefault(n, f.dataType, sql)
    }
    val activeDefaults = columnDefaults()
    val meta = props.map { case (k, v) => s"prop/$k" -> v } ++
      addConstraints.map { case (n, c) => s"constraint/$n" -> c } ++
      dropConstraints.map(n => s"constraint/$n" -> "") ++
      drops.map(n => s"dropped/$n" -> latestVersion.toString) ++
      drops.filter(activeDefaults.contains).map(n => s"default/$n" -> "") ++
      defaults.map { case (n, sql) => s"default/$n" -> sql } ++
      drops.filter(identityColumns().contains).map(n => s"identity/$n" -> "") ++
      drops.filter(generatedColumns().contains).map(n => s"genexpr/$n" -> "")
    commit(Commit(0, "meta", Nil, Nil, Map.empty, Nil,
      IncrementalTable.ddlOf(merged),
      meta, None, now()))
  }

  /** Column names ever dropped from this table (the `dropped/` channel)
    * — permanently reserved: see [[alter]]'s DROP COLUMN contract. */
  def droppedColumns: Set[String] = metaChannel("dropped/").keySet

  /** Commit files ALREADY STAGED by a DSv2 streaming write's executors
    * ([[graft.sources.GraftStreamingWrite]]): the driver-side half of
    * the streaming epoch commit. What is specific to an epoch happens
    * here: the (appId, batchId) guard makes a replayed epoch a no-op
    * that drops its stage, and CHECK constraints validate against the
    * staged batch BEFORE anything moves. The rest is [[commitStaged]],
    * the commit path of every batch write after its stage — layout
    * guard, footer-harvested skipping index, NDV / bloom sidecars,
    * promote, publish, and [[lastWriteTiming]] (with stage 0 ms: the
    * executors staged inside the query's own job). Only `rels` (the
    * task-reported file list) is committed; anything else in the stage
    * dir is a speculative/retried task's orphan and goes with the dir.
    * `replace` commits a full atomic overwrite instead of an append
    * (the Complete-output-mode shape); `upsertKeys` puts the epoch's
    * keys in force as an equality delete inside the epoch's commit, as
    * [[upsertByKey]] does. */
  def commitStagedStream(stage: Path, rels: Seq[String], incoming: StructType,
      partitionBy: Seq[String], replace: Boolean, batchId: Long,
      appId: String, statsColumns: Seq[String] = Nil,
      // X105 streaming MOR upsert: the exactly-once CDC-upsert sink
      // (`.option("upsertKeys", "id")`)
      upsertKeys: Seq[String] = Nil): Option[Commit] = {
    require(upsertKeys.isEmpty || !replace,
      "upsertKeys and Complete-mode truncate are mutually exclusive")
    if (hasBatch(batchId, Some(appId))) {
      fs.delete(stage, true) // replayed epoch: stage is redundant
      return None
    }
    val tWrite0 = System.nanoTime()
    // the staged batch as a logical frame: files carry PHYSICAL names,
    // basePath restores the dir-encoded partition values
    def stagedBatch: DataFrame = {
      val mapping = columnMapping()
      spark.read.option("basePath", stage.toString)
        .schema(physicalSchema(incoming, mapping))
        .parquet(rels.map(r => new Path(stage, r).toString): _*)
        .select(incoming.fields.toIndexedSeq.map(logicalCol(_, mapping)): _*)
    }
    // IDENTITY / GENERATED columns (VERDICT r8 #7): minting and
    // verification live at the batch write choke point, which the
    // executor-staged fast path skips — so these tables take a
    // driver-side detour: the staged batch (already enumerated,
    // hive-routed) is read back and re-committed THROUGH the choke
    // point — one extra Spark job per epoch, the price of minting —
    // under the same (appId, batchId) replay guard, so exactly-once
    // holds identically. Every other table keeps the zero-replan path.
    if (rels.nonEmpty &&
        (identityColumns().nonEmpty || generatedColumns().nonEmpty || rowTracked)) {
      val staged = stagedBatch
      val out =
        if (replace)
          replaceWhere(staged, partitionBy, Map.empty, Map.empty,
            batchId = Some(batchId), appId = Some(appId),
            statsColumns = statsColumns)
        else if (upsertKeys.nonEmpty)
          upsertByKey(staged, upsertKeys, partitionBy,
            batchId = Some(batchId), appId = Some(appId),
            statsColumns = statsColumns)
        else append(staged, partitionBy, batchId = Some(batchId),
          appId = Some(appId), statsColumns = statsColumns)
      fs.delete(stage, true)
      return out
    }
    if (rels.nonEmpty && constraints.nonEmpty) {
      // validate the staged batch exactly as the batch path's in-scan
      // guard would — a violation aborts before any file moves
      val staged = stagedBatch
      constraints.foreach { case (name, check) =>
        val e = org.apache.spark.sql.functions.expr(check)
        require(staged.filter(org.apache.spark.sql.functions.not(e))
            .limit(1).count() == 0,
          s"CHECK constraint '$name' violated by streaming batch $batchId: $check")
      }
    }
    // one listing of the stage dir, kept to the reported files
    val reported = rels.toSet
    val stagedFiles =
      if (rels.isEmpty) Seq.empty
      else listParquet(fs, stage).map { case (p, len, mtime) =>
        (relativize(stage, p), len, mtime)
      }.filter(f => reported(f._1))
    require(stagedFiles.size == reported.size,
      s"streaming batch $batchId: reported files missing from $stage: " +
        (reported -- stagedFiles.map(_._1)).mkString(", "))
    val out = commitStaged(stage, stagedFiles, incoming, stageMs = 0.0, tWrite0,
      if (replace) "replace" else "append", partitionBy, Map.empty, Map.empty,
      Some(batchId), Some(appId), statsColumns = statsColumns,
      eqDeleteKeys = upsertKeys)
    if (upsertKeys.nonEmpty && out.isDefined) maybeAutoApplyEqDeletes()
    out
  }

  private def write(df: DataFrame, action: String, partitionBy: Seq[String],
      partitionValues: Map[String, String], partitionFilter: Map[String, String],
      meta: Map[String, String], batchId: Option[Long],
      appId: Option[String] = None, dynamic: Boolean = false,
      statMeta: Seq[StatMeta] = Nil,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      removeExact: Option[Seq[String]] = None,
      // merge-on-read UPDATE (X82): deletion-vector attachments that
      // ride the SAME commit as the staged adds — the one-commit
      // shadow-and-reinsert shape
      extraDv: Map[String, Seq[String]] = Map.empty,
      // true only on user-facing entry points (append, replaceWhere /
      // INSERT OVERWRITE, dynamic replace): GENERATED ALWAYS identity
      // columns refuse supplied values there; internal rewrites carry
      // existing rows through untouched
      userWrite: Boolean = false,
      // write-audit-publish (X98): when set, the files are written and
      // promoted normally but the commit that lands is an invisible
      // `staged` record carrying the write's intent — nothing is
      // visible until publishWap(id)
      wapId: Option[String] = None,
      // branch write (X102): like a WAP staging, but the record extends
      // the named branch's commit CHAIN — visible to readBranch /
      // `VERSION AS OF 'branch:<name>'`, published by fastForward(name)
      branch: Option[String] = None,
      // atomic MOR upsert (X105): the batch's distinct key tuples go in
      // force as an equality delete IN THE SAME COMMIT as the adds —
      // delete-the-old + insert-the-new under one batchId guard
      eqDeleteKeys: Seq[String] = Nil): Option[Commit] = {
    if (batchId.exists(b => hasBatch(b, appId))) return None // idempotent replay
    // commit-latency breakdown (VERDICT r12 #3): four wall-clock marks
    // per COMMIT (never per row) — read back via [[lastWriteTiming]]
    val tWrite0 = System.nanoTime()
    // branch writes (X102) fail FAST — before any file is staged — on
    // an unknown ref or a spec evolution since the fork (the chain's
    // files must all route under one spec; fastForward would refuse)
    branch.foreach { bname =>
      val p = branchPayload(bname)
      if (deltasBetween(p.base, latestVersion).exists(_.action == "evolve"))
        throw new ConcurrentWriteException(
          s"table $root: the partition spec evolved after branch '$bname' " +
            s"forked (base v${p.base}) — drop the branch and re-fork")
    }
    // Spec evolution (X81): a replace whose REMOVAL SET is addressed by
    // partition tokens (replaceWhere's filter, dynamic replace's touched
    // dirs — the latter includes the full current layout, derived names
    // and all) silently misses old-spec files that lack the tokens;
    // refuse until the live set is uniform. removeExact names its files
    // and full-table replace scopes everything — both spec-agnostic.
    if (action == "replace" && removeExact.isEmpty)
      requireUniformSpec(
        if (dynamic) partitionBy else partitionFilter.keys,
        if (dynamic) "dynamic partition replace" else "replaceWhere")
    val withParts0 = constraintGuard(
      prepareDerivedColumns(
        partitionValues.foldLeft(df) { case (d, (k, v)) =>
          d.withColumn(k, lit(v))
        }, userWrite))
    // Row tracking (X87): arriving rows get a stable id from the
    // committed `rowhw/` high-water; rewrites carry their ids through
    // (the column rides the frame). Ids are unique, not dense —
    // `monotonically_increasing_id` keeps the mint inside codegen
    // (no zipWithIndex job; the identity contract's density is not
    // required here), and the footer fold below advances the
    // high-water past whatever was minted.
    val tracked = rowTracked
    val withParts =
      if (!tracked) withParts0
      else {
        import org.apache.spark.sql.functions.{coalesce, monotonically_increasing_id}
        val rc = IncrementalTable.RowIdCol
        val next = metaChannel("rowhw/").get("rid").map(_.toLong + 1).getOrElse(0L)
        val base = if (withParts0.columns.contains(rc)) withParts0
          else withParts0.withColumn(rc,
            lit(null).cast(org.apache.spark.sql.types.LongType))
        base.withColumn(rc,
          coalesce(base(rc), lit(next) + monotonically_increasing_id()))
      }
    // watermarks need a discretely ordered integral domain — checked
    // STATICALLY on the frame's schema (a footer-side check alone
    // would silently pass when a string column's non-ASCII bounds get
    // poisoned out of the stats, pinning the watermark to its floor)
    statMeta.foreach { sm =>
      withParts.schema.find(_.name == sm.column).foreach { f =>
        val ok = f.dataType match {
          case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType => true
          case _ => false
        }
        require(ok, s"statMeta watermark column '${sm.column}' must be " +
          s"integral/date/timestamp (got ${f.dataType.simpleString})")
      }
    }
    // Hidden partitioning (X77): derive the transform partition columns
    // from their base columns — THE routing choke point, so every batch
    // writer (inserts, merge/delete/update rewrites, compaction,
    // foreachBatch sinks) routes identically; the derived columns ride
    // partitionBy into dir tokens only and never reach the committed
    // schema (excluded below) or the data files (partitionBy strips
    // them).
    val ptransforms = partitionTransforms()
    val routed = ptransforms.foldLeft(withParts) { case (d, (pcol, t)) =>
      // a caller-supplied value for a derived column would route rows
      // into dirs the transform inference never looks at — silently
      // unsound pruning; the value is ALWAYS computed here
      require(!d.columns.contains(pcol),
        s"'$pcol' is a derived partition column (X77) — its value is " +
          s"computed from '${t.base}' via ${t.spec}, never supplied")
      require(d.columns.contains(t.base),
        s"write into $root is missing '${t.base}', the base column of " +
          s"partition transform ${t.spec}")
      d.withColumn(pcol, t.expr(d(t.base)))
    }
    // Dir-clustered inserts (VERDICT r8 #6, the X60 shape generalized):
    // a hidden-partitioning insert fans out as tasks × touched-dirs
    // small files (a 100k-row batch into days×bucket(8) wrote ~240
    // dirs' worth of file shards). Repartitioning the batch on the
    // partition-column tuple routes each dir to exactly ONE task — one
    // writer, one file per dir, at any input parallelism. Applied when
    // derived transforms are in play (the fan-out case the layout
    // guarantees is multi-dir) or opted in via
    // `graft.insertClusterDirs=true`; opt out with `=false`.
    // Gated on userWrite: internal rewrites chose their OWN layout —
    // compact's repartitionByRange(_graft_z)/clusterBy range + sort
    // (which a hash repartition here would destroy, and whose
    // targetFiles/targetBytes count it would override to one file per
    // dir), and merge/delete/update rewrites of already-dir-local
    // file contents.
    val clusterDirs = userWrite &&
      tableProperties.get("graft.insertClusterDirs")
        .map(_.toBoolean).getOrElse(ptransforms.nonEmpty)
    val dirClustered =
      if (clusterDirs && partitionBy.nonEmpty)
        routed.repartition(partitionBy.map(routed(_)): _*)
      else routed
    // Column mapping (X72): the staged files carry PHYSICAL names —
    // the one rename boundary of the write path. Everything logical
    // (constraints, statMeta type checks, the committed schema) was
    // already evaluated above/below on the logical frame.
    val mapping = columnMapping()
    val physParts = dirClustered.select(dirClustered.columns.toIndexedSeq.map { c =>
      val base = dirClustered(c)
      // nested renames (X86): stage struct members under their PHYSICAL
      // names via a positional cast — the mirror of logicalCol's read-
      // side relabel
      val renamed =
        if (mapping.keys.exists(_.startsWith(c + ".")))
          base.cast(IncrementalTable.nullableType(
            physTypeOf(dirClustered.schema(c).dataType, c, mapping)))
        else base
      renamed.as(physPath(c, mapping))
    }: _*)
    val physPartitionBy = partitionBy.map(physPath(_, mapping))
    // 1. stage: write into a unique dir so added files are exactly known.
    //    Staging FIRST (not probing df.isEmpty) means the input lineage
    //    computes exactly once; a partitioned write of zero rows stages
    //    no files, which IS the W6 empty-write signal. Rows already on
    //    the driver (a small local frame: a listing append, a tick's
    //    `processed` rows, a driver-read compaction) stage there with no
    //    Spark job ([[stageOnDriver]]); everything else stages through
    //    Spark's parquet writer.
    val stage = new Path(stagingPath, UUID.randomUUID().toString)
    // Parquet bloom filters complement the log-level [min,max] index:
    // the log prunes FILES for range predicates, the in-file bloom
    // prunes ROW GROUPS for point lookups on high-cardinality keys
    // (where [min,max] spans are useless unless perfectly clustered) —
    // both applied before any row decodes. Standard parquet metadata:
    // any reader benefits; Spark pushes eq/IN predicates to it.
    // log-level bloom-index columns (X100) get the in-file parquet
    // bloom too: the sidecar prunes FILES, this prunes ROW GROUPS of
    // the survivors — the two levels compose
    val writer0 = (bloomColumns ++ bloomIndexColumns).distinct
        .map(physPath(_, mapping))
        .foldLeft(physParts.write.mode("overwrite")) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    // per-table codec (X89): `graft.parquet.compression` — zstd for
    // storage-bound 100 TB corpora, snappy (session default) for
    // latency; applies to every write through the choke point and the
    // streaming executor writer alike
    val writer = tableProperties.get("graft.parquet.compression")
      .fold(writer0)(c => writer0.option("compression", c))
    // INT64 micros, not the deprecated INT96 Spark still defaults to:
    // INT96 carries no usable footer min/max (its stats were dropped
    // from the parquet spec), so timestamp columns could never join
    // the data-skipping index; micros IS Spark's internal precision —
    // no value changes — and every modern reader (incl. DuckDB)
    // prefers it. The parquet writer has no per-write option for this
    // (probed: `.option("outputTimestampType", …)` is ignored), so the
    // session conf is the only lever — guarded by a refcount so
    // concurrent writes to DIFFERENT tables of one session (only
    // per-root locked) never restore INT96 under each other mid-stage
    // or leave MICROS permanently set (ADVICE r4 #3).
    val tStage0 = System.nanoTime()
    val bloomed = bloomColumns.nonEmpty || bloomIndexColumns.nonEmpty
    if (bloomed || !stageOnDriver(physParts, physPartitionBy, stage))
      withMicrosTimestamps(spark) {
        (if (physPartitionBy.nonEmpty) writer.partitionBy(physPartitionBy: _*)
         else writer).parquet(stage.toString)
      }
    val stageMs = (System.nanoTime() - tStage0) / 1e6
    val stagedFiles = listParquet(fs, stage).map { case (p, len, mtime) =>
      (relativize(stage, p), len, mtime)
    }
    commitStaged(stage, stagedFiles, withParts.schema, stageMs, tWrite0,
      action, partitionBy, partitionFilter, meta, batchId, appId, dynamic,
      statMeta, statsColumns, removeExact, extraDv, wapId, branch, eqDeleteKeys)
  }

  /** The write path after its stage, shared by [[write]] (after
    * [[stageOnDriver]] or Spark's parquet stage) and the streaming sink
    * ([[commitStagedStream]], over its tasks' reported files):
    * `stagedFiles` (stage-relative path, length, mtime) in the filled
    * `stage` dir become one commit. `incoming` is the batch's LOGICAL
    * schema; the remaining parameters are [[write]]'s. In order: the
    * layout guard, the footer harvest (watermark, identity and row-id
    * high-waters, the skipping index), the NDV and bloom sidecars, the
    * upsert's equality delete, then a branch or WAP staging record, an
    * empty write's elision, or [[promote]] and the commit, timed into
    * [[lastWriteTiming]]. A zero-row file (the footer-only file Spark
    * writes for an empty task) never leaves the stage. */
  private def commitStaged(stage: Path, stagedFiles: Seq[(String, Long, Long)],
      incoming: StructType, stageMs: Double, tWrite0: Long, action: String,
      partitionBy: Seq[String], partitionFilter: Map[String, String],
      meta: Map[String, String], batchId: Option[Long], appId: Option[String],
      dynamic: Boolean = false, statMeta: Seq[StatMeta] = Nil,
      statsColumns: Seq[String] = Nil, removeExact: Option[Seq[String]] = None,
      extraDv: Map[String, Seq[String]] = Map.empty,
      wapId: Option[String] = None, branch: Option[String] = None,
      eqDeleteKeys: Seq[String] = Nil): Option[Commit] = {
    val mapping = columnMapping()
    val ptransforms = partitionTransforms()
    val tracked = rowTracked
    val physStatsColumns = statsColumns.map(physPath(_, mapping))
    val physStatMetaCols = statMeta.map(sm => physPath(sm.column, mapping))
    val staged = stagedFiles.map(_._1)
    // Writes never change the layout (X76): a data write whose layout
    // differs from the committed one would interleave two hive
    // directory shapes under one root WITHOUT the bookkeeping that
    // keeps that sound. Spec changes go through evolvePartitioning
    // (X81), which flags the table so partition-addressed metadata ops
    // prove uniformity first; empty writes (meta-only commits) stay
    // exempt, and an unpartitioned-so-far table may adopt a layout
    // only while it has no committed layout to contradict.
    if (staged.nonEmpty) {
      val committed = committedPartitionBy
      require(committed.isEmpty || partitionBy == committed,
        s"partition layout is immutable under writes: $root is partitioned " +
          s"by (${committed.mkString(", ")}) but this write declares " +
          s"(${partitionBy.mkString(", ")}); change the layout explicitly " +
          "via evolvePartitioning / CALL graft.system.evolve_partitioning " +
          "(X81), never as a side effect of a write")
    }
    // partitioned zero-row writes stage no files; non-partitioned ones
    // stage one schema-only file, and Spark's stage adds a footer-only
    // file per empty task — detected via footer row counts (no job).
    // The same footer pass yields per-file column [min,max]: the global
    // max feeds statMeta watermarks, the per-file entries become the
    // commit's data-skipping index (statsColumns). Keys are PHYSICAL.
    // identity columns (X83) join the footer harvest: the staged
    // extreme advances the committed high-water in the SAME pass that
    // already reads the footers — no extra job
    val idSpecs = identityColumns()
    val physIdCols = idSpecs.keys.map(physPath(_, mapping)).toSet ++
      (if (tracked) Set(IncrementalTable.RowIdCol) else Set.empty)
    val tHarvest0 = System.nanoTime()
    val (fileRows, perFile) = stagedFooterStats(stage, staged,
      physStatMetaCols.toSet ++ physStatsColumns ++ physIdCols,
      needRows = partitionBy.isEmpty)
    val harvestMs = (System.nanoTime() - tHarvest0) / 1e6
    // the files with rows: everything downstream sees only these
    val live = stagedFiles.filterNot(f => fileRows.get(f._1).contains(0L))
    val liveRels = live.map(_._1)
    // watermarks are integral by contract — fail LOUDLY if one was
    // declared on a string column (silently pinning to the floor would
    // make an incremental consumer rescan or skip everything, forever)
    statMeta.zip(physStatMetaCols).foreach { case (sm, pc) =>
      require(!perFile.valuesIterator.flatten.exists(kv =>
        kv._1 == pc && kv._2.isString),
        s"statMeta watermark column '${sm.column}' is a string column — " +
          "watermark high-waters need a discretely ordered integral domain")
    }
    val stagedMax = perFile.valuesIterator.flatten.toSeq
      .filter(!_._2.isString)
      .groupMapReduce(_._1)(_._2.max)(math.max)
    // identity high-water (X83): the committed `idhw/` entry only ever
    // advances (monotone clamp — rewrites of old rows can never regress
    // it); negative steps advance downward
    val idhwMeta = idSpecs.flatMap { case (c, spec) =>
      val pc = physPath(c, mapping)
      val vals = perFile.valuesIterator.flatten
        .collect { case (k, st) if k == pc && !st.isString && !st.isDouble &&
          !st.allNull => if (spec.step > 0) st.max else st.min }
        .toSeq
      if (vals.isEmpty) None
      else {
        val extreme = if (spec.step > 0) vals.max else vals.min
        val prev = identityHighWater(c)
        val hw = prev.fold(extreme)(p =>
          if (spec.step > 0) math.max(p, extreme) else math.min(p, extreme))
        Some(s"idhw/$c" -> hw.toString)
      }
    }
    // Column NDV sketches (X88, VERDICT r8 #8): one HLL sketch per
    // `graft.ndvColumns` column folded at commit — the staged batch
    // aggregates into per-column datasketches HLLs (ONE extra
    // column-pruned job over the staged files; opt-in, the CBO tax),
    // each UNIONed driver-side with the channel's running sketch. The
    // union never shrinks, so deletes leave NDV an overestimate — the
    // safe direction for join planning. Keys are LOGICAL; rename
    // migrates them.
    val ndvMeta: Map[String, String] = ndvMetaFor(stage, liveRels, mapping)
    // per-file bloom index (X100): harvested from the staged files
    // (same rel paths after promote), one opt-in column-pruned job;
    // WAP stagings harvest too — the sidecar is inert until the files
    // go live at publish
    bloomSidecarFor(stage, liveRels, mapping)
    // row-id high-water (X87): monotone clamp, same shape as idhw
    val rowHwMeta =
      if (!tracked) None
      else {
        val mx = perFile.valuesIterator.flatten.collect {
          case (k, st) if k == IncrementalTable.RowIdCol && !st.isString &&
            !st.isDouble && !st.allNull => st.max
        }.toSeq
        if (mx.isEmpty) None
        else {
          val prev = metaChannel("rowhw/").get("rid").map(_.toLong)
          Some("rowhw/rid" -> math.max(prev.getOrElse(Long.MinValue), mx.max).toString)
        }
      }
    // atomic MOR upsert (X105): put the batch's distinct keys in force
    // as an equality delete riding THIS very commit. The fence is the
    // current head, and coverOwnCommit stays false, so the commit's own
    // adds — the new versions of the deleted keys — escape while every
    // earlier file is covered. Keys come back off the STAGED files
    // (physical names, one small job), never by recomputing the input.
    val eqMeta: Map[String, String] =
      if (eqDeleteKeys.isEmpty) Map.empty
      else {
        require(action == "append" && wapId.isEmpty && branch.isEmpty &&
            extraDv.isEmpty && removeExact.isEmpty && !dynamic,
          "upsertByKey supports plain appends only")
        val storedNow = committedSchemaAt().getOrElse(
          throw new IllegalArgumentException(
            s"upsertByKey target $root has no committed schema — seed " +
              "with append()"))
        eqDeleteKeys.foreach { c =>
          require(storedNow.fieldNames.contains(c),
            s"upsertByKey key '$c' is not a column of $root")
          require(!partitionBy.contains(c) && !ptransforms.contains(c),
            s"upsertByKey key '$c' is a partition column — its values " +
              "are dir-encoded, not in the staged file bytes")
        }
        if (liveRels.isEmpty) Map.empty
        else {
          val phys = eqDeleteKeys.map(physPath(_, mapping))
          val fn = org.apache.spark.sql.functions.col _
          val dk = spark.read
            .parquet(liveRels.map(r => new Path(stage, r).toString): _*)
            .select(phys.map(fn): _*).distinct()
          val gen = UUID.randomUUID().toString
          writeEqDelSidecar(dk, gen)
          Map(IncrementalTable.EqDelPrefix + gen ->
            Serialization.write(EqDelPayload(latestVersion, phys)))
        }
      }
    val allMeta = meta ++ statMeta.zip(physStatMetaCols).map { case (sm, pc) =>
      sm.key ->
        math.max(sm.floor, stagedMax.get(pc).map(_ + 1).getOrElse(sm.floor)).toString
    } ++ idhwMeta ++ rowHwMeta ++ ndvMeta ++ eqMeta
    val statsIdx = physStatsColumns.toSet
    val fileStats =
      if (statsIdx.isEmpty) Map.empty[String, Map[String, ColStat]]
      else perFile.view.filterKeys(liveRels.toSet)
        .mapValues(_.view.filterKeys(statsIdx).toMap)
        .filter(_._2.nonEmpty).toMap
    // derived (transform) partition columns are routing-only: they
    // must never enter the committed schema
    // ...and so is the row-tracking id column (X87): physical-only
    lazy val stagedSchemaDdl = IncrementalTable.ddlOf(
      mergedSchema(StructType(incoming.fields
        .filterNot(f => ptransforms.contains(f.name) ||
          f.name == IncrementalTable.RowIdCol))))
    // the invisible `staged` record of a branch or WAP write: it
    // carries the identity/row-id high-water advances DIRECTLY (a
    // reservation): every later mint reads the channel and lands above
    // the staged files' baked values, so publish can never mint-collide
    // — and the OCC idhw/rowhw conflict rule covers stage-vs-write
    // races like any other commit. ndv/ stays deferred in the payload
    // (statistics must not count unpublished rows).
    def stagedRecord(key: String, payload: AnyRef): Option[Commit] =
      Some(commit(Commit(0, "staged", Nil, Nil, Map.empty,
        committedPartitionBy, snapshot.schemaDdl,
        (idhwMeta ++ rowHwMeta).toMap + (key -> Serialization.write(payload)),
        None, now())))
    // Write-audit-publish staging (X98): promote the files NOW (same
    // crash story as a normal write — until a commit references them
    // they are invisible orphans), but the commit that lands is an
    // `action="staged"` no-op: empty add/remove/dv, no channel meta
    // except the single `wap/<id>` payload entry — so every fold (live
    // set, schema, watermark channels, CDC, streams, CBO stats) is
    // unchanged until publishWap(). The payload carries everything the
    // deferred commit needs, INCLUDING the idhw/rowhw/ndv channel
    // advances this write computed; publish re-validates them.
    // Branch write (X102): promote the files like any write, but the
    // commit that lands is an invisible `staged` record whose single
    // channel entry extends the branch's chain. replaceWhere removal
    // sets resolve NOW against the branch's own live set; identity /
    // row-id high-waters reserve directly (the WAP rule); ndv/ defers
    // in the chain entry and re-unions at fast-forward.
    if (branch.isDefined) {
      val bname = branch.get
      require(wapId.isEmpty, "a write stages under a WAP id OR a branch, not both")
      require(batchId.isEmpty, "branch writes take no streaming batchId")
      require(statMeta.isEmpty,
        "branch writes do not advance watermark channels — commit " +
          "cursors with the publishing pipeline, not the branch write")
      require(extraDv.isEmpty && removeExact.isEmpty && !dynamic,
        "branch writes support plain append and replaceWhere only")
      // re-read the chain here (the fail-fast guard in write validated
      // the ref before staging); a concurrent evolve between then and
      // the commit is caught by the OCC evolve-vs-staged conflict rule
      val p = branchPayload(bname)
      val removed =
        if (action != "replace") Seq.empty[String]
        else {
          requireUniformSpec(partitionFilter.keys, "replaceWhere on a branch")
          branchLive(p).filter(matchesPartition(_, partitionFilter))
        }
      val added = promote(stage, live)
      // W6 elision on the branch: an empty append extends nothing
      if (added.isEmpty && removed.isEmpty) return None
      val chainMeta = allMeta.view.filterKeys(k =>
        !k.startsWith("idhw/") && !k.startsWith("rowhw/")).toMap
      val bc = BranchCommit(action, added, removed, partitionFilter,
        stagedSchemaDdl, chainMeta, fileStats)
      return stagedRecord(IncrementalTable.BranchPrefix + bname,
        p.copy(commits = p.commits :+ bc))
    }
    if (wapId.isDefined) {
      val id = wapId.get
      require(batchId.isEmpty, "WAP staging takes no streaming batchId")
      require(statMeta.isEmpty,
        "WAP staging does not advance watermark channels — commit " +
          "cursors with the publishing pipeline, not the staged write")
      require(extraDv.isEmpty && removeExact.isEmpty && !dynamic,
        "WAP staging supports plain append and replaceWhere only")
      // W6 elision applies to staging too: an empty batch stages no
      // files (replace semantics still publish the scope's removal)
      val added = promote(stage, live)
      val fresh = WapPayload(action, added, partitionFilter, partitionBy,
        stagedSchemaDdl, allMeta, fileStats)
      // stacking: a second staging under the same id MERGES — one
      // publish later adopts every batch atomically (the multi-batch
      // backfill shape). idhw/rowhw latest-wins (this write minted past
      // the previous reservation), ndv sketches union, schemas merge
      // add-column-only.
      val payload = pendingWap(id) match {
        case None => fresh
        case Some(prev) =>
          require(prev.action == action &&
              prev.partitionFilter == partitionFilter &&
              prev.partitionBy == partitionBy,
            s"wap '$id' is already staged as ${prev.action} " +
              s"(filter ${prev.partitionFilter}, layout ${prev.partitionBy})" +
              " — stacked stagings must match it")
          val mergedDdl = {
            val a = StructType.fromDDL(prev.schemaDdl)
            val extra = StructType.fromDDL(stagedSchemaDdl).fields
              .filterNot(f => a.fieldNames.contains(f.name))
            IncrementalTable.ddlOf(StructType(a.fields ++ extra))
          }
          val mergedMeta = prev.meta ++ unionNdv(allMeta, prev.meta.get)
          WapPayload(action, prev.add ++ added, partitionFilter,
            partitionBy, mergedDdl, mergedMeta,
            prev.fileStats ++ fresh.fileStats)
      }
      return stagedRecord(IncrementalTable.WapPrefix + id, payload)
    }
    if (live.isEmpty) {
      IncrementalTable.gcStaging(fs, stage) // async: never read again
      // A filter-scoped replace that recomputed to ZERO rows must still
      // delete the partition's old data — "refresh produced nothing" is
      // a result, not a no-op (the reference elides even here,
      // delta_io.py:85-86, leaving stale rows after an empty refresh;
      // a defect we fix rather than reproduce). Dynamic replace with an
      // empty batch genuinely touches no partitions and stays elided.
      val removed = if (action == "replace" && !dynamic)
        removeExact.getOrElse(liveFiles(partitionFilter))
      else Seq.empty
      // an empty append that brings NEW columns into an existing table
      // still evolves its schema: that commits schema-only, as Delta
      // commits the new metadata of an empty mergeSchema append
      val widens = committedSchemaAt().exists(prev =>
        incoming.fieldNames.exists(n => !prev.fieldNames.contains(n) &&
          !ptransforms.contains(n) && n != IncrementalTable.RowIdCol))
      if (removed.nonEmpty)
        Some(commit(Commit(0, "replace", Nil, removed, partitionFilter,
          partitionBy, snapshot.schemaDdl, allMeta, batchId, now(), appId = appId)))
      else if (widens)
        Some(commit(Commit(0, "append", Nil, Nil, Map.empty,
          partitionBy, stagedSchemaDdl, allMeta, batchId, now(), appId = appId)))
      // W6 empty-write elision: no data files enter the log, no empty
      // partition dirs appear; metadata still commits if present
      else if (allMeta.nonEmpty) Some(commitMeta(allMeta, batchId, appId)) else None
    } else {
      val tPromote0 = System.nanoTime()
      val added = promote(stage, live)
      val promoteMs = (System.nanoTime() - tPromote0) / 1e6
      // removal set for replace: filter-scoped, or (dynamic) exactly
      // the partition dirs the staged files landed in
      val removed =
        if (action != "replace") Seq.empty
        else removeExact.getOrElse(
          if (dynamic) {
            val touched = added.map(parentDir).toSet
            if (snapshot.base.isDefined) liveFilesInDirs(touched)
            else {
              // segment-normalized (not string-equal): cloned files live
              // under a foreign root but belong to the same LOGICAL
              // partition (X78)
              val segs = touched.map(IncrementalTable.hiveSegments)
              liveFiles().filter(f =>
                segs.exists(s => matchesPartition(f, s)))
            }
          } else liveFiles(partitionFilter))
      val schemaDdl = stagedSchemaDdl // merged before the publish clock
      val tPublish0 = System.nanoTime()
      val c = commit(Commit(0, action, added, removed, partitionFilter,
        partitionBy, schemaDdl, allMeta, batchId, now(), appId = appId,
        fileStats = fileStats, dv = extraDv))
      val tEnd = System.nanoTime()
      lastWriteTiming = Some(WriteTiming(
        stageMs = stageMs, harvestMs = harvestMs, promoteMs = promoteMs,
        publishMs = (tEnd - tPublish0) / 1e6,
        totalMs = (tEnd - tWrite0) / 1e6, files = added.size))
      Some(c)
    }
  }

  /** Promote: rename each staged (stage-relative path, length, mtime)
    * file from `stage` into the table's hive layout, then hand the
    * stage dir (and whatever was not promoted from it) to the async
    * staging GC; returns the table-relative paths. A crash part-way
    * leaves orphans no commit references — invisible to readers,
    * reclaimed by vacuum(). The staged walk already knows each promoted
    * file's status (rename keeps size and mtime), so reads of it never
    * stat it. */
  private def promote(stage: Path, files: Seq[(String, Long, Long)]): Seq[String] = {
    val added = files.map { case (rel, len, mtime) =>
      val from = new Path(stage, rel)
      val to = new Path(rootPath, rel)
      fs.mkdirs(to.getParent)
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename failed: $from -> $to")
      fileStatuses.put(rel, new FileStatus(len, false, 1,
        fs.getDefaultBlockSize(to), mtime, fs.makeQualified(to)))
      rel
    }
    IncrementalTable.gcStaging(fs, stage) // async: never read again
    added
  }

  /** The stage phase for rows already on the driver: a frame whose
    * optimized plan, once single-partition repartitions are dropped, is
    * a `LocalRelation` of at most [[IncrementalTable.LocalReadMaxBytes]]
    * is written straight into `stage` by [[HiveDirWriter]], one file per
    * partition dir: the layout, codec (`graft.parquet.compression`, else
    * the session's parquet codec) and nullability Spark's writer stages,
    * without its job. False, with nothing written, for any other frame
    * and for what the writer does not encode the way Spark does
    * (CHAR/VARCHAR, a type [[graft.parquet.RowParquet.messageType]]
    * lacks, a partition column type without a hive-path parser, a write
    * of partition columns only or of duplicate names); the caller then
    * stages through Spark. */
  private def stageOnDriver(df: DataFrame, partitionBy: Seq[String],
      stage: Path): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
    import org.apache.spark.sql.catalyst.util.CharVarcharUtils
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val qe = df.queryExecution
    // only frames built from local rows can fold into one; checked on
    // the analyzed plan so a scan's write never pays an extra optimize
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) return false
    // a single-partition repartition only sets the file count, and the
    // driver stage writes one file per dir anyway; the optimizer keeps a
    // projection above it (`coalesce(1)` then the partition `lit`), so
    // it is dropped before folding
    val unsplit = qe.analyzed.transformUp { case Repartition(1, _, c) => c }
    val optimized =
      if (unsplit eq qe.analyzed) qe.optimizedPlan
      else org.apache.spark.sql.graftshim.DmlShim.ofRows(spark, unsplit)
        .queryExecution.optimizedPlan
    val local = optimized match {
      case l: LocalRelation => l
      case _ => return false
    }
    val schema = df.schema
    val parts = partitionBy.toSet
    val dataSchema = StructType(schema.fields.filterNot(f => parts(f.name)))
    val codec = tableProperties.get("graft.parquet.compression")
      .getOrElse(spark.conf.get("spark.sql.parquet.compression.codec"))
      .trim.toLowerCase(java.util.Locale.ROOT) match {
        case "none" => "uncompressed"
        case c => c
      }
    val encodable = local.stats.sizeInBytes <= IncrementalTable.LocalReadMaxBytes &&
      schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.length ==
        schema.length &&
      dataSchema.nonEmpty && !CharVarcharUtils.hasCharVarchar(schema) &&
      partitionBy.forall(p => schema.fieldNames.contains(p) &&
        graft.parquet.RowParquet.partitionParser(schema(p).dataType).isDefined) &&
      scala.util.Try(graft.parquet.RowParquet.messageType(dataSchema)).isSuccess &&
      scala.util.Try(CompressionCodecName.valueOf(codec.toUpperCase(java.util.Locale.ROOT)))
        .isSuccess
    if (!encodable) return false
    fs.mkdirs(stage)
    val out = new HiveDirWriter(stage, schema, partitionBy, Nil, hadoopConf(spark),
      0, 0L, codec)
    try {
      local.data.foreach(out.write)
      if (local.data.isEmpty) out.writeSchemaOnly()
      out.commit()
    } catch { case e: Throwable => out.abort(); throw e }
    true
  }

  /** Phase breakdown of this handle's last data-commit write (the
    * commit-latency audit, VERDICT r12 #3), set by every commit that
    * promotes files — batch writes and streaming-sink epochs alike
    * ([[commitStaged]]): `stage` = writing the staging dir (on the
    * driver or as a Spark job; 0 for a streaming epoch, whose executors
    * staged inside the query's own job), `harvest` = the footer
    * stats/rows pass, `promote` = renames into the hive layout,
    * `publish` = the OCC read-check-publish (commit-record fsync, meta
    * fold, checkpoint maintenance when the cadence hits). Anything
    * outside the four named phases (routing, schema merge, sidecar
    * writes, a streaming epoch's CHECK validation) shows as total minus
    * their sum. */
  @volatile var lastWriteTiming: Option[WriteTiming] = None

  /** Add-column schema evolution: the committed schema is the previous
    * table schema plus any NEW columns the incoming frame introduces
    * (appended, forced nullable — files written before the column
    * existed read it as null). A column the incoming frame DROPS stays
    * in the schema, forced nullable (its newer files read as null).
    * Same-name columns must keep their exact type: no type widening. */
  private def mergedSchema(incoming: StructType): StructType =
    committedSchemaAt() match {
      case None => incoming
      case Some(prev) =>
        incoming.fields.foreach { f =>
          prev.fields.find(_.name == f.name).foreach { pf =>
            // catalogString = the type modulo nullability, at every
            // nesting level: analyzed plans and DDL-round-tripped
            // schemas disagree on nested struct field nullability
            // (e.g. sketch state structs), and nullability is not a
            // type change
            require(pf.dataType.catalogString == f.dataType.catalogString,
              s"schema evolution is add-column only: '${f.name}' would change " +
                s"${pf.dataType.simpleString} -> ${f.dataType.simpleString}")
          }
        }
        val incomingNames = incoming.fieldNames.toSet
        val prevNames = prev.fieldNames.toSet
        val fresh = incoming.fields.filterNot(f => prevNames.contains(f.name))
        if (fresh.nonEmpty) {
          // write-path evolution must honor DROP COLUMN tombstones too:
          // older files still carry the dropped column's bytes, and
          // re-introducing the name would resurface them as live data
          val tombstoned = droppedColumns
          fresh.foreach(f => require(!tombstoned.contains(f.name),
            s"column '${f.name}' was previously dropped and files still " +
              "carry its old values — re-adding would resurface them; " +
              "migrate via CTAS"))
          fresh.foreach(f => require(!reservedDirNames.contains(f.name),
            s"column '${f.name}' is a derived partition column (X77) — a " +
              "schema column of that name would shadow the dir tokens"))
        }
        StructType(
          prev.fields.map(f =>
            if (incomingNames.contains(f.name)) f else f.copy(nullable = true)) ++
            fresh.map(_.copy(nullable = true)))
    }

  /** Per-FILE row counts and per-column integer [min,max] statistics
    * of the staged parquet files, read from footers. A requested column
    * absent from the staged schema yields no entry (for stat-meta, the
    * caller's floor applies; for skipping, the file is never pruned);
    * present with missing statistics fails loudly rather than silently
    * stalling a watermark or over-pruning. No footer is opened (and no
    * row count returned) when no column is asked for and `needRows` is
    * false. Two execution shapes share ONE per-file body
    * ([[IncrementalTable.footerStatsOf]]):
    *
    *  - at or below [[distributedStatsThreshold]] staged files, the
    *    footers are opened inline on the driver — micro-batch appends,
    *    compactions, and DML rewrites stay job-free;
    *  - ABOVE it, the same per-file extraction runs as a Spark job
    *    over the staged paths (one task per slice of files) and only
    *    the per-file ColStat maps collect — which is O(commit-log
    *    entry), the size the commit was going to write anyway. The
    *    bulk-load / CTAS commit class (tens of thousands of staged
    *    files, each footer a remote round trip on object storage) no
    *    longer serializes on the driver — the last driver-side O(N)
    *    on the write path (VERDICT r8 #1).
    *
    * Both paths produce identical index contents (spec-pinned in
    * IncrementalTableSpec's distributed-harvest twin). */
  private def stagedFooterStats(stage: Path, rels: Seq[String],
      cols: Set[String], needRows: Boolean)
      : (Map[String, Long], Map[String, Map[String, ColStat]]) = {
    if (rels.isEmpty || (cols.isEmpty && !needRows)) return (Map.empty, Map.empty)
    val threshold = spark.conf.getOption("spark.graft.distributedStatsThreshold")
      .map(_.toInt).getOrElse(IncrementalTable.DefaultDistributedStatsThreshold)
    val harvested =
      if (rels.size <= threshold) {
        val conf = hadoopConf(spark)
        rels.map { rel =>
          val (fileRows, st) = IncrementalTable.footerStatsOf(new Path(stage, rel), conf, cols)
          (rel, fileRows, st)
        }
      } else {
        val sconf = new graft.parquet.RowParquet.SerializableConf(hadoopConf(spark))
        val stageStr = stage.toString
        val slices = math.min(rels.size,
          spark.sparkContext.defaultParallelism * 2).max(1)
        spark.sparkContext.parallelize(rels, slices).map { rel =>
          val (fileRows, st) = IncrementalTable.footerStatsOf(
            new Path(stageStr, rel), sconf.value, cols)
          (rel, fileRows, st)
        }.collect().toSeq
      }
    (harvested.map { case (rel, rows, _) => rel -> rows }.toMap,
      harvested.collect { case (rel, _, st) if st.nonEmpty => rel -> st }.toMap)
  }


  /** Atomic publish of a fully-written tmp file as `dest`, failing (not
    * overwriting) when `dest` already exists. `FileContext.rename` with
    * `Rename.NONE` gives true rename-no-overwrite on HDFS; plain
    * `FileSystem.rename` would silently REPLACE an existing destination
    * on a local posix FS, making version-race losers invisible. Object
    * stores without atomic rename need a lock.
    *
    * Local filesystems take the `link(2)` door instead (the commit-
    * latency audit, VERDICT r12 #3): `Files.createLink` is ATOMIC
    * no-overwrite at the syscall level — STRONGER than local
    * FileContext's check-then-rename (whose TOCTOU window covered one
    * JVM only) and three orders of magnitude cheaper than the Hadoop
    * local rename path (measured 37 ms vs ~10 µs per publish — the
    * dominant term of the per-commit OCC floor). Mounts without hard
    * links fall back to the FileContext path — both the API-level
    * signal (UnsupportedOperationException) and the syscall-level one
    * (EPERM/EACCES on FUSE/CIFS/overlay mounts, which Linux surfaces
    * as a scheme-'file' FileSystemException — ADVICE r13 medium);
    * either latches [[noHardLinks]] so later commits skip the doomed
    * syscall and go straight to FileContext. */
  @volatile private var noHardLinks = false

  private def publish(tmp: Path, dest: Path): Boolean =
    if (logOnLocalFs && !noHardLinks) {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      val d = java.nio.file.Paths.get(dest.toUri.getPath)
      try {
        java.nio.file.Files.createLink(d, t)
        // the record IS published once the link exists — tmp cleanup is
        // best-effort (a leftover tmp is an invisible orphan vacuum
        // reclaims), never a reason to fail a landed commit
        try java.nio.file.Files.delete(t)
        catch { case _: java.io.IOException => () }
        true
      } catch {
        // order matters: FileAlreadyExists IS a FileSystemException —
        // the version race must stay a clean `false`, not a fallback
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException |
             _: java.nio.file.FileSystemException =>
          noHardLinks = true
          publishFc(tmp, dest)
      }
    } else publishFc(tmp, dest)

  private def publishFc(tmp: Path, dest: Path): Boolean =
    try { logFc.rename(tmp, dest, Options.Rename.NONE); true }
    catch {
      case _: FileAlreadyExistsException => false
      case e: java.io.IOException => if (fs.exists(dest)) false else throw e
    }

  private lazy val logOnLocalFs: Boolean =
    Option(fs.getUri.getScheme).contains("file")

  private lazy val logFc: FileContext =
    FileContext.getFileContext(fs.getUri, hadoopConf(spark))

  /** Publish `c` at the next log version, with Delta-style optimistic
    * concurrency: on losing the version race to a concurrent writer,
    * validate this commit against every intervening one —
    *
    *  - appends, metadata commits, and checkpoints commute with
    *    anything: retry at the next version;
    *  - a replace whose scope overlaps an intervening commit's files
    *    throws [[ConcurrentWriteException]]: its removal set was
    *    computed against a snapshot the winner invalidated (blind retry
    *    would leave both writers' file sets live — duplicate rows — or
    *    remove files the winner still references). Disjoint-partition
    *    replaces retry safely.
    *
    * A failed replace's promoted files stay as unreferenced orphans,
    * invisible to readers and reclaimed by vacuum(). */
  private[table] def commit(c: Commit): Commit = lockFor(rootPath.toString).synchronized {
    fs.mkdirs(logPath)
    // the log head this commit's add/remove sets were computed against
    var base = latestVersion
    var done = false
    var cur = c
    var res = c
    while (!done) {
      // in-commit timestamp monotonicity (the Delta inCommitTimestamps
      // analog): a multi-writer table's wall clocks can skew, and
      // TIMESTAMP AS OF binary-searches the ts column — clamp every
      // commit's ts to at least its predecessor's so the sequence is
      // non-decreasing by construction, never trusting writer clocks
      // to agree
      res = cur.copy(version = base + 1,
        ts = math.max(cur.ts, commits().lastOption.map(_.ts).getOrElse(0L)))
      val tmp = new Path(logPath, s".${UUID.randomUUID()}.tmp")
      val recordBytes = Serialization.write(res).getBytes("UTF-8")
      // local fast path (commit-latency audit): Hadoop's local create
      // costs ~10 ms per file (permission syscalls + checksum sibling);
      // java.nio writes the same bytes in ~30 µs. Durability is
      // unchanged — neither path fsyncs a local tmp file.
      if (logOnLocalFs)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp.toUri.getPath), recordBytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      else {
        val out = fs.create(tmp, false)
        try out.write(recordBytes) finally out.close()
      }
      val dest = new Path(logPath, f"${res.version}%010d.json")
      if (publish(tmp, dest)) done = true
      else {
        fs.delete(tmp, false)
        refresh()
        // a concurrent writer with the SAME identity may have committed
        // this very batch while we raced — re-check the replay guard so
        // the duplicate fails instead of double-committing
        if (c.batchId.exists(b => hasBatch(b, c.appId)))
          throw new ConcurrentWriteException(
            s"table $root: batch ${c.batchId.get} (app ${c.appId}) was " +
              "committed by a concurrent writer")
        // Conflict detection must see EVERY intervening writer —
        // commits() replays from the latest checkpoint, so a winner
        // that landed exactly on a checkpoint boundary has its delta
        // folded out of the replay and would escape the scan (found by
        // ConcurrentWriteProps: a dv delete published against a file a
        // boundary-folded replace had removed). Raw delta records are
        // always on disk (only vacuum deletes them, never this recent):
        // read exactly the contended window.
        val winners = deltasBetween(base, latestVersion)
        winners.find(conflicts(cur, _)).foreach { w =>
          throw new ConcurrentWriteException(
            s"table $root: ${c.action} of ${c.partitionFilter} computed against " +
              s"version $base conflicts with concurrent ${w.action} v${w.version}")
        }
        // NDV channel (X88, ADVICE r9): our ndv/ values were unioned
        // against the PRE-race channel — publishing them as-is would
        // overwrite a winner's union and silently DROP its distincts
        // (an underestimate, the unsafe CBO direction). HLL unions
        // commute, so instead of conflicting, re-union ours against
        // the post-refresh channel. (An analyzeNdv reset that loses a
        // race re-unions too — overestimate-safe; re-run quiescently
        // for an exact reset.)
        cur = cur.copy(meta = unionNdv(cur.meta, latestMeta))
        base = latestVersion
      }
    }
    // extend the cached snapshot in place instead of re-replaying the log
    val cached = head
    head = if (cached != null) cached.step(res) else null
    maybeCheckpoint(res.version)
    res
  }

  /** OCC conflict rule: replaces conflict with intervening commits
    * that add, remove, or attach deletion vectors to files inside the
    * replaced scope (the filter for replaceWhere, the touched
    * partition dirs for dynamic replace / compaction). A dv commit's
    * positions were computed against exact files, so it conflicts
    * precisely when an intervening commit removed or rewrote one of
    * them — blind publication would strand the delete on a dead file
    * while its rows live on in the rewrite. */
  private def conflicts(ours: Commit, winner: Commit): Boolean = {
    // Spec evolution (X81): an `evolve` winner invalidates every
    // concurrent non-meta commit — its layout/guards were planned
    // against the old spec (a stale-layout append would silently win
    // the `committedPartitionBy` fold back). Symmetrically, an evolve
    // loser re-validates against whatever landed first.
    if (winner.action == "evolve" && ours.action != "meta") return true
    if (ours.action == "evolve") return winner.action != "meta"
    // identity allocation (X83): two commits advancing the same
    // `idhw/<col>` high-water minted from the same base — the loser's
    // values may collide with the winner's; fail, caller re-runs
    if (ours.meta.keysIterator.exists(k =>
        (k.startsWith("idhw/") || k.startsWith("rowhw/")) &&
          winner.meta.contains(k))) return true
    // branch refs (X102): two commits touching the SAME branch key
    // raced — a chain extension built from a stale chain would
    // overwrite the winner's entry (lost update), and a fast-forward /
    // drop tombstone would silently discard a concurrent chain
    // extension. Fail; the caller re-reads the chain and re-runs.
    if (ours.meta.keysIterator.exists(k =>
        k.startsWith(IncrementalTable.BranchPrefix) &&
          winner.meta.contains(k))) return true
    // fast-forward publish (X102): the chain was validated against a
    // non-diverged main — ANY intervening data or spec commit (not
    // just a dir-overlapping one) invalidates that check. The ff
    // commit is the only "replace" carrying a branch tombstone.
    if (ours.action == "replace" && ours.meta.exists { case (k, v) =>
          k.startsWith(IncrementalTable.BranchPrefix) && v.isEmpty } &&
        (winner.add.nonEmpty || winner.remove.nonEmpty ||
          winner.dv.nonEmpty || winner.action == "evolve")) return true
    // equality deletes (X104) apply by VERSION ordering, so rewrites
    // and eqdelete-carrying commits (the standalone "eqdelete" action
    // AND the X105 atomic upsert append) invalidate each other across
    // a race: a rewrite moves old rows into post-delete files where
    // the delete would silently stop applying (resurrection). Both
    // directions fail; the caller re-reads and re-runs. Plain appends
    // and position deletes compose without conflict (new data
    // legitimately escapes; a doubly-deleted position stays deleted).
    def carriesEqDel(c: Commit): Boolean = c.meta.exists { case (k, v) =>
      k.startsWith(IncrementalTable.EqDelPrefix) && v.nonEmpty }
    // the forward direction must mirror the reverse: a winning MOR
    // "update" rewrites rows into fresh files with remove EMPTY
    // (add + dv), so testing remove alone would let our stale-fenced
    // eqdelete retry at a later version while the update's post-image
    // rows escape it by version ordering (silent resurrection)
    if (carriesEqDel(ours) &&
        (winner.remove.nonEmpty || winner.action == "update" ||
          winner.action == "evolve")) return true
    if (carriesEqDel(winner) &&
        (ours.action == "replace" || ours.action == "update")) return true
    if (ours.action == "eqdelete") return false
    val winnerFiles = winner.add ++ winner.remove ++ winner.dv.keys
    ours.action match {
      case "replace" =>
        if (ours.partitionFilter.nonEmpty)
          winnerFiles.exists(matchesPartition(_, ours.partitionFilter))
        else {
          val touched = (ours.add ++ ours.remove).map(parentDir).toSet
          winnerFiles.exists(f => touched.contains(parentDir(f)))
        }
      case "dv" =>
        (winner.remove ++ winner.dv.keys).exists(ours.dv.keySet)
      case "update" =>
        // merge-on-read update (X82): like "dv", its sidecar positions
        // were computed against exact files — an intervening remove/
        // rewrite/dv on a touched file invalidates them (the adds are
        // fresh files and cannot conflict)
        (winner.remove ++ winner.dv.keys).exists(ours.dv.keySet)
      case "dvmerge" =>
        // the merged generation was computed from a snapshot's dv
        // state; an intervening delete/rewrite/dv on any covered file
        // would be silently LOST by the replacement — fail, caller
        // re-runs the (idempotent) maintenance
        (winner.remove ++ winner.dv.keys).exists(ours.dv.keySet)
      case _ => false
    }
  }

  private def ManifestTargetRows: Long = manifestTargetRows

  /** A checkpoint's fresh manifests, STAGED but not yet in the pool:
    * refs carry the final pool names, `pending` maps each staged part
    * file to its pool destination, and `tmpDir` is the staging
    * directory to reclaim after promotion. */
  private case class StagedManifests(refs: Seq[ManifestRef],
      pending: Seq[(Path, Path)], tmpDir: Path)

  /** Range-partition `rows` by file path and write them as immutable
    * manifests, one parquet FILE each, returning refs with exact
    * [lo, hi] ranges and counts (one metadata job over the fresh rows —
    * never the reused ones). Empty partitions yield no manifest.
    *
    * The part files STAY in the dot-prefixed staging directory — a
    * concurrent vacuum never sees them as pool candidates, so the
    * whole checkpoint build (tail fold + range write, arbitrarily long
    * at scale) is race-free against pool reclaim (ADVICE r11 medium).
    * [[promoteManifests]] renames them into the pool immediately
    * before the checkpoint record publishes, restoring the legacy
    * single-dir scheme's instant-sized exposure window. */
  private def stageManifests(rows: DataFrame, estRows: Long): StagedManifests = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max => maxF, min => minF}
    val nParts = math.max(1L,
      (math.max(estRows, 0L) + ManifestTargetRows - 1) / ManifestTargetRows).toInt
    val tmp = new Path(logPath, s".${UUID.randomUUID()}.mtmp")
    rows.repartitionByRange(nParts, col("file"))
      .sortWithinPartitions("file")
      .write.parquet(tmp.toString)
    val parts = spark.read.schema(IncrementalTable.ckptRowSchema)
      .parquet(tmp.toString)
      .groupBy(input_file_name().as("_pf"))
      .agg(minF(col("file")).as("lo"), maxF(col("file")).as("hi"),
        count(lit(1)).as("n"))
      .as[(String, String, String, Long)].collect().toSeq
    val staged = parts.map { case (pf, lo, hi, n) =>
      val src = new Path(new java.net.URI(pf))
      val name = s"m-${UUID.randomUUID()}.parquet"
      (ManifestRef(name, lo, hi, n), src -> new Path(manifestsPath, name))
    }.sortBy(_._1.lo)
    StagedManifests(staged.map(_._1), staged.map(_._2), tmp)
  }

  /** Rename staged manifest part files into the pool — called right
    * before the checkpoint record publishes, so the window in which a
    * pool file exists unreferenced is the rename-to-publish instant
    * (same exposure as the legacy single-dir scheme; vacuum also
    * re-reads the log right before pool reclaim). */
  private def promoteManifests(st: StagedManifests): Unit = {
    if (st.pending.nonEmpty) fs.mkdirs(manifestsPath)
    st.pending.foreach { case (src, dst) =>
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"manifest rename failed: $src -> $dst")
    }
    fs.delete(st.tmpDir, true)
  }

  /** The head checkpoint's manifest list (X108) — empty when the head
    * checkpoint is inline or legacy single-directory. What an operator
    * checks for checkpoint health: fragmentation, range spans, row
    * balance across manifests. */
  def manifestList(): Seq[ManifestRef] =
    snapshot.base.flatMap(_.manifests).getOrElse(Nil)

  /** REWRITE_MANIFESTS maintenance (the Iceberg rewrite-manifests
    * procedure analog): fold the whole live set into fresh, compact,
    * range-balanced manifests — the explicit defragmentation pass for
    * a table whose incremental checkpoints accumulated many partial
    * manifests faster than the automatic small-manifest folding
    * reclaims them. Checkpoint records are immutable and share the
    * version of the commit they fold, so this lands a maintenance meta
    * no-op to get a fresh version and forces a FULL-REWRITE checkpoint
    * onto it; superseded pool manifests reclaim at the next vacuum.
    * No-op (returns the current list) on inline/legacy tables. */
  // rewriteManifests routes its full-rewrite intent through this flag
  // so a cadence checkpoint firing on the maintenance meta commit
  // itself (checkpointEvery = 1) already does the full fold — records
  // are immutable, a forced write after it would lose the publish race
  @volatile private var fullRewriteNext = false

  def rewriteManifests(): Seq[ManifestRef] = {
    require(exists, s"rewrite_manifests target $root does not exist")
    if (snapshot.base.isEmpty) return Nil
    fullRewriteNext = true
    try {
      commitMeta(Map("maintenance/manifest_rewrite" -> now().toString))
      // cadence may have checkpointed the meta commit (with the full
      // rewrite, via the flag); otherwise force one at this version
      if (!(commits().head.version == latestVersion &&
            commits().head.action == "checkpoint"))
        maybeCheckpoint(latestVersion, force = true, fullRewrite = true)
    } finally fullRewriteNext = false
    refresh()
    manifestList()
  }

  /** Snapshot the live set so replay cost stays O(checkpointInterval). */
  private def maybeCheckpoint(version: Long, force: Boolean = false,
      fullRewrite: Boolean = false): Unit =
    if (force || (version > 0 && version % checkpointEvery == 0)) {
      // the snapshot carries everything the record needs: live set,
      // folded meta, schema, the CURRENT layout (latest data commit's
      // partitionBy — a meta/dv tail commit's empty one would make
      // detail() report a partitioned table as unpartitioned right after
      // compaction, ADVICE r4 #2) and the batch horizons the
      // exactly-once guard needs past compaction
      val snap = snapshot
      val record = snap.checkpoint(now())
      val prevParquet = snap.base
      // exact live count with NO base fold ([[Snapshot.numFiles]])
      val liveCount = snap.numFiles

      if (prevParquet.isDefined || liveCount > parquetThreshold) {
        // ---- columnar checkpoint, MANIFEST tier (VERDICT r10 #4):
        // live rows live in immutable pool manifests; a checkpoint
        // REUSES by reference every manifest the tail window never
        // touched and rewrites only the dirty subset + the tail's own
        // adds — write cost scales with what changed, not table size.
        // Once columnar, always columnar. Legacy single-dir checkpoints
        // migrate wholesale on their first manifest checkpoint.
        import spark.implicits._
        val (reused, freshRows): (Seq[ManifestRef], DataFrame) =
          prevParquet match {
            case Some(ck) if ck.manifests.isDefined =>
              // a manifest is dirty iff its path range can hold a
              // tail-removed or dv-touched file — a pure metadata
              // decision, no manifest opened to decide. Tail ADDS never
              // dirty a manifest: a genuinely new name (write-unique
              // uuids) cannot be in any base manifest, and a RE-added
              // base name must have been removed first, so it already
              // sits in removedFromBase — adds go only to the fresh
              // tail manifest. fullRewrite (rewriteManifests
              // maintenance) treats the whole list as dirty:
              // everything re-folds compactly.
              val dirty: Set[String] = snap.removedFromBase ++ snap.dvOnBase.keySet
              val (dirtyRefs, clean) =
                if (fullRewrite || fullRewriteNext) (ck.manifests.get, Nil)
                else ck.manifests.get.partition(m =>
                  dirty.exists(f => DataSkipping.cpCompare(m.lo, f) <= 0 &&
                    DataSkipping.cpCompare(f, m.hi) <= 0))
              (clean, foldTail(manifestRowsDF(dirtyRefs), snap,
                sizedAdds = true))
            case Some(_) =>
              // legacy single-directory checkpoint: one full migration
              // rewrite into the pool
              (Nil, liveRowsDF(Map.empty, None, sizedAdds = true))
            case None =>
              // first crossing of the threshold: the inline live set
              // (bounded by the crossing size) becomes the rows
              (Nil, ckptRows(snap, sized = true).toDS().toDF())
          }
        // reused manifests hold only live rows (else they'd be dirty),
        // so the fresh row count is exact arithmetic — no count job
        var reusedMs = reused
        var rows = freshRows
        var freshCount = liveCount - reusedMs.map(_.n).sum
        // anti-fragmentation: every checkpoint adds a tail-adds
        // manifest, so small reused ones accumulate; when the PREDICTED
        // list would outgrow ~4x the ideal, fold the small reused
        // manifests into this checkpoint's fresh write — bounded by the
        // small subset's rows, never the table. Deciding on the
        // prediction (exact arithmetic; fresh output is range-balanced
        // by construction) keeps the checkpoint to ONE staged
        // range-write, so nothing touches the pool before the
        // promote-at-publish below (ADVICE r11 medium).
        val ideal = math.max(1L,
          (liveCount + ManifestTargetRows - 1) / ManifestTargetRows)
        val predicted = reusedMs.size + math.max(1L,
          (math.max(freshCount, 0L) + ManifestTargetRows - 1) / ManifestTargetRows)
        if (predicted > math.max(8L, 4L * ideal)) {
          val (small, big) = reusedMs.partition(_.n < ManifestTargetRows / 2)
          if (small.nonEmpty) {
            rows = rows.unionByName(manifestRowsDF(small))
            freshCount += small.map(_.n).sum
            reusedMs = big
          }
        }
        val staged = stageManifests(rows, freshCount)
        val ms = (reusedMs ++ staged.refs).sortBy(_.lo)
        val rec = record.copy(add = Nil, fileStats = Map.empty, dv = Map.empty,
          numFiles = Some(liveCount), manifests = Some(ms))
        val tmp = new Path(logPath, s".${UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, false)
        try out.write(Serialization.write(rec).getBytes("UTF-8")) finally out.close()
        // fresh manifests enter the pool only NOW, adjacent to the
        // record publish — a concurrent vacuum (which re-reads the log
        // right before pool reclaim) cannot observe them unreferenced
        // for longer than the legacy scheme's rename-to-publish instant
        promoteManifests(staged)
        // two writers checkpointing the same version computed the same
        // snapshot — losing either race is harmless; the loser's fresh
        // manifests are its own never-referenced uuids, reclaimed
        // eagerly here (vacuum also sweeps crash strays)
        if (!publish(tmp, new Path(logPath, f"${rec.version}%010d.checkpoint.json"))) {
          fs.delete(tmp, false)
          staged.refs.foreach(m =>
            fs.delete(new Path(manifestsPath, m.name), false))
        }
      } else {
        // the inline record carries the live files' data-skipping stats
        // (pruning survives compaction of the commits that recorded
        // them) and the deletion-vector map (which also keeps the
        // referenced sidecar generations vacuum-protected)
        val tmp = new Path(logPath, s".${UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, false)
        try out.write(Serialization.write(record).getBytes("UTF-8")) finally out.close()
        // two writers checkpointing the same version computed the same
        // live set — losing this race is harmless, keep the winner's
        if (!publish(tmp, new Path(logPath, f"${record.version}%010d.checkpoint.json")))
          fs.delete(tmp, false)
      }
      refresh() // next read replays from the new checkpoint
    }

  /** Compact a partition's small files into `targetFiles` per physical
    * partition (streaming ingest accumulates one file per micro-batch;
    * at scale, scan cost is dominated by file count). A plain
    * read-repartition-replace through the normal commit path: atomic,
    * time-travel-visible, old files reclaimed by vacuum().
    *
    * With `clusterBy`, compaction CLUSTERS instead of hashing: rows are
    * range-partitioned and sorted on the given columns, so each output
    * file covers a narrow disjoint [min,max] slice — this is what makes
    * the `statsColumns` data-skipping index selective (the OPTIMIZE-
    * with-clustering shape; a 1-D Z-ORDER). Pass the same columns as
    * `statsColumns` to index the clustered files.
    *
    * With `zorderBy` (2-4 integral OR string columns), rows are
    * ordered along the Morton curve of the columns' 16-bit equi-width
    * buckets (OPTIMIZE ZORDER BY): each file becomes a tight [min,max]
    * BOX, so a range predicate on ANY z-column prunes files — where
    * lexicographic `clusterBy` prunes only on the leading column. The
    * bucket ranges come from one exact min/max aggregation over the
    * compacted slice (a second pass over data being rewritten anyway);
    * `zorderBy` columns are auto-indexed in the skipping stats.
    * String columns ride the curve through [[graft.functions.ZOrder
    * .packAscii8]]'s order-preserving long proxy (VERDICT r4 #8) —
    * layout only; pruning soundness stays with the ASCII-guarded
    * footer bounds. */
  def compact(partitionFilter: Map[String, String] = Map.empty,
      targetFiles: Int = 1, clusterBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      // X89: size the output by BYTES instead of a fixed count — the
      // 100 TB dial (`targetFiles=1` per partition is right at toy SF
      // and wrong at scale). When > 0, the output file count is
      // ceil(live bytes in scope / targetBytes), overriding
      // targetFiles; the byte sum is a driver metadata pass over the
      // files being rewritten anyway.
      targetBytes: Long = 0L): Option[Commit] = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy and zorderBy are mutually exclusive")
    import org.apache.spark.sql.functions.{col, min, max}
    val partitionBy = committedPartitionBy
    val nFiles =
      if (targetBytes <= 0) targetFiles
      else {
        val bytes = liveFiles(partitionFilter)
          .map(f => fs.getFileStatus(new Path(rootPath, f)).getLen).sum
        math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      }
    // row-tracked tables carry ids through the rewrite (X87): ids are
    // stable across compaction. A plain one-file rewrite of a small
    // scope reads it on the driver, so `repartition(1)` over the local
    // rows stages on the driver too and the compaction runs no job
    val tracked = rowTracked
    val base =
      if (!tracked && clusterBy.isEmpty && zorderBy.isEmpty && targetBytes <= 0 &&
          nFiles == 1)
        readLocal(partitionFilter).getOrElse(readInternal(partitionFilter, None))
      else readInternal(partitionFilter, None, keepRowId = tracked)
    val df =
      if (zorderBy.nonEmpty) {
        // string dimensions enter the curve via their packed-long
        // proxy; double/float dimensions bucket in double space (X89,
        // layout-only either way — pruning soundness stays with the
        // footer bounds); everything else buckets in long space
        import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}
        val dts = zorderBy.map(c => base.schema(c).dataType)
        val proxies = zorderBy.zip(dts).map {
          case (c, StringType) => graft.functions.ZOrder.packAscii8(col(c))
          case (c, _) => col(c)
        }
        val minMax = proxies.flatMap(p => Seq(min(p), max(p)))
        val agg = base.agg(minMax.head, minMax.tail: _*).head
        if (agg.isNullAt(0)) base.repartition(nFiles) // empty slice
        else {
          val z = graft.functions.ZOrder.interleave(
            proxies.zipWithIndex.map { case (p, i) =>
              dts(i) match {
                case DoubleType | FloatType =>
                  graft.functions.ZOrder.bucketDouble(p,
                    agg.getAs[Number](2 * i).doubleValue,
                    agg.getAs[Number](2 * i + 1).doubleValue)
                case _ =>
                  graft.functions.ZOrder.bucket(p,
                    agg.getAs[Number](2 * i).longValue,
                    agg.getAs[Number](2 * i + 1).longValue)
              }
            })
          base.withColumn("_graft_z", z)
            .repartitionByRange(nFiles, col("_graft_z"))
            .sortWithinPartitions(col("_graft_z"))
            .drop("_graft_z")
        }
      } else if (clusterBy.isEmpty) base.repartition(nFiles)
      else base
        .repartitionByRange(nFiles, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    write(df, "replace", partitionBy, Map.empty, partitionFilter,
      // logical no-op marker (the Delta dataChange=false analog, X94):
      // compaction rewrites the CURRENT rows unchanged (standing dv
      // deletes materialize, but those rows were already emitted as
      // deletes by their own dv commits), so the change feed skips
      // the commit without reading a byte of the rewrite
      Map(IncrementalTable.MaintenanceKey -> "1"), None,
      statsColumns = (statsColumns ++ zorderBy).distinct,
      bloomColumns = bloomColumns)
  }

  /** Predicate-scoped compaction (the Iceberg `rewrite_data_files`
    * WHERE analog, beyond [[compact]]'s k=v partition scope): rewrite
    * exactly the files the metadata prune touches for `predicate` —
    * on a clustered 100 TB table, re-tighten the handful of files a
    * hot key range straddles without touching the corpus. Lossless by
    * construction: the prune is conservative (supersets the matching
    * rows) and rows are rewritten unfiltered; standing deletion
    * vectors on the touched files materialize in the rewrite, same as
    * [[compact]]. Spec-agnostic (removeExact), so it also migrates
    * touched old-spec files after partition evolution (X81). */
  def compactWhere(predicate: org.apache.spark.sql.Column,
      targetFiles: Int = 1,
      statsColumns: Seq[String] = Nil): Option[Commit] = {
    val files = liveFilesWhere(predicate)
    if (files.isEmpty) return None
    write(withEqDel(files, None)(fs =>
        filesDf(fs, committedSchemaAt(), liveDv(), columnMapping(),
          keepRowId = rowTracked)).repartition(targetFiles), "replace",
      committedPartitionBy, Map.empty, Map.empty,
      Map(IncrementalTable.MaintenanceKey -> "1"), None,
      statsColumns = statsColumns, removeExact = Some(files))
  }

  /** Auto-compaction policy: compact every physical partition (within
    * `filters`) whose live file count exceeds `maxFiles`. A driver-side
    * metadata scan over the committed file list (no Spark job unless a
    * partition actually compacts), so streaming sinks can call it after
    * every micro-batch — steady-state cost is one map over live paths.
    * Returns the partition filters that were compacted.
    *
    * Each compaction is a partition-scoped replace commit: downstream
    * [[graft.streaming.DerivedStream]] consumers observe it and
    * re-derive that partition (same logical rows — converges), and
    * OCC fails it cleanly if a concurrent writer touches the same
    * partition first. */
  def compactIfNeeded(maxFiles: Int, targetFiles: Int = 1,
      filters: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil): Seq[Map[String, String]] = {
    require(maxFiles >= targetFiles && maxFiles > 0)
    val oversized = snapshot.base match {
      case Some(_) =>
        // the per-partition census is a groupBy over the checkpoint
        // rows; only oversized dirs (the partitions to compact) return
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        liveRowsDF(filters, None)
          .groupBy(IncrementalTable.parentDirCol.as("_dir")).count()
          .filter(col("count") > maxFiles)
          .select("_dir").as[String].collect().toSeq.sorted
      case None =>
        liveFiles(filters).groupBy(parentDir)
          .filter(_._2.size > maxFiles).keys.toSeq.sorted
    }
    val scopes = oversized.map(IncrementalTable.hiveSegments)
    if (!specEvolved)
      scopes.foreach(compact(_, targetFiles, statsColumns = statsColumns))
    else oversized.foreach { d =>
      // Spec evolution (X81): logical-partition compaction would need
      // every live file to encode this dir's tokens; PHYSICAL per-dir
      // compaction doesn't — rewrite exactly this dir's files (named
      // via removeExact) and let the write choke point route the rows
      // under the CURRENT layout. Old-spec dirs migrate to the new
      // spec as maintenance touches them.
      val inDir = snapshot.base match {
        case Some(_) =>
          import org.apache.spark.sql.functions.col
          import spark.implicits._
          liveRowsDF(filters, None)
            .filter(IncrementalTable.parentDirCol === d)
            .select("file").as[String].collect().toSeq
        case None => liveFiles(filters).filter(f => parentDir(f) == d)
      }
      if (inDir.nonEmpty)
        write(withEqDel(inDir, None)(fs =>
            filesDf(fs, committedSchemaAt(), liveDv(), columnMapping(),
              keepRowId = rowTracked)).repartition(targetFiles), "replace",
          committedPartitionBy, Map.empty, Map.empty, Map.empty, None,
          statsColumns = statsColumns, removeExact = Some(inDir))
    }
    scopes
  }

  /** Delete data files NO commit in the replayable window references:
    * crashed-writer strays and OCC race losers' promoted-but-
    * uncommitted files reclaim immediately; files REPLACED within the
    * window survive until a checkpoint truncates the history that
    * names them — time travel (readAt/readCommit) is documented back
    * to the newest checkpoint, and a live-set-only vacuum would break
    * every pre-replace snapshot inside that horizon. The checkpoint
    * cadence IS the retention policy (Delta's retention-hours analog,
    * expressed in commits instead of wall time). */
  /** Export the live snapshot for EXTERNAL readers (the Delta
    * `GENERATE symlink_format_manifest` analog): one manifest text
    * file per physical partition under `_symlink_format_manifest/`,
    * each line the absolute URI of a live data file. Engines that
    * can't replay the commit log (Presto/Trino/Athena-style external
    * tables) point a partitioned table at the manifest tree and read
    * exactly the committed snapshot — uncommitted stragglers, replaced
    * files, and OCC losers are invisible because the manifest is
    * generated FROM the log, never from a directory listing.
    *
    * Each partition's manifest publishes by tmp-write + rename, and
    * the NEW set is written before stale partitions' manifests are
    * pruned — a concurrent external reader always sees a complete
    * snapshot (the previous one until its partition's rename lands),
    * and a crash mid-call leaves the previous export intact, never an
    * empty tree. Tables with deletion vectors in force refuse to
    * export: an external reader has no way to apply them — compact()
    * first to materialize. Returns the manifest-relative partition
    * paths written. */
  def generateManifest(): Seq[String] = {
    require(liveDv().isEmpty,
      s"table $root has deletion vectors in force — external readers " +
        "cannot apply them; compact() to materialize before exporting")
    require(eqDeletes().isEmpty,
      s"table $root has equality deletes in force — external readers " +
        "cannot apply them; compact() to materialize before exporting")
    val dir = new Path(rootPath, "_symlink_format_manifest")
    val byPartition = liveFiles().groupBy(parentDir)
    val written = byPartition.toSeq.sortBy(_._1).map { case (part, files) =>
      val out = if (part.isEmpty) dir else new Path(dir, part)
      fs.mkdirs(out)
      val tmp = new Path(out, s".${UUID.randomUUID()}.tmp")
      val os = fs.create(tmp, false)
      try os.write(files.sorted.map(f =>
        fs.makeQualified(new Path(rootPath, f)).toString).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
      finally os.close()
      val dest = new Path(out, "manifest")
      // atomic REPLACE (FileContext Rename.OVERWRITE): no window where
      // a partition briefly has no manifest, unlike delete-then-rename
      logFc.rename(tmp, dest, Options.Rename.OVERWRITE)
      if (part.isEmpty) "manifest" else s"$part/manifest"
    }
    // prune AFTER publishing: drop manifest files of partitions that no
    // longer exist (and any stray tmp files from crashed calls)
    val keep = written.toSet
    def prune(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val childRel = if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}"
        if (st.isDirectory) {
          prune(st.getPath, childRel)
          if (fs.listStatus(st.getPath).isEmpty) fs.delete(st.getPath, false)
        } else if (!keep.contains(childRel)) fs.delete(st.getPath, false)
      }
    if (fs.exists(dir)) prune(dir, "")
    written
  }

  /** Age-based snapshot expiry (VERDICT r11 #2 — the Iceberg
    * `expire_snapshots` / Delta retention surface): delete archived
    * delta records older than `olderThanHours`, truncating how far
    * back time travel and audit walks reach. The expiry floor E is the
    * NEWEST checkpoint record that is (a) older than the cutoff, (b) at
    * or below every tag and live-branch base (refs pin history,
    * Iceberg-style — tag first, expire later), (c) at or below the CDC
    * retention window's start, and (d) at or below the replay horizon.
    * E's checkpoint record is KEPT and becomes the archived-replay seed
    * ([[archivedDeltas]]): beyond-horizon tag reads, CDC walks and
    * vacuum's protection walks fold state from that snapshot instead
    * of version 0, so expiry never changes a still-reachable answer —
    * only versions below E become unreadable (the horizon error names
    * this retention). Data files referenced ONLY by expired history
    * become unreferenced and reclaim on the next [[vacuum]]. The floor
    * props commit BEFORE any record is deleted, so a crash mid-expiry
    * still reports the retention. Returns (floor, records deleted);
    * (-1, 0) when nothing is old enough to expire. */
  def expireSnapshots(olderThanHours: Double): (Long, Long) = {
    require(olderThanHours >= 0, "older_than_hours must be >= 0")
    val cs = commits()
    require(cs.nonEmpty, s"expire_snapshots target $root does not exist")
    val cutoffTs = now() - (olderThanHours * 3600 * 1000).toLong
    val pinFloor = (tags.values ++ branches.values.map(_.base))
      .minOption.getOrElse(Long.MaxValue)
    val cdcFloor =
      if (cdcRetention > 0) math.max(0L, latestVersion - cdcRetention)
      else Long.MaxValue
    val replayFloor = cs.head.version
    // pending WAPs pin their raw `staged` records (ADVICE r12 medium):
    // publishWap's evolve-conflict scan starts at the open cycle's
    // earliest staging commit, and the checkpoint fold preserves only
    // the channel VALUE (the pending payload), not the staged record
    // itself — expiring past it would make the staging permanently
    // unpublishable. Floor strictly below the oldest pending staging.
    val wapFloor = {
      val pending = pendingWaps.keySet
      if (pending.isEmpty) Long.MaxValue
      else wapAnchors(pending.toSet).values.minOption.map(_ - 1).getOrElse(Long.MaxValue)
    }
    val records = logRecords()
    val floor = records.filter(_.endsWith(".checkpoint.json")).map(versionOf)
      .filter(v => v <= pinFloor && v <= cdcFloor && v <= replayFloor &&
        v <= wapFloor)
      .filter(v => checkpointRecordAt(v).exists(_.ts < cutoffTs))
      .lastOption
    val cur = expiredBelow.getOrElse(-1L)
    floor.filter(_ > cur) match {
      case None => (-1L, 0L)
      case Some(e) =>
        commitMeta(Map(
          "prop/" + IncrementalTable.ExpiredBelowProp -> e.toString,
          "prop/" + IncrementalTable.ExpiredHoursProp -> olderThanHours.toString))
        // delta records <= E fold into E's kept checkpoint; older
        // checkpoint records are superseded by it
        val doomed = records.filter { n =>
          if (n.endsWith(".checkpoint.json")) versionOf(n) < e else versionOf(n) <= e
        }
        doomed.foreach(n => fs.delete(new Path(logPath, n), false))
        refresh()
        (e, doomed.length.toLong)
    }
  }

  /** Reclaim unreferenced storage. `olderThanHours > 0` adds a
    * Delta-style retention grace: a reclaim candidate younger than the
    * cutoff (by filesystem modification time) is LEFT IN PLACE — the
    * in-flight-reader allowance (a long query planned against a
    * recently superseded snapshot still finds its files) and the
    * operator dial ops teams think in (`deletedFileRetentionDuration`).
    * The default 0 keeps the strict reference-based reclaim: anything
    * provably unreferenced by the replayable window, CDC retention,
    * pending WAPs/branches and tagged snapshots goes immediately.
    * `dryRun = true` (the Delta `VACUUM ... DRY RUN` surface) computes
    * and returns the reclaim list WITHOUT deleting anything or
    * committing maintenance tombstones — the audit-before-delete step
    * for an operator pointing a new retention dial at a 100 TB
    * table. */
  def vacuum(olderThanHours: Double = 0.0,
      dryRun: Boolean = false): Seq[String] = {
    val vacGraceMs = (olderThanHours * 3600 * 1000).toLong
    def agedPath(p: Path): Boolean = vacGraceMs <= 0 || {
      try now() - fs.getFileStatus(p).getModificationTime > vacGraceMs
      catch { case _: java.io.FileNotFoundException => false }
    }
    def reclaim(p: Path, recursive: Boolean): Unit =
      if (!dryRun) fs.delete(p, recursive)
    // retire equality deletes (X104) nothing can apply to anymore —
    // every file that predated them was since rewritten or removed, so
    // the entry is inert at head. One metadata tombstone; the sidecar
    // dir reclaims in a LATER vacuum, once the entry has also left the
    // replayable window, the CDC retention walk, and every tagged /
    // branch-base snapshot (until then, as-of reads still consult it).
    if (!dryRun) retireInertEqDeletes()
    val snap = snapshot
    val cs = snap.log
    // Both protection walks below step the archived records — seeded at
    // the retention floor's checkpoint once expire_snapshots has run, a
    // STATE snapshot whose columnar rows are read at most once per walk.
    def seedRows(walk: Seq[Commit]) = walk.headOption
      .filter(c => c.action == "checkpoint" && c.columnarCkpt)
    // CDC retention: a changes() window inside the last `cdcRetention`
    // commits may replay ARCHIVED deltas — keep every data file its
    // emission reads (adds, removes, dv-touched) and every sidecar
    // generation and equality delete (X104) in force at or through the
    // window (the state just before a commit included, so pre-window
    // deletes still apply during emission)
    val (cdcFiles, cdcGens, cdcEqGens) =
      if (cdcRetention <= 0)
        (Set.empty[String], Set.empty[String], Set.empty[String])
      else {
        val cutoff = math.max(0L, latestVersion - cdcRetention)
        val files = Set.newBuilder[String]
        val gens = Set.newBuilder[String]
        val eqGens = Set.newBuilder[String]
        val walk = archivedDeltas(latestVersion)
        lazy val baseDv = seedRows(walk).map(ckptDvMap).getOrElse(Map.empty[String, Seq[String]])
        walk.foldLeft(Snapshot.empty) { (before, c) =>
          val after = before.step(c)
          if (c.version >= cutoff) {
            files ++= c.add; files ++= c.remove; files ++= c.dv.keys
            gens ++= c.dv.values.flatten
            Seq(before, after).foreach { st =>
              gens ++= st.dvMap(baseDv).values.flatten
              eqGens ++= st.eqDeletes.map(_._1)
            }
          }
          after
        }
        (files.result(), gens.result(), eqGens.result())
      }
    // Tagged-snapshot retention (X101): every tagged version's live set
    // — and the DV generations and equality deletes in force at it —
    // stays referenced, so a tag is a durable reproducibility pin (the
    // training-run contract: the exact corpus snapshot a run trained on
    // survives arbitrary rewrites until the tag is dropped). One
    // O(history) archived-log walk shared by all tags, the same
    // audit-path cost as the CDC retention walk above.
    val (tagFiles, tagGens, tagEqGens) = {
      // live branches (X102) pin their BASE snapshot exactly like a
      // tag: the fork must stay readable (and fast-forwardable) no
      // matter what main rewrites in the meantime
      val tagVersions = tags.values.toSet ++ branches.values.map(_.base)
      if (tagVersions.isEmpty)
        (Set.empty[String], Set.empty[String], Set.empty[String])
      else {
        val files = Set.newBuilder[String]
        val gens = Set.newBuilder[String]
        val eqGens = Set.newBuilder[String]
        val walk = archivedDeltas(tagVersions.max)
        lazy val baseLive = seedRows(walk).map(ckptLiveFiles).getOrElse(Nil)
        lazy val baseDv = seedRows(walk).map(ckptDvMap).getOrElse(Map.empty[String, Seq[String]])
        walk.foldLeft(Snapshot.empty) { (before, c) =>
          val st = before.step(c)
          if (tagVersions.contains(c.version)) {
            files ++= st.liveFiles(baseLive)
            gens ++= st.dvMap(baseDv).values.flatten
            eqGens ++= st.eqDeletes.map(_._1)
          }
          st
        }
        (files.result(), gens.result(), eqGens.result())
      }
    }
    // Candidate listing: driver walk below a top-level dir-count
    // threshold; ABOVE it the per-dir recursive walks run as a Spark
    // job (VERDICT r8 #5) — on a many-partition table over object
    // storage the listing round trips parallelize across executors
    // and the file names stream straight into the anti-join without
    // ever folding on the driver. Both paths feed the SAME orphan
    // detection.
    import spark.implicits._
    val topLevel = if (fs.exists(rootPath)) fs.listStatus(rootPath).toSeq
      else Seq.empty
    val (topDirs, topFiles) = (
      topLevel.filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
        .map(_.getPath.toString),
      // '_'-prefixed top-level files are excluded here too (ADVICE r9)
      // so both listing paths agree with the driver walk's rel-path
      // filter — a root-level '_x.parquet' is never an orphan candidate
      topLevel.filter(st => !st.isDirectory &&
          st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_"))
        .map(st => relativize(rootPath, st.getPath.toString)))
    val listThreshold = spark.conf
      .getOption("spark.graft.distributedListingThreshold")
      .map(_.toInt).getOrElse(IncrementalTable.DefaultDistributedListingThreshold)
    val allDF: org.apache.spark.sql.DataFrame =
      if (topDirs.size <= listThreshold)
        listParquet(fs, rootPath)
          .map(f => relativize(rootPath, f._1))
          .filterNot(_.startsWith("_")).toDF("file")
      else {
        val sconf = new graft.parquet.RowParquet.SerializableConf(hadoopConf(spark))
        val rootStr = rootPath.toString
        val slices = math.min(topDirs.size,
          spark.sparkContext.defaultParallelism * 2).max(1)
        spark.sparkContext.parallelize(topDirs, slices).flatMap { dir =>
          val p = new Path(dir)
          val dfs = p.getFileSystem(sconf.value)
          val out = Seq.newBuilder[String]
          val it = dfs.listFiles(p, true)
          val base = new Path(rootStr).toUri.getPath.stripSuffix("/") + "/"
          while (it.hasNext) {
            val f = it.next()
            if (f.getPath.getName.endsWith(".parquet"))
              out += f.getPath.toUri.getPath.stripPrefix(base)
          }
          out.result()
        }.toDF("file").unionByName(topFiles.toDF("file"))
      }
    // pending write-audit-publish stagings (X98): their files are
    // referenced by no published commit yet — protected until the wap
    // is published (adopting commit references them) or aborted
    // (tombstone + eager delete makes them reclaimable)
    val wapFiles = pendingWaps.values.flatMap(_.add).toSeq ++
      // live branch chains (X102): their files are referenced by no
      // published commit until fastForward adopts them — protected
      // while the ref lives (dropBranch tombstones + eager-deletes)
      branches.values.flatMap(_.commits).flatMap(_.add)
    val orphans = snap.base match {
      case Some(ck) =>
        // orphan detection as a distributed anti-join: the referenced
        // set (checkpoint rows ∪ tail adds) never folds on the driver;
        // only the (small) orphan list comes back.
        val refDF = ckptRowsDF(ck).select("file")
          .unionByName((cs.flatMap(_.add) ++ cdcFiles ++ wapFiles ++ tagFiles).toDF("file"))
        allDF.join(refDF, Seq("file"), "left_anti")
          .as[String].collect().toSeq
      case None =>
        val referenced = cs.flatMap(_.add).toSet ++ cdcFiles ++ wapFiles ++ tagFiles
        val refDF = referenced.toSeq.toDF("file")
        allDF.join(refDF, Seq("file"), "left_anti")
          .as[String].collect().toSeq
    }
    val agedOrphans = orphans.filter(rel => agedPath(new Path(rootPath, rel)))
    agedOrphans.foreach(rel => reclaim(new Path(rootPath, rel), false))
    if (vacGraceMs <= 0 && !dryRun) fs.delete(stagingPath, true)
    // deletion-vector sidecar generations: reclaim dirs no commit in
    // the replayable window references (crash strays from a dv writer,
    // and generations whose last reference was truncated by a
    // checkpoint — the checkpoint re-references live files' gens, so
    // in-force DVs always survive)
    val refGens = cs.flatMap(_.dv.values.flatten).toSet ++
      snap.base.map(ckptDvMap(_).values.flatten.toSet).getOrElse(Set.empty) ++
      cdcGens ++ tagGens
    val dvRoot = new Path(rootPath, dvPrefix)
    val staleGens =
      if (!fs.exists(dvRoot)) Seq.empty
      else fs.listStatus(dvRoot).toSeq
        .filterNot(st => refGens.contains(st.getPath.getName))
        .filter(st => agedPath(st.getPath))
    staleGens.foreach(st => reclaim(st.getPath, true))
    // superseded columnar checkpoint directories: only the one the
    // current window's record names stays referenced; older dirs (and
    // crash strays from a lost checkpoint race) reclaim here
    // the expiry-floor seed checkpoint (expire_snapshots) must stay
    // mechanically readable — archived replays and the protection walks
    // above open its manifest/parquet rows — so its storage joins the
    // referenced sets even though it predates the replay window
    val seedCkpt = expiredBelow.flatMap(checkpointRecordAt)
    val refCkpts = (cs.flatMap(_.filesParquet) ++
      seedCkpt.flatMap(_.filesParquet)).toSet
    val staleCkpts =
      if (!fs.exists(logPath)) Seq.empty
      else fs.listStatus(logPath).toSeq.filter(st =>
        st.getPath.getName.endsWith(".checkpoint.parquet") &&
          !refCkpts.contains(st.getPath.getName) && agedPath(st.getPath))
    staleCkpts.foreach(st => reclaim(st.getPath, true))
    // manifest pool (VERDICT r10 #4): a pool file reclaims once no
    // checkpoint record in the replayable window references it —
    // superseded dirty manifests, folded small ones, and crash strays
    // from a lost checkpoint race all land here. Candidates are listed
    // BEFORE the log is re-read: a concurrently-publishing checkpoint
    // promotes its fresh manifests into the pool immediately before
    // its record lands ([[promoteManifests]]), so any pool file this
    // listing saw either is referenced by a record the re-read
    // observes or sits inside the promote-to-publish instant (the
    // legacy single-dir scheme's accepted window) — never the whole
    // checkpoint-build duration (ADVICE r11 medium; builds stage under
    // dot-prefixed .mtmp dirs this listing never consults).
    val poolEntries =
      if (!fs.exists(manifestsPath)) Seq.empty
      else fs.listStatus(manifestsPath).toSeq
    val refMs: Set[String] = {
      refresh()
      (cs ++ commits()).flatMap(_.manifests).flatten.map(_.name).toSet ++
        seedCkpt.flatMap(_.manifests).toSeq.flatten.map(_.name)
    }
    val staleMs = poolEntries
      .filterNot(st => refMs.contains(st.getPath.getName))
      .filter(st => vacGraceMs <= 0 ||
        now() - st.getModificationTime > vacGraceMs)
    staleMs.foreach(st => reclaim(st.getPath, false))
    // checkpoint staging dirs (.mtmp) left by crashed builds reclaim on
    // an age grace — a LIVE build's staging is younger than the grace
    val stagingGraceMs = spark.conf
      .getOption("spark.graft.vacuumStagingGraceMs").map(_.toLong)
      .getOrElse(IncrementalTable.DefaultVacuumStagingGraceMs)
    if (fs.exists(logPath) && !dryRun)
      fs.listStatus(logPath).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.endsWith(".mtmp") &&
          now() - st.getModificationTime > stagingGraceMs)
        .foreach(st => fs.delete(st.getPath, true))
    // bloom-index sidecars (X100): a sidecar dir reclaims when NONE of
    // the files it indexes is referenced in the replayable window —
    // entries are consulted only for live file names, so a dir whose
    // files are all gone (compacted away, failed writes, aborted WAPs)
    // can never influence a prune again. One metadata-plane job tags
    // each entry with its sidecar dir and anti-checks the referenced
    // set; pending-WAP files count as referenced like everywhere else.
    val staleBloom: Seq[String] = {
      val bloomRoot = bloomIdxPath
      if (!fs.exists(bloomRoot)) Seq.empty
      else {
        val dirs = fs.listStatus(bloomRoot).toSeq.filter(_.isDirectory)
        if (dirs.isEmpty) Seq.empty
        else {
          import org.apache.spark.sql.functions.{col, element_at, input_file_name, lit, max => maxFn, split}
          val refDF = snap.base match {
            case Some(ck) => ckptRowsDF(ck).select("file")
              .unionByName((cs.flatMap(_.add) ++ cdcFiles ++ wapFiles ++ tagFiles).toDF("file"))
            case None =>
              (cs.flatMap(_.add) ++ cdcFiles ++ wapFiles ++ tagFiles).toDF("file")
          }
          val entries = spark.read
            .schema(IncrementalTable.bloomIdxSchema)
            .parquet(dirs.map(_.getPath.toString): _*)
            .select(element_at(split(input_file_name(), "/"), -2).as("dir"),
              col("file"))
          val referencedDirs = entries
            .join(refDF.withColumn("_ref", lit(1)).dropDuplicates("file"),
              Seq("file"), "left")
            .groupBy("dir").agg(maxFn(col("_ref")).as("refs"))
            .filter(col("refs").isNotNull)
            .select("dir").as[String].collect().toSet
          // an all-empty dir yields no entries, hence no reference —
          // reclaimed as the crash stray it is
          dirs.map(_.getPath.getName).filterNot(referencedDirs)
        }
      }
    }
    val agedBloom = staleBloom.filter(d => agedPath(new Path(bloomIdxPath, d)))
    agedBloom.foreach(d => reclaim(new Path(bloomIdxPath, d), true))
    // equality-delete sidecars (X104): a gen dir reclaims only when
    // nothing can consult it again — no commit in the replayable
    // window carries it IN FORCE (as-of reads inside the window fold
    // the channel from those commits; a tombstone-only mention does
    // not reference), it is outside the CDC retention walk, and it is
    // not in force at any tagged / branch-base snapshot. Crash strays
    // from a lost deleteByKey race reclaim here too.
    val refEq: Set[String] = cs.flatMap(_.meta.collect {
        case (k, v) if k.startsWith(IncrementalTable.EqDelPrefix) &&
          v.nonEmpty => k.stripPrefix(IncrementalTable.EqDelPrefix)
      }).toSet ++ cdcEqGens ++ tagEqGens
    val eqRoot = new Path(rootPath, IncrementalTable.EqDelDir)
    val staleEq =
      if (!fs.exists(eqRoot)) Seq.empty
      else fs.listStatus(eqRoot).toSeq
        .filterNot(st => refEq.contains(st.getPath.getName))
        .filter(st => agedPath(st.getPath))
    staleEq.foreach(st => reclaim(st.getPath, true))
    agedOrphans ++ staleGens.map(st => s"$dvPrefix/${st.getPath.getName}") ++
      staleCkpts.map(st => s"_graft_log/${st.getPath.getName}") ++
      staleMs.map(st => s"_graft_log/manifests/${st.getPath.getName}") ++
      agedBloom.map(d => s"_graft_log/bloomidx/$d") ++
      staleEq.map(st => s"${IncrementalTable.EqDelDir}/${st.getPath.getName}")
  }
}

object IncrementalTable {
  val checkpointInterval = 100

  /** Bounds of [[IncrementalTable.readLocal]]: a read of more scoped
    * files, or of more bytes, stays a Spark read. Decoding on the driver
    * took about a millisecond and a half per small listing file on 4
    * vCPU, against a Spark job's tens of milliseconds; a day's listing
    * and `processed` stay within the file bound because the planner
    * compacts them after an append ([[graft.graph.AssetGraph.keepReadLocal]]). */
  val LocalReadMaxFiles = 32
  val LocalReadMaxBytes: Long = 4L << 20

  /** Async cleanup of retired STAGING trees (round-15 profiling: the
    * post-promote `fs.delete(stage, true)` ran on the driver's
    * critical path between jobs — FileUtil.deleteImpl was a top
    * wall-minus-jobs frame on multi-commit queries). Only dirs that
    * are NEVER read again qualify: the batch write path's
    * UUID-named stage dirs (no collision, no re-listing; vacuum's
    * whole-staging sweep tolerates them vanishing). Epoch-named
    * streaming stage dirs stay synchronous — a replayed epoch
    * re-attempts into the SAME deterministic path. One daemon thread:
    * deletes stay ordered and bounded; a JVM exit may leak the last
    * in-flight dir, exactly like dying just before a sync delete. A
    * failed delete leaves its dir for vacuum's staging sweep and is
    * counted in [[stagingGcStats]], never rethrown to the writer. */
  private val stagingGc = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-staging-gc"); t.setDaemon(true); t
    })
  private val gcQueued = new java.util.concurrent.atomic.AtomicLong
  private val gcDone = new java.util.concurrent.atomic.AtomicLong
  private val gcFailed = new java.util.concurrent.atomic.AtomicLong
  @volatile private var gcLastFailure: Option[String] = None

  /** The staging GC's deletes since JVM start: `queued` counts every
    * hand-off, so `queued - done - failed` is the backlog still in
    * flight; `lastFailure` names the last path that failed and why. */
  final case class GcStats(queued: Long, done: Long, failed: Long,
      lastFailure: Option[String])

  def stagingGcStats: GcStats =
    GcStats(gcQueued.get, gcDone.get, gcFailed.get, gcLastFailure)

  private[table] def gcStaging(fs: FileSystem, p: Path): Unit = {
    gcQueued.incrementAndGet()
    stagingGc.submit(new Runnable {
      def run(): Unit =
        try { fs.delete(p, true); gcDone.incrementAndGet(); () }
        catch { case e: Throwable =>
          gcLastFailure = Some(s"$p: $e")
          gcFailed.incrementAndGet(); ()
        }
    })
    ()
  }

  /** Bloom-index sidecar row shape (X100): explicit on every read so an
    * empty (crash-stray) sidecar dir reads as zero rows instead of
    * failing schema inference. */
  private[table] val bloomIdxSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("column",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bits",
        org.apache.spark.sql.types.BinaryType)))

  /** Row tracking (X87): the reserved PHYSICAL column carrying each
    * row's stable id on tables with `graft.rowTracking=true`. Never
    * part of the logical schema; minted at the write choke point,
    * carried through UPDATE/DELETE/compaction rewrites, and used by
    * `changes()` to pair pre/post images into
    * update_preimage/update_postimage. */
  val RowIdCol = "_graft_rid"

  /** Lossless widenings the parquet reader up-converts natively:
    * the integral chain upward, float→double, and small-integral→
    * double (exact within the 53-bit mantissa). long→double is LOSSY
    * (63-bit magnitudes) and excluded. */
  private[table] def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  /** Parquet's repeated-group encodings render container leaves as
    * `col.list.element[.field…]` (arrays) and `col.key_value.key` /
    * `col.key_value.value[…]` (maps); the stats index stores the
    * LOGICAL dot-paths `col.element…` / `col.key` / `col.value…` —
    * the keys [[DataSkipping]] produces for `array_contains`/`exists`/
    * `map_contains_key` predicates, so container leaves join the X6
    * index exactly like struct leaves (X54/X65/X69). */
  /** Append `field` inside the struct at `path` (X73): every step must
    * name an existing STRUCT (containers and leaves refuse — evolving
    * inside an array/map element is a genuine type change), and the
    * field must be fresh at its destination. */
  private[table] def addStructField(schema: StructType, path: Seq[String],
      field: org.apache.spark.sql.types.StructField): StructType = {
    val head = path.head
    val idx = schema.fields.indexWhere(_.name == head)
    require(idx >= 0, s"no column '$head' to add a nested field under")
    val f = schema.fields(idx)
    f.dataType match {
      case st: StructType =>
        val newSt =
          if (path.length == 1) {
            require(!st.fieldNames.contains(field.name),
              s"struct '$head' already has a field '${field.name}'")
            StructType(st.fields :+ field)
          } else addStructField(st, path.tail, field)
        StructType(schema.fields.updated(idx, f.copy(dataType = newSt)))
      case other => throw new IllegalArgumentException(
        s"cannot add a field inside '$head' (${other.simpleString}): " +
          "in-struct evolution applies to STRUCT columns only — anything " +
          "else is a type change (X49)")
    }
  }

  /** Transform (rename/retype) or remove (update → None) ONE nested
    * struct member addressed by `path` — the shared schema surgery of
    * the X86 in-struct DROP/RENAME/widen verbs. Every intermediate
    * segment must be a STRUCT column (in-container evolution stays
    * rejected); the final struct may not end up empty. */
  private[table] def mapStructField(schema: StructType, path: Seq[String])(
      update: org.apache.spark.sql.types.StructField =>
        Option[org.apache.spark.sql.types.StructField]): StructType = {
    require(path.nonEmpty, "empty field path")
    val head = path.head
    val idx = schema.fields.indexWhere(_.name == head)
    require(idx >= 0, s"no column '$head'")
    val f = schema.fields(idx)
    if (path.length == 1) {
      update(f) match {
        case Some(nf) => StructType(schema.fields.updated(idx, nf))
        case None =>
          val rest = schema.fields.patch(idx, Nil, 1)
          require(rest.nonEmpty, s"cannot drop the last field of a struct")
          StructType(rest)
      }
    } else f.dataType match {
      case st: StructType =>
        StructType(schema.fields.updated(idx,
          f.copy(dataType = mapStructField(st, path.tail)(update))))
      case other => throw new IllegalArgumentException(
        s"cannot evolve inside '$head' (${other.simpleString}): in-struct " +
          "evolution applies to STRUCT columns only — anything else is a " +
          "type change (X49)")
    }
  }

  /** The nested field at `path`, or None when any segment is missing
    * or a non-struct intermediate appears. */
  /** Driver-side HLL union (X88): fold a staged batch's sketch into
    * the channel's running sketch. datasketches-java is the library
    * Spark's own `hll_sketch_agg` builds on, so the bytes round-trip;
    * lgMaxK 12 matches the aggregate's default. */
  /** Commit-meta marker for logical no-op maintenance rewrites (X94,
    * the Delta `dataChange=false` analog): compact/compactWhere stamp
    * it so the change feed skips the commit without reading the
    * rewrite. Refresh/restore/DML replaces never carry it. */
  private[graft] val MaintenanceKey = "maintenance/rewrite"
  /** Meta-channel prefix of the pending write-audit-publish registry
    * (X98): `wap/<id>` → serialized [[WapPayload]], "" = tombstone. */
  private[graft] val WapPrefix = "wap/"
  private[graft] val BranchPrefix = "branch/"
  private[graft] val EqDelPrefix = "eqdel/"
  private[graft] val EqDelDir = "_graft_eqdel"

  /** The input types Spark's `hll_sketch_agg` accepts (ADVICE r9):
    * anything else in `graft.ndvColumns` is skipped with a warning
    * instead of failing every write on the table. */
  private[table] def ndvSupported(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.BinaryType => true
    case _ => false
  }

  private[table] def unionHll(prev: Option[Array[Byte]],
      fresh: Array[Byte]): Array[Byte] = {
    val u = new org.apache.datasketches.hll.Union(12)
    prev.foreach(b => u.update(org.apache.datasketches.hll.HllSketch.heapify(b)))
    u.update(org.apache.datasketches.hll.HllSketch.heapify(fresh))
    u.getResult.toCompactByteArray
  }

  /** The type with every struct member (recursively) nullable — cast
    * targets for the X86 rename-relabel casts, which must never refuse
    * on nullability. */
  private[table] def nullableType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(nullable = true, dataType = nullableType(f.dataType))))
    case other => other
  }

  private[graft] def structFieldAt(schema: StructType,
      path: Seq[String]): Option[org.apache.spark.sql.types.StructField] =
    path.foldLeft(Option(org.apache.spark.sql.types.StructField("",
        schema))) {
      case (Some(f), seg) => f.dataType match {
        case st: StructType => st.fields.find(_.name == seg)
        case _ => None
      }
      case (None, _) => None
    }

  private[table] def normalizeLeafPath(p: String): String =
    p.replace(".list.element", ".element").replace(".key_value.", ".")

  /** Prefix under which [[IncrementalTable.mergeInto]] stages SOURCE
    * columns in its join, so clause expressions can reference both
    * sides by name without collision: target columns stay plain,
    * source column `x` becomes `_graft_s_x` ([[mergeSourceCol]]). */
  val mergeSourcePrefix = "_graft_s_"

  /** Reference a merge SOURCE column inside a [[WhenClause]]
    * condition or assignment value. */
  def mergeSourceCol(name: String): Column =
    org.apache.spark.sql.functions.col(s"$mergeSourcePrefix$name")

  /** One WHEN clause of [[IncrementalTable.mergeInto]]: `cond` is the
    * optional AND-guard; `set` maps assigned target columns to value
    * expressions — `None` means DELETE (matched / not-matched-by-source
    * clauses only); NOT MATCHED clauses must carry the INSERT values. */
  final case class WhenClause(cond: Option[Column],
      set: Option[Seq[(String, Column)]])

  /** Live-file count above which checkpoints switch from inline JSON
    * to columnar parquet (and never switch back). Below it the whole
    * metadata path stays a driver-side fold — faster for small tables
    * and byte-identical to the historical behavior. */
  val parquetCheckpointThreshold = 10000
  val manifestTargetRowsDefault = 500000L

  /** One column's [min,max] in a columnar checkpoint row (the
    * [[ColStat]] shape as a parquet struct). */
  private[table] final case class CkptStatRow(min: Long, max: Long,
      minS: Option[String], maxS: Option[String],
      nulls: Option[Long], rows: Option[Long],
      // X75 double bounds; old checkpoint rows read them as null
      minD: Option[Double] = None, maxD: Option[Double] = None)

  private[table] def toCkptStat(s: ColStat): CkptStatRow =
    CkptStatRow(s.min, s.max, s.minS, s.maxS, s.nulls, s.rows, s.minD, s.maxD)

  private[table] def fromCkptStat(s: CkptStatRow): ColStat =
    ColStat(s.min, s.max, s.minS, s.maxS, s.nulls, s.rows, s.minD, s.maxD)

  /** One live file's row in a columnar checkpoint: relative path, size
    * in bytes (-1 = unknown, filled at the next checkpoint build),
    * data-skipping stats, and deletion-vector generations in force. */
  private[table] final case class CkptFileRow(file: String, size: Long,
      stats: Map[String, CkptStatRow], dvGens: Seq[String])

  private[table] lazy val ckptRowSchema: StructType =
    org.apache.spark.sql.Encoders.product[CkptFileRow].schema

  /** Hive partition-filter match as a Column over a checkpoint row's
    * `file` path — the distributed twin of [[matchesPartition]]:
    * every `k=v` filter must appear as a directory segment. */
  private[table] def partitionMatchExpr(filters: Map[String, String]): Option[Column] = {
    import org.apache.spark.sql.functions.{array_contains, expr}
    if (filters.isEmpty) None
    else {
      val segs = expr(
        "slice(split(file, '/'), 1, greatest(size(split(file, '/')) - 1, 0))")
      Some(filters.map { case (k, v) => array_contains(segs, s"$k=$v") }
        .reduce(_ && _))
    }
  }

  /** Root-relative partition dir of the `file` column ("" for
    * unpartitioned roots) — the distributed twin of [[parentDir]]. */
  private[table] def parentDirCol: Column = {
    import org.apache.spark.sql.functions.{col, lit, regexp_replace, when}
    when(col("file").contains("/"),
      regexp_replace(col("file"), "/[^/]*$", "")).otherwise(lit(""))
  }

  /** [[DataSkipping.overlaps]] as a Column over a checkpoint row's
    * stats entry (null stat = conservatively kept; string-stat rows
    * check the string bounds, integral rows the integral ones —
    * literals fold in driver-side, the comparison codegens). Spark
    * string comparison is binary UTF8 order — exactly the code point
    * order the truncated ColStat bounds are sound in (and the order
    * [[DataSkipping.cpCompare]] gives the driver-side twin). */
  private[table] def overlapsExpr(stat: Column, b: DataSkipping.Bounds): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    val mnS = stat.getField("minS")
    val mxS = stat.getField("maxS")
    val nulls = stat.getField("nulls")
    val rows = stat.getField("rows")
    // null-index checks mirror DataSkipping.overlaps: IS NULL prunes
    // zero-null files; all-null files (placeholder min/max) survive
    // only a bound-free null-tolerant predicate. Old checkpoint rows
    // read these fields as NULL and fall through unchanged.
    val allNull = nulls.isNotNull && rows.isNotNull && nulls === rows
    val strOk =
      b.lowerS.map(lo => if (b.lowerSStrict) mxS > lit(lo) else mxS >= lit(lo))
        .getOrElse(lit(true)) &&
        b.upperS.map(hi => if (b.upperSStrict) mnS < lit(hi) else mnS <= lit(hi))
          .getOrElse(lit(true))
    val intOk =
      b.lower.map(lo => stat.getField("max") >= lit(lo)).getOrElse(lit(true)) &&
        b.upper.map(hi => stat.getField("min") <= lit(hi)).getOrElse(lit(true))
    val mnD = stat.getField("minD")
    val mxD = stat.getField("maxD")
    val dblOk =
      b.lowerD.map(lo => if (b.lowerDStrict) mxD > lit(lo) else mxD >= lit(lo))
        .getOrElse(lit(true)) &&
        b.upperD.map(hi => if (b.upperDStrict) mnD < lit(hi) else mnD <= lit(hi))
          .getOrElse(lit(true))
    when(stat.isNull, lit(true))
      .when(lit(b.reqNull) && nulls.isNotNull && nulls === lit(0L), lit(false))
      .when(allNull, lit(!b.reqNotNull && !b.hasValueBound))
      .when(mnS.isNotNull, strOk)
      .when(mnD.isNotNull, dblOk)
      .otherwise(intOk)
  }

  // Same-JVM writer serialization: local FileContext rename is
  // check-then-rename (a TOCTOU window), so two THREADS in one JVM
  // could both pass the existence check and the later rename would
  // overwrite the earlier commit. Serializing commit() per table root
  // closes the in-process window; cross-PROCESS atomicity comes from
  // the filesystem (HDFS no-overwrite rename is server-side atomic).
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[table] def lockFor(root: String): Object =
    commitLocks.computeIfAbsent(root, _ => new Object)

  // Refcounted session-conf override for staging writes: first writer
  // in saves the old value and sets TIMESTAMP_MICROS, last writer out
  // restores. Every table write wants the same value, so overlapping
  // holders are always compatible; the counter ops (not the writes)
  // serialize on the map. Identity-keyed: conf is per-SparkSession.
  private val tsConfKey = "spark.sql.parquet.outputTimestampType"
  private final class TsGuard { var depth = 0; var saved: String = "" }
  private val tsGuards =
    new java.util.IdentityHashMap[SparkSession, TsGuard]()
  private[table] def withMicrosTimestamps[A](spark: SparkSession)(body: => A): A = {
    val g = tsGuards.synchronized {
      val g = tsGuards.computeIfAbsent(spark, _ => new TsGuard)
      if (g.depth == 0) {
        g.saved = spark.conf.get(tsConfKey)
        spark.conf.set(tsConfKey, "TIMESTAMP_MICROS")
      }
      g.depth += 1
      g
    }
    try body
    finally tsGuards.synchronized {
      g.depth -= 1
      if (g.depth == 0) { spark.conf.set(tsConfKey, g.saved); tsGuards.remove(spark) }
    }
  }

  def hadoopConf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  /** Staged-file count above which the commit-time stats harvest runs
    * as a Spark job instead of a serial driver footer loop (override
    * via `spark.graft.distributedStatsThreshold`). Micro-batch appends
    * and compactions stay below it and job-free; bulk-load/CTAS
    * commits cross it. */
  val DefaultDistributedStatsThreshold = 256

  /** Top-level partition-dir count above which vacuum's candidate
    * listing walks dirs in a Spark job instead of one serial driver
    * walk (override via `spark.graft.distributedListingThreshold`). */
  val DefaultDistributedListingThreshold = 64

  /** Age below which vacuum leaves a checkpoint-staging `.mtmp` dir
    * alone (a live build may still be folding into it); older ones are
    * crash strays (override via `spark.graft.vacuumStagingGraceMs`). */
  val DefaultVacuumStagingGraceMs: Long = 15L * 60 * 1000

  /** The per-file half of the harvest — `(record count, per-column
    * ColStat)` from one parquet footer. STATIC (companion, no session
    * capture) so the distributed path ships it to executors unchanged;
    * the inline path calls it in a driver loop. See the class's
    * `stagedFooterStats` for the two execution shapes. */
  private[table] def footerStatsOf(file: Path,
      conf: Configuration,
      cols: Set[String]): (Long, Map[String, ColStat]) = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
        val fileRows = rd.getRecordCount
        def upd(stats: scala.collection.mutable.HashMap[String, ColStat],
            name: String, mn: Long, mx: Long): Unit =
          stats.update(name, stats.get(name).fold(ColStat(mn, mx))(p =>
            ColStat(math.min(p.min, mn), math.max(p.max, mx))))
        def updD(stats: scala.collection.mutable.HashMap[String, ColStat],
            name: String, mn: Double, mx: Double): Unit =
          stats.update(name,
            stats.get(name).fold(ColStat(0, 0, minD = Some(mn), maxD = Some(mx)))(p =>
              p.copy(minD = Some(p.minD.fold(mn)(math.min(_, mn))),
                maxD = Some(p.maxD.fold(mx)(math.max(_, mx))))))
        val stats = scala.collection.mutable.HashMap.empty[String, ColStat]
        val poisoned = scala.collection.mutable.HashSet.empty[String]
        // per-column null tally across row groups: Some(total) while
        // every block reports a count, None once any block doesn't
        // (old writers) — an unknown tally never prunes
        val nulls = scala.collection.mutable.HashMap.empty[String, Option[Long]]
        val seen = scala.collection.mutable.HashSet.empty[String]
        // REPEATED leaves (array/map containers): their footer null
        // tally is in element units, not record units — tracked so the
        // null index is suppressed for them below (precise via the
        // schema's max repetition level, not name heuristics)
        val repeated = scala.collection.mutable.HashSet.empty[String]
        // distinct PHYSICAL dot-paths per normalized index key: a
        // genuine struct chain literally named `list`/`element` (or
        // `key_value`) normalizes onto the same key as a sibling
        // container leaf, and merging two physical leaves into one
        // ColStat ADDS their null tallies — which can fabricate
        // allNull and unsoundly prune. Colliding keys are dropped
        // whole below (conservative: those files never prune on that
        // key) — ADVICE r7.
        val physByNorm = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.Set[String]]
        if (cols.nonEmpty) rd.getFooter.getBlocks.forEach { block =>
          block.getColumns.forEach { cc =>
            val name = IncrementalTable.normalizeLeafPath(cc.getPath.toDotString)
            if (cols.contains(name)) {
              physByNorm.getOrElseUpdate(name,
                scala.collection.mutable.Set.empty) += cc.getPath.toDotString
              if (rd.getFooter.getFileMetaData.getSchema
                  .getColumnDescription(cc.getPath.toArray)
                  .getMaxRepetitionLevel > 0) repeated += name
              val st = cc.getStatistics
              if (st == null || st.isEmpty)
                throw new IllegalStateException(
                  s"staged parquet footer lacks statistics for stats column '$name'")
              seen += name
              nulls.update(name,
                if (!st.isNumNullsSet) None
                else nulls.getOrElse(name, Some(0L)).map(_ + st.getNumNulls))
              if (st.hasNonNullValue) {
                (st.genericGetMin, st.genericGetMax) match {
                  case (bn: org.apache.parquet.io.api.Binary,
                        bx: org.apache.parquet.io.api.Binary) =>
                    // string column: bounds TRUNCATE at harvest time to
                    // Iceberg truncate(16) semantics — lower = 16-code-
                    // point prefix, upper = prefix with the last code
                    // point bumped — so a long-string stats column costs
                    // bounded metadata per file instead of embedding
                    // document prefixes in every commit and manifest
                    // (VERDICT r11 #1). All comparisons are code-point
                    // order (== footer's unsigned-byte order == Spark's
                    // row-time UTF8 order), so non-ASCII corpora keep
                    // sound pruning instead of dropping the entry.
                    val mn = DataSkipping.truncateLower(bn.toStringUsingUTF8)
                    val mxT = DataSkipping.truncateUpper(bx.toStringUsingUTF8)
                    val prev = stats.get(name)
                    if (mxT.isDefined && !poisoned(name)) {
                      val mx = mxT.get
                      val lo = prev.flatMap(_.minS)
                        .filter(DataSkipping.cpCompare(_, mn) <= 0).getOrElse(mn)
                      val hi = prev.flatMap(_.maxS)
                        .filter(DataSkipping.cpCompare(_, mx) >= 0).getOrElse(mx)
                      stats.update(name, ColStat(0, 0, Some(lo), Some(hi)))
                    } else { poisoned += name; stats.remove(name) }
                  case (mno: java.lang.Long, mxo: java.lang.Long) =>
                    upd(stats, name, mno.longValue(), mxo.longValue())
                  case (mno: java.lang.Integer, mxo: java.lang.Integer) =>
                    upd(stats, name, mno.longValue(), mxo.longValue())
                  case (mno: java.lang.Double, mxo: java.lang.Double)
                      if !mno.isNaN && !mxo.isNaN && !poisoned(name) =>
                    updD(stats, name, mno.doubleValue(), mxo.doubleValue())
                  case (mno: java.lang.Float, mxo: java.lang.Float)
                      if !mno.isNaN && !mxo.isNaN && !poisoned(name) =>
                    // float->double widening is exact
                    updD(stats, name, mno.floatValue().toDouble,
                      mxo.floatValue().toDouble)
                  case _ =>
                    // neither integral nor string (double, boolean,
                    // decimal...): no sound [min,max] in the index's
                    // long/ASCII domain, but the NULL tally is
                    // type-agnostic — keep a boundless entry (full
                    // range, so value bounds never prune) for
                    // IS [NOT] NULL skipping
                    poisoned += name; stats.remove(name)
                }
              }
            }
          }
        }
        // attach the null index: every entry gets (nulls, rows); an
        // indexed column with NO value anywhere (all-null file) gets a
        // placeholder entry whose min/max are never consulted
        // (overlaps short-circuits on allNull) — that entry is what
        // lets IS NOT NULL and value bounds prune it. Poisoned
        // columns (non-ASCII string bounds, non-integral types) keep
        // a BOUNDLESS entry: full-range min/max prune nothing, the
        // null tally still works.
        val collided = physByNorm.iterator
          .collect { case (k, phys) if phys.size > 1 => k }.toSet
        val withNulls = seen.iterator.filterNot(collided).flatMap { name =>
          // REPEATED-leaf entries (array elements, map keys/values):
          // the footer null tally is in ELEMENT units while `rows` is
          // RECORD units — recording it would let `allNull`
          // (nulls == rows) mislabel a file on a coincidental count
          // match and unsoundly prune it. Repeated entries keep
          // [min,max] over all elements (exactly the
          // exists/array_contains/map_contains_key pruning domain)
          // and no null index.
          val n = if (repeated(name)) None
            else nulls.getOrElse(name, None)
          val r = Some(fileRows)
          if (poisoned(name)) {
            if (n.isEmpty) None // no tally either: nothing indexable
            else Some(name -> ColStat(Long.MinValue, Long.MaxValue,
              nulls = n, rows = r))
          } else stats.get(name) match {
            case Some(s) => Some(name -> s.copy(nulls = n, rows = r))
            case None if n.contains(fileRows) =>
              Some(name -> ColStat(0, 0, nulls = n, rows = r))
            case None => None // stats present but unusable: keep conservative
          }
        }.toMap
        (fileRows, withNulls)
    } finally rd.close()
  }

  def apply(spark: SparkSession, root: String): IncrementalTable =
    new IncrementalTable(spark, root)

  /** Test/tuning hook: custom log-compaction cadence. */
  def apply(spark: SparkSession, root: String, checkpointEvery: Int): IncrementalTable =
    new IncrementalTable(spark, root, checkpointEvery)

  /** Strip the default-value metadata keys before committing a schema
    * as DDL: `toDDL` would render `DEFAULT …`, which `fromDDL` cannot
    * parse — the `default/` channel is the committed source of truth,
    * re-attached by decorateDefaults on every read. */
  def ddlOf(s: StructType): String =
    StructType(s.fields.map { f =>
      if (f.metadata.contains("CURRENT_DEFAULT") || f.metadata.contains("EXISTS_DEFAULT"))
        f.copy(metadata = {
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          b.remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT").build()
        })
      else f
    }).toDDL

  /** Validate a DEFAULT literal (X79): must parse, fold to a constant,
    * and cast to the column's type. Returns the evaluated CATALYST
    * value (the streaming read bridge ships it to executors). */
  def validateDefault(col: String, dt: DataType,
      sql: String): Any = {
    val e = try
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
    catch {
      case ex: Exception => throw new IllegalArgumentException(
        s"DEFAULT for '$col' does not parse: $sql", ex)
    }
    require(e.foldable, s"DEFAULT for '$col' must be a constant: $sql")
    require(org.apache.spark.sql.catalyst.expressions.Cast.canCast(e.dataType, dt),
      s"DEFAULT for '$col' ($sql: ${e.dataType.simpleString}) cannot cast " +
        s"to ${dt.simpleString}")
    org.apache.spark.sql.catalyst.expressions.Cast(e, dt, Some("UTC")).eval(null)
  }

  /** Table root of a shallow-cloned ABSOLUTE file path (X78): the
    * path minus the filename and the trailing hive `k=v` partition
    * dirs. Clone sources with `=` in their root path are refused at
    * [[IncrementalTable.cloneTo]], so the trailing-walk is exact. */
  private[table] def foreignBase(abs: String): String = {
    val dirs = abs.split("/").dropRight(1)
    val tail = dirs.reverse.takeWhile(_.contains("=")).length
    dirs.dropRight(tail).mkString("/") match {
      case "" => "/"
      case s => s
    }
  }

  /** Hive `k=v` path segments of a (root-relative) path — THE single
    * copy of the parser (matchesPartition, compactIfNeeded, and the
    * stream consumers' replay-scope extraction all use it). */
  /** Value prefix marking a retired partition transform in the
    * `ptransform/` channel (see [[IncrementalTable.partitionTransforms]]). */
  private[table] val RetiredSpec = "retired:"

  /** Table property (set by [[IncrementalTable.evolvePartitioning]])
    * flagging that the partition spec has evolved at least once. */
  private[graft] val SpecEvolvedProp = "graft.spec.evolved"

  /** Table properties [[IncrementalTable.expireSnapshots]] records: the
    * retention floor version (archived records strictly below it are
    * deleted; its checkpoint record seeds archived replays) and the
    * `older_than_hours` that set it (for the horizon error message). */
  private[graft] val ExpiredBelowProp = "graft.retention.expiredBelow"
  private[graft] val ExpiredHoursProp = "graft.retention.olderThanHours"

  /** Column test: does the `file` rel-path carry a `<name>=` dir token?
    * The distributed twin of `hiveSegments(f).contains(name)` for the
    * spec-uniformity probe on columnar-checkpoint tables. */
  private[table] def hasSegExpr(name: String): Column = {
    import org.apache.spark.sql.functions.col
    col("file").rlike("(?:^|/)" +
      java.util.regex.Pattern.quote(name) + "=[^/]*/")
  }

  def hiveSegments(relPath: String): Map[String, String] =
    relPath.split("/").iterator.flatMap { s =>
      val i = s.indexOf('=')
      if (i > 0) Some(s.substring(0, i) -> s.substring(i + 1)) else None
    }.toMap

  /** Every `.parquet` file under `dir` as (path, length, modification
    * time), sorted by path. */
  private def listParquet(fs: FileSystem, dir: Path): Seq[(String, Long, Long)] = {
    // Local-fs fast path (round-14 profiling): Hadoop's recursive
    // listFiles materializes each entry's PERMISSIONS, and without
    // native libhadoop that is one forked `ls -ld` PER FILE
    // (DeprecatedRawLocalFileStatus.loadPermissionInfoByNonNativeIO) —
    // the per-commit staging list paid a process fork per staged file.
    // A java.nio walk reads the same entries with plain syscalls (one
    // attribute read per entry gives the type, size and mtime); sorted
    // for a deterministic add order. Non-local stores keep the Hadoop
    // iterator (their FileStatus carries permissions inline).
    if ("file" == fs.getUri.getScheme) {
      val root = java.nio.file.Paths.get(dir.toUri.getPath)
      if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
      val walk = java.nio.file.Files.walk(root)
      try {
        val it = walk.iterator()
        val out = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            val a = java.nio.file.Files.readAttributes(p,
              classOf[java.nio.file.attribute.BasicFileAttributes])
            if (a.isRegularFile)
              out += ((p.toString, a.size, a.lastModifiedTime.toMillis))
          }
        }
        out.result().sortBy(_._1)
      } finally walk.close()
    } else {
      if (!fs.exists(dir)) return Seq.empty
      val out = Seq.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      // sorted like the local-fs fast path above, so a commit's add
      // order is deterministic and store-independent (ADVICE r14)
      out.result().sortBy(_._1)
    }
  }

  /** Root-relative partition dir of a root-relative file path. */
  private def parentDir(rel: String): String =
    rel.split("/").dropRight(1).mkString("/")

  private def relativize(base: Path, full: String): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val f = new Path(full).toUri.getPath
    f.stripPrefix(b).stripPrefix("/")
  }

  /** Root-relative path of a `_metadata.file_path` value — THE single
    * normalizer for executor-observed paths (ADVICE r4 #1). file_path
    * is a percent-encoded URI string (`p=a%20b/...` for an on-disk
    * `p=a b` dir), while [[relativize]]d listings are decoded; feeding
    * an encoded name into add/remove/dv sets would silently miss the
    * live set (deleted rows reappear, merges duplicate). Decoding via
    * `java.net.URI` is the exact inverse of that encoding — `Path`
    * would re-escape the `%` instead. */
  private[table] def relativizeUri(base: Path, uriString: String): String = {
    val decoded = new java.net.URI(uriString).getPath
    val b = base.toUri.getPath.stripSuffix("/")
    // a path OUTSIDE the base root (a shallow-cloned foreign file, X78)
    // stays absolute — exactly the rendering the clone commit records
    if (decoded.startsWith(b + "/")) decoded.stripPrefix(b + "/") else decoded
  }

  /** Does a root-relative file path live in a partition matching all
    * `filters`? Parses hive `k=v` segments from the path. */
  private[table] def matchesPartition(relPath: String, filters: Map[String, String]): Boolean = {
    if (filters.isEmpty) return true
    val segs = IncrementalTable.hiveSegments(relPath)
    filters.forall { case (k, v) => segs.get(k).contains(v) }
  }

  private def now(): Long = System.currentTimeMillis()
}
