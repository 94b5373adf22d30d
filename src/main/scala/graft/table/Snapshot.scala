package graft.table

import scala.collection.immutable.VectorMap

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One live file's committed metadata: its data-skipping stats and the
  * deletion-vector generations in force on it. */
final case class LiveFile(stats: Map[String, ColStat], dvGens: Seq[String])

/** The state of an [[IncrementalTable]] at one log version, folded from
  * its commits by [[step]] — the structured-streaming shape: a
  * trigger's state is derived once from the log, not rediscovered per
  * question. Immutable; a handle caches the head snapshot and extends
  * it by one `step` per publish.
  *
  * This is the only code that knows the fold rules:
  *
  *  1. '''Live set, stats and DV generations.''' A remove drops the
  *     file; an add enters it with its commit's stats; a dv-bearing
  *     commit accumulates generations per file, and a `dvmerge`
  *     replaces them ([[mergeGens]]). Above a COLUMNAR checkpoint the
  *     base rows never reach the driver: the snapshot keeps the base
  *     record plus what happened after it — `files` (adds),
  *     `removedFromBase` and `dvOnBase` patches — O(tail) driver state.
  *     An inline checkpoint folds as plain adds, so both shapes share
  *     this one fold.
  *  2. '''Meta channels.''' `meta` is the raw latest-value map: the
  *     latest value of a key wins and an empty value is a tombstone
  *     ([[channel]] drops it). A checkpoint's folded meta is this map.
  *  3. '''Schema and layout.''' `schemaDdl` is the latest non-empty
  *     committed schema; `partitionBy` the latest non-empty layout (the
  *     write-path default); [[layout]] the CURRENT layout — the latest
  *     data commit's, an empty one included — which checkpoints record.
  *  4. '''Batch horizons.''' The exactly-once guard ([[hasBatch]]):
  *     appId-less batch ids seen since the checkpoint, the folded
  *     table-global horizon, and per-writer maxima.
  *
  * A checkpoint record is complete state: stepping one starts the fold
  * over from it (`log` restarts at the checkpoint). */
final case class Snapshot(
    // commits folded since the last checkpoint (the replay window)
    log: Vector[Commit],
    // columnar checkpoint the live set builds on (None: `files` is all)
    base: Option[Commit],
    files: VectorMap[String, LiveFile],
    removedFromBase: Set[String],
    // base-file dv patches: true = the gens REPLACE the base row's
    // (a dvmerge landed), false = they union into it
    dvOnBase: Map[String, (Boolean, Seq[String])],
    meta: Map[String, String],
    schemaDdl: String,
    partitionBy: Seq[String],
    layoutParts: Option[Seq[String]],
    anonBatches: Set[Long],
    foldedMaxBatch: Option[Long],
    appBatches: Map[String, Long],
    apps: Set[String]) {
  import Snapshot._

  def version: Long = log.lastOption.map(_.version).getOrElse(-1L)

  /** The current layout: the latest data commit's partitionBy (a table
    * rewritten unpartitioned reports none), else — no data commit yet,
    * e.g. a CREATE — the latest non-empty one. */
  def layout: Seq[String] = layoutParts.getOrElse(partitionBy)

  def step(c: Commit): Snapshot = {
    val s0 = if (c.action == "checkpoint")
      empty.copy(base = Some(c).filter(_.columnarCkpt)) else this
    var files = s0.files
    var removed = s0.removedFromBase
    var dvOnBase = s0.dvOnBase
    c.remove.foreach { f =>
      if (files.contains(f)) files -= f
      else if (s0.base.isDefined) removed += f
      dvOnBase -= f
    }
    c.add.foreach(f => files = files.updated(f,
      LiveFile(c.fileStats.getOrElse(f, Map.empty), Nil)))
    val merge = c.action == "dvmerge"
    c.dv.foreach { case (f, gens) =>
      files.get(f) match {
        case Some(lf) =>
          files = files.updated(f, lf.copy(dvGens = mergeGens(lf.dvGens, gens, merge)))
        case None if s0.base.isDefined =>
          val (r, g) = dvOnBase.getOrElse(f, (false, Nil))
          dvOnBase = dvOnBase.updated(f, (r || merge, mergeGens(g, gens, merge)))
        case None => ()
      }
    }
    // a data commit (a prior checkpoint folded this same rule)
    val layout = c.add.nonEmpty || c.action == "replace" ||
      c.action == "evolve" || c.columnarCkpt
    val anon = c.batchId.filter(_ => c.appId.isEmpty)
    val perApp = c.appId.flatMap(id => c.batchId.map(id -> _)).toSeq ++ c.appBatches
    Snapshot(
      log = s0.log :+ c,
      base = s0.base,
      files = files,
      removedFromBase = removed,
      dvOnBase = dvOnBase,
      meta = s0.meta ++ c.meta,
      schemaDdl = if (c.schemaJson.nonEmpty) c.schemaJson else s0.schemaDdl,
      partitionBy = if (c.partitionBy.nonEmpty) c.partitionBy else s0.partitionBy,
      layoutParts = if (layout) Some(c.partitionBy) else s0.layoutParts,
      anonBatches = s0.anonBatches ++ anon,
      foldedMaxBatch = (s0.foldedMaxBatch ++ c.maxBatchId).maxOption,
      appBatches = perApp.foldLeft(s0.appBatches) { case (m, (id, b)) =>
        m.updated(id, m.get(id).fold(b)(math.max(_, b)))
      },
      apps = s0.apps ++ c.appId ++ c.appBatches.keys)
  }

  // ------------------------------------------------------------ live set

  /** Live file names, given the columnar base's live names (unused,
    * and never evaluated, when there is no columnar base). */
  def liveFiles(baseLive: => Seq[String]): Seq[String] =
    if (base.isEmpty) files.keys.toSeq
    else baseLive.filterNot(f => removedFromBase(f) || files.contains(f)) ++ files.keys

  /** Live file → dv generations (dv-bearing files only), given the
    * columnar base's dv map. */
  def dvMap(baseDv: => Map[String, Seq[String]]): Map[String, Seq[String]] = {
    val fromBase =
      if (base.isEmpty) Map.empty[String, Seq[String]]
      else dvOnBase.foldLeft(baseDv.removedAll(removedFromBase ++ files.keys)) {
        case (m, (f, (replace, g))) => m.updated(f, mergeGens(m.getOrElse(f, Nil), g, replace))
      }
    fromBase ++ files.iterator.collect { case (f, lf) if lf.dvGens.nonEmpty => f -> lf.dvGens }
  }

  /** Stats of the files in `files` (stat-bearing only). */
  def fileStats: Map[String, Map[String, ColStat]] =
    files.iterator.collect { case (f, lf) if lf.stats.nonEmpty => f -> lf.stats }.toMap

  /** Exact live count: the base's recorded count minus its removes
    * plus the tail's adds (every remove names a then-live file). */
  def numFiles: Long = base match {
    case Some(ck) => ck.numFiles.getOrElse(sys.error(
      s"columnar checkpoint ${ck.version} lacks numFiles")) - removedFromBase.size + files.size
    case None => files.size.toLong
  }

  // -------------------------------------------------------- meta channels

  /** One `<prefix><name> → value` channel: name → latest non-empty value. */
  def channel(prefix: String): Map[String, String] =
    meta.iterator.collect {
      case (k, v) if v.nonEmpty && k.startsWith(prefix) => k.stripPrefix(prefix) -> v
    }.toMap

  /** Equality deletes in force, sorted by base version then gen — the
    * read path's application order. */
  lazy val eqDeletes: Seq[(String, EqDelPayload)] =
    channel(IncrementalTable.EqDelPrefix).toSeq
      .map { case (g, v) => g -> Serialization.read[EqDelPayload](v) }
      .sortBy(p => (p._2.baseVersion, p._1))

  // ------------------------------------------------------- batch horizons

  /** Has this batch committed? With an appId, scoped to that writer
    * (its batch ids are monotone, so "an equal-or-later one of mine"
    * means seen); without, an appId-less commit with exactly this id,
    * or the horizon a checkpoint folded. The legacy upgrade boundary
    * is [[legacyReplay]]. */
  def hasBatch(batchId: Long, appId: Option[String]): Boolean = appId match {
    case Some(id) => appBatches.get(id).exists(_ >= batchId)
    case None => anonBatches.contains(batchId) || foldedMaxBatch.exists(_ >= batchId)
  }

  /** Upgrade boundary of the appId guard: a writer with no history of
    * its own re-delivering the max batch id of the appId-less commits
    * in the replay window is a crash replay of pre-appId code. */
  def legacyReplay(batchId: Long, appId: String): Boolean =
    !apps(appId) && anonBatches.maxOption.contains(batchId)

  // ----------------------------------------------------------- checkpoint

  /** This snapshot's inline checkpoint record: the live set with its
    * stats and dv map, the folded meta, schema, layout and batch
    * horizons. A columnar checkpoint replaces the file fields with its
    * manifests. */
  def checkpoint(ts: Long): Commit =
    Commit(version, "checkpoint", files.keys.toSeq, Nil, Map.empty,
      layout, schemaDdl, meta, None, ts,
      maxBatchId = (anonBatches ++ foldedMaxBatch).maxOption,
      appBatches = appBatches, fileStats = fileStats,
      dv = dvMap(Map.empty))
}

object Snapshot {
  private implicit val fmts: Formats = DefaultFormats

  val empty: Snapshot = Snapshot(Vector.empty, None, VectorMap.empty, Set.empty,
    Map.empty, Map.empty, "", Nil, None, Set.empty, None, Map.empty, Set.empty)

  def fold(cs: Iterable[Commit]): Snapshot = cs.foldLeft(empty)(_ step _)

  /** The dv rule: a `dvmerge` REPLACES a file's generations with the
    * merged one; every other dv-bearing commit accumulates. */
  def mergeGens(prev: Seq[String], gens: Seq[String], replace: Boolean): Seq[String] =
    if (replace) gens else (prev ++ gens).distinct
}
