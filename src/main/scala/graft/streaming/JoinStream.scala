package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, lit, not}

import graft.table.IncrementalTable

/** Incremental view maintenance for a two-input equi-join — the binary
  * sibling of [[DerivedStream]] (map/filter) and [[AggregateStream]]
  * (grouped aggregates), extending the reference's central incremental
  * tension (readme.md:13 — a derived asset silently duplicates when
  * re-run after its upstream grew, because "incremental" stops at the
  * first hop) to MULTI-INPUT derived assets, which the reference has
  * no answer for at all. Maintains
  * `prepareLeft(L) ⋈ prepareRight(R) on joinKeys` as a table that
  * equals the full recompute after every drain, while reading only
  * each side's NEW data in steady state.
  *
  * Delta-join algebra (the classic incremental-join decomposition —
  * each joined pair must enter the view exactly once):
  *
  *  - a LEFT append commit ΔL joins against the right state AS OF the
  *    right cursor already incorporated downstream: `ΔL ⋈ R@rCursor`;
  *  - a RIGHT append commit ΔR joins against the left state as of the
  *    (by then advanced) left cursor: `L@lCursor ⋈ ΔR`.
  *
  * A pair (l, r) is emitted exactly when the LATER of its two rows'
  * commits is applied — the earlier row is already inside the other
  * side's cursor snapshot, and never again after, because each delta
  * only sees the other side's PAST.
  *
  * INNER mode is monotone over append-only inputs, so maintenance is
  * pure appends: no retraction state, no MERGE.
  *
  * LEFT OUTER mode (`joinType = "left_outer"`) adds the classic
  * retraction case: the view carries every left row — matched rows as
  * pairs, unmatched ones null-extended with a `matched = false` flag —
  * and a later ΔR that matches a previously-unmatched left row must
  * RETRACT its null-row as it inserts the pair. Both halves ride ONE
  * [[IncrementalTable.deleteInsert]] commit (delete the now-matched
  * null-rows, insert the new pairs, one batchId guard), so there is no
  * crash window with a half-applied delta; the delete's copy-on-write
  * touches only files actually holding a retracted null-row. ΔL needs
  * no retraction (new left rows have no prior output): matched pairs
  * and null-extensions append together. The final state equals the
  * full left outer join regardless of arrival order.
  *
  * FULL OUTER mode (`joinType = "full_outer"`) mirrors the retraction
  * in BOTH directions: unmatched rows on either side ride as
  * null-extended placeholders tagged by a `side` column ("both" |
  * "left" | "right"), a ΔL retracts the `side = "right"` placeholders
  * its keys now match, a ΔR retracts the `side = "left"` ones —
  * each, again, atomically with its inserts via one deleteInsert.
  * Since null-extension needs the OTHER side's schema, full mode
  * buffers until both upstreams exist (left_outer only needs the
  * right one).
  *
  * Scale: steady-state cost per commit is `|Δ| ⋈ other-side-state` —
  * one join whose delta side is micro-batch-sized (AQE broadcasts it),
  * plus (outer, ΔR only) a key-semi-join bounded copy-on-write over
  * the files holding retracted null-rows. Never O(|L| ⋈ |R|) except
  * at seed/rebuild. No rows move through the driver.
  *
  * Non-append commits on EITHER side (replace / compaction checkpoint
  * / dv delete) invalidate the incremental reasoning — a rewritten
  * history cannot be patched by deltas — and trigger a full rebuild at
  * the pair of head versions, committed as one idempotent replace (no
  * batch guard needed; replaying it converges).
  *
  * Exactly-once, same protocol as the other hops: the downstream table
  * IS the checkpoint. TWO cursors ride the commits —
  * `src_version/<name>:left` and `:right` — each delta commit advances
  * its side's cursor atomically with the data, and per-side
  * (appId, batchId = upstream version) pairs make crash replays no-ops
  * before any plan runs. The other side's snapshot is re-read AT ITS
  * CURSOR (`readAt`) during recovery, so a replayed delta recomputes
  * byte-identically even if that side has since grown.
  */
final class JoinStream(
    upLeft: IncrementalTable,
    upRight: IncrementalTable,
    down: IncrementalTable,
    joinKeys: Seq[String],
    prepareLeft: DataFrame => DataFrame = identity,
    prepareRight: DataFrame => DataFrame = identity,
    partitionBy: Seq[String] = Nil,
    name: String = "join",
    joinType: String = "inner",
    // rate control: at most this many pending commits PER SIDE per
    // drain() — catch-up from a deep backlog runs in bounded steps
    // (see DerivedStream; same contract, identical final state — the
    // non-append rebuild path just rebuilds at the bounded head and
    // the next drain continues)
    maxCommitsPerDrain: Int = Int.MaxValue)
    extends CommitConsumer {
  require(maxCommitsPerDrain > 0, "maxCommitsPerDrain must be positive")
  require(joinKeys.nonEmpty, "JoinStream needs join keys")
  require(Set("inner", "left_outer", "full_outer")(joinType),
    s"unsupported joinType '$joinType' (inner | left_outer | full_outer)")
  private val outer = joinType == "left_outer"
  private val full = joinType == "full_outer"

  private val leftKey = s"src_version/$name:left"
  private val rightKey = s"src_version/$name:right"
  private val leftApp = s"join:$name:left"
  private val rightApp = s"join:$name:right"

  /** Left upstream version fully incorporated downstream. */
  def leftVersion: Long =
    down.latestMeta(leftKey).map(_.toLong).getOrElse(-1L)

  /** Right upstream version fully incorporated downstream. */
  def rightVersion: Long =
    down.latestMeta(rightKey).map(_.toLong).getOrElse(-1L)

  /** The [[CommitConsumer]] contract wants ONE cursor; for a binary
    * operator the honest answer is the slower side. */
  def sourceVersion: Long = math.min(leftVersion, rightVersion)

  private def pendingOf(up: IncrementalTable, from: Long) = {
    up.refresh()
    up.commits().filter(c =>
      c.version > from && CommitConsumer.isDataCommit(c))
      .take(maxCommitsPerDrain)
  }

  private def checkCollisions(l: DataFrame, r: DataFrame): Unit = {
    val dup = (l.columns.toSet & r.columns.toSet) -- joinKeys
    require(dup.isEmpty,
      s"non-key columns collide across sides: ${dup.mkString(", ")} — " +
        "disambiguate them in prepareLeft/prepareRight")
    if (outer) require(!l.columns.contains("matched") && !r.columns.contains("matched"),
      "left_outer mode reserves the 'matched' column")
    if (full) require(!l.columns.contains("side") && !r.columns.contains("side"),
      "full_outer mode reserves the 'side' column")
  }

  private def joined(l: DataFrame, r: DataFrame): DataFrame = {
    checkCollisions(l, r)
    l.join(r, joinKeys)
  }

  /** Left outer join with an explicit `matched` flag: matched pairs
    * plus null-extended unmatched left rows — the view's full shape,
    * used at seed/rebuild; deltas produce the same columns. */
  private def outerJoined(l: DataFrame, r: DataFrame): DataFrame = {
    checkCollisions(l, r)
    val pairs = l.join(r, joinKeys).withColumn("matched", lit(true))
    pairs.unionByName(nullExtended(l.join(r, joinKeys, "left_anti"), r))
  }

  /** `unmatched` rows with the OTHER side's non-key columns null-typed. */
  private def nullCols(unmatched: DataFrame, other: DataFrame): DataFrame =
    other.schema.fields.filterNot(f => joinKeys.contains(f.name))
      .foldLeft(unmatched) { (d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType))
      }

  /** Unmatched left rows, right columns null-typed, matched = false. */
  private def nullExtended(unmatched: DataFrame, r: DataFrame): DataFrame =
    nullCols(unmatched, r).withColumn("matched", lit(false))

  /** Full outer join with a `side` marker: matched pairs plus BOTH
    * sides' null-extended placeholders — the view's full shape at
    * seed/rebuild; deltas produce the same columns. */
  private def fullJoined(l: DataFrame, r: DataFrame): DataFrame = {
    checkCollisions(l, r)
    l.join(r, joinKeys).withColumn("side", lit("both"))
      .unionByName(nullCols(l.join(r, joinKeys, "left_anti"), r)
        .withColumn("side", lit("left")))
      .unionByName(nullCols(r.join(l, joinKeys, "left_anti"), l)
        .withColumn("side", lit("right")))
  }

  /** Apply every pending commit on both sides; returns how many were
    * applied. Lagging never loses data — it only batches more rows per
    * delta join. */
  def drain(): Int = {
    val pendL = pendingOf(upLeft, leftVersion)
    val pendR = pendingOf(upRight, rightVersion)
    if (pendL.isEmpty && pendR.isEmpty) return 0
    // null-extension needs the OTHER side's schema — rows buffer
    // upstream until the tables whose schema is needed have COMMITTED
    // one (bare existence isn't enough: a meta-only log has none)
    def schemaReady(t: IncrementalTable) = t.schemaAt().isDefined
    if (outer && !schemaReady(upRight)) return 0
    if (full && (!schemaReady(upLeft) || !schemaReady(upRight))) return 0

    if (pendL.exists(_.action != "append") ||
        pendR.exists(_.action != "append")) {
      // rebuild at the pair of head versions, one idempotent replace
      val vL = pendL.lastOption.map(_.version).getOrElse(leftVersion)
      val vR = pendR.lastOption.map(_.version).getOrElse(rightVersion)
      val cursors = Map(leftKey -> vL.toString, rightKey -> vR.toString)
      if (!full && (vL < 0 || vR < 0)) {
        // a side that has never produced data: the inner join is empty
        // by definition, and so is the LEFT OUTER view when that side
        // is the left (it keeps left rows only — and a missing left
        // also has no schema to null-extend against). Clear the view
        // (if it holds rows) and advance. (Outer with vR<0 is
        // unreachable: schemaReady(upRight) implies right data commits,
        // all pending, so vR is their head. Full mode never lands
        // here — its gate guarantees both schemas, and leftAt/rightAt
        // degrade a -1 cursor to an empty frame WITH schema.)
        if (down.exists && down.read().columns.nonEmpty)
          down.replaceWhere(down.read().limit(0), partitionBy,
            Map.empty, partitionFilter = Map.empty, meta = cursors)
        else down.commitMeta(cursors)
      } else {
        val l = leftAt(vL)
        val r = rightAt(vR)
        down.replaceWhere(
          if (full) fullJoined(l, r)
          else if (outer) outerJoined(l, r)
          else joined(l, r),
          partitionBy, Map.empty, partitionFilter = Map.empty,
          meta = cursors)
      }
      return pendL.size + pendR.size
    }

    // all appends: left deltas against the right cursor snapshot, then
    // right deltas against the (now advanced) left cursor snapshot.
    // Order across sides is free — each pair still meets exactly once —
    // but must be deterministic so crash replays recompute identically.
    pendL.foreach(c => applyLeft(c.version))
    pendR.foreach(c => applyRight(c.version))
    pendL.size + pendR.size
  }

  /** Right state at the given cursor; in outer/full mode a negative
    * cursor still yields the (empty) prepared frame so ΔL can
    * null-extend. */
  private def rightAt(cursor: Long): DataFrame =
    if (cursor < 0) prepareRight(upRight.read().limit(0))
    else prepareRight(upRight.readAt(cursor))

  /** Left state at the given cursor (full mode's mirror of rightAt). */
  private def leftAt(cursor: Long): DataFrame =
    if (cursor < 0) prepareLeft(upLeft.read().limit(0))
    else prepareLeft(upLeft.readAt(cursor))

  /** Retraction-and-insert in one guarded commit; degrades to a plain
    * guarded append when the view doesn't exist yet. */
  private def retractInsert(deltaKeys: DataFrame, retractWhen: org.apache.spark.sql.Column,
      inserts: DataFrame, cursor: Map[String, String],
      version: Long, app: String): Unit = {
    if (!down.exists)
      down.append(inserts, partitionBy, meta = cursor,
        batchId = Some(version), appId = Some(app))
    else
      down.deleteInsert(
        deleteKeys = deltaKeys.select(joinKeys.map(col): _*).distinct(),
        keys = joinKeys, deleteCondition = retractWhen,
        inserts = inserts, partitionBy = partitionBy, meta = cursor,
        batchId = Some(version), appId = Some(app))
  }

  private def applyLeft(version: Long): Unit = {
    val cursor = Map(leftKey -> version.toString)
    val rCursor = rightVersion
    if (!outer && !full && rCursor < 0) {
      // inner: nothing incorporated on the right — the delta is empty
      // by definition; advance the cursor alone (guarded: crash
      // replays must not stack duplicate meta commits)
      if (!down.hasBatch(version, Some(leftApp)))
        down.commitMeta(cursor, batchId = Some(version), appId = Some(leftApp))
    } else {
      val dl = prepareLeft(upLeft.readCommit(version))
      val r = rightAt(rCursor)
      if (full) {
        // ΔL's pairs re-carry any right rows previously emitted as
        // side="right" placeholders — retract those in the same commit
        checkCollisions(dl, r)
        val delta = dl.join(r, joinKeys).withColumn("side", lit("both"))
          .unionByName(nullCols(dl.join(r, joinKeys, "left_anti"), r)
            .withColumn("side", lit("left")))
        retractInsert(dl, col("side") === "right", delta, cursor, version, leftApp)
      } else {
        val delta = if (outer) outerJoined(dl, r) else joined(dl, r)
        down.append(delta, partitionBy, meta = cursor,
          batchId = Some(version), appId = Some(leftApp))
      }
    }
  }

  private def applyRight(version: Long): Unit = {
    val cursor = Map(rightKey -> version.toString)
    val lCursor = leftVersion
    if (!full && lCursor < 0) {
      // inner/left_outer: with no left rows incorporated, ΔR produces
      // no pairs and has nothing to retract — advance the cursor alone
      // (full mode DOES emit side="right" placeholders here, and its
      // drain gate guarantees the left schema exists to null-extend)
      if (!down.hasBatch(version, Some(rightApp)))
        down.commitMeta(cursor, batchId = Some(version), appId = Some(rightApp))
    } else if (!outer && !full) {
      val dr = prepareRight(upRight.readCommit(version))
      down.append(joined(leftAt(lCursor), dr), partitionBy, meta = cursor,
        batchId = Some(version), appId = Some(rightApp))
    } else {
      val dr = prepareRight(upRight.readCommit(version))
      val l = leftAt(lCursor)
      if (full) {
        checkCollisions(l, dr)
        val delta = l.join(dr, joinKeys).withColumn("side", lit("both"))
          .unionByName(nullCols(dr.join(l, joinKeys, "left_anti"), l)
            .withColumn("side", lit("right")))
        retractInsert(dr, col("side") === "left", delta, cursor, version, rightApp)
      } else {
        // left_outer retraction: left rows matched for the first time
        // by ΔR lose their null-row in the SAME commit as the pairs
        val pairs = joined(l, dr).withColumn("matched", lit(true))
        retractInsert(dr, not(coalesce(col("matched"), lit(false))),
          pairs, cursor, version, rightApp)
      }
    }
  }
}

object JoinStream {
  /** RIGHT OUTER is left outer with the sides swapped — same algebra,
    * same retraction machinery, the `matched` flag marking whether a
    * RIGHT row found a left match. Provided as a factory (not a fourth
    * joinType) so the cursors and appIds bind to the physically-passed
    * tables and a resumed consumer can't mix the sides up. */
  def rightOuter(
      upLeft: IncrementalTable,
      upRight: IncrementalTable,
      down: IncrementalTable,
      joinKeys: Seq[String],
      prepareLeft: DataFrame => DataFrame = identity,
      prepareRight: DataFrame => DataFrame = identity,
      partitionBy: Seq[String] = Nil,
      name: String = "join"): JoinStream =
    new JoinStream(upRight, upLeft, down, joinKeys, prepareRight,
      prepareLeft, partitionBy, name, joinType = "left_outer")
}
