package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions.{array_contains, col, length, lit, struct, sum, when}

class IncrementalTableSpec extends SparkSpec {
  import spark.implicits._

  test("nested-leaf data skipping: dot-path statsColumns prune struct-field predicates") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/nestedskip")
    def frame(keys: Range) = keys.map(k => (k.toLong, (s"s$k", k.toLong * 10)))
      .toDF("k", "hdr").repartition(1)
    // three files with disjoint hdr._2 ranges, indexed by DOT-PATH —
    // the footer's own leaf rendering, so nested leaves join the X6
    // stats index exactly like flat columns
    t.append(frame(0 until 50), Nil, statsColumns = Seq("hdr._2"))
    t.append(frame(50 until 100), Nil, statsColumns = Seq("hdr._2"))
    t.append(frame(100 until 150), Nil, statsColumns = Seq("hdr._2"))
    assert(t.liveFiles().size == 3)
    // a range predicate on the struct LEAF prunes through the index
    assert(t.liveFilesWhere(col("hdr._2") >= 1200L).size == 1)
    assert(t.liveFilesWhere(col("hdr._2") === 495L).size == 0) // between files' spans
    // IS NOT NULL prunes nothing here (no nulls) but stays sound
    assert(t.liveFilesWhere(col("hdr._2").isNotNull).size == 3)
    // pruned read is exact vs the full-scan filter
    val pruned = t.readWhere(col("hdr._2") >= 1200L)
      .select($"k").as[Long].collect().sorted.toSeq
    assert(pruned == (120L until 150L))
    // an UNINDEXED leaf on the same commits prunes nothing (conservative)
    assert(t.liveFilesWhere(col("hdr._1") === "zzz").size == 3)
  }

  test("array-leaf data skipping: element dot-paths prune array_contains/exists (X65)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/arrayskip")
    def frame(keys: Range) = keys
      .map(k => (k.toLong, Seq(k.toLong * 10, k.toLong * 10 + 1)))
      .toDF("k", "xs")
      .withColumn("items", org.apache.spark.sql.functions.array(
        struct(lit(1L).as("line_no"), (col("k") * 100).as("seq")),
        struct(lit(2L).as("line_no"), (col("k") * 100 + 50).as("seq"))))
      .repartition(1)
    // three files with disjoint element ranges, indexed by ELEMENT path
    t.append(frame(0 until 50), Nil,
      statsColumns = Seq("k", "xs.element", "items.element.seq"))
    t.append(frame(50 until 100), Nil,
      statsColumns = Seq("k", "xs.element", "items.element.seq"))
    t.append(frame(100 until 150), Nil,
      statsColumns = Seq("k", "xs.element", "items.element.seq"))
    assert(t.liveFiles().size == 3)
    // array_contains on a scalar-array leaf prunes to the owning file
    assert(t.liveFilesWhere(array_contains($"xs", 250L)).size == 1)
    assert(t.liveFilesWhere(array_contains($"xs", 495L)).size == 0) // between files' spans
    // exists over a struct-array leaf prunes through the lambda rewrite
    assert(t.liveFilesWhere(org.apache.spark.sql.functions.exists($"items",
      x => x.getField("seq") >= 12000L && x.getField("seq") <= 12100L)).size == 1)
    // pruned read is exact vs the full-scan filter
    val pred = org.apache.spark.sql.functions.exists($"items",
      x => x.getField("seq") >= 12000L && x.getField("seq") <= 12100L)
    assert(t.readWhere(pred).select($"k").as[Long].collect().sorted.toSeq ==
      t.read().filter(pred).select($"k").as[Long].collect().sorted.toSeq)
    // conservatism: forall has no per-element witness; an UNINDEXED
    // element path prunes nothing; a non-literal comparison extracts
    // nothing — all three keep every file
    assert(t.liveFilesWhere(org.apache.spark.sql.functions.forall($"xs",
      _ > 100000L)).size == 3)
    assert(t.liveFilesWhere(org.apache.spark.sql.functions.exists($"items",
      _.getField("line_no") === 99L)).size == 3)
    assert(t.liveFilesWhere(org.apache.spark.sql.functions.exists($"xs",
      x => x === $"k")).size == 3)
    // an outer-column conjunct INSIDE the lambda still prunes by its
    // own column (it must hold on any row where exists is true)
    assert(t.liveFilesWhere(org.apache.spark.sql.functions.exists($"items",
      x => x.getField("seq") >= 0L && $"k" === 120L)).size == 1)
  }

  test("map-leaf data skipping: key/value paths prune map_contains_key (X69)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/mapskip")
    def frame(keys: Range) = keys
      .map(k => (k.toLong, Map(f"k$k%03da" -> k.toLong * 10,
        f"k$k%03db" -> (k.toLong * 10 + 1))))
      .toDF("k", "m").repartition(1)
    t.append(frame(0 until 50), Nil, statsColumns = Seq("m.key", "m.value"))
    t.append(frame(50 until 100), Nil, statsColumns = Seq("m.key", "m.value"))
    t.append(frame(100 until 150), Nil, statsColumns = Seq("m.key", "m.value"))
    assert(t.liveFiles().size == 3)
    import org.apache.spark.sql.functions.{map_contains_key, map_keys, map_values}
    // key membership prunes to the owning file (string keys zero-padded
    // so ranges are lexical)
    assert(t.liveFilesWhere(map_contains_key($"m", "k120a")).size == 1)
    assert(t.liveFilesWhere(map_contains_key($"m", "zzz")).size == 0)
    assert(t.liveFilesWhere(array_contains(map_keys($"m"), "k020a")).size == 1)
    // value membership: per-file value spans are disjoint
    assert(t.liveFilesWhere(array_contains(map_values($"m"), 1200L)).size == 1)
    assert(t.liveFilesWhere(array_contains(map_values($"m"), 495L)).size == 0)
    // exists over map_values prunes through the lambda rewrite too
    assert(t.liveFilesWhere(org.apache.spark.sql.functions.exists(
      map_values($"m"), v => v >= 1100L && v <= 1200L)).size == 1)
    // pruned read exact vs full-scan filter
    val pred = map_contains_key($"m", "k120a")
    assert(t.readWhere(pred).select($"k").as[Long].collect().toSeq == Seq(120L))
    // conservatism: m[key] comparisons are NOT extracted (ANSI missing-
    // key errors must not be swallowed by a prune)
    assert(t.liveFilesWhere($"m".getItem("k120a") === 1200L).size == 3)
  }

  test("nested types round-trip: struct + array-of-struct through append, delete rewrite, update, DV") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/nested")
    def frame(keys: Range) = keys.map { k =>
      (k.toLong, (s"s$k", k * 1.5), Seq((1L, k * 10L), (2L, k * 20L)))
    }.toDF("k", "hdr", "items")
    t.append(frame(0 until 50), Nil, statsColumns = Seq("k", "hdr"))
    t.append(frame(50 until 100), Nil, statsColumns = Seq("k", "hdr"))
    // stats on a struct column are gracefully BOUNDLESS: footer leaves
    // are dot-paths ("hdr._1"), the requested top-level name matches
    // nothing, so no index entry exists and a predicate on the nested
    // field prunes NOTHING (conservative), while flat-column stats on
    // the same commits still prune (asserted pre-mutation: the
    // delete/update rewrites below re-stage without statsColumns)
    assert(t.liveFilesWhere(col("hdr._2") > 1e9).size == t.liveFiles().size)
    assert(t.liveFilesWhere(col("k") >= 60L).size < t.liveFiles().size)
    // copy-on-write DELETE must rewrite files carrying the nested cols
    t.delete(col("k") % 10 === 0)
    // UPDATE rewrites a nested value wholesale (struct replacement)
    t.update(col("k") === 7L,
      Map("hdr" -> struct(lit("SEVEN").as("_1"), lit(0.0).as("_2"))))
    // merge-on-read DV path over nested rows
    t.deleteVectorized(col("k") === 13L)
    val got = t.read().select($"k", $"hdr._1", $"hdr._2", $"items")
      .as[(Long, String, Double, Seq[(Long, Long)])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size == 100 - 10 - 1)
    assert(!got.contains(13L) && !got.contains(20L))
    assert(got(7L) == (("SEVEN", 0.0, Seq((1L, 70L), (2L, 140L)))))
    assert(got(42L) == (("s42", 63.0, Seq((1L, 420L), (2L, 840L)))))
  }

  test("nested schema evolution: adding a field INSIDE a struct is rejected explicitly; a new nested column null-backfills") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/nestedevo")
    t.append(Seq((1L, ("a", 1L))).toDF("k", "hdr"), Nil)
    // widening the struct itself = a type change on column 'hdr' →
    // add-column-only evolution must refuse it loudly
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((2L, ("b", 2L, 9.9))).toDF("k", "hdr"), Nil)
    }
    assert(e.getMessage.contains("add-column only"))
    // a NEW top-level nested column is ordinary add-column evolution:
    // old files read it as null
    t.append(Seq((3L, ("c", 3L), Seq(1L, 2L))).toDF("k", "hdr", "tags"), Nil)
    val got = t.read().select($"k", $"hdr._2", $"tags")
      .as[(Long, Long, Option[Seq[Long]])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((1L, None)), 3L -> ((3L, Some(Seq(1L, 2L))))))
  }

  test("append + pruned read round-trips with partition columns") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t1")
    val df = Seq(("a.txt", "story", 5L), ("b.txt", "go", 2L))
      .toDF("filename", "word", "word_length")
    t.append(df, Seq("year", "month", "day", "word_length"),
      Map("year" -> "2024", "month" -> "03", "day" -> "26"))

    val back = t.read()
    assert(back.columns.toSeq ==
      Seq("filename", "word", "word_length", "year", "month", "day"))
    assert(back.schema("word_length").dataType.typeName == "long")
    assert(back.schema("month").dataType.typeName == "string")
    assert(back.count() == 2)

    val pruned = t.read(Map("word_length" -> "5"))
    assert(pruned.select("filename").as[String].collect().toSeq == Seq("a.txt"))
  }

  test("second append accumulates; reads see only committed files") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t2")
    val p = Seq("year", "month", "day")
    val v = Map("year" -> "2024", "month" -> "03", "day" -> "26")
    t.append(Seq(("a", 1L)).toDF("k", "n"), p, v)
    t.append(Seq(("b", 2L)).toDF("k", "n"), p, v)
    assert(t.read().count() == 2)
    assert(t.commits().map(_.action) == Seq("append", "append"))
  }

  test("replaceWhere swaps only the matching partition (delta_io.py:104-107)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t3")
    val p = Seq("year", "month", "day")
    def v(day: String) = Map("year" -> "2024", "month" -> "03", "day" -> day)
    t.append(Seq(("old26", 1L)).toDF("k", "n"), p, v("26"))
    t.append(Seq(("keep27", 1L)).toDF("k", "n"), p, v("27"))
    t.replaceWhere(Seq(("new26a", 2L), ("new26b", 3L)).toDF("k", "n"),
      p, v("26"), partitionFilter = v("26"))

    val all = t.read().select($"k").as[String].collect().toSet
    assert(all == Set("new26a", "new26b", "keep27"))
    // old26's file is no longer live but stays RETAINED for time travel
    // until a checkpoint truncates the commit that names it
    assert(t.vacuum().isEmpty)
    assert(t.readAt(0).select($"k").as[String].collect().toSet == Set("old26"))
    assert(t.read().select($"k").as[String].collect().toSet ==
      Set("new26a", "new26b", "keep27"))
  }

  test("dynamicReplace overwrites exactly the partitions present in the input") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t13")
    val p = Seq("day", "kind")
    def row(day: String, kind: String, v: Long) =
      Seq((v, day, kind)).toDF("v", "day", "kind")
    t.append(row("26", "a", 1L), p)
    t.append(row("26", "b", 2L), p)
    t.append(row("27", "a", 3L), p)

    // one commit touching (26,a) and (27,a): both replaced, (26,b) kept
    val batch = Seq((10L, "26", "a"), (30L, "27", "a")).toDF("v", "day", "kind")
    val c = t.dynamicReplace(batch, p)
    assert(c.exists(_.action == "replace"))
    assert(t.read().select($"v").as[Long].collect().toSet == Set(10L, 2L, 30L))
    // untouched partition still readable via pruning
    assert(t.read(Map("day" -> "26", "kind" -> "b")).count() == 1)
  }

  test("replaceWhere with an empty recompute deletes the partition's old data") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t14")
    val p = Seq("day")
    def v(day: String) = Map("day" -> day)
    t.append(Seq(("a", 1L)).toDF("k", "n"), p, v("26"))
    t.append(Seq(("keep", 2L)).toDF("k", "n"), p, v("27"))
    // refresh recomputed day 26 to ZERO rows: that's a result, not a
    // no-op — the old rows must go; day 27 untouched
    val empty = Seq.empty[(String, Long)].toDF("k", "n")
    val c = t.replaceWhere(empty, p, v("26"), partitionFilter = v("26"),
      meta = Map("watermark/26" -> "0"))
    assert(c.exists(_.action == "replace"))
    assert(t.read().select($"k").as[String].collect().toSeq == Seq("keep"))
    assert(t.latestMeta("watermark/26").contains("0"))
    // but a dynamic replace with an empty batch touches nothing
    // (dynamic carries its partition cols as data columns)
    val emptyDyn = Seq.empty[(String, Long, String)].toDF("k", "n", "day")
    assert(t.dynamicReplace(emptyDyn, p).isEmpty)
    assert(t.read().count() == 1)
  }

  test("appId guard honors legacy (pre-appId) commits across the upgrade boundary") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t15")
    val df = Seq(("a", 1L)).toDF("k", "n")
    // pre-upgrade history: batchId recorded with no writer identity
    assert(t.append(df, Seq("day"), Map("day" -> "d"), batchId = Some(7L)).isDefined)
    // post-upgrade replay of the same batch, now carrying an appId:
    // must still be recognized as seen (no double-commit)
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(7L), appId = Some("ckpt-X")).isEmpty)
    // but batches the legacy history never recorded commit normally
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(8L), appId = Some("ckpt-X")).isDefined)
    assert(t.read().count() == 2)
  }

  test("empty write elides data but commits watermark meta atomically (W6+P6)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t4")
    val empty = Seq.empty[(String, Long)].toDF("k", "n")
    val c = t.append(empty, Seq("day"), Map("day" -> "2024-03-28"),
      meta = Map("watermark/2024-03-28" -> "7"))
    assert(c.exists(_.action == "meta"))
    assert(t.latestMeta("watermark/2024-03-28").contains("7"))
    assert(t.liveFiles().isEmpty)
  }

  test("batchId replay is a no-op (exactly-once foreachBatch guard)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t5")
    val df = Seq(("a", 1L)).toDF("k", "n")
    assert(t.append(df, Seq("day"), Map("day" -> "d"), batchId = Some(7L)).isDefined)
    assert(t.append(df, Seq("day"), Map("day" -> "d"), batchId = Some(7L)).isEmpty)
    assert(t.read().count() == 1)
  }

  test("uncommitted staging files are invisible to readers") {
    val root = tmpDir("itab") + "/t6"
    val t = IncrementalTable(spark, root)
    t.append(Seq(("a", 1L)).toDF("k", "n"), Seq("day"), Map("day" -> "d"))
    // simulate a crashed writer: parquet file in the tree, no commit
    val rogue = new java.io.File(s"$root/day=d/part-rogue.parquet")
    java.nio.file.Files.write(rogue.toPath, Array[Byte](1, 2, 3))
    assert(t.read().count() == 1)
    t.vacuum()
    assert(!rogue.exists())
  }

  test("meta survives checkpoint compaction") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t7")
    (1 to IncrementalTable.checkpointInterval + 3).foreach { i =>
      t.commitMeta(Map("wm" -> i.toString))
    }
    assert(t.latestMeta("wm").contains((IncrementalTable.checkpointInterval + 3).toString))
    // replay starts from the checkpoint, not version 0
    assert(t.commits().head.action == "checkpoint")
  }

  test("batchId guard survives checkpoint compaction (ADVICE r1 #2)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t8")
    val df = Seq(("a", 1L)).toDF("k", "n")
    assert(t.append(df, Seq("day"), Map("day" -> "d"), batchId = Some(5L)).isDefined)
    // push a full checkpoint interval of commits past the batch commit
    (1 to IncrementalTable.checkpointInterval + 1).foreach { i =>
      t.commitMeta(Map("wm" -> i.toString))
    }
    assert(t.commits().head.action == "checkpoint")
    // the original batchId commit is compacted away, but the checkpoint
    // carries the max batchId horizon: replay must still be a no-op
    assert(t.hasBatch(5L))
    assert(t.append(df, Seq("day"), Map("day" -> "d"), batchId = Some(5L)).isEmpty)
    assert(t.read().count() == 1)
  }

  test("per-appId batch guard: fresh stream identity is never suppressed (ADVICE r2 #2)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t12")
    val df = Seq(("a", 1L)).toDF("k", "n")
    // stream A commits batches 0..5
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(5L), appId = Some("ckpt-A")).isDefined)
    // replay of A's batch 5 and any earlier A batch: no-op (monotone per app)
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(5L), appId = Some("ckpt-A")).isEmpty)
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(3L), appId = Some("ckpt-A")).isEmpty)
    // stream restarted with a FRESH checkpoint: batchId resets to 0 —
    // must commit (the global-maxBatchId design would swallow it)
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(0L), appId = Some("ckpt-B")).isDefined)
    assert(t.read().count() == 2)

    // the per-app horizon survives log compaction via the checkpoint
    (1 to IncrementalTable.checkpointInterval + 1).foreach { i =>
      t.commitMeta(Map("wm" -> i.toString))
    }
    assert(t.commits().head.action == "checkpoint")
    assert(t.hasBatch(5L, Some("ckpt-A")) && t.hasBatch(0L, Some("ckpt-B")))
    assert(!t.hasBatch(1L, Some("ckpt-B")) && !t.hasBatch(0L, Some("ckpt-C")))
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(4L), appId = Some("ckpt-A")).isEmpty)
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(1L), appId = Some("ckpt-B")).isDefined)
  }

  test("time travel reads older snapshots; compaction shrinks file count losslessly") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t10")
    val p = Seq("day")
    val v = Map("day" -> "d")
    t.append(Seq(("a", 1L)).toDF("k", "n"), p, v) // version 0
    t.append(Seq(("b", 2L)).toDF("k", "n"), p, v) // version 1
    t.replaceWhere(Seq(("c", 3L)).toDF("k", "n"), p, v, v) // version 2
    assert(t.readAt(0).select($"k").as[String].collect().toSeq == Seq("a"))
    assert(t.readAt(1).select($"k").as[String].collect().toSet == Set("a", "b"))
    assert(t.read().select($"k").as[String].collect().toSet == Set("c"))
    intercept[IllegalArgumentException] { t.readAt(99) }

    val t2 = IncrementalTable(spark, tmpDir("itab") + "/t11")
    (1 to 5).foreach(i => t2.append(Seq((s"x$i", i.toLong)).toDF("k", "n"), p, v))
    assert(t2.liveFiles().size == 5)
    t2.compact(v)
    assert(t2.liveFiles().size == 1)
    assert(t2.read().count() == 5)
    assert(t2.read().select($"k").as[String].collect().toSet ==
      (1 to 5).map(i => s"x$i").toSet)
    // pre-compaction snapshot still readable — INCLUDING after vacuum
    // (replaced files are retained inside the replay window)
    assert(t2.readAt(4).count() == 5)
    assert(t2.vacuum().isEmpty)
    assert(t2.readAt(4).count() == 5)
    assert(t2.read().count() == 5)
  }

  test("OCC: concurrent appends from two stale handles both commit, no loss") {
    val root = tmpDir("itab") + "/t16"
    val a = IncrementalTable(spark, root)
    val b = IncrementalTable(spark, root)
    val p = Seq("day")
    a.append(Seq(("seed", 0L)).toDF("k", "n"), p, Map("day" -> "d"))
    b.refresh()
    b.commits() // both handles now hold the same snapshot (version 0)
    // interleaved appends: each writer's first publish attempt targets
    // version 1; the loser must detect the race and land at version 2
    a.append(Seq(("fromA", 1L)).toDF("k", "n"), p, Map("day" -> "d"))
    b.append(Seq(("fromB", 2L)).toDF("k", "n"), p, Map("day" -> "d"))
    a.refresh()
    assert(a.commits().map(_.version) == Seq(0L, 1L, 2L))
    assert(a.read().select($"k").as[String].collect().toSet ==
      Set("seed", "fromA", "fromB"))
  }

  test("OCC: racing replaces of one partition — loser fails, no duplicate live files") {
    val root = tmpDir("itab") + "/t17"
    val a = IncrementalTable(spark, root)
    val b = IncrementalTable(spark, root)
    val p = Seq("day")
    val v = Map("day" -> "d")
    a.append(Seq(("old", 0L)).toDF("k", "n"), p, v)
    b.refresh(); b.commits()
    // A's replace wins; B's replace was computed against the pre-A
    // snapshot — committing it would leave A's files AND B's files live
    a.replaceWhere(Seq(("fromA", 1L)).toDF("k", "n"), p, v, partitionFilter = v)
    intercept[ConcurrentWriteException] {
      b.replaceWhere(Seq(("fromB", 2L)).toDF("k", "n"), p, v, partitionFilter = v)
    }
    a.refresh()
    assert(a.read().select($"k").as[String].collect().toSet == Set("fromA"))
    // B's orphaned files are unreferenced and reclaimed
    assert(a.vacuum().nonEmpty)
    assert(a.read().select($"k").as[String].collect().toSet == Set("fromA"))
  }

  test("OCC: a stale replace racing an append INTO its partition fails; disjoint partitions retry fine") {
    val root = tmpDir("itab") + "/t18"
    val a = IncrementalTable(spark, root)
    val b = IncrementalTable(spark, root)
    val p = Seq("day")
    a.append(Seq(("d1old", 0L)).toDF("k", "n"), p, Map("day" -> "1"))
    a.append(Seq(("d2old", 0L)).toDF("k", "n"), p, Map("day" -> "2"))
    b.refresh(); b.commits()
    // concurrent append lands INSIDE the partition B is about to replace:
    // B's replace would silently keep or drop it depending on timing —
    // must fail instead
    a.append(Seq(("d1new", 1L)).toDF("k", "n"), p, Map("day" -> "1"))
    intercept[ConcurrentWriteException] {
      b.replaceWhere(Seq(("fromB", 2L)).toDF("k", "n"), p,
        Map("day" -> "1"), partitionFilter = Map("day" -> "1"))
    }
    // but a replace of a DIFFERENT partition retries past the race
    assert(b.replaceWhere(Seq(("d2new", 3L)).toDF("k", "n"), p,
      Map("day" -> "2"), partitionFilter = Map("day" -> "2")).isDefined)
    a.refresh()
    assert(a.read().select($"k").as[String].collect().toSet ==
      Set("d1old", "d1new", "d2new"))
  }

  test("OCC: threaded concurrent appends from separate handles all land exactly once") {
    val root = tmpDir("itab") + "/t22"
    val handles = (0 until 4).map(_ => IncrementalTable(spark, root))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = handles.zipWithIndex.map { case (t, ti) =>
      new Thread(() =>
        try (0 until 3).foreach { i =>
          t.append(Seq((s"w$ti-$i", i.toLong)).toDF("k", "n"),
            Seq("day"), Map("day" -> "d"))
        } catch { case e: Throwable => failures.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"concurrent append failed: ${failures.peek()}")
    val t = IncrementalTable(spark, root)
    assert(t.commits().map(_.version) == (0L until 12L))
    assert(t.read().count() == 12)
    assert(t.read().select($"k").as[String].collect().toSet.size == 12)
  }

  test("data skipping: clustered compact + stats index prunes files, results exact") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t23")
    val p = Seq("day")
    // 4 unclustered appends, ids interleaved so every file spans ~the
    // full id range: a range predicate can prune nothing yet
    (0 until 4).foreach { i =>
      t.append((i until 1000 by 4).map(id => (id.toLong, s"r$id")).toDF("id", "s")
        .repartition(1), p, Map("day" -> "d1"), statsColumns = Seq("id"))
    }
    val interleaved = t.liveFilesWhere($"id" >= 900)
    assert(interleaved.size == 4, "interleaved files all overlap the range")

    // clustered compaction: each output file now covers a narrow id slice
    t.compact(Map("day" -> "d1"), targetFiles = 4, clusterBy = Seq("id"),
      statsColumns = Seq("id"))
    assert(t.liveFiles().size == 4)
    // range-partition boundaries are sampled, so a split can land inside
    // the probe range: assert the prune is real (≤2 of 4), not exact
    val pruned = t.liveFilesWhere($"id" >= 900)
    assert(pruned.size <= 2, s"expected <=2 surviving files, got ${pruned.size}")
    // conjunctions tighten; literal-on-the-left and int-vs-long casts work
    assert(t.liveFilesWhere($"id" >= 200 && lit(400) > $"id").size <= 2)
    // equality pins a point; unextractable conjuncts prune nothing extra
    assert(t.liveFilesWhere($"id" === 999 && $"s".startsWith("r")).size == 1)
    // IN lists bound to [min,max] of the list
    assert(t.liveFilesWhere($"id".isin(990, 995, 999)).size <= 2)
    assert(t.readWhere($"id".isin(990, 995, 999)).count() == 3)

    // skipping is an optimization, never a semantics change
    val expect = (900 until 1000).map(_.toLong).toSet
    assert(t.readWhere($"id" >= 900).select($"id").as[Long].collect().toSet == expect)
    assert(t.readWhere($"id" >= 900).count() ==
      t.read().filter($"id" >= 900).count())
    // a column with no stats (never indexed) keeps every file
    assert(t.liveFilesWhere(length($"s") > 2).size == 4)
  }

  test("null-count skipping: IS NULL prunes null-free files, IS NOT NULL and value bounds prune all-null files") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t32")
    // three files with distinct null profiles in one column
    t.append(Seq((1L, Some(10L)), (2L, Some(20L))).toDF("id", "v")
      .repartition(1), Nil, statsColumns = Seq("v"))           // no nulls
    t.append(Seq((3L, Some(30L)), (4L, Option.empty[Long])).toDF("id", "v")
      .repartition(1), Nil, statsColumns = Seq("v"))           // mixed
    t.append(Seq((5L, Option.empty[Long]), (6L, Option.empty[Long])).toDF("id", "v")
      .repartition(1), Nil, statsColumns = Seq("v"))           // all null
    assert(t.liveFiles().size == 3)

    // IS NULL keeps only files that can hold a null
    assert(t.liveFilesWhere($"v".isNull).size == 2)
    // IS NOT NULL drops the all-null file
    assert(t.liveFilesWhere($"v".isNotNull).size == 2)
    // a value bound is never true of NULL: all-null file pruned too,
    // and the null-free file pruned by its [min,max]
    assert(t.liveFilesWhere($"v" >= 25).size == 1)
    // results stay exact under pruning
    assert(t.readWhere($"v".isNull).select($"id").as[Long].collect().toSet ==
      Set(4L, 5L, 6L))
    assert(t.readWhere($"v".isNotNull).count() == 3)
    assert(t.readWhere($"v" >= 25).select($"id").as[Long].collect().toSet == Set(3L))

    // combined: null check AND range tighten together
    assert(t.liveFilesWhere($"v".isNotNull && $"v" <= 15).size == 1)

    // an unindexed column's null predicate prunes nothing (no tally)
    assert(t.liveFilesWhere($"id".isNull).size == 3)

    // DOUBLE columns: no sound [min,max] in the index's long/ASCII
    // domain, but the BOUNDLESS entry still carries the null tally —
    // IS [NOT] NULL prunes, value bounds never do
    val d = IncrementalTable(spark, tmpDir("itab") + "/t34")
    d.append(Seq((1L, Some(1.5)), (2L, Some(2.5))).toDF("id", "x")
      .repartition(1), Nil, statsColumns = Seq("x"))
    d.append(Seq((3L, Option.empty[Double]), (4L, Option.empty[Double])).toDF("id", "x")
      .repartition(1), Nil, statsColumns = Seq("x"))
    assert(d.liveFilesWhere($"x".isNull).size == 1)
    assert(d.liveFilesWhere($"x".isNotNull).size == 1)
    assert(d.liveFilesWhere($"x" >= 2.0).size == 1) // all-null pruned; no value bound beyond that
    assert(d.readWhere($"x".isNotNull).count() == 2)

    // string columns: same null index through the ASCII-bound entries
    val s = IncrementalTable(spark, tmpDir("itab") + "/t33")
    s.append(Seq((1L, Some("aa")), (2L, Some("bb"))).toDF("id", "k")
      .repartition(1), Nil, statsColumns = Seq("k"))
    s.append(Seq((3L, Option.empty[String]), (4L, Option.empty[String])).toDF("id", "k")
      .repartition(1), Nil, statsColumns = Seq("k"))
    assert(s.liveFilesWhere($"k".isNull).size == 1)
    assert(s.liveFilesWhere($"k".isNotNull).size == 1)
    assert(s.liveFilesWhere($"k" >= "b").size == 1) // all-null file pruned by the bound
    assert(s.readWhere($"k".isNull).count() == 2)
  }

  test("data skipping on STRING columns: clustered prune, strict bounds, non-ASCII poison") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t31")
    // keys aa..zz, written clustered so each file covers a narrow
    // lexicographic slice
    val keys = for (a <- 'a' to 'z'; b <- 'a' to 'z') yield s"$a$b"
    t.append(keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
      .repartition(1), Nil, statsColumns = Seq("k"))
    t.compact(targetFiles = 4, clusterBy = Seq("k"), statsColumns = Seq("k"))
    assert(t.liveFiles().size == 4)

    // equality pins one file; ranges prune; strict vs inclusive differ
    assert(t.liveFilesWhere($"k" === "zz").size == 1)
    assert(t.liveFilesWhere($"k" >= "y").size <= 2)
    assert(t.liveFilesWhere($"k" < "c" && $"k" > "ba").size <= 2)
    // literal-on-the-left shapes
    assert(t.liveFilesWhere(lit("c") > $"k").size <= 2)
    // IN lists bound to [min,max] of the list
    assert(t.liveFilesWhere($"k".isin("za", "zb", "zz")).size <= 2)
    // prefix pruning: k LIKE 'z%' == [z, {) — one lexicographic slice
    assert(t.liveFilesWhere($"k".startsWith("z")).size <= 2)
    assert(t.readWhere($"k".startsWith("z")).count() == 26)
    assert(t.readWhere($"k".isin("za", "zb", "zz")).count() == 3)

    // never a semantics change
    val expect = keys.filter(_ >= "y").toSet
    assert(t.readWhere($"k" >= "y").select($"k").as[String].collect().toSet == expect)
    assert(t.readWhere($"k" === "mm").count() == 1)

    // non-ASCII data gets a SOUND truncated entry (code point order —
    // StringStatsSpec pins the semantics); results stay exact
    t.append(Seq(("żż", 9999L), ("aa", 10000L)).toDF("k", "v").repartition(1),
      Nil, statsColumns = Seq("k"))
    assert(t.liveFiles().size == 5)
    val survivors = t.liveFilesWhere($"k" === "zz")
    assert(survivors.size == 2,
      s"mixed [aa,żż] file kept + one matching slice, got ${survivors.size}")
    assert(t.readWhere($"k" === "zz").count() == 1)
    assert(t.readWhere($"k" === "żż").select($"v").as[Long].collect().toSeq == Seq(9999L))
    // non-ASCII literals now extract a bound (cpCompare order): every
    // ASCII slice prunes, only the mixed file survives — exact result
    assert(t.liveFilesWhere($"k" >= "ż").size == 1)
    assert(t.readWhere($"k" >= "ż").select($"v").as[Long].collect().toSeq
      == Seq(9999L))
  }

  test("data skipping on DATE and TIMESTAMP columns (time-series range prune)") {
    import java.sql.{Date, Timestamp}
    val t = IncrementalTable(spark, tmpDir("itab") + "/t32")
    val rows = (0 until 400).map { i =>
      (i.toLong, Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i / 2)),
        Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(i)))
    }
    t.append(rows.toDF("id", "d", "ts").repartition(1), Nil,
      statsColumns = Seq("d", "ts"))
    t.compact(targetFiles = 4, clusterBy = Seq("ts"), statsColumns = Seq("d", "ts"))
    assert(t.liveFiles().size == 4)

    // a narrow timestamp range touches 1-2 of 4 clustered files
    val tsLo = Timestamp.valueOf("2024-01-15 00:00:00")
    assert(t.liveFilesWhere($"ts" >= lit(tsLo)).size <= 2)
    // date bounds prune too (clustering on ts orders d as well here)
    assert(t.liveFilesWhere($"d" >= lit(Date.valueOf("2024-07-01"))).size <= 2)
    assert(t.liveFilesWhere($"d" === lit(Date.valueOf("2024-01-05"))).size == 1)
    // string-typed literals go through the analyzer's foldable cast
    assert(t.liveFilesWhere($"ts" >= "2024-01-15 00:00:00").size <= 2)

    // never a semantics change
    assert(t.readWhere($"ts" >= lit(tsLo)).count() ==
      t.read().filter($"ts" >= lit(tsLo)).count())
    assert(t.readWhere($"d" === lit(Date.valueOf("2024-01-05"))).count() == 2)
    // a date column compared against a TIMESTAMP literal is a cast of
    // the COLUMN — no bound extracted, all files kept, result exact
    assert(t.liveFilesWhere($"d" >= lit(tsLo)).size == 4)
  }

  test("symlink manifest exports exactly the committed snapshot for external readers") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t33")
    val p = Seq("day")
    t.append(Seq((1L, "a")).toDF("id", "s"), p, Map("day" -> "d1"))
    t.append(Seq((2L, "b")).toDF("id", "s"), p, Map("day" -> "d2"))
    t.replaceWhere(Seq((3L, "c")).toDF("id", "s"), p, Map("day" -> "d1"),
      partitionFilter = Map("day" -> "d1"))

    val parts = t.generateManifest()
    assert(parts == Seq("day=d1/manifest", "day=d2/manifest"))
    // an external reader over the manifest paths sees the snapshot:
    // replaced d1 files are absent, committed ones present
    val listed = parts.flatMap { rel =>
      val src = scala.io.Source.fromFile(
        new java.io.File(s"${t.root}/_symlink_format_manifest/$rel"))
      try src.getLines().toList finally src.close()
    }
    assert(listed.size == t.liveFiles().size)
    val external = spark.read.option("basePath", t.root).parquet(listed: _*)
    assert(external.select($"id").as[Long].collect().toSet == Set(2L, 3L))

    // regeneration drops manifests of partitions that vanished
    t.replaceWhere(Seq.empty[(Long, String)].toDF("id", "s"), p,
      Map("day" -> "d2"), partitionFilter = Map("day" -> "d2"))
    assert(t.generateManifest() == Seq("day=d1/manifest"))

    // deletion vectors in force refuse to export (external readers
    // can't apply them); materializing compaction re-enables
    t.append(Seq((4L, "d")).toDF("id", "s"), p, Map("day" -> "d1"))
    t.deleteVectorized($"id" === 3L)
    intercept[IllegalArgumentException](t.generateManifest())
    t.compact(Map("day" -> "d1"))
    assert(t.generateManifest() == Seq("day=d1/manifest"))
  }

  test("deleteInsert: NULL conditions never delete; empty tables degrade to append") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t34")
    // id=1 has x=null, co-located in ONE file with deletable id=2 —
    // SQL MERGE semantics: a NULL condition must not delete, even
    // though its file is rewritten for the sibling row
    t.append(Seq((1L, Option.empty[Long]), (2L, Option(10L)), (3L, Option(1L)))
      .toDF("id", "x").repartition(1), Nil)
    t.deleteInsert(Seq(1L, 2L).toDF("id"), Seq("id"), $"x" > 5,
      Seq((9L, Option(9L))).toDF("id", "x"))
    assert(t.read().select("id").as[Long].collect().toSet == Set(1L, 3L, 9L))

    // zero live files (everything deleted): no _metadata to probe —
    // must degrade to a plain guarded append, not crash
    t.delete(lit(true))
    assert(t.liveFiles().isEmpty)
    t.deleteInsert(Seq(1L).toDF("id"), Seq("id"), lit(true),
      Seq((5L, Option(5L))).toDF("id", "x"))
    assert(t.read().select("id").as[Long].collect().toSet == Set(5L))
  }

  test("detail() summarizes the live snapshot from metadata alone") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t35")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Seq("s"))
    t.addConstraint("pos_id", "id > 0")
    t.deleteVectorized($"id" === 1L)
    val d = t.detail().collect().head
    assert(d.getAs[Long]("version") == t.latestVersion)
    assert(d.getAs[Long]("num_files") == 2L)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[String]("partition_by") == "s")
    assert(d.getAs[Long]("num_constraints") == 1L)
    assert(d.getAs[Long]("num_dv_files") == 1L)
  }

  test("detail() reports partitioning right after a checkpoint whose tail was meta/dv (ADVICE r4 #2)") {
    val dir = tmpDir("itab") + "/t35b"
    val t = new IncrementalTable(spark, dir, checkpointEvery = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Seq("s")) // v0
    t.commitMeta(Map("wm" -> "1")) // v1
    t.commitMeta(Map("wm" -> "2")) // v2 -> checkpoint (tail = meta, empty partitionBy)
    val t2 = IncrementalTable(spark, dir) // replays from the checkpoint only
    assert(t2.commits().head.action == "checkpoint")
    assert(t2.detail().collect().head.getAs[String]("partition_by") == "s")
    // a deliberate unpartitioned rewrite must still report empty after compaction
    t2.compact() // replace with the committed layout... still partitioned
    assert(t2.detail().collect().head.getAs[String]("partition_by") == "s")
  }

  test("delete with a NULL-evaluating predicate keeps the row (SQL DELETE semantics)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t36")
    t.append(Seq((1L, Option.empty[Long]), (2L, Option(1L)), (3L, Option(9L)))
      .toDF("id", "x").repartition(1), Nil)
    t.delete($"x" === 1L) // matches id=2; id=1's NULL must survive the rewrite
    assert(t.read().select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("changes refuses a window crossing the replay horizon instead of under-reporting") {
    val t = new IncrementalTable(spark, tmpDir("itab") + "/t37", checkpointEvery = 2)
    t.append(Seq((1L, "a")).toDF("id", "s"), Nil) // v0
    t.append(Seq((2L, "b")).toDF("id", "s"), Nil) // v1
    t.append(Seq((3L, "c")).toDF("id", "s"), Nil) // v2 -> checkpoint
    t.refresh()
    assert(t.commits().head.action == "checkpoint")
    intercept[IllegalArgumentException](t.changes(0)) // pre-horizon: partial feed
    intercept[IllegalArgumentException](t.changes(2)) // the folded version itself
    assert(t.changes(3).count() == 0) // post-horizon windows still work
    t.append(Seq((4L, "d")).toDF("id", "s"), Nil) // v3
    assert(t.changes(3).select("id").as[Long].collect().toSet == Set(4L))
  }

  test("data skipping survives checkpoint compaction of the recording commits") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t24")
    t.append((0 until 100).map(i => (i.toLong, "a")).toDF("id", "s")
      .repartition(1), Seq("day"), Map("day" -> "d"), statsColumns = Seq("id"))
    t.append((100 until 200).map(i => (i.toLong, "b")).toDF("id", "s")
      .repartition(1), Seq("day"), Map("day" -> "d"), statsColumns = Seq("id"))
    assert(t.liveFilesWhere($"id" < 100).size == 1)
    // drive the log across a checkpoint with cheap metadata commits
    val until = IncrementalTable.checkpointInterval + 2
    (t.latestVersion until until).foreach(i => t.commitMeta(Map("tick" -> i.toString)))
    val t2 = IncrementalTable(spark, t.root) // fresh handle: replays from checkpoint
    assert(t2.commits().head.action == "checkpoint")
    assert(t2.liveFilesWhere($"id" < 100).size == 1,
      "checkpoint must carry the data-skipping index forward")
    assert(t2.readWhere($"id" < 100).count() == 100)
  }

  test("vacuum retention: replaced files survive for time travel, reclaim after checkpoint") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t26")
    val p = Seq("day")
    val v = Map("day" -> "d")
    t.append(Seq(("old", 1L)).toDF("k", "n"), p, v)
    t.replaceWhere(Seq(("new", 2L)).toDF("k", "n"), p, v, partitionFilter = v)
    // replaced file retained: every version in the window stays readable
    assert(t.vacuum().isEmpty)
    assert(t.readAt(0).select($"k").as[String].collect().toSeq == Seq("old"))
    // checkpoint truncates the history naming the old file -> reclaimed
    (t.latestVersion until IncrementalTable.checkpointInterval)
      .foreach(i => t.commitMeta(Map("tick" -> i.toString)))
    val t2 = IncrementalTable(spark, t.root)
    assert(t2.commits().head.action == "checkpoint")
    assert(t2.vacuum().size == 1)
    assert(t2.read().select($"k").as[String].collect().toSeq == Seq("new"))
  }

  test("bloomColumns writes parquet bloom filters (point-lookup row-group skipping)") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val t = IncrementalTable(spark, tmpDir("itab") + "/t29")
    val df = (1 to 2000).map(i => (s"key$i", i.toLong)).toDF("k", "n")
    t.append(df, partitionBy = Nil, bloomColumns = Seq("k"))
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(t.root, t.liveFiles().head)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      assert(cols.find(_.getPath.toDotString == "k")
        .exists(_.getBloomFilterOffset >= 0), "bloom filter missing for k")
      assert(cols.find(_.getPath.toDotString == "n")
        .exists(_.getBloomFilterOffset < 0), "n should have no bloom")
    } finally reader.close()
    // reads with a point predicate stay exact
    assert(t.read().filter($"k" === "key1500").count() == 1)
  }

  test("delete/update: copy-on-write touches only matching files; history records it") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t28")
    val p = Seq("day")
    t.append(Seq(("a", 1L, "d1"), ("b", 2L, "d1")).toDF("k", "n", "day"), p)
    t.append(Seq(("c", 3L, "d2"), ("d", 4L, "d2")).toDF("k", "n", "day"), p)
    val d2Files = t.liveFiles(Map("day" -> "d2")).toSet

    // delete touching only d1: d2's files keep their identity
    assert(t.delete($"k" === "a").isDefined)
    assert(t.read().select($"k").as[String].collect().toSet == Set("b", "c", "d"))
    assert(t.liveFiles(Map("day" -> "d2")).toSet == d2Files)
    // no-match delete commits nothing
    assert(t.delete($"k" === "zzz").isEmpty)

    // update rewrites only d2 (predicate scoped there), can move partitions
    assert(t.update($"k" === "c", Map("n" -> lit(30L), "day" -> lit("d3"))).isDefined)
    val rows = t.read().select($"k", $"n", $"day")
      .as[(String, Long, String)].collect().toSet
    assert(rows == Set(("b", 2L, "d1"), ("c", 30L, "d3"), ("d", 4L, "d2")))
    assert(t.update($"k" === "zzz", Map("n" -> lit(0L))).isEmpty)
    intercept[IllegalArgumentException](t.update($"k" === "b", Map("nope" -> lit(1))))

    // full-file delete drops the file without staging a rewrite
    t.delete($"day" === "d3")
    assert(t.read().count() == 2)
    assert(t.liveFiles(Map("day" -> "d3")).isEmpty)

    val h = t.history()
    assert(h.count() == t.commits().size && t.commits().size >= 5)
    assert(h.filter($"action" === "replace" && $"n_removed" > 0).count() >= 3)
  }

  test("changes: logical CDC rows — rewrites cancel, updates split into delete+insert") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t27")
    val p = Seq("day")
    t.append(Seq(("a", 1L, "d1"), ("b", 2L, "d1"), ("c", 3L, "d2"))
      .toDF("k", "n", "day"), p)
    // replace d1 keeping b identical, changing a: only a's old/new rows
    // may surface — b's physical rewrite must cancel
    val f = Map("day" -> "d1")
    t.replaceWhere(Seq(("a", 10L, "d1"), ("b", 2L, "d1")).toDF("k", "n", "day"),
      p, f, partitionFilter = f)
    val ch = t.changes(0)
      .select($"_commit_version", $"_change_type", $"k", $"n")
      .as[(Long, String, String, Long)].collect().toSet
    assert(ch == Set(
      (0L, "insert", "a", 1L), (0L, "insert", "b", 2L), (0L, "insert", "c", 3L),
      (1L, "delete", "a", 1L), (1L, "insert", "a", 10L)))
    // windowing: only the replace commit
    assert(t.changes(1).count() == 2)
    // net fold of the full feed reproduces the current state
    val net = t.changes(0).groupBy($"k", $"n")
      .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
      .filter($"net" > 0).select($"k", $"n").as[(String, Long)].collect().toSet
    assert(net == t.read().select($"k", $"n").as[(String, Long)].collect().toSet)
  }

  test("merge: upserts rewrite only touched files; inserts append; dup sources rejected") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t25")
    val p = Seq("day")
    // two partitions, one file each
    t.append(Seq((1L, "a1", "d1"), (2L, "a2", "d1")).toDF("id", "v", "day")
      .repartition(1), p)
    t.append(Seq((3L, "b3", "d2"), (4L, "b4", "d2")).toDF("id", "v", "day")
      .repartition(1), p)
    val before = t.liveFiles().toSet
    assert(before.size == 2)

    // update id=1 (touches only d1's file), insert id=9 into d3
    t.merge(Seq((1L, "A1", "d1"), (9L, "c9", "d3")).toDF("id", "v", "day"),
      keys = Seq("id"))
    val after = t.liveFiles().toSet
    assert(t.read().select($"id", $"v").as[(Long, String)].collect().toSet ==
      Set((1L, "A1"), (2L, "a2"), (3L, "b3"), (4L, "b4"), (9L, "c9")))
    // d2's file was untouched — same physical file survives the commit
    val d2file = before.find(_.startsWith("day=d2")).get
    assert(after.contains(d2file), "untouched file must keep its identity")
    assert(!after.exists(before.find(_.startsWith("day=d1")).toSet),
      "touched file must be rewritten")

    // a matched row may move partitions: id=2 goes d1 -> d9
    t.merge(Seq((2L, "A2", "d9")).toDF("id", "v", "day"), keys = Seq("id"))
    assert(t.read(Map("day" -> "d9")).select($"id").as[Long].collect().toSeq == Seq(2L))
    assert(t.read(Map("day" -> "d1")).select($"id").as[Long].collect().toSeq == Seq(1L))

    // source with duplicate keys is rejected before any mutation
    val v0 = t.latestVersion
    intercept[IllegalArgumentException] {
      t.merge(Seq((5L, "x", "d1"), (5L, "y", "d1")).toDF("id", "v", "day"),
        keys = Seq("id"))
    }
    assert(t.latestVersion == v0)

    // a pure-insert merge (no matches) appends without touching anything
    val filesBefore = t.liveFiles().toSet
    t.merge(Seq((7L, "n7", "d2")).toDF("id", "v", "day"), keys = Seq("id"))
    assert(filesBefore.subsetOf(t.liveFiles().toSet))
    assert(t.commits().last.action == "append")
  }

  test("schema evolution: add-column append null-backfills old files on read") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t19")
    val p = Seq("day")
    val v = Map("day" -> "d")
    t.append(Seq(("a", 1L)).toDF("k", "n"), p, v)
    t.append(Seq(("b", 2L, 0.5)).toDF("k", "n", "score"), p, v)
    val back = t.read()
    // merged schema: previous fields (incl. the partition column) keep
    // their order, the new column appends
    assert(back.columns.toSeq == Seq("k", "n", "day", "score"))
    val rows = back.select($"k", $"score").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map("a" -> None, "b" -> Some(0.5)))
    // a later append DROPPING a column keeps it in the schema (nulls)
    t.append(Seq(("c", 3L)).toDF("k", "n"), p, v)
    val back2 = t.read()
    assert(back2.columns.toSeq == Seq("k", "n", "day", "score"))
    assert(back2.filter($"k" === "c").select($"score").collect().head.isNullAt(0))
    // pruned reads and counts unaffected
    assert(back2.count() == 3)
    // type changes are rejected, add-column only
    intercept[IllegalArgumentException] {
      t.append(Seq(("d", "not-a-long")).toDF("k", "n"), p, v)
    }
  }

  test("schema evolution: an EMPTY append that widens the schema still commits it") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t19e")
    t.append(Seq((1L, "a")).toDF("k", "name"), Nil)
    val v0 = t.latestVersion
    t.append(Seq((2L, "b", "s")).toDF("k", "name", "seg").filter($"k" > 5L), Nil)
    assert(t.latestVersion == v0 + 1, "the widened schema commits schema-only")
    assert(t.liveFiles().size == 1)
    assert(t.schemaAt().get.fieldNames.toSeq == Seq("k", "name", "seg"))
    val back = t.read().collect()
    assert(back.length == 1 && back.head.isNullAt(back.head.fieldIndex("seg")))
    // an empty append with no new column stays fully elided (W6)
    t.append(Seq((3L, "c")).toDF("k", "name").filter($"k" > 5L), Nil)
    assert(t.latestVersion == v0 + 1)
  }

  test("legacy batch guard is narrowed to the replay window (ADVICE r3 #1)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t20")
    val df = Seq(("a", 1L)).toDF("k", "n")
    // legacy history: batches 0..2 committed with no writer identity
    (0L to 2L).foreach(b =>
      assert(t.append(df, Seq("day"), Map("day" -> "d"), batchId = Some(b)).isDefined))
    // a deliberately rebuilt fresh-checkpoint stream counts up from 0:
    // batches 0 and 1 must COMMIT (only the legacy max, 2, is a
    // possible crash replay)
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(0L), appId = Some("ckpt-N")).isDefined)
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(1L), appId = Some("ckpt-N")).isDefined)
    // and once the writer has identified history of its own, reaching
    // the legacy max is legitimate counting-up, not a replay
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(2L), appId = Some("ckpt-N")).isDefined)
    // a DIFFERENT writer's first batch matching the legacy max is the
    // mid-upgrade crash-replay signature: suppressed
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(2L), appId = Some("ckpt-M")).isEmpty)
    assert(t.read().count() == 6)
  }

  test("appId'd batches never suppress an anonymous writer (ADVICE r3 #2)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t21")
    val df = Seq(("a", 1L)).toDF("k", "n")
    assert(t.append(df, Seq("day"), Map("day" -> "d"),
      batchId = Some(5L), appId = Some("ckpt-A")).isDefined)
    // an anonymous writer reusing batchId 5 is a different writer, not
    // a replay — must commit, consistently pre- and post-compaction
    assert(t.append(df, Seq("day"), Map("day" -> "d"), batchId = Some(5L)).isDefined)
    assert(t.read().count() == 2)
  }

  test("cached log snapshot matches a fresh replay; refresh sees external writes") {
    val root = tmpDir("itab") + "/t9"
    val t = IncrementalTable(spark, root)
    t.append(Seq(("a", 1L)).toDF("k", "n"), Seq("day"), Map("day" -> "d"))
    t.append(Seq(("b", 2L)).toDF("k", "n"), Seq("day"), Map("day" -> "d"))
    assert(t.commits().map(_.version) == Seq(0L, 1L))
    // a second handle (external writer under the single-writer contract's
    // hand-off) appends; the stale handle must refresh() to observe it
    val t2 = IncrementalTable(spark, root)
    t2.append(Seq(("c", 3L)).toDF("k", "n"), Seq("day"), Map("day" -> "d"))
    assert(t.commits().size == 2) // cached snapshot, by design
    t.refresh()
    assert(t.commits().size == 3)
    assert(t.read().count() == 3)
  }

  test("CDC retention: changes() replays archived history across a compaction boundary (VERDICT r4 #5)") {
    val root = tmpDir("itab") + "/t-cdcret"
    val t = new IncrementalTable(spark, root, checkpointEvery = 2,
      cdcRetention = 100)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "w"), Nil) // v0
    t.delete(col("id") === 2L) // v1
    t.append(Seq((4L, "d")).toDF("id", "w"), Nil) // v2 → checkpoint
    t.deleteVectorized(col("id") === 1L) // v3
    t.vacuum() // retention keeps the archived windows' files + sidecars
    // the full-history window crosses the horizon but stays exact
    val net = scala.collection.mutable.Map.empty[(Long, String), Int]
    t.changes(0).select($"id", $"w", $"_change_type")
      .as[(Long, String, String)].collect().foreach { case (id, w, ct) =>
        net((id, w)) = net.getOrElse((id, w), 0) + (if (ct == "insert") 1 else -1)
      }
    assert(net.filter(_._2 != 0).keySet == Set((3L, "c"), (4L, "d")))
    // per-commit windows inside the archive are exact too
    assert(t.changes(1, 1).select($"id").as[Long].collect().toSeq == Seq(2L))
    assert(t.changes(3, 3).select($"id", $"_change_type")
      .as[(Long, String)].collect().toSeq == Seq((1L, "delete")))
    // a handle WITHOUT retention on the same table still refuses —
    // never silently under-reports
    val bare = new IncrementalTable(spark, root, checkpointEvery = 2)
    val e = intercept[IllegalArgumentException](bare.changes(0))
    assert(e.getMessage.contains("retention"))
    // readAt is unchanged: snapshot reads stay bounded by the horizon
    intercept[IllegalArgumentException](t.readAt(0))
  }

  test("mutations on a fully-emptied table are no-ops, not _metadata errors") {
    // TableModelProps found this: delete-all leaves a live set of ZERO
    // files, whose read() is a LocalRelation — a later copy-on-write
    // mutation must not try to resolve `_metadata.file_path` on it
    val t = IncrementalTable(spark, tmpDir("itab") + "/t-empty")
    t.append(Seq((1L, 1L), (2L, 2L)).toDF("id", "v"), Nil)
    t.delete(lit(true))
    assert(t.read().count() == 0)
    assert(t.liveFiles().isEmpty)
    assert(t.delete(col("id") === 1L).isEmpty)
    assert(t.update(col("id") === 1L, Map("v" -> lit(9L))).isEmpty)
    // merge on the empty table degrades to a pure insert
    assert(t.merge(Seq((3L, 3L)).toDF("id", "v"), Seq("id")).isDefined)
    assert(t.read().select($"id").as[Long].collect().toSeq == Seq(3L))
    // ... and deleteInsert (already guarded) still degrades to append
    assert(t.delete(lit(true)).isDefined)
    assert(t.deleteInsert(Seq(3L).toDF("id"), Seq("id"), lit(true),
      Seq((4L, 4L)).toDF("id", "v")).isDefined)
    assert(t.read().select($"id").as[Long].collect().toSeq == Seq(4L))
  }

  test("DROP COLUMN: schema projection, time travel, tombstoned re-add (X64)") {
    val t = IncrementalTable(spark, tmpDir("itab") + "/t-drop")
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "v"), Nil) // v0
    t.alter(drops = Seq("v")) // v1: metadata-only projection
    assert(t.read().columns.toSeq == Seq("id", "s"))
    assert(t.read().count() == 2)
    // time travel to the pre-drop version still shows the column
    assert(t.readAt(0).select($"v").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L))
    // appends under the projected schema work
    t.append(Seq((3L, "c")).toDF("id", "s"), Nil)
    assert(t.read().count() == 3)
    // the name is tombstoned: DDL re-add AND write-path evolution refuse
    // (old files still carry the bytes — they would resurface)
    intercept[IllegalArgumentException](
      t.alter(additions = new org.apache.spark.sql.types.StructType()
        .add("v", "long")))
    intercept[IllegalArgumentException](
      t.append(Seq((4L, "d", 40L)).toDF("id", "s", "v"), Nil))
    // partition columns define the layout and cannot drop
    val tp = IncrementalTable(spark, tmpDir("itab") + "/t-drop-part")
    tp.append(Seq((1L, "x")).toDF("id", "part"), Seq("part"))
    intercept[IllegalArgumentException](tp.alter(drops = Seq("part")))
    // an active CHECK constraint referencing the column blocks the drop
    val tc = IncrementalTable(spark, tmpDir("itab") + "/t-drop-cons")
    tc.append(Seq((1L, 5L)).toDF("id", "v"), Nil)
    tc.addConstraint("v_pos", "v > 0")
    intercept[IllegalArgumentException](tc.alter(drops = Seq("v")))
    // dropping constraint + column together in ONE alter is legal
    tc.alter(drops = Seq("v"), dropConstraints = Seq("v_pos"))
    assert(tc.read().columns.toSeq == Seq("id"))
  }

  test("ALTER COLUMN TYPE widening: metadata-only, mixed-file reads + skipping stay exact (X68)") {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val t = IncrementalTable(spark, tmpDir("itab") + "/t-widen")
    t.append(spark.range(50)
      .selectExpr("CAST(id AS INT) AS k", "CAST(id AS FLOAT) AS f")
      .repartition(1), Nil, statsColumns = Seq("k"))
    t.alter(widen = Map("k" -> LongType, "f" -> DoubleType))
    assert(t.read().schema("k").dataType == LongType)
    assert(t.read().schema("f").dataType == DoubleType)
    // old int/float file reads up-converted; new file writes wide
    t.append(spark.range(100, 150)
      .selectExpr("CAST(id AS LONG) AS k", "CAST(id AS DOUBLE) AS f")
      .repartition(1), Nil, statsColumns = Seq("k"))
    assert(t.read().count() == 100)
    assert(t.read().filter($"k" < 50L).count() == 50)
    // exact values through the widening (floats exact in double)
    assert(t.read().filter($"k" === 7L).select($"f").as[Double].head() == 7.0)
    // the stats index prunes across MIXED int/long files — old Long
    // bounds stay valid verbatim
    assert(t.liveFiles().size == 2)
    assert(t.liveFilesWhere($"k" >= 100L).size == 1)
    assert(t.liveFilesWhere($"k" <= 49L).size == 1)
    // narrowing and lossy changes refuse
    intercept[IllegalArgumentException](t.alter(widen = Map("k" -> IntegerType)))
    intercept[IllegalArgumentException](t.alter(widen = Map("f" -> FloatType)))
    intercept[IllegalArgumentException](t.alter(widen = Map("k" -> DoubleType)))
    intercept[IllegalArgumentException](t.alter(widen = Map("nope" -> LongType)))
  }

  test("liveRowCount across a columnar checkpoint: stats-less file yields None, never an ANSI error (ADVICE r6)") {
    // A file written without statsColumns carries an EMPTY stats map in
    // the checkpoint rows; the metadata-count aggregation must surface
    // that as a NULL tally (→ fallback None), not an element_at
    // INVALID_ARRAY_INDEX under Spark's default ANSI mode.
    val t = new IncrementalTable(spark, tmpDir("itab") + "/t-ckpt-nostats",
      checkpointEvery = 2, parquetThreshold = 0)
    t.append(spark.range(10).toDF("id"), Nil, statsColumns = Seq("id")) // v0
    t.append(spark.range(10, 15).toDF("id"), Nil, statsColumns = Seq("id")) // v1
    t.append(spark.range(15, 18).toDF("id"), Nil) // v2 → columnar ckpt, no stats
    assert(t.commits().head.columnarCkpt) // really on the ckpt branch
    assert(t.liveRowCount().isEmpty) // falls back, does not throw
    assert(t.read().count() == 18) // the scan path the caller falls back to
    // once every live file carries a tally again, the fast path returns
    // repartition(1): a multi-partition write can emit an EMPTY file
    // whose footer carries no stats — legitimately tally-less, which
    // would keep the fast path off
    t.replaceWhere(spark.range(18).toDF("id").repartition(1), Nil, Map.empty,
      Map.empty, statsColumns = Seq("id")) // v3: full rewrite, stat-bearing
    t.append(spark.range(18, 20).toDF("id").repartition(1), Nil,
      statsColumns = Seq("id")) // v4 → ckpt
    assert(t.commits().head.version >= 4)
    assert(t.liveRowCount().contains(20L))
  }
}
