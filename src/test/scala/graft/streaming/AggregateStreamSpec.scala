package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.IncrementalTable

/** Incremental view maintenance ([[AggregateStream]]): after every
  * drain, the maintained view must EQUAL the batch recompute of the
  * whole upstream — across appends, crash replays, upstream partition
  * refreshes, and compaction. */
class AggregateStreamSpec extends SparkSpec {
  import spark.implicits._

  private def mkUp(dir: String): IncrementalTable =
    IncrementalTable(spark, dir + "/up/v1")

  private val aggs = Seq(
    IncAgg.countAll("n"),
    IncAgg.sumOf(col("v"), "sum_v"),
    IncAgg.minOf(col("v"), "min_v"),
    IncAgg.maxOf(col("v"), "max_v"))

  private def batchView(up: IncrementalTable): DataFrame =
    up.read().groupBy($"day", $"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"),
        min($"v").as("min_v"), max($"v").as("max_v"))

  private def assertParity(up: IncrementalTable, down: IncrementalTable): Unit = {
    val got = down.read().select($"day", $"k", $"n", $"sum_v", $"min_v", $"max_v")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    val want = batchView(up)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(down.read().count() == want.size) // no duplicate group rows
  }

  private def rows(day: String, ks: (String, Long)*): DataFrame =
    ks.map { case (k, v) => (day, k, v) }.toDF("day", "k", "v")

  test("append deltas fold into the view; equals batch recompute at every step") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    val s = new AggregateStream(up, down, Seq("day", "k"), aggs,
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))

    up.append(rows("d1", "a" -> 5L, "a" -> 3L, "b" -> 7L), Seq("day"))
    assert(s.drain() == 1)
    assertParity(up, down)

    // second batch: existing keys combine (count/sum/min/max), new key inserts
    up.append(rows("d1", "a" -> 10L, "c" -> 1L), Seq("day"))
    up.append(rows("d2", "a" -> 2L), Seq("day")) // new partition
    assert(s.drain() == 2)
    assertParity(up, down)
    val a1 = down.read().filter($"day" === "d1" && $"k" === "a")
      .select($"n", $"sum_v", $"min_v", $"max_v")
      .as[(Long, Long, Long, Long)].head()
    assert(a1 == ((3L, 18L, 3L, 10L)))
  }

  test("crash replay is a no-op: re-drain with a fresh handle double-counts nothing") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    val s = new AggregateStream(up, down, Seq("day", "k"), aggs,
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 5L), Seq("day"))
    up.append(rows("d1", "a" -> 7L), Seq("day"))
    s.drain()
    // crash-and-resume: a NEW instance over NEW table handles must see
    // the cursor in the downstream log and apply nothing
    val up2 = IncrementalTable(spark, up.root)
    val down2 = IncrementalTable(spark, down.root)
    val s2 = new AggregateStream(up2, down2, Seq("day", "k"), aggs,
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    assert(s2.drain() == 0)
    assertParity(up2, down2)

    // a replayed MERGE batch (same appId+batchId) is also rejected by
    // the table itself, even without the cursor: simulate by forcing a
    // stale cursor meta — the batch guard still short-circuits
    down2.commitMeta(Map("src_version/ev" -> "0"))
    val s3 = new AggregateStream(up2, down2, Seq("day", "k"), aggs,
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    assert(s3.drain() == 1) // walks commit 1 again...
    assertParity(up2, down2) // ...but the view is unchanged
  }

  test("upstream partition refresh: scoped recompute converges, other scopes untouched") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    val s = new AggregateStream(up, down, Seq("day", "k"), aggs,
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 5L, "b" -> 3L), Seq("day"))
    up.append(rows("d2", "x" -> 9L), Seq("day"))
    s.drain()
    val d2FilesBefore = down.liveFiles(Map("day" -> "d2")).toSet

    // refresh d1 with DIFFERENT rows (drops b, changes a): deltas
    // cannot express this — the scoped recompute path must
    val f = Map("day" -> "d1")
    up.replaceWhere(rows("d1", "a" -> 100L), Seq("day"), f, partitionFilter = f)
    assert(s.drain() == 1)
    assertParity(up, down)
    assert(down.read().filter($"k" === "b").count() == 0) // retraction applied
    // d2's view files were not rewritten by d1's refresh
    assert(down.liveFiles(Map("day" -> "d2")).toSet == d2FilesBefore)
  }

  test("avg/stddev derived monoids: maintained values equal stddev_samp/avg at every step, through scoped retraction") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    val s = new AggregateStream(up, down, Seq("day", "k"),
      Seq(IncAgg.avgOf(col("v"), "avg_st"), IncAgg.stddevOf(col("v"), "std_st")),
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))

    def check(): Unit = {
      val got = down.read().select($"day", $"k",
        IncAgg.avgValue($"avg_st").as("a"), IncAgg.stddevValue($"std_st").as("sd"))
        .as[(String, String, Option[Double], Option[Double])].collect().toSet
      val want = up.read().groupBy($"day", $"k")
        .agg(avg($"v").as("a"), stddev_samp($"v").as("sd"))
        .as[(String, String, Option[Double], Option[Double])].collect().toSet
      // exact decimal state → the only rounding is the final double
      // formula; against Spark's own Welford-based stddev_samp allow 1e-9
      def close(x: Option[Double], y: Option[Double]) = (x, y) match {
        case (None, None) => true
        case (Some(a), Some(b)) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        case _ => false
      }
      assert(got.size == want.size)
      got.toSeq.sortBy(r => (r._1, r._2)).zip(want.toSeq.sortBy(r => (r._1, r._2)))
        .foreach { case ((d1, k1, a1, s1), (d2, k2, a2, s2)) =>
          assert(d1 == d2 && k1 == k2, s"group mismatch: ($d1,$k1) vs ($d2,$k2)")
          assert(close(a1, a2), s"avg($d1,$k1): $a1 vs $a2")
          assert(close(s1, s2), s"stddev($d1,$k1): $s1 vs $s2")
        }
    }

    up.append(rows("d1", "a" -> 5L, "a" -> 3L, "b" -> 7L), Seq("day"))
    s.drain(); check()
    // single-row group: stddev must be null (n=1), avg defined
    assert(down.read().filter($"k" === "b")
      .select(IncAgg.stddevValue($"std_st")).head().isNullAt(0))

    // states MERGE across commits (not recompute): a gains rows in two
    // more drains — avg/stddev reflect all five values
    up.append(rows("d1", "a" -> 10L, "c" -> 1L), Seq("day"))
    s.drain(); check()
    up.append(rows("d1", "a" -> 2L, "a" -> 8L), Seq("day"))
    up.append(rows("d2", "z" -> 4L, "z" -> 6L), Seq("day"))
    s.drain(); check()

    // partition-granular retraction: refresh d1 with different rows —
    // the scoped recompute rebuilds d1's states, d2's files untouched
    val d2Before = down.liveFiles(Map("day" -> "d2")).toSet
    val f = Map("day" -> "d1")
    up.replaceWhere(rows("d1", "a" -> 100L, "a" -> 50L), Seq("day"), f,
      partitionFilter = f)
    assert(s.drain() == 1)
    check()
    assert(down.liveFiles(Map("day" -> "d2")).toSet == d2Before)
  }

  test("non-scopable keys fall back to full recompute on refresh") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    // group keys do NOT include the day scope: per-k totals across days
    val s = new AggregateStream(up, down, Seq("k"),
      Seq(IncAgg.countAll("n"), IncAgg.sumOf(col("v"), "sum_v")),
      name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 5L, "b" -> 3L), Seq("day"))
    up.append(rows("d2", "a" -> 2L), Seq("day"))
    s.drain()
    val f = Map("day" -> "d1")
    up.replaceWhere(rows("d1", "b" -> 1L), Seq("day"), f, partitionFilter = f)
    s.drain()
    val got = down.read().select($"k", $"n", $"sum_v")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 2L), ("b", 1L, 1L)))
  }

  test("chained off StreamIngest: the view tracks the ingest through batches and auto-compaction") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(tmpDir("aggchain"))
    val ingest = root.resolve("files_to_ingest")
    val processed = IncrementalTable(spark, root.resolve("t/processed/v1").toString)
    val view = IncrementalTable(spark, root.resolve("t/wordlens/v1").toString)
    val ivm = new AggregateStream(processed, view,
      groupKeys = Seq("year", "month", "day", "word_length"),
      aggs = Seq(IncAgg.countAll("n_words")),
      partitionBy = Seq("year", "month", "day"), name = "processed")
    def copyDay(day: String, limit: Int): Unit = {
      val src = graft.SparkSpec.ingestFixture.resolve(s"day=$day")
      val d = ingest.resolve(s"day=$day"); Files.createDirectories(d)
      Files.list(src).iterator().asScala.filter(_.toString.endsWith(".txt"))
        .toSeq.sortBy(_.toString).take(limit)
        .foreach(f => Files.copy(f, d.resolve(f.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING))
    }
    def check(): Unit = {
      val got = view.read()
        .select($"year", $"month", $"day", $"word_length", $"n_words")
        .as[(String, String, String, Long, Long)].collect().toSet
      val want = processed.read()
        .groupBy($"year", $"month", $"day", $"word_length")
        .agg(count(lit(1)).as("n_words"))
        .as[(String, String, String, Long, Long)].collect().toSet
      assert(got == want)
    }
    // low compaction ceiling so ingest triggers replace commits the
    // aggregate hop must recompute through (scoped retraction path)
    copyDay("2024-03-26", 6)
    val s1 = new StreamIngest(spark, ingest.toString, processed,
      root.resolve("ckpt").toString, chained = Seq(ivm),
      autoCompactMaxFiles = Some(2))
    s1.start(availableNow = true, maxFilesPerTrigger = Some(2)).awaitTermination()
    check()
    // second wave, fresh StreamIngest instance (kill-and-resume)
    copyDay("2024-03-26", 12); copyDay("2024-03-27", 2)
    val s2 = new StreamIngest(spark, ingest.toString, processed,
      root.resolve("ckpt").toString, chained = Seq(ivm),
      autoCompactMaxFiles = Some(2))
    s2.start(availableNow = true, maxFilesPerTrigger = Some(2)).awaitTermination()
    check()
  }

  test("HLL sketch state: approximate distinct maintained across drains and refresh") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    val s = new AggregateStream(up, down, Seq("day"),
      Seq(IncAgg.countAll("n"), IncAgg.approxDistinct(col("k"), "k_sketch")),
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 1L, "b" -> 2L, "a" -> 3L), Seq("day"))
    s.drain()
    up.append(rows("d1", "b" -> 4L, "c" -> 5L), Seq("day")) // b dup, c new
    up.append(rows("d2", "a" -> 6L), Seq("day"))
    s.drain()
    def estimates = down.read()
      .select($"day", hll_sketch_estimate($"k_sketch").as("est"))
      .as[(String, Long)].collect().toMap
    // sparse-mode HLL is exact at these cardinalities
    assert(estimates == Map("d1" -> 3L, "d2" -> 1L))
    // refresh d1 dropping c entirely: the recompute path must rebuild
    // the sketch (unions can't retract)
    val f = Map("day" -> "d1")
    up.replaceWhere(rows("d1", "a" -> 9L), Seq("day"), f, partitionFilter = f)
    s.drain()
    assert(estimates == Map("d1" -> 1L, "d2" -> 1L))
  }

  test("approx top-k sketch state: maintained frequent items match exact counts") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    val s = new AggregateStream(up, down, Seq("day"),
      Seq(IncAgg.approxTopK(col("k"), "top_sketch")),
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 1L, "a" -> 2L, "b" -> 3L), Seq("day"))
    s.drain()
    up.append(rows("d1", "a" -> 4L, "c" -> 5L, "c" -> 6L, "c" -> 7L), Seq("day"))
    s.drain()
    // distinct items < maxItemsTracked => the sketch is exact
    val top = down.read()
      .select(expr("approx_top_k_estimate(top_sketch, 2)").as("t"))
      .selectExpr("inline(t)")
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("c", 3L), ("a", 3L)) || top == Seq(("a", 3L), ("c", 3L)))
  }

  test("empty delta batch advances the cursor without touching the view") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    // prepare filters out everything in the second batch
    val s = new AggregateStream(up, down, Seq("day", "k"), aggs,
      prepare = df => df.filter(col("v") < 100L),
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 5L), Seq("day"))
    s.drain()
    val before = down.read().collect().toSet
    up.append(rows("d1", "z" -> 500L), Seq("day"))
    assert(s.drain() == 1)
    assert(s.sourceVersion == 1L) // cursor advanced past the no-op batch
    assert(down.read().collect().toSet == before)
  }

  test("dv delete: retractable aggs subtract; emptied group leaves the view (stateRows path)") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    // count + avg: every agg retractable, countAll supplies stateRows
    val s = new AggregateStream(up, down, Seq("day", "k"),
      Seq(IncAgg.countAll("n"), IncAgg.avgOf(col("v"), "avg_st")),
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 5L, "a" -> 3L, "b" -> 7L, "b" -> 9L), Seq("day"))
    s.drain()
    val versionsBefore = down.latestVersion

    // delete one of a's rows and ALL of b's: a subtracts, b vanishes
    up.deleteVectorized(col("k") === "b" || (col("k") === "a" && col("v") === 3L))
    assert(s.drain() == 1)
    val got = down.read().select($"day", $"k", $"n",
        IncAgg.avgValue($"avg_st").as("avg_v"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(("d1", "a", 1L, 5.0))) // b's group is GONE
    // maintenance was ONE commit, not a rebuild storm
    assert(down.latestVersion == versionsBefore + 1)

    // crash replay: a fresh handle re-draining applies nothing
    val s2 = new AggregateStream(up, down, Seq("day", "k"),
      Seq(IncAgg.countAll("n"), IncAgg.avgOf(col("v"), "avg_st")),
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    assert(s2.drain() == 0)
    assert(down.read().count() == 1)
  }

  test("dv delete without a total-row tracker: survivor probe drops all-deleted groups") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    // avg/stddev only: retractable but no stateRows -> upstream probe
    val s = new AggregateStream(up, down, Seq("day", "k"),
      Seq(IncAgg.avgOf(col("v"), "avg_st"), IncAgg.stddevOf(col("v"), "std_st")),
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 5L, "a" -> 3L, "a" -> 4L, "b" -> 7L), Seq("day"))
    s.drain()
    up.deleteVectorized(col("k") === "b" || (col("k") === "a" && col("v") === 3L))
    assert(s.drain() == 1)
    val got = down.read().select($"day", $"k",
        IncAgg.avgValue($"avg_st").as("avg_v"),
        IncAgg.stddevValue($"std_st").as("std_v"))
      .as[(String, String, Double, Double)].collect().toSet
    // a: rows 5,4 remain -> avg 4.5, stddev_samp sqrt(0.5); b gone
    val expectStd = math.sqrt(((5.0*5+4.0*4) - 9.0*9/2) / 1.0)
    assert(got == Set(("d1", "a", 4.5, expectStd)))
  }

  test("dv delete with non-retractable aggs: key-scoped recompute, untouched groups' rows intact") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    val s = new AggregateStream(up, down, Seq("day", "k"), aggs, // min/max present
      partitionBy = Seq("day"), name = "ev", replayScope = Seq("day"))
    up.append(rows("d1", "a" -> 5L, "a" -> 3L, "b" -> 7L), Seq("day"))
    up.append(rows("d2", "c" -> 2L), Seq("day"))
    s.drain()
    // delete a's max row: min/max must be RE-derived (subtraction can't)
    up.deleteVectorized(col("k") === "a" && col("v") === 5L)
    assert(s.drain() == 1)
    assertParity(up, down)
  }

  test("narrow rewrite: sketch state rebuilt ONLY for touched groups, scan pruned by the stats index") {
    val dir = tmpDir("aggstream")
    val up = mkUp(dir)
    val down = IncrementalTable(spark, dir + "/view/v1")
    // upstream clustered by key range: partition p=0..3 holds keys
    // [100p, 100p+100), one file each, stats on k
    def slab(p: Int, ks: Range, tag: Long): DataFrame =
      ks.map(k => (p.toString, k.toLong, k * 10L + tag)).toDF("p", "k", "v")
        .repartition(1)
    (0 until 4).foreach { p =>
      up.append(slab(p, 100 * p until 100 * p + 100, 0L), Seq("p"),
        statsColumns = Seq("k"))
    }
    // group key k only (p is NOT a group key -> scoped replace can't
    // apply; before this path existed the fallback recomputed the
    // whole view); HLL sketch makes the groups non-retractable
    val s = new AggregateStream(up, down, Seq("k"),
      Seq(IncAgg.countAll("n"), IncAgg.approxDistinct(col("v"), "v_sketch")),
      name = "ev", replayScope = Seq("day"))
    assert(s.drain() == 4)
    assert(down.read().count() == 400)

    // rewrite ONE partition: keys 200-249 survive with new v, 250-299
    // vanish (their view groups must leave)
    val f = Map("p" -> "2")
    up.replaceWhere(slab(2, 200 until 250, 7L), Seq("p"), f,
      partitionFilter = f, statsColumns = Seq("k"))
    assert(s.drain() == 1)

    // oracle: the view equals the batch recompute, sketches included
    val got = down.read().select($"k", $"n",
        hll_sketch_estimate($"v_sketch").as("est"))
      .as[(Long, Long, Long)].collect().toSet
    val want = up.read().groupBy($"k")
      .agg(count(lit(1)).as("n"),
        hll_sketch_estimate(hll_sketch_agg($"v")).as("est"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(down.read().count() == 350) // 250-299 left the view
    // and the rebuild's upstream re-read was PRUNED: the touched keys'
    // envelope [200,299] admits only p=2's files (old file at the
    // pre-commit version is gone; the new one matches), a strict
    // subset of the 4 live files
    val (scanned, live) = s.lastRewriteScan.get
    assert(live == 4L, s"live=$live")
    assert(scanned < live, s"scan not pruned: $scanned of $live files")
  }
}
