package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, reverse}

import graft.app.Pipeline
import graft.streaming.{CommitConsumer, DerivedStream, StreamIngest}
import graft.table.IncrementalTable

/** One benchmark workload. `setup` runs several times, each time into a
  * fresh directory, and the last set-up is the one measured; `warmUp`
  * runs one untimed op on it; `measure` runs closed-loop operations until
  * the deadline; `verify` checks the outputs outside the timed region. */
trait Workload {
  def setup(rep: Int): Unit
  def warmUp(): Unit
  def measure(deadlineNs: Long): Unit
  def verify(): Unit
}

object Workload {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seed of set-up `rep`: the run's seed decides every input. */
  def seedOf(seed: Long, rep: Int): Long = seed * 1000003L + rep

  /** `(filename, word, word_length)` rows of a frame. */
  def rowsOf(spark: SparkSession, df: DataFrame): Seq[(String, String, Long)] = {
    import spark.implicits._
    df.select($"filename", $"word", $"word_length".cast("long"))
      .as[(String, String, Long)].collect().toSeq
  }

  /** Name checks: no duplicate, no lost and no extra file. */
  def checkNames(ctx: Ctx, label: String, names: Seq[String], landed: Set[String]): Unit = {
    val expect = if (ctx.plant) landed + "planted-0000.txt" else landed
    val dups = names.size - names.distinct.size
    ctx.check(s"$label: no duplicate rows", dups == 0, s"($dups duplicates)")
    val lost = expect -- names
    ctx.check(s"$label: no lost rows", lost.isEmpty, s"(${lost.size} lost, e.g. ${lost.take(3)})")
    val extra = names.toSet -- expect
    ctx.check(s"$label: no extra rows", extra.isEmpty, s"(${extra.size} extra)")
  }

  /** Row checks shared by the pipeline workloads: the name checks, and
    * each file's word and length as landed (reversed for a backwards
    * table). */
  def checkRows(ctx: Ctx, label: String, got: Seq[(String, String, Long)],
      landed: Map[String, String], reversed: Boolean): Unit = {
    checkNames(ctx, label, got.map(_._1), landed.keySet)
    val wrong = got.count { case (f, w, n) =>
      landed.get(f).exists(e => w != (if (reversed) e.reverse else e) || n != e.length)
    }
    ctx.check(s"$label: words and lengths", wrong == 0, s"($wrong wrong)")
  }

  /** The listing, processed and backwards checks of a pipeline, and each
    * day's watermark against its file count. */
  def checkPipeline(ctx: Ctx, p: Pipeline, landed: Landed): Unit = {
    val days = landed.files.values.map(_._1).toSeq.distinct
    val names = days.flatMap(d => p.listingFor(d).select("filename").collect().map(_.getString(0)))
    checkNames(ctx, "listing", names, landed.files.keySet.toSet)
    checkRows(ctx, "processed", rowsOf(ctx.spark, p.processed.read()), landed.all, reversed = false)
    checkRows(ctx, "backwards", rowsOf(ctx.spark, p.backwards.read()), landed.all, reversed = true)
    for (d <- days; (t, n) <- Seq(p.listing -> "listing", p.processed -> "processed")) {
      val wm = t.latestMeta(s"watermark/$d").map(_.toLong)
      val files = landed.of(d).size.toLong + (if (ctx.plant) 1 else 0)
      ctx.check(s"$n watermark of $d equals its file count", wm.contains(files),
        s"(watermark $wm, files $files)")
    }
  }

  /** Bytes of the files `t` added in versions (from, to]. */
  def addedBytes(t: IncrementalTable, from: Long): Long =
    t.commits().filter(_.version > from).flatMap(_.add)
      .map(rel => Files.size(Paths.get(t.root, rel))).sum
}

/** Write-side layer samples of one op over a set of tables: commits,
  * files, bytes and the phases of each table's last write. */
final class WriteProbe(ctx: Ctx, tables: Seq[IncrementalTable]) {
  private var before: Seq[Long] = Nil
  private val phases = scala.collection.mutable.Map.empty[String, Double]
  private var files = 0.0

  def start(): Unit = if (ctx.tracer.on) {
    before = tables.map(_.latestVersion)
    phases.clear()
    files = 0.0
  }

  /** Record `t`'s last write, if the call just made committed one. Called
    * inside the call's span, the write also becomes a span that ends with
    * the call, since a write is the last step of every call timed here. */
  def wrote(t: IncrementalTable, versionBefore: Long, span: Boolean = true): Unit =
    if (ctx.tracer.on && t.latestVersion > versionBefore) t.lastWriteTiming.foreach { w =>
      if (span) ctx.tracer.ended("table", "IncrementalTable write", w.totalMs.toDouble)
      Seq("stage" -> w.stageMs, "harvest" -> w.harvestMs, "promote" -> w.promoteMs,
        "publish" -> w.publishMs).foreach { case (k, v) =>
        phases(k) = phases.getOrElse(k, 0.0) + v
      }
      files += w.files
    }

  def finish(inputBytes: Long): Unit = if (ctx.tracer.on) {
    val after = tables.map(_.latestVersion)
    ctx.sample("table.commits", "count", after.zip(before).map { case (a, b) => a - b }.sum.toDouble)
    Seq("stage", "harvest", "promote", "publish").foreach(k =>
      ctx.sample(s"table.${k}_ms", "ms", phases.getOrElse(k, 0.0)))
    ctx.sample("table.files_written", "count", files)
    ctx.sample("table.live_files", "count", tables.map(_.liveFileCount()).sum.toDouble)
    val out = tables.zip(before).map { case (t, b) => Workload.addedBytes(t, b) }.sum
    ctx.sample("table.bytes_per_input_byte", "ratio", out.toDouble / math.max(1L, inputBytes))
  }
}

/** `tick`: the reference's steady state. Pre-seeded days, then small
  * batches, each landing in the next day in turn and followed by a sensor
  * tick, `processed` and `backwards` for that day. The batch path never
  * compacts, so each tick leaves its day a few files larger and the next
  * tick on it slower; rotating over several days keeps that growth small
  * within a run, so the median tick does not depend on how many ticks a
  * run makes. */
final class TickWorkload(ctx: Ctx, days: Int, seedFiles: Int, tickFiles: Int) extends Workload {
  import Workload._
  private val tickDays = (0 until days).map(i => LocalDate.parse("2024-03-26").plusDays(i))
  private var landed: Landed = _
  private var p: Pipeline = _
  private var ticks = 0

  def setup(rep: Int): Unit = {
    val root = ctx.dir(s"tick-$rep")
    landed = new Landed(root.resolve("ingest"), seedOf(ctx.seed, rep))
    tickDays.foreach(d => landed.drop(seedFiles, d))
    p = new Pipeline(ctx.spark, root.resolve("ingest").toString, root.resolve("tables").toString)
    p.tickAndIngest(tickDays.last, scanAllDays = true)
    tickDays.foreach { d =>
      p.runProcessed(d.toString)
      p.runBackwards(d.toString)
    }
    ticks = 0
  }

  private def nextDay(): LocalDate = {
    ticks += 1
    tickDays(ticks % days)
  }

  /** One untimed tick on each day, so that every timed tick appends to a
    * day that has already taken a tick since its set-up. */
  def warmUp(): Unit = (1 to days).foreach { _ =>
    val day = nextDay()
    landed.drop(tickFiles, day)
    ctx.attempt("warm-up tick") {
      p.tickAndIngest(day)
      p.runProcessed(day.toString)
      p.runBackwards(day.toString)
    }
  }

  def measure(deadlineNs: Long): Unit = {
    val probe = new WriteProbe(ctx, Seq(p.listing, p.processed, p.backwards))
    while (System.nanoTime() < deadlineNs) {
      val day = nextDay()
      val d = day.toString
      val inBytes = landed.drop(tickFiles, day)
      val wmBefore = p.listing.latestMeta(s"watermark/$d").map(_.toLong).getOrElse(0L)
      probe.start()
      val t0 = System.nanoTime()
      val ok = ctx.attempt("tick") {
        ctx.tracer.op("bench", "tick") {
          val v0 = p.listing.latestVersion
          val found = timed("ingest.tick_ms")(ctx.tracer.span("ingest", "Pipeline.tickAndIngest") {
            val r = p.tickAndIngest(day)
            probe.wrote(p.listing, v0)
            r
          })
          require(found == Seq(d), s"tick detected days $found, expected $d")
          val v1 = p.processed.latestVersion
          timed("graph.processed_ms")(ctx.tracer.span("graph", "Pipeline.runProcessed") {
            p.runProcessed(d)
            probe.wrote(p.processed, v1)
          })
          val v2 = p.backwards.latestVersion
          timed("graph.backwards_ms")(ctx.tracer.span("graph", "Pipeline.runBackwards") {
            p.runBackwards(d)
            probe.wrote(p.backwards, v2)
          })
        }
      }
      if (ok.isDefined) ctx.figure("tick_p50_s", "s", secs(t0))
      if (ctx.tracer.on) {
        val wm = p.listing.latestMeta(s"watermark/$d").map(_.toLong).getOrElse(0L)
        val inDay = landed.of(d).size.toDouble
        ctx.sample("ingest.files_detected", "count", (wm - wmBefore).toDouble)
        ctx.sample("ingest.useful_ratio", "ratio", (wm - wmBefore) / inDay)
        ctx.sample("graph.backwards_useful_ratio", "ratio", tickFiles / inDay)
        probe.finish(inBytes)
      }
    }
  }

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (ctx.tracer.on) ctx.sample(name, "ms", secs(t0) * 1000)
    r
  }

  def verify(): Unit = checkPipeline(ctx, p, landed)
}

/** `backfill`: history already on disk. Each cycle materializes every day
  * into fresh tables: a sensor tick over all days, then `processed` and
  * `backwards` per day. Small days take the driver-path branches of the
  * sensor and of the word read; the big day exceeds `maxDriverPaths` and
  * takes the distributed branches. */
final class BackfillWorkload(ctx: Ctx, smallDays: Int, smallFiles: Int,
    bigFiles: Int, maxDriverPaths: Int) extends Workload {
  import Workload._
  require(smallFiles <= maxDriverPaths && bigFiles > maxDriverPaths)
  private val firstDay = LocalDate.parse("2024-03-20")
  private var landed: Landed = _
  private var ingest: Path = _
  private var last: Pipeline = _
  private var cycle = 0

  def setup(rep: Int): Unit = {
    val root = ctx.dir(s"backfill-$rep")
    ingest = root.resolve("ingest")
    landed = new Landed(ingest, seedOf(ctx.seed, rep))
    (0 until smallDays).foreach(i => landed.drop(smallFiles, firstDay.plusDays(i)))
    landed.drop(bigFiles, firstDay.plusDays(smallDays))
  }

  def warmUp(): Unit = cycles(0L, record = false)

  def measure(deadlineNs: Long): Unit = cycles(deadlineNs, record = true)

  private def cycles(deadlineNs: Long, record: Boolean): Unit = {
    val days = landed.files.values.map(_._1).toSeq.distinct.sorted
    var first = true
    while (first || System.nanoTime() < deadlineNs) {
      first = false
      cycle += 1
      val p = new Pipeline(ctx.spark, ingest.toString,
        ctx.dir(s"backfill-tables-$cycle").toString, maxDriverPaths = maxDriverPaths)
      val probe = new WriteProbe(ctx, Seq(p.listing, p.processed, p.backwards))
      probe.start()
      var ingestMs, processedMs, backwardsMs = 0.0
      def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; secs(t0) * 1000 }
      val t0 = System.nanoTime()
      val ok = ctx.attempt("backfill cycle") {
        ctx.tracer.op("bench", "backfill") {
          ingestMs = timed {
            val v = p.listing.latestVersion
            val got = ctx.tracer.span("ingest", "Pipeline.tickAndIngest") {
              val r = p.tickAndIngest(firstDay.plusDays(smallDays), scanAllDays = true)
              probe.wrote(p.listing, v)
              r
            }
            require(got.sorted == days, s"sensor found days $got, expected $days")
          }
          days.foreach { d =>
            val v1 = p.processed.latestVersion
            processedMs += timed(ctx.tracer.span("graph", "Pipeline.runProcessed") {
              p.runProcessed(d)
              probe.wrote(p.processed, v1)
            })
            val v2 = p.backwards.latestVersion
            backwardsMs += timed(ctx.tracer.span("graph", "Pipeline.runBackwards") {
              p.runBackwards(d)
              probe.wrote(p.backwards, v2)
            })
          }
        }
      }
      val s = secs(t0)
      if (ok.isDefined) last = p
      if (ok.isDefined && record) {
        ctx.figure("backfill_files_per_s", "1/s", landed.files.size / s)
        ctx.figure("backfill_cycle_s", "s", s)
      }
      if (ctx.tracer.on) {
        ctx.sample("ingest.tick_ms", "ms", ingestMs)
        ctx.sample("graph.processed_ms", "ms", processedMs)
        ctx.sample("graph.backwards_ms", "ms", backwardsMs)
        // fresh tables: every file the sensor scans is new, and every row
        // a day-replace writes is new
        val detected = days.map(d =>
          p.listing.latestMeta(s"watermark/$d").map(_.toDouble).getOrElse(0.0)).sum
        ctx.sample("ingest.files_detected", "count", detected)
        ctx.sample("ingest.useful_ratio", "ratio", detected / landed.files.size)
        ctx.sample("graph.backwards_useful_ratio", "ratio",
          p.backwards.read().count().toDouble / landed.files.size)
        probe.finish(landed.bytes)
      }
    }
  }

  def verify(): Unit =
    if (last == null) ctx.check("a backfill cycle completed", ok = false)
    else checkPipeline(ctx, last, landed)
}

/** `stream-read`: reads beside writes. Each round lands files across a
  * rotating pair of days and drains them with an AvailableNow
  * `StreamIngest` chained to a `DerivedStream` backwards hop; the reads
  * that follow (partition, time travel, CDC and a filtered `graft`
  * source read) each open a fresh table handle, as an independent reader
  * would. */
final class StreamReadWorkload(ctx: Ctx, seedFiles: Int, roundFiles: Int,
    readsPerRound: Int) extends Workload {
  import Workload._
  private val days = (0 until 4).map(i => LocalDate.parse("2024-03-22").plusDays(i))
  private val parts = Seq("year", "month", "day", "word_length")
  private var landed: Landed = _
  private var ingestTable, hopTable: String = _
  private var up, down: IncrementalTable = _
  private var stream: StreamIngest = _
  private var hop: DerivedStream = _
  private var probe: WriteProbe = _
  @volatile private var hopMs = 0.0
  @volatile private var hopCommits = 0
  // latest version after each round -> files landed by then
  private val versions = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
  private var rounds = 0
  private val rnd = new scala.util.Random(ctx.seed)
  private val kinds = Seq("partition", "read_at", "changes", "format")
  private val kindMs = kinds.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap

  def setup(rep: Int): Unit = {
    val root = ctx.dir(s"stream-$rep")
    ingestTable = root.resolve("tables/ingest").toString
    hopTable = root.resolve("tables/backwards").toString
    landed = new Landed(root.resolve("ingest"), seedOf(ctx.seed, rep))
    days.foreach(d => landed.drop(seedFiles / days.size, d))
    up = IncrementalTable(ctx.spark, ingestTable)
    down = IncrementalTable(ctx.spark, hopTable)
    hop = new DerivedStream(up, down, parts,
      df => df.withColumn("word", reverse(col("word"))), name = "ingest")
    // the hop, timed from outside: it runs on the stream's thread
    val timedHop = new CommitConsumer {
      def sourceVersion: Long = hop.sourceVersion
      def drain(): Int = ctx.tracer.span("streaming", "DerivedStream.drain") {
        val t0 = System.nanoTime()
        val v = down.latestVersion
        val n = hop.drain()
        if (probe != null) probe.wrote(down, v)
        hopMs += secs(t0) * 1000
        hopCommits += n
        n
      }
    }
    stream = new StreamIngest(ctx.spark, root.resolve("ingest").toString, up,
      root.resolve("checkpoint").toString,
      chained = Seq(timedHop))
    versions.clear()
    round()
  }

  /** One untimed round and its reads: the set-up ran no reader, and the
    * reads of the first round after it run slower than later ones. */
  def warmUp(): Unit = roundAndReads(timed = false)

  /** One AvailableNow drain of everything landed, both hops included. */
  private def round(): Unit = {
    val q = ctx.tracer.span("streaming", "StreamIngest.start")(stream.start())
    ctx.tracer.bindRun(q.runId.toString)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    versions += (up.latestVersion -> landed.files.size)
  }

  def measure(deadlineNs: Long): Unit = {
    probe = new WriteProbe(ctx, Seq(up, down))
    while (System.nanoTime() < deadlineNs) roundAndReads(timed = true)
    // one read of each kind: the sum of the kinds' medians
    if (kindMs.values.forall(_.nonEmpty))
      ctx.figure("read_set_s", "s", kinds.map(k => Stats.median(kindMs(k).toSeq)).sum / 1000)
  }

  /** Land a round's files on the next pair of days, drain them, then read. */
  private def roundAndReads(timed: Boolean): Unit = {
    rounds += 1
    val before = up.latestVersion
    val landedBefore = landed.files.size
    val inBytes = landed.drop(roundFiles / 2, days(rounds % days.size)) +
      landed.drop(roundFiles - roundFiles / 2, days((rounds + 1) % days.size))
    if (probe != null) probe.start()
    hopMs = 0.0
    hopCommits = 0
    val t0 = System.nanoTime()
    ctx.tracer.op("bench", "round") {
      val ok = ctx.attempt("stream round")(ctx.tracer.span("streaming", "round")(round()))
      if (ok.isDefined && timed) ctx.figure("batch_p50_s", "s", secs(t0))
      // the ingest batch's write runs inside the stream's addBatch, and a
      // compaction may follow it, so it gets no span of its own
      if (probe != null) probe.wrote(up, before, span = false)
      (0 until readsPerRound).foreach(i =>
        read(i % 4, before, landed.files.size - landedBefore, timed))
    }
    if (timed) ctx.figure("round_s", "s", secs(t0))
    if (ctx.tracer.on) {
      ctx.sample("streaming.hop_drain_ms", "ms", hopMs)
      ctx.sample("streaming.hop_commits", "count", hopCommits.toDouble)
      probe.finish(inBytes)
    }
  }

  private def countBy(words: Iterable[String], len: Int): Long =
    words.count(_.length == len).toLong

  /** One read between rounds, timed from the handle's opening to the
    * result; the result is checked against the landed files. The CDC read
    * covers the last round: versions after `roundStart`, `roundFiles`
    * inserts. */
  private def read(kind: Int, roundStart: Long, roundFiles: Int, timed: Boolean): Unit = {
    val len = Seq(4, 6, 8)(rnd.nextInt(3))
    val words = landed.files.values.map(_._2)
    val t0 = System.nanoTime()
    def open(root: String): IncrementalTable = timedCall("table.open_ms", "table", "open") {
      val t = IncrementalTable(ctx.spark, root)
      t.latestVersion
      t
    }
    def timedCall[T](name: String, layer: String, call: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = ctx.tracer.span(layer, call)(f)
      if (timed && ctx.tracer.on) ctx.sample(name, "ms", secs(t0) * 1000)
      r
    }
    val res: Option[(Long, Long, String)] = ctx.attempt(s"read $kind") { kind match {
      case 0 =>
        val t = open(ingestTable)
        val n = timedCall("table.read_partition_ms", "table", "IncrementalTable.read")(
          t.read(Map("word_length" -> len.toString)).count())
        (n, countBy(words, len), s"partition word_length=$len")
      case 1 =>
        // the set-up's version, the same snapshot in every round: a seeded
        // pick among the last three versions read in 140-450 ms depending
        // on the pick and the round, and swung the kind's median 2x
        // between runs
        val (v, files) = versions.head
        val t = open(ingestTable)
        val n = timedCall("table.read_at_ms", "table", "IncrementalTable.readAt")(t.readAt(v).count())
        (n, files.toLong, s"readAt($v)")
      case 2 =>
        val t = open(ingestTable)
        val to = t.latestVersion
        val n = timedCall("table.changes_ms", "table", "IncrementalTable.changes")(
          t.changes(roundStart + 1, to).filter(col("_change_type") === "insert").count())
        (n, roundFiles.toLong, s"changes(${roundStart + 1}, $to) inserts")
      case _ =>
        val n = timedCall("sources.format_read_ms", "sources", "format(graft).load")(
          ctx.spark.read.format("graft").load(hopTable)
            .filter(col("word_length") === len).count())
        (n, countBy(words, len), s"graft source word_length=$len")
    } }
    val ms = secs(t0) * 1000
    res.foreach { case (got, want, what) =>
      if (timed) {
        ctx.figure("read_ms", "ms", ms)
        kindMs(kinds(kind)) += ms
      }
      val w = if (ctx.plant) want + 1 else want
      ctx.check(s"read $what", got == w, s"(got $got, expected $w)")
    }
  }

  def verify(): Unit = {
    up.refresh()
    down.refresh()
    checkRows(ctx, "ingest", rowsOf(ctx.spark, up.read()), landed.all, reversed = false)
    checkRows(ctx, "backwards hop", rowsOf(ctx.spark, down.read()), landed.all, reversed = true)
    val dataVersion = up.commits().filter(CommitConsumer.isDataCommit).lastOption.map(_.version)
    ctx.check("hop cursor equals the last ingest data commit",
      dataVersion.contains(hop.sourceVersion) && !ctx.plant,
      s"(cursor ${hop.sourceVersion}, last data commit $dataVersion)")
  }
}

/** `query-mix`: rows of the driver query set that reach the operator
  * packages. The set-up pass writes each row's result for the DuckDB
  * oracle check; timed passes run every row to the `noop` sink, in a
  * seeded order. */
final class QueryMixWorkload(ctx: Ctx, sfDir: String, rows: Seq[String],
    outDir: Path) extends Workload {
  import Workload._
  private val queries = graft.SparkEntry.queries
  private val times = rows.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap

  def setup(rep: Int): Unit = {
    rows.foreach { r =>
      ctx.attempt(s"result $r") {
        queries(r)(ctx.spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(r).toString)
      }
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.obj(rows.map(r => r -> Json.str(oracle(r)))))
  }

  def measure(deadlineNs: Long): Unit = {
    val order = new scala.util.Random(ctx.seed).shuffle(rows)
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadlineNs) {
      passes += 1
      ctx.tracer.op("bench", "pass") {
        order.foreach { r =>
          val t0 = System.nanoTime()
          val ok = ctx.attempt(r)(ctx.tracer.span("operators", r)(
            queries(r)(ctx.spark, sfDir).write.format("noop").mode("overwrite").save()))
          if (ok.isDefined) {
            times(r) += secs(t0)
            ctx.figure(s"query.${r}_s", "s", secs(t0))
          }
        }
      }
    }
    rows.foreach(r => times(r).foreach(s => ctx.sample(s"query.${r}_ms", "ms", s * 1000)))
    if (times.values.forall(_.nonEmpty))
      ctx.figure("query_mix_s", "s", rows.map(r => Stats.median(times(r).toSeq)).sum)
  }

  /** One untimed pass to the `noop` sink: after the cold set-up pass the
    * rows still run well above their steady time. */
  def warmUp(): Unit = rows.foreach { r =>
    ctx.attempt(s"warm-up $r")(queries(r)(ctx.spark, sfDir).write.format("noop").mode("overwrite").save())
  }

  /** The oracle comparison runs after the JVM exits (`run.py`). */
  def verify(): Unit = ()
}
