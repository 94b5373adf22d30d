package graft.app

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.table.IncrementalTable

/** End-to-end pipeline parity on a copy of the vendored fixture corpus
  * (test resource `files_to_ingest/`: 51 files day=2024-03-26, 2 files
  * day=2024-03-27, 4 seq-prefixed files day=2024-03-29; FIXTURES.md §A). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureSrc = SparkSpec.ingestFixture

  private def copyFixture(dst: Path, days: Set[String] = Set.empty,
      limitPerDay: Int = Int.MaxValue): Unit = {
    Files.walk(fixtureSrc).iterator().asScala
      .filter(p => p.toString.endsWith(".txt"))
      .toSeq.sortBy(_.toString)
      .groupBy(_.getParent.getFileName.toString)
      .foreach { case (dayDir, files) =>
        val day = dayDir.stripPrefix("day=")
        if (days.isEmpty || days.contains(day)) {
          val d = dst.resolve(dayDir)
          Files.createDirectories(d)
          files.take(limitPerDay).foreach(f =>
            Files.copy(f, d.resolve(f.getFileName.toString),
              StandardCopyOption.REPLACE_EXISTING))
        }
      }
  }

  private def expectedWords(ingest: Path, day: String): Map[String, String] = {
    val d = ingest.resolve(s"day=$day")
    if (!Files.isDirectory(d)) Map.empty
    else Files.list(d).iterator().asScala
      .filter(_.toString.endsWith(".txt"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toMap
  }

  test("backfill materializes the full reference corpus with parity layout") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest)
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)

    val days = pipe.tickAndIngest(scanAllDays = true)
    assert(days.sorted == Seq("2024-03-26", "2024-03-27", "2024-03-29"))
    days.foreach(pipe.runAll(_))

    val processed = pipe.processed.read()
    assert(processed.count() == 57)
    // contents match the files exactly (P3-P5)
    val got = processed.select($"filename", $"word", $"word_length")
      .as[(String, String, Long)].collect()
    val expected = days.flatMap(d => expectedWords(ingest, d)).toMap
    got.foreach { case (f, w, l) =>
      assert(expected(f) == w, s"word mismatch for $f")
      assert(l == w.length)
    }
    // physical layout parity: year=2024/month=03/day=26/word_length=N
    val d26 = root.resolve("tables/processed/v1/year=2024/month=03/day=26")
    assert(Files.isDirectory(d26))
    assert(Files.list(d26).iterator().asScala.exists(
      _.getFileName.toString.startsWith("word_length=")))

    // backwards: reversed words, partitioned by year/month/day only
    pipe.backwards.read().select($"filename", $"word").as[(String, String)]
      .collect().foreach { case (f, w) => assert(w == expected(f).reverse) }
    assert(Files.isDirectory(root.resolve("tables/backwards/v1/year=2024/month=03/day=26")))
    assert(!Files.list(root.resolve("tables/backwards/v1/year=2024/month=03/day=26"))
      .iterator().asScala.exists(_.getFileName.toString.startsWith("word_length=")))
  }

  test("incremental ticks: new files only, no dup no loss, watermark advances") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 10)
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    val day = "2024-03-26"

    pipe.tickAndIngest(scanAllDays = true)
    pipe.runAll(day)
    assert(pipe.processed.read().count() == 10)
    assert(pipe.processed.latestMeta(s"watermark/$day").contains("10"))

    // late arrivals: 5 more files drop in
    copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 15)
    pipe.tickAndIngest(scanAllDays = true)
    pipe.runAll(day)
    val processed = pipe.processed.read()
    assert(processed.count() == 15)
    assert(processed.select($"filename").distinct().count() == 15) // no dup
    assert(pipe.processed.latestMeta(s"watermark/$day").contains("15"))

    // idle tick: nothing new -> no data commit, watermark stable
    val before = pipe.processed.latestVersion
    pipe.tickAndIngest(scanAllDays = true)
    pipe.runProcessed(day)
    assert(pipe.processed.read().count() == 15)

    // backwards rerun after growth does NOT duplicate (fix of readme.md:13)
    pipe.runBackwards(day)
    pipe.runBackwards(day)
    assert(pipe.backwards.read().count() == 15)
  }

  test("a steady-state tick through backwards runs no Spark job") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 10)
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    val day = "2024-03-26"
    val today = java.time.LocalDate.parse(day)
    assert(pipe.tickAndIngest(today) == Seq(day))
    pipe.runAll(day)

    copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 15)
    val (found, tickJobs) = jobsDuring(pipe.tickAndIngest(today))
    val (_, processedJobs) = jobsDuring(pipe.runProcessed(day))
    val (_, backwardsJobs) = jobsDuring(pipe.runBackwards(day))
    assert(found == Seq(day))
    // the listing append and the `processed` append stage their local
    // rows on the driver, and `backwards` reads the small `processed`
    // day on the driver and stages its reversal there too
    assert((tickJobs, processedJobs, backwardsJobs) == (0, 0, 0),
      "Spark jobs under tickAndIngest, runProcessed, runBackwards")
    assert(pipe.processed.read().count() == 15)
    assert(pipe.processed.read().select($"filename").distinct().count() == 15)
    assert(pipe.backwards.read().count() == 15)
  }

  test("forty one-file ticks on one day keep the tick at no Spark job") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    val day = "2024-03-26"
    val today = java.time.LocalDate.parse(day)
    val dayScope = Map("year" -> "2024", "month" -> "03", "day" -> "26")
    val first = 5
    val ticks = 40
    copyFixture(ingest, days = Set(day), limitPerDay = first)
    assert(pipe.tickAndIngest(today) == Seq(day))
    pipe.runAll(day)

    // the reference's steady state: every tick lands in today's
    // partition, so `processed` gains a file per tick and compacts past
    // the planner's bound, staying within the driver-side read
    var files = pipe.processed.liveFiles(dayScope).size
    var compactions = 0
    (1 to ticks).foreach { i =>
      copyFixture(ingest, days = Set(day), limitPerDay = first + i)
      val (found, tickJobs) = jobsDuring(pipe.tickAndIngest(today))
      assert(found == Seq(day))
      val (_, processedJobs) = jobsDuring(pipe.runProcessed(day))
      val (_, backwardsJobs) = jobsDuring(pipe.runBackwards(day))
      assert((tickJobs, processedJobs, backwardsJobs) == (0, 0, 0),
        s"Spark jobs under tickAndIngest, runProcessed, runBackwards on tick $i")
      val n = pipe.processed.liveFiles(dayScope).size
      assert(n <= IncrementalTable.LocalReadMaxFiles, s"tick $i left $n processed files")
      if (n < files) compactions += 1
      files = n
    }
    assert(compactions >= 1)

    val expected = expectedWords(ingest, day)
    assert(expected.size == first + ticks)
    val got = pipe.backwards.read().select($"filename", $"word").as[(String, String)].collect()
    assert(got.map(_._1).sorted.toSeq == expected.keys.toSeq.sorted) // no dup, no loss
    got.foreach { case (f, w) => assert(w == expected(f).reverse, s"word of $f") }
    Seq(pipe.listing, pipe.processed).foreach(t =>
      assert(t.latestMeta(s"watermark/$day").contains((first + ticks).toString)))
  }

  test("backwards over a driver-read processed day equals the Spark-read fallback") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26"))
    val day = "2024-03-26"
    val dayScope = Map("year" -> "2024", "month" -> "03", "day" -> "26")
    val driver = new Pipeline(spark, ingest.toString, root.resolve("driver").toString)
    driver.tickAndIngest(scanAllDays = true)
    driver.runProcessed(day)
    assert(driver.processed.readLocal(dayScope).isDefined)
    val (_, driverJobs) = jobsDuring(driver.runBackwards(day))
    assert(driverJobs == 0)

    // the same `processed` rows, one file per row: more files than the
    // driver-side read takes, so `backwards` reads them through Spark
    val viaSpark = new Pipeline(spark, ingest.toString, root.resolve("spark").toString)
    val words = driver.processed.read(dayScope).select($"filename", $"word", $"word_length")
    val rows = words.collect()
    assert(rows.length > IncrementalTable.LocalReadMaxFiles)
    rows.foreach(r => viaSpark.processed.append(
      spark.createDataFrame(java.util.List.of(r), words.schema),
      Seq("year", "month", "day", "word_length"), dayScope))
    assert(viaSpark.processed.schemaAt() == driver.processed.schemaAt())
    assert(viaSpark.processed.readLocal(dayScope).isEmpty)
    val (_, sparkJobs) = jobsDuring(viaSpark.runBackwards(day))
    assert(sparkJobs > 0)

    def rowsOf(t: IncrementalTable): Seq[String] =
      t.read().collect().map(_.toString).toSeq.sorted
    assert(rowsOf(driver.backwards) == rowsOf(viaSpark.backwards))
    assert(driver.backwards.schemaAt().isDefined)
    assert(driver.backwards.schemaAt() == viaSpark.backwards.schemaAt())
    // each dir's parquet footer stats per column, merged over its files
    def dirStats(t: IncrementalTable): Map[String, Map[String, (Long, Long, String, String)]] = {
      import org.apache.parquet.column.statistics.Statistics
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sessionState.newHadoopConf()
      t.liveFiles().groupBy(f => f.take(f.lastIndexOf('/'))).map { case (dir, files) =>
        val chunks = files.flatMap { f =>
          val in = ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(t.root, f), conf))
          try in.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
          finally in.close()
        }
        dir -> chunks.groupBy(_.getPath.toDotString).map { case (col, cs) =>
          val st = Statistics.createStats(cs.head.getPrimitiveType)
          cs.foreach(c => st.mergeStatistics(c.getStatistics))
          col -> ((cs.map(_.getValueCount).sum, st.getNumNulls, st.minAsString, st.maxAsString))
        }
      }
    }
    assert(dirStats(driver.backwards).values.map(_.keySet).toSet ==
      Set(Set("filename", "word", "word_length")))
    assert(dirStats(driver.backwards) == dirStats(viaSpark.backwards))

    // a compaction of the day (the planner's bound keeps `processed`
    // within the driver-side read this way) runs no job and changes
    // neither the watermark nor the rows
    val wm = driver.processed.latestMeta(s"watermark/$day")
    val before = rowsOf(driver.processed)
    val (_, compactJobs) = jobsDuring(driver.processed.compact(dayScope))
    assert(compactJobs == 0)
    assert(wm.contains(rows.length.toString))
    assert(driver.processed.latestMeta(s"watermark/$day") == wm)
    assert(rowsOf(driver.processed) == before)
  }

  test("runForever: the sensor daemon loop ingests late arrivals across ticks") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 8)
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    val day = java.time.LocalDate.parse("2024-03-26")
    var calls = 0
    // the `now` hook doubles as the between-ticks world: 4 more files
    // land before the second poll, inside the candidate-day window
    pipe.runForever(pollMillis = 1, maxTicks = 2, now = () => {
      calls += 1
      if (calls == 2)
        copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 12)
      day
    })
    assert(calls == 2)
    assert(pipe.processed.read().count() == 12)
    assert(pipe.processed.read().select($"filename").distinct().count() == 12)
    assert(pipe.backwards.read().count() == 12)
  }

  test("refresh is a partition-scoped overwrite and idempotent (§3.3)") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26", "2024-03-27"))
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    pipe.tickAndIngest(scanAllDays = true)
    Seq("2024-03-26", "2024-03-27").foreach(pipe.runAll(_))
    assert(pipe.processed.read().count() == 53)

    // refresh day 26 twice: contents unchanged, day 27 untouched
    pipe.runAll("2024-03-26", refresh = true)
    pipe.runAll("2024-03-26", refresh = true)
    assert(pipe.processed.read().count() == 53)
    assert(pipe.processed.read(Map("day" -> "27")).count() == 2)
    assert(pipe.backwards.read().count() == 53)
  }

  test("distributed read path (maxDriverPaths=0) matches the driver-path results") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26"))
    // force every slice through the scan-day-dir + left_semi join branch
    val pipe = new Pipeline(spark, ingest.toString,
      root.resolve("tables").toString, maxDriverPaths = 0)
    val day = "2024-03-26"
    pipe.tickAndIngest(scanAllDays = true)
    pipe.runAll(day)
    val got = pipe.processed.read()
      .select($"filename", $"word", $"word_length")
      .as[(String, String, Long)].collect()
      .map { case (f, w, l) => f -> ((w, l)) }.toMap
    val expected = expectedWords(ingest, day)
    assert(got.keySet == expected.keySet)
    got.foreach { case (f, (w, l)) =>
      assert(expected(f) == w && l == w.length)
    }
    // incremental tick through the distributed branch: no dup, no loss
    copyFixture(ingest, days = Set("2024-03-26")) // no-op copy, no new files
    pipe.tickAndIngest(scanAllDays = true)
    pipe.runProcessed(day)
    assert(pipe.processed.read().count() == expected.size)
  }

  test("huge first scan takes the distributed bulk sensor path (VERDICT r3 wrong #3)") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26")) // 51 files >> threshold
    val pipe = new Pipeline(spark, ingest.toString,
      root.resolve("tables").toString, maxDriverPaths = 10)
    val day = "2024-03-26"

    // first scan overflows: the request carries a distributed frame,
    // never a driver-side name list
    val reqs = pipe.sensor.tick(scanAllDays = true)
    assert(reqs.size == 1 && reqs.head.bulk.nonEmpty && reqs.head.newFiles.isEmpty)
    reqs.foreach(pipe.runListing)
    pipe.sensor.commitClock()

    val l = pipe.listing.read(Map("day" -> day))
      .select($"seq", $"filename").as[(Long, String)].collect().sortBy(_._1)
    assert(l.length == 51)
    assert(l.map(_._1).toSeq == (0L until 51L)) // dense arrival seq
    assert(l.map(_._2).toSeq == l.map(_._2).sorted.toSeq) // filename order
    // the watermark high-water rode the bulk commit via footer stats
    assert(pipe.listing.latestMeta(s"watermark/$day").contains("51"))

    // idle tick over the huge day: distributed diff finds nothing
    assert(pipe.sensor.tick(scanAllDays = true).isEmpty)

    // a single late arrival on the huge day yields a normal SMALL
    // request numbered past the bulk set
    Files.writeString(ingest.resolve("day=2024-03-26/zz-late.txt"), "late")
    val r2 = pipe.sensor.tick(scanAllDays = true)
    assert(r2.size == 1 && r2.head.bulk.isEmpty &&
      r2.head.newFiles == Seq((51L, "zz-late.txt")))
    r2.foreach(pipe.runListing)
    pipe.sensor.commitClock()
    assert(pipe.listing.latestMeta(s"watermark/$day").contains("52"))

    // downstream materialization over the bulk listing (distributed
    // readWords branch since maxDriverPaths=10): full parity
    pipe.runAll(day)
    val processed = pipe.processed.read()
    assert(processed.count() == 52)
    assert(processed.select($"filename").distinct().count() == 52)
    val expected = expectedWords(ingest, day)
    processed.select($"filename", $"word").as[(String, String)].collect()
      .foreach { case (f, w) => assert(expected(f) == w) }
  }

  test("crash between detect and listing-append loses nothing (ADVICE r1 #1)") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 5)
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)

    // simulate the crash: the sensor ticks (detecting 5 files) but the
    // process dies before any listing append happens
    val dropped = pipe.sensor.tick(scanAllDays = true)
    assert(dropped.map(_.newFiles.size).sum == 5)

    // next tick re-detects the same files — seen-ness derives from the
    // listing table, which never saw them
    val again = pipe.tickAndIngest(scanAllDays = true)
    assert(again == Seq("2024-03-26"))
    pipe.runAll("2024-03-26")
    assert(pipe.processed.read().count() == 5)

    // and a tick after successful append detects nothing new
    assert(pipe.sensor.tick(scanAllDays = true).isEmpty)
  }

  test("graph refresh of the full closure preserves the listing (full-state contract)") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 10)
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    val day = "2024-03-26"

    pipe.tickAndIngest(scanAllDays = true)
    pipe.runAll(day)
    assert(pipe.processed.read().count() == 10)

    // refresh the WHOLE closure through the planner: listing's compute
    // must re-emit full state, not just the (empty) delta — a delta-only
    // compute would truncate the partition here and cascade the loss
    pipe.graph.materializeAll("backwards", day, refresh = true)
    assert(pipe.listing.read(Map("day" -> day)).count() == 10)
    assert(pipe.processed.read().count() == 10)
    assert(pipe.backwards.read().count() == 10)

    // incremental graph materialization after sensor ticks: no dup
    pipe.graph.materializeAll("backwards", day)
    assert(pipe.listing.read(Map("day" -> day)).count() == 10)
    assert(pipe.processed.read().count() == 10)

    // and new files flow through the graph path too
    copyFixture(ingest, days = Set("2024-03-26"), limitPerDay = 12)
    pipe.graph.materializeAll("backwards", day)
    assert(pipe.listing.read(Map("day" -> day)).count() == 12)
    assert(pipe.processed.read().count() == 12)
    assert(pipe.processed.read().select($"filename").distinct().count() == 12)
  }

  test("missing/gap day partitions default to empty, not failure (L3/W6)") {
    val root = Paths.get(tmpDir("pipe"))
    val ingest = root.resolve("files_to_ingest")
    copyFixture(ingest, days = Set("2024-03-26"))
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    pipe.tickAndIngest(scanAllDays = true)
    // 2024-03-28 never existed (the corpus gap day)
    pipe.runAll("2024-03-28")
    assert(pipe.processed.read(Map("day" -> "28")).count() == 0)
    // no empty partition dirs created (W6 elision)
    assert(!Files.isDirectory(root.resolve("tables/processed/v1/year=2024/month=03/day=28")))
  }
}
