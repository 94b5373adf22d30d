package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.table.IncrementalTable

/** Exactly-once streaming ingest over a copy of the reference fixture
  * corpus: resume-from-checkpoint picks up only new files; a replayed
  * micro-batch (crash between table commit and checkpoint ack) is a
  * no-op. */
class StreamIngestSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureSrc = SparkSpec.ingestFixture

  private def copyDay(dst: Path, day: String, limit: Int): Int = {
    val srcDir = fixtureSrc.resolve(s"day=$day")
    val d = dst.resolve(s"day=$day")
    Files.createDirectories(d)
    val files = Files.list(srcDir).iterator().asScala
      .filter(_.toString.endsWith(".txt")).toSeq.sortBy(_.toString).take(limit)
    files.foreach(f => Files.copy(f, d.resolve(f.getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING))
    files.size
  }

  test("stream ingest: kill-and-resume is exactly-once, replays are no-ops") {
    val root = Paths.get(tmpDir("stream"))
    val ingest = root.resolve("files_to_ingest")
    val table = IncrementalTable(spark, root.resolve("tables/processed/v1").toString)
    val si = new StreamIngest(spark, ingest.toString, table,
      root.resolve("checkpoint").toString)

    // phase 1: 10 files, drain with AvailableNow (query stops = the kill)
    val n1 = copyDay(ingest, "2024-03-26", 10)
    si.start().awaitTermination()
    assert(table.read().count() == n1)

    // phase 2: 5 more files + a second day; a NEW query on the same
    // checkpoint must process only the new files
    copyDay(ingest, "2024-03-26", 15)
    val n2 = copyDay(ingest, "2024-03-27", 2)
    si.start().awaitTermination()
    val all = table.read()
    assert(all.count() == 15 + n2)
    assert(all.select($"filename").distinct().count() == 15 + n2) // no dups

    // layout parity: partition columns derived from the day= dirs
    assert(all.filter($"day" === "27").count() == n2)
    assert(Files.isDirectory(
      root.resolve("tables/processed/v1/year=2024/month=03/day=27")))

    // contents parity with the source files
    val words = all.select($"filename", $"word").as[(String, String)]
      .collect().toMap
    Files.list(ingest.resolve("day=2024-03-27")).iterator().asScala.foreach { f =>
      assert(words(f.getFileName.toString) ==
        new String(Files.readAllBytes(f), "UTF-8"))
    }

    // phase 3: crash-window replay — re-deliver the LAST batch with its
    // original batchId (the engine's restart contract); must be a no-op
    val lastBatch = table.commits().flatMap(_.batchId).max
    val replay = spark.read.option("wholetext", "true")
      .text(ingest.resolve("day=2024-03-27").toString + "/*.txt")
    si.ingestBatch(replay, lastBatch)
    assert(table.read().count() == 15 + n2)

    // a genuinely new batch id DOES commit (the guard is per-batch)
    si.ingestBatch(replay, lastBatch + 100)
    assert(table.read().count() == 15 + n2 + n2)
  }

  test("auto-compaction bounds live file count; reads and replay guard unchanged") {
    val root = Paths.get(tmpDir("stream"))
    val ingest = root.resolve("files_to_ingest")
    val table = IncrementalTable(spark, root.resolve("tables/processed/v1").toString)
    val n = copyDay(ingest, "2024-03-26", 12)
    // one file per micro-batch -> 12 commits; most land in the same few
    // word_length partitions, so without compaction file count == batch
    // count in the hot partitions
    val si = new StreamIngest(spark, ingest.toString, table,
      root.resolve("checkpoint").toString, autoCompactMaxFiles = Some(2))
    si.start(maxFilesPerTrigger = Some(1)).awaitTermination()

    assert(table.read().count() == n)
    assert(table.read().select($"filename").distinct().count() == n)
    // ceiling: no physical partition holds more than maxFiles(2) + 1
    // in-flight file; compacted partitions are back to 1
    val perDir = table.liveFiles().groupBy(f => f.split("/").dropRight(1).mkString("/"))
    assert(perDir.values.forall(_.size <= 3),
      s"oversized partition: ${perDir.maxBy(_._2.size)}")
    // a replayed micro-batch is still a no-op after compactions
    val lastBatch = table.commits().flatMap(_.batchId).max
    val replay = spark.read.option("wholetext", "true")
      .text(ingest.resolve("day=2024-03-26").toString + "/*.txt")
    si.ingestBatch(replay, lastBatch)
    assert(table.read().count() == n)
  }

  test("fresh checkpoint = new writer identity: batch 0 commits, never suppressed") {
    val root = Paths.get(tmpDir("stream"))
    val ingest = root.resolve("files_to_ingest")
    val table = IncrementalTable(spark, root.resolve("tables/processed/v1").toString)
    val n = copyDay(ingest, "2024-03-26", 5)

    // stream A drains everything; its batch horizon covers batchId 0
    val a = new StreamIngest(spark, ingest.toString, table,
      root.resolve("ckpt-a").toString)
    a.start().awaitTermination()
    assert(table.read().count() == n)
    assert(table.commits().exists(_.batchId.contains(0L)))

    // operator rebuilds with a FRESH checkpoint (deliberate reprocess):
    // stream B's batchIds restart at 0. Under the old table-global
    // maxBatchId guard its first batches would be silently swallowed —
    // partial, corrupt-looking output; with per-appId txns the batches
    // commit (a full reprocess is what a fresh checkpoint MEANS; dedup
    // is the operator's choice, e.g. a fresh table version or refresh)
    val b = new StreamIngest(spark, ingest.toString, table,
      root.resolve("ckpt-b").toString)
    b.start().awaitTermination()
    assert(table.read().count() == 2L * n)
  }
}
