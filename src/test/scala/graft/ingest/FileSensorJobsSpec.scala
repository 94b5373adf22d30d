package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.app.Pipeline
import graft.graph.AssetGraph
import graft.table.IncrementalTable

/** The sensor's steady state answers from committed metadata: the next
  * `seq` is the listing's `watermark/<day>` meta, and the seen-diff is
  * one bounded scan of the listing. A small day's listing is read on the
  * driver, so the tick runs no Spark job, and the listing append keeps
  * the day small by compacting it, both staged on the driver with no
  * job; a day with more listing files than the driver-side read allows
  * keeps the one-job Spark scan. */
class FileSensorJobsSpec extends SparkSpec {
  import spark.implicits._

  private val day = "2024-03-26"
  private val today = LocalDate.parse(day)

  private def landFiles(ingest: Path, upTo: Int): Unit = {
    val src = SparkSpec.ingestFixture.resolve(s"day=$day")
    val dst = ingest.resolve(s"day=$day")
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.toSeq.sortBy(_.toString).take(upTo)
      .foreach(f => Files.copy(f, dst.resolve(f.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING))
  }

  private def listing(pipe: Pipeline): Seq[(Long, String)] =
    pipe.listingFor(day).as[(Long, String)].collect().toSeq.sortBy(_._1)

  test("a small-day tick runs no Spark job and numbers from the watermark") {
    val root = Paths.get(tmpDir("sensorjobs"))
    val ingest = root.resolve("files_to_ingest")
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    landFiles(ingest, 10)
    assert(pipe.tickAndIngest(today) == Seq(day))
    assert(pipe.listing.latestMeta(s"watermark/$day").contains("10"))

    landFiles(ingest, 15)
    val (reqs, jobs) = jobsDuring(pipe.sensor.tick(today))
    assert(jobs == 0, s"sensor tick over a seen day ran $jobs Spark jobs")
    assert(reqs.size == 1 && reqs.head.bulk.isEmpty)
    assert(reqs.head.newFiles.map(_._1) == (10L until 15L))
    reqs.foreach(pipe.runListing)
    pipe.sensor.commitClock()
    val l = listing(pipe)
    assert(l.map(_._1) == (0L until 15L))
    assert(l.map(_._2).distinct.size == 15)

    // an idle tick: every listed file is seen, nothing appends
    val (days, idleJobs) = jobsDuring(pipe.tickAndIngest(today))
    assert(days.isEmpty)
    assert(idleJobs == 0, s"idle tickAndIngest ran $idleJobs Spark jobs")
  }

  test("listing appends keep a one-day listing within the driver-side read") {
    val root = Paths.get(tmpDir("sensorcompact"))
    val ingest = root.resolve("files_to_ingest")
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    val arrivals = IncrementalTable.LocalReadMaxFiles + 8
    landFiles(ingest, arrivals + 3)
    val names = Files.list(ingest.resolve(s"day=$day")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    // one append per two arrivals, as a tick that lands every batch in
    // today's partition makes them: each adds one file, and the day
    // compacts to one file past the pipeline's bound. The append and
    // the compaction both stage on the driver: none runs a Spark job
    var files = 0
    var compactions = 0
    names.take(arrivals).zipWithIndex.grouped(2).foreach { batch =>
      val (_, jobs) = jobsDuring(
        pipe.runListing(RunRequest(day, batch.map { case (f, i) => (i.toLong, f) })))
      val n = pipe.listing.liveFiles(Map("day" -> day)).size
      assert(n == files + 1 || n == 1, s"an append took the day from $files to $n listing files")
      assert(n <= AssetGraph.ScopeMaxFiles, s"the day holds $n listing files")
      assert(jobs == 0, s"an append taking the day from $files to $n files ran $jobs Spark jobs")
      if (n < files) compactions += 1
      files = n
    }
    assert(compactions >= 1)
    assert(pipe.listing.latestMeta(s"watermark/$day").contains(arrivals.toString))
    assert(listing(pipe) == names.take(arrivals).zipWithIndex.map {
      case (f, i) => (i.toLong, f)
    })

    val (reqs, jobs) = jobsDuring(pipe.sensor.tick(today))
    assert(jobs == 0, s"sensor tick over a compacted day ran $jobs Spark jobs")
    assert(reqs.size == 1 && reqs.head.newFiles == names.drop(arrivals).zipWithIndex.map {
      case (f, i) => (arrivals.toLong + i, f)
    })
  }

  test("a day above the local-read file bound keeps the one-job scan") {
    val root = Paths.get(tmpDir("sensorbound"))
    val ingest = root.resolve("files_to_ingest")
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    val seen = IncrementalTable.LocalReadMaxFiles + 1
    landFiles(ingest, seen + 5)
    val names = Files.list(ingest.resolve(s"day=$day")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    // one listing file per arrival, written past the pipeline's own
    // compacting append: the day's listing outgrows the bound
    names.take(seen).zipWithIndex.foreach { case (f, i) =>
      pipe.listing.append(Seq((i.toLong, f)).toDF("seq", "filename"),
        partitionBy = Seq("day"), partitionValues = Map("day" -> day),
        meta = Map(s"watermark/$day" -> (i + 1).toString))
    }
    assert(pipe.listing.liveFiles(Map("day" -> day)).size == seen)
    assert(pipe.listing.readLocal(Map("day" -> day)).isEmpty)

    val (reqs, jobs) = jobsDuring(pipe.sensor.tick(today))
    assert(jobs == 1, s"sensor tick over a large listing ran $jobs Spark jobs")
    assert(reqs.size == 1 && reqs.head.bulk.isEmpty)
    assert(reqs.head.newFiles == names.drop(seen).zipWithIndex.map {
      case (f, i) => (seen.toLong + i, f)
    })
  }

  test("a listing written without watermark meta still numbers from max(seq)+1") {
    val root = Paths.get(tmpDir("sensornometa"))
    val ingest = root.resolve("files_to_ingest")
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    landFiles(ingest, 6)
    val names = Files.list(ingest.resolve(s"day=$day")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    // a legacy writer: rows only, no watermark meta, a gap in the seqs
    val legacy = names.take(4).zip(Seq(0L, 1L, 2L, 20L)).map(_.swap)
    pipe.listing.append(legacy.toDF("seq", "filename"), partitionBy = Seq("day"),
      partitionValues = Map("day" -> day))
    assert(pipe.listing.latestMeta(s"watermark/$day").isEmpty)

    val reqs = pipe.sensor.tick(today)
    assert(reqs.size == 1)
    assert(reqs.head.newFiles == names.drop(4).zipWithIndex.map {
      case (f, i) => (21L + i, f)
    })
  }
}
