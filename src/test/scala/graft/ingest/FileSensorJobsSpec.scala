package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.app.Pipeline

/** The sensor's steady state answers from committed metadata: the next
  * `seq` is the listing's `watermark/<day>` meta, and the seen-diff is
  * one bounded scan of the listing — one Spark job per tick. */
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

  test("a steady-state tick runs one Spark job and numbers from the committed watermark") {
    val root = Paths.get(tmpDir("sensorjobs"))
    val ingest = root.resolve("files_to_ingest")
    val pipe = new Pipeline(spark, ingest.toString, root.resolve("tables").toString)
    landFiles(ingest, 10)
    assert(pipe.tickAndIngest(today) == Seq(day))
    assert(pipe.listing.latestMeta(s"watermark/$day").contains("10"))

    landFiles(ingest, 15)
    val (reqs, jobs) = jobsDuring(pipe.sensor.tick(today))
    assert(jobs == 1, s"sensor tick over a seen day ran $jobs Spark jobs")
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
    assert(idleJobs == 1, s"idle tickAndIngest ran $idleJobs Spark jobs")
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
