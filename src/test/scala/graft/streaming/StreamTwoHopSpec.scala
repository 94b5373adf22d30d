package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.table.IncrementalTable

/** The reference's central tension, closed in the streaming regime
  * (readme.md:13: re-running the derived `backwards` asset after
  * `processed` grew silently duplicates): here
  * files → processed → backwards run as CHAINED exactly-once streams —
  * hop 1 is the Structured Streaming file source, hop 2 consumes
  * processed's commit log via [[DerivedStream]], checkpointed in the
  * backwards table itself. Kill-and-resume at every boundary must
  * neither lose nor duplicate rows in EITHER table. */
class StreamTwoHopSpec extends SparkSpec {
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

  private def reverseHop(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    df.select($"filename", reverse($"word").as("word"), $"word_length",
      $"year", $"month", $"day")
  }

  test("two-hop chained streams: kill-and-resume is exactly-once on BOTH hops") {
    val root = Paths.get(tmpDir("twohop"))
    val ingest = root.resolve("files_to_ingest")
    val processed = IncrementalTable(spark, root.resolve("t/processed/v1").toString)
    val backwards = IncrementalTable(spark, root.resolve("t/backwards/v1").toString)
    def mkHop2() = new DerivedStream(processed, backwards,
      partitionBy = Seq("year", "month", "day"), reverseHop, name = "processed")
    def mkIngest(hop2: DerivedStream) = new StreamIngest(spark, ingest.toString,
      processed, root.resolve("ckpt").toString, chained = Seq(hop2))

    def assertParity(): Unit = {
      val p = processed.read().select($"filename", $"word").as[(String, String)]
        .collect().toMap
      val b = backwards.read().select($"filename", $"word").as[(String, String)]
        .collect().toMap
      assert(b.keySet == p.keySet) // no loss, no dups (keys unique)
      b.foreach { case (f, w) => assert(w == p(f).reverse) }
      assert(backwards.read().count() == p.size) // row-level no-dup
    }

    // phase 1: first drain — both hops land, layout derived per-day
    val n1 = copyDay(ingest, "2024-03-26", 8)
    mkIngest(mkHop2()).start().awaitTermination()
    assert(processed.read().count() == n1)
    assertParity()

    // phase 2: the kill — ALL instances rebuilt (fresh handles, no
    // in-memory state survives); new files on two days; resume
    copyDay(ingest, "2024-03-26", 12)
    val n2 = copyDay(ingest, "2024-03-27", 2)
    mkIngest(mkHop2()).start().awaitTermination()
    assert(processed.read().count() == 12 + n2)
    assertParity()

    // phase 3: crash BETWEEN the hops — hop 1 commits a batch but the
    // process dies before hop 2 drains. The next drain (any instance)
    // finds the pending upstream version.
    val extra = Seq(("zfile.txt", "chained", 7L, "2024", "03", "28"))
      .toDF("filename", "word", "word_length", "year", "month", "day")
    processed.append(extra, Seq("year", "month", "day", "word_length"))
    assert(backwards.read().count() == 12 + n2) // hop 2 hasn't seen it
    assert(mkHop2().drain() == 1)
    assertParity()

    // phase 4: replayed drains and re-delivered micro-batches are no-ops
    val before = backwards.commits().size
    assert(mkHop2().drain() == 0)
    assert(backwards.commits().size == before)

    // phase 5: upstream partition REFRESH (a replace commit) — the
    // derived table must converge to the recomputed state, not append
    val day26 = Map("year" -> "2024", "month" -> "03", "day" -> "26")
    val recomputed = processed.read(day26)
      .filter($"word_length" >= 3) // refresh drops some rows
    processed.replaceWhere(recomputed, Seq("year", "month", "day", "word_length"),
      day26, partitionFilter = day26)
    assert(mkHop2().drain() == 1)
    assertParity()
    assert(backwards.read(day26).count() ==
      processed.read(day26).count())

    // phase 6: hop-2 work survives upstream COMPACTION past the commit
    // it lagged at (checkpoint fallback recompute)
    processed.compact(Map("year" -> "2024", "month" -> "03", "day" -> "27"))
    mkHop2().drain()
    assertParity()
  }
}
