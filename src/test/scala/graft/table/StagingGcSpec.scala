package graft.table

import java.io.IOException
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

import graft.SparkSpec

/** The staging GC deletes off the commit path and counts every delete it
  * was handed: done, failed (with the last failure's message), and the
  * backlog still queued. A failed delete is counted, not swallowed. */
class StagingGcSpec extends SparkSpec {

  /** Poll until `ok` holds, or fail after ten seconds. */
  private def await(what: String)(ok: => Boolean): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!ok && System.nanoTime() < deadline) Thread.sleep(20)
    assert(ok, s"timed out waiting for $what: ${IncrementalTable.stagingGcStats}")
  }

  private def stageDir(): Path = {
    val d = Paths.get(tmpDir("stagegc"), "stage")
    Files.createDirectories(d)
    Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    new Path(d.toUri)
  }

  test("a failing delete advances `failed` and names the path") {
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val refusing = new FilterFileSystem(local) {
      override def delete(p: Path, recursive: Boolean): Boolean =
        throw new IOException(s"refused: $p")
    }
    val dir = stageDir()
    val before = IncrementalTable.stagingGcStats
    IncrementalTable.gcStaging(refusing, dir)
    assert(IncrementalTable.stagingGcStats.queued > before.queued)
    await("the failed delete")(IncrementalTable.stagingGcStats.failed > before.failed)
    val after = IncrementalTable.stagingGcStats
    assert(after.lastFailure.exists(m => m.contains("refused") && m.contains("stage")),
      after.toString)
    assert(local.exists(dir), "the refused staging dir vanished")
  }

  test("a delete that succeeds advances `done`, and writes feed the counters") {
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = stageDir()
    val before = IncrementalTable.stagingGcStats
    IncrementalTable.gcStaging(local, dir)
    await("the delete")(IncrementalTable.stagingGcStats.done > before.done)
    assert(!local.exists(dir))
    // a batch append hands its retired staging tree to the GC
    import spark.implicits._
    val queued = IncrementalTable.stagingGcStats.queued
    IncrementalTable(spark, tmpDir("stagegc") + "/t").append(Seq(1L, 2L).toDF("id"), Nil)
    assert(IncrementalTable.stagingGcStats.queued > queued)
  }
}
