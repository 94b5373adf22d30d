package graft.table

import graft.SparkSpec

/** Reads plan from the commit log: building a read over many committed
  * files starts no Spark job (no listing, no glob), returns the same
  * rows, and a committed file that went missing still fails the read. */
class LogScanSpec extends SparkSpec {
  import spark.implicits._

  // above Spark's 32-path threshold for a parallel listing job
  private val nFiles = 40

  /** A table whose one partition holds `nFiles` files; returns the
    * writing handle (it knows every file's status), its root and rows. */
  private def manyFileTable(name: String): (IncrementalTable, String, Set[(Long, String)]) = {
    val root = tmpDir("logscan") + "/" + name
    val rows = (0L until nFiles * 3L).map(i => (i, s"w$i"))
    val t = IncrementalTable(spark, root)
    t.append(rows.toDF("id", "word").repartition(nFiles), partitionBy = Seq("day"),
      partitionValues = Map("day" -> "2024-03-26"))
    (t, root, rows.toSet)
  }

  test("building a read over more than 32 live files starts no Spark job") {
    val (_, root, rows) = manyFileTable("many")
    val t = IncrementalTable(spark, root) // fresh handle: nothing cached
    assert(t.liveFiles(Map("day" -> "2024-03-26")).size == nFiles)
    val (df, jobs) = jobsDuring(t.read(Map("day" -> "2024-03-26")))
    assert(jobs == 0, s"building the read ran $jobs Spark jobs")
    assert(df.select($"id", $"word").as[(Long, String)].collect().toSet == rows)
    assert(df.select($"day").distinct().as[String].collect().toSeq == Seq("2024-03-26"))
    // a partition predicate prunes through the log-backed index
    assert(t.read().where($"day" === "2024-03-27").count() == 0)
    assert(t.read().where($"day" === "2024-03-26").count() == rows.size)
  }

  test("a read whose committed file was deleted fails loudly") {
    val (writer, root, _) = manyFileTable("missing")
    val victim = writer.liveFiles().head
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, victim))
    // a fresh handle stats the file while planning
    intercept[java.io.FileNotFoundException](IncrementalTable(spark, root).read().count())
    // a handle that cached its status fails in the scan
    val e = intercept[Exception](writer.read().count())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
      e.getMessage.contains("FILE_NOT_EXIST") || e.getMessage.contains("does not exist"),
      s"unexpected failure: $e")
  }

  test("liveBytes and liveFilesSize size files from the handle's statuses") {
    val (writer, root, _) = manyFileTable("sized")
    def onDisk(fs: Seq[String]) =
      fs.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(root, f))).sum
    val live = writer.liveFiles()
    val (total, firstFive) = (onDisk(live), onDisk(live.take(5)))
    assert(writer.liveBytes() == total)
    assert(writer.liveFilesSize(live.take(5)) == firstFive)
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, live.head))
    // the writing handle stats nothing: its statuses were cached at promote
    assert(writer.liveBytes() == total)
    assert(writer.liveFilesSize(live.take(5)) == firstFive)
    // a fresh handle stats the missing file and fails loudly
    intercept[java.io.FileNotFoundException](IncrementalTable(spark, root).liveBytes())
    intercept[java.io.FileNotFoundException](IncrementalTable(spark, root).liveFilesSize(live))
  }

  test("liveBytes counts every tail file of a columnar checkpoint, equal sizes included") {
    val root = tmpDir("logscan") + "/tail"
    val t = new IncrementalTable(spark, root, checkpointEvery = 3, parquetThreshold = 0)
    var i = 0L
    while (!t.commits().headOption.exists(_.columnarCkpt) && i < 6) {
      t.append(Seq(i).toDF("id"), Nil)
      i += 1
    }
    assert(t.commits().head.columnarCkpt)
    // two tail files with identical contents, so identical sizes
    val tail = (0 until 2).map(_ => t.append(Seq(7L).toDF("id").repartition(1), Nil).get.add)
    assert(t.commits().head.columnarCkpt && tail.forall(_.size == 1))
    def size(f: String) = java.nio.file.Files.size(java.nio.file.Paths.get(root, f))
    assert(size(tail(0).head) == size(tail(1).head))
    val fresh = IncrementalTable(spark, root)
    val live = fresh.liveFiles()
    assert(live.size == i + 2)
    assert(fresh.liveBytes() == live.map(size).sum)
  }
}
