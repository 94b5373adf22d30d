package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.parquet.RowParquet
import graft.table.IncrementalTable

/** One commit path after the stage: a batch write and a streaming-sink
  * epoch commit their staged files through the same rules — layout
  * guard, footer stats, sidecars, promote, publish and its timing — and
  * neither commits a file without rows. */
class StagedCommitSpec extends SparkSpec {
  import spark.implicits._

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  private def dirOf(rel: String): String = rel.split("/").dropRight(1).mkString("/")

  private def footerRows(t: IncrementalTable, rel: String): Long = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(t.root, rel), IncrementalTable.hadoopConf(spark)))
    try rd.getRecordCount finally rd.close()
  }

  /** Every parquet file under `root`, outside the staging dir. */
  private def dataFiles(root: String): Set[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
      .map(p => base.relativize(p).toString)
      .filterNot(_.startsWith("_")).toSet
    finally walk.close()
  }

  test("an append commits only files with rows: empty tasks' files stay in the stage") {
    val t = IncrementalTable(spark, tmpDir("staged") + "/t")
    val df = spark.range(2).toDF("k")
    t.append(df.repartition(8), Nil)
    val files = t.liveFiles()
    assert(files.nonEmpty && files.size <= 2, files.toString)
    files.foreach(f => assert(footerRows(t, f) > 0, s"$f has no rows"))
    assert(t.commits().last.add.toSet == files.toSet)
    assert(multiset(t.read()) == multiset(df))
    // an empty unpartitioned append still elides
    val v = t.latestVersion
    assert(t.append(df.filter($"k" < 0).repartition(8), Nil).isEmpty)
    assert(t.latestVersion == v)
  }

  test("upsertByKey on a partitioned table deletes the old versions of its keys") {
    val t = IncrementalTable(spark, tmpDir("staged") + "/upsert")
    t.append(Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "p"), Seq("p"))
    t.upsertByKey(Seq((1L, "a2", 1), (3L, "c", 2)).toDF("id", "v", "p"),
      Seq("id"), partitionBy = Seq("p"))
    assert(t.read().as[(Long, String, Int)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a2", 1), (2L, "b", 2), (3L, "c", 2)))
  }

  test("the streaming sink refuses an epoch that declares another partition layout") {
    val root = tmpDir("staged_layout")
    val t = IncrementalTable(spark, s"$root/t")
    t.append(Seq((0L, "x", "seed")).toDF("id", "p", "other"), Seq("p"))
    val v = t.latestVersion
    val before = dataFiles(t.root)
    val in = s"$root/in"
    Seq((1L, "y", "o1"), (2L, "z", "o2")).toDF("id", "p", "other")
      .coalesce(1).write.parquet(s"$in/f0")
    val schema = Seq((0L, "", "")).toDF("id", "p", "other").schema
    val e = intercept[StreamingQueryException] {
      spark.readStream.schema(schema).option("recursiveFileLookup", "true")
        .parquet(in)
        .writeStream.format("graft")
        .option("partitionBy", "other")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(t.root).awaitTermination()
    }
    assert(e.getCause.getMessage.contains("partition layout is immutable"),
      e.getCause.getMessage)
    t.refresh()
    assert(t.latestVersion == v)
    assert(dataFiles(t.root) == before, "an epoch file left the stage")
    assert(multiset(t.read().select("id", "p", "other")) == Map(Row(0L, "x", "seed") -> 1))
  }

  test("a stream epoch commits what an append of the same rows commits") {
    val dir = tmpDir("staged_twin")
    val rows = Seq((1L, "a", "A"), (2L, "b", "B"), (3L, "c", "A"), (7L, null, "B"))
    val df = rows.toDF("id", "s", "seg")
    val props = Map("graft.ndvColumns" -> "id,s")
    def seeded(name: String): IncrementalTable = {
      val t = IncrementalTable(spark, s"$dir/$name")
      t.append(Seq((0L, "z", "A")).toDF("id", "s", "seg"), Seq("seg"),
        statsColumns = Seq("id"))
      t.alter(props = props)
      t
    }
    val streamed = seeded("streamed")
    val appended = seeded("appended")
    // one epoch of the sink, on this handle: one task stages, the
    // driver commits the task-reported files
    val sink = new GraftStreamingWrite(streamed, Seq("seg"), "twin", df.schema,
      Seq("id"), truncate = false,
      new RowParquet.SerializableConf(IncrementalTable.hadoopConf(spark)))
    val writer = sink.createStreamingWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }).createWriter(0, 0L, 0L)
    df.queryExecution.toRdd.map(_.copy()).collect().foreach(writer.write)
    streamed.lastWriteTiming = None // the seed append's
    sink.commit(0L, Array(writer.commit()))
    appended.append(df, Seq("seg"), statsColumns = Seq("id"))

    val (s, a) = (streamed.commits().last, appended.commits().last)
    assert(s.action == "append" && a.action == "append")
    assert(s.batchId.contains(0L) && s.appId.contains("twin"))
    assert(s.schemaJson == a.schemaJson)
    assert(streamed.read().schema == appended.read().schema)
    assert(multiset(streamed.read()) == multiset(appended.read()))
    def statsByDir(t: IncrementalTable) =
      t.liveFileStats().toSeq.map { case (f, st) => (dirOf(f), st) }
        .groupBy(identity).view.mapValues(_.size).toMap
    assert(statsByDir(streamed) == statsByDir(appended))
    assert(s.meta.keySet.filter(_.startsWith("ndv/")) == Set("ndv/id", "ndv/s"))
    assert(s.meta.keySet == a.meta.keySet)
    assert(streamed.columnNdv() == appended.columnNdv())
    val timing = streamed.lastWriteTiming.getOrElse(fail("the epoch recorded no timing"))
    assert(timing.stageMs == 0L)
    assert(timing.files == s.add.size)
  }
}
