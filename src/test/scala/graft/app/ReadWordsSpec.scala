package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec
import graft.table.IncrementalTable

/** `processed`'s file read: the driver-side `wholetext` read of a few
  * small files equals the Spark read of the same paths, row for row and
  * in schema, and hands every path the Spark read treats specially back
  * to it. */
class ReadWordsSpec extends SparkSpec {

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  private def pipeline(root: String): Pipeline =
    new Pipeline(spark, s"$root/files_to_ingest", s"$root/tables")

  private def land(dir: java.nio.file.Path, files: (String, Array[Byte])*): Seq[String] = {
    Files.createDirectories(dir)
    files.map { case (name, bytes) => Files.write(dir.resolve(name), bytes).toString }
  }

  private def viaSpark(pipe: Pipeline, paths: Seq[String]): DataFrame =
    pipe.wordsOfText(spark.read.option("wholetext", "true").text(paths: _*))

  test("the driver read equals the Spark read: empty files, escaped names, raw bytes") {
    val root = tmpDir("readwords")
    val pipe = pipeline(root)
    val paths = land(Paths.get(root, "files_to_ingest", "day=2024-03-26"),
      "alpha.txt" -> "alpha".getBytes("UTF-8"),
      "empty.txt" -> Array.emptyByteArray,
      "x y.txt" -> "spaced".getBytes("UTF-8"),
      "lines.txt" -> "two\nlines\n".getBytes("UTF-8"),
      "bytes.txt" -> Array[Byte](0x61, 0xff.toByte, 0x62))
    val local = pipe.wholeTextLocal(paths).getOrElse(fail("no driver-side read"))
    val spark0 = viaSpark(pipe, paths)
    assert(local.schema == spark0.schema)
    assert(multiset(local) == multiset(spark0))
    val names = local.collect().map(_.getString(0)).toSet
    assert(names == Set("alpha.txt", "x%20y.txt", "lines.txt", "bytes.txt"))
    // the word_length projection and the collect fold into the rows
    val (n, jobs) = jobsDuring(pipe.wordsOf(paths)
      .selectExpr("length(word)").collect().length)
    assert(n == 4 && jobs == 0, s"the driver read ran $jobs Spark jobs")
  }

  test("compressed, hidden, missing and too many files go to the Spark read") {
    val root = tmpDir("readwordsspark")
    val pipe = pipeline(root)
    val day = Paths.get(root, "files_to_ingest", "day=2024-03-26")
    val plain = land(day, "a.txt" -> "a".getBytes("UTF-8"))
    val gz = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.util.zip.GZIPOutputStream(bytes)
      try out.write("zipped".getBytes("UTF-8")) finally out.close()
      land(day, "z.txt.gz" -> bytes.toByteArray)
    }
    val withGz = plain ++ gz
    assert(pipe.wholeTextLocal(withGz).isEmpty, "a compression-codec extension")
    assert(multiset(pipe.wordsOf(withGz)) == multiset(viaSpark(pipe, withGz)))
    assert(pipe.wordsOf(withGz).collect().map(_.getString(1)).toSet == Set("a", "zipped"))

    assert(pipe.wholeTextLocal(plain ++ land(day, "_hidden.txt" -> "h".getBytes("UTF-8")))
      .isEmpty, "a name Spark's listing hides")
    assert(pipe.wholeTextLocal(plain :+ day.resolve("gone.txt").toString).isEmpty,
      "a missing file")
    val many = land(day, (0 to IncrementalTable.LocalReadMaxFiles).map(i =>
      s"m$i.txt" -> s"m$i".getBytes("UTF-8")): _*)
    assert(pipe.wholeTextLocal(many).isEmpty, "more files than the driver-side bound")
    assert(pipe.wholeTextLocal(many.take(IncrementalTable.LocalReadMaxFiles)).isDefined)
  }
}
