package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.ingest.Generator

/** What one run shares: the session, the tracer, the run's scratch tree,
  * the op/check tallies and the per-op layer samples. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val work: Path, val plant: Boolean) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Per-layer samples: metric name -> (unit, values, one per op or call). */
  val layer = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  /** Samples behind the workload's named figures (`tick_p50_s`, ...). */
  val figures = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]

  def sample(name: String, unit: String, v: Double): Unit =
    layer.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty[Double]))._2 += v
  def figure(name: String, unit: String, v: Double): Unit =
    figures.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty[Double]))._2 += v

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
  }

  /** Count one operation; a thrown error counts it as failed. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Count one correctness check. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) fail(s"check $what failed $detail")
  }

  /** A fresh directory under the run's scratch tree. */
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** The files a workload has landed: filename -> (day, word). */
final class Landed(root: Path, seed: Long) {
  private val gen = new Generator(root.toString, seed, baseIntervalMillis = 0L, jitterMillis = 0L)
  val files = mutable.LinkedHashMap.empty[String, (String, String)]
  var bytes = 0L

  /** Drop `n` files into `day`; returns the bytes written. */
  def drop(n: Int, day: java.time.LocalDate): Long = {
    var b = 0L
    gen.drop(n, day).foreach { p =>
      val word = new String(Files.readAllBytes(p), "UTF-8")
      files(p.getFileName.toString) = (day.toString, word)
      b += word.length
    }
    bytes += b
    b
  }

  def of(day: String): Map[String, String] =
    files.iterator.collect { case (f, (d, w)) if d == day => f -> w }.toMap
  def all: Map[String, String] = files.iterator.map { case (f, (_, w)) => f -> w }.toMap
}
