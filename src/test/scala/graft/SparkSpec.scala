package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session), on
  * the recipe the mains ship — fork-free local filesystem included
  * ([[GraftSession]]; `NioLocalFileSystemSpec` pins its equivalence
  * with stock LocalFs). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.builder(4).appName("graft-test").getOrCreate()

  /** The vendored ingest corpus (FIXTURES.md §A): `day=<d>/` dirs of
    * one-word `.txt` files, 51 + 2 + 4. Tests copy it, never write it. */
  lazy val ingestFixture: java.nio.file.Path =
    java.nio.file.Paths.get(getClass.getResource("/files_to_ingest").toURI)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` and count the Spark jobs it started. The listener bus
    * is asynchronous, so a sentinel job in its own group runs after
    * `body`: events reach a listener in order, and once the sentinel's
    * start arrived every job of `body` has been counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `sentinel` => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
