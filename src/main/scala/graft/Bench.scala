package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** Benchmark main: every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Methodology (VERDICT r1 "what's wrong" #6):
  *  - one untimed warmup pass over the full query set (JVM/JIT/codegen
  *    caches, parquet footer reads) so the first query isn't billed ~4s
  *    of session warmup;
  *  - median of 3 timed runs per query;
  *  - results materialize through the `noop` datasource sink — full
  *    computation of every output column on the executors, no driver
  *    collect; a bare `.count()` would let Catalyst drop sorts and prune
  *    all columns, understating real work.
  *
  * Output: ONE machine-parseable JSON line on stdout (build.sbt routes
  * forked stdout through unlogged, so no sbt `[info]` prefix). The
  * driver keeps only the LAST ~2000 chars of the run's output, so the
  * stdout line is deliberately COMPACT — metric/value/queries/sf with
  * 3-decimal times. The full detail (shuffle bytes, peak task memory
  * per query) goes to bench_result.json only.
  */
object Bench {
  /** The queries a run times, sorted. `SPARK_GRAFT_BENCH_ONLY=q27_x,q54_y`
    * (a profiling hook) restricts the run to exactly those names — a
    * prefix never widens the set (`q4` is not `q40`..`q49`), and a name
    * that is no query fails the run instead of timing nothing. Verify,
    * PlanDump and QueryProfile select their comma-separated name lists
    * through this same rule. */
  def selectQueries(only: Option[String], all: Seq[String]): Seq[String] =
    only match {
      case Some(list) =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- all
        require(unknown.isEmpty,
          s"no query named ${unknown.toSeq.sorted.mkString(", ")}")
        all.filter(want).sorted
      case None => all.sorted
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores(4)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = GraftSession(cpus)

    // per-query shuffle-write bytes + peak task execution memory, for
    // the BASELINE.md living baseline (runs are sequential, so simple
    // counters reset between queries suffice)
    val shuffleBytes = new AtomicLong(0)
    val peakMem = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          peakMem.updateAndGet(math.max(_, m.peakExecutionMemory))
        }
      }
    })

    def runOnce(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2)
    }

    val sortedNames = selectQueries(sys.env.get("SPARK_GRAFT_BENCH_ONLY"),
      SparkEntry.queries.keys.toSeq)
    // SEEDED random order (VERDICT r5 #2): alphabetical order billed
    // systematic neighbor effects to the same queries every round (the
    // r4/r5 >2× artifact rows); a fixed-seed shuffle keeps runs
    // reproducible while decorrelating a query's time from whoever
    // happens to precede it alphabetically
    val names = new scala.util.Random(42L).shuffle(sortedNames)
    names.foreach { n => // warmup, untimed
      try runOnce(SparkEntry.queries(n))
      catch { case e: Throwable => System.err.println(s"BENCH WARMUP FAIL $n: ${e.getClass.getName}: ${e.getMessage}") }
    }
    // quiesce before the timed phase: the first queries timed otherwise
    // race the warmup pass's background JIT compilation and deferred GC
    // (BASELINE.md "BENCH_r04 >2× adjudication" — the four flagged rows
    // were exactly the first four timed)
    System.gc()
    Thread.sleep(2000)
    val results = names.map { n =>
      // per-query quiesce (VERDICT r5 #2): previous queries' deferred
      // GC and temp-table cleanup otherwise bleed into whoever runs
      // next — 200 ms + a GC per query buys ~±2× less inter-run swing
      // on the sub-second rows for ~30 s across the full suite
      System.gc()
      Thread.sleep(200)
      shuffleBytes.set(0); peakMem.set(0)
      val ts = (1 to iters).flatMap { _ =>
        try Some(runOnce(SparkEntry.queries(n)))
        catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $n: ${e.getClass.getName}: ${e.getMessage}")
            None
        }
      }
      Thread.sleep(100) // let the async listener bus drain
      val perIter = if (ts.isEmpty) 0L else shuffleBytes.get / ts.size
      (n, if (ts.isEmpty) -1.0 else median(ts), perIter, peakMem.get)
    }
    // Locale.ROOT: the f-interpolator uses the default locale, which on
    // comma-decimal JVMs (de_DE etc.) would emit 0,760 — invalid JSON
    def r3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // emit in name order regardless of the shuffled run order
    val sorted = results.sortBy(_._1)
    val qs = sorted.map { case (k, v, _, _) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    val shuf = sorted.map { case (k, _, b, _) => s""""$k":$b""" }.mkString("{", ",", "}")
    val peak = sorted.map { case (k, _, _, p) => s""""$k":$p""" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","iters":$iters,"warmup":1,"shuffle_bytes":$shuf,"peak_task_mem":$peak}"""
    Files.writeString(Paths.get("bench_result.json"), full + "\n")
    println(compact)
    spark.stop()
  }
}
