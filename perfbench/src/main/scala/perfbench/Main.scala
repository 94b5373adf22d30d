package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: set-up, a timed closed loop, checks, and a result
  * file that `run.py` reports from.
  *
  * {{{
  * perfbench.Main --workload tick --seed 1 --seconds 8 --trace 0 --out DIR
  *   [--sf SF_DIR (query-mix)] [--plant]
  * }}}
  */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** `graft.Bench`'s session recipe, so the benchmark measures what ships. */
  val recipe: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> "graft.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.fs.NioLocalFs")

  /** query-mix's rows; README.md gives the rule that chose them. */
  val queryMixRows: Seq[String] = Seq("q45_frame_sample", "q83_repetition", "q86_bucketed_join")
  val setupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val plant = argv.contains("--plant")
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val out = Paths.get(args("out"))
    Files.createDirectories(out)

    val builder = SparkSession.builder()
    recipe.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(spark.sparkContext, trace)
    val sparkProbe = new SparkProbe
    val streamProbe = new StreamProbe
    if (trace) {
      spark.sparkContext.addSparkListener(sparkProbe)
      spark.streams.addListener(streamProbe)
    }
    val ctx = new Ctx(spark, tracer, seed, Files.createDirectories(out.resolve("work")), plant)
    // each workload with the figure its op_p50_s reports and its set-up count
    val (w, opFigure, reps) = workload match {
      case "tick" => (new TickWorkload(ctx, days = 4, seedFiles = 50, tickFiles = 10), "tick_p50_s", setupReps)
      case "stream-read" => (new StreamReadWorkload(ctx, seedFiles = 200, roundFiles = 50,
        readsPerRound = 16), "read_set_s", setupReps)
      case "query-mix" => (new QueryMixWorkload(ctx, args("sf"), queryMixRows,
        Files.createDirectories(out.resolve("query-mix"))), "query_mix_s", 1)
      case "backfill" => (new BackfillWorkload(ctx, smallDays = 4, smallFiles = 40,
        bigFiles = 120, maxDriverPaths = 100), "backfill_cycle_s", 1)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val setups = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      Workload.secs(t0)
    }
    val setupS = sessionS + Stats.median(setups)
    // no System.gc() here: a full collection before the clock starts
    // shrinks the heap and slows the first ops after it by up to half
    w.warmUp()
    val gc0 = gcMs()
    tracer.recording = true
    val t0 = System.nanoTime()
    w.measure(t0 + (seconds * 1e9).toLong)
    val measuredS = Workload.secs(t0)
    tracer.recording = false
    val gc = gcMs() - gc0
    if (trace) sparkProbe.settle()
    w.verify()

    val figures = ctx.figures.toSeq.flatMap { case (name, (unit, xs)) =>
      if (name == "read_ms") Seq(
        "read_p50_ms" -> (unit, Stats.median(xs.toSeq), xs.size),
        // p90 with at least ten samples beyond it
        "read_p90_ms" -> (unit, if (xs.size >= 100) Stats.quantile(xs.toSeq, 0.9) else Double.NaN, xs.size))
      else Seq(name -> (unit, Stats.median(xs.toSeq), xs.size))
    }
    // the workload's operation latency, in seconds
    val opFig = figures.collectFirst { case (`opFigure`, (u, v, n)) =>
      ("s", if (u == "ms") v / 1000 else v, n)
    }
    val e2e = Seq(
      "setup_s" -> ("s", setupS, reps),
      "op_p50_s" -> opFig.getOrElse(("s", Double.NaN, 0)))
    if (opFig.isEmpty) ctx.check(s"$opFigure measured", ok = false)

    val (layers, spans) =
      if (!trace) (Nil, Nil)
      else Layers.compute(tracer, sparkProbe, streamProbe, ctx, gc)
    def metrics(xs: Seq[(String, (String, Double, Int))]): String = Json.obj(xs.map {
      case (k, (u, v, n)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u), "n" -> n.toString))
    })
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "measured_s" -> Json.num(measuredS),
      "trace" -> trace.toString,
      "session" -> Json.obj(recipe.map { case (k, v) => k -> Json.str(v) } ++
        Seq("driver.maxMemory" -> Runtime.getRuntime.maxMemory.toString)),
      "setup_reps_s" -> Json.arr(setups.map(Json.num)),
      "session_s" -> Json.num(sessionS),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "failures" -> Json.arr(ctx.failures.map(Json.str)),
      "end_to_end" -> metrics(e2e),
      "figures" -> metrics(figures),
      "samples" -> Json.obj(ctx.figures.toSeq.map { case (k, (_, xs)) => k -> Json.arr(xs.map(Json.num)) }),
      "per_layer" -> metrics(layers)))
    Files.writeString(out.resolve("result.json"), result + "\n")
    if (trace) Files.write(out.resolve("spans.jsonl"), spans.asJava)
    spark.stop()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}
