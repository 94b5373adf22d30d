package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Every metric is the median over the
  * run's ops (tick, backfill cycle, stream round, query pass) of its
  * per-op value, except the call timings the workloads sample per call.
  * A layer's self time is its spans' durations minus the part of each
  * span its child spans cover. */
object Layers {
  val layers = Seq("bench", "ingest", "graph", "table", "sources", "streaming", "spark", "operators")
  // MicroBatchExecution's phase order within one trigger
  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
  private val phaseMetric = Map("latestOffset" -> "latest_offset_ms", "walCommit" -> "wal_commit_ms",
    "getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms",
    "addBatch" -> "add_batch_ms", "commitOffsets" -> "commit_offsets_ms")

  type Metric = (String, (String, Double, Int))

  def compute(tracer: Tracer, sparkProbe: SparkProbe, streamProbe: StreamProbe,
      ctx: Ctx, gcMs: Long): (Seq[Metric], Seq[String]) = {
    val base = tracer.spans
    var nextId = (0L +: base.map(_.id)).max
    def newId(): Long = { nextId += 1; nextId }
    val byId = base.map(s => s.id -> s).toMap
    val roots = base.filter(_.parent == 0L).sortBy(_.start)

    // streaming progress phases, laid end to end from the trigger's start,
    // as children of the span the query ran under
    val progress = streamProbe.progress.asScala.toSeq
    val phaseSpans = progress.flatMap { p =>
      tracer.spanOfRun(p.runId).flatMap(byId.get).toSeq.flatMap { owner =>
        var t = p.start
        phases.flatMap(k => p.durations.get(k).map { d =>
          val s = Span(newId(), owner.id, owner.op, "streaming", k, t, t + d * 1000000L)
          t = s.end
          s
        })
      }
    }
    val addBatches = phaseSpans.filter(_.name == "addBatch")
    val slack = 5000000L // the phase layout is good to a few ms
    // what starts inside an addBatch phase ran in that batch
    def inBatch(start: Long): Option[Span] =
      addBatches.find(b => start >= b.start - slack && start <= b.end)
    // the hop runs inside the ingest batch, on the stream's thread
    val spans = base.map(s =>
      if (s.name == "DerivedStream.drain") inBatch(s.start).fold(s)(b => s.copy(parent = b.id))
      else s)
    val all0 = spans ++ phaseSpans
    val byId0 = all0.map(s => s.id -> s).toMap
    // a table write placed from lastWriteTiming takes the jobs it covers
    val writes = all0.filter(_.layer == "table").groupBy(_.parent)
    val jobs = sparkProbe.ended
    val jobSpans = jobs.flatMap { j =>
      val parent =
        if (j.group.startsWith("perfbench-")) Some(j.group.stripPrefix("perfbench-").toLong)
        else tracer.spanOfRun(j.group).map(r => inBatch(j.start).map(_.id).getOrElse(r))
      val inner = parent.map(p => writes.getOrElse(p, Nil)
        .find(w => j.start >= w.start - slack && j.end <= w.end + slack).fold(p)(_.id))
      inner.flatMap(byId0.get).map(ps =>
        Span(newId(), ps.id, ps.op, "spark", s"job ${j.id}", j.start, j.end))
    }
    val all = all0 ++ jobSpans
    val children = all.groupBy(_.parent)
    def self(s: Span): Long =
      (s.end - s.start) - Stats.covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)

    val out = scala.collection.mutable.LinkedHashMap.empty[String, (String, scala.collection.mutable.ArrayBuffer[Double])]
    def add(name: String, unit: String, v: Double): Unit =
      out.getOrElseUpdate(name, (unit, scala.collection.mutable.ArrayBuffer.empty[Double]))._2 += v

    val byOp = all.groupBy(_.op)
    roots.foreach { r =>
      val mine = byOp.getOrElse(r.id, Nil)
      layers.foreach { l =>
        add(s"self.${l}_ms", "ms", mine.filter(_.layer == l).map(self).sum / 1e6)
      }
      val js = jobs.filter(j => j.start >= r.start && j.start <= r.end)
      add("spark.jobs", "count", js.size)
      add("spark.tasks", "count", js.map(_.tasks.get).sum.toDouble)
      add("spark.job_ms", "ms", js.map(j => j.end - j.start).sum / 1e6)
      add("spark.driver_gap_ms", "ms",
        ((r.end - r.start) - Stats.covered(js.map(j => (j.start, j.end)), r.start, r.end)) / 1e6)
      add("spark.task_ms", "ms", js.map(_.taskMs.get).sum.toDouble)
      add("spark.shuffle_write_bytes", "bytes", js.map(_.shuffleWrite.get).sum.toDouble)
      add("spark.spill_bytes", "bytes", js.map(_.spill.get).sum.toDouble)
      add("spark.input_bytes", "bytes", js.map(_.input.get).sum.toDouble)
      val runs = mine.map(_.id).toSet
      val ps = progress.filter(p => tracer.spanOfRun(p.runId).exists(runs.contains))
      add("streaming.batches", "count", ps.size)
      phases.foreach(k => add(s"streaming.${phaseMetric(k)}", "ms", ps.map(_.durations.getOrElse(k, 0L)).sum.toDouble))
      add("jvm.gc_ms", "ms", gcMs.toDouble / roots.size)
    }
    add("jvm.peak_rss_mb", "MB", peakRssMb())

    val metrics = (ctx.layer.toSeq ++ out.toSeq).map { case (k, (u, xs)) =>
      k -> (u, if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq), xs.size)
    }
    val t0 = (Long.MaxValue +: all.map(_.start)).min
    val lines = all.sortBy(_.start).map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
      "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
      "start_ms" -> Json.num((s.start - t0) / 1e6), "dur_ms" -> Json.num(s.ms),
      "self_ms" -> Json.num(self(s) / 1e6))))
    (metrics, lines)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try(java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)).getOrElse(0.0)
}
