package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB profile of one query (guide §1): multi-commit pipeline
  * queries spend their time across MANY Spark jobs (stage writes,
  * footer harvests, maintenance merges) that a single final-plan
  * explain never shows. This main runs one query end-to-end (after an
  * untimed warmup run) and prints every job's wall time, task count
  * and call site, so the expensive LEG of a pipeline is attributable.
  *
  * Usage: runMain graft.QueryProfile <q1,q2,...> [sfDir]
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val qnames = Bench.selectQueries(Some(args.headOption.getOrElse(
      sys.error("usage: QueryProfile <q1,q2,...> [sfDir]"))),
      SparkEntry.queries.keys.toSeq)
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession(GraftSession.envCores(32), "ERROR")

    case class Job(id: Int, start: Long, var end: Long = 0L,
      var site: String = "", var tasks: Int = 0, var stages: Int = 0)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageOwner = mutable.HashMap[Int, Int]() // stageId -> jobId
    val lock = new Object
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
        val job = Job(j.jobId, j.time)
        job.site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs(j.jobId) = job
        // declared stage set at submission: the only attribution that
        // survives overlapping jobs (ADVICE r14 — streaming foreachBatch
        // queries run concurrent jobs, and "latest open job" charged
        // them to the wrong row)
        j.stageIds.foreach(sid => stageOwner(sid) = j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
        jobs.get(j.jobId).foreach(_.end = j.time)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          stageOwner.get(s.stageInfo.stageId)
            .flatMap(jobs.get).foreach { job =>
              job.stages += 1
              job.tasks += s.stageInfo.numTasks
            }
        }
    })

    qnames.foreach { qname =>
      val fn = SparkEntry.queries.getOrElse(qname,
        sys.error(s"unknown query $qname"))
      // warmup (untimed): JIT, codegen cache, parquet footer cache
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      lock.synchronized { jobs.clear(); stageOwner.clear() }

      // GAP sampler (guide §7.3, in-process): every ~15 ms, when NO
      // job is open, histogram the busiest RUNNABLE thread's first
      // interesting frame — attributes the wall-minus-job-sum driver
      // time (Catalyst, commit protocol, log I/O) that job rows can't.
      val gapHist = mutable.HashMap[String, Int]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val open = lock.synchronized(jobs.values.exists(_.end == 0L))
          if (!open) {
            val frames = Thread.getAllStackTraces.entrySet().iterator()
            var best: String = null
            while (frames.hasNext) {
              val e = frames.next()
              val t = e.getKey
              // skip the async cleanup daemons: they are RUNNABLE in
              // gaps by design but deliberately off the critical path —
              // sampling them would mask the frames that actually block
              if (t.getState == Thread.State.RUNNABLE &&
                  !t.getName.contains("gap-sampler") &&
                  !t.getName.startsWith("graft-staging-gc") &&
                  !t.getName.startsWith("graft-querytmp-gc")) {
                val fr = e.getValue.find { f =>
                  val c = f.getClassName
                  (c.startsWith("org.apache.spark") || c.startsWith("graft.") ||
                    c.startsWith("org.apache.hadoop") ||
                    c.startsWith("org.apache.parquet")) &&
                    !c.contains("ContextCleaner")
                }
                if (fr.isDefined && best == null)
                  best = fr.get.getClassName + "." + fr.get.getMethodName
              }
            }
            if (best != null)
              gapHist.synchronized { gapHist(best) = gapHist.getOrElse(best, 0) + 1 }
          }
          Thread.sleep(15)
        }
      }, "gap-sampler")
      sampler.setDaemon(true)
      sampler.start()

      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      sampling = false
      sampler.join(500)
      Thread.sleep(300) // listener bus drain
      lock.synchronized {
        val rows = jobs.values.toSeq
        val jsum = rows.map(j => (j.end - j.start).max(0L)).sum / 1e3
        println(f"[profile] $qname wall=$wall%.3f s, jobs=${rows.size}, job-sum=$jsum%.3f s (gap=driver/protocol time)")
        rows.foreach { j =>
          val ms = (j.end - j.start).max(0L)
          println(f"[profile]   job=${j.id}%3d ${ms}%6d ms stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site}")
        }
      }
      gapHist.synchronized {
        gapHist.toSeq.sortBy(-_._2).take(15).foreach { case (f, n) =>
          println(f"[profile]   gap $n%4d  $f")
        }
      }
    }
    spark.stop()
  }
}
