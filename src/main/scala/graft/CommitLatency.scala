package graft

import graft.table.IncrementalTable

/** Commit-latency audit main (VERDICT r12 #3 — the data-plane twin of
  * the r12 metadata-scale audit): measure ONE append commit's phase
  * breakdown at the bench SF, for the commit-protocol-dominated bench
  * rows (q164/q103/q138 run 4-8 commits each). Phases come from the
  * write choke point's own marks ([[IncrementalTable.lastWriteTiming]]):
  * stage (the Spark parquet job, input compute included), harvest
  * (footer stats pass), promote (renames), publish (OCC
  * read-check-publish + meta fold). A metadata-only `commitMeta` loop
  * is measured alongside as the pure OCC/fsync floor — the latency a
  * zero-row commit cannot go below on this filesystem. Prints one
  * summary line per phase (median over the appends). */
object CommitLatency {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession(GraftSession.envCores(4), "ERROR")
    import org.apache.spark.sql.functions._
    import spark.implicits._

    val tmp = QueryTmp.dir("graft_commitlat_")
    val t = IncrementalTable(spark, s"$tmp/t/v1")
    // the q164/q103 commit shape: a per-chunk slice of events with the
    // usual derived columns, statsColumns exercising the harvest
    val src = Tables.events(spark, sfDir).select(
      date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type",
      get_json_object($"props", "$.k").cast("long").as("k"),
      $"value", $"event_id").cache()
    src.count() // materialize once — appends then measure commit cost,
                // not repeated json parsing of the source
    val chunks = 8
    val timings = (0 until chunks).flatMap { i =>
      t.append(src.filter($"event_id" % chunks === i).drop("event_id"),
        Nil, statsColumns = Seq("k", "day"))
      t.lastWriteTiming
    }
    def median[T: Ordering](xs: Seq[T]): T = {
      val s = xs.sorted; s(s.size / 2)
    }
    println(f"[commitlat] appends=${timings.size} files/commit=${
      median(timings.map(_.files))}")
    println(f"[commitlat] stage_ms=${median(timings.map(_.stageMs))}%.2f " +
      f"harvest_ms=${median(timings.map(_.harvestMs))}%.2f " +
      f"promote_ms=${median(timings.map(_.promoteMs))}%.2f " +
      f"publish_ms=${median(timings.map(_.publishMs))}%.2f " +
      f"total_ms=${median(timings.map(_.totalMs))}%.2f")
    // the pure OCC floor: metadata-only commits (no stage, no files)
    val metaMs = (0 until 9).map { i =>
      val t0 = System.nanoTime()
      t.commitMeta(Map(s"probe/run" -> i.toString))
      (System.nanoTime() - t0) / 1e6
    }
    println(f"[commitlat] meta_commit_ms=${median(metaMs)}%.2f " +
      s"(pure OCC read-check-publish floor, ${metaMs.size} samples)")
    spark.stop()
  }
}
