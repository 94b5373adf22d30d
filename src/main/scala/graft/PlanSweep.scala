package graft

/** Plan-audit main: analyze every SparkEntry query's PHYSICAL plan at
  * the given SF dir and flag scale-suspicious shapes —
  *
  *  - `CartesianProduct` (an unintended cross join is a scale killer);
  *  - `BroadcastNestedLoopJoin` (usually a missing equi-condition);
  *  - `Exchange SinglePartition` (a global funnel: fine for a one-row
  *    global aggregate or a final LIMIT, fatal mid-pipeline);
  *  - `Exchange rangepartitioning` outside the presentation `ORDER BY`
  *    tail (global sorts mid-plan don't scale).
  *
  * Prints one line per query (`OK` or the flag list) and a summary.
  * Known-intentional shapes are listed inline, not suppressed — the
  * point is an auditable inventory, the reader decides. Queries are
  * ANALYZED, not executed (streaming-ish queries that materialize
  * tables in their closure do run their setup writes), so a sweep is
  * minutes, not a bench run. */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession(4, "ERROR")

    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val lines = plan.linesIterator.toSeq
        def count(p: String) = lines.count(_.contains(p))
        val cart = count("CartesianProduct")
        val bnlj = count("BroadcastNestedLoopJoin")
        val single = count("Exchange SinglePartition")
        val range = count("Exchange rangepartitioning")
        // one range exchange is the presentation ORDER BY tail; more
        // than one means a mid-plan global sort
        val flags = Seq(
          if (cart > 0) Some(s"cartesian=$cart") else None,
          if (bnlj > 0) Some(s"bnlj=$bnlj") else None,
          if (single > 0) Some(s"singlePartitionExchange=$single") else None,
          if (range > 1) Some(s"rangeExchange=$range") else None).flatten
        if (flags.isEmpty) println(s"[plan] $name OK")
        else { flagged += 1; println(s"[plan] $name FLAG ${flags.mkString(",")}") }
      } catch {
        case e: Throwable =>
          flagged += 1
          println(s"[plan] $name ERROR ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(120))
      }
    }
    println(s"[plan] swept ${SparkEntry.queries.size} queries, $flagged flagged")
    spark.stop()
  }
}
