package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-dump main: write `.explain("formatted")` for each named query
  * (or all) to `<outDir>/<query>_<suffix>.txt` — the optimization
  * round's before/after plan evidence. Queries are ANALYZED, not
  * executed, but multi-commit queries do run their setup writes (the
  * returned frame's plan is the final read — the part the driver
  * hashes).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("plans/r14")
    val suffix = args.lift(2).getOrElse("before")
    val names = Bench.selectQueries(args.lift(3), SparkEntry.queries.keys.toSeq)
    val spark = GraftSession(4, "ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
        println(s"[plandump] $n ok")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $n ERROR ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(160))
      }
    }
    spark.stop()
  }
}
