package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe every main and the test suite run on, so
  * what is measured and tested is what ships (Pathling's idempotent
  * session setup is the pattern).
  *
  * The two `fs` settings make the local filesystem fork-free: without
  * native libhadoop, stock Hadoop shells out per created dir/file
  * (`chmod`) and per atomic rename (`readlink`) — see
  * [[graft.fs.NioLocalFileSystem]] for the FileSystem API and
  * [[graft.fs.NioLocalFs]] for FileContext (streaming checkpoint logs
  * and state stores resolve `file:` through AbstractFileSystem, which
  * never consults `fs.file.impl`). Clusters with libhadoop or non-local
  * storage are unaffected by them. */
object GraftSession {
  def recipe(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> "graft.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.fs.NioLocalFs")

  /** `SPARK_GRAFT_CPUS`, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def builder(cores: Int): SparkSession.Builder =
    recipe(cores).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** The session on `cores` local cores, at the given log level. */
  def apply(cores: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
