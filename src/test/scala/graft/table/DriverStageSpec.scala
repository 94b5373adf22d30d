package graft.table

import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{lit, parse_json}

import graft.SparkSpec

/** The write's driver-side stage: a small local frame stages on the
  * driver with no Spark job, and what it commits equals what Spark's
  * stage commits for the same rows (forced with `.repartition(2)`):
  * rows, partition dirs, committed schema, per-dir footer stats and
  * the `statMeta` watermark. Frames it does not encode the way Spark
  * does keep Spark's stage. */
class DriverStageSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): IncrementalTable =
    IncrementalTable(spark, tmpDir("driverstage") + s"/$name")

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  private def dirOf(rel: String): String = rel.split("/").dropRight(1).mkString("/")

  private def merge(a: ColStat, b: ColStat): ColStat = ColStat(
    math.min(a.min, b.min), math.max(a.max, b.max),
    (a.minS ++ b.minS).minOption, (a.maxS ++ b.maxS).maxOption,
    for (x <- a.nulls; y <- b.nulls) yield x + y,
    for (x <- a.rows; y <- b.rows) yield x + y,
    (a.minD ++ b.minD).minOption, (a.maxD ++ b.maxD).maxOption)

  /** A commit's footer stats merged per partition dir: the Spark stage
    * may split a dir over several files, the driver stage writes one. */
  private def statsByDir(c: Commit): Map[String, Map[String, ColStat]] =
    c.fileStats.toSeq.groupBy(kv => dirOf(kv._1)).view.mapValues { files =>
      files.flatMap(_._2).groupBy(_._1).view.mapValues(_.map(_._2).reduce(merge)).toMap
    }.toMap

  /** Write `df` into one fresh table (driver stage, no job) and
    * `df.repartition(2)` into another (Spark's stage, at least one job),
    * after `setup` on each. */
  private def twins(name: String, df: DataFrame,
      setup: IncrementalTable => Unit = _ => ())(
      write: (IncrementalTable, DataFrame) => Option[Commit])
      : (IncrementalTable, IncrementalTable) = {
    val local = table(s"${name}_driver")
    val viaSpark = table(s"${name}_spark")
    setup(local)
    setup(viaSpark)
    val (_, localJobs) = jobsDuring(write(local, df))
    val (_, sparkJobs) = jobsDuring(write(viaSpark, df.repartition(2)))
    assert(localJobs == 0, s"the driver-side stage ran $localJobs Spark jobs")
    assert(sparkJobs >= 1, "the repartitioned frame did not take Spark's stage")
    (local, viaSpark)
  }

  private def assertSameCommit(local: IncrementalTable, viaSpark: IncrementalTable): Unit = {
    assert(local.read().schema == viaSpark.read().schema)
    assert(multiset(local.read()) == multiset(viaSpark.read()))
    assert(local.liveFiles().map(dirOf).toSet == viaSpark.liveFiles().map(dirOf).toSet)
    val (l, s) = (local.commits().last, viaSpark.commits().last)
    assert(l.action == s.action)
    assert(l.schemaJson == s.schemaJson)
    assert(l.meta == s.meta)
    assert(statsByDir(l) == statsByDir(s))
  }

  /** The codecs of the table's row groups (Spark's stage may also
    * commit a schema-only file for an empty task, which has none). */
  private def codecOf(t: IncrementalTable): Set[String] = t.liveFiles().flatMap { rel =>
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(t.root, rel), spark.sparkContext.hadoopConfiguration))
    try rd.getFooter.getBlocks.asScala.map(_.getColumns.get(0).getCodec.toString)
    finally rd.close()
  }.toSet

  test("partition dirs (null, escaped string, date) and stats match Spark's stage") {
    val d26 = Date.valueOf("2024-03-26")
    val d27 = Date.valueOf("2024-03-27")
    val df = Seq[(Long, String, Date, String)](
      (1L, "a", d26, "a/b:c%d=e"), (2L, "b", d26, null), (3L, "c", d27, "x y#z"),
      (4L, "d", d27, "plain"), (5L, "e", d27, ""), (6L, "f", d26, "plain"))
      .toDF("id", "v", "d", "s")
    val (local, viaSpark) = twins("parts", df) { (t, f) =>
      t.append(f, partitionBy = Seq("d", "s"), statsColumns = Seq("id", "v"),
        statMeta = Seq(StatMeta("watermark/x", "id")))
    }
    assertSameCommit(local, viaSpark)
    val dirs = local.liveFiles().map(dirOf)
    assert(dirs.distinct.size == dirs.size, "one file per partition dir")
    assert(dirs.toSet == Set("d=2024-03-26/s=a%2Fb%3Ac%25d%3De",
      "d=2024-03-26/s=__HIVE_DEFAULT_PARTITION__", "d=2024-03-26/s=plain",
      "d=2024-03-27/s=x y%23z", "d=2024-03-27/s=plain",
      "d=2024-03-27/s=__HIVE_DEFAULT_PARTITION__"))
    assert(local.latestMeta("watermark/x").contains("7"))
  }

  test("empty writes: partitioned stages nothing, unpartitioned widens the schema") {
    val empty = Seq.empty[(Long, String, Int)].toDF("id", "v", "p")
    val (pl, ps) = twins("emptyparts", empty) { (t, f) =>
      t.append(f, partitionBy = Seq("p"), statMeta = Seq(StatMeta("watermark/x", "id", floor = 7L)))
    }
    assert(pl.liveFiles().isEmpty && ps.liveFiles().isEmpty)
    assert(pl.commits().map(_.action) == ps.commits().map(_.action))
    assert(pl.latestMeta("watermark/x").contains("7") &&
      ps.latestMeta("watermark/x").contains("7"))

    val widening = Seq.empty[(Long, String, Long)].toDF("id", "v", "c")
    val (ul, us) = twins("emptyflat", widening,
        t => { t.append(Seq((1L, "a")).toDF("id", "v"), Nil); () }) { (t, f) =>
      t.append(f, Nil)
    }
    assertSameCommit(ul, us)
    assert(ul.liveFiles().size == 1 && ul.read().columns.toSeq == Seq("id", "v", "c"))
  }

  test("the codec is the table's graft.parquet.compression, else the session's") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val (zl, zs) = twins("zstd", df,
        t => { t.create(df.schema, meta = Map("prop/graft.parquet.compression" -> "zstd")); () }) {
      (t, f) => t.append(f, Nil)
    }
    assertSameCommit(zl, zs)
    assert(codecOf(zl) == Set("ZSTD") && codecOf(zs) == Set("ZSTD"))

    val key = "spark.sql.parquet.compression.codec"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "gzip")
    try {
      val (gl, gs) = twins("session", df)((t, f) => t.append(f, Nil))
      assertSameCommit(gl, gs)
      assert(codecOf(gl) == Set("GZIP") && codecOf(gs) == Set("GZIP"))
    } finally spark.conf.set(key, saved)
  }

  test("bloom columns, an unsupported type and an over-bound frame keep Spark's stage") {
    val small = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val bloom = table("bloom")
    val (_, bloomJobs) = jobsDuring(bloom.append(small, Nil, bloomColumns = Seq("id")))
    assert(bloomJobs >= 1, "a write with bloom columns staged on the driver")

    val variant = table("variant")
    val withVariant = small.withColumn("j", parse_json(lit("""{"k": 1}""")))
    val (_, variantJobs) = jobsDuring(variant.append(withVariant, Nil))
    assert(variantJobs >= 1, "a Variant column staged on the driver")
    assert(variant.read().selectExpr("variant_get(j, '$.k', 'int')").as[Int].collect()
      .toSeq == Seq(1, 1))

    val big = table("big")
    val rows = (0 until 150000).map(i => (i.toLong, s"name-$i")).toDF("id", "v")
    val (_, bigJobs) = jobsDuring(big.append(rows, Nil))
    assert(bigJobs >= 1, "a frame above the byte bound staged on the driver")
    assert(big.read().count() == 150000)
  }
}
