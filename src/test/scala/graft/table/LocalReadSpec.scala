package graft.table

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, sha2}
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

import graft.SparkSpec

/** `readLocal`: the driver-side twin of `read` for small, plain
  * partitions. Where it applies it must equal `read` (schema and row
  * multiset) and run no Spark job; everywhere else it declines with
  * None and the caller keeps the Spark read. */
class LocalReadSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): IncrementalTable =
    IncrementalTable(spark, tmpDir("localread") + s"/$name")

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  /** `readLocal(filters)` is a driver-side frame equal to `read(filters)`. */
  private def sameAsRead(t: IncrementalTable,
      filters: Map[String, String] = Map.empty): DataFrame = {
    val local = t.readLocal(filters).getOrElse(fail(s"no driver-side read of ${t.root}"))
    val viaSpark = t.read(filters)
    assert(local.schema == viaSpark.schema)
    assert(multiset(local) == multiset(viaSpark))
    local
  }

  test("typed partition columns (int, date, escaped string) read on the driver as read does") {
    val t = table("typed")
    val d26 = Date.valueOf("2024-03-26")
    val d27 = Date.valueOf("2024-03-27")
    t.append(Seq[(Int, Date, String, Long)](
        (1, d26, "a/b:c%d=e", 10L), (1, d26, "plain", 11L),
        (2, d27, "x y#z", 12L), (2, d27, null, 13L))
      .toDF("i", "d", "s", "v"), partitionBy = Seq("i", "d", "s"))
    t.append(Seq[(Int, Date, String, Long)]((1, d27, "a/b:c%d=e", 14L))
      .toDF("i", "d", "s", "v"), partitionBy = Seq("i", "d", "s"))

    val all = sameAsRead(t)
    assert(all.count() == 5)
    assert(all.filter($"s" === "a/b:c%d=e").select("v").as[Long].collect().sorted
      .toSeq == Seq(10L, 14L))
    assert(sameAsRead(t, Map("i" -> "1")).count() == 3)
    assert(sameAsRead(t, Map("i" -> "3")).count() == 0)

    // a filter, projection and collect over it fold into the local rows
    val (vs, jobs) = jobsDuring(t.readLocal(Map("i" -> "2")).get
      .filter($"v" > 12L).select("v").as[Long].collect().toSeq)
    assert(vs == Seq(13L))
    assert(jobs == 0, s"driver-side read + filtered collect ran $jobs Spark jobs")
    assert(t.readLocal().get.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("a column added by addColumns reads null-filled from older files") {
    val t = table("added")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Nil)
    t.addColumns(StructType.fromDDL("c BIGINT"))
    t.append(Seq((3L, "c", 30L)).toDF("id", "v", "c"), Nil)
    val local = sameAsRead(t)
    assert(local.select("id", "c").as[(Long, Option[Long])].collect().sortBy(_._1).toSeq ==
      Seq((1L, None), (2L, None), (3L, Some(30L))))
  }

  test("a widened column type reads older, narrower files widened") {
    val t = table("widened")
    t.append(Seq((1, 1.5f), (2, 2.25f)).toDF("k", "f"), Nil)
    t.alter(widen = Map("k" -> LongType, "f" -> DoubleType))
    t.append(Seq((3L, 3.125d)).toDF("k", "f"), Nil)
    val local = sameAsRead(t)
    assert(local.schema("k").dataType == LongType && local.schema("f").dataType == DoubleType)
    assert(local.as[(Long, Double)].collect().sorted.toSeq ==
      Seq((1L, 1.5d), (2L, 2.25d), (3L, 3.125d)))
  }

  test("reused decodes stay equal to read across appends, a new column and a compaction") {
    val t = table("reused")
    val day = Map("p" -> "1")
    t.append(Seq((1L, "a", 1), (2L, "b", 1), (9L, "z", 2)).toDF("id", "v", "p"),
      partitionBy = Seq("p"))
    assert(sameAsRead(t, day).count() == 2)
    t.append(Seq((3L, "c", 1)).toDF("id", "v", "p"), partitionBy = Seq("p"))
    assert(sameAsRead(t, day).count() == 3)
    t.addColumns(StructType.fromDDL("c BIGINT"))
    val widened = sameAsRead(t, day)
    assert(widened.columns.contains("c") && widened.filter($"c".isNotNull).count() == 0)
    t.compact(day)
    assert(t.liveFiles(day).size == 1)
    assert(sameAsRead(t, day).count() == 3)
    assert(sameAsRead(t).count() == 4)
  }

  private def seeded(name: String): IncrementalTable = {
    val t = table(name)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), Nil)
    t
  }

  test("declines deletion vectors, equality deletes, renamed columns and shallow clones") {
    val dv = seeded("dv")
    assert(dv.readLocal().isDefined)
    dv.deleteVectorized(col("id") === 2L)
    assert(dv.readLocal().isEmpty, "a file with a deletion vector")

    val eq = seeded("eq")
    eq.deleteByKey(Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    assert(eq.readLocal().isEmpty, "an equality delete in force")

    val renamed = seeded("renamed")
    renamed.renameColumn("v", "w")
    assert(renamed.readLocal().isEmpty, "a column-mapped (renamed) column")

    val src = seeded("src")
    val dst = src.root + "_clone"
    src.cloneTo(dst)
    val clone = IncrementalTable(spark, dst)
    assert(clone.liveFiles().forall(_.startsWith("/")))
    assert(clone.readLocal().isEmpty, "shallow-clone (foreign) files")
    // the Spark read still serves every declined case
    assert(dv.read().count() == 2 && eq.read().count() == 2 &&
      renamed.read().count() == 3 && clone.read().count() == 3)
  }

  test("declines more files or bytes than the driver-side bounds") {
    val many = table("many")
    val maxFiles = IncrementalTable.LocalReadMaxFiles
    many.append((0 until maxFiles + 1).map(i => (i.toLong, i)).toDF("id", "p"),
      partitionBy = Seq("p"))
    assert(many.liveFiles().size == maxFiles + 1)
    assert(many.readLocal().isEmpty, "more files than the listing threshold")
    assert(many.readLocal(Map("p" -> "3")).isDefined, "one partition of them")

    val big = table("big")
    big.append(spark.range(0, 250000).select(sha2(col("id").cast("string"), 256).as("h"))
      .repartition(1), Nil)
    assert(big.liveFiles().size == 1)
    assert(big.liveBytes() > IncrementalTable.LocalReadMaxBytes)
    assert(big.readLocal().isEmpty, "more bytes than the byte bound")
  }
}
