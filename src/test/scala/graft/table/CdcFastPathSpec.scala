package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ReplicateRows
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** The change feed's per-commit emission: a commit with no removed
  * files is its own insert set and a commit with no added files its
  * own delete set, read with a plain scan; only a commit with both runs
  * the copy-on-write `exceptAll` cancellation. Every case compares the
  * feed as a multiset with rows known by construction. */
class CdcFastPathSpec extends SparkSpec {
  import spark.implicits._

  /** (id, v, change type, commit version), sorted: a multiset. */
  private def feed(df: DataFrame): Seq[(Long, String, String, Long)] =
    df.select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSeq.sorted

  private def replicates(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case g: Generate if g.generator.isInstanceOf[ReplicateRows] => g
    }.isDefined

  test("an append keeps its batch's duplicate rows") {
    val t = IncrementalTable(spark, tmpDir("cdcfast") + "/dup")
    t.append(Seq((1L, "a")).toDF("id", "v"), Nil)
    val rows = Seq((2L, "b"), (2L, "b"), (2L, "b"), (3L, "c"), (3L, "c"))
    val c = t.append(rows.toDF("id", "v"), Nil).get
    assert(feed(t.changes(c.version, c.version)) ==
      rows.map { case (i, v) => (i, v, "insert", c.version) }.sorted)
    assert(t.changes(c.version, c.version).columns.toSeq ==
      Seq("id", "v", "_change_type", "_commit_version"))
  }

  test("a replaceWhere down to zero rows emits exactly the removed rows as deletes") {
    val t = IncrementalTable(spark, tmpDir("cdcfast") + "/drop")
    t.append(Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v"), Seq("p"),
      Map("p" -> "x"))
    t.append(Seq((3L, "c")).toDF("id", "v"), Seq("p"), Map("p" -> "y"))
    val c = t.replaceWhere(Seq.empty[(Long, String)].toDF("id", "v"), Seq("p"),
      Map("p" -> "x"), Map("p" -> "x")).get
    assert(c.add.isEmpty && c.remove.nonEmpty, c.toString)
    val ch = t.changes(c.version, c.version)
    assert(!replicates(ch))
    assert(feed(ch) == Seq((1L, "a", "delete", c.version),
      (1L, "a", "delete", c.version), (2L, "b", "delete", c.version)))
    assert(t.read().select($"id").as[Long].collect().toSeq == Seq(3L))
  }

  test("a mixed replace still cancels the rows it left unchanged") {
    val t = IncrementalTable(spark, tmpDir("cdcfast") + "/mixed")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "c")).toDF("id", "v")
      .repartition(1), Nil)
    val c = t.replaceWhere(Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"))
      .toDF("id", "v"), Nil, Map.empty, Map.empty).get
    assert(c.add.nonEmpty && c.remove.nonEmpty, c.toString)
    val ch = t.changes(c.version, c.version)
    // the cancellation is what the shuffle is for
    assert(replicates(ch))
    assert(feed(ch) == Seq((2L, "B", "insert", c.version),
      (2L, "b", "delete", c.version), (3L, "c", "delete", c.version),
      (4L, "d", "insert", c.version)))
  }

  test("a row-tracked append exposes _row_id as the files' stable ids") {
    val t = IncrementalTable(spark, tmpDir("cdcfast") + "/rid")
    t.create(StructType.fromDDL("id BIGINT, v STRING"),
      meta = Map("prop/graft.rowTracking" -> "true"))
    t.append(Seq((1L, "a")).toDF("id", "v"), Nil)
    val c = t.append(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), Nil).get
    val minted = c.add.flatMap { f =>
      spark.read.parquet(s"${t.root}/$f")
        .select(col("id"), col(IncrementalTable.RowIdCol)).as[(Long, Long)].collect()
    }.toMap
    assert(minted.keySet == Set(2L, 3L) && minted.values.toSet.size == 2)
    val withId = t.changes(c.version, c.version, includeRowId = true)
    // the id leads, as on every commit whose sides are paired by id
    assert(withId.columns.toSeq ==
      Seq("_row_id", "id", "v", "_change_type", "_commit_version"))
    assert(withId.select($"id", $"_row_id", $"_change_type")
      .as[(Long, Long, String)].collect().toSeq.sorted ==
      minted.toSeq.map { case (i, r) => (i, r, "insert") }.sorted)
    // without includeRowId the internal id column stays hidden
    assert(t.changes(c.version, c.version).columns.toSeq ==
      Seq("id", "v", "_change_type", "_commit_version"))
  }

  test("an upsertByKey append still emits its equality-delete rows") {
    val t = IncrementalTable(spark, tmpDir("cdcfast") + "/upsert")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Nil)
    val c = t.upsertByKey(Seq((2L, "b2"), (9L, "z")).toDF("id", "v"), Seq("id")).get
    assert(c.remove.isEmpty, c.toString)
    assert(feed(t.changes(c.version, c.version)) == Seq(
      (2L, "b", "delete", c.version), (2L, "b2", "insert", c.version),
      (9L, "z", "insert", c.version)))
  }

  test("a plain append's feed is a plain scan: no ReplicateRows, as many jobs as readCommit") {
    val t = IncrementalTable(spark, tmpDir("cdcfast") + "/plan")
    t.append(spark.range(0, 20).toDF("id").withColumn("v", lit("x")), Nil)
    val c = t.append(spark.range(20, 50).toDF("id").withColumn("v", lit("y"))
      .repartition(3), Nil).get
    val ch = t.changes(c.version, c.version)
    assert(!replicates(ch), ch.queryExecution.optimizedPlan.treeString)
    val (n, cdcJobs) = jobsDuring(t.changes(c.version, c.version).count())
    val (m, readJobs) = jobsDuring(t.readCommit(c.version).count())
    assert(n == 30 && m == 30)
    assert(cdcJobs == readJobs, s"changes ran $cdcJobs jobs, readCommit $readJobs")
  }
}
