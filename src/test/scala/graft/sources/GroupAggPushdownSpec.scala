package graft.sources

import graft.SparkSpec
import graft.table.IncrementalTable

/** X106: GROUP-BY-partition aggregate pushdown — `COUNT(*)` / integral
  * MIN/MAX grouped by identity integral partition columns answer from
  * the commit log's per-file tallies and [min,max] index: zero data
  * files open (the partition-stats dashboard query). Complete or
  * nothing: deletion vectors, equality deletes, filters, stat-less
  * files, transformed/non-integral group columns all decline to a real
  * scan that stays exact. */
class GroupAggPushdownSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat: String = {
    val wh = tmpDir("gagg_wh")
    spark.conf.set("spark.sql.catalog.gagg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gagg.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gagg.ns")
    "gagg"
  }

  private def root(n: String) =
    spark.conf.get("spark.sql.catalog.gagg.warehouse") + s"/ns/$n"

  test("COUNT(*)/MIN/MAX GROUP BY partition answer from metadata") {
    spark.sql(s"CREATE TABLE $cat.ns.t (id BIGINT, p INT) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('graft.statsColumns' = 'id')")
    spark.sql(s"INSERT INTO $cat.ns.t " +
      "SELECT id, CAST(id % 3 AS INT) FROM range(90)")
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1000, 1)")
    val out = spark.sql(
      s"SELECT p, COUNT(*) AS n, MIN(id) AS lo, MAX(id) AS hi " +
        s"FROM $cat.ns.t GROUP BY p ORDER BY p")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(out == Seq((0, 30L, 0L, 87L), (1, 31L, 1L, 1000L),
      (2, 30L, 2L, 89L)))
    val scan = GraftRelation.lastScan(root("t")).get
    assert(scan.filesScanned == 0,
      s"grouped metadata answer must open no files (${scan.pushed})")
  }

  test("declines stay exact: filters, deletes, missing stats") {
    spark.sql(s"CREATE TABLE $cat.ns.d (id BIGINT, p INT) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('graft.statsColumns' = 'id')")
    spark.sql(s"INSERT INTO $cat.ns.d " +
      "SELECT id, CAST(id % 2 AS INT) FROM range(40)")
    // a filter declines the pushdown; the scan answer is exact
    val filtered = spark.sql(s"SELECT p, COUNT(*) AS n FROM $cat.ns.d " +
      "WHERE id >= 20 GROUP BY p ORDER BY p")
      .as[(Int, Long)].collect().toSeq
    assert(filtered == Seq((0, 10L), (1, 10L)))
    assert(GraftRelation.lastScan(root("d")).get.filesScanned > 0)
    // a standing equality delete declines; the scan stays exact
    val t = IncrementalTable(spark, root("d"))
    t.deleteByKey(Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    val afterDel = spark.sql(s"SELECT p, COUNT(*) AS n FROM $cat.ns.d " +
      "GROUP BY p ORDER BY p").as[(Int, Long)].collect().toSeq
    assert(afterDel == Seq((0, 20L), (1, 19L)))
    assert(GraftRelation.lastScan(root("d")).get.filesScanned > 0)
  }

  test("metadata-only COUNT(*) is a local scan: same answer, no scan job") {
    spark.sql(s"CREATE TABLE $cat.ns.c (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.statsColumns' = 'id')")
    spark.sql(s"INSERT INTO $cat.ns.c SELECT id, id FROM range(70)")
    spark.sql(s"INSERT INTO $cat.ns.c SELECT id, id FROM range(70, 100)")
    val q = spark.sql(s"SELECT COUNT(*) FROM $cat.ns.c")
    val (n, jobs) = jobsDuring(q.as[Long].head())
    assert(n == 100L)
    assert(GraftRelation.lastScan(root("c")).get.filesScanned == 0)
    // the answer is one LocalTableScan row collected on the driver; the
    // V1 form's parallelized one-row RDD cost a job per read
    assert(jobs == 0, s"metadata COUNT(*) ran $jobs Spark jobs")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
  }
}
