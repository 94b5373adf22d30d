package graft.sources

import graft.SparkSpec
import graft.table.IncrementalTable

/** [[GraftBatchScan]] prunes once per filter set: the cost estimate
  * the planner reads and the partition plan share one survivor list.
  * On a columnar-checkpointed table the skipping-index prune is itself
  * a Spark job, so a second prune shows as a second job. */
class GraftBatchScanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat: String = {
    val wh = tmpDir("gbscan_wh")
    spark.conf.set("spark.sql.catalog.gbscan", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbscan.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gbscan.lake")
    "gbscan"
  }

  test("a filtered join over a columnar-checkpointed table prunes once") {
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/ck"
    val t = new IncrementalTable(spark, root, checkpointEvery = 3,
      parquetThreshold = 0)
    Seq((0L, 100L), (100L, 200L), (200L, 300L), (300L, 400L)).foreach {
      case (lo, hi) =>
        t.append(spark.range(lo, hi).toDF("k").withColumn("v", $"k" * 3)
          .repartition(1), Nil, statsColumns = Seq("k"))
    }
    assert(t.commits().head.columnarCkpt, "head checkpoint is not columnar")
    Seq((250L, "a"), (310L, "b"), (5L, "c")).toDF("dk", "name")
      .createOrReplaceTempView("gbscan_dim")
    val q = s"SELECT f.k, f.v, d.name FROM $cat.lake.ck f " +
      "JOIN gbscan_dim d ON f.k = d.dk WHERE f.k >= 200"
    val (rows, jobs) = jobsDuring(
      spark.sql(q).as[(Long, Long, String)].collect().toSeq.sorted)
    assert(rows == Seq((250L, 750L, "a"), (310L, 930L, "b")))
    val scan = GraftRelation.lastScan(t.root).get
    assert(scan.filesScanned == 2, scan.toString)
    // the scan read both the estimate and the plan from one prune job;
    // a second prune per scan (statistics, then partitions) ran 7
    assert(jobs <= 6, s"filtered join ran $jobs Spark jobs")
  }
}
