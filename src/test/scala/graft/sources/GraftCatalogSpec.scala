package graft.sources

import graft.SparkSpec
import graft.table.IncrementalTable
import org.apache.spark.sql.functions.col

/** The DSv2 catalog front door (X52): graft tables addressable by NAME
  * in pure SQL — CREATE/CTAS/INSERT/INSERT OVERWRITE/DELETE/TRUNCATE/
  * ALTER/DROP/SHOW plus VERSION AS OF / TIMESTAMP AS OF time travel —
  * all bridging into the same commit log and pruned scan as the
  * path-based `format("graft")` door. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  // one warehouse per suite: catalog instances are memoized per name by
  // Spark's CatalogManager, so the warehouse conf must be stable
  private lazy val cat: String = {
    val wh = tmpDir("gcat_wh")
    spark.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.lake")
    "gcat"
  }

  test("CREATE TABLE + INSERT INTO + SELECT by name") {
    spark.sql(s"CREATE TABLE $cat.lake.t1 (k BIGINT, v BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.lake.t1 " +
      "SELECT id, id * 2, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END FROM range(10)")
    val out = spark.sql(s"SELECT k, v, seg FROM $cat.lake.t1 ORDER BY k")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == (0L until 10L).map(i =>
      (i, i * 2, if (i % 2 == 0) "A" else "B")))
    // the commit went through the library's log — same table, same state
    val t = IncrementalTable(spark,
      spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/t1")
    assert(t.partitionColumns == Seq("seg"))
    assert(t.read().count() == 10)
  }

  test("pushed range predicate prunes files through the catalog scan") {
    spark.sql(s"CREATE TABLE $cat.lake.pr (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.statsColumns'='k')")
    // three single-file inserts with disjoint k ranges → 3 indexed files
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO $cat.lake.pr " +
        s"SELECT /*+ COALESCE(1) */ id, id * 7 FROM range($lo, $hi)")
    }
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/pr"
    val df = spark.sql(s"SELECT k, v FROM $cat.lake.pr WHERE k >= 210 AND k < 250")
    assert(df.as[(Long, Long)].collect().map(_._1).sorted.toSeq == (210L until 250L))
    val scan = GraftRelation.lastScan(root).get
    assert(scan.filesLive == 3, scan.toString)
    assert(scan.filesScanned == 1, s"expected 1 surviving file, got $scan")
    // the DSv2 plan carries the pushed filters on the bridged V1 scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
  }

  test("DELETE FROM routes into copy-on-write delete") {
    spark.sql(s"CREATE TABLE $cat.lake.del (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.del SELECT id, id FROM range(100)")
    spark.sql(s"DELETE FROM $cat.lake.del WHERE k >= 40 AND k < 60")
    val left = spark.sql(s"SELECT k FROM $cat.lake.del").as[Long].collect().toSet
    assert(left == ((0L until 40L) ++ (60L until 100L)).toSet)
    // untranslatable predicate fails loudly rather than deleting wrong rows
    intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.lake.del WHERE k % 3 = 0")
    }
    ()
  }

  test("INSERT OVERWRITE: full truncate and static partition scope") {
    spark.sql(s"CREATE TABLE $cat.lake.ow (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.lake.ow " +
      "SELECT id, CASE WHEN id < 5 THEN 'A' ELSE 'B' END FROM range(10)")
    // static partition overwrite replaces exactly that partition
    spark.sql(s"INSERT OVERWRITE $cat.lake.ow PARTITION (seg = 'A') " +
      "SELECT id + 100 FROM range(2)")
    val afterPart = spark.sql(s"SELECT k, seg FROM $cat.lake.ow ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(afterPart.filter(_._2 == "A").map(_._1) == Seq(100L, 101L))
    assert(afterPart.filter(_._2 == "B").map(_._1) == (5L until 10L))
    // full overwrite truncates everything in one atomic commit
    spark.sql(s"INSERT OVERWRITE $cat.lake.ow SELECT id, 'C' FROM range(3)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ow").as[Long].head() == 3)
    assert(spark.sql(s"SELECT DISTINCT seg FROM $cat.lake.ow")
      .as[String].collect().toSeq == Seq("C"))
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel in SQL") {
    spark.sql(s"CREATE TABLE $cat.lake.tt (k BIGINT)") // v0
    spark.sql(s"INSERT INTO $cat.lake.tt SELECT id FROM range(5)") // v1
    spark.sql(s"INSERT INTO $cat.lake.tt SELECT id FROM range(5, 9)") // v2
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.tt VERSION AS OF 0")
      .as[Long].head() == 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.tt VERSION AS OF 1")
      .as[Long].head() == 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.tt").as[Long].head() == 9)
    // timestamp-as-of: any instant after the last commit sees the head
    val after = java.time.Instant.now().plusSeconds(60)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.lake.tt TIMESTAMP AS OF '$after'")
      .as[Long].head() == 9)
    // a snapshot is read-only
    intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.lake.tt VERSION AS OF 1 WHERE k = 1")
    }
    ()
  }

  test("ALTER TABLE ADD COLUMNS evolves add-column-only; TBLPROPERTIES round-trip") {
    spark.sql(s"CREATE TABLE $cat.lake.ev (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.ev SELECT id FROM range(3)")
    spark.sql(s"ALTER TABLE $cat.lake.ev ADD COLUMNS (tag STRING)")
    // pre-evolution rows read the new column as null
    val rows = spark.sql(s"SELECT k, tag FROM $cat.lake.ev ORDER BY k")
      .collect().map(r => (r.getLong(0), r.isNullAt(1)))
    assert(rows.toSeq == Seq((0L, true), (1L, true), (2L, true)))
    spark.sql(s"INSERT INTO $cat.lake.ev VALUES (9, 'x')")
    assert(spark.sql(s"SELECT tag FROM $cat.lake.ev WHERE k = 9")
      .as[String].head() == "x")
    spark.sql(s"ALTER TABLE $cat.lake.ev SET TBLPROPERTIES ('owner.team' = 'data')")
    val props = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("lake"), "ev")).properties()
    assert(props.get("owner.team") == "data")
  }

  test("SQL UPDATE routes into the copy-on-write rewrite") {
    spark.sql(s"CREATE TABLE $cat.lake.up (k BIGINT, v BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $cat.lake.up SELECT id, id * 10, 'a' FROM range(10)")
    spark.sql(s"UPDATE $cat.lake.up SET v = v + 1, tag = upper(tag) " +
      "WHERE k BETWEEN 3 AND 5")
    val rows = spark.sql(s"SELECT k, v, tag FROM $cat.lake.up ORDER BY k")
      .as[(Long, Long, String)].collect().toSeq
    assert(rows == (0L until 10L).map(i =>
      if (i >= 3 && i <= 5) (i, i * 10 + 1, "A") else (i, i * 10, "a")))
    // unconditional UPDATE rewrites every row
    spark.sql(s"UPDATE $cat.lake.up SET tag = 'z'")
    assert(spark.sql(s"SELECT DISTINCT tag FROM $cat.lake.up")
      .as[String].collect().toSeq == Seq("z"))
    // non-top-level assignment target fails loudly
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.lake.up SET missing_col = 1")
    }
    // subqueries in the condition are refused, never silently re-bound
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.lake.up SET v = 0 " +
        s"WHERE k IN (SELECT k FROM $cat.lake.up WHERE v > 50)")
    }
    ()
  }

  test("SQL MERGE INTO performs the canonical upsert") {
    spark.sql(s"CREATE TABLE $cat.lake.mt (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.mt SELECT id, id FROM range(5)")
    spark.range(3, 8).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("mt_src")
    spark.sql(s"""MERGE INTO $cat.lake.mt t USING mt_src s ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(s"SELECT k, v FROM $cat.lake.mt ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(rows == (0L until 3L).map(i => (i, i)) ++
      (3L until 8L).map(i => (i, i * 100)))
    // general clause shapes: ordered conditional UPDATE/DELETE,
    // conditional INSERT, NOT MATCHED BY SOURCE — one atomic commit
    val v0 = IncrementalTable(spark,
      spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/mt").latestVersion
    spark.range(5, 10).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("mt_src2")
    spark.sql(s"""MERGE INTO $cat.lake.mt t USING mt_src2 s ON t.k = s.k
                 |WHEN MATCHED AND t.v > 600 THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
                 |WHEN NOT MATCHED AND s.k % 2 = 0 THEN INSERT (k, v) VALUES (s.k, -1)
                 |WHEN NOT MATCHED BY SOURCE AND t.k < 2 THEN UPDATE SET v = 0
                 |""".stripMargin)
    val after = spark.sql(s"SELECT k, v FROM $cat.lake.mt ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    // 7 deleted (700>600); 5,6 updated additively; 8 inserted via the
    // conditioned INSERT, 9 skipped (no applicable clause); 0,1 zeroed
    // by NOT MATCHED BY SOURCE; 2,3,4 untouched
    assert(after == Seq(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 300L, 4L -> 400L,
      5L -> 505L, 6L -> 606L, 8L -> -1L))
    // ...and it all landed as ONE commit
    assert(IncrementalTable(spark,
      spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/mt")
      .latestVersion == v0 + 1)
    // genuinely untranslatable: subqueries in clause conditions
    intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.lake.mt t USING mt_src s ON t.k = s.k
                   |WHEN MATCHED AND t.k IN (SELECT k FROM mt_src) THEN DELETE
                   |""".stripMargin)
    }
    // a duplicate-keyed source is LEGAL without matched clauses (no
    // clause consumes source rows), and the rewrite join must not fan
    // matched target rows out into duplicates
    val pre = spark.table(s"$cat.lake.mt").count()
    spark.range(2).selectExpr("CAST(5 AS BIGINT) AS k", "id AS v")
      .createOrReplaceTempView("mt_dup") // two source rows, same key
    spark.sql(s"""MERGE INTO $cat.lake.mt t USING mt_dup s ON t.k = s.k
                 |WHEN NOT MATCHED BY SOURCE AND t.k < 0 THEN DELETE
                 |""".stripMargin)
    assert(spark.table(s"$cat.lake.mt").count() == pre)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.mt WHERE k = 5")
      .as[Long].head() == 1)
    ()
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns in the merge commit") {
    spark.sql(s"CREATE TABLE $cat.lake.se (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.se SELECT id, id FROM range(3)")
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/se"
    val v0 = IncrementalTable(spark, root).latestVersion
    spark.range(2, 5).selectExpr("id AS k", "id * 10 AS v", "concat('t', id) AS tag")
      .createOrReplaceTempView("se_src")
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.lake.se t
                 |USING se_src s ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(s"SELECT k, v, tag FROM $cat.lake.se ORDER BY k")
      .as[(Long, Long, Option[String])].collect().toSeq
    // untouched rows read the evolved column as null; matched +
    // inserted rows carry the full source row including tag
    assert(rows == Seq((0L, 0L, None), (1L, 1L, None), (2L, 20L, Some("t2")),
      (3L, 30L, Some("t3")), (4L, 40L, Some("t4"))))
    // SQL evolution rides the analyzer's public hook (X74): one atomic
    // schema commit (alterTable) then the merge commit — the round-8
    // shape, uniform with conditional-clause evolution; the library
    // twin merge(evolveSchema)/mergeInto(evolve) stays one-commit
    val t = IncrementalTable(spark, root)
    assert(t.latestVersion == v0 + 2)
    assert(t.commits().takeRight(2).map(_.action) == Seq("meta", "replace"))
    // an evolution clause with nothing to evolve is a plain merge
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.lake.se t
                 |USING se_src s ON t.k = s.k
                 |WHEN MATCHED AND t.k = 4 THEN DELETE""".stripMargin)
    assert(spark.table(s"$cat.lake.se").count() == 4)
    ()
  }

  test("CTAS and REPLACE TABLE AS SELECT work through the catalog (the rename migration recipe)") {
    spark.sql(s"CREATE TABLE $cat.lake.csrc (k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.lake.csrc SELECT id, concat('x', id) FROM range(5)")
    spark.sql(s"CREATE TABLE $cat.lake.cdst AS " +
      s"SELECT k AS key2, s AS label FROM $cat.lake.csrc")
    assert(spark.table(s"$cat.lake.cdst").columns.toSeq == Seq("key2", "label"))
    assert(spark.table(s"$cat.lake.cdst").count() == 5)
    spark.sql(s"REPLACE TABLE $cat.lake.cdst AS " +
      s"SELECT k FROM $cat.lake.csrc WHERE k < 2")
    assert(spark.table(s"$cat.lake.cdst").columns.toSeq == Seq("k"))
    assert(spark.table(s"$cat.lake.cdst").count() == 2)
  }

  test("metadata tables: t.history / t.detail / t.properties in SQL") {
    spark.sql(s"CREATE TABLE $cat.lake.md (k BIGINT) " +
      "TBLPROPERTIES ('graft.statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.lake.md SELECT id FROM range(5)")
    spark.sql(s"DELETE FROM $cat.lake.md WHERE k = 2")
    val hist = spark.sql(
      s"SELECT version, action FROM $cat.lake.md.history ORDER BY version")
      .as[(Long, String)].collect().toSeq
    assert(hist.map(_._2) == Seq("append", "append", "replace"))
    assert(spark.sql(s"SELECT * FROM $cat.lake.md.detail").count() == 1)
    val props = spark.sql(s"SELECT key, value FROM $cat.lake.md.properties")
      .as[(String, String)].collect().toMap
    assert(props("graft.statsColumns") == "k")
    // a metadata view over a missing parent stays a missing table
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.lake.nosuch.history").collect()
    }
    ()
  }

  test("CALL procedures: compact (z-order), vacuum, restore") {
    spark.sql(s"CREATE TABLE $cat.lake.pc (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.statsColumns'='k')")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $cat.lake.pc SELECT id, id FROM " +
        s"range(${i * 100}, ${i * 100 + 100})")
    }
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/pc"
    val t = IncrementalTable(spark, root)
    val before = t.liveFiles().size
    assert(before > 1)
    // compact to one file, z-ordered on k; stats index rides the
    // graft.statsColumns property through the rewrite
    val c = spark.sql(
      s"CALL $cat.system.compact(table => 'lake.pc', zorder_by => 'k,v')")
      .collect().head
    assert(c.getInt(1) == 1 && c.getInt(2) == before, c.toString)
    t.refresh()
    assert(t.liveFiles().size == 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.pc").as[Long].head() == 400)
    // restore to the pre-compaction version (the 4th append = v4)
    spark.sql(s"CALL $cat.system.restore('lake.pc', 4)")
    t.refresh()
    assert(t.liveFiles().size == before)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.pc").as[Long].head() == 400)
    // vacuum reclaims nothing while every file is still referenced by
    // a time-travelable commit, then reclaims after checkpointing is
    // not forced — just assert it runs and reports a count >= 0
    val v = spark.sql(s"CALL $cat.system.vacuum('lake.pc')").collect().head
    assert(v.getInt(0) >= 0)
    // unknown procedure fails loudly
    intercept[Exception] { spark.sql(s"CALL $cat.system.nosuch('lake.pc')") }
    ()
  }

  test("scan statistics make a small graft table broadcastable without hints") {
    spark.sql(s"CREATE TABLE $cat.lake.dim (k BIGINT, name STRING)")
    spark.sql(s"INSERT INTO $cat.lake.dim SELECT id, concat('n', id) FROM range(20)")
    spark.range(100000).selectExpr("id % 20 AS k", "id AS v")
      .createOrReplaceTempView("bcast_fact")
    // catalog path: the batch scan reports commit-log bytes via
    // SupportsReportStatistics, so the planner picks broadcast
    // STATICALLY (pre-AQE) — defaultSizeInBytes would force sort-merge
    val viaCat = spark.sql(
      s"SELECT f.v, d.name FROM bcast_fact f JOIN $cat.lake.dim d ON f.k = d.k")
    assert(viaCat.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      viaCat.queryExecution.sparkPlan.toString)
    // path door: the same scan, the same statistics
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/dim"
    val viaDs = spark.table("bcast_fact")
      .join(spark.read.format("graft").load(root), "k")
    assert(viaDs.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      viaDs.queryExecution.sparkPlan.toString)
    assert(viaCat.count() == 100000)
  }

  test("COUNT(*) answers from metadata when every file carries a row tally") {
    spark.sql(s"CREATE TABLE $cat.lake.cnt (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.lake.cnt SELECT id, id FROM range(500)")
    spark.sql(s"INSERT INTO $cat.lake.cnt SELECT id, id FROM range(500, 800)")
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/cnt"
    val t = IncrementalTable(spark, root)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.cnt").as[Long].head() == 800)
    val scan = GraftRelation.lastScan(root).get
    assert(scan.filesScanned == 0 && scan.pushed.exists(_.contains("metadata-only")),
      scan.toString)
    // DV deletes correct the tally without opening data files
    t.deleteVectorized(col("k") % 10 === 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.cnt").as[Long].head() == 720)
    assert(GraftRelation.lastScan(root).get.filesScanned == 0)
    // a filtered or grouped count scans normally and stays exact
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.lake.cnt WHERE k < 100").as[Long].head() == 90)
    assert(GraftRelation.lastScan(root).get.filesScanned > 0)
    // a file written WITHOUT stats poisons the tally -> full fallback
    t.append(spark.range(5).toDF("k").withColumn("v", col("k")), Nil)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.cnt").as[Long].head() == 725)
    assert(GraftRelation.lastScan(root).get.filesScanned > 0)
  }

  test("MIN/MAX answer from metadata when the stats index is complete (X71)") {
    spark.sql(s"CREATE TABLE $cat.lake.mm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.statsColumns'='k')")
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/mm"
    // empty table: extremes are NULL, still metadata-only
    val empty = spark.sql(s"SELECT min(k) AS mn, max(k) AS mx FROM $cat.lake.mm")
      .collect().head
    assert(empty.isNullAt(0) && empty.isNullAt(1))
    assert(GraftRelation.lastScan(root).get.filesScanned == 0)
    spark.sql(s"INSERT INTO $cat.lake.mm SELECT id, id FROM range(500)")
    spark.sql(s"INSERT INTO $cat.lake.mm SELECT id, id FROM range(500, 800)")
    // count + min + max together, one metadata row, zero files opened
    val r = spark.sql(
      s"SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM $cat.lake.mm")
      .as[(Long, Long, Long)].head()
    assert(r == ((800L, 0L, 799L)))
    val scan = GraftRelation.lastScan(root).get
    assert(scan.filesScanned == 0 && scan.pushed.exists(_.contains("metadata-only")),
      scan.toString)
    // an UNINDEXED column declines and scans normally, still exact
    assert(spark.sql(s"SELECT max(v) FROM $cat.lake.mm").as[Long].head() == 799L)
    assert(GraftRelation.lastScan(root).get.filesScanned > 0)
    // a standing DV declines MIN/MAX (the deleted row may BE the
    // extreme) — the scan fallback stays exact
    val t = IncrementalTable(spark, root)
    t.deleteVectorized(col("k") === 799L)
    assert(spark.sql(s"SELECT max(k) FROM $cat.lake.mm").as[Long].head() == 798L)
    assert(GraftRelation.lastScan(root).get.filesScanned > 0)
    // ...while a bare COUNT(*) still answers from metadata (DV-corrected)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.mm").as[Long].head() == 799L)
    assert(GraftRelation.lastScan(root).get.filesScanned == 0)
  }

  test("clustered inserts + write-time auto-compaction via table properties") {
    spark.sql(s"""CREATE TABLE $cat.lake.ac (k BIGINT, v BIGINT)
                 |TBLPROPERTIES ('graft.statsColumns' = 'k',
                 |  'graft.writeClusterBy' = 'k',
                 |  'graft.writeClusterFiles' = '2',
                 |  'graft.autoCompact.maxFiles' = '6')""".stripMargin)
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/ac"
    // each insert writes 2 range-clustered files; after the 4th insert
    // the partition crosses 6 files and auto-compacts back to 1
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $cat.lake.ac " +
        s"SELECT id * 7 % 1000, id FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val t = IncrementalTable(spark, root)
    assert(t.liveFiles().size == 6)
    // clustered: a narrow k-range predicate prunes within one insert's
    // pair of range-disjoint files
    assert(t.liveFilesWhere(col("k") < 100).size < 6)
    spark.sql(s"INSERT INTO $cat.lake.ac SELECT id * 7 % 1000, id FROM range(300, 400)")
    t.refresh()
    assert(t.liveFiles().size == 1, t.liveFiles().toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ac").as[Long].head() == 400)
    // the compacted rewrite kept the stats index (count was metadata-only)
    assert(GraftRelation.lastScan(root).get.filesScanned == 0)
  }

  test("ALTER TABLE DROP COLUMN projects the schema; RENAME is a column-mapping commit") {
    spark.sql(s"CREATE TABLE $cat.lake.dc (k BIGINT, s STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.dc " +
      "SELECT id, concat('x', id), id * 10 FROM range(5)")
    spark.sql(s"ALTER TABLE $cat.lake.dc DROP COLUMN v")
    assert(spark.table(s"$cat.lake.dc").columns.toSeq == Seq("k", "s"))
    assert(spark.table(s"$cat.lake.dc").count() == 5)
    // time travel to the pre-drop snapshot still shows the column
    assert(spark.sql(s"SELECT v FROM $cat.lake.dc VERSION AS OF 1")
      .as[Long].collect().sorted.toSeq == Seq(0L, 10L, 20L, 30L, 40L))
    // inserts under the projected schema work
    spark.sql(s"INSERT INTO $cat.lake.dc SELECT 9, 'y'")
    assert(spark.table(s"$cat.lake.dc").count() == 6)
    // re-adding the tombstoned name refuses (old files would resurface)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.dc ADD COLUMNS (v BIGINT)")
    }
    // RENAME COLUMN (X72): metadata-only, both generations serve the
    // new name, post-rename inserts keep working
    spark.sql(s"ALTER TABLE $cat.lake.dc RENAME COLUMN s TO label")
    assert(spark.table(s"$cat.lake.dc").columns.toSeq == Seq("k", "label"))
    assert(spark.sql(s"SELECT label FROM $cat.lake.dc WHERE k = 2")
      .as[String].head() == "x2")
    spark.sql(s"INSERT INTO $cat.lake.dc SELECT 10, 'z'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.dc WHERE label IS NOT NULL")
      .as[Long].head() == 7)
    // the old name is gone from the head and reserved forever
    intercept[Exception] {
      spark.sql(s"SELECT s FROM $cat.lake.dc").collect()
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.dc ADD COLUMNS (s STRING)")
    }
    // time travel BEFORE the rename shows the old name
    assert(spark.sql(s"SELECT s FROM $cat.lake.dc VERSION AS OF 1")
      .as[String].collect().sorted.toSeq ==
      Seq("x0", "x1", "x2", "x3", "x4"))
    ()
  }

  test("ALTER COLUMN TYPE widens through SQL; lossy changes refuse") {
    spark.sql(s"CREATE TABLE $cat.lake.wd (k INT, f FLOAT)")
    spark.sql(s"INSERT INTO $cat.lake.wd " +
      "SELECT CAST(id AS INT), CAST(id AS FLOAT) FROM range(5)")
    spark.sql(s"ALTER TABLE $cat.lake.wd ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.lake.wd ALTER COLUMN f TYPE DOUBLE")
    val sch = spark.table(s"$cat.lake.wd").schema
    assert(sch("k").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("f").dataType == org.apache.spark.sql.types.DoubleType)
    spark.sql(s"INSERT INTO $cat.lake.wd SELECT id, CAST(id AS DOUBLE) FROM range(100, 105)")
    assert(spark.table(s"$cat.lake.wd").count() == 10)
    assert(spark.sql(s"SELECT CAST(sum(k) AS BIGINT) FROM $cat.lake.wd")
      .as[Long].head() == 10 + 510)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.wd ALTER COLUMN k TYPE INT")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.wd ALTER COLUMN k TYPE DOUBLE")
    }
    ()
  }

  test("nested struct columns survive Spark's nested-schema pruning") {
    spark.sql(s"CREATE TABLE $cat.lake.ns " +
      "(k BIGINT, hdr STRUCT<cust: BIGINT, total: BIGINT>)")
    spark.sql(s"INSERT INTO $cat.lake.ns " +
      "SELECT id, named_struct('cust', id + 1, 'total', id * 10) FROM range(5)")
    // selecting ONE leaf triggers nestedSchemaPruning: the builder must
    // widen back to the full struct or inner fields mis-map by ordinal
    val totals = spark.sql(s"SELECT hdr.total AS t FROM $cat.lake.ns ORDER BY t")
      .as[Long].collect().toSeq
    assert(totals == Seq(0L, 10L, 20L, 30L, 40L))
    val custs = spark.table(s"$cat.lake.ns").select($"hdr.cust")
      .as[Long].collect().sorted.toSeq
    assert(custs == (1L to 5L))
  }

  test("metadata COUNT(*) DV correction survives URI-escaped partition paths") {
    spark.sql(s"CREATE TABLE $cat.lake.esc (k BIGINT, seg STRING) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('graft.statsColumns'='k')")
    // a partition value with a space: sidecar rows store the ENCODED
    // file_path rendering (seg=a%20b/...), commit-log dv keys decode —
    // the correction must compare one rendering or it over-counts
    spark.sql(s"INSERT INTO $cat.lake.esc SELECT id, 'a b' FROM range(10)")
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/esc"
    IncrementalTable(spark, root).deleteVectorized(col("k") < 3)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.esc").as[Long].head() == 7)
    assert(GraftRelation.lastScan(root).get.filesScanned == 0)
  }

  test("SQL UPDATE and DELETE keep the stats index on rewritten files") {
    spark.sql(s"CREATE TABLE $cat.lake.si (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.lake.si SELECT id, id FROM range(100)")
    spark.sql(s"UPDATE $cat.lake.si SET v = v + 1 WHERE k < 10")
    spark.sql(s"DELETE FROM $cat.lake.si WHERE k >= 90")
    // both rewrites carried statsColumns → the tally survives and the
    // count stays metadata-only
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/si"
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.si").as[Long].head() == 90)
    assert(GraftRelation.lastScan(root).get.filesScanned == 0)
  }

  test("SQL CHECK constraints: ADD validates + enforces, DROP re-allows") {
    spark.sql(s"CREATE TABLE $cat.lake.ck (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.ck SELECT id, id FROM range(10)")
    spark.sql(s"ALTER TABLE $cat.lake.ck ADD CONSTRAINT v_bound CHECK (v < 100)")
    // a violating insert fails before anything commits
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.lake.ck VALUES (99, 500)")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ck").as[Long].head() == 10)
    // adding a constraint existing rows violate fails loudly
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.ck ADD CONSTRAINT v_tight CHECK (v < 5)")
    }
    spark.sql(s"ALTER TABLE $cat.lake.ck DROP CONSTRAINT v_bound")
    spark.sql(s"INSERT INTO $cat.lake.ck VALUES (99, 500)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ck").as[Long].head() == 11)
  }

  test("snapshot tags: CALL tag + VERSION AS OF 'name'") {
    spark.sql(s"CREATE TABLE $cat.lake.tg (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.tg SELECT id FROM range(5)")
    spark.sql(s"CALL $cat.system.tag('lake.tg', 'stable')") // pins head (v1)
    spark.sql(s"INSERT INTO $cat.lake.tg SELECT id FROM range(5, 9)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.tg VERSION AS OF 'stable'")
      .as[Long].head() == 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.tg").as[Long].head() == 9)
    // retagging moves the pin; untag removes it
    spark.sql(s"CALL $cat.system.tag('lake.tg', 'stable', 3)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.tg VERSION AS OF 'stable'")
      .as[Long].head() == 9)
    spark.sql(s"CALL $cat.system.untag('lake.tg', 'stable')")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.lake.tg VERSION AS OF 'stable'").collect()
    }
    ()
  }

  test("graft_changes TVF: the change feed in pure SQL") {
    spark.sql(s"CREATE TABLE $cat.lake.cf (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.cf SELECT id, id FROM range(5)") // v1
    spark.sql(s"DELETE FROM $cat.lake.cf WHERE k >= 3") // v2
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/cf"
    val changes = spark.sql(
      s"SELECT k, _change_type, _commit_version FROM graft_changes('$root', 1) " +
        "ORDER BY _commit_version, _change_type, k")
      .as[(Long, String, Long)].collect().toSeq
    assert(changes.filter(_._3 == 1) ==
      (0L until 5L).map(k => (k, "insert", 1L)))
    assert(changes.filter(_._3 == 2) == Seq((3L, "delete", 2L), (4L, "delete", 2L)))
    // explicit window
    assert(spark.sql(s"SELECT count(*) FROM graft_changes('$root', 2, 2)")
      .as[Long].head() == 2)
  }

  test("inline CREATE TABLE constraints are recorded, non-CHECK kinds refused") {
    spark.sql(s"CREATE TABLE $cat.lake.cki (k BIGINT, CONSTRAINT pos CHECK (k > 0))")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.lake.cki VALUES (-5)")
    }
    spark.sql(s"INSERT INTO $cat.lake.cki VALUES (5)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.cki").as[Long].head() == 1)
    // an unenforceable kind at CREATE time is refused, never silently
    // recorded — and the refusal happens BEFORE the table exists
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.lake.cki2 " +
        "(k BIGINT, CONSTRAINT pk PRIMARY KEY (k))")
    }
    ()
  }

  test("typo'd untag and typo'd graft_changes path fail loudly") {
    spark.sql(s"CREATE TABLE $cat.lake.tg2 (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.lake.tg2 SELECT id FROM range(3)")
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.untag('lake.tg2', 'nosuch')")
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_changes('/tmp/definitely/not/a/table', 0)")
        .collect()
    }
    ()
  }

  test("CTAS, SHOW TABLES, TRUNCATE, DROP") {
    spark.sql(s"CREATE TABLE $cat.lake.ctas AS SELECT id AS k FROM range(7)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ctas").as[Long].head() == 7)
    val shown = spark.sql(s"SHOW TABLES IN $cat.lake")
      .select("tableName").as[String].collect().toSet
    assert(shown.contains("ctas"))
    spark.sql(s"TRUNCATE TABLE $cat.lake.ctas")
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.ctas").as[Long].head() == 0)
    spark.sql(s"DROP TABLE $cat.lake.ctas")
    assert(!spark.sql(s"SHOW TABLES IN $cat.lake")
      .select("tableName").as[String].collect().contains("ctas"))
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.lake.ctas").collect() }
    ()
  }

  test("t.files metadata table and partition-scoped CALL compact") {
    spark.sql(s"CREATE TABLE $cat.lake.fmeta (k BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    // two inserts -> at least 2 files per touched partition
    spark.sql(s"INSERT INTO $cat.lake.fmeta " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END FROM range(20)")
    spark.sql(s"INSERT INTO $cat.lake.fmeta " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END FROM range(20, 40)")
    val files = spark.sql(s"SELECT file, size_bytes, partition, dv_generations " +
      s"FROM $cat.lake.fmeta.files")
      .as[(String, Long, Map[String, String], Int)].collect()
    assert(files.nonEmpty)
    assert(files.forall(_._2 > 0))
    assert(files.forall(f => Set("A", "B").contains(f._3("seg"))))
    assert(files.forall(_._4 == 0))
    val aBefore = files.count(_._3("seg") == "A")
    assert(aBefore >= 2)
    // compact ONLY seg=A
    spark.sql(s"CALL $cat.system.compact('lake.fmeta', where => 'seg=A')")
    val after = spark.sql(s"SELECT partition['seg'] FROM $cat.lake.fmeta.files")
      .as[String].collect()
    assert(after.count(_ == "A") == 1)
    assert(after.count(_ == "B") == files.count(_._3("seg") == "B")) // untouched
    assert(spark.sql(s"SELECT count(*) FROM $cat.lake.fmeta").as[Long].head() == 40)
    ()
  }

  test("t.partitions census and predicate-scoped CALL compact (where_expr)") {
    spark.sql(s"CREATE TABLE $cat.lake.pcen (k BIGINT, seg STRING) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('graft.statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.lake.pcen " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END FROM range(20)")
    spark.sql(s"INSERT INTO $cat.lake.pcen " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END FROM range(20, 40)")
    val census = spark.sql(s"SELECT partition['seg'], num_files, size_bytes " +
      s"FROM $cat.lake.pcen.partitions ORDER BY 1")
      .as[(String, Long, Long)].collect().toSeq
    assert(census.map(_._1) == Seq("A", "B"))
    assert(census.forall(r => r._2 >= 2 && r._3 > 0), census.toString)
    // predicate compact: only files overlapping k >= 20 rewrite
    val t = IncrementalTable(spark,
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/pcen")
    val before = t.liveFiles().toSet
    spark.sql(s"CALL $cat.system.compact('lake.pcen', " +
      "where_expr => 'k >= 20')")
    t.refresh()
    val after = t.liveFiles().toSet
    assert(before.intersect(after).nonEmpty) // untouched low-range files
    assert(after != before)
    assert(spark.sql(s"SELECT COUNT(*), SUM(k) FROM $cat.lake.pcen")
      .as[(Long, Long)].head() == ((40L, (0L until 40L).sum)))
    // both scopes at once refuses
    intercept[Exception](spark.sql(s"CALL $cat.system.compact('lake.pcen', " +
      "where => 'seg=A', where_expr => 'k >= 20')"))
    ()
  }

  test("scan reports exact numRows to CBO; CALL restore accepts a timestamp") {
    spark.sql(s"CREATE TABLE $cat.lake.stats (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.statsColumns'='k')") // row tallies ride the index
    spark.sql(s"INSERT INTO $cat.lake.stats SELECT id, 'a' FROM range(123)")
    // unfiltered scan: exact bytes + exact metadata row count (the
    // COUNT(*) fold) on the Statistics surface, asserted on the scan
    // directly
    val t0 = IncrementalTable(spark,
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/stats")
    val st = new GraftBatchScan(spark, t0, None, t0.schemaAt().get, Array.empty)
      .estimateStatistics()
    assert(st.numRows().getAsLong == 123L)
    assert(st.sizeInBytes().getAsLong > 0L)
    Thread.sleep(15)
    val cut = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(15)
    spark.sql(s"INSERT INTO $cat.lake.stats SELECT id, 'b' FROM range(7)")
    spark.sql(s"CALL $cat.system.restore('lake.stats', timestamp => '$cut')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.lake.stats")
      .as[Long].head() == 123)
    // exactly one of version/timestamp
    intercept[Exception](spark.sql(
      s"CALL $cat.system.restore('lake.stats', 1L, '$cut')"))
    intercept[Exception](spark.sql(s"CALL $cat.system.restore('lake.stats')"))
    ()
  }

  test("CALL evolve_partitioning: layout changes, DESCRIBE follows, reads exact") {
    spark.sql(s"CREATE TABLE $cat.lake.pev " +
      "(k BIGINT, ts TIMESTAMP, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.lake.pev VALUES " +
      "(1, TIMESTAMP '2024-03-25 08:00:00', 'A'), " +
      "(2, TIMESTAMP '2024-03-26 09:00:00', 'B')")
    val out = spark.sql(s"CALL $cat.system.evolve_partitioning(" +
      "'lake.pev', 'days(ts), bucket(4, k)')")
      .as[(Long, String)].head()
    assert(out._2 == "ts_day,k_bucket")
    spark.sql(s"INSERT INTO $cat.lake.pev VALUES " +
      "(3, TIMESTAMP '2024-03-27 10:00:00', 'C'), " +
      "(4, TIMESTAMP '2024-03-28 11:00:00', 'D')")
    // DESCRIBE reports the evolved transforms
    val parts = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.lake.pev")
      .filter(col("col_name").startsWith("Part "))
      .select("data_type").as[String].collect().toSet
    assert(parts == Set("days(ts)", "bucket(4, k)"), parts)
    // mixed generations read exact by name; base-column predicates work
    assert(spark.sql(s"SELECT k FROM $cat.lake.pev ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L))
    assert(spark.sql(s"SELECT k, seg FROM $cat.lake.pev " +
      "WHERE ts >= TIMESTAMP '2024-03-27 00:00:00' ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((3L, "C"), (4L, "D")))
    // the evolution flag is a visible table property
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.lake.pev")
      .filter(col("key") === "graft.spec.evolved").count() == 1)
    ()
  }

  test("runtime filtering (DPP): a dim filter prunes fact FILES with no static fact predicate") {
    // the VERDICT r9 #4 shape: a star-join where the only selective
    // predicate lives on the DIM side — the skipping index used to see
    // nothing (static pushdown only), so the fact scanned all files
    spark.sql(s"CREATE TABLE $cat.lake.rtf_fact (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.statsColumns'='k')")
    // four k-clustered file generations, disjoint ranges
    Seq((0, 100), (100, 200), (200, 300), (300, 400)).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO $cat.lake.rtf_fact " +
        s"SELECT /*+ COALESCE(1) */ id, id * 3 FROM range($lo, $hi)")
    }
    spark.sql(s"CREATE TABLE $cat.lake.rtf_dim (dk BIGINT, name STRING)")
    spark.sql(s"INSERT INTO $cat.lake.rtf_dim VALUES " +
      "(5, 'one'), (7, 'one'), (150, 'two'), (250, 'three'), (350, 'four')")
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/rtf_fact"
    val q = s"SELECT f.k, f.v FROM $cat.lake.rtf_fact f " +
      s"JOIN $cat.lake.rtf_dim d ON f.k = d.dk WHERE d.name = 'one'"
    val out = spark.sql(q).as[(Long, Long)].collect().toSeq.sorted
    // exact result, no static fact predicate anywhere
    assert(out == Seq((5L, 15L), (7L, 21L)), out.toString)
    val scan = GraftRelation.lastScan(root).get
    assert(scan.filesLive == 4, scan.toString)
    // the dim's materialized keys {5,7} reached the fact scan as a
    // runtime In-filter and dropped the other three file generations
    assert(scan.filesScanned == 1,
      s"runtime filter did not prune fact files: $scan")
    // ...through Spark's own DPP machinery on the BatchScan node
    val plan = spark.sql(q).queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"), plan)
  }

  test("runtime filtering x bloom index: join keys prune UNCLUSTERED fact files") {
    // the X92 x X100 composition: the dim's materialized join keys
    // arrive as a runtime In-filter, whose point set the BLOOM index
    // can answer even though the fact files are interleaved on k —
    // every file's [min,max] spans every key (and this table has no
    // statsColumns at all), so minmax could never prune here
    spark.sql(s"CREATE TABLE $cat.lake.rtb_fact (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.bloomIndexColumns'='k')")
    (0 until 4).foreach { r =>
      spark.sql(s"INSERT INTO $cat.lake.rtb_fact " +
        s"SELECT /*+ COALESCE(1) */ id * 4 + $r, id FROM range(0, 100)")
    }
    spark.sql(s"CREATE TABLE $cat.lake.rtb_dim (dk BIGINT, name STRING)")
    spark.sql(s"INSERT INTO $cat.lake.rtb_dim VALUES " +
      "(8, 'one'), (16, 'one'), (33, 'two')")
    val root = spark.conf.get("spark.sql.catalog.gcat.warehouse") + "/lake/rtb_fact"
    val q = s"SELECT f.k, f.v FROM $cat.lake.rtb_fact f " +
      s"JOIN $cat.lake.rtb_dim d ON f.k = d.dk WHERE d.name = 'one'"
    val out = spark.sql(q).as[(Long, Long)].collect().toSeq.sorted
    assert(out == Seq((8L, 2L), (16L, 4L)), out.toString)
    val scan = GraftRelation.lastScan(root).get
    assert(scan.filesLive == 4, scan.toString)
    // keys {8,16} are both residue-0: the bloom keeps exactly that file
    assert(scan.filesScanned == 1,
      s"runtime In-filter did not bloom-prune fact files: $scan")
  }
}
