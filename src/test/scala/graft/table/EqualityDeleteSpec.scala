package graft.table

import org.apache.spark.sql.functions.{col, expr, lit}

import graft.SparkSpec

/** X104: equality deletes — merge-on-read delete by KEY (the Iceberg v2
  * equality-delete analog). `deleteByKey` writes the distinct key
  * tuples as a sidecar and commits O(metadata): no scan, no touched
  * -file detection, no rewrite. The delete applies to files added AT
  * OR BEFORE its base snapshot; later appends escape by version
  * ordering — so delete-then-append IS an upsert. Readers anti-join
  * the (broadcast) key sets; rewrites apply deletes physically so
  * nothing resurrects; vacuum retires inert entries and reclaims
  * sidecars once no retention surface can consult them. */
class EqualityDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def seeded(name: String): IncrementalTable = {
    val t = IncrementalTable(spark, tmpDir("eqdel") + s"/$name")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), Nil,
      statsColumns = Seq("id"))
    t.append(Seq((4L, "d"), (5L, "e")).toDF("id", "v"), Nil,
      statsColumns = Seq("id"))
    t
  }

  test("MOR delete by key: O(metadata) commit, later append escapes (upsert)") {
    val t = seeded("upsert")
    val before = t.detail().head.getAs[Long]("num_files")
    val c = t.deleteByKey(Seq(Tuple1(2L)).toDF("id"), Seq("id")).get
    assert(c.action == "eqdelete" && c.add.isEmpty && c.remove.isEmpty,
      "the delete must move no data")
    assert(t.detail().head.getAs[Long]("num_files") == before)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L))
    // the upsert contract: a NEW row under the deleted key lives
    t.append(Seq((2L, "b2")).toDF("id", "v"), Nil)
    assert(t.read().filter($"id" === 2L).select("v").as[String].collect()
      .toSeq == Seq("b2"))
    // a SECOND delete (new base) removes old and new alike
    t.deleteByKey(Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    assert(t.read().filter($"id" === 2L).count() == 0)
    // empty key set elides; null keys match nothing (SQL join semantics)
    assert(t.deleteByKey(Seq.empty[Tuple1[Long]].toDF("id"), Seq("id")).isEmpty)
    t.deleteByKey(Seq(Tuple1(Option.empty[Long])).toDF("id"), Seq("id"))
    assert(t.read().count() == 4)
  }

  test("rewrites apply deletes physically — nothing resurrects") {
    val t = seeded("rewrite")
    t.deleteByKey(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    // copy-on-write UPDATE rewrites the touched file: the eqdel'd row
    // co-located with the updated one must not ride back in
    t.update(col("id") === 3L, Map("v" -> lit("c2")))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L))
    // compaction materializes the delete...
    t.compact()
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L))
    // ...and vacuum retires the now-inert entry
    assert(t.eqDeletes().nonEmpty)
    t.vacuum()
    assert(t.eqDeletes().isEmpty, "vacuum must retire an inert delete")
    assert(t.read().count() == 4)
  }

  test("stats surfaces decline under standing deletes; recover after retire") {
    val t = seeded("stats")
    assert(t.liveRowCount().contains(5L))
    t.deleteByKey(Seq(Tuple1(5L)).toDF("id"), Seq("id"))
    assert(t.liveRowCount().isEmpty, "row-count metadata answer would overcount")
    assert(t.liveMinMax("id").isEmpty, "the deleted row may be the extreme")
    assert(t.read().count() == 4) // the scan answer stays exact
    t.compact(statsColumns = Seq("id")); t.vacuum()
    assert(t.liveRowCount().contains(4L))
  }

  test("time travel and restore revive pre-delete snapshots") {
    val t = seeded("restore")
    val vBefore = t.latestVersion
    t.deleteByKey(Seq(Tuple1(1L), Tuple1(4L)).toDF("id"), Seq("id"))
    assert(t.readAt(vBefore).count() == 5, "pre-delete snapshot is whole")
    assert(t.read().count() == 3)
    // restore re-adds the files at the restore version — they escape
    // the standing delete by version ordering, reviving the snapshot
    t.restore(vBefore)
    assert(t.read().count() == 5)
  }

  test("CDC: the eqdelete commit emits exactly the matched rows as deletes") {
    val t = seeded("cdc")
    val c = t.deleteByKey(Seq(Tuple1(2L), Tuple1(4L), Tuple1(99L)).toDF("id"),
      Seq("id")).get
    val feed = t.changes(c.version, c.version)
    assert(feed.filter($"_change_type" === "delete")
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    assert(feed.filter($"_change_type" =!= "delete").count() == 0)
    // a second delete overlapping the first re-emits NOTHING for the
    // already-deleted key
    val c2 = t.deleteByKey(Seq(Tuple1(2L), Tuple1(5L)).toDF("id"), Seq("id")).get
    assert(t.changes(c2.version, c2.version)
      .select("id").as[Long].collect().toSeq == Seq(5L))
    // the full window replays delete(2,4) then delete(5) exactly once
    val window = t.changes(c.version, c2.version)
    assert(window.filter($"_change_type" === "delete").count() == 3)
    // a rewrite that materializes the deletes cancels cleanly: compact
    // is a maintenance no-op, and an UPDATE emits only its own pair
    val c3 = t.update(col("id") === 1L, Map("v" -> lit("a2"))).get
    val upd = t.changes(c3.version, c3.version)
    assert(upd.filter($"_change_type" === "delete")
      .select("id").as[Long].collect().toSeq == Seq(1L))
    assert(upd.filter($"_change_type" === "insert")
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("multi-column keys survive a rename (physical key storage)") {
    val t = IncrementalTable(spark, tmpDir("eqdel") + "/ren")
    t.append(Seq((1L, "en", "web"), (2L, "en", "book"), (3L, "de", "web"))
      .toDF("id", "lang", "src"), Nil)
    t.deleteByKey(Seq(("en", "web")).toDF("lang", "src"), Seq("lang", "src"))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    t.renameColumn("lang", "language")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L),
      "the delete must keep applying under the renamed column")
    // and a delete issued AFTER the rename addresses the new name
    t.deleteByKey(Seq(("en", "book")).toDF("language", "src"),
      Seq("language", "src"))
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("vacuum reclaims sidecars once nothing can consult them") {
    val root = tmpDir("eqdel") + "/gc"
    val t = new IncrementalTable(spark, root, checkpointEvery = 5)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Nil)
    t.deleteByKey(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    t.compact()
    t.vacuum() // retires the inert entry (tombstone commit)
    assert(t.eqDeletes().isEmpty)
    val eqRoot = new java.io.File(root, "_graft_eqdel")
    assert(eqRoot.listFiles().nonEmpty,
      "sidecar stays while the issuing commit is in the replay window")
    // march the horizon past every commit that carried the entry
    (0 until 9).foreach(i => t.setProperties(Map(s"k$i" -> "v")))
    t.vacuum()
    assert(eqRoot.listFiles() == null || eqRoot.listFiles().isEmpty,
      "past the horizon the sidecar must reclaim")
    assert(t.read().count() == 1)
  }

  test("size-governed apply: the anti-join broadcasts only under the byte bound") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def antiHints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType.sql.contains("ANTI") => j.hint }
    // default bound (32 MiB): a point delete's key set broadcasts
    val t = seeded("bound_bc")
    t.deleteByKey(Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    val bc = antiHints(t.read())
    assert(bc.nonEmpty && bc.forall(h => h.leftHint.isDefined || h.rightHint.isDefined),
      s"under the bound the key side must carry a broadcast hint: $bc")
    // bound of 1 byte (the GDPR-scale stand-in): NO forced broadcast —
    // Catalyst plans the anti-join unhinted (shuffle at real scale)
    val t2 = seeded("bound_sh")
    t2.setProperties(Map("graft.eqdel.broadcastBytes" -> "1"))
    t2.deleteByKey(Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    val sh = antiHints(t2.read())
    assert(sh.nonEmpty && sh.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty),
      s"over the bound the anti-join must be unhinted: $sh")
    // both plans return the same (correct) rows
    assert(t2.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L))
  }

  test("sidecar write shards by size instead of coalescing to one file") {
    val t = seeded("shard")
    // a point delete still lands ONE small file (AQE coalesces the
    // distinct's shuffle output)
    t.deleteByKey(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    val eqRoot = new java.io.File(t.root, "_graft_eqdel")
    def parquets(d: java.io.File) = d.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquets(eqRoot.listFiles().head).length == 1)
    // shrink the advisory size: a large key set fans out across shards
    val adv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      t.append(spark.range(1000, 9000).selectExpr("id", "'x' AS v"), Nil)
      t.deleteByKey(spark.range(1000, 9000).toDF("id"), Seq("id"))
      val newest = eqRoot.listFiles().maxBy(_.lastModified())
      assert(parquets(newest).length > 1,
        s"a large key set must shard: ${parquets(newest).length} file(s)")
    } finally spark.conf.set(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", adv)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L), "sharded sidecars must still apply")
  }

  test("applyEqDeletes materializes and retires; auto ceiling bounds the chain") {
    val t = seeded("apply")
    t.deleteByKey(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    t.deleteByKey(Seq(Tuple1(4L)).toDF("id"), Seq("id"))
    val preAppend = t.liveFiles().toSet
    t.append(Seq((6L, "f")).toDF("id", "v"), Nil) // postdates BOTH deletes
    val escapee = t.liveFiles().toSet -- preAppend
    assert(t.eqDeletes().size == 2)
    val cs = t.applyEqDeletes()
    assert(cs.nonEmpty)
    assert(t.eqDeletes().isEmpty, "apply must retire every standing entry")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 5L, 6L))
    assert(escapee.subsetOf(t.liveFiles().toSet),
      "files no delete covers must keep their identity through apply")
    // the ceiling: with maxStanding=1, the 2nd standing delete
    // auto-triggers apply — the chain can never exceed the bound
    val t2 = seeded("ceiling")
    t2.setProperties(Map("graft.eqdel.maxStanding" -> "1"))
    t2.deleteByKey(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    assert(t2.eqDeletes().size == 1, "at the bound: no auto-apply yet")
    t2.deleteByKey(Seq(Tuple1(4L)).toDF("id"), Seq("id"))
    assert(t2.eqDeletes().isEmpty,
      "crossing the bound must auto-apply and retire")
    assert(t2.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 5L))
    // upsertByKey rides the same ceiling
    t2.upsertByKey(Seq((2L, "b2")).toDF("id", "v"), Seq("id"))
    assert(t2.eqDeletes().size == 1)
    t2.upsertByKey(Seq((3L, "c2")).toDF("id", "v"), Seq("id"))
    assert(t2.eqDeletes().isEmpty)
    assert(t2.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((2L, "b2"), (3L, "c2"), (5L, "e")))
  }

  private lazy val cat: String = {
    val wh = tmpDir("eqdel_wh")
    spark.conf.set("spark.sql.catalog.ecat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ecat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ecat.ns")
    "ecat"
  }

  test("SQL front door: CALL delete_by_key with a key-supplying query") {
    spark.sql(s"CREATE TABLE $cat.ns.k (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.ns.k VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    val out = spark.sql(s"CALL $cat.system.delete_by_key('ns.k', 'id', " +
      "'SELECT id FROM range(2, 4) AS t(id)')").collect()
    assert(out(0).getLong(0) >= 0)
    assert(spark.sql(s"SELECT id FROM $cat.ns.k ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 4L))
    // upsert through the same door: a later INSERT escapes
    spark.sql(s"INSERT INTO $cat.ns.k VALUES (2, 'b2')")
    assert(spark.sql(s"SELECT v FROM $cat.ns.k WHERE id = 2")
      .as[String].collect().toSeq == Seq("b2"))
    // the standing delete is queryable: one row, keyed on id
    val reg = spark.sql(s"SELECT key_columns FROM $cat.ns.k.eqdeletes")
      .as[String].collect().toSeq
    assert(reg == Seq("id"), reg.mkString(","))
  }

  test("CALL apply_eq_deletes materializes and retires via SQL") {
    spark.sql(s"CREATE TABLE $cat.ns.ap (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.ns.ap VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql(s"CALL $cat.system.delete_by_key('ns.ap', 'id', 'SELECT 2 AS id')")
    val out = spark.sql(s"CALL $cat.system.apply_eq_deletes('ns.ap')").collect()
    assert(out(0).getInt(0) >= 1, "at least one rewrite commit")
    assert(out(0).getInt(1) == 0, "no standing deletes survive the apply")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.ap.eqdeletes")
      .as[Long].head() == 0)
    assert(spark.sql(s"SELECT id FROM $cat.ns.ap ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("reads through the catalog/path doors apply deletes") {
    val t = seeded("doors")
    t.deleteByKey(Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    // path door (format("graft")) routes through GraftBatchScan →
    // GraftRelation.scanDf → readFiles → the eqdel-applying choke point
    val viaPath = spark.read.format("graft").load(t.root)
    assert(viaPath.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L))
    // pruned scans compose: a filter that would hit the deleted row
    assert(viaPath.filter($"id" === 3L).count() == 0)
    // metadata COUNT(*) declines to a real scan and stays exact
    assert(viaPath.count() == 4)
  }
}
