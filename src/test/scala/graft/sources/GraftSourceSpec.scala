package graft.sources

import graft.SparkSpec
import graft.table.IncrementalTable
import org.apache.spark.sql.functions.{col, concat, lit, upper}

/** The `format("graft")` front door: reads route pushed filters into
  * the table's log-level skipping index, writes commit through the
  * same log as the library API, and `USING graft` views answer plain
  * SQL. Mirrors the reference's IO-manager open-by-name contract
  * (delta_io.py:118-129). */
class GraftSourceSpec extends SparkSpec {
  import spark.implicits._

  private def seeded(prefix: String): (String, IncrementalTable) = {
    val root = tmpDir(prefix) + "/t"
    val t = IncrementalTable(spark, root)
    // three appends with stats on k → three files with disjoint [min,max]
    Seq((1L, 100L), (101L, 200L), (201L, 300L)).foreach { case (lo, hi) =>
      t.append(spark.range(lo, hi + 1).toDF("k")
        .withColumn("v", col("k") * 2)
        .withColumn("tag", lit(s"b$lo"))
        .repartition(1), Nil, statsColumns = Seq("k"))
    }
    (root, t)
  }

  test("load() round-trips the committed state incl. DVs and time travel") {
    val (root, t) = seeded("gsrc_rt")
    t.deleteVectorized(col("k") % 10 === 0)
    val viaApi = t.read().select($"k", $"v", $"tag").collect().toSet
    val viaDs = spark.read.format("graft").load(root)
      .select($"k", $"v", $"tag").collect().toSet
    assert(viaDs == viaApi)
    assert(viaDs.size == 270)
    // versionAsOf: before the delete, all 300 rows
    val v2 = spark.read.format("graft").option("versionAsOf", 2).load(root)
    assert(v2.count() == 300)
  }

  test("pushed range predicate prunes files through the relation") {
    val (root, t) = seeded("gsrc_prune")
    val df = spark.read.format("graft").load(root)
      .filter($"k" >= 210 && $"k" <= 250).select($"k", $"v")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (210L to 250L))
    val scan = GraftRelation.lastScan(t.root).get
    assert(scan.filesLive == 3)
    assert(scan.filesScanned == 1, s"expected 1 surviving file, got $scan")
    // and the filters actually reached the scan (they show in the
    // physical plan as PushedFilters on the BatchScan)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(k,210)"), plan)
  }

  test("partition equality prunes at directory granularity") {
    val root = tmpDir("gsrc_part") + "/t"
    val t = IncrementalTable(spark, root)
    t.append(Seq((1L, "x", "A"), (2L, "y", "B"), (3L, "z", "A"))
      .toDF("id", "s", "seg"), Seq("seg"))
    val out = spark.read.format("graft").load(root)
      .filter($"seg" === "A").select($"id").as[Long].collect().toSet
    assert(out == Set(1L, 3L))
    val scan = GraftRelation.lastScan(t.root).get
    assert(scan.filesScanned < scan.filesLive, scan.toString)
  }

  test("column pruning reaches the inner parquet scan") {
    val (root, _) = seeded("gsrc_cols")
    val df = spark.read.format("graft").load(root).select($"k")
    assert(df.columns.toSeq == Seq("k"))
    assert(df.count() == 300)
    // zero-column scans (count(*)) keep the row count
    assert(spark.read.format("graft").load(root).count() == 300)
  }

  test("SQL by name: CREATE TEMPORARY VIEW USING graft + SELECT") {
    val (root, _) = seeded("gsrc_sql")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gsrc_t " +
      s"USING graft OPTIONS (path '$root')")
    val n = spark.sql(
      "SELECT count(*) AS n FROM gsrc_t WHERE k BETWEEN 50 AND 149")
      .as[Long].head()
    assert(n == 100L)
  }

  test("write path: Append and Overwrite commit through the log") {
    val root = tmpDir("gsrc_w") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format("graft").save(root)  // ErrorIfExists on fresh path
    Seq((3L, "c")).toDF("id", "s")
      .write.format("graft").mode("append").save(root)
    val t = IncrementalTable(spark, root)
    assert(t.commits().map(_.action) == Seq("append", "append"))
    assert(t.read().count() == 3)
    Seq((9L, "z")).toDF("id", "s")
      .write.format("graft").mode("overwrite").save(root)
    // the datasource wrote through its OWN table instance; this
    // handle's commit cache is stale by design (single-writer contract)
    t.refresh()
    assert(t.read().select($"id").as[Long].collect().toSeq == Seq(9L))
    // overwrite is a replace commit: old files removed, history retained
    assert(t.commits().last.action == "replace")
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(root).count() == 3)
    intercept[IllegalArgumentException] {
      Seq((0L, "no")).toDF("id", "s").write.format("graft").save(root)
    }
  }

  test("streaming sink: writeStream.format(\"graft\") appends exactly once per batch") {
    val root = tmpDir("gsrc_stream")
    val in = s"$root/in"
    // two arrival files drained as separate micro-batches
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(s"$in/f0")
    Seq((3L, "c")).toDF("id", "s").coalesce(1).write.parquet(s"$in/f1")
    new java.io.File(s"$in/f0").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach { f => f.setLastModified(1500000000000L); () }
    new java.io.File(s"$in/f1").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach { f => f.setLastModified(1500000060000L); () }
    val schema = Seq((0L, "")).toDF("id", "s").schema
    def drain(): Unit = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
      .parquet(in)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$root/t").awaitTermination()
    drain()
    val t = IncrementalTable(spark, s"$root/t")
    assert(t.read().select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(t.commits().count(_.action == "append") == 2)
    // re-drain from the same checkpoint: nothing re-commits (replay guard)
    drain()
    t.refresh()
    assert(t.read().count() == 3)
    assert(t.commits().count(_.action == "append") == 2)
  }

  test("streaming source: commits drain as micro-batches, checkpoint resumes incrementally") {
    val root = tmpDir("gsrc_src")
    val t = IncrementalTable(spark, s"$root/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    t.append(Seq((3L, "c")).toDF("id", "s"), Nil)
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxCommitsPerTrigger", 1).load(s"$root/t")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = b.collect().map(r => (id, r.getLong(0), r.getString(1)))
          got.synchronized { got ++= rows }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    // rate limit: one commit per micro-batch
    assert(got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap ==
      Map(0L -> Set(1L, 2L), 1L -> Set(3L)))
    // new commits resume from the checkpoint: only the delta arrives
    got.clear()
    t.append(Seq((4L, "d")).toDF("id", "s"), Nil)
    drain()
    assert(got.map(r => (r._2, r._3)).toSeq == Seq((4L, "d")))
    // a rewrite commit fails the append-only contract loudly
    t.delete(col("id") === 1L)
    t.append(Seq((5L, "e")).toDF("id", "s"), Nil)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    assert(e.getCause.getMessage.contains("append-only"), e.getCause.getMessage)
  }

  test("streaming source CDC: readChangeFeed streams rewrites as delete rows, resumes exactly") {
    val root = tmpDir("gsrc_cdc")
    val t = IncrementalTable(spark, s"$root/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil) // v0
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("maxCommitsPerTrigger", 1).load(s"$root/t")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r =>
            (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
          got.synchronized { got ++= rows }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(got.sorted.toSeq == Seq((1L, "a", "insert", 0L), (2L, "b", "insert", 0L)))
    got.clear()
    // a copy-on-write DELETE streams as exactly the deleted row (the
    // rewrite's kept rows cancel in the CDC walk) — no hard failure
    t.delete(col("id") === 1L) // v1: replace commit
    t.append(Seq((3L, "c")).toDF("id", "s"), Nil) // v2
    t.deleteVectorized(col("id") === 2L) // v3: dv commit
    drain()
    assert(got.sorted.toSeq == Seq((1L, "a", "delete", 1L),
      (2L, "b", "delete", 3L), (3L, "c", "insert", 2L)))
    // resume from the checkpoint: nothing re-delivers
    got.clear()
    drain()
    assert(got.isEmpty)
  }

  test("streaming source: startingTimestamp starts at the first commit at-or-after it") {
    val root = tmpDir("gsrc_ts")
    val t = IncrementalTable(spark, s"$root/t")
    t.append(Seq((1L, "a")).toDF("id", "s"), Nil) // v0
    Thread.sleep(10)
    val cut = System.currentTimeMillis()
    Thread.sleep(10)
    t.append(Seq((2L, "b")).toDF("id", "s"), Nil) // v1
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", cut.toString).load(s"$root/t")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect().map(r => (r.getLong(0), r.getString(1)))
        got.synchronized { got ++= rows }
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.toSeq == Seq((2L, "b"))) // v0 predates the cut
    // both knobs together refuse (surfaced when the stream starts)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      spark.readStream.format("graft")
        .option("startingVersion", "0")
        .option("startingTimestamp", cut.toString).load(s"$root/t")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(e.getCause.getMessage.contains("not both"), e.getCause.getMessage)
  }

  test("streaming source: skipChangeCommits skips rewrites and keeps streaming appends") {
    val root = tmpDir("gsrc_skip")
    val t = IncrementalTable(spark, s"$root/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("skipChangeCommits", "true").load(s"$root/t")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getString(1)))
          got.synchronized { got ++= rows }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(got.sorted.toSeq == Seq((1L, "a"), (2L, "b")))
    got.clear()
    // the rewrite (delete) commit is skipped — including its re-added
    // rows — and the append after it still arrives
    t.delete(col("id") === 2L)
    t.append(Seq((4L, "d")).toDF("id", "s"), Nil)
    drain()
    assert(got.sorted.toSeq == Seq((4L, "d")))
  }

  test("mutated table reads identically via API and datasource") {
    val root = tmpDir("gsrc_mut") + "/t"
    val t = IncrementalTable(spark, root)
    t.append(spark.range(1, 1001).toDF("k")
      .withColumn("name", upper(concat(lit("u"), col("k").cast("string")))), Nil)
    t.delete(col("k") % 3 === 0)
    t.update(col("k") % 5 === 0, Map("name" -> lit("FIVE")))
    val api = t.read().collect().toSet
    val ds = spark.read.format("graft").load(root).collect().toSet
    assert(ds == api)
  }

  test("versionAsOf before an addColumns reads the as-of schema and rows") {
    val (root, t) = seeded("gsrc_asof_schema")
    val before = t.latestVersion
    t.addColumns(new org.apache.spark.sql.types.StructType()
      .add("extra", org.apache.spark.sql.types.StringType))
    t.append(Seq((1000L, 2000L, "late", "x")).toDF("k", "v", "tag", "extra"), Nil)
    val old = spark.read.format("graft").option("versionAsOf", before).load(root)
    assert(old.columns.toSeq == Seq("k", "v", "tag"))
    assert(old.count() == 300)
    assert(old.filter($"k" >= 290).select($"k").as[Long].collect().sorted.toSeq ==
      (290L to 300L))
    val head = spark.read.format("graft").load(root)
    assert(head.columns.toSeq == Seq("k", "v", "tag", "extra"))
    assert(head.filter($"extra" === "x").count() == 1)
  }

  test("a user schema with a mistyped common field fails") {
    val (root, _) = seeded("gsrc_badschema")
    val wrong = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.StringType)
      .add("v", org.apache.spark.sql.types.LongType)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").schema(wrong).load(root).collect()
    }
    assert(e.getMessage.contains("commit log is authoritative"), e.getMessage)
  }

  test("a batch readChangeFeed read fails loudly and names the batch spellings") {
    val (root, _) = seeded("gsrc_batchcdc")
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    val cdc = spark.read.format("graft").option("readChangeFeed", "true").load(root)
    Seq(() => cdc.collect(), () => cdc.count()).foreach { read =>
      val e = intercept[Exception](read())
      assert(messages(e).contains("graft_changes") &&
        messages(e).contains("IncrementalTable.changes"), messages(e))
    }
  }

  test("a USING graft view is read-only: INSERT INTO fails and commits nothing") {
    val (root, t) = seeded("gsrc_view_ro")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gsrc_ro " +
      s"USING graft OPTIONS (path '$root')")
    val before = t.latestVersion
    intercept[Exception] {
      spark.sql("INSERT INTO gsrc_ro VALUES (9999, 1, 'x')").collect()
    }
    t.refresh()
    assert(t.latestVersion == before)
  }
}
