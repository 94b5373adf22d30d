package graft.table

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Spark-free properties of the commit-log fold ([[Snapshot]]) over
  * random commit sequences — appends, replaces, dv / dvmerge / MoR
  * update commits, meta keys with tombstones, schema widening, layout
  * evolution and appId'd / anonymous batch tokens:
  *
  *  - stepping commit by commit equals folding the whole prefix;
  *  - an inline checkpoint of a random prefix, folded with the rest,
  *    answers every question the full fold answers: live files (in
  *    order), stats, dv generations, every meta channel, schema,
  *    layout and `hasBatch`;
  *  - the same cut as a COLUMNAR checkpoint (base rows off the driver,
  *    supplied here from the prefix) reaches the same live set, dv
  *    map, stats and count through `removedFromBase` / `dvOnBase`.
  *
  * Batch ids are consecutive per writer, as a stream delivers them;
  * the pre-appId upgrade guard (`legacyReplay`) ends at compaction by
  * design and is not compared. */
object SnapshotProps extends Properties("snapshot") {
  private implicit val fmts: DefaultFormats.type = DefaultFormats

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(400)

  private val apps = Seq(None, Some("a"), Some("b"))
  private val metaKeys = Seq("prop/k1", "prop/k2", "colmap/c", "tag/t",
    "watermark/day=1", "eqdel/g1", "eqdel/g2")
  private val prefixes = Seq("prop/", "colmap/", "tag/", "watermark/", "eqdel/")

  /** A random, well-formed log (removes and dv name live files). */
  private def history(seed: Long): Vector[Commit] = {
    val r = new scala.util.Random(seed)
    var s = Snapshot.empty
    var out = Vector.empty[Commit]
    var nextFile = 0
    var nextGen = 0
    var cols = Seq("id BIGINT")
    var layout: Seq[String] = if (r.nextBoolean()) Seq("p") else Nil
    val batches = scala.collection.mutable.Map.empty[Option[String], Long]
    (0 until 1 + r.nextInt(30)).foreach { v =>
      val live = s.files.keys.toVector
      def pick(k: Int) = r.shuffle(live).take(k)
      def fresh(k: Int) = (0 until k).map { _ =>
        nextFile += 1; s"p=${r.nextInt(3)}/f$nextFile.parquet"
      }
      def gen() = { nextGen += 1; s"g$nextGen" }
      def stats(fs: Seq[String]) = fs.filter(_ => r.nextBoolean()).map(f =>
        f -> Map("id" -> ColStat(r.nextInt(10).toLong, 10L + r.nextInt(10)))).toMap
      def meta = (0 until r.nextInt(3)).map { _ =>
        val k = metaKeys(r.nextInt(metaKeys.size))
        k -> (if (r.nextInt(3) == 0) ""
          else if (k.startsWith("eqdel/"))
            Serialization.write(EqDelPayload(v.toLong, Seq("id")))
          else s"v$v")
      }.toMap
      val (batchId, appId) =
        if (r.nextInt(3) != 0) (None, None)
        else {
          val app = apps(r.nextInt(apps.size))
          val b = batches.getOrElse(app, -1L) + 1
          batches(app) = b
          (Some(b), app)
        }
      def schema = cols.mkString(",")
      def data(action: String, add: Seq[String], remove: Seq[String],
          dv: Map[String, Seq[String]] = Map.empty) =
        Commit(v, action, add, remove, Map.empty, layout, schema, meta,
          batchId, v, appId = appId, fileStats = stats(add), dv = dv)
      val c = r.nextInt(9) match {
        case 0 | 1 =>
          if (r.nextInt(4) == 0) cols :+= s"c$v STRING"
          data("append", fresh(1 + r.nextInt(3)), Nil)
        case 2 => data("replace", fresh(r.nextInt(2)), pick(1 + r.nextInt(2)))
        case 3 => data("dv", Nil, Nil, pick(1 + r.nextInt(2)).map(_ -> Seq(gen())).toMap)
        case 4 =>
          val g = gen()
          val dvd = s.files.collect { case (f, lf) if lf.dvGens.nonEmpty => f }
          data("dvmerge", Nil, Nil, dvd.map(_ -> Seq(g)).toMap)
        case 5 => data("update", fresh(1), Nil, pick(1).map(_ -> Seq(gen())).toMap)
        case 6 =>
          layout = Seq(Seq("p"), Seq("p", "q"), Seq("q"))(r.nextInt(3))
          data("evolve", Nil, Nil)
        case _ =>
          Commit(v, "meta", Nil, Nil, Map.empty, Nil,
            if (s.schemaDdl.nonEmpty) schema else "", meta, batchId, v, appId = appId)
      }
      s = s.step(c)
      out :+= c
    }
    out
  }

  private val cases: Gen[(Vector[Commit], Int)] = for {
    seed <- Gen.long
    cut <- Gen.choose(0, 31)
  } yield {
    val cs = history(seed)
    (cs, cut % (cs.size + 1))
  }

  private def batchAnswers(s: Snapshot, cs: Seq[Commit]): Seq[Boolean] = {
    val top = cs.flatMap(_.batchId).maxOption.getOrElse(0L) + 2
    for (app <- apps; b <- 0L to top) yield s.hasBatch(b, app)
  }

  property("stepping commit by commit equals the fold") = forAll(cases) { case (cs, _) =>
    cs.indices.forall(i => Snapshot.fold(cs.take(i)).step(cs(i)) == Snapshot.fold(cs.take(i + 1)))
  }

  property("an inline checkpoint of any prefix folds to the same answers") =
    forAll(cases) { case (cs, cut) =>
      val full = Snapshot.fold(cs)
      val ck = Snapshot.fold(cs.take(cut)).checkpoint(ts = cut.toLong)
      val viaCk = Snapshot.fold(ck +: cs.drop(cut))
      Prop.all(
        (viaCk.liveFiles(Nil) == full.liveFiles(Nil)) :| "live files",
        (viaCk.fileStats == full.fileStats) :| "stats",
        (viaCk.dvMap(Map.empty) == full.dvMap(Map.empty)) :| "dv",
        (viaCk.meta == full.meta) :| "meta",
        prefixes.forall(p => viaCk.channel(p) == full.channel(p)) :| "channels",
        (viaCk.eqDeletes == full.eqDeletes) :| "eqdel",
        (viaCk.schemaDdl == full.schemaDdl) :| "schema",
        (viaCk.partitionBy == full.partitionBy) :| "partitionBy",
        (viaCk.layout == full.layout) :| "layout",
        (viaCk.version == full.version) :| "version",
        (batchAnswers(viaCk, cs) == batchAnswers(full, cs)) :| "hasBatch")
    }

  property("a columnar checkpoint's tail reaches the same live state") =
    forAll(cases) { case (cs, cut) =>
      val pre = Snapshot.fold(cs.take(cut))
      val baseLive = pre.liveFiles(Nil)
      val baseDv = pre.dvMap(Map.empty)
      val ck = pre.checkpoint(ts = cut.toLong).copy(add = Nil,
        fileStats = Map.empty, dv = Map.empty,
        filesParquet = Some("rows.checkpoint.parquet"), numFiles = Some(baseLive.size.toLong))
      val col = Snapshot.fold(ck +: cs.drop(cut))
      val full = Snapshot.fold(cs)
      // base rows keep their stats unless dropped or re-added (foldTail)
      val stats = pre.fileStats -- col.removedFromBase -- col.files.keys ++ col.fileStats
      col.base.contains(ck) &&
        col.liveFiles(baseLive) == full.liveFiles(Nil) &&
        col.dvMap(baseDv) == full.dvMap(Map.empty) &&
        stats == full.fileStats &&
        col.numFiles == full.numFiles
    }
}
