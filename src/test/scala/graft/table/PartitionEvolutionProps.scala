package graft.table

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkSpec

/** A row of [[PartitionEvolutionProps]]' model. Package level and public:
  * Spark's generated code cannot construct a private nested case class
  * (Janino rejects the call), and every Dataset of it would then run
  * interpreted. */
case class PartitionEvolutionRow(k: Long, seg: String, region: String, n: Long)

/** Model-based property for partition spec evolution (X81): a random
  * interleaving of appends (under whatever layout is current), evolve
  * commits, predicate deletes, and compactions must always read back
  * exactly the plain-Scala model — full reads, predicate reads (which
  * never refuse), and exact partition-filter reads (which must either
  * refuse loudly OR match the model, never silently drop old-spec
  * rows). This is where mixed-window bugs live: the scripted spec pins
  * compositions, this pins the algebra. Spark jobs per case are
  * expensive; case count is capped (PipelineProps contract). */
object PartitionEvolutionProps extends Properties("partitionevolution") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("GRAFT_MODEL_TESTS").map(_.toInt).getOrElse(5)).withWorkers(1)

  private lazy val spark = SparkSpec.spark

  private sealed trait Op
  private case class Append(rows: Seq[PartitionEvolutionRow]) extends Op
  private case class Evolve(layout: Seq[String]) extends Op
  private case class Delete(mod: Long) extends Op // delete where n % mod == 0
  private case object Compact extends Op

  private val layouts = Vector(Seq("seg"), Seq("region"), Seq("seg", "region"))

  private val genRows: Gen[Seq[PartitionEvolutionRow]] = for {
    m <- Gen.choose(1, 5)
    segs <- Gen.listOfN(m, Gen.oneOf("A", "B", "C"))
    regs <- Gen.listOfN(m, Gen.oneOf("e", "w"))
    ns <- Gen.listOfN(m, Gen.choose(0L, 30L))
  } yield segs.lazyZip(regs).lazyZip(ns).toSeq.map { case (s, r, n) =>
    PartitionEvolutionRow(0L, s, r, n) // k assigned sequentially by the runner
  }

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> genRows.map(Append),
    2 -> Gen.oneOf(layouts).map(Evolve),
    2 -> Gen.choose(2L, 5L).map(Delete),
    1 -> Gen.const(Compact))

  private val genOps: Gen[List[Op]] =
    Gen.choose(5, 10).flatMap(Gen.listOfN(_, genOp))

  property("any append/evolve/delete/compact interleaving reads back the model") =
    forAll(genOps) { ops =>
      import spark.implicits._
      val dir = Files.createTempDirectory("peprops").toString
      val t = IncrementalTable(spark, s"$dir/t", checkpointEvery = 4)
      var model = Vector.empty[PartitionEvolutionRow]
      var layout = layouts.head
      var nextK = 0L
      t.create(Seq.empty[PartitionEvolutionRow].toDF().schema, layout)
      ops.foreach {
        case Append(rows) =>
          val withK = rows.map(r => r.copy(k = { nextK += 1; nextK }))
          t.append(withK.toDF(), layout)
          model ++= withK
        case Evolve(l) =>
          if (l != layout) {
            t.evolvePartitioning(l)
            layout = l
          }
        case Delete(m) =>
          t.delete(col("n") % m === 0)
          model = model.filterNot(_.n % m == 0)
        case Compact =>
          t.compact(targetFiles = 2)
      }
      // 1. full read == model
      val full = t.read().as[PartitionEvolutionRow].collect().toVector.sortBy(_.k)
      val ok1 = full == model.sortBy(_.k)
      // 2. predicate reads never refuse and match the model
      val bySeg = t.readWhere(col("seg") === "B").as[PartitionEvolutionRow].collect()
        .toVector.sortBy(_.k)
      val ok2 = bySeg == model.filter(_.seg == "B").sortBy(_.k)
      val byReg = t.readWhere(col("region") === "e" && col("n") >= 10)
        .as[PartitionEvolutionRow].collect().toVector.sortBy(_.k)
      val ok3 = byReg == model.filter(r => r.region == "e" && r.n >= 10)
        .sortBy(_.k)
      // 3. exact partition-filter read: refuse-or-exact, never silent loss
      val ok4 = layout.forall { c =>
        val target = if (c == "seg") "A" else "e"
        val want = model.filter(r =>
          (if (c == "seg") r.seg else r.region) == target).sortBy(_.k)
        try {
          t.read(Map(c -> target)).as[PartitionEvolutionRow].collect().toVector.sortBy(_.k) == want
        } catch {
          case e: IllegalStateException => e.getMessage.contains("compact()")
        }
      }
      val res = ok1 && ok2 && ok3 && ok4
      if (!res) println(s"ops=$ops\nmodel=${model.sortBy(_.k)}\nfull=$full")
      res
    }
}
