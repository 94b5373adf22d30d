package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, EqualTo, ExprId, Literal, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{ColumnStat, Filter, Histogram, HistogramBin, Join, LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StringType

/** Column-NDV statistics bridge for CBO (X88, VERDICT r8 #8).
  *
  * The gap: `injectPreCBORule` fires BEFORE "Early Filter and
  * Projection Push-Down", and CostBasedJoinReorder fires AFTER it — by
  * reorder time every graft relation is a `DataSourceV2ScanRelation`
  * over a [[graft.sources.GraftBatchScan]]. That scan's
  * `estimateStatistics` reports bytes, and for an unfiltered scan the
  * row count and the per-column NDVs, but not the ANALYZE histograms,
  * the metadata [min,max] or a string-equality filter's selectivity.
  * So those statistics are pinned onto the plan while the raw
  * relations are still visible. (Whether the NDV half of this bridge
  * is now redundant with the scan's own column statistics has not been
  * measured.)
  *
  * The bridge, on public extension points only: [[GraftCboStatsRule]]
  * (preCBO) wraps each graft relation of an NDV-opted table in a
  * [[GraftStatsNode]] whose overridden `stats` carries the log-derived
  * catalyst Statistics (exact rowCount + bytes + the X88 HLL
  * distinctCounts keyed to the relation's own attribute ids);
  * estimation visitors propagate those through Filter/Project/Join
  * nodes, so join reorder sees real per-key cardinalities.
  * [[GraftStatsStrategy]] plans the node by planning its child.
  *
  * STRING keys (VERDICT r13 #6): ANALYZE commits equi-height
  * histograms for string/binary columns in the deterministic xxhash64
  * HASH space (X93's integral twin — a Zipfian hot key becomes
  * singleton [h,h] bins). Two consumers:
  *  - JOIN estimation: both sides hash identically, so Spark's own
  *    bin-overlap math prices a skewed string join key — the
  *    histogram rides the attribute's ColumnStat like any numeric one.
  *    Spark's FilterEstimation, however, CANNOT consume it (it
  *    converts the comparison literal with `EstimationUtils.toDouble`,
  *    which has no string case — a string-literal equality over a
  *    histogram'd attribute would throw mid-planning), so the rule
  *    attaches a string histogram ONLY to attributes no Filter in the
  *    plan references.
  *  - FILTER selectivity: for the shape FilterEstimation can't price —
  *    `WHERE domain = 'x.com' [AND lang = 'en' …]`, every conjunct a
  *    string equality on a histogram'd column — the rule computes the
  *    selectivity ITSELF (hash the literal with the same seed-42
  *    xxhash64, read the bins with Spark's own singleton/partial-bin
  *    rule) and pins the already-filtered Statistics ABOVE the Filter,
  *    so the hot-key estimate is ~the hot bin mass instead of the
  *    uniform rows/ndv guess. Any other filter shape is left to Spark
  *    (histogram withheld -> the safe NDV path, never a crash).
  *
  * The trade, stated plainly: the wrapper node sits between the
  * relation and any Project/Filter chain, so `ScanOperation` no longer
  * matches through it and the wrapped scan loses filter/column
  * pushdown for THAT query. The rule therefore arms only when the
  * session opted into cost-based reorder (`spark.sql.cbo.enabled` +
  * `joinReorder.enabled`) AND the plan has at least two joins — the
  * regime where join ORDER dominates scan width — and only for tables
  * that opted into `graft.ndvColumns`. Everything else is untouched. */
final case class GraftStatsNode(child: LogicalPlan,
    statsOverride: Statistics) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def stats: Statistics = statsOverride
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftStatsNode =
    copy(child = newChild)
}

final case class GraftCboStatsRule(spark: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.cboEnabled || !conf.joinReorderEnabled) return plan
    if (plan.collect { case j: Join => j }.size < 2) return plan
    // crash guard: FilterEstimation cannot convert a STRING literal
    // into histogram space — any string attribute a Filter references
    // must NOT carry a histogram in its ColumnStat
    val filteredStrings: Set[ExprId] = plan.collect {
      case f: Filter => f.condition.references.toSeq
        .filter(_.dataType == StringType).map(_.exprId)
    }.flatten.toSet
    plan.transformUp {
      case rel: DataSourceV2Relation =>
        rel.table match {
          case gt: graft.sources.GraftTable =>
            graftStats(gt, rel.output, filteredStrings) match {
              case Some(st) => GraftStatsNode(rel, st)
              case None => rel
            }
          case _ => rel
        }
      // the filter shape Spark can't price: every conjunct a string
      // equality on a hash-histogram'd column — compute the filtered
      // stats HERE and pin them above the Filter (the inner Filter's
      // own estimate is then never consulted)
      case f @ Filter(_, g: GraftStatsNode) =>
        stringEqualityStats(f, g).map(GraftStatsNode(f, _)).getOrElse(f)
    }
  }

  /** Selectivity of `value` against a hash-space equi-height histogram,
    * Spark's own equality-by-histogram rule: a singleton [h,h] bin
    * holding the value counts fully, a spanning bin counts 1/ndv. */
  private def histogramEqualitySelectivity(h: Double,
      height: Double, bins: Seq[(Double, Double, Long)],
      rows: Long): Double = {
    if (rows <= 0) return 0.0
    val mass = bins.iterator.map { case (lo, hi, ndv) =>
      if (h < lo || h > hi) 0.0
      else if (lo == hi) height
      else height / math.max(ndv, 1L)
    }.sum
    math.min(1.0, mass / rows)
  }

  private def stringEqualityStats(f: Filter,
      g: GraftStatsNode): Option[Statistics] = {
    val gt = g.child match {
      case rel: DataSourceV2Relation => rel.table match {
        case t: graft.sources.GraftTable => t
        case _ => return None
      }
      case _ => return None
    }
    val split = {
      def flat(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
        e match {
          case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
            flat(l) ++ flat(r)
          case other => Seq(other)
        }
      flat(f.condition)
    }
    val hists = gt.table.columnHistograms(gt.asOf)
    val rows = g.statsOverride.rowCount.map(_.toLong).getOrElse(return None)
    val eqs: Seq[(Attribute, Double)] = split.flatMap {
      case EqualTo(a: Attribute, l: Literal)
          if a.dataType == StringType && l.value != null =>
        Some((a, hists.get(a.name)))
      case EqualTo(l: Literal, a: Attribute)
          if a.dataType == StringType && l.value != null =>
        Some((a, hists.get(a.name)))
      // inferred null guards are subsumed by the equality itself
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(_) => None
      case _ => return None // any other conjunct: Spark's path, no override
    }.map {
      case (a, Some((height, bins))) =>
        val lit = split.collectFirst {
          case EqualTo(`a`, l: Literal) => l
          case EqualTo(l: Literal, `a`) => l
        }.get
        // the SAME seed-42 xxhash64 ANALYZE binned with
        val h = XxHash64(Seq(lit), 42L).eval(null).asInstanceOf[Long].toDouble
        a -> histogramEqualitySelectivity(h, height, bins, rows)
      case (_, None) => return None // no histogram: nothing better to say
    }
    if (eqs.isEmpty) return None // nothing to price (pure null guards)
    val sel = eqs.map(_._2).product
    val outRows = math.max(if (sel == 0.0) 0L else 1L, math.round(rows * sel))
    val scaled = (BigInt(g.statsOverride.sizeInBytes.toLong)
      * BigInt(outRows) / BigInt(math.max(rows, 1L))).max(1)
    val eqAttrs = eqs.map(_._1.exprId).toSet
    val newAttrStats = AttributeMap(g.statsOverride.attributeStats.toSeq.map {
      case (a, cs) if eqAttrs(a.exprId) =>
        a -> cs.copy(distinctCount = Some(BigInt(math.min(1L, outRows))))
      case other => other
    })
    Some(Statistics(sizeInBytes = scaled, rowCount = Some(BigInt(outRows)),
      attributeStats = newAttrStats))
  }

  private def graftStats(gt: graft.sources.GraftTable,
      output: Seq[Attribute],
      filteredStrings: Set[ExprId]): Option[Statistics] = {
    val ndv = gt.table.columnNdv(gt.asOf)
    if (ndv.isEmpty) return None
    val rows = gt.table.liveRowCount(gt.asOf)
    if (rows.isEmpty) return None
    // ANALYZE-committed equi-height histograms (X93): skew-aware
    // selectivities — FilterEstimation estimates an equality on a
    // Zipfian key from the bins' per-value mass instead of the
    // uniform rows/ndv guess; string/binary histograms live in hash
    // space and feed JOIN estimation (and the rule's own filter
    // override), never FilterEstimation
    val hists = gt.table.columnHistograms(gt.asOf)
    val attrStats = AttributeMap(output.flatMap(a =>
      ndv.get(a.name).map { n =>
        // [min,max] ride along from the metadata MIN/MAX fold (X71)
        // when sound — FilterEstimation turns range predicates into
        // real selectivities; values rendered in the attribute's own
        // integral type (the estimator casts by dataType)
        val mm = gt.table.liveMinMax(a.name, gt.asOf)
        def typed(v: Long): Option[Any] = a.dataType match {
          case org.apache.spark.sql.types.LongType => Some(v)
          case org.apache.spark.sql.types.IntegerType => Some(v.toInt)
          case org.apache.spark.sql.types.ShortType => Some(v.toShort)
          case org.apache.spark.sql.types.ByteType => Some(v.toByte)
          case _ => None
        }
        val histOk = a.dataType != StringType || !filteredStrings(a.exprId)
        a -> ColumnStat(
          distinctCount = Some(BigInt(n)),
          min = mm.flatMap(_._1).flatMap(typed),
          max = mm.flatMap(_._2).flatMap(typed),
          histogram = if (!histOk) None
            else hists.get(a.name).map { case (h, bins) =>
              Histogram(h, bins.map(b => HistogramBin(b._1, b._2, b._3)).toArray)
            })
      }))
    if (attrStats.isEmpty) return None
    Some(Statistics(
      sizeInBytes = BigInt(gt.table.liveBytes(gt.asOf)).max(1),
      rowCount = Some(BigInt(rows.get)),
      attributeStats = attrStats))
  }
}

final class GraftStatsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftStatsNode(child, _) => planLater(child) :: Nil
    case _ => Nil
  }
}
