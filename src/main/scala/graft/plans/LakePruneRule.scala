package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

import graft.lake.ZoneMap

/** Resolves [[LakeScan]] leaves into the engine's (pruned) scan plan.
  *
  * Runs inside the operator-optimization fixed point (injected via
  * [[GraftExtensions]]), i.e. AFTER `PushDownPredicates` has pushed the
  * query's filters down next to the leaves — so a `Filter` sitting directly
  * on a `LakeScan` carries exactly the conjuncts that reach the table, join
  * or no join. The rule extracts the equality / range constraints Catalyst
  * cannot use (they concern the ENGINE's catalog: partition directory
  * values, hash-bucket ids, per-part zone intervals) and asks the dataset
  * for the union of only the parts that can match. The filter itself stays
  * in the plan (pruning is a superset guarantee, not an exact answer), and
  * the surrounding fixed point then pushes it into each surviving part's
  * file scan as usual.
  *
  * Everything here is driver-side metadata work: zone lookups are catalog
  * maps, bucket ids evaluate locally ([[graft.functions.Bucketing.localBucketId]]),
  * no Spark job runs during planning.
  */
final case class LakePruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // Metadata-only aggregates: an ungrouped COUNT(*)/MIN/MAX-only query
    // over the bare table answers from the engine catalog (per-part row
    // counters + zone maps) when those are provably exact — the whole query
    // collapses to a LocalRelation, ZERO scan tasks (Delta/Iceberg's
    // metadata-only query, driven by the same stats that do the pruning).
    // Any non-tight part, extra filter, grouping, or unsupported aggregate
    // leaves the plan alone — fail open to the real scan.
    case agg @ Aggregate(Seq(), aggExprs, MetaAggChild((scan, cellF)), _) =>
      // Unsupported shapes return the node unchanged; transformDown then
      // descends and the leaf cases below resolve the scan as usual.
      // When the full collapse can't vouch, the HYBRID rewrite still folds
      // the vouched cells into a LocalRelation and scans only the rest.
      metaAnswer(aggExprs, scan, cellF)
        .orElse(hybridAnswer(aggExprs, scan, cellF)).getOrElse(agg)
    case agg @ Aggregate(groupings, aggExprs, MetaAggChild((scan, cellF)), _)
        if groupings.nonEmpty =>
      // GROUP BY partition column(s): cells carry their partition values in
      // the catalog key, so per-group count/min/max folds from the catalog
      // exactly like the ungrouped form — one LocalRelation row per group.
      // The HYBRID form covers the dirty-cell case group-wise.
      groupedMetaAnswer(groupings, aggExprs, scan, cellF)
        .orElse(freqGroupAnswer(groupings, aggExprs, scan, cellF))
        .orElse(freqPartitionGroupAnswer(groupings, aggExprs, scan, cellF))
        .orElse(groupedHybridAnswer(groupings, aggExprs, scan, cellF))
        .getOrElse(agg)
    case Filter(cond, scan: LakeScan) =>
      val pruned = dnfBranches(cond) match {
        // A disjunctive condition (`p='a' OR p='b'`, possibly AND-mixed):
        // prune per DNF branch and union the kept part sets — each branch is
        // a conjunction the single-branch machinery understands.
        case Some(branches) if branches.size > 1 =>
          scan.ds.prunedByDisjunction(branches.map(constraintsOf(_, scan)))
        case _ =>
          val (eqs, ranges, ins) = constraintsOf(cond, scan)
          if (eqs.isEmpty && ranges.isEmpty && ins.isEmpty) scan.ds.toDF
          else scan.ds.prunedByConstraints(eqs, ranges, ins)
      }
      Filter(cond, aligned(scan, fragment(pruned)))
    case scan: LakeScan =>
      aligned(scan, fragment(scan.ds.toDF))
  }

  /** Over this many DNF branches the disjunctive prune falls back to the
    * conjunctive extraction (which soundly ignores OR conjuncts) — bounds
    * the driver-side expansion of nested OR-of-AND conditions.
    */
  private val MaxDnfBranches = 16

  /** The condition as a bounded disjunction of conjunctions: `Or` splits
    * into branches, `And` distributes across them. None when the expansion
    * would exceed [[MaxDnfBranches]].
    */
  private def dnfBranches(e: Expression): Option[Seq[Expression]] = e match {
    case Or(l, r) =>
      for {
        a <- dnfBranches(l); b <- dnfBranches(r)
        if a.size + b.size <= MaxDnfBranches
      } yield a ++ b
    case And(l, r) =>
      for {
        a <- dnfBranches(l); b <- dnfBranches(r)
        if a.size * b.size <= MaxDnfBranches
      } yield for { x <- a; y <- b } yield And(x, y)
    case other => Some(Seq(other))
  }

  /** The engine plan as an optimizer-ready fragment: the dataset plan FULLY
    * optimized on its own. Splicing a merely-analyzed plan into
    * mid-optimization leaves behind nodes whose handling ran in earlier
    * once-only batches (`SubqueryAlias` from merge aliases, `Deduplicate`
    * from delete's distinct, RuntimeReplaceable expressions) — none of which
    * have a physical strategy. A fragment can't contain a LakeScan (part
    * views never reference the SQL surface), so the nested optimize cannot
    * recurse into this rule.
    */
  private def fragment(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.optimizedPlan

  /** Re-expose the replacement plan under the scan's original attribute ids
    * (the enclosing query references those), aligning columns by name.
    */
  private def aligned(scan: LakeScan, child: LogicalPlan): LogicalPlan = {
    val byName = child.output.map(a => a.name -> a).toMap
    val projections = scan.output.map { oldAttr =>
      val newAttr = byName.getOrElse(oldAttr.name,
        throw new IllegalStateException(
          s"lake table lost column '${oldAttr.name}' between view registration and query"))
      Alias(newAttr, oldAttr.name)(exprId = oldAttr.exprId)
    }
    Project(projections, child)
  }

  /** The aggregate child shapes the metadata rewrite sees through: the bare
    * scan, a column-pruning `Project` of pass-through attributes, and/or a
    * `Filter` of PARTITION-COLUMN equalities/IN-lists — the one filter
    * family that selects WHOLE cells, so the catalog fold stays exact
    * (`COUNT(*) WHERE date = '...'` is the most common metadata query a
    * lakehouse serves). Returns the scan plus the cell predicate the
    * filter implies (always-true when no filter). Any other computation in
    * between disqualifies.
    */
  private object MetaAggChild {
    def unapply(plan: LogicalPlan)
        : Option[(LakeScan, graft.model.PartKey => Boolean)] = plan match {
      case scan: LakeScan => Some((scan, _ => true))
      case Project(ps, MetaAggChild((scan, f)))
          if ps.forall(_.isInstanceOf[AttributeReference]) => Some((scan, f))
      case Filter(cond, MetaAggChild((scan, f))) =>
        partitionOnlyFilter(cond, scan).map(g => (scan, k => f(k) && g(k)))
      case _ => None
    }
  }

  /** The whole-cell predicate a filter condition implies, or None when ANY
    * conjunct is not a partition-column equality / IN-list — a residual
    * conjunct would filter rows WITHIN cells, which a catalog fold cannot
    * see. Values compare as the catalog's partition-value strings (the
    * same spelling `keptBy` uses).
    */
  private def partitionOnlyFilter(
      cond: Expression, scan: LakeScan): Option[graft.model.PartKey => Boolean] = {
    val partCols = scan.ds.partitionCols.toSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def ext(l: Literal): Any = CatalystTypeConverters.convertToScala(l.value, l.dataType)
    val perCol = scala.collection.mutable.Map[String, Set[String]]()
    def add(c: String, vs: Seq[Any]): Unit = {
      val s = vs.map(String.valueOf(_)).toSet
      perCol(c) = perCol.get(c).map(_.intersect(s)).getOrElse(s)
    }
    conjuncts(cond).foreach {
      case EqualTo(a: AttributeReference, l: Literal)
          if partCols.contains(a.name) && l.value != null => add(a.name, Seq(ext(l)))
      case EqualTo(l: Literal, a: AttributeReference)
          if partCols.contains(a.name) && l.value != null => add(a.name, Seq(ext(l)))
      case In(a: AttributeReference, vs)
          if partCols.contains(a.name) && vs.nonEmpty &&
            vs.forall(v => v.isInstanceOf[Literal] && v.asInstanceOf[Literal].value != null) =>
        add(a.name, vs.map(v => ext(v.asInstanceOf[Literal])))
      case InSet(a: AttributeReference, hset)
          if partCols.contains(a.name) && hset.nonEmpty && !hset.contains(null) =>
        add(a.name, hset.toSeq.map(v =>
          CatalystTypeConverters.convertToScala(v, a.dataType)))
      case _ => return None // a row-level conjunct: the fold would be wrong
    }
    val sets = perCol.toMap
    Some(key => sets.forall { case (c, allowed) =>
      key.partValues.forall { case (kc, kv) =>
        kc != c || (kv != null && allowed.contains(kv))
      }
    })
  }

  /** Aggregate shapes the metadata rewrites serve: COUNT(*), MIN/MAX of a
    * scan column, SUM of a sum-tracked scan column, COUNT(col) of the same
    * column family (the non-null count rides in the maintained sum state),
    * and AVG of an INTEGRAL column (derived from the exact sum + non-null
    * count, behind the [[avgValue]] exactness guard; full-collapse paths
    * only). An integral or decimal SUM equals the scan's bit for bit. A
    * DOUBLE/FLOAT column's SUM and AVG answer with the correctly rounded
    * exact sum (and quotient), which the scan's order-dependent double
    * accumulation approximates within its own rounding bound; they, and
    * its COUNT(col), take the full-collapse paths only — a hybrid would add
    * a rounded partial into an order-dependent scan sum.
    */
  private sealed trait MetaSpec
  private case object CntSpec extends MetaSpec
  private final case class MinMaxSpec(column: String, wantMin: Boolean) extends MetaSpec
  private final case class SumSpec(column: String) extends MetaSpec
  private final case class CntColSpec(column: String) extends MetaSpec
  private final case class AvgSpec(column: String) extends MetaSpec
  private final case class CntDistinctSpec(column: String) extends MetaSpec
  /** `hll_sketch_estimate(hll_sketch_agg(c))` of a sketch-tracked column:
    * the catalog's per-part DataSketches HLL union carries the SAME
    * registers as the scan-side aggregate (union is register-wise max), so
    * the collapsed estimate is bit-identical to the scan's — the one
    * approximate aggregate whose metadata answer still satisfies the
    * "metadata == scan" contract. Only the default lgK collapses (a caller
    * asking for different precision gets the scan's answer). Plain
    * `approx_count_distinct` (HLL++, a different sketch) never collapses:
    * its estimate would legitimately differ from ours — fail open.
    */
  private final case class ApproxDistinctSpec(column: String) extends MetaSpec

  private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** `fullCollapse`: the caller answers every cell from the catalog (the
    * only paths a floating column's SUM, AVG and COUNT(col) take).
    */
  private def specOf(fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
      scan: LakeScan, fullCollapse: Boolean): Option[MetaSpec] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import graft.lake.SumMap
    def summed(a: AttributeReference): Boolean = scan.outputSet.contains(a) &&
      (SumMap.exact(a.dataType) || fullCollapse && SumMap.floating(a.dataType))
    fn match {
      case Count(Seq(Literal(v, _))) if v != null => Some(CntSpec)
      case Count(Seq(a: AttributeReference)) if summed(a) => Some(CntColSpec(a.name))
      case Min(a: AttributeReference) if scan.outputSet.contains(a) =>
        Some(MinMaxSpec(a.name, wantMin = true))
      case Max(a: AttributeReference) if scan.outputSet.contains(a) =>
        Some(MinMaxSpec(a.name, wantMin = false))
      case Sum(a: AttributeReference, _) if summed(a) => Some(SumSpec(a.name))
      case Average(a: AttributeReference, _) if summed(a) &&
          (integralType(a.dataType) || SumMap.floating(a.dataType)) =>
        Some(AvgSpec(a.name))
      case _ => None
    }
  }

  private def floatingCol(scan: LakeScan, c: String): Boolean =
    scan.output.exists(a => a.name == c && graft.lake.SumMap.floating(a.dataType))

  /** The columns a full-collapse answer reads zones and sums of: zones for
    * MIN/MAX and for every AVG and floating SUM (their guards), sums for
    * SUM, COUNT(col) and AVG.
    */
  private def foldCols(specs: Seq[MetaSpec], scan: LakeScan): (Seq[String], Seq[String]) = {
    val mm = specs.collect {
      case MinMaxSpec(c, _) => c
      case AvgSpec(c) => c
      case SumSpec(c) if floatingCol(scan, c) => c
    }.distinct
    val sums = specs.collect {
      case SumSpec(c) => c
      case CntColSpec(c) => c
      case AvgSpec(c) => c
    }.distinct
    (mm, sums)
  }

  /** A full-collapse AVG: the integral guard of [[avgValue]], or a floating
    * column's correctly rounded quotient.
    */
  private def avgAnswer(scan: LakeScan, c: String, cs: graft.lake.ColSum,
      zone: graft.lake.Zone): Option[Any] =
    (if (floatingCol(scan, c)) graft.lake.SumMap.roundedAvg(cs, zone) else avgValue(cs, zone))
      .map(_.map(java.lang.Double.valueOf(_): Any).orNull)

  /** An AVG derived from the catalog (exact decimal sum / non-null count)
    * equals the scan's double-accumulated average ONLY when every
    * intermediate double addition the scan would perform is exact:
    * sign-uniform values (zone min >= 0 or zone max <= 0 — partial sums
    * are then monotone, so each is bounded by the total) whose total
    * magnitude fits double's 2^53 integer range. Under the guard,
    * `toDouble(total) / count` is bit-identical to the scan (one correctly
    * rounded division of exactly represented operands, on both paths).
    * Outer None = cannot guarantee, fail open; inner None = SQL NULL
    * (no non-null rows).
    */
  private def avgValue(cs: graft.lake.ColSum, zone: graft.lake.Zone)
      : Option[Option[Double]] = {
    if (cs.nonNulls == 0L) return Some(None)
    def num(a: Any): Option[Double] = a match {
      case n: java.lang.Number => Some(n.doubleValue)
      case _ => None
    }
    val signUniform = zone.min.flatMap(num).exists(_ >= 0) ||
      zone.max.flatMap(num).exists(_ <= 0)
    val exactLimit = new java.math.BigDecimal(1L << 53)
    if (!signUniform || cs.sum.abs.compareTo(exactLimit) > 0) None
    else Some(Some(cs.sum.doubleValue / cs.nonNulls))
  }

  /** A folded sum as a CATALYST value of the aggregate's result type, or
    * None when the exact total would not fit it (the real scan would
    * overflow there — fail open so the scan's behavior wins). A DOUBLE
    * result needs the column's zone ([[graft.operators.Stats.sumValue]]).
    */
  private def sumCatalystValue(cs: graft.lake.ColSum, dt: org.apache.spark.sql.types.DataType,
      zone: Option[graft.lake.Zone] = None): Option[Any] =
    graft.operators.Stats.sumValue(cs, dt, zone).map(_.map(
      CatalystTypeConverters.createToCatalystConverter(dt)(_)).orNull)

  /** The LocalRelation carrying the catalog's exact aggregate answer, or
    * None when any aggregate expression is not of the COUNT(*)/MIN/MAX/SUM
    * family or the dataset cannot vouch for exactness
    * ([[graft.lake.LakeDataset.metaStats]], [[graft.lake.LakeDataset.metaSums]]).
    */
  private def metaAnswer(
      aggExprs: Seq[NamedExpression], scan: LakeScan,
      cellFilter: graft.model.PartKey => Boolean): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    val specs: Seq[Option[MetaSpec]] = aggExprs.map {
      // COUNT(DISTINCT partition_col): the distinct values ARE catalog
      // keys — the one DISTINCT aggregate the catalog can answer.
      case Alias(AggregateExpression(
          Count(Seq(a: AttributeReference)), Complete, true, None, _), _)
          if scan.ds.partitionCols.contains(a.name) =>
        Some(CntDistinctSpec(a.name))
      // hll_sketch_estimate(hll_sketch_agg(c)) at the default lgK over a
      // sketch-tracked column — see [[ApproxDistinctSpec]].
      case Alias(HllSketchEstimate(AggregateExpression(
          aggregate.HllSketchAgg(a: AttributeReference, Literal(lgk: Int, _), _, _),
          Complete, false, None, _)), _)
          if lgk == graft.lake.HllMap.LgK && scan.ds.sketchCols.contains(a.name) =>
        Some(ApproxDistinctSpec(a.name))
      case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        specOf(fn, scan, fullCollapse = true)
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return None
    val (mmCols, sumCols) = foldCols(specs.flatten, scan)
    val approxCols = specs.flatten.collect {
      case ApproxDistinctSpec(c) => c
    }.distinct
    for {
      // ONE catalog snapshot serves every family this answer reads.
      whole <- scan.ds.fold(Seq(graft.lake.StatFamily.Sketches -> approxCols),
        cellFilter = cellFilter).map(_.whole)
      (cnt, zones) <- whole.zones(mmCols)
      (_, sums) <- whole.sums(sumCols)
      approx <- whole.approxDistinct(approxCols)
      values <- specs.flatten.zip(aggExprs).foldRight(Option(List.empty[Any])) {
        case ((spec, e), acc) => acc.flatMap { rest =>
          spec match {
            case CntSpec => Some(cnt.asInstanceOf[Any] :: rest)
            case CntColSpec(c) => Some(sums(c).nonNulls.asInstanceOf[Any] :: rest)
            case MinMaxSpec(c, wantMin) =>
              val bound = if (wantMin) zones(c).min else zones(c).max
              Some(bound.map(
                CatalystTypeConverters.createToCatalystConverter(e.dataType)(_)).orNull :: rest)
            case SumSpec(c) =>
              sumCatalystValue(sums(c), e.dataType, zones.get(c)).map(_ :: rest)
            case AvgSpec(c) =>
              avgAnswer(scan, c, sums(c), zones(c)).map(_ :: rest)
            case CntDistinctSpec(c) =>
              Some(whole.distinctPartition(c).asInstanceOf[Any] :: rest)
            case ApproxDistinctSpec(c) =>
              Some(approx(c).asInstanceOf[Any] :: rest)
          }
        }
      }
    } yield LocalRelation(aggExprs.map(_.toAttribute),
      Seq(org.apache.spark.sql.catalyst.InternalRow.fromSeq(values)))
  }

  /** HYBRID metadata aggregation on the SQL surface: when [[metaAnswer]]
    * cannot vouch for EVERY cell, fold the vouched cells into a one-row
    * LocalRelation of PARTIAL aggregates, aggregate the unvouched rest with
    * the matching partial shapes over a scan of ONLY those cells, and
    * re-aggregate the union — the classic partial/final decomposition, with
    * the partial side of the vouched cells precomputed from the catalog:
    *
    * {{{
    * Aggregate(final)                    count(*)  -> coalesce(sum(p),0)
    *   Union                             min/max   -> min/max(p)
    *     LocalRelation(vouched partials) sum       -> cast(sum(p), origType)
    *     Aggregate(partial, restScan)    count(c)  -> coalesce(sum(p),0)
    * }}}
    *
    * One upsert-dirtied cell in a 10k-cell table costs one cell's scan on
    * `SELECT count(*), sum(x) FROM t` instead of 10k. Decomposition is
    * exact for this whole aggregate family; anything that cannot be made
    * exact (no vouched cells, sum overflow vs the result type,
    * incomparable zone bounds) returns None — the plain scan wins.
    */
  private def hybridAnswer(
      aggExprs: Seq[NamedExpression], scan: LakeScan,
      cellFilter: graft.model.PartKey => Boolean): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.types.LongType
    val specs: Seq[Option[MetaSpec]] = aggExprs.map {
      case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        specOf(fn, scan, fullCollapse = false)
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return None
    val sp = specs.flatten
    // AVG never takes a hybrid: its exactness proof (avgValue) needs zone
    // bounds over EVERY cell, and unvouched cells have none — fail open.
    if (sp.exists(_.isInstanceOf[AvgSpec])) return None
    val mmCols = sp.collect { case MinMaxSpec(c, _) => c }.distinct
    val sumCols = sp.collect { case SumSpec(c) => c; case CntColSpec(c) => c }.distinct
    scan.ds.metaHybrid(mmCols, sumCols, cellFilter).flatMap {
      case (_, _, _, None) =>
        None // everything vouched: metaAnswer's territory (it already declined)
      case (cnt, zones, sums, Some(restDf)) =>
        val rest = fragment(restDf)
        val restByName = rest.output.map(a => a.name -> a).toMap
        // Per aggregate: (vouched partial catalyst value, partial agg over
        // the rest scan, final agg builder over the partial attribute).
        def aggE(fn: AggregateFunction): AggregateExpression =
          AggregateExpression(fn, Complete, isDistinct = false)
        val built: Seq[Option[(Any, Expression, Attribute => Expression)]] =
          sp.zip(aggExprs).map { case (spec, e) =>
            spec match {
              case CntSpec => Some((cnt,
                aggE(Count(Seq(Literal(1)))),
                (p: Attribute) => Coalesce(Seq(aggE(Sum(p)), Literal(0L)))))
              case CntColSpec(c) => Some((sums(c).nonNulls,
                aggE(Count(Seq(restByName(c)))),
                (p: Attribute) => Coalesce(Seq(aggE(Sum(p)), Literal(0L)))))
              case MinMaxSpec(c, wantMin) =>
                val bound = if (wantMin) zones(c).min else zones(c).max
                val v = bound.map(CatalystTypeConverters
                  .createToCatalystConverter(e.dataType)(_)).orNull
                Some((v,
                  aggE(if (wantMin) Min(restByName(c)) else Max(restByName(c))),
                  (p: Attribute) =>
                    aggE(if (wantMin) Min(p) else Max(p))))
              case SumSpec(c) =>
                sumCatalystValue(sums(c), e.dataType).map(v => (v,
                  aggE(Sum(restByName(c))),
                  (p: Attribute) => {
                    val s = aggE(Sum(p))
                    if (s.dataType == e.dataType) s else Cast(s, e.dataType)
                  }))
              case AvgSpec(_) | CntDistinctSpec(_) => None // no hybrid forms
            }
          }
        if (built.exists(_.isEmpty)) return None
        val rows = built.flatten
        // Partial schema: one column per aggregate, typed as the PARTIAL
        // aggregate's result (count partials are the count's long, sum
        // partials the sum result type, min/max the column type).
        val partialAliases = rows.zipWithIndex.map { case ((_, pe, _), i) =>
          Alias(pe, s"__p$i")()
        }
        val innerAgg = Aggregate(Seq(), partialAliases, rest)
        val localAttrs = partialAliases.map(a =>
          AttributeReference(a.name, a.dataType, nullable = true)())
        val local = LocalRelation(localAttrs,
          Seq(org.apache.spark.sql.catalyst.InternalRow.fromSeq(rows.map(_._1))))
        // Union output binds to the FIRST child's attributes.
        val union = Union(Seq(local, innerAgg), byName = false,
          allowMissingCol = false)
        val finalExprs = rows.zip(aggExprs).zipWithIndex.map {
          case (((_, _, fin), orig), i) =>
            Alias(fin(localAttrs(i)), orig.name)(exprId = orig.exprId)
        }
        Some(Aggregate(Seq(), finalExprs, union))
    }
  }

  /** The grouped-by-partition-column analogue of [[metaAnswer]]: every
    * grouping expression must be a partition-column attribute; every
    * output is a grouping attribute (bare or aliased) or a
    * COUNT(*)/MIN/MAX aggregate. None for any other shape or whenever the
    * dataset cannot vouch ([[graft.lake.LakeDataset.metaStatsGrouped]]).
    */
  private def groupedMetaAnswer(
      groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      scan: LakeScan,
      cellFilter: graft.model.PartKey => Boolean): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    val partCols = scan.ds.partitionCols.toSet
    val groupAttrs: Seq[AttributeReference] = groupings.map {
      case a: AttributeReference if partCols.contains(a.name) => a
      case _ => return None
    }
    val groupIdx = groupAttrs.map(_.name).zipWithIndex.toMap
    // Left = index into the group tuple; Right = aggregate spec.
    val specs: Seq[Either[Int, MetaSpec]] = aggExprs.map {
      case a: AttributeReference if groupIdx.contains(a.name) =>
        scala.util.Left(groupIdx(a.name))
      case Alias(a: AttributeReference, _) if groupIdx.contains(a.name) =>
        scala.util.Left(groupIdx(a.name))
      case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        specOf(fn, scan, fullCollapse = true) match {
          case Some(s) => scala.util.Right(s)
          case None => return None
        }
      case _ => return None
    }
    val (cols, sumCols) = foldCols(specs.collect { case scala.util.Right(s) => s }, scan)
    for {
      // ONE catalog snapshot: per group count, zones and sums together.
      groups <- scan.ds.fold(groupBy = Some(groupAttrs.map(_.name)), cellFilter = cellFilter)
        .flatMap(_.each(g =>
          for ((cnt, zones) <- g.zones(cols); (_, sums) <- g.sums(sumCols)) yield (cnt, zones, sums)))
      rows <- groups.foldRight(Option(List.empty[org.apache.spark.sql.catalyst.InternalRow])) {
        case ((vals, (cnt, zones, sums)), acc) => acc.flatMap { rest =>
          val values = specs.zip(aggExprs).foldRight(Option(List.empty[Any])) {
            case ((spec, e), a2) => a2.flatMap { r2 =>
              spec match {
                case scala.util.Left(i) =>
                  Some(Option(vals(i)).map(
                    CatalystTypeConverters.createToCatalystConverter(e.dataType)(_)).orNull :: r2)
                case scala.util.Right(CntSpec) => Some(cnt.asInstanceOf[Any] :: r2)
                case scala.util.Right(CntColSpec(c)) =>
                  Some(sums(c).nonNulls.asInstanceOf[Any] :: r2)
                case scala.util.Right(MinMaxSpec(c, wantMin)) =>
                  val bound = if (wantMin) zones(c).min else zones(c).max
                  Some(bound.map(
                    CatalystTypeConverters.createToCatalystConverter(e.dataType)(_)).orNull :: r2)
                case scala.util.Right(SumSpec(c)) =>
                  sumCatalystValue(sums(c), e.dataType, zones.get(c)).map(_ :: r2)
                case scala.util.Right(AvgSpec(c)) =>
                  avgAnswer(scan, c, sums(c), zones(c)).map(_ :: r2)
              }
            }
          }
          values.map(vs =>
            org.apache.spark.sql.catalyst.InternalRow.fromSeq(vs) :: rest)
        }
      }
    } yield LocalRelation(aggExprs.map(_.toAttribute), rows)
  }

  /** Collapse `GROUP BY <freq-tracked column> + COUNT` to a LocalRelation
    * from the frequent-items catalog — the non-partition-column sibling of
    * [[groupedMetaAnswer]]. Sound ONLY in the certified-exact regime
    * ([[graft.lake.LakeDataset.metaGroupCounts]] fails open otherwise):
    * the folded sketch never evicted, so its counter table IS the
    * complete exact group-by — including the NULL group, derived from the
    * row counters (`COUNT(col)` there is 0 by SQL semantics). A column
    * whose cardinality ever exceeded the budget keeps its normal scan
    * plan and its normal (identical) answer — the rewrite can only remove
    * work, never change a result.
    */
  private def freqGroupAnswer(
      groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      scan: LakeScan,
      cellFilter: graft.model.PartKey => Boolean): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    val groupAttr = groupings match {
      case Seq(a: AttributeReference) if scan.ds.freqCols.contains(a.name) &&
          scan.outputSet.contains(a) => a
      case _ => return None
    }
    sealed trait FSpec
    object GroupVal extends FSpec
    object CountStar extends FSpec
    object CountGroupCol extends FSpec
    val specs: Seq[FSpec] = aggExprs.map {
      case a: AttributeReference if a.name == groupAttr.name => GroupVal
      case Alias(a: AttributeReference, _) if a.name == groupAttr.name => GroupVal
      case Alias(AggregateExpression(
          Count(Seq(Literal(v, _))), Complete, false, None, _), _) if v != null =>
        CountStar
      case Alias(AggregateExpression(
          Count(Seq(a: AttributeReference)), Complete, false, None, _), _)
          if a.name == groupAttr.name =>
        CountGroupCol
      case _ => return None
    }
    // Invert the sketch's cast-to-string canonicalization; any value that
    // does not round-trip fails the WHOLE answer open, never one row.
    def decode(s: String): Option[Any] = {
      import org.apache.spark.sql.types._
      try groupAttr.dataType match {
        case StringType => Some(s)
        case IntegerType => Some(Integer.valueOf(s))
        case LongType => Some(java.lang.Long.valueOf(s))
        case ShortType => Some(java.lang.Short.valueOf(s))
        case ByteType => Some(java.lang.Byte.valueOf(s))
        case BooleanType => Some(java.lang.Boolean.valueOf(s))
        case DateType => Some(java.sql.Date.valueOf(s))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    val conv = CatalystTypeConverters.createToCatalystConverter(groupAttr.dataType)
    for {
      counts <- scan.ds.metaGroupCounts(groupAttr.name, cellFilter)
      rows <- counts.foldRight(
          Option(List.empty[org.apache.spark.sql.catalyst.InternalRow])) {
        case ((vOpt, cnt), acc) => acc.flatMap { rest =>
          val gv: Option[Any] = vOpt match {
            case Some(s) => decode(s)
            case None => Some(null)
          }
          gv.map { g =>
            org.apache.spark.sql.catalyst.InternalRow.fromSeq(specs.map {
              case GroupVal => Option(g).map(conv).orNull
              case CountStar => cnt
              case CountGroupCol => if (vOpt.isEmpty) 0L else cnt
            }) :: rest
          }
        }
      }
    } yield LocalRelation(aggExprs.map(_.toAttribute), rows)
  }

  /** The two-dimensional freq collapse: `GROUP BY <partition col(s)>,
    * <freq col> + COUNT` → one LocalRelation row per (partition group,
    * value) — the "status counts per day" dashboard query from the catalog
    * alone. Same exact-regime soundness as [[freqGroupAnswer]], certified
    * PER partition group ([[graft.lake.LakeDataset.metaGroupCountsGrouped]]
    * fails the whole answer open if any group's fold evicted).
    */
  private def freqPartitionGroupAnswer(
      groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      scan: LakeScan,
      cellFilter: graft.model.PartKey => Boolean): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    val partCols = scan.ds.partitionCols.toSet
    val attrs = groupings.map {
      case a: AttributeReference if scan.outputSet.contains(a) => a
      case _ => return None
    }
    val (partAttrs, freqAttrs) = attrs.partition(a => partCols.contains(a.name))
    val freqAttr = freqAttrs match {
      case Seq(a) if scan.ds.freqCols.contains(a.name) => a
      case _ => return None
    }
    if (partAttrs.isEmpty) return None // the one-dimensional case's territory
    val partIdx = partAttrs.map(_.name).zipWithIndex.toMap
    sealed trait FSpec
    case class PartVal(i: Int) extends FSpec
    object FreqVal extends FSpec
    object CountStar extends FSpec
    object CountFreqCol extends FSpec
    val specs: Seq[FSpec] = aggExprs.map {
      case a: AttributeReference if partIdx.contains(a.name) => PartVal(partIdx(a.name))
      case Alias(a: AttributeReference, _) if partIdx.contains(a.name) =>
        PartVal(partIdx(a.name))
      case a: AttributeReference if a.name == freqAttr.name => FreqVal
      case Alias(a: AttributeReference, _) if a.name == freqAttr.name => FreqVal
      case Alias(AggregateExpression(
          Count(Seq(Literal(v, _))), Complete, false, None, _), _) if v != null =>
        CountStar
      case Alias(AggregateExpression(
          Count(Seq(a: AttributeReference)), Complete, false, None, _), _)
          if a.name == freqAttr.name =>
        CountFreqCol
      case _ => return None
    }
    def decodeFreq(s: String): Option[Any] = {
      import org.apache.spark.sql.types._
      try freqAttr.dataType match {
        case StringType => Some(s)
        case IntegerType => Some(Integer.valueOf(s))
        case LongType => Some(java.lang.Long.valueOf(s))
        case ShortType => Some(java.lang.Short.valueOf(s))
        case ByteType => Some(java.lang.Byte.valueOf(s))
        case BooleanType => Some(java.lang.Boolean.valueOf(s))
        case DateType => Some(java.sql.Date.valueOf(s))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    val freqConv = CatalystTypeConverters.createToCatalystConverter(freqAttr.dataType)
    val partConvs = partAttrs.map(a =>
      CatalystTypeConverters.createToCatalystConverter(a.dataType))
    for {
      groups <- scan.ds.metaGroupCountsGrouped(
        partAttrs.map(_.name), freqAttr.name, cellFilter)
      rows <- groups.foldRight(
          Option(List.empty[org.apache.spark.sql.catalyst.InternalRow])) {
        case ((vals, counts), acc) => acc.flatMap { outer =>
          counts.foldRight(Option(outer)) { case ((vOpt, cnt), acc2) =>
            acc2.flatMap { rest =>
              val gv: Option[Any] = vOpt match {
                case Some(s) => decodeFreq(s)
                case None => Some(null)
              }
              gv.map { g =>
                org.apache.spark.sql.catalyst.InternalRow.fromSeq(specs.map {
                  case PartVal(i) =>
                    Option(vals(i)).map(partConvs(i)).orNull
                  case FreqVal => Option(g).map(freqConv).orNull
                  case CountStar => cnt
                  case CountFreqCol => if (vOpt.isEmpty) 0L else cnt
                }) :: rest
              }
            }
          }
        }
      }
    } yield LocalRelation(aggExprs.map(_.toAttribute), rows)
  }

  /** The grouped HYBRID: when [[groupedMetaAnswer]] cannot vouch for every
    * cell, fold the vouched cells into per-group PARTIAL rows (group values
    * + one partial per aggregate), run the matching grouped partial
    * aggregation over a scan of ONLY the unvouched cells, and re-aggregate
    * the union on the group columns — groups whose cells all vouched never
    * touch a file:
    *
    * {{{
    * Aggregate(groupCols, final)            count -> coalesce(sum(p),0)
    *   Union                                min/max -> min/max(p)
    *     LocalRelation(gVals ++ partials)   sum -> cast(sum(p), origType)
    *     Aggregate(groupCols, partials, restScan)
    * }}}
    *
    * Exact for the same reason the ungrouped hybrid is (partial/final
    * decomposition; NULL group values merge because grouping treats NULLs
    * as equal); AVG is excluded as in [[hybridAnswer]]. Any vouch failure
    * or sum-overflow returns None — the plain grouped scan wins.
    */
  private def groupedHybridAnswer(
      groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      scan: LakeScan,
      cellFilter: graft.model.PartKey => Boolean): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    val partCols = scan.ds.partitionCols.toSet
    val groupAttrs: Seq[AttributeReference] = groupings.map {
      case a: AttributeReference if partCols.contains(a.name) => a
      case _ => return None
    }
    val groupIdx = groupAttrs.map(_.name).zipWithIndex.toMap
    val specs: Seq[Either[Int, MetaSpec]] = aggExprs.map {
      case a: AttributeReference if groupIdx.contains(a.name) =>
        scala.util.Left(groupIdx(a.name))
      case Alias(a: AttributeReference, _) if groupIdx.contains(a.name) =>
        scala.util.Left(groupIdx(a.name))
      case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        specOf(fn, scan, fullCollapse = false) match {
          case Some(_: AvgSpec) => return None // see hybridAnswer
          case Some(s) => scala.util.Right(s)
          case None => return None
        }
      case _ => return None
    }
    // aggSpecs may be EMPTY: `SELECT DISTINCT partition_col` is an
    // Aggregate with no aggregate functions — vouched distinct values +
    // a distinct over the rest scan is still the right hybrid.
    val aggSpecs = specs.collect { case scala.util.Right(s) => s }
    val mmCols = aggSpecs.collect { case MinMaxSpec(c, _) => c }.distinct
    val sumCols = aggSpecs.collect {
      case SumSpec(c) => c
      case CntColSpec(c) => c
    }.distinct
    scan.ds.metaHybridGrouped(
        groupAttrs.map(_.name), mmCols, sumCols, cellFilter).flatMap {
      case (_, None) =>
        None // everything vouched: groupedMetaAnswer's territory
      case (groups, Some(restDf)) =>
        val rest = fragment(restDf)
        val restByName = rest.output.map(a => a.name -> a).toMap
        def aggE(fn: AggregateFunction): AggregateExpression =
          AggregateExpression(fn, Complete, isDistinct = false)
        // One partial column per AGGREGATE output (group outputs ride as
        // plain grouping columns): the rest-side partial expression and the
        // final merge builder; vouched values fill in per group below.
        val shapes: Seq[(MetaSpec, NamedExpression, Expression, Attribute => Expression)] =
          aggSpecs.zip(specs.zip(aggExprs).collect {
            case (scala.util.Right(_), e) => e
          }).map { case (spec, e) =>
            spec match {
              case CntSpec => (spec, e, aggE(Count(Seq(Literal(1)))): Expression,
                (p: Attribute) => Coalesce(Seq(aggE(Sum(p)), Literal(0L))): Expression)
              case CntColSpec(c) => (spec, e, aggE(Count(Seq(restByName(c)))),
                (p: Attribute) => Coalesce(Seq(aggE(Sum(p)), Literal(0L))))
              case MinMaxSpec(c, wantMin) => (spec, e,
                aggE(if (wantMin) Min(restByName(c)) else Max(restByName(c))),
                (p: Attribute) => aggE(if (wantMin) Min(p) else Max(p)))
              case SumSpec(c) => (spec, e, aggE(Sum(restByName(c))),
                (p: Attribute) => {
                  val s = aggE(Sum(p))
                  if (s.dataType == e.dataType) s else Cast(s, e.dataType)
                })
              case AvgSpec(_) | CntDistinctSpec(_) =>
                return None // no hybrid forms (specOf never emits these)
            }
          }
        // Rest child: the grouped PARTIAL aggregation over only the
        // unvouched cells — group columns first, partials after.
        val restGroupAttrs = groupAttrs.map(a => restByName(a.name))
        val restGroupAliases = restGroupAttrs.zip(groupAttrs).map {
          case (ra, ga) => Alias(ra, ga.name)()
        }
        val partialAliases = shapes.zipWithIndex.map { case ((_, _, pe, _), i) =>
          Alias(pe, s"__p$i")()
        }
        val restAgg = Aggregate(restGroupAttrs,
          restGroupAliases ++ partialAliases, rest)
        // Local child: one row per vouched group, positionally typed like
        // the rest child so the union is exact.
        val localGroupAttrs = groupAttrs.map(a =>
          AttributeReference(a.name, a.dataType, nullable = true)())
        val localPartialAttrs = partialAliases.map(a =>
          AttributeReference(a.name, a.dataType, nullable = true)())
        val groupConverters = groupAttrs.map(a =>
          CatalystTypeConverters.createToCatalystConverter(a.dataType))
        val localRowsOpt: Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
          groups.foldRight(
              Option(List.empty[org.apache.spark.sql.catalyst.InternalRow])) {
            case ((vals, cnt, zones, sums), acc) => acc.flatMap { restRows =>
              val partialsOpt = shapes.zipWithIndex
                  .foldRight(Option(List.empty[Any])) {
                case (((spec, e, _, _), pi), a2) => a2.flatMap { r2 =>
                  spec match {
                    case CntSpec => Some(cnt.asInstanceOf[Any] :: r2)
                    case CntColSpec(c) =>
                      Some(sums(c).nonNulls.asInstanceOf[Any] :: r2)
                    case MinMaxSpec(c, wantMin) =>
                      val bound = if (wantMin) zones(c).min else zones(c).max
                      Some(bound.map(CatalystTypeConverters
                        .createToCatalystConverter(e.dataType)(_)).orNull :: r2)
                    case SumSpec(c) =>
                      // Vouched partial typed as the PARTIAL's result (the
                      // rest-side Sum), not the final output type.
                      sumCatalystValue(sums(c), partialAliases(pi).dataType)
                        .map(_ :: r2)
                    case AvgSpec(_) | CntDistinctSpec(_) => None // unreachable
                  }
                }
              }
              partialsOpt.map { ps =>
                val gVals = vals.zip(groupConverters).map { case (v, conv) =>
                  if (v == null) null else conv(v)
                }
                org.apache.spark.sql.catalyst.InternalRow
                  .fromSeq(gVals ++ ps) :: restRows
              }
            }
          }
        localRowsOpt.map { localRows =>
          val local = LocalRelation(
            localGroupAttrs ++ localPartialAttrs, localRows)
          val union = Union(Seq(local, restAgg), byName = false,
            allowMissingCol = false)
          // Final: group on the union's group columns; outputs mirror the
          // original aggregate's order and attribute ids.
          var aggIdx = -1
          val finalExprs = specs.zip(aggExprs).map {
            case (scala.util.Left(i), orig) =>
              Alias(localGroupAttrs(i), orig.name)(exprId = orig.exprId)
            case (scala.util.Right(_), orig) =>
              aggIdx += 1
              Alias(shapes(aggIdx)._4(localPartialAttrs(aggIdx)),
                orig.name)(exprId = orig.exprId)
          }
          Aggregate(localGroupAttrs, finalExprs, union)
        }
    }
  }

  /** Split a pushed-down condition into per-column equality values,
    * [lo, hi] interval bounds, and IN-list value sets the engine can prune
    * with — the shared [[PredicateConstraints]] extraction, scoped to the
    * scan's columns. Unrecognized conjuncts are simply ignored — pruning
    * stays a sound superset.
    */
  private def constraintsOf(cond: Expression, scan: LakeScan)
      : (Map[String, Any], Map[String, (Option[Any], Option[Any])],
         Map[String, Seq[Any]]) = {
    val names = scan.output.map(_.name).toSet
    PredicateConstraints.of(cond, names.contains)
  }
}
