package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.DataType

/** Materialized-view rewrite — the aggregate-rollup half of Hive's
  * materialized view machinery (Hive 2.3/3.0: `TOK_CREATE_MATERIALIZED_
  * VIEW` + Calcite's MaterializedViewRule, SURVEY §2.3 [2.x]; the same
  * published idea as Goldstein & Larson, SIGMOD'01). A registered MV is
  * a parquet table holding PARTIAL aggregates of a base table at some
  * grouping granularity; the rule rewrites a query-time aggregate over
  * the base to a (much smaller) re-aggregation over the MV whenever
  *
  *   - the query's grouping columns ⊆ the MV's grouping columns,
  *   - any residual Filter between aggregate and scan references
  *     grouping columns only (it then applies to the MV verbatim),
  *   - every aggregate is derivable from stored partials:
  *     SUM(x)→SUM(sum_x), COUNT(*)→SUM(cnt) (COUNT regroups as SUM),
  *     MIN(x)→MIN(min_x), MAX(x)→MAX(max_x); DISTINCT/FILTER-clause
  *     aggregates are never rewritten (not derivable).
  *
  * Exactness contract: SUM partials must be DECIMAL (or integer) typed
  * so regrouping is associative and bit-exact — the module refuses
  * floating SUM specs at registration; MIN/MAX/COUNT are exact under
  * any regrouping. The rewritten aggregate's output is cast back to the
  * original expression types and keeps the original exprIds, so parent
  * operators are none the wiser.
  *
  * Staleness contract (same opt-in honesty as AnswerFromStats):
  * registering an MV for a session IS the opt-in — the registrant
  * asserts the MV was built from the base files it names. Base
  * matching is by file identity: every file the scan reads, with its
  * length and modification time, as listed when the scan was resolved.
  * A different sfDir, or a base rewritten in place, never matches a
  * stale registration (and the MV's own rebuild over the new files is
  * not rewritten to read the old MV).
  *
  * At 100 TB this is the canonical reporting accelerator: a 10⁹-row
  * fact rolls up once into a 10⁵-row MV, and every dashboard query at
  * coarser granularity reads the MV — the rule turns a full fact scan
  * into a scan of the rollup, with identical results.
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** One derivable aggregate: base column (+ optional cast the query
    * applies under the aggregate) → the MV column holding the partial. */
  final case class AggSpec(baseCol: String, cast: Option[DataType], mvCol: String)

  /** An MV definition: `mvName` is a registered view over the
    * materialized parquet; `baseFiles` are the files of the base scan
    * it was built from (`scanFilesOf`). */
  final case class MvDef(
      mvName: String,
      baseFiles: Set[(String, Long, Long)],
      groupCols: Set[String],
      sums: Seq[AggSpec] = Nil,
      mins: Seq[AggSpec] = Nil,
      maxs: Seq[AggSpec] = Nil,
      countStarCol: Option[String] = None) {
    require(groupCols.nonEmpty && baseFiles.nonEmpty)
  }

  /** Register `d` on the session's table registration (`Tables.derived`),
    * which drops it when the base changes or on `Tables.invalidate`,
    * and attach the rule to the session's optimizer once. */
  def register(spark: SparkSession, d: MvDef): Unit = {
    d.sums.foreach { s =>
      val t = s.cast.getOrElse(
        spark.table(d.mvName).schema(s.mvCol).dataType)
      require(!t.isInstanceOf[org.apache.spark.sql.types.FloatType] &&
              !t.isInstanceOf[org.apache.spark.sql.types.DoubleType],
        s"MV ${d.mvName}: SUM partial over floating type $t is not " +
          "re-aggregation-exact; store the partial as DECIMAL")
    }
    // keyed by itself: registering the same definition again is a no-op
    graft.Tables.derived(spark, d)(d)
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  /** The files a DataFrame's (single) file scan reads — how registrants
    * name the base table, so the registered files match the rule's
    * `baseOf` extraction by construction. */
  def scanFilesOf(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => filesOf(fs)
        case _ => Set.empty[(String, Long, Long)]
      }
    }.flatten.toSet

  /** (path, length, modification time) of every file a relation reads,
    * from the listing its file index took when the scan was resolved. */
  private def filesOf(r: HadoopFsRelation): Set[(String, Long, Long)] =
    r.location match {
      case idx: PartitioningAwareFileIndex => idx.allFiles()
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
      case _ => Set.empty
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val session = SparkSession.getActiveSession.orNull
    if (session == null) return plan
    val defs = graft.Tables.derivedValues(session).collect { case d: MvDef => d }
    if (defs.isEmpty) return plan
    plan.transform {
      case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
        baseOf(child) match {
          case Some((files, filter)) =>
            defs.find(d => d.baseFiles == files).flatMap(
              rewrite(session, agg, groupExprs, aggExprs, filter, _))
              .getOrElse(agg)
          case None => agg
        }
    }
  }

  /** The base scan's files under the aggregate, plus any residual
    * filter on the way, provided nothing else intervenes. */
  private def baseOf(p: LogicalPlan, filter: Option[Expression] = None)
      : Option[(Set[(String, Long, Long)], Option[Expression])] =
    p match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some((filesOf(fs), filter))
        case _ => None
      }
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        baseOf(child, filter)
      case SubqueryAlias(_, child) => baseOf(child, filter)
      case Filter(cond, child) if filter.isEmpty => baseOf(child, Some(cond))
      case _ => None
    }

  private def rewrite(session: SparkSession, agg: Aggregate,
      groupExprs: Seq[Expression], aggExprs: Seq[NamedExpression],
      filter: Option[Expression], d: MvDef): Option[LogicalPlan] = {
    // grouping granularity + filter columns must be covered by the MV
    val groupNames = groupExprs.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    if (!groupNames.forall(d.groupCols)) return None
    if (!filter.forall(_.references.forall(a => d.groupCols(a.name)))) return None

    // strip the view wrappers the analyzer adds — they are eliminated
    // in early optimization, so a subtree spliced in at this phase must
    // arrive without them or the physical planner asserts
    val mv = session.table(d.mvName).queryExecution.analyzed.transformUp {
      case SubqueryAlias(_, child) => child
      case v: View => v.child
    }
    val mvAttr: Map[String, Attribute] = mv.output.map(a => a.name -> a).toMap
    def attr(n: String): Attribute = mvAttr(n)

    def specOf(specs: Seq[AggSpec], e: Expression): Option[AggSpec] = e match {
      case a: AttributeReference =>
        specs.find(s => s.baseCol == a.name && s.cast.isEmpty)
      case Cast(a: AttributeReference, dt, _, _) =>
        specs.find(s => s.baseCol == a.name && s.cast.contains(dt))
      case _ => None
    }

    // derive one aggregate from stored partials, cast back to the
    // query's type (SUM over DECIMAL partials widens precision; COUNT
    // regroups as SUM, which is already LongType)
    def derive(ae: AggregateExpression): Option[Expression] = {
      val partial: Option[Expression] = ae match {
        case AggregateExpression(fn, Complete, false, None, _) => fn match {
          case Sum(c, ansi) => specOf(d.sums, c).map(s =>
            Sum(attr(s.mvCol), ansi).toAggregateExpression())
          case Min(c) => specOf(d.mins, c).map(s =>
            Min(attr(s.mvCol)).toAggregateExpression())
          case Max(c) => specOf(d.maxs, c).map(s =>
            Max(attr(s.mvCol)).toAggregateExpression())
          case Count(Seq(Literal(v, _))) if v != null => d.countStarCol.map(c =>
            Sum(attr(c)).toAggregateExpression())
          case _ => None
        }
        case _ => None // DISTINCT / FILTER-clause / partial modes
      }
      partial.map(e => if (e.dataType == ae.dataType) e else Cast(e, ae.dataType))
    }

    // rewrite an output expression tree: aggregates → derived partials,
    // grouping attrs → MV attrs, anything else recurses; any leaf the
    // MV cannot supply vetoes the whole rewrite
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => derive(ae)
      case a: AttributeReference if d.groupCols(a.name) => Some(attr(a.name))
      case _: AttributeReference => None
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }

    // keep names/exprIds so parent operators resolve against the
    // rewritten aggregate unchanged
    val rewritten: Seq[Option[NamedExpression]] = aggExprs.map {
      case a: AttributeReference if d.groupCols(a.name) =>
        Some(Alias(attr(a.name), a.name)(exprId = a.exprId))
      case al @ Alias(child, name) =>
        rewriteExpr(child).map(c => Alias(c, name)(exprId = al.exprId))
      case _ => None
    }
    if (rewritten.exists(_.isEmpty)) return None

    val remappedFilter = filter.map(_.transform {
      case a: AttributeReference => attr(a.name)
    })
    val newChild = remappedFilter.map(Filter(_, mv)).getOrElse(mv)
    val newGroup = groupNames.map(attr)
    Some(Aggregate(newGroup, rewritten.map(_.get), newChild, None))
  }
}
