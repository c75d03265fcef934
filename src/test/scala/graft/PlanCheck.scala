package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}

import scala.reflect.ClassTag

/** Structural plan assertions for specs: walk the CURRENT physical plan
  * tree (through AQE wrappers and materialized query stages) and match
  * node CLASSES and FIELDS — never toString regexes, whose render text
  * drifts across Spark versions while the node types are the API.
  *
  * ReusedExchangeExec subtrees are NOT expanded: a reused exchange is by
  * definition not a second exchange, so node counts reflect distinct
  * physical work (the convention the old string counts implemented by
  * excluding "ReusedExchange" lines). Expression subqueries are not
  * expanded either, matching what executedPlan.toString rendered.
  */
object PlanCheck {

  /** Every reachable physical node in the CURRENT (post-AQE) plan. */
  def nodes(df: DataFrame): Seq[SparkPlan] = {
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => expand(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      // a persisted frame hides its producing plan behind the cache
      // scan — descend so operators inside cached subtrees stay visible
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        c +: expand(c.relation.cachedPlan)
      case other => other +: other.children.flatMap(expand)
    }
    expand(df.queryExecution.executedPlan)
  }

  def collectNodes[T <: SparkPlan: ClassTag](df: DataFrame): Seq[T] =
    nodes(df).collect { case t: T => t }

  def countNodes[T <: SparkPlan: ClassTag](df: DataFrame): Int = collectNodes[T](df).size

  def has[T <: SparkPlan: ClassTag](df: DataFrame): Boolean = countNodes[T](df) > 0

  /** Render for assertion messages only — never matched against. */
  def render(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Flattened expression trees of one node (all exprs + descendants). */
  def nodeExpressions(p: SparkPlan): Seq[Expression] =
    p.expressions.flatMap(_.collect { case e: Expression => e })

  /** Flattened expression trees across the whole plan. */
  def allExpressions(df: DataFrame): Seq[Expression] =
    nodes(df).flatMap(nodeExpressions)

  /** Hash-partitioning shuffles (the "Exchange hashpartitioning" lines
    * of old string asserts): exchanges whose output partitioning is
    * HashPartitioning, reused exchanges excluded by construction. */
  def hashExchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collectNodes[ShuffleExchangeExec](df).filter(
      _.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])

  /** Does any hash-partitioning shuffle key on an attribute with this
    * name? (e.g. the per-bucket window's `bucket` repartition) */
  def hashExchangeKeyed(df: DataFrame, attr: String): Boolean =
    hashExchanges(df).exists(
      _.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions
        .exists(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
        }.contains(attr)))

  /** Window execs partitioned on an attribute with this name. */
  def windowPartitionedBy(df: DataFrame, attr: String): Boolean =
    collectNodes[org.apache.spark.sql.execution.window.WindowExec](df).exists(
      _.partitionSpec.exists(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
      }.contains(attr)))

  /** Is a whole-stage-codegen stage evaluating an expression matching
    * the predicate? (the old "*(n) Project [graft_...]" line check) */
  def codegenCovers(df: DataFrame, pred: Expression => Boolean): Boolean =
    nodes(df).exists {
      case w: WholeStageCodegenExec =>
        // nodes INSIDE the codegen stage (stop at InputAdapter boundaries)
        def inside(p: SparkPlan): Seq[SparkPlan] = p match {
          case _: InputAdapter => Seq.empty
          case other => other +: other.children.flatMap(inside)
        }
        inside(w.child).flatMap(nodeExpressions).exists(pred)
      case _ => false
    }

  /** Is an aggregate function of this class evaluated in PARTIAL mode
    * somewhere in the plan (i.e. map-side combined before the shuffle)?
    * The structural form of the old "partial_min_by" string checks. */
  def hasPartialAgg(df: DataFrame, fnClass: Class[_]): Boolean =
    nodes(df).exists {
      case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        h.aggregateExpressions.exists(ae =>
          ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial &&
            fnClass.isInstance(ae.aggregateFunction))
      case _ => false
    }

  /** The post-execution AQE root, if adaptive. */
  def adaptiveRoot(df: DataFrame): Option[AdaptiveSparkPlanExec] =
    df.queryExecution.executedPlan.collectFirst { case a: AdaptiveSparkPlanExec => a }

  /** File scans (for pushdown / pruning / read-schema checks). */
  def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    collectNodes[FileSourceScanExec](df)

  /** Leaves of the OPTIMIZED LOGICAL plan (AQE wraps the physical tree
    * until execution), as (is a graft-snapshot V2 scan, leaf). */
  def logicalLeaves(df: DataFrame)
      : Seq[(Boolean, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        (r.relation.table.name().startsWith("graft_snapshot_"), r)
      case other => (false, other)
    }

  /** The shape every snapshot batch read must plan: exactly `scans`
    * graft-snapshot V2 scan leaves, no other leaf, and no join. Returns
    * a failure description, empty when the shape holds. */
  def snapshotScanShape(df: DataFrame, scans: Int = 1): Option[String] = {
    val leaves = logicalLeaves(df)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    if (leaves.count(_._1) == scans && leaves.forall(_._1) && joins.isEmpty) None
    else Some(s"want $scans graft-snapshot V2 scan(s), no other leaf, no join:\n" +
      df.queryExecution.optimizedPlan)
  }
}
