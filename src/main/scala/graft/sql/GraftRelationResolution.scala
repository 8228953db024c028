package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{AsOfTimestamp, AsOfVersion,
  RelationTimeTravel, TimeTravelSpec, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation,
  Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.lake.MergeTable

/** Name reads of registered graft tables: `SELECT ... FROM t` and
  * `SELECT ... FROM db.t` resolve like `FROM graft_table('t')` /
  * `FROM graft_table('db.t')` — the shape an analyst coming from
  * Athena types (reference `README.md:98`), with zero TVF syntax. An
  * analyzer HINT-batch rule, injected via
  * [[graft.functions.GraftExtensions]]:
  *
  *   - it runs BEFORE the Resolution batch, because a two-part name
  *     whose first part is a data source short name (`graft` is
  *     [[graft.streaming.GraftSinkProvider]]'s) is taken there as
  *     SQL-on-file and fails before any resolution rule could see it;
  *   - names resolve through [[GraftSql.resolve]], the resolver DML
  *     uses too, so the session catalog still wins: a relation is
  *     substituted only when no temp view and no catalog table or view
  *     has its name (precedence parity with how Delta defers to the
  *     metastore);
  *   - the substituted plan IS the table's `read()` plan — the one the
  *     Scala API and `graft_table` build, so predicate pushdown,
  *     partition pruning, and the [[graft.lake.GraftScanPruning]]
  *     manifest file-skipping rule all apply untouched;
  *   - the plan is wrapped in a `SubqueryAlias` carrying the name so
  *     qualified references (`t.col`, `db.t.col`) resolve;
  *   - streaming relations and names of three or more parts are left
  *     alone.
  */
class GraftRelationResolution(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The name parts and handle of a relation this rule substitutes. */
  private object Registered {
    def unapply(plan: LogicalPlan): Option[(Seq[String], MergeTable)] =
      plan match {
        case u: UnresolvedRelation if !u.isStreaming =>
          GraftSql.resolve(spark, u.multipartIdentifier)
            .map(u.multipartIdentifier -> _)
        case _ => None
      }
  }

  /** `e` analyzed on its own. The hint batch runs before function and
    * time-zone resolution, so a `TIMESTAMP AS OF` expression such as
    * `CAST('…' AS TIMESTAMP)` or `to_timestamp('…')` is still unresolved
    * here; [[TimeTravelSpec.create]] then evaluates it exactly as
    * Spark's own time travel does (session time zone, constant,
    * deterministic — anything else is an analysis error). */
  private def analyzed(e: Expression): Expression =
    spark.sessionState.executePlan(
        Project(Seq(Alias(e, "as_of")()), OneRowRelation()))
      .analyzed match {
      case Project(Seq(Alias(r, _)), _) => r
      case p => throw new IllegalStateException(
        s"graft time travel: unexpected analyzed shape $p")
    }

  // TOP-DOWN: RelationTimeTravel must match BEFORE its child
  // UnresolvedRelation is rewritten to the live read (bottom-up would
  // strip the version clause's anchor first)
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      // SQL time travel (Delta's `VERSION AS OF` / `TIMESTAMP AS OF`
      // clause syntax, which Spark's parser wraps in
      // RelationTimeTravel): route to readVersion / readAsOf — the
      // same snapshot reads the Scala API and the 2-arg TVF build.
      case RelationTimeTravel(Registered(parts, t0), ts, ver) =>
        val t = t0.withSession(spark)
        val df = TimeTravelSpec.create(ts.map(analyzed), ver,
            spark.sessionState.conf.sessionLocalTimeZone) match {
          case Some(AsOfVersion(v)) => t.readVersion(v.toLong)
          case Some(AsOfTimestamp(micros)) =>
            t.readAsOf(java.time.Instant.EPOCH.plusNanos(micros * 1000L))
          case spec => throw new IllegalArgumentException(
            s"graft time travel: unsupported clause $spec on " +
              parts.mkString("."))
        }
        SubqueryAlias(parts, df.queryExecution.logical)
      case Registered(parts, t) =>
        SubqueryAlias(parts, t.read().queryExecution.logical)
    }
}
