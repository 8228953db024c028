package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** File skipping for every lake read, as an OPTIMIZER RULE (the Delta
  * `PrepareDeltaScan` shape, registered via
  * `spark.sql.extensions=graft.functions.GraftExtensions`, which every
  * session reading lake tables must set): a `Filter` the optimizer has
  * pushed down to a lake table's parquet relation (directly, or across
  * projections) is compiled against the manifest metadata of the files
  * that relation holds — per-file min/max stats, bloom sidecars,
  * partition values ([[MergeTable.scanEntriesByCondition]], carried by
  * the relation's [[ManifestFileIndex]]) — and the relation is swapped
  * for one over only the files that may match. Parquet footer pruning
  * still applies WITHIN the surviving files; this rule removes the
  * files Spark would otherwise open at all — at 100 TB the difference
  * between touching every file of a table and the handful a
  * point/range predicate admits.
  *
  * It is the only file-skipping path for column predicates: `scan`,
  * `readRange`, `readPoint`, `readNotNull`, a Scala-API
  * `read().filter(...)`, the `graft_table` TVF and `spark.sql` over it
  * all reach it as a Filter over a read. No registration is involved,
  * and a version read is pruned against its own (historical) files,
  * never the live ones.
  *
  * A second step prunes by partition values, the shape of Spark's
  * `PruneFileSourcePartitions`: every partitioned read's
  * [[ManifestFileIndex]] carries each file's typed partition row, so
  * the deterministic conjuncts of the Filter that reference only the
  * relation's partition attributes (by ExprId) are evaluated against
  * those rows and the index is narrowed to the files they admit. Typed
  * evaluation prunes shapes the manifest compiler's string comparison
  * cannot (a DATE range, any cast), and it keeps the optimized plan's
  * file set (`inputFiles`) exact.
  *
  * Safety gates of the manifest step, in match order:
  *   - the relation must be manifest-backed ([[ManifestFileIndex]] —
  *     every relation [[MergeTable]] builds is one; any other relation
  *     is left alone);
  *   - every attribute the condition references must be an output of
  *     the relation ITSELF (by ExprId, not name — an alias shadowing a
  *     stats column's name can never mis-prune);
  *   - the predicate compiles under a keep-everything-on-unknown-shapes
  *     discipline, and the full `Filter` stays on top as the row-level
  *     residual either way;
  *   - a relation once examined is tagged and never re-examined, so
  *     the fixed-point optimizer does the manifest probe at most once
  *     per relation per query.
  */
class GraftScanPruning(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import GraftScanPruning.Examined

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, child) =>
      val byManifest = substitute(child) { rel =>
        if (rel.getTagValue(Examined).isDefined) None
        else {
          rel.setTagValue(Examined, true)
          prunedRelation(cond, rel)
        }
      }
      val byPartition =
        substitute(byManifest.getOrElse(child))(prunedPartitions(cond, _))
      byPartition.orElse(byManifest).map(Filter(cond, _)).getOrElse(f)
  }

  /** Walk the Project chain under a Filter down to the relation and
    * substitute `swap`'s replacement for it in place (everything above
    * keeps its expressions and ExprIds). */
  private def substitute(plan: LogicalPlan)(
      swap: LogicalRelation => Option[LogicalPlan]): Option[LogicalPlan] =
    plan match {
      case rel: LogicalRelation => swap(rel)
      case p @ Project(_, inner) =>
        substitute(inner)(swap).map(nc => p.copy(child = nc))
      case _ => None
    }

  /** `rel` over a copy of its index narrowed by `narrow`: None when no
    * file is dropped, an empty relation when every file is. */
  private def narrowed(rel: LogicalRelation)(
      narrow: ManifestFileIndex => ManifestFileIndex): Option[LogicalPlan] =
    rel.relation match {
      case h @ HadoopFsRelation(m: ManifestFileIndex, _, _, _, _, _) =>
        val idx = narrow(m)
        if (idx.files.size == m.files.size) None
        else if (idx.files.isEmpty) Some(LocalRelation(rel.output))
        else {
          // Structure-preserving substitution (the Delta PrepareDeltaScan
          // move): keep the ORIGINAL relation — schemas, options, format,
          // output ExprIds — and swap only its file index.
          val out = rel.copy(relation = h.copy(location = idx)(spark))
          out.copyTagsFrom(rel)
          Some(out)
        }
      case _ => None
    }

  /** Partition pruning: narrow `rel` to the files whose partition row
    * satisfies the conjuncts of `cond` over its partition attributes
    * only. A conjunct that also reads a data column, is nondeterministic
    * or holds a subquery prunes nothing. */
  private def prunedPartitions(cond: Expression,
      rel: LogicalRelation): Option[LogicalPlan] = rel.relation match {
    case h: HadoopFsRelation if h.partitionSchema.nonEmpty =>
      val partAttrs = AttributeSet(rel.output.filter(a =>
        h.partitionSchema.fieldNames.contains(a.name)))
      val filters = splitConjunctivePredicates(cond).filter { c =>
        c.deterministic && c.references.nonEmpty &&
          c.references.subsetOf(partAttrs) &&
          !SubqueryExpression.hasSubquery(c)
      }
      if (filters.isEmpty) None
      else narrowed(rel) { m =>
        val admits = m.partitionPredicate(filters)
        m.filterFiles(f => admits(f.partition))
      }
    case _ => None
  }

  /** Manifest pruning: narrow `rel` to the files whose manifest
    * metadata may satisfy `cond`. */
  private def prunedRelation(cond: Expression,
      rel: LogicalRelation): Option[LogicalPlan] =
    // alias-shadowing guard: prune only on the relation's own attrs
    if (!cond.references.subsetOf(rel.outputSet)) None
    else narrowed(rel)(_.prunedBy(cond))
}

object GraftScanPruning {
  /** Examined-marker: the fixed-point optimizer re-runs its batches;
    * the manifest probe happens at most once per relation per query. */
  private[lake] val Examined = TreeNodeTag[Boolean]("graft.scan.examined")
}
