package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression, ExpressionSet, PredicateHelper}
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
  * that relation holds — each file's typed partition row, per-file
  * min/max stats, bloom sidecars ([[MergeTable.scanEntriesByCondition]],
  * carried by the relation's [[ManifestFileIndex]]) — and the relation
  * is swapped for one over only the files that may match. Parquet
  * footer pruning still applies WITHIN the surviving files; this rule
  * removes the files Spark would otherwise open at all — at 100 TB the
  * difference between touching every file of a table and the handful a
  * point/range predicate admits.
  *
  * It is the only file-skipping path for column predicates: `scan`,
  * `readRange`, `readPoint`, `readNotNull`, a Scala-API
  * `read().filter(...)`, the `graft_table` TVF and `spark.sql` over it
  * all reach it as a Filter over a read. No registration is involved,
  * and a version read is pruned against its own (historical) files,
  * never the live ones. It is one step: partition predicates are
  * evaluated on the index's typed partition rows inside the compiler
  * ([[ManifestFileIndex.partitionPredicate]]), so a DATE range or a
  * cast of a partition column prunes even inside an OR with a data
  * column, and the optimized plan's file set (`inputFiles`) is exact.
  *
  * Safety gates, in match order:
  *   - the relation must be manifest-backed ([[ManifestFileIndex]] —
  *     every relation [[MergeTable]] builds is one; any other relation
  *     is left alone);
  *   - only the conjuncts of the Filter whose every attribute is an
  *     output of the relation ITSELF (by ExprId, not name — an alias
  *     shadowing a stats column's name can never mis-prune) are
  *     compiled; a conjunct that also reads a projected column prunes
  *     nothing, the others still do;
  *   - the predicate compiles under a keep-everything-on-unknown-shapes
  *     discipline, and the full `Filter` stays on top as the row-level
  *     residual either way;
  *   - a relation is tagged with the conjuncts it was pruned by, so the
  *     fixed-point optimizer compiles each conjunct at most once per
  *     relation per query, while a conjunct pushed down later (one
  *     inferred from constraints) still prunes.
  */
class GraftScanPruning(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import GraftScanPruning.Examined

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, child) =>
      pruned(cond, child).map(Filter(cond, _)).getOrElse(f)
  }

  /** Walk the Project chain under a Filter down to the relation and
    * substitute its pruned replacement in place (everything above keeps
    * its expressions and ExprIds). */
  private def pruned(cond: Expression,
      plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case rel: LogicalRelation => prunedRelation(cond, rel)
    case p @ Project(_, inner) =>
      pruned(cond, inner).map(nc => p.copy(child = nc))
    case _ => None
  }

  /** `rel` narrowed to the files whose manifest metadata may satisfy the
    * conjuncts of `cond` over its own outputs that it was not pruned by
    * yet: None when no file is dropped, an empty relation when every
    * file is. */
  private def prunedRelation(cond: Expression,
      rel: LogicalRelation): Option[LogicalPlan] = rel.relation match {
    case h @ HadoopFsRelation(m: ManifestFileIndex, _, _, _, _, _) =>
      val seen = rel.getTagValue(Examined).getOrElse(ExpressionSet())
      val fresh = splitConjunctivePredicates(cond).filter(c =>
        c.references.subsetOf(rel.outputSet) && !seen.contains(c))
      if (fresh.isEmpty) None
      else {
        rel.setTagValue(Examined, seen ++ fresh)
        val idx = m.prunedBy(fresh.reduce(And))
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
      }
    case _ => None
  }
}

object GraftScanPruning {
  /** The conjuncts a relation was pruned by: the fixed-point optimizer
    * re-runs its batches, and the manifest probe (bloom sidecar reads
    * included) happens at most once per conjunct per relation. */
  private[lake] val Examined =
    TreeNodeTag[ExpressionSet]("graft.scan.examined")
}
