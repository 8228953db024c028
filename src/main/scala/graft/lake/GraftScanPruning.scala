package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Manifest-level file skipping as an OPTIMIZER RULE (the Delta
  * `PrepareDeltaScan` shape, registered via
  * `spark.sql.extensions=graft.functions.GraftExtensions`): a `Filter`
  * the optimizer has pushed down to a lake table's parquet relation
  * (directly, or across projections) is compiled against the table's
  * manifest — per-file min/max stats, bloom sidecars, manifest
  * partition values ([[MergeTable.scanEntriesByCondition]], the same
  * planner behind `scan(predicate)`) — and the relation is swapped for
  * one over only the files that may match. Parquet footer pruning still
  * applies WITHIN the surviving files; this rule removes the files
  * Spark would otherwise open at all — at 100 TB the difference between
  * touching every file of a table and the handful a point/range
  * predicate admits.
  *
  * Consumers get it for free: the `graft_table` TVF expansion,
  * `spark.sql` over it, or a Scala-API `t.read().filter(...)` — any
  * relation whose file set IS a registered table's live snapshot —
  * without calling `scan()` explicitly.
  *
  * A second, REGISTRY-FREE step prunes by partition values, the shape
  * of Spark's `PruneFileSourcePartitions`: every partitioned read's
  * [[ManifestFileIndex]] carries each file's typed partition row, so
  * the deterministic conjuncts of the Filter that reference only the
  * relation's partition attributes (by ExprId) are evaluated against
  * those rows and the index is narrowed to the files they admit. It is
  * sound for version reads too (the index holds that read's own files),
  * and keeps the optimized plan's file set (`inputFiles`) exact.
  *
  * Safety gates of the manifest step, in match order:
  *   - the relation must be manifest-backed ([[ManifestFileIndex]] —
  *     every relation [[MergeTable]] builds is one; any other relation
  *     is left alone);
  *   - every attribute the condition references must be an output of
  *     the relation ITSELF (by ExprId, not name — an alias shadowing a
  *     stats column's name can never mis-prune);
  *   - the relation's file set must EQUAL the table's live snapshot (a
  *     time-travel read's file set differs → untouched: pruning a
  *     historical relation against the LIVE manifest would be wrong);
  *   - the predicate compiles under the same keep-everything-on-
  *     unknown-shapes discipline as `scan()` — `scan(p) ≡
  *     read().filter(p)` is spec-pinned, and the full `Filter` stays
  *     on top as the row-level residual either way;
  *   - a relation once examined is tagged and never re-examined, so
  *     the fixed-point optimizer does the manifest probe at most once
  *     per relation per query.
  */
class GraftScanPruning(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import GraftScanPruning.Examined

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, child) =>
      // manifest step first: it needs the relation's full (live) file set
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

  /** The manifest-pruned replacement for `rel`, or None to leave it
    * alone. */
  private def prunedRelation(cond: Expression,
      rel: LogicalRelation): Option[LogicalPlan] = {
    // no registered tables → nothing to own any relation; skip before
    // materializing the (possibly very wide) root-path set
    val registry = graft.sql.GraftSql.registered
    if (registry.isEmpty) return None
    // alias-shadowing guard: prune only on the relation's own attrs
    if (!cond.references.forall(rel.outputSet.contains)) return None
    val m = rel.relation match {
      case HadoopFsRelation(m: ManifestFileIndex, _, _, _, _, _) => m
      case _ => return None
    }
    val relFiles = m.files.map(_.path.toUri.getPath).toSet
    if (relFiles.isEmpty) return None
    val owner = registry.iterator.map(_._2)
      .flatMap { t =>
        val rootPath = t.root.toAbsolutePath.normalize.toString
        if (!relFiles.forall(_.startsWith(rootPath + "/"))) None
        else {
          val live = t.liveEntries()
          val livePaths = live.map(e =>
            t.root.resolve(e.relPath).toAbsolutePath.normalize.toString)
            .toSet
          // EQUALITY, not containment: a version read's set also lives
          // under root but differs from live
          if (livePaths == relFiles) Some((t, live)) else None
        }
      }.find(_ => true)
    owner.flatMap { case (t, live) =>
      val prunedSet = t.scanEntriesByCondition(live, cond).map(e =>
        t.root.resolve(e.relPath).toAbsolutePath.normalize.toString).toSet
      narrowed(rel)(_.filterFiles(f => prunedSet(f.path.toUri.getPath)))
    }
  }
}

object GraftScanPruning {
  /** Examined-marker: the fixed-point optimizer re-runs its batches;
    * the manifest probe happens at most once per relation per query. */
  private[lake] val Examined = TreeNodeTag[Boolean]("graft.scan.examined")
}
