package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, FileSourceMetadataAttribute}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Manifest-level file skipping as an OPTIMIZER RULE (the Delta
  * `PrepareDeltaScan` shape, registered via
  * `spark.sql.extensions=graft.functions.GraftExtensions`): a `Filter`
  * the optimizer has pushed down to a lake table's parquet relation
  * (directly, or across the projection that re-attaches manifest
  * partition values) is compiled against the table's manifest —
  * per-file min/max stats, bloom sidecars, manifest partition values
  * ([[MergeTable.scanEntriesByCondition]], the same planner behind
  * `scan(predicate)`) — and the relation is swapped for one over only
  * the files that may match. Parquet footer pruning still applies
  * WITHIN the surviving files; this rule removes the files Spark would
  * otherwise open at all — at 100 TB the difference between touching
  * every file of a table and the handful a point/range predicate
  * admits.
  *
  * Consumers get it for free: the `graft_table` TVF expansion,
  * `spark.sql` over it, or a Scala-API `t.read().filter(...)` — any
  * relation whose file set IS a registered table's live snapshot —
  * without calling `scan()` explicitly.
  *
  * A predicate on a PARTITION column takes a second pattern. Every
  * partitioned read ([[MergeTable]]'s one file reader) keys its scan
  * with [[MergeTable.FileKeyCol]], taken from `_metadata.file_path`,
  * and re-attaches partition values by joining a broadcast (file key →
  * partition value) map on it. The optimizer folds the predicate into
  * that map's LocalRelation and tightens the attach join to Inner; the
  * rule then prunes the scan to the map's surviving file keys — a
  * REGISTRY-FREE rewrite (the map is that read's own file-set source
  * of truth, so it is sound for version reads too).
  *
  * Safety gates, in match order:
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
class GraftScanPruning(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftScanPruning.{Examined, ExaminedMap}
  import MergeTable.FileKeyCol

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, child) =>
      rewrite(cond, child).map(Filter(cond, _)).getOrElse(f)
    // Partition-predicate file skipping: a predicate on a partition
    // column folds into the broadcast (file → partition value) map's
    // LocalRelation, and the outer join tightens to Inner — from then on, any scanned file whose key is
    // ABSENT from the map only produces rows the join drops. Prune the
    // scan to the map's surviving file keys. Registry-free and sound
    // for ANY of our reads (version reads carry their own map): the
    // map itself is the relation's file-set source of truth.
    // The map side is matched in BOTH folded and pre-folded states: at
    // operator-batch time the partition predicate is usually still a
    // Filter over the map's LocalRelation (ConvertToLocalRelation folds
    // it in a LATER batch this rule is not part of), so the rule
    // evaluates the predicate over the map rows itself.
    case j @ Join(left, MapSide(fileMap, admitted), Inner, cond, _)
        if isFileAttach(left) && isFileKeyEquiJoin(cond, fileMap) =>
      pruneByFileMap(left, fileMap, admitted).map(nl => j.copy(left = nl))
        .getOrElse(j)
  }

  /** Soundness of pattern B rests on "a scanned file whose key is
    * absent from the map only produces rows the join DROPS" — which is
    * only true when the join condition is an equality on the
    * [[MergeTable.FileKeyCol]] key itself. The reader builds exactly
    * that (a USING-join on the key), but a future plan variant reusing
    * the same structural shape under a different condition must not be
    * mis-pruned: require at least one EqualTo/EqualNullSafe conjunct
    * whose one side is the map's key attribute and whose other side is
    * a key attribute NOT from the map (the scan's). (r10 ADVICE
    * finding.) */
  private[lake] def isFileKeyEquiJoin(cond: Option[Expression],
      fileMap: LocalRelation): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo}
    val mapKeys = fileMap.output
      .filter(_.name == FileKeyCol).map(_.exprId).toSet
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    def keyEq(a: Expression, b: Expression): Boolean = (a, b) match {
      case (x: AttributeReference, y: AttributeReference) =>
        x.name == FileKeyCol && y.name == FileKeyCol &&
          (mapKeys.contains(x.exprId) ^ mapKeys.contains(y.exprId))
      case _ => false
    }
    cond.exists(split(_).exists {
      case EqualTo(a, b)       => keyEq(a, b)
      case EqualNullSafe(a, b) => keyEq(a, b)
      case _                   => false
    })
  }

  /** Extracts the (file → pv) map LocalRelation and its ADMITTED file
    * keys from the join's right side — the bare map (all keys), or the
    * map under a deterministic Filter (the partition predicate before
    * ConvertToLocalRelation folds it), whose condition is evaluated
    * driver-side over the map rows. */
  private object MapSide {
    def unapply(plan: LogicalPlan): Option[(LocalRelation, Set[String])] =
      plan match {
        case fm: LocalRelation if fm.output.exists(_.name == FileKeyCol) =>
          Some((fm, keysOf(fm, fm.data)))
        case Filter(fcond, fm: LocalRelation)
            if fm.output.exists(_.name == FileKeyCol) &&
              fcond.deterministic =>
          try {
            val pred = org.apache.spark.sql.catalyst.expressions.Predicate
              .createInterpreted(org.apache.spark.sql.catalyst.expressions
                .BindReferences.bindReference(fcond, fm.output))
            Some((fm, keysOf(fm, fm.data.filter(pred.eval))))
          } catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }

    private def keysOf(fm: LocalRelation,
        rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): Set[String] = {
      val keyIdx = fm.output.indexWhere(_.name == FileKeyCol)
      rows.flatMap { row =>
        Option(row.getUTF8String(keyIdx)).map(_.toString)
      }.toSet
    }
  }

  /** Structural signature of [[MergeTable]]'s partition-value attach:
    * a Project aliasing [[MergeTable.FileKeyCol]] from the `_metadata`
    * column of a parquet relation reached through Projects and
    * (pushed-down) Filters only. A user join that merely reuses the
    * column name can't match this shape. */
  private def isFileAttach(plan: LogicalPlan): Boolean = plan match {
    case Project(projList, inner) =>
      scanUnder(inner).exists { rel =>
        projList.exists {
          case a: Alias if a.name == FileKeyCol =>
            a.child.references.exists(r =>
              FileSourceMetadataAttribute.isValid(r.metadata) &&
                rel.outputSet.contains(r))
          case _ => false
        }
      } || isFileAttach(inner)
    case Filter(_, inner) => isFileAttach(inner)
    case _ => false
  }

  /** The relation under a chain of Projects and Filters. */
  private def scanUnder(plan: LogicalPlan): Option[LogicalRelation] =
    plan match {
      case rel: LogicalRelation => Some(rel)
      case Project(_, inner)    => scanUnder(inner)
      case Filter(_, inner)     => scanUnder(inner)
      case _                    => None
    }

  /** Prune the attach-side scan to the file keys surviving in the
    * map. */
  private def pruneByFileMap(left: LogicalPlan,
      fileMap: LocalRelation, admitted: Set[String]): Option[LogicalPlan] = {
    // Key depth mirrors MergeTable.fileKeyDepth (2 + one component per
    // extra partition level); the map's own keys carry it — all keys of
    // one table have the same component count.
    val keyDepth = admitted.headOption.map(_.count(_ == '/') + 1)
      .getOrElse(2).max(2)
    def fileKeyOf(path: String): String =
      path.split('/').takeRight(keyDepth).mkString("/")
    def swap(plan: LogicalPlan): Option[LogicalPlan] = plan match {
      // No tag on the bail paths: the map may not have FOLDED yet when
      // the pattern first matches (the partition filter collapses into
      // the LocalRelation in a separate batch), and a no-change
      // examination is a cheap set comparison — tagging only the
      // swapped relation keeps the fixed point terminating while
      // leaving later, tighter maps able to prune.
      case rel: LogicalRelation if rel.getTagValue(ExaminedMap).isEmpty =>
        val fsRel = rel.relation match {
          case h: HadoopFsRelation => h
          case _                   => return None
        }
        val m = fsRel.location match {
          case m: ManifestFileIndex => m
          case _                    => return None
        }
        // rebuild the index over the admitted (path, length) pairs —
        // zero listing I/O
        val kept = m.files.filter { case (p, _) =>
          admitted(fileKeyOf(p.toUri.getPath))
        }
        if (kept.size == m.files.size) None
        else if (kept.isEmpty) Some(LocalRelation(rel.output))
        else {
          val idx = new ManifestFileIndex(m.rootPaths.head, kept)
          val out = rel.copy(relation = fsRel.copy(location = idx)(spark))
          out.setTagValue(ExaminedMap, true)
          Some(out)
        }
      case p @ Project(_, inner) =>
        swap(inner).map(nc => p.copy(child = nc))
      case f @ Filter(_, inner) =>
        swap(inner).map(nc => f.copy(child = nc))
      case _ => None
    }
    swap(left)
  }

  /** Walk the Project chain under a Filter down to the relation; if it
    * is a registered table's live read, substitute the pruned relation
    * in place (everything above keeps its expressions and ExprIds). */
  private def rewrite(cond: Expression, plan: LogicalPlan)
      : Option[LogicalPlan] = plan match {
    case rel: LogicalRelation if rel.getTagValue(Examined).isEmpty =>
      rel.setTagValue(Examined, true)
      prunedRelation(cond, rel)
    case p @ Project(_, inner) =>
      rewrite(cond, inner).map(nc => p.copy(child = nc))
    case _ => None
  }

  /** The pruned replacement for `rel`, or None to leave it alone. */
  private def prunedRelation(cond: Expression,
      rel: LogicalRelation): Option[LogicalPlan] = {
    // no registered tables → nothing to own any relation; skip before
    // materializing the (possibly very wide) root-path set
    val registry = graft.sql.GraftSql.registered
    if (registry.isEmpty) return None
    // alias-shadowing guard: prune only on the relation's own attrs
    if (!cond.references.forall(rel.outputSet.contains)) return None
    val (fsRel, m) = rel.relation match {
      case h @ HadoopFsRelation(m: ManifestFileIndex, _, _, _, _, _) =>
        (h, m)
      case _ => return None
    }
    val relFiles = m.files.map(_._1.toUri.getPath).toSet
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
      val pruned = t.scanEntriesByCondition(live, cond)
      if (pruned.size == live.size) None
      else if (pruned.isEmpty) Some(LocalRelation(rel.output))
      else {
        // Structure-preserving substitution (the Delta PrepareDeltaScan
        // move): keep the ORIGINAL relation — schemas, options, format,
        // output ExprIds — and swap only its file index for a manifest
        // index over the admitted files (pruning stays listing-free).
        val prunedSet = pruned.map(e => t.root.resolve(e.relPath)
          .toAbsolutePath.normalize.toString).toSet
        val idx = new ManifestFileIndex(m.rootPaths.head,
          m.files.filter { case (p, _) => prunedSet(p.toUri.getPath) })
        val out = rel.copy(relation = fsRel.copy(location = idx)(spark))
        out.setTagValue(Examined, true)
        Some(out)
      }
    }
  }
}

object GraftScanPruning {
  /** Examined-marker: the fixed-point optimizer re-runs its batches;
    * the manifest probe happens at most once per relation per query. */
  private[lake] val Examined = TreeNodeTag[Boolean]("graft.scan.examined")

  /** Separate marker for the file-map (pattern-B) probe so manifest
    * pruning and map pruning examine a relation independently. */
  private[lake] val ExaminedMap =
    TreeNodeTag[Boolean]("graft.scan.examined.map")
}
