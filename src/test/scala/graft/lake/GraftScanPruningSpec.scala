package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sql.GraftSql

/** The [[GraftScanPruning]] optimizer rule: a Filter pushed onto a
  * registered lake table's relation gets MANIFEST-level file skipping
  * automatically — same admitted-file sets as the explicit
  * `scan(predicate)` planner, same results as the unpruned filter, and
  * the safety gates (version reads untouched, unknown predicate shapes
  * keep everything) hold. */
class GraftScanPruningSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Long], p: String): DataFrame =
    ids.map(i => (i, s"v$i", p)).toDF("id", "payload", "p").coalesce(1)

  private def table(tag: String): MergeTable = {
    val t = MergeTable(spark, tmpDir(s"prune$tag").toString, Some("p"),
      Seq("id"), deletionVectors = false, bloomCols = Seq("id"))
    t.overwrite(rows(0L until 100L, "a"))
    t.merge(rows(100L until 200L, "b"), "id")
    t.merge(rows(200L until 300L, "c"), "id")
    t
  }

  /** Files the OPTIMIZED plan's parquet relation will read. */
  private def plannedFiles(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        // inputFiles, not rootPaths: the manifest-backed FileIndex
        // (r15) roots at the TABLE while serving per-file statuses
        h.location.inputFiles.map(f =>
          new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    }.flatten.toSet

  test("a pushed Filter over a registered table reads only admitted files") {
    val t = table("sql")
    GraftSql.register("prune_sql", t)
    val all = plannedFiles(t.read())
    assert(all.size === 3)
    val q = spark.sql(
      "SELECT id, payload FROM graft_table('prune_sql') WHERE id = 150")
    assert(plannedFiles(q).size === 1,
      s"stats+bloom must admit ONE file:\n${q.queryExecution.optimizedPlan.treeString}")
    assert(q.as[(Long, String)].collect().toSeq === Seq((150L, "v150")))
    // range predicate through plain Scala-API read().filter too
    val r = t.read().filter(col("id") >= 200L)
    assert(plannedFiles(r).size === 1)
    assert(r.count() === 100L)
    // A PARTITION predicate on the multi-commit-dir layout folds into
    // the partition-value re-attach join's file map; the second rule
    // pattern prunes the scan to the map's surviving keys — and this
    // path needs NO registration (the map is that read's own file-set
    // source of truth)
    val p = t.read().filter(col("p") === "b")
    assert(plannedFiles(p).size === 1,
      s"map-side partition predicate must file-prune:\n" +
        p.queryExecution.optimizedPlan.treeString)
    assert(p.count() === 100L)
    assert(t.scanEntries(col("p") === "b").size === 1,
      "scan() file-prunes the partition predicate too")
    // …and after compaction (one commit dir) the partition predicate
    // still file-prunes through the rule
    t.compact()
    GraftSql.register("prune_sql", t) // re-register post-compact
    val pc = t.read().filter(col("p") === "b")
    assert(pc.count() === 100L)
    val filesAfter = plannedFiles(t.read())
    assert(filesAfter.size === 3, "compact keeps one file per partition")
    assert(plannedFiles(pc).size === 1,
      "hive-layout partition predicate must file-prune")
  }

  test("rule results == unpruned results == scan() on mixed predicates") {
    val t = table("par")
    GraftSql.register("prune_par", t)
    val preds = Seq(
      col("id").between(120L, 180L),
      col("id") === 42L || col("id") === 242L,
      col("p") === "a" && col("id") < 50L,
      col("payload") === "v7", // unprunable column: keep-everything
      !col("id").isNull)
    preds.foreach { pred =>
      val viaRule = t.read().filter(pred).collect().toSet
      val viaScan = t.scan(pred).collect().toSet
      assert(viaRule === viaScan, s"rule and scan() disagree on $pred")
    }
    // the unprunable-shape case must NOT have dropped files
    assert(plannedFiles(t.read().filter(col("payload") === "v7")).size === 3)
  }

  test("an all-files-pruned predicate becomes an empty relation, not a scan") {
    val t = table("empty")
    GraftSql.register("prune_empty", t)
    val q = t.read().filter(col("id") === 5000L)
    assert(plannedFiles(q).isEmpty, "no parquet relation should survive")
    assert(q.count() === 0L)
  }

  test("version reads are never pruned against the live manifest") {
    val t = table("ver")
    GraftSql.register("prune_ver", t)
    val v1 = 1L // the overwrite: ids 0..99 only
    // DELETE changes the live set; the version read's file set differs
    // from live, so the rule must leave it alone and the historical
    // answer must stay correct
    t.delete(col("id") < 100L)
    val hist = t.readVersion(v1).filter(col("id") === 50L)
    assert(hist.count() === 1L, "historical row must survive")
    assert(t.read().filter(col("id") === 50L).count() === 0L)
  }

  test("deletion-vector tables stay exact under the rule") {
    // DV reads divert to the tagged anti-join path; whatever the rule
    // does (or declines to do) there, a predicate read must still
    // exclude DV-deleted rows and include everything else.
    val t = MergeTable(spark, tmpDir("prunedv").toString, None,
      Seq("id"), deletionVectors = true, bloomCols = Seq("id"))
    t.overwrite(rows(0L until 100L, "a"))
    t.merge(rows(100L until 200L, "b"), "id")
    GraftSql.register("prune_dv", t)
    t.delete(col("id") === 150L) // merge-on-read: records a DV
    assert(t.read().filter(col("id") === 150L).count() === 0L,
      "DV-deleted row must stay deleted under the rule")
    assert(t.read().filter(col("id").between(140L, 160L)).count() === 20L)
    assert(t.read().filter(col("id") === 151L).count() === 1L)
    assert(t.read().count() === 199L)
  }

  test("unregistered tables: manifest pruning off, map pruning still on") {
    val t = table("noreg") // never registered
    // data-column predicates need the registry (the manifest probe)
    val q = t.read().filter(col("id") === 150L)
    assert(plannedFiles(q).size === 3, "no registry entry → no stats pruning")
    assert(q.count() === 1L)
    // …but the partition-map pattern is registry-free: the read's own
    // file map admits the files, no manifest lookup involved
    val p = t.read().filter(col("p") === "c")
    assert(plannedFiles(p).size === 1)
    assert(p.count() === 100L)
  }

  test("a partition + data predicate plans one file and pushes the data " +
      "predicate into the parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val t = table("push")
    GraftSql.register("prune_push", t)
    val q = t.read().filter(col("p") === "b" && col("id") === 150L)
    assert(plannedFiles(q).size === 1,
      s"must plan one file:\n${q.queryExecution.optimizedPlan.treeString}")
    assert(q.as[(Long, String, String)].collect().toSeq ===
      Seq((150L, "v150", "b")))
    val scans = new AdaptiveSparkPlanHelper {}
      .collect(q.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
    assert(scans.size === 1, q.queryExecution.executedPlan.treeString)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(id,150)"),
      s"id predicate must reach the parquet scan, got $pushed:\n" +
        q.queryExecution.executedPlan.treeString)
  }

  test("pattern-B soundness guard: pruning requires a __graft_file " +
      "equi-join condition (r10 ADVICE canary)") {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, GreaterThan}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.StringType
    val mapAttr = AttributeReference(MergeTable.FileKeyCol, StringType)()
    val scanAttr = AttributeReference(MergeTable.FileKeyCol, StringType)()
    val other = AttributeReference("other", StringType)()
    val fm = LocalRelation(Seq(mapAttr))
    val rule = new GraftScanPruning(spark)
    // the shape the reader builds: EqualTo across the two sides
    assert(rule.isFileKeyEquiJoin(Some(EqualTo(scanAttr, mapAttr)), fm))
    assert(rule.isFileKeyEquiJoin(Some(EqualNullSafe(mapAttr, scanAttr)), fm))
    // buried in a conjunction still qualifies
    assert(rule.isFileKeyEquiJoin(
      Some(And(GreaterThan(other, mapAttr), EqualTo(scanAttr, mapAttr))), fm))
    // REJECTED: no condition at all (a cross-ish Inner join)
    assert(!rule.isFileKeyEquiJoin(None, fm))
    // REJECTED: non-equality on the key — rows absent from the map
    // could still JOIN, so pruning them would drop results
    assert(!rule.isFileKeyEquiJoin(Some(GreaterThan(scanAttr, mapAttr)), fm))
    // REJECTED: equality between two MAP-side keys (XOR guard)
    assert(!rule.isFileKeyEquiJoin(Some(EqualTo(mapAttr, mapAttr)), fm))
    // REJECTED: equality on a non-key column
    assert(!rule.isFileKeyEquiJoin(Some(EqualTo(other, mapAttr)), fm))
  }
}
