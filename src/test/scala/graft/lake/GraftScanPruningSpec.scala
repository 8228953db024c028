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
    // A PARTITION predicate on the multi-commit-dir layout is evaluated
    // against the manifest partition rows of the read's file index; the
    // rule narrows the index to the files it admits — and this path
    // needs NO registration (the index is that read's own file-set
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
    // …but partition pruning is registry-free: the read's own file
    // index admits the files, no manifest lookup involved
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

  test("partition pruning drops files only on deterministic, " +
      "partition-only conjuncts, and prunes version reads against " +
      "their own files") {
    val t = table("canary") // never registered: partition pruning only
    val all = t.read().collect()
    // a conjunct mixing a partition and a data column drops no file
    val qm = t.read().filter(col("p") === "b" || col("id") === 5L)
    assert(plannedFiles(qm).size === 3,
      qm.queryExecution.optimizedPlan.treeString)
    assert(qm.collect().toSet === all.filter(r =>
      r.getAs[String]("p") == "b" || r.getAs[Long]("id") == 5L).toSet)
    // a nondeterministic partition predicate prunes nothing
    val sameP = udf((s: String) => s).asNondeterministic()
    val qn = t.read().filter(sameP(col("p")) === "b")
    assert(plannedFiles(qn).size === 3,
      qn.queryExecution.optimizedPlan.treeString)
    assert(qn.collect().toSet ===
      all.filter(_.getAs[String]("p") == "b").toSet)
    // a version read prunes against THAT version's files: v2 holds the
    // a and b files; the live table has moved on (c added, b deleted)
    t.delete(col("p") === "b")
    val v2 = t.readVersion(2L)
    assert(plannedFiles(v2).size === 2)
    val qv = v2.filter(col("p") === "b")
    assert(plannedFiles(qv).size === 1,
      qv.queryExecution.optimizedPlan.treeString)
    assert(qv.collect().toSet ===
      v2.collect().filter(_.getAs[String]("p") == "b").toSet)
    assert(qv.count() === 100L)
  }

  test("a partitioned read scans partition values as per-file constants: " +
      "no join, no file-key column, partition filters in the scan") {
    import java.sql.Date
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    def day(i: Int) = Date.valueOf(f"2024-01-$i%02d")
    def orders(ids: Seq[Long], d: Int): DataFrame =
      ids.map(i => (i, i * 1.5, day(d))).toDF("id", "amount", "d").coalesce(1)
    val t = MergeTable(spark, tmpDir("prune_shape").toString, Some("d"),
      Seq("id"), deletionVectors = false, bloomCols = Nil)
    t.overwrite(orders(0L until 10L, 1))
    (2 to 5).foreach(d => t.append(orders((d * 10L) until (d * 10L + 10L), d)))
    assert(t.liveEntries().map(_.relPath.split('/').head).distinct.size === 5)
    val read = t.read()
    assert(read.schema("d").dataType === org.apache.spark.sql.types.DateType)
    val plan = read.queryExecution.executedPlan
    assert(helper.collect(plan) { case j: BaseJoinExec => j }.isEmpty,
      plan.treeString)
    assert(!plan.treeString.contains(MergeTable.FileKeyCol), plan.treeString)
    assert(read.count() === 50L)

    GraftSql.register("prune_shape", t)
    val q = spark.sql("SELECT id, d FROM graft_table('prune_shape') " +
      "WHERE d BETWEEN DATE'2024-01-02' AND DATE'2024-01-03'")
    assert(plannedFiles(q).size === 2, q.queryExecution.optimizedPlan.treeString)
    assert(q.as[(Long, Date)].collect().toSet ===
      ((20L until 30L).map((_, day(2))) ++ (30L until 40L).map((_, day(3)))).toSet)
    val scans = helper.collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size === 1, q.queryExecution.executedPlan.treeString)
    val partFilters = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(partFilters.contains("d#") && partFilters.contains(">="),
      s"the date predicate must be a partition filter, got $partFilters")
  }
}
