package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sql.GraftSql

/** The [[GraftScanPruning]] optimizer rule: a Filter pushed onto any
  * lake table's relation — registered or not, live or historical —
  * gets MANIFEST-level file skipping against the files that relation
  * holds, with the same results as the unpruned filter; unknown
  * predicate shapes keep everything. */
class GraftScanPruningSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Long], p: String): DataFrame =
    ids.map(i => (i, s"v$i", p)).toDF("id", "payload", "p").coalesce(1)

  /** The rows [[table]] writes. */
  private def written: DataFrame =
    rows(0L until 100L, "a").union(rows(100L until 200L, "b"))
      .union(rows(200L until 300L, "c"))

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
      val expected = written.filter(pred).collect().toSet
      assert(viaRule === expected, s"rule disagrees with the rows on $pred")
      assert(viaScan === expected, s"scan() disagrees with the rows on $pred")
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
    assert(plannedFiles(hist) === plannedFiles(t.readVersion(v1)))
    assert(hist.count() === 1L, "historical row must survive")
    assert(t.read().filter(col("id") === 50L).count() === 0L)
    // the pre-delete version holds the a, b and c files; the probe
    // plans only a's, which is no longer live
    val pre = t.readVersion(3L)
    assert(plannedFiles(pre).size === 3)
    val preHist = pre.filter(col("id") === 50L)
    assert(plannedFiles(preHist).size === 1,
      preHist.queryExecution.optimizedPlan.treeString)
    assert(plannedFiles(preHist).intersect(plannedFiles(t.read())).isEmpty)
    assert(preHist.as[(Long, String, String)].collect().toSeq ===
      Seq((50L, "v50", "a")))
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

  test("unregistered tables: manifest and partition pruning both on") {
    val t = table("noreg") // never registered
    // data-column predicates prune against the read's own file index
    val q = t.read().filter(col("id") === 150L)
    assert(plannedFiles(q).size === 1, "stats+bloom admit ONE file")
    assert(q.count() === 1L)
    // …and so do partition predicates
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
    val t = table("canary")
    val all = t.read().collect()
    // a conjunct mixing a partition and a data column drops no file by
    // partition (payload has no stats, so nothing else prunes either)
    val qm = t.read().filter(col("p") === "b" || col("payload") === "v5")
    assert(plannedFiles(qm).size === 3,
      qm.queryExecution.optimizedPlan.treeString)
    assert(qm.collect().toSet === all.filter(r =>
      r.getAs[String]("p") == "b" || r.getAs[String]("payload") == "v5").toSet)
    // with a stats'd data column the manifest step prunes the mixed
    // conjunct: b by partition, a by id's range; c is skipped
    val qs = t.read().filter(col("p") === "b" || col("id") === 5L)
    assert(plannedFiles(qs).size === 2,
      qs.queryExecution.optimizedPlan.treeString)
    assert(qs.collect().toSet === all.filter(r =>
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

  test("a long IN-list (optimized to InSet) prunes like a short one") {
    import org.apache.spark.sql.catalyst.expressions.InSet
    val t = table("inset")
    // 11 values: past the optimizer's IN → InSet conversion threshold
    val q = t.read().filter(col("id").isin((100L to 110L): _*))
    assert(q.queryExecution.optimizedPlan.flatMap(_.expressions)
      .exists(_.exists(_.isInstanceOf[InSet])),
      q.queryExecution.optimizedPlan.treeString)
    assert(plannedFiles(q).size === 1,
      q.queryExecution.optimizedPlan.treeString)
    assert(q.count() === 11L)
  }

  test("a DATE partition literal prunes inside an OR with a data column") {
    import java.sql.Date
    def orders(ids: Seq[Long], d: String): DataFrame =
      ids.map(i => (i, Date.valueOf(d))).toDF("id", "d").coalesce(1)
    val t = MergeTable(spark, tmpDir("prune_date_or").toString, Some("d"),
      Seq("id"), deletionVectors = false, bloomCols = Nil)
    t.overwrite(orders(0L until 10L, "2024-01-01"))
    t.append(orders(10L until 20L, "2024-01-02"))
    t.append(orders(20L until 30L, "2024-01-03"))
    // the optimizer folds the string into a DATE literal; the OR keeps
    // the partition step out, so the manifest compiler must render it
    val q = t.read().filter(col("d") === "2024-01-02" || col("id") === 5L)
    assert(plannedFiles(q).size === 2,
      q.queryExecution.optimizedPlan.treeString)
    assert(q.select("id").as[Long].collect().toSet ===
      ((10L until 20L) :+ 5L).toSet)
    // a STRING partition value that is a date only under the cast the
    // comparison adds ("2024-1-2") is never skipped by its rendering
    val s = MergeTable(spark, tmpDir("prune_date_str").toString, Some("s"),
      Seq("id"), deletionVectors = false, bloomCols = Nil)
    s.overwrite(Seq((1L, "2024-1-2"), (2L, "2024-1-3")).toDF("id", "s"))
    assert(s.read().schema("s").dataType ===
      org.apache.spark.sql.types.StringType)
    val qs = s.read().filter(col("s") === lit(Date.valueOf("2024-01-02")))
    assert(plannedFiles(qs).size === 1,
      qs.queryExecution.optimizedPlan.treeString)
    assert(qs.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("partition predicates are evaluated on typed partition rows: a " +
      "cast of a DOUBLE partition, and both key probes, keep its rows") {
    val t = MergeTable(spark, tmpDir("prune_double").toString, Some("s"),
      Seq("id"), deletionVectors = false, bloomCols = Nil)
    t.overwrite(Seq((1L, 5.0), (2L, 7.0)).toDF("id", "s"))
    assert(t.read().schema("s").dataType ===
      org.apache.spark.sql.types.DoubleType)
    val q = t.read().filter(col("s").cast("int") === 5)
    assert(q.select("id").as[Long].collect().toSeq === Seq(1L),
      q.queryExecution.optimizedPlan.treeString)
    assert(plannedFiles(q).size === 1,
      q.queryExecution.optimizedPlan.treeString)
    // both probe overloads admit a SUPERSET of the key's rows
    val lit = t.probeKeys("s", Seq(5))
    assert(lit.select("id").as[Long].collect().toSeq === Seq(1L))
    val rel = t.probeKeys("s", Seq(5).toDF("k"))
    assert(rel.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("a DATE range on the partition prunes inside an OR with a data " +
      "column") {
    import java.sql.Date
    def orders(ids: Seq[Long], d: String): DataFrame =
      ids.map(i => (i, Date.valueOf(d))).toDF("id", "d").coalesce(1)
    val t = MergeTable(spark, tmpDir("prune_date_range").toString,
      Some("d"), Seq("id"), deletionVectors = false, bloomCols = Nil)
    t.overwrite(orders(0L until 10L, "2024-01-01"))
    (2 to 4).foreach(d =>
      t.append(orders((d * 10L) until (d * 10L + 10L), s"2024-01-0$d")))
    assert(plannedFiles(t.read()).size === 4)
    val q = t.read().filter(
      col("d") > lit(Date.valueOf("2024-01-02")) || col("id") === 99L)
    assert(plannedFiles(q).size === 2,
      q.queryExecution.optimizedPlan.treeString)
    assert(q.select("id").as[Long].collect().toSet ===
      (30L until 50L).toSet)
  }
}
