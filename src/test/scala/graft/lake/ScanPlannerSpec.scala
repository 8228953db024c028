package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Predicate-driven file skipping ([[MergeTable.scan]], i.e. a Filter
  * over a read, pruned by [[GraftScanPruning]]): one Column predicate
  * must compose EVERY file-skipping surface — partition pruning,
  * min/max + nullCount stats, bloom point lookups — and always return
  * exactly the written rows that satisfy it (pruning is an
  * optimization, never a semantics change). Cases pin the admitted
  * file sets; conservatism cases assert unprunable shapes degrade to
  * keep-everything, not to wrong answers. */
class ScanPlannerSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Long], p: String): DataFrame =
    ids.map(i => (i, s"v$i", p)).toDF("id", "payload", "p").coalesce(1)

  /** The rows [[table]] writes. */
  private def written: DataFrame =
    rows(0L until 100L, "a").union(rows(100L until 200L, "b"))
      .union(rows(200L until 300L, "c"))

  /** Partitioned, stats'd, bloom'd table with three single-file commits
    * of DISJOINT id ranges: a=[0,99], b=[100,199], c=[200,299] — every
    * surface has something to prune. */
  private def table(tag: String): MergeTable = {
    val t = MergeTable(spark, tmpDir(s"scan$tag").toString, Some("p"),
      Seq("id"), deletionVectors = false, bloomCols = Seq("id"))
    t.overwrite(rows(0L until 100L, "a"))
    t.merge(rows(100L until 200L, "b"), "id")
    t.merge(rows(200L until 300L, "c"), "id")
    t
  }

  private def collected(df: DataFrame): Set[Row] = df.collect().toSet

  /** The ground truth: scan(pred) returns exactly the written rows
    * satisfying pred. */
  private def assertEquiv(t: MergeTable, pred: org.apache.spark.sql.Column,
      rows: DataFrame = written): Unit = {
    val got = t.scan(pred)
    assert(collected(got) ===
      collected(rows.filter(pred).select(got.columns.map(col): _*)),
      s"scan($pred) must equal the written rows filtered by it")
  }

  /** The partitions of the files `es` — one file per partition here. */
  private def parts(es: Seq[MergeTable.FileEntry]): Seq[String] =
    es.flatMap(_.partitionValue)

  test("range predicate prunes the same files readRange does") {
    val t = table("rng")
    assert(t.liveEntries().size === 3)
    val pred = col("id").between(120L, 180L)
    // only file b's [100,199] range meets [120,180]
    assert(parts(t.scanEntries(pred)) === Seq("b"))
    assertEquiv(t, pred)
    // one-sided bounds prune too
    assert(t.scanEntries(col("id") >= 200L).size === 1)
    assert(t.scanEntries(col("id") <= 99L).size === 1)
    // strict bounds relax to INCLUSIVE (fractional-cast safety), so a
    // boundary-touching file survives the prune by design
    assert(t.scanEntries(col("id") < 100L).size === 2)
    assertEquiv(t, col("id") >= 200L)
    assertEquiv(t, col("id") < 100L)
  }

  test("equality predicate prunes through stats AND bloom like readPoint") {
    val t = table("eq")
    val pred = col("id") === 150L
    val scanFiles = t.scanEntries(pred)
    // 150 lives in file b only: its stats and bloom both admit it
    assert(parts(scanFiles) === Seq("b"))
    assertEquiv(t, pred)
    // absent value: stats alone prune to zero files
    assert(t.scanEntries(col("id") === 1000L).isEmpty)
    assert(t.scan(col("id") === 1000L).count() === 0L)
  }

  test("partition equality prunes at the manifest") {
    val t = table("part")
    assert(t.scanEntries(col("p") === "b").size === 1)
    assertEquiv(t, col("p") === "b")
    assert(t.scanEntries(col("p").isin("a", "c")).size === 2)
    assertEquiv(t, col("p").isin("a", "c"))
  }

  test("AND intersects surfaces; OR unions them") {
    val t = table("bool")
    // partition says file b; range says file c → empty intersection
    assert(t.scanEntries(col("p") === "b" && col("id") >= 200L).isEmpty)
    assert(t.scan(col("p") === "b" && col("id") >= 200L).count() === 0L)
    // consistent conjunction keeps exactly one file
    val both = col("p") === "b" && col("id") === 150L
    assert(t.scanEntries(both).size === 1)
    assertEquiv(t, both)
    // OR unions: ids from two different files
    val or = col("id") === 50L || col("id") === 250L
    assert(t.scanEntries(or).size === 2)
    assertEquiv(t, or)
  }

  test("IN-list prunes via ONE batched bloom probe across values") {
    val t = table("in")
    val pred = col("id").isin(10L, 110L, 111L)
    assert(t.scanEntries(pred).size === 2, "ids live in files a and b only")
    assertEquiv(t, pred)
    // all-absent IN-list prunes everything
    assert(t.scanEntries(col("id").isin(5000L, 6000L)).isEmpty)
  }

  test("IS NULL / IS NOT NULL prune on nullCounts") {
    val t = MergeTable(spark, tmpDir("scan-null").toString, None,
      Seq("x"))
    t.overwrite(Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"))
      .toDF("x", "tag").coalesce(1))
    t.merge(Seq[(java.lang.Long, String)]((7L, "v7"), (8L, "v8"))
      .toDF("x", "tag").coalesce(1), "tag")
    val rows = Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"),
      (7L, "v7"), (8L, "v8")).toDF("x", "tag")
    assert(t.liveEntries().size === 2)
    assert(t.scanEntries(col("x").isNotNull).size === 1)
    assertEquiv(t, col("x").isNotNull, rows)
    assert(t.scanEntries(col("x").isNull).size === 1)
    assertEquiv(t, col("x").isNull, rows)
    // comparisons imply non-null: the all-null file prunes too
    assert(t.scanEntries(col("x") >= 0L).size === 1)
  }

  test("unprunable shapes keep every file and stay correct") {
    val t = table("cons")
    // fractional literal: truncated long stats must NOT engage
    assertEquiv(t, col("id") > 150.5)
    // expression over the column: planner can't reason — keeps all
    assert(t.scanEntries(length(col("payload")) > lit(2)).size === 3)
    assertEquiv(t, length(col("payload")) > lit(2))
    // partially convertible IN-list must not prune on the subset
    assertEquiv(t, col("id").isin(150L, 150.5))
  }

  test("scanVersion prunes historical snapshots") {
    val t = table("tt")
    val v2 = t.latestVersion() - 1 // before partition c's commit
    val planned = t.scanVersion(v2, col("id") >= 100L)
      .queryExecution.optimizedPlan.collect {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            h: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) => h.location.inputFiles.toSeq
      }.flatten
    assert(planned.size === 1)
    assert(collected(t.scanVersion(v2, col("id") >= 100L)) ===
      collected(rows(100L until 200L, "b")))
    assert(t.scanVersion(v2, col("id") >= 200L).count() === 0L,
      "partition c does not exist at v2")
  }
}
